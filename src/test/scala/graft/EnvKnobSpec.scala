package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The environment-variable inventory: every `SPARK_GRAFT_*` / `GRAFT_*`
  * name that the program sources and build.sbt read (as a string literal)
  * has a row in README.md's environment table, and every row names a
  * variable still read. A new knob without a row, or a row left behind by
  * a deleted knob, fails here.
  */
class EnvKnobSpec extends AnyFunSuite {
  private val name = "(?:SPARK_)?GRAFT_[A-Z0-9_]+"

  private def scalaSources(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("README's environment table lists exactly the SPARK_GRAFT_* / GRAFT_* variables read") {
    val read = (scalaSources(Paths.get("src/main/scala")) :+ Paths.get("build.sbt"))
      .flatMap(p => ("\"(" + name + ")\"").r.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    val documented = raw"(?m)^\| `($name)` \|".r
      .findAllMatchIn(Files.readString(Paths.get("README.md"))).map(_.group(1)).toSet
    assert(read.contains("SPARK_GRAFT_CONF") && read.contains("GRAFT_TEST_FULL"))
    assert((read -- documented).isEmpty,
      s"read but missing from README's table: ${(read -- documented).toSeq.sorted}")
    assert((documented -- read).isEmpty,
      s"in README's table but read nowhere: ${(documented -- read).toSeq.sorted}")
  }
}
