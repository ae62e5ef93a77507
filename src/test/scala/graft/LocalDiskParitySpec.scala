package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import graft.fs.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import graft.logs._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, LocalFileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Graft's `file:` filesystem ([[graft.fs.LocalDisk]]) leaves the same
  * files with the same bytes and modes as Hadoop's `LocalFileSystem` and
  * `LocalFs`: each case runs one operation through both and compares.
  */
class LocalDiskParitySpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Uncached instances of Hadoop's local FS and graft's over `c`. */
  private def both(c: Configuration): Seq[(String, FileSystem)] =
    Seq("hadoop" -> new LocalFileSystem(), "graft" -> new GraftLocalFileSystem())
      .map { case (n, fs) => fs.initialize(root, c); n -> fs }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  test("created files, checksums and dirs get Hadoop's modes under the same umask") {
    val work = Files.createTempDirectory("graft-modes")
    for ((umask, dirMode, fileMode) <- Seq(("022", "rwxr-xr-x", "rw-r--r--"),
        ("027", "rwxr-x---", "rw-r-----"))) {
      val modes = both(conf(umask)).map { case (name, fs) =>
        val dir = work.resolve(s"$name-$umask")
        val f = new Path(dir.toString, "a/b/part-0.parquet")
        write(fs, f, Array.fill(100)(7.toByte))
        val explicit = new Path(dir.toString, "explicit")
        fs.mkdirs(explicit, perm("700"))
        val set = new Path(dir.toString, "set")
        write(fs, set, Array[Byte](1))
        fs.setPermission(set, perm("640"))
        val sticky = new Path(dir.toString, "sticky")
        fs.mkdirs(sticky)
        fs.setPermission(sticky, perm("1755"))
        name -> Seq(mode(dir.resolve("a/b")), mode(dir.resolve("a/b/part-0.parquet")),
          mode(dir.resolve("a/b/.part-0.parquet.crc")), mode(dir.resolve("explicit")),
          mode(dir.resolve("set")), mode(dir.resolve("sticky")),
          fs.getFileStatus(sticky).getPermission.getStickyBit.toString)
      }.toMap
      assert(modes("graft") == modes("hadoop"), s"umask $umask")
      assert(modes("graft").take(3) == Seq(dirMode, fileMode, fileMode), s"umask $umask")
      assert(modes("graft").drop(3) == Seq("rwx------", "rw-r-----", "rwxr-xr-x", "true"))
    }
  }

  test("checksums are written byte for byte as Hadoop's, and a corrupt byte fails the read") {
    val work = Files.createTempDirectory("graft-crc")
    val data = Array.tabulate(5000)(i => (i * 31).toByte)
    val fss = both(conf())
    fss.foreach { case (name, fs) => write(fs, new Path(work.toString, name), data) }
    assert(Files.readAllBytes(work.resolve(".graft.crc")).toSeq ==
      Files.readAllBytes(work.resolve(".hadoop.crc")).toSeq)
    fss.foreach { case (name, fs) =>
      val p = new Path(work.toString, name)
      assert(readAll(fs, p).toSeq == data.toSeq, name)
      val raf = new RandomAccessFile(work.resolve(name).toFile, "rw")
      try { raf.seek(1234); raf.write(data(1234) ^ 0x5a) } finally raf.close()
      intercept[ChecksumException](readAll(fs, p))
    }
  }

  test("FileContext.rename(OVERWRITE) leaves what Hadoop's LocalFs leaves") {
    val work = Files.createTempDirectory("graft-rename")
    def bound(afs: Class[_]): Configuration = {
      val c = conf()
      c.set("fs.AbstractFileSystem.file.impl", afs.getName)
      c
    }
    val ends = Seq("hadoop" -> classOf[LocalFs], "graft" -> classOf[GraftLocalFs]).map {
      case (name, afs) =>
        val c = bound(afs)
        val fc = FileContext.getFileContext(root, c)
        assert(fc.getDefaultFileSystem.getClass == afs)
        val fs = both(c).toMap.apply(name)
        val (src, dst) = (new Path(work.toString, s"$name.tmp"), new Path(work.toString, name))
        write(fs, dst, "old bytes".getBytes("UTF-8"))
        write(fs, src, "new bytes, longer".getBytes("UTF-8"))
        fc.rename(src, dst, Options.Rename.OVERWRITE)
        val in = fc.open(dst) // checksummed read: the checksum moved with the data
        val got = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
        name -> (got, Files.list(work).toArray.map(_.toString.split('/').last)
          .filter(_.contains(name)).map(_.replace(name, "X")).sorted.toSeq)
    }.toMap
    assert(ends("graft") == ends("hadoop"))
    assert(ends("graft") == (("new bytes, longer", Seq(".X.crc", "X"))))
  }

  test("link status matches Hadoop's for files, dirs and symlinks") {
    val work = Files.createTempDirectory("graft-links")
    Files.writeString(work.resolve("file"), "x")
    Files.createDirectory(work.resolve("dir"))
    Files.createSymbolicLink(work.resolve("link"), work.resolve("dir"))
    val (hadoop, graft) = (new RawLocalFileSystem(), new GraftRawLocalFileSystem())
    Seq(hadoop, graft).foreach(_.initialize(root, conf()))
    for (n <- Seq("file", "dir", "link"); p <- Seq(new Path(work.resolve(n).toString),
        new Path(work.resolve(n).toUri))) {
      val (h, g) = (hadoop.getFileLinkStatus(p), graft.getFileLinkStatus(p))
      assert((g.isSymlink, g.isDirectory, g.getLen, g.getModificationTime, g.getPath) ==
        ((h.isSymlink, h.isDirectory, h.getLen, h.getModificationTime, h.getPath)), p)
      if (h.isSymlink) assert(g.getSymlink == h.getSymlink, p)
    }
    intercept[java.io.FileNotFoundException](graft.getFileLinkStatus(
      new Path(work.resolve("missing").toString)))
  }

  test("a store root reached through a symlink reads and commits") {
    val work = Files.createTempDirectory("graft-symroot")
    val pod = work.resolve("varlog/pods/default_api-1_u1/app/0.log")
    Files.createDirectories(pod.getParent)
    Files.writeString(pod, "2024-01-15T10:00:00.000000001Z stdout F one\n" +
      "2024-01-15T10:00:01.000000002Z stderr F two\n")
    Files.createDirectory(work.resolve("real"))
    val link = Files.createSymbolicLink(work.resolve("lake"), work.resolve("real")).toString
    val df = LogIngest.readCri(spark, work.resolve("varlog").toString + "/pods/*/*/*.log", "dev")
    LogIngest.writeHive(df, link)
    AppendCommit.commit(df, link)
    assert(GraftStore.currentVersion(spark, link) == 2)
    assert(GraftStore.readStore(spark, link).count() == 4)
    assert(Files.exists(work.resolve("real/_current")))
  }

  test("footers read with the session conf equal footers read with default options") {
    val work = Files.createTempDirectory("graft-footers")
    val pod = work.resolve("varlog/pods/default_api-1_u1/app/0.log")
    Files.createDirectories(pod.getParent)
    Files.writeString(pod, (0 until 50).map(i =>
      f"2024-01-15T10:00:$i%02d.000000001Z stdout F line $i").mkString("", "\n", "\n"))
    val lake = work.resolve("lake").toString
    LogIngest.writeHive(LogIngest.readCri(spark,
      work.resolve("varlog").toString + "/pods/*/*/*.log", "dev"), lake)
    val hc = spark.sparkContext.hadoopConfiguration
    val files = GraftStore.compositeEntries(spark, lake, GraftStore.currentVersion(spark, lake))
    assert(files.nonEmpty)
    files.foreach { f =>
      val p = new Path(f.physical)
      def json(r: ParquetFileReader) = try ParquetMetadata.toJSON(r.getFooter) finally r.close()
      assert(json(FileStats.openFooter(p, hc)) ==
        json(ParquetFileReader.open(HadoopInputFile.fromPath(p, hc))), f.key)
    }
  }
}
