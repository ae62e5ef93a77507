package graft

import graft.logs.LogIngest

/** The fluent-bit exclude pattern matches under `find` (Spark's `rlike`),
  * so the default pattern, which has no leading or trailing `.*`, must
  * exclude exactly the paths the whole-path form with them did.
  */
class ExcludePatternSpec extends SparkSpec {
  import spark.implicits._

  private val wholePath = ".*/pods/[^/]*fluent-bit[^/]*/.*"

  /** (case, path, excluded) */
  private val cases = Seq(
    ("decoy in the pod segment",
      "/var/log/pods/kube-system_fluent-bit-x_u3/fluent-bit/0.log", true),
    ("pod segment only contains fluent-bit",
      "/var/log/pods/logging_my-fluent-bit-7_u9/app/0.log", true),
    ("fluent-bit only in the container name",
      "/var/log/pods/default_api-1_u1/fluent-bit/0.log", false),
    ("fluent-bit only in the file name",
      "/var/log/pods/default_api-1_u1/app/fluent-bit.log", false),
    ("no /pods/ segment",
      "/var/log/containers/fluent-bit-x_kube-system_fluent-bit-abc.log", false),
    ("two /pods/ segments, fluent-bit under the second",
      "/mnt/pods/archive/pods/kube-system_fluent-bit-x_u3/fluent-bit/0.log", true),
    ("two /pods/ segments, fluent-bit under the first",
      "/mnt/pods/fluent-bit-dump/pods/default_api-1_u1/app/0.log", true),
    ("two /pods/ segments, fluent-bit under neither",
      "/mnt/pods/archive/pods/default_api-1_u1/fluent-bit/0.log", false),
    ("pod segment without a closing slash",
      "/var/log/pods/kube-system_fluent-bit-x_u3", false))

  test("the default exclude pattern answers like the whole-path pattern under find") {
    cases.foreach { case (name, path, excluded) =>
      def found(re: String) = re.r.findFirstIn(path).isDefined
      assert(found(LogIngest.defaultExcludeRegex) == excluded, name)
      assert(found(wholePath) == excluded, name)
    }
  }

  test("rlike agrees on every case, for both patterns") {
    val got = cases.map(_._2).toDF("p")
      .select($"p", $"p".rlike(LogIngest.defaultExcludeRegex),
        $"p".rlike(wholePath))
      .as[(String, Boolean, Boolean)].collect()
      .map { case (p, now, before) => p -> (now, before) }.toMap
    cases.foreach { case (name, path, excluded) =>
      assert(got(path) == ((excluded, excluded)), name)
    }
  }
}
