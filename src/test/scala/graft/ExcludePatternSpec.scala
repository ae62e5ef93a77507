package graft

import graft.logs.LogIngest
import org.apache.spark.sql.functions.regexp_extract

/** The fluent-bit exclude pattern matches under `find` (Spark's `rlike`),
  * so the default pattern, which has no leading or trailing `.*`, must
  * exclude exactly the paths the whole-path form with them did. The same
  * holds for the pod-path pattern under `regexp_extract`: without its
  * leading `.*` it must capture exactly what the form with it did.
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

  private val podPathWithDotStar = ".*" + LogIngest.podPathRegex

  /** (case, path, captures: namespace, pod, pod uid, container) */
  private val podCases = Seq(
    ("plain pod log",
      "/var/log/pods/default_api-1_u1/app/0.log", Seq("default", "api-1", "u1", "app")),
    ("two /pods/ segments",
      "/mnt/pods/archive/pods/kube-system_coredns-7_u9/coredns/0.log",
      Seq("kube-system", "coredns-7", "u9", "coredns")),
    ("two /pods/ segments, both pod-shaped",
      "/var/log/pods/a_b_c/pods/ns_pod_uid/app/1.log", Seq("ns", "pod", "uid", "app")),
    ("underscores in the container name",
      "/var/log/pods/default_api-1_u1/istio_proxy_v2/0.log",
      Seq("default", "api-1", "u1", "istio_proxy_v2")),
    ("not a .log file", "/var/log/pods/default_api-1_u1/app/0.log.gz", Seq("", "", "", "")),
    ("no /pods/ segment",
      "/var/log/containers/api-1_default_app-abc.log", Seq("", "", "", "")),
    ("pod segment with a fourth field",
      "/var/log/pods/default_api-1_u1_x/app/0.log", Seq("", "", "", "")))

  test("the pod-path pattern captures what the form with a leading .* did") {
    podCases.foreach { case (name, path, want) =>
      def groups(re: String) = re.r.findFirstMatchIn(path)
        .map(m => (1 to 4).map(m.group)).getOrElse(Seq("", "", "", ""))
      assert(groups(LogIngest.podPathRegex) == want, name)
      assert(groups(podPathWithDotStar) == want, name)
    }
  }

  test("regexp_extract agrees on every pod-path case, for both patterns") {
    val df = podCases.map(_._2).toDF("p")
    val cols = (1 to 4).flatMap(i => Seq(regexp_extract($"p", LogIngest.podPathRegex, i),
      regexp_extract($"p", podPathWithDotStar, i)))
    val got = df.select($"p" +: cols: _*).collect()
      .map(r => r.getString(0) -> (1 to 8).map(r.getString)).toMap
    podCases.foreach { case (name, path, want) =>
      assert(got(path) == want.flatMap(w => Seq(w, w)), name)
    }
  }
}
