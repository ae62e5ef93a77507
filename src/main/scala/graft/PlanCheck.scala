package graft

import graft.queries._
import org.apache.spark.sql.DataFrame

/** Plan-inspection harness: prints the formatted physical plan of headline
  * queries so scan pruning (`PushedFilters`, `ReadSchema`), join strategies
  * (`BroadcastHashJoin`) and exchange placement can be audited — the
  * "explain and iterate until it's the plan you'd want" loop.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("graft-plancheck")
    val which: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
      else Map(
        "e2e_log_pipeline_hive" -> (PipelineE2E.runHive(_, _)),
        "x14_since_pruned" -> (StorePrunedQuery.run(_, _)),
        "s6_scan_filter_project" -> (LogParityQueries.scanFilterProject(_, _)),
        "p2_since_time_filter" -> (LogParityQueries.sinceFilter(_, _)),
        "q1_pricing_summary" -> (RelationalQueries.pricingSummary(_, _)),
        "q3_top_revenue" -> (RelationalQueries.topUnshippedOrders(_, _)),
        "q5_local_volume" -> (RelationalQueries.localSupplierVolume(_, _)),
        "j1_semi_join" -> (RelationalQueries.semiJoinBigSpenders(_, _)),
        "o2_top1_latest" -> (LogParityQueries.top1Latest(_, _)))
    which.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      println(s"\n===== $name =====")
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save() // let AQE finalize
      println(df.queryExecution.executedPlan.toString().take(6000))
    }
    spark.stop()
  }
}
