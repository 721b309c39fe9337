package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print formatted physical plans for selected queries, for
  * scale review (pushdown, broadcast, shuffle count).
  *
  * NOTE: driver-finishing queries EXECUTE their corpus
  * jobs at DataFrame-construction time and print a LocalTableScan
  * rather than their lineage — q143's concurrent rollup, and the
  * adaptive-under-cap paths of q48/q52/q125/q177/q184 (dedup groups /
  * BFS), q128/q191 (graph loops), q157/q175
  * (`Quantiles.nonNegEdgeBinnedCounts`, whose tail is driver arithmetic). To see their distributed plans,
  * call the underlying op with the cap forced to 0 (or
  * checkpoint = false for PageRank's plan-shape form), as PlanSpec
  * does. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_scan_project", "q03_group_agg", "q04_latest_argmax",
      "q06_join_broadcast", "q12_day_windows", "q24_ann_topk")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
