package graft

/** Scratch: `ExplainOne <sfDir> [substr...]` prints, for every registry
  * query and fast variant whose name contains one of the substrings (all of
  * them when none is given), a one-line count of the physical-plan features
  * that matter at 100 TB — scans, pushed filters, exchanges, join
  * strategies, TakeOrdered, codegen spans, sorts — and then its formatted
  * physical plan.
  */
object ExplainOne {
  private val features = Seq(
    "scan" -> "Scan parquet", "pushed" -> "PushedFilters: \\[[^\\]]",
    "exchg" -> "Exchange ", "bcast" -> "BroadcastExchange",
    "smj" -> "SortMergeJoin", "shj" -> "ShuffledHashJoin",
    "bhj" -> "BroadcastHashJoin", "nlj" -> "NestedLoop",
    "cart" -> "CartesianProduct", "topk" -> "TakeOrderedAndProject",
    "wsc" -> "WholeStageCodegen", "sort" -> "Sort ")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val subs = args.drop(1)
    val spark = Harness.session(Harness.cpus)
    (SparkEntry.queries ++ Bench.fastVariants).toSeq.sortBy(_._1)
      .filter { case (n, _) => subs.isEmpty || subs.exists(n.contains) }
      .foreach { case (n, q) =>
        println(s"===== $n")
        try {
          val qe = q(spark, dir).queryExecution
          val plan = qe.executedPlan.toString
          println(features.map { case (k, pat) => k -> pat.r.findAllIn(plan).length }
            .filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(" "))
          println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Exception => println(s"ERROR ${String.valueOf(e.getMessage).take(100)}") }
      }
    spark.stop()
  }
}
