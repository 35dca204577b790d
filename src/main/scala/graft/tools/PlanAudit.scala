package graft.tools

import graft.{Harness, SparkEntry}

/** Plan audit (dev tool): for each query, print the physical-plan features
  * that matter at 100 TB — scan pushdown/pruning, join strategies, exchange
  * count, TakeOrdered, codegen spans. Grep-friendly one-line summary.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val only = args.headOption
    val spark = Harness.session(Harness.cpus)

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.contains) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.executedPlan.toString
          def n(pat: String): Int = pat.r.findAllIn(plan).length
          val feats = Seq(
            "scan" -> n("Scan parquet"),
            "pushed" -> n("PushedFilters: \\[[^\\]]"),
            "exchg" -> n("Exchange "),
            "bcast" -> n("BroadcastExchange"),
            "smj" -> n("SortMergeJoin"),
            "shj" -> n("ShuffledHashJoin"),
            "bhj" -> n("BroadcastHashJoin"),
            "nlj" -> n("NestedLoop"),
            "cart" -> n("CartesianProduct"),
            "topk" -> n("TakeOrderedAndProject"),
            "wsc" -> n("WholeStageCodegen"),
            "sort" -> n("Sort "))
          val interesting = feats.filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(f"$name%-26s $interesting")
          if (args.length > 1) println(plan)
        } catch { case e: Throwable => println(f"$name%-26s ERROR ${e.getMessage.take(100)}") }
      }
    spark.stop()
  }
}
