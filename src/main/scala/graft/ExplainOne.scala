package graft

/** Scratch: print the formatted physical plan of named queries. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Harness.session(Harness.cpus)
    args.drop(1).foreach { n =>
      println(s"===== $n")
      val q = Bench.fastVariants.getOrElse(n, SparkEntry.queries(n))
      println(q(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
  }
}
