package graft

/** Scratch per-query timing harness for local iteration: `BenchOne <sfDir>
  * <query...>` prints three timed passes per named query (same session
  * config as Bench).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Harness.session(Harness.cpus)
    args.drop(1).foreach { n =>
      val q = Bench.fastVariants.getOrElse(n, SparkEntry.queries(n))
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        q(spark, dir).write.format("noop").mode("overwrite").save()
        println(f"$n pass$i ${(System.nanoTime() - t0) / 1e9}%.3f")
      }
    }
  }
}
