package graft

/** Scratch per-query timing harness for local iteration: `BenchOne <sfDir>
  * <query...>` prints three timed passes per named query (same session
  * config as Bench), each with the Spark work it ran ([[Harness.meter]]):
  * jobs, tasks, scan input bytes and shuffle-write bytes. A pass whose
  * seconds are high while its work is small is the per-query floor.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Harness.session(Harness.cpus)
    args.drop(1).foreach { n =>
      val q = Bench.fastVariants.getOrElse(n, SparkEntry.queries(n))
      for (i <- 1 to 3) {
        val (secs, c) = Harness.meter(spark) {
          val t0 = System.nanoTime()
          q(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$n pass$i $secs%.3f jobs=${c.jobs} tasks=${c.tasks} " +
          s"input_bytes=${c.inputBytes} shuffle_bytes=${c.shuffleBytes}")
      }
    }
  }
}
