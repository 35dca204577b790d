package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}

/** Decompose the fixed per-query floor that dominates the local bench
  * (BENCH_r*.json): the cheapest oracle queries cost ~0.13–0.35s at
  * local[32] on 60k–600k-row inputs where DuckDB pays ~5–50ms, and the
  * 64-query bench total is mostly that floor, not data work. This tool
  * measures each component under the EXACT bench methodology (same
  * session conf, noop sink, warm JVM, min-of-3) so the number attributed
  * to "floor" is evidence, not guess:
  *
  *   nothing      — `range(1)` noop write: job launch + noop commit
  *   range32      — `range(64M)` sum, 32 partitions: +map-stage over cores
  *   shuffle32    — range → repartition(32) → agg: +one full exchange round
  *   scan1        — lineitem 1-col pruned scan count: +parquet scan path
  *   scan_agg     — lineitem groupBy(2 keys) agg: the q01 kernel shape
  *   plan_only    — analyze+optimize+physical-plan a q01-shaped tree, no
  *                  execution (fresh Column objects each pass so neither
  *                  the plan cache nor object identity short-circuits)
  *   aqe_off:*    — the same shapes with adaptive execution disabled
  *                  (per-query runtime re-planning is driver-side work
  *                  that a 60k-row query pays but never amortizes)
  *
  * Run: `scripts/run.sh graft.tools.ProfileFloor /root/testdata/sf0.1`.
  * Findings go to COVERAGE.md ("per-query floor"), not to conf changes:
  * AQE stays ON in the bench session because skew-join handling and
  * post-shuffle coalescing are exactly what the engine must keep at
  * 100 TB — a floor bought by deleting scale machinery is a fake floor.
  */
object ProfileFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Harness.session(Harness.cpus)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def minOf3(name: String)(body: () => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body(); (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-22s min=${ts.min}%6.3f  runs=${ts.map(t => f"$t%5.3f").mkString(" ")}")
    }

    def q01Shape(): DataFrame = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sq"),
        round(avg(col("l_extendedprice")), 4).as("ap"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

    // warm exactly like Bench
    noop(graft.Queries.q01PricingSummary(spark, sfDir))

    def fleet(tag: String): Unit = {
      minOf3(s"$tag nothing")(() => noop(spark.range(1).agg(count(lit(1)))))
      minOf3(s"$tag range32")(() =>
        noop(spark.range(64000000L).agg(sum(col("id")))))
      minOf3(s"$tag shuffle32")(() =>
        noop(spark.range(1000000L).withColumn("k", col("id") % 1000)
          .repartition(col("k")).groupBy(col("k")).agg(sum(col("id")))))
      minOf3(s"$tag scan1")(() =>
        noop(Tables.lineitem(spark, sfDir).select(col("l_quantity"))
          .agg(sum(col("l_quantity")))))
      minOf3(s"$tag scan_agg")(() => noop(q01Shape()))
      minOf3(s"$tag plan_only")(() => {
        val qe = q01Shape().queryExecution
        qe.executedPlan // forces analysis → optimization → physical planning
        ()
      })
    }

    fleet("aqe_on ")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    fleet("aqe_off")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.stop()
  }
}
