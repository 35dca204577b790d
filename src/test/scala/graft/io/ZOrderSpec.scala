package graft.io

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {

  private def fileExtents(dir: String, c1: String, c2: String): Seq[(Double, Double)] = {
    val df = spark.read.parquet(dir)
    val b = df.agg(min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    val (lo1, hi1, lo2, hi2) = (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    df.groupBy(input_file_name())
      .agg(min(col(c1)).cast("double").as("a"), max(col(c1)).cast("double").as("b"),
        min(col(c2)).cast("double").as("c"), max(col(c2)).cast("double").as("d"))
      .collect()
      .map(r => ((r.getDouble(2) - r.getDouble(1)) / (hi1 - lo1),
                 (r.getDouble(4) - r.getDouble(3)) / (hi2 - lo2)))
      .toSeq
  }

  test("interleaved bits preserve locality order for each dimension") {
    import spark.implicits._
    val df = Seq((0, 0), (1, 1), (65535, 65535)).toDF("x", "y")
      .select(ZOrder.interleaveBits(col("x"), col("y")).as("z"))
    val zs = df.collect().map(_.getLong(0))
    assert(zs(0) == 0L)
    assert(zs(1) == 3L) // bit 0 of each dim → positions 0 and 1
    assert(zs(2) == (1L << 32) - 1) // all 32 low bits set
  }

  test("z-order bounds BOTH dimensions' file extents; single-column clustering does not") {
    val src = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val zDir = tmp("graft-z")
    val cDir = tmp("graft-c")
    ZOrder.write(spark, src, zDir, "user_id", "value", nFiles = 16)
    src.repartitionByRange(16, col("user_id")).write.mode("overwrite").parquet(cDir)

    val z = fileExtents(zDir, "user_id", "value")
    val c = fileExtents(cDir, "user_id", "value")
    def avg(xs: Seq[Double]) = xs.sum / xs.size

    // z-order: materially bounded on BOTH dimensions, and much tighter on
    // the second dimension than single-column clustering (which is blind
    // to it — its extent is whatever 1/16th of rows happens to span)
    assert(avg(z.map(_._1)) < 0.6, s"user_id extent ${avg(z.map(_._1))}")
    assert(avg(z.map(_._2)) < 0.6, s"value extent ${avg(z.map(_._2))}")
    assert(avg(c.map(_._2)) > 1.5 * avg(z.map(_._2)),
      s"baseline value extent ${avg(c.map(_._2))} vs z ${avg(z.map(_._2))}")
    // data survives the rewrite
    assert(spark.read.parquet(zDir).count() == src.count())
  }

  test("z-order layout skips row groups at read time; random layout decodes everything") {
    // two near-uniform dimensions: rank16 is linear in value space, so a
    // skewed column (like `value`) collapses into one quadrant and cannot
    // discriminate — binning-by-quantile would fix that in production;
    // here the test uses the dims the layout is actually good for
    val src = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val zDir = tmp("graft-zskip")
    val rDir = tmp("graft-rskip")
    ZOrder.write(spark, src, zDir, "user_id", "event_id", nFiles = 16)
    src.repartition(16).write.mode("overwrite").parquet(rDir)

    val total = src.count()
    val b = src.agg(max(col("user_id")), max(col("event_id"))).head()
    val box = col("user_id") < b.getLong(0) / 4 && col("event_id") < b.getLong(1) / 4
    def scannedRows(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir).filter(box)
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      val matched = { df.collect(); df }
      val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(matched.queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.metrics("numOutputRows").value
        }
      (scans.sum, matched.collect().head.getLong(0))
    }
    val (zScanned, zMatched) = scannedRows(zDir)
    val (rScanned, rMatched) = scannedRows(rDir)
    // identical answers, very different decode volume: pushed min/max
    // filters skip whole row groups only when the layout makes their
    // stats disjoint — THE reason z-order exists
    assert(zMatched == rMatched)
    assert(rScanned == total, s"random layout must decode all $total rows, got $rScanned")
    assert(zScanned * 2 < rScanned,
      s"z-ordered scan must decode under half the corpus: $zScanned vs $rScanned")
  }

  test("quantile-binned z-order prunes on a SKEWED dimension where linear rank16 cannot") {
    val src = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val linDir = tmp("graft-zlin")
    val rnkDir = tmp("graft-zrnk")
    // `value` is skew-distributed: linear rank16 collapses it into the
    // low quadrants; equi-depth bins spread it
    ZOrder.write(spark, src, linDir, "user_id", "value", nFiles = 16)
    ZOrder.writeRanked(spark, src, rnkDir, "user_id", "value", nFiles = 16, bins = 64)

    // box on the MEDIANS: selective in rank space on both dims
    val med = src.stat.approxQuantile(Array("user_id", "value"), Array(0.5), 0.001)
    val box = col("user_id") < med(0)(0) && col("value") < med(1)(0)
    def scanned(dir: String): Long = {
      val df = spark.read.parquet(dir).filter(box)
        .agg(count(lit(1)).as("n"))
      df.collect()
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(df.queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.sum
    }
    val lin = scanned(linDir)
    val rnk = scanned(rnkDir)
    // identical answers either way; the ranked layout must decode less
    assert(spark.read.parquet(rnkDir).filter(box).count() ==
      spark.read.parquet(linDir).filter(box).count())
    assert(rnk < lin, s"ranked z-order must prune tighter on skew: $rnk vs $lin")
  }

  test("binTree binary search is value-identical to the binOf HOF, nulls included") {
    import spark.implicits._
    val bounds = Array(1.0, 3.0, 3.0, 7.5, 10.0, 42.0) // dup collapses
    val vals = Seq[java.lang.Double](-5.0, 1.0, 1.5, 3.0, 3.1, 7.5, 8.0,
      10.0, 41.0, 42.0, 99.0, null)
    val df = vals.toDF("x").select(
      ZOrder.binOf(col("x"), bounds).as("hof"),
      ZOrder.binTree(col("x"), bounds).as("tree"))
    df.collect().foreach(r =>
      assert(r.getInt(0) == r.getInt(1), r.toString))
    // and against real skewed data at every bin count the layouts use
    val v = Tables.events(spark, sf).select(col("value"))
    for (bins <- Seq(16, 256)) {
      val b = v.stat.approxQuantile("value",
        (1 until bins).map(_.toDouble / bins).toArray, 0.001)
      assert(v.select(ZOrder.binOf(col("value"), b).as("a"),
          ZOrder.binTree(col("value"), b).as("b"))
        .filter(col("a") =!= col("b")).count() == 0L)
    }
  }

  test("k-dim interleave: bit placement matches the 2-col form and stays within a Long") {
    import spark.implicits._
    // k=2 instance must be BIT-IDENTICAL to the original pairwise form
    val pairs = Seq((0, 0), (1, 1), (3, 5), (65535, 65535)).toDF("x", "y")
    val both = pairs.select(
      ZOrder.interleaveBits(col("x"), col("y")).as("a"),
      ZOrder.interleaveBitsN(Seq(col("x"), col("y")), 16).as("b")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // k=3: bit i of column j lands at 3i + j
    val z3 = Seq((1, 1, 1)).toDF("x", "y", "w")
      .select(ZOrder.interleaveBitsN(Seq(col("x"), col("y"), col("w")), 8).as("z"))
      .collect().head.getLong(0)
    assert(z3 == 7L, s"low bit of each of 3 dims → positions 0,1,2: $z3")
    // 4 dims × 16 bits would cross the sign bit — refused, never wrapped
    intercept[IllegalArgumentException](
      ZOrder.interleaveBitsN(Seq(col("x"), col("y"), col("w"), col("x")), 16))
  }

  test("3-column ranked z-order bounds ALL THREE extents; the 2-col layout is blind on the third") {
    val src = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val z2 = tmp("graft-z2")
    val z3 = tmp("graft-z3")
    ZOrder.writeRanked(spark, src, z2, "user_id", "event_id", nFiles = 27, bins = 64)
    ZOrder.writeRankedN(spark, src, z3, Seq("user_id", "event_id", "value"),
      nFiles = 27, bins = 64)

    def extents(dir: String, c: String): Seq[Double] = {
      val df = spark.read.parquet(dir)
      val b = df.agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
      val (lo, hi) = (b.getDouble(0), b.getDouble(1))
      df.groupBy(input_file_name())
        .agg(min(col(c)).cast("double").as("a"), max(col(c)).cast("double").as("b"))
        .collect().map(r => (r.getDouble(2) - r.getDouble(1)) / (hi - lo)).toSeq
    }
    def avg(xs: Seq[Double]) = xs.sum / xs.size
    val e3 = extents(z3, "value")
    val e2 = extents(z2, "value")
    assert(avg(e3) < 0.8, s"third-dim extent under 3-col z: ${avg(e3)}")
    assert(avg(e2) > 1.2 * avg(e3),
      s"2-col layout should be blind on value: ${avg(e2)} vs ${avg(e3)}")
    // and the first two dims are still materially bounded
    assert(avg(extents(z3, "user_id")) < 0.8)
    assert(avg(extents(z3, "event_id")) < 0.8)
    assert(spark.read.parquet(z3).count() == src.count())
  }
}
