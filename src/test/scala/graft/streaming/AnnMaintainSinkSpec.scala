package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.ext.AnnIndex
import graft.io.{CrashFs, DeltaRead}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

class AnnMaintainSinkSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Axis clusters in the AnnIndexSpec shape: strong axis + a shared tail
    * dim, spacing wide enough that no two vectors' cosine rounds to 1.0 at
    * 6 decimals — the exact-self-hit assertions depend on it.
    */
  private def axisVec(axis: Int, i: Int): Seq[Float] = {
    val v = Array.fill(dim)(0.0f)
    v(axis) = 10f + i * 0.5f
    v(axis + 4) = 4f
    v.toSeq
  }

  /** Drift batch geometry: all mass near axis 0, split into two lobes at
    * ±3 on axis 1 (so a k=2 sub-train separates them), spread on axis 2.
    */
  private def lobeVec(lobe: Int, i: Int): Seq[Float] = {
    val v = Array.fill(dim)(0.0f)
    v(0) = 10f
    v(1) = if (lobe == 0) 3f else -3f
    v(2) = 0.5f * i
    v(4) = 4f
    v.toSeq
  }

  private def stage(srcDir: String, base: String, name: String,
      rows: Seq[(Long, Seq[Float])]): Unit = {
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/stage_$name")
    val part = Files.list(Paths.get(s"$base/stage_$name")).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.move(p, Paths.get(srcDir, s"$name.parquet"))
        moved = true
      }
    }
  }

  private def exactSelfHit(path: String, id: Long, vec: Seq[Float]): Unit = {
    val n = AnnIndex.meta(spark, path).nCells
    val top = AnnIndex.query(spark, path, vec.map(_.toDouble).toArray,
      nProbe = n, k = 1).collect()
    assert(top.length == 1 && top(0).getLong(0) == id,
      s"exact full-probe top-1 for $id was ${top.toSeq}")
  }

  test("file stream appends batches and remediates drift (split fires, data intact)") {
    val base = tmp("graft_annsink")
    val srcDir = s"$base/src"
    val path = s"$base/index"
    Files.createDirectories(Paths.get(srcDir))

    // built corpus: 10 points per axis cluster, 4 cells
    val built = for (axis <- 0 until 4; i <- 0 until 10)
      yield (axis * 100L + i, axisVec(axis, i))
    AnnIndex.build(built.toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, nCells = 4)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = AnnMaintainSink.run(stream, "vec_id", "embedding",
        path, s"$base/ckpt", maxBalance = 2.0)
      q.awaitTermination(120000)
    }

    // batch 0: balanced trickle — append only, no remediation expected
    val b0 = for (axis <- 0 until 4; i <- 0 until 2)
      yield (1000L + axis * 10 + i, axisVec(axis, 20 + i))
    stage(srcDir, base, "b0", b0)
    runOnce()
    val after0 = AnnIndex.meta(spark, path)
    assert(DeltaRead.readDeltaTable(spark, path).count() == 48L)

    // batch 1: 60 vectors piled on one cell → balance breaches 2.0 → split
    val b1 = for (lobe <- 0 until 2; i <- 0 until 30)
      yield (2000L + lobe * 100 + i, lobeVec(lobe, i))
    stage(srcDir, base, "b1", b1)
    runOnce()
    val after1 = AnnIndex.meta(spark, path)
    val idx = DeltaRead.readDeltaTable(spark, path)
    assert(idx.count() == 108L)
    assert(idx.select("id").distinct().count() == 108L)
    assert(after1.nCells > after0.nCells,
      s"drift batch did not trigger a split: ${after0.nCells} -> ${after1.nCells}")
    val maxBal = AnnIndex.cellStats(spark, path)
      .agg(max(col("balance"))).collect()(0).getDouble(0)
    assert(maxBal <= 2.5, s"post-rebalance max balance $maxBal")

    // recall floor: exactness at full probe survives append + rebalance
    exactSelfHit(path, 105L, axisVec(1, 5))     // built
    exactSelfHit(path, 1021L, axisVec(2, 22))   // batch 0
    exactSelfHit(path, 2115L, lobeVec(1, 15))   // batch 1, post-split mass

    // the drift monitor's log-derived counts match a real recount
    val logged = AnnIndex.cellStats(spark, path).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val actual = idx.groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(logged == actual, s"logged $logged vs actual $actual")
  }

  test("crash between append and commit marker replays exactly-once") {
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
    val base = tmp("graft_annsink_crash")
    val srcDir = s"$base/src"
    val path = s"crash://$base/index"
    Files.createDirectories(Paths.get(srcDir))

    val built = for (axis <- 0 until 2; i <- 0 until 5)
      yield (axis * 100L + i, axisVec(axis, i))
    AnnIndex.build(built.toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, nCells = 2)
    val v0 = DeltaRead.latestVersion(spark, path)

    stage(srcDir, base, "b0", Seq.tabulate(5)(i => (1000L + i, axisVec(0, 30 + i))))

    def runOnce(): Unit = AnnMaintainSink.run(spark.readStream.schema(schema).parquet(srcDir),
      "vec_id", "embedding", path, s"$base/ckpt").awaitTermination(120000)

    // first attempt crashes AFTER the batch's files are staged, at the
    // rename that publishes the epoch's commit (its txn is the marker)
    CrashFs.arm("rename", "_delta_log/.tmp-", after = false)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](runOnce())
    assert(CrashFs.disarm(), "the epoch's commit never reached its rename")
    assert(DeltaRead.latestVersion(spark, path) == v0)
    assert(DeltaRead.readDeltaTable(spark, path).count() == 10L) // staged files unseen

    // restart: the replayed batch commits once
    runOnce()
    val idx = DeltaRead.readDeltaTable(spark, path)
    assert(idx.count() == 15L, "replay duplicated the batch")
    assert(idx.select("id").distinct().count() == 15L)
    assert(DeltaRead.latestVersion(spark, path) == v0 + 1)

    // a second restart with nothing new is a clean no-op
    runOnce()
    assert(DeltaRead.readDeltaTable(spark, path).count() == 15L)
    assert(DeltaRead.latestVersion(spark, path) == v0 + 1)
  }

  test("a rebuild at the same path starts the sink's progress over") {
    val base = tmp("graft_annsink_rebuild")
    val path = s"$base/index"
    val built = for (axis <- 0 until 2; i <- 0 until 5)
      yield (axis * 100L + i, axisVec(axis, i))
    def build(): Unit = AnnIndex.build(built.toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, nCells = 2)
    def runOnce(srcDir: String, ckpt: String): Unit = AnnMaintainSink.run(
      spark.readStream.schema(schema).parquet(srcDir), "vec_id", "embedding",
      path, ckpt, maxBalance = 100.0).awaitTermination(120000)

    // two epochs (batch ids 0 and 1) against the first build
    build()
    val src1 = s"$base/src1"
    Files.createDirectories(Paths.get(src1))
    stage(src1, base, "a0", Seq((1000L, axisVec(0, 20))))
    runOnce(src1, s"$base/ckpt1")
    stage(src1, base, "a1", Seq((1001L, axisVec(1, 20))))
    runOnce(src1, s"$base/ckpt1")
    assert(DeltaRead.readDeltaTable(spark, path).count() == 12L)

    // rebuild in place, then a fresh stream: its epoch 0 must land
    build()
    val src2 = s"$base/src2"
    Files.createDirectories(Paths.get(src2))
    stage(src2, base, "b0", Seq((2000L, axisVec(0, 30)), (2001L, axisVec(1, 30))))
    runOnce(src2, s"$base/ckpt2")
    val ids = DeltaRead.readDeltaTable(spark, path).select("id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (built.map(_._1) ++ Seq(2000L, 2001L)).sorted,
      s"epoch 0 after the rebuild was skipped or misapplied: ${ids.sorted.toSeq}")
  }

  test("extraCols ride the stream into the index; a batch missing them refuses") {
    val base = tmp("graft_annsink_extra")
    val srcDir = s"$base/src"
    val path = s"$base/index"
    Files.createDirectories(Paths.get(srcDir))
    val labeledSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", org.apache.spark.sql.types.IntegerType)))

    val built = for (axis <- 0 until 2; i <- 0 until 4)
      yield (axis * 100L + i, axisVec(axis, i), axis)
    AnnIndex.build(built.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", path, nCells = 2, extraCols = Seq("label"))

    // labeled batch flows through; the payload column lands co-located
    Seq((1000L, axisVec(0, 9), 7)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/stage_b0")
    val part = Files.list(Paths.get(s"$base/stage_b0")).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.move(p, Paths.get(srcDir, "b0.parquet")); moved = true
      }
    }
    val q = AnnMaintainSink.run(
      spark.readStream.schema(labeledSchema).parquet(srcDir),
      "vec_id", "embedding", path, s"$base/ckpt",
      maxBalance = 100.0, extraCols = Seq("label"))
    q.awaitTermination(120000)
    val idx = DeltaRead.readDeltaTable(spark, path)
    assert(idx.count() == 9L)
    assert(idx.filter(col("id") === 1000L).select("label")
      .collect().map(_.getInt(0)).toSeq == Seq(7))

    // a batch omitting the payload column refuses at the layout guard
    val e = intercept[Exception](AnnMaintainSink.processBatch(
      Seq((2000L, axisVec(1, 9))).toDF("vec_id", "embedding"), 99L,
      "vec_id", "embedding", path, maxBalance = 100.0, minBalance = 0.0,
      refreshEvery = 0, errorFactor = 1.05, extraCols = Nil))
    assert(e.getMessage.contains("layout"), e.getMessage)
    assert(DeltaRead.readDeltaTable(spark, path).count() == 9L, "refused batch leaked rows")
  }

  test("PQ index: refreshEvery offers a retrain without breaking probes") {
    val base = tmp("graft_annsink_pq")
    val srcDir = s"$base/src"
    val path = s"$base/index"
    Files.createDirectories(Paths.get(srcDir))

    val built = for (axis <- 0 until 2; i <- 0 until 8)
      yield (axis * 100L + i, axisVec(axis, i))
    AnnIndex.build(built.toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, nCells = 2, m = 4, nCodes = 8)

    // a batch clustered OFF the trained mass, so a retrain can win
    stage(srcDir, base, "b0",
      Seq.tabulate(16)(i => (1000L + i, axisVec(2, i))))
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = AnnMaintainSink.run(stream, "vec_id", "embedding",
      path, s"$base/ckpt", maxBalance = 100.0, refreshEvery = 1)
    q.awaitTermination(120000)

    val meta = AnnIndex.meta(spark, path)
    assert(meta.codebookVersions.size <= 1) // candidate adopted or discarded
    assert(DeltaRead.readDeltaTable(spark, path).count() == 32L)
    // ADC probes stay generation-keyed and sane: a built vector's cluster
    val top = AnnIndex.queryPq(spark, path, axisVec(0, 0).map(_.toDouble).toArray,
      nProbe = meta.nCells, k = 8).collect().map(_.getLong(0))
    assert(top.nonEmpty)
  }
}
