package graft.streaming

import graft.SparkSpec
import graft.ext.AnnIndex
import graft.io.{DeltaMerge, DeltaRead, DeltaWrite}
import org.apache.spark.sql.functions._

class AnnCdcSinkSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  private def axisVec(axis: Int, i: Int): Seq[Float] = {
    val v = Array.fill(dim)(0.0f)
    v(axis) = 10f + i * 0.5f
    v(axis + 4) = 4f
    v.toSeq
  }

  private def probeIds(path: String, vec: Seq[Float], k: Int): Seq[Long] = {
    val n = AnnIndex.meta(spark, path).nCells
    AnnIndex.query(spark, path, vec.map(_.toDouble).toArray, nProbe = n, k = k)
      .collect().map(_.getLong(0)).toSeq
  }

  test("delta CDC drives the index: inserts append, DV deletes remove, updates move — exactly-once across restarts") {
    val base = tmp("graft_anncdc")
    val table = s"$base/vectors"
    val index = s"$base/index"

    // v0: the snapshot the index is built from — bootstrap() pairs the
    // build with the version the stream must start at
    val seed = for (axis <- 0 until 2; i <- 0 until 5)
      yield (axis * 100L + i, axisVec(axis, i))
    DeltaWrite.writeDeltaTable(seed.toDF("vec_id", "embedding"), table, "append")
    val startVer = AnnCdcSink.bootstrap(spark, table, "vec_id", "embedding",
      index, nCells = 2)
    assert(startVer == 0L)
    assert(spark.read.parquet(index).count() == 10L)

    def runOnce(): Unit = {
      val q = AnnCdcSink.run(spark, table, "vec_id", "embedding", index,
        s"$base/ckpt", startingVersion = startVer.toString)
      q.awaitTermination(240000)
    }

    // v1: inserts
    DeltaWrite.writeDeltaTable(
      Seq((1000L, axisVec(0, 30)), (1001L, axisVec(1, 30)))
        .toDF("vec_id", "embedding"), table, "append")
    runOnce()
    assert(probeIds(index, axisVec(0, 30), 1) == Seq(1000L))
    assert(spark.read.parquet(index).count() == 12L)

    // v2: a DV delete — the vector must stop serving as a neighbor
    DeltaMerge.deleteWhereDv(spark, table, col("vec_id") === 1000L)
    runOnce()
    assert(spark.read.parquet(index).count() == 11L)
    assert(!probeIds(index, axisVec(0, 30), 12).contains(1000L),
      "a DV-deleted source row kept serving from the index")
    assert(probeIds(index, axisVec(1, 30), 1) == Seq(1001L)) // others intact

    // v3: an update (merge) MOVES a vector — old embedding out, new in
    DeltaMerge.merge(spark, table,
      Seq((1001L, axisVec(0, 40))).toDF("vec_id", "embedding"), Seq("vec_id"))
    runOnce()
    assert(spark.read.parquet(index).count() == 11L, "update duplicated the id")
    assert(probeIds(index, axisVec(0, 40), 1) == Seq(1001L))

    // restart with NOTHING new: no-op
    runOnce()
    assert(spark.read.parquet(index).count() == 11L)

    // restart with a WIPED checkpoint: the whole history replays, every
    // epoch finds its done marker (or the floor) — nothing reapplies
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt"), true))
    runOnce()
    assert(spark.read.parquet(index).count() == 11L,
      "checkpoint-wiped replay reapplied committed epochs")
    assert(!probeIds(index, axisVec(0, 30), 12).contains(1000L))

    // marker compaction preserves the replay skip
    assert(AnnCdcSink.compactMarkers(spark, index) >= 0L)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt"), true))
    runOnce()
    assert(spark.read.parquet(index).count() == 11L)
  }

  test("crash mid-apply reconciles: half-landed appends never duplicate") {
    val base = tmp("graft_anncdc_crash")
    val table = s"$base/vectors"
    val index = s"$base/index"
    val seed = for (axis <- 0 until 2; i <- 0 until 5)
      yield (axis * 100L + i, axisVec(axis, i))
    DeltaWrite.writeDeltaTable(seed.toDF("vec_id", "embedding"), table, "append")
    AnnIndex.build(DeltaRead.readDeltaTable(spark, table),
      "vec_id", "embedding", index, nCells = 2)

    // v1: two inserts + one delete of a seeded row
    DeltaWrite.writeDeltaTable(
      Seq((2000L, axisVec(0, 50)), (2001L, axisVec(1, 50)))
        .toDF("vec_id", "embedding"), table, "append")
    DeltaMerge.deleteWhereDv(spark, table, col("vec_id") === 0L)
    val changes = DeltaRead.changeDiff(spark, table, 0L).localCheckpoint()

    // simulate the crash: one upsert half-landed, inflight marker present,
    // done never written
    AnnIndex.append(Seq((2000L, axisVec(0, 50))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", index)
    val fs = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(index, "_cdc"))
    fs.create(new org.apache.hadoop.fs.Path(index, "_cdc/b0.inflight"), true).close()

    AnnCdcSink.processBatch(changes, 0L, "vec_id", "embedding", index)
    val idx = spark.read.parquet(index)
    assert(idx.count() == 11L, s"expected 10 seed - 1 delete + 2 inserts, got ${idx.count()}")
    assert(idx.select("id").distinct().count() == 11L, "reconcile duplicated an id")
    assert(!probeIds(index, axisVec(0, 0), 11).contains(0L))
    assert(probeIds(index, axisVec(0, 50), 1) == Seq(2000L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(index, "_cdc/b0.done")))
    // a replay after the commit is a no-op
    AnnCdcSink.processBatch(changes, 0L, "vec_id", "embedding", index)
    assert(spark.read.parquet(index).count() == 11L)
  }
}
