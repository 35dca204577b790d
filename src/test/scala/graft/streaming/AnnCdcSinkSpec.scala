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
    assert(DeltaRead.readDeltaTable(spark, index).count() == 10L)

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
    assert(DeltaRead.readDeltaTable(spark, index).count() == 12L)

    // v2: a DV delete — the vector must stop serving as a neighbor
    DeltaMerge.deleteWhereDv(spark, table, col("vec_id") === 1000L)
    runOnce()
    assert(DeltaRead.readDeltaTable(spark, index).count() == 11L)
    assert(!probeIds(index, axisVec(0, 30), 12).contains(1000L),
      "a DV-deleted source row kept serving from the index")
    assert(probeIds(index, axisVec(1, 30), 1) == Seq(1001L)) // others intact

    // v3: an update (merge) MOVES a vector — old embedding out, new in
    DeltaMerge.merge(spark, table,
      Seq((1001L, axisVec(0, 40))).toDF("vec_id", "embedding"), Seq("vec_id"))
    runOnce()
    assert(DeltaRead.readDeltaTable(spark, index).count() == 11L, "update duplicated the id")
    assert(probeIds(index, axisVec(0, 40), 1) == Seq(1001L))

    // restart with NOTHING new: no-op
    runOnce()
    assert(DeltaRead.readDeltaTable(spark, index).count() == 11L)

    // restart with a WIPED checkpoint: the whole history replays, every
    // epoch sits at or below the index log's txn mark — nothing reapplies
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt"), true))
    runOnce()
    assert(DeltaRead.readDeltaTable(spark, index).count() == 11L,
      "checkpoint-wiped replay reapplied committed epochs")
    assert(!probeIds(index, axisVec(0, 30), 12).contains(1000L))
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

    // simulate the crash: the epoch's delete committed, its append (the
    // commit carrying the txn) never did
    assert(AnnIndex.delete(spark, index, Seq(0L)) == 1L)

    val v = DeltaRead.latestVersion(spark, index)
    AnnCdcSink.processBatch(changes, 0L, "vec_id", "embedding", index)
    // the replayed delete finds nothing left: only the append commits
    assert(DeltaRead.latestVersion(spark, index) == v + 1)
    val idx = DeltaRead.readDeltaTable(spark, index)
    assert(idx.count() == 11L, s"expected 10 seed - 1 delete + 2 inserts, got ${idx.count()}")
    assert(idx.select("id").distinct().count() == 11L, "reconcile duplicated an id")
    assert(!probeIds(index, axisVec(0, 0), 11).contains(0L))
    assert(probeIds(index, axisVec(0, 50), 1) == Seq(2000L))
    // a replay after the commit is a no-op
    AnnCdcSink.processBatch(changes, 0L, "vec_id", "embedding", index)
    assert(DeltaRead.readDeltaTable(spark, index).count() == 11L)
    assert(DeltaRead.latestVersion(spark, index) == v + 1)
  }

  test("bootstrap again rebuilds the index and a fresh stream's epoch 0 applies") {
    val base = tmp("graft_anncdc_rebuild")
    val table = s"$base/vectors"
    val index = s"$base/index"
    val seed = for (axis <- 0 until 2; i <- 0 until 5)
      yield (axis * 100L + i, axisVec(axis, i))
    DeltaWrite.writeDeltaTable(seed.toDF("vec_id", "embedding"), table, "append")
    val v0 = AnnCdcSink.bootstrap(spark, table, "vec_id", "embedding", index, nCells = 2)

    // two epochs (batch ids 0 and 1) against the first build
    DeltaWrite.writeDeltaTable(Seq((1000L, axisVec(0, 20))).toDF("vec_id", "embedding"),
      table, "append")
    AnnCdcSink.processBatch(DeltaRead.changeDiff(spark, table, v0),
      0L, "vec_id", "embedding", index)
    DeltaWrite.writeDeltaTable(Seq((1001L, axisVec(1, 20))).toDF("vec_id", "embedding"),
      table, "append")
    AnnCdcSink.processBatch(DeltaRead.changeDiff(spark, table, v0 + 1),
      1L, "vec_id", "embedding", index)
    assert(DeltaRead.readDeltaTable(spark, index).count() == 12L)

    // re-bootstrap (the rebuild-on-drift path), then a fresh checkpoint's
    // epoch 0 carries a delete and an insert: both must reach the index
    val v1 = AnnCdcSink.bootstrap(spark, table, "vec_id", "embedding", index, nCells = 2)
    DeltaWrite.writeDeltaTable(Seq((2000L, axisVec(0, 30))).toDF("vec_id", "embedding"),
      table, "append")
    DeltaMerge.deleteWhereDv(spark, table, col("vec_id") === 1000L)
    AnnCdcSink.processBatch(DeltaRead.changeDiff(spark, table, v1),
      0L, "vec_id", "embedding", index)
    val ids = DeltaRead.readDeltaTable(spark, index).select("id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (seed.map(_._1) ++ Seq(1001L, 2000L)).sorted,
      s"epoch 0 after the rebuild was skipped or misapplied: ${ids.sorted.toSeq}")
  }
}
