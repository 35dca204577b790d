package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Row tracking (the public `rowTracking` writer feature): every commit
  * mints fresh contiguous `baseRowId` ranges under the `delta.rowTracking`
  * domain watermark, and every shape that carries rows forward — DV DML,
  * copy-on-write DML, OPTIMIZE — preserves each row's STABLE id (and, for
  * untouched rows, its original commit version) so
  * `readDeltaTableWithRowIds` serves the same identity before and after.
  */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def table(n: Int): org.apache.spark.sql.DataFrame =
    spark.range(n).select(col("id"), (col("id") * 10).as("v"))

  /** id -> (_row_id, _row_commit_version) */
  private def rowIds(path: String): Map[Long, (Long, Long)] =
    DeltaRead.readDeltaTableWithRowIds(spark, path)
      .select("id", "_row_id", "_row_commit_version").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("create + append assign disjoint contiguous ids and bump the watermark") {
    val path = tmp("rt_append") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(10).repartition(2), path)
    val after0 = rowIds(path)
    assert(after0.values.map(_._1).toSeq.sorted == (0L until 10L))
    assert(after0.values.forall(_._2 == 0L), "creation rows carry version 0")

    DeltaWrite.writeDeltaTable(
      spark.range(10, 15).select(col("id"), (col("id") * 10).as("v")),
      path, "append")
    val after1 = rowIds(path)
    assert(after1.values.map(_._1).toSeq.sorted == (0L until 15L),
      "appended rows continue above the watermark, no overlap")
    assert((10L until 15L).forall(id => after1(id)._2 == 1L))
    // original rows untouched
    assert((0L until 10L).forall(id => after1(id) == after0(id)))
    // protocol declares the feature; domain carries the watermark
    val snap = DeltaRead.snapshot(spark, path)
    assert(snap.protocol.writerFeatures.contains("rowTracking"))
    assert(DeltaRead.rowIdHighWaterMark(snap.domains) == 14L)
  }

  test("DV delete and DV update preserve surviving/updated row ids") {
    val path = tmp("rt_dv") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(20).repartition(2), path)
    val before = rowIds(path)
    DeltaMerge.deleteWhereDv(spark, path, col("id") % 4 === 0)
    val afterDel = rowIds(path)
    assert(afterDel.keySet == (0L until 20L).filter(_ % 4 != 0).toSet)
    afterDel.foreach { case (id, rid) => assert(rid == before(id)) }

    val v = DeltaMerge.updateWhereDv(spark, path, col("id") === 5,
      Map("v" -> lit(999L)))
    val afterUpd = rowIds(path)
    assert(afterUpd(5L)._1 == before(5L)._1, "updated row keeps its stable id")
    assert(afterUpd(5L)._2 == v, "updated row's commit version is the DML commit")
    (afterUpd - 5L).foreach { case (id, rid) => assert(rid == before(id)) }
    val got = DeltaRead.readDeltaTableWithRowIds(spark, path)
      .filter(col("id") === 5).select("v").head().getLong(0)
    assert(got == 999L)
  }

  test("COW update and merge preserve ids; inserts mint fresh ones") {
    val path = tmp("rt_cow") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(12).repartition(2), path)
    val before = rowIds(path)

    val vUpd = DeltaMerge.updateWhere(spark, path, col("id") < 3,
      Map("v" -> (col("v") + 1)))
    val afterUpd = rowIds(path)
    afterUpd.foreach { case (id, (rid, _)) => assert(rid == before(id)._1) }
    (0L until 3L).foreach(id => assert(afterUpd(id)._2 == vUpd,
      "updated rows carry the DML commit version"))
    // rows sharing a rewritten file but NOT updated keep their ORIGINAL
    // version — the materialized carry, not the rewrite's default
    (3L until 12L).foreach(id => assert(afterUpd(id)._2 == before(id)._2,
      s"carried row $id must keep its original commit version"))

    val src = Seq((1L, 111L), (2L, 222L), (50L, 500L)).toDF("id", "v")
    val vMrg = DeltaMerge.merge(spark, path, src, Seq("id"))
    val afterMrg = rowIds(path)
    assert(afterMrg(1L)._1 == before(1L)._1 && afterMrg(2L)._1 == before(2L)._1)
    assert(afterMrg(1L)._2 == vMrg && afterMrg(2L)._2 == vMrg)
    assert(afterMrg(50L)._1 > afterMrg.filterKeys(_ != 50L).values.map(_._1).max,
      "inserted row minted a fresh id above every existing one")
    (3L until 12L).foreach(id => assert(afterMrg(id) == afterUpd(id)))
  }

  test("COW delete keeps ids and versions of kept rows") {
    val path = tmp("rt_del") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(10).repartition(2), path)
    val before = rowIds(path)
    DeltaMerge.deleteWhere(spark, path, col("id") >= 7)
    val after = rowIds(path)
    assert(after.keySet == (0L until 7L).toSet)
    after.foreach { case (id, rid) => assert(rid == before(id)) }
  }

  test("OPTIMIZE and ZORDER rewrites preserve ids and versions") {
    val path = tmp("rt_opt") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(8).repartition(2), path)
    DeltaWrite.writeDeltaTable(
      spark.range(8, 16).select(col("id"), (col("id") * 10).as("v")),
      path, "append")
    val before = rowIds(path)
    assert(DeltaWrite.compact(spark, path) >= 0)
    val after = rowIds(path)
    assert(after == before, "compaction must not move a row's identity")

    assert(DeltaWrite.compactZOrder(spark, path, "id", "v",
      targetBytes = 1000L) >= 0)
    assert(rowIds(path) == before, "z-order recluster must not either")
  }

  test("checkpoint carries the watermark; appends continue above it") {
    val path = tmp("rt_cp") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(6), path)
    DeltaWrite.checkpoint(spark, path)
    val snap = DeltaRead.snapshot(spark, path)
    assert(DeltaRead.rowIdHighWaterMark(snap.domains) == 5L,
      "watermark must survive checkpoint replay")
    DeltaWrite.writeDeltaTable(
      spark.range(6, 9).select(col("id"), (col("id") * 10).as("v")),
      path, "append")
    assert(rowIds(path).values.map(_._1).toSeq.sorted == (0L until 9L))
    // v2 checkpoints carry it too
    DeltaWrite.checkpointV2(spark, path)
    assert(DeltaRead.rowIdHighWaterMark(
      DeltaRead.snapshot(spark, path).domains) == 8L)
  }

  test("RESTORE returns the restored rows' original ids") {
    val path = tmp("rt_restore") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(6), path)
    val before = rowIds(path)
    DeltaMerge.deleteWhereDv(spark, path, col("id") < 2)
    DeltaWrite.restore(spark, path, 0L)
    assert(rowIds(path) == before)
  }

  test("shallow clone carries ids AND the watermark — clone appends never collide") {
    val src = tmp("rt_clone_src") + "/t"
    val dst = tmp("rt_clone_dst") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(5), src)
    DeltaWrite.cloneShallow(spark, src, dst)
    assert(rowIds(dst) == rowIds(src), "cloned rows keep their source ids")
    DeltaWrite.writeDeltaTable(
      spark.range(5, 8).select(col("id"), (col("id") * 10).as("v")),
      dst, "append")
    assert(rowIds(dst).values.map(_._1).toSeq.sorted == (0L until 8L),
      "the clone's first append continues above the CARRIED watermark")
  }

  test("concurrent appends claim disjoint id ranges (OCC reassignment)") {
    val path = tmp("rt_occ") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(table(4), path)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futs = (0 until 3).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = DeltaWrite.writeDeltaTable(
            spark.range(100 + i * 10, 100 + i * 10 + 5)
              .select(col("id"), (col("id") * 10).as("v")),
            path, "append")
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    val after = rowIds(path)
    val rids = after.values.map(_._1).toSeq
    assert(rids.distinct.size == rids.size, s"row ids must never collide: $rids")
    assert(rids.sorted == (0L until 19L),
      "three racing appends reassign contiguously under the watermark")
  }

  test("feature-SUPPORTED (not enabled) tables still get ids assigned on append") {
    // the spec's two-level contract: protocol support obliges writers to
    // ASSIGN baseRowIds; only delta.enableRowTracking obliges DML to
    // PRESERVE them. A foreign table declaring just the feature must see
    // our appends assign and maintain the watermark.
    val path = tmp("rt_supported") + "/t"
    DeltaWrite.writeDeltaTable(table(4), path, "append")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeltaWrite.publishCommit(fs,
      new org.apache.hadoop.fs.Path(path, "_delta_log"), 1L, Seq(
        """{"commitInfo":{"timestamp":1,"operation":"UPGRADE","operationParameters":{},"engineInfo":"other"}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata","rowTracking"]}}"""))
    DeltaWrite.writeDeltaTable(
      spark.range(4, 7).select(col("id"), (col("id") * 10).as("v")),
      path, "append")
    val snap = DeltaRead.snapshot(spark, path)
    val appended = snap.files.filter(_.baseRowId.isDefined)
    assert(appended.nonEmpty, "the new add must carry a baseRowId")
    assert(DeltaRead.rowIdHighWaterMark(snap.domains) >= 2L)
    // version-0 files predate the feature — serving ids would be partial
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTableWithRowIds(spark, path)
    }
    assert(e.getMessage.contains("baseRowId"))
  }

  test("refusals: row ids on untracked tables, enabling on existing data") {
    val plain = tmp("rt_plain") + "/t"
    DeltaWrite.writeDeltaTable(table(3), plain, "append")
    val e1 = intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTableWithRowIds(spark, plain)
    }
    assert(e1.getMessage.contains("row tracking"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTableRowTracked(table(3), plain)
    }
    assert(e2.getMessage.contains("already exists"))
  }

  test("enableRowTracking backfills a legacy table; DML preserves the backfilled ids") {
    val path = tmp("rt_backfill") + "/t"
    DeltaWrite.writeDeltaTable(table(10).repartition(2), path, "append")  // v0
    DeltaWrite.writeDeltaTable(
      spark.range(10, 15).select(col("id"), (col("id") * 10).as("v")),
      path, "append")                                                     // v1
    // a legacy table refuses row-id reads...
    intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTableWithRowIds(spark, path)
    }
    // ...until the backfill commit assigns ranges to its existing files
    val v = DeltaWrite.enableRowTracking(spark, path)
    assert(v == 2L)
    val ids0 = rowIds(path)
    assert(ids0.size == 15)
    assert(ids0.values.map(_._1).toSeq.sorted == (0L until 15L),
      "backfill must assign contiguous disjoint ranges from the watermark")
    assert(ids0.values.forall(_._2 == v),
      "backfilled rows carry the backfill commit version")
    // idempotent: already enabled + backfilled → no-op
    assert(DeltaWrite.enableRowTracking(spark, path) == -1L)

    // appends mint ABOVE the backfilled watermark — never colliding
    DeltaWrite.writeDeltaTable(
      spark.range(15, 18).select(col("id"), (col("id") * 10).as("v")),
      path, "append")                                                     // v3
    val ids1 = rowIds(path)
    assert(ids1.values.map(_._1).toSeq.sorted == (0L until 18L))
    assert((15L until 18L).forall(i => ids1(i)._1 >= 15L))

    // DV delete and COW update preserve the backfilled identities
    DeltaMerge.deleteWhereDv(spark, path, col("id") === 0L)               // v4
    DeltaMerge.updateWhere(spark, path, col("id") === 7L,
      Map("v" -> lit(999L)))                                              // v5 (COW)
    val ids2 = rowIds(path)
    assert(!ids2.contains(0L))
    assert(ids2(7L)._1 == ids1(7L)._1,
      "a COW rewrite must materialize and carry the backfilled id")
    assert(ids1.filterNot(kv => kv._1 == 0L || kv._1 == 7L)
      .forall { case (k, (rid, ver)) => ids2(k) == ((rid, ver)) },
      "untouched rows keep id AND version across DML")
  }

  test("fileKeyOf matches the driver-side makeQualified(...).getPath for every URI shape") {
    // the scan side normalizes _metadata.file_path with fileKeyOf; the
    // driver side keys with makeQualified(...).toUri.getPath — these must
    // agree on authority-carrying URIs or file-map joins silently miss
    // (the r11 advisory: '/host:port/p' vs '/p')
    val shapes = Seq(
      "file:/tmp/t/part-0.parquet" -> "/tmp/t/part-0.parquet",
      "file:///tmp/t/part-0.parquet" -> "/tmp/t/part-0.parquet",
      "hdfs://nn:8020/warehouse/t/part-0.parquet" -> "/warehouse/t/part-0.parquet",
      "s3a://bucket/key/part-0.parquet" -> "/key/part-0.parquet",
      "/tmp/t/part-0.parquet" -> "/tmp/t/part-0.parquet")
    val df = shapes.map(_._1).toDF("p")
      .select(DeltaRead.fileKeyOf(col("p")).as("k"))
    assert(df.as[String].collect().toSeq == shapes.map(_._2),
      "scan-side key must equal Path(...).toUri.getPath for every shape")
    shapes.foreach { case (uri, want) =>
      assert(new org.apache.hadoop.fs.Path(uri).toUri.getPath == want,
        s"driver-side normalization of $uri diverged")
    }
  }
}
