package graft.io

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion-vector WRITES ([[DvWrite]] + [[DeltaMerge.deleteWhereDv]]):
  * the serializer must round-trip through the production decoder at every
  * container shape, and a DV delete must mark rows invisible WITHOUT
  * rewriting a single data file — file identity, union-on-redelete,
  * full-shadow removal, protocol upgrade, CDF, compaction interplay, and
  * time travel are all pinned here.
  */
class DvWriteSpec extends SparkSpec {
  import spark.implicits._

  private def ids(path: String, versionAsOf: Option[Long] = None): Seq[Long] =
    DeltaRead.readDeltaTable(spark, path, versionAsOf)
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq

  private def liveFiles(path: String): Seq[DeltaRead.LiveFile] =
    DeltaRead.snapshot(spark, path).files

  test("serializeData round-trips the decoder: array, bitmap, multi-key, high-32 gaps") {
    // array container (small), bitmap container (> 4096 in one key),
    // second 16-bit key, and a value in high-32 bitmap 2 (forces dense
    // empty bitmap padding for high-32 index 1)
    val small = Seq(0L, 1L, 5L, 65535L, 65536L, 100000L)
    val dense = (10000L until 15000L) // 5000 values in one container → bitmap
    val high = Seq((2L << 32) | 7L, (2L << 32) | 65540L)
    val all = (small ++ dense ++ high).sorted
    val data = DvWrite.serializeData(all.iterator)
    // production decoder path: strip LE magic, deserialize, compare
    val magic = java.nio.ByteBuffer.wrap(data.take(4))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(magic == 1681511377)
    val bm = DeletionVectors.deserializeBitmap(data.drop(4))
    assert(bm.cardinality == all.size)
    assert(bm.values.toSeq == all)
    all.foreach(v => assert(bm.contains(v), s"missing $v"))
    assert(!bm.contains(2L))
    assert(!bm.contains(1L << 32))
    assert(!bm.contains(9000L))
  }

  test("Z85 encode inverts the production decoder") {
    val bytes = Array.tabulate[Byte](16)(i => (i * 37 + 5).toByte)
    assert(DeletionVectors.decodeZ85(DvWrite.encodeZ85(bytes)).toSeq == bytes.toSeq)
  }

  test("mergeSorted unions ascending streams with dedup") {
    val m = DvWrite.mergeSorted(Iterator(1L, 3L, 5L), Iterator(2L, 3L, 6L)).toSeq
    assert(m == Seq(1L, 2L, 3L, 5L, 6L))
  }

  test("deleteWhereDv: rows vanish, data files survive BY IDENTITY, version bumps") {
    val table = tmp("graft_dvw1")
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)
    DeltaWrite.writeDeltaTable(df, table, "append")
    val before = liveFiles(table)
    assert(before.size >= 2)

    val v = DeltaMerge.deleteWhereDv(spark, table, col("id") % 10 === 3)
    assert(v == 1L)
    assert(ids(table) == (0L until 100L).filterNot(_ % 10 == 3))
    // every data file survives by identity — a DV delete never rewrites
    val after = liveFiles(table)
    assert(after.map(_.path).toSet == before.map(_.path).toSet,
      s"data files changed: ${before.map(_.path)} vs ${after.map(_.path)}")
    // every touched file carries a vector whose cardinality sums to 10
    assert(after.flatMap(_.dv).map(_.cardinality).sum == 10L)
    // the vectors pack into at most one blob PER WRITING TASK (task count
    // is bounded by the table's file count), never one file per vector
    val dvFiles = after.flatMap(_.dv).map(_.pathOrInlineDv).distinct
    assert(dvFiles.size >= 1 && dvFiles.size <= before.size,
      s"expected 1..${before.size} packed DV blobs, got $dvFiles")
    // time travel to the pre-delete version sees all rows
    assert(ids(table, Some(0L)) == (0L until 100L))
  }

  test("vector files ROTATE past the size bound: N files committed, read-back exact") {
    val table = tmp("graft_dvw_rot")
    val df = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4)
    DeltaWrite.writeDeltaTable(df, table, "append")
    assert(liveFiles(table).size >= 3)
    // a 1-byte bound forces rotation after EVERY vector: each touched
    // file's descriptor must land in its own deletion_vector file
    val v = DeltaMerge.deleteWhereDv(spark, table, col("id") % 4 === 1,
      maxVectorFileBytes = 1L)
    assert(v == 1L)
    val after = liveFiles(table)
    val descs = after.flatMap(_.dv)
    assert(descs.map(_.pathOrInlineDv).distinct.size == descs.size,
      s"rotation should give one vector file per vector, got " +
        descs.map(_.pathOrInlineDv).toString)
    // descriptors rotated into fresh files start past the version byte
    assert(descs.forall(_.offset.contains(1L)), descs.toString)
    // the on-disk file census matches the referenced set
    val binFiles = new java.io.File(table).listFiles()
      .filter(_.getName.startsWith("deletion_vector_")).map(_.getName).toSet
    assert(binFiles.size >= descs.size, s"$binFiles vs ${descs.size}")
    // and the reads serve the exact survivor set through the rotated blobs
    assert(ids(table) == (0L until 400L).filterNot(_ % 4 == 1))
    // a re-delete unions through the rotated vectors too
    DeltaMerge.deleteWhereDv(spark, table, col("id") % 4 === 2,
      maxVectorFileBytes = 1L)
    assert(ids(table) == (0L until 400L).filter(i => i % 4 == 0 || i % 4 == 3))
  }

  test("deleteWhereDv upgrades the protocol once and appends still work") {
    val table = tmp("graft_dvw2")
    DeltaWrite.writeDeltaTable(
      (0L until 10L).map(i => (i, "x")).toDF("id", "v"), table, "append")
    DeltaMerge.deleteWhereDv(spark, table, col("id") === 1L)
    val proto = DeltaRead.snapshot(spark, table).protocol
    assert(proto.minReader == 3 && proto.minWriter == 7)
    assert(proto.readerFeatures.contains("deletionVectors"))
    assert(proto.writerFeatures.contains("deletionVectors"))
    // implied legacy features are made explicit on upgrade
    assert(proto.writerFeatures.contains("appendOnly"))
    // the table still accepts plain appends and a second DV delete
    DeltaWrite.writeDeltaTable(
      Seq((100L, "y")).toDF("id", "v"), table, "append")
    DeltaMerge.deleteWhereDv(spark, table, col("id") === 100L)
    assert(ids(table) == (0L until 10L).filterNot(_ == 1L))
    // second upgrade is a no-op: exactly one protocol action past v0
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val protoLines = (1L to DeltaRead.latestVersion(spark, table)).count { v =>
      val p = new Path(table, f"_delta_log/$v%020d.json")
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      s.contains("\"protocol\"")
    }
    assert(protoLines == 1, s"expected one protocol upgrade, got $protoLines")
  }

  test("re-delete on a vectored file UNIONS the bitmaps") {
    val table = tmp("graft_dvw3")
    DeltaWrite.writeDeltaTable(
      (0L until 50L).map(i => (i, "x")).toDF("id", "v").coalesce(1), table, "append")
    DeltaMerge.deleteWhereDv(spark, table, col("id") < 10L)
    DeltaMerge.deleteWhereDv(spark, table, col("id") >= 40L)
    assert(ids(table) == (10L until 40L))
    val dvs = liveFiles(table).flatMap(_.dv)
    assert(dvs.size == 1 && dvs.head.cardinality == 20L)
  }

  test("a fully-shadowed file is removed outright, not re-added") {
    val table = tmp("graft_dvw4")
    // two single-file commits; the second holds only large ids
    DeltaWrite.writeDeltaTable(
      (0L until 10L).map(i => (i, "a")).toDF("id", "v").coalesce(1), table, "append")
    DeltaWrite.writeDeltaTable(
      (100L until 110L).map(i => (i, "b")).toDF("id", "v").coalesce(1), table, "append")
    assert(liveFiles(table).size == 2)
    DeltaMerge.deleteWhereDv(spark, table, col("id") >= 100L)
    val after = liveFiles(table)
    assert(after.size == 1, s"fully-deleted file should be removed: $after")
    assert(after.head.dv.isEmpty)
    assert(ids(table) == (0L until 10L))
  }

  test("no-match DV delete returns -1 and commits nothing") {
    val table = tmp("graft_dvw5")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "append")
    assert(DeltaMerge.deleteWhereDv(spark, table, col("id") === 99L) == -1L)
    assert(DeltaRead.latestVersion(spark, table) == 0L)
  }

  test("CDF: DV delete emits delete rows through the change feed") {
    val table = tmp("graft_dvw6")
    DeltaWrite.writeDeltaTable(
      (0L until 20L).map(i => (i, "x")).toDF("id", "v"), table, "append")
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true"))
    val v = DeltaMerge.deleteWhereDv(spark, table, col("id") % 7 === 0)
    // fromVersion is exclusive: start one before the delete commit
    val feed = DeltaRead.changeFeed(spark, table, fromVersion = v - 1)
      .filter(col("_change_type") === "delete")
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(feed == Seq(0L, 7L, 14L))
    assert(ids(table) == (0L until 20L).filterNot(_ % 7 == 0))
  }

  test("compact materializes DV deletes away; checkpoint carries descriptors") {
    val table = tmp("graft_dvw7")
    DeltaWrite.writeDeltaTable(
      (0L until 60L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2), table, "append")
    DeltaMerge.deleteWhereDv(spark, table, col("id") % 3 === 1)
    val expected = (0L until 60L).filterNot(_ % 3 == 1)

    // checkpoint at the DV-carrying version, then read through it
    DeltaWrite.checkpoint(spark, table)
    assert(ids(table) == expected)

    // compaction rewrites through the vector and drops the descriptors
    DeltaWrite.compact(spark, table)
    val after = liveFiles(table)
    assert(after.forall(_.dv.isEmpty), s"compaction left DVs: $after")
    assert(ids(table) == expected)
  }

  test("updateWhereDv: old positions shadowed in place, updated rows in new files") {
    val table = tmp("graft_dvw9")
    val df = (0L until 40L).map(i => (i, i * 10L)).toDF("id", "n").repartition(2)
    DeltaWrite.writeDeltaTable(df, table, "append")
    val before = liveFiles(table).map(_.path).toSet

    val v = DeltaMerge.updateWhereDv(spark, table, col("id") < 4L,
      Map("n" -> (col("n") + 1L)))
    assert(v == 1L)
    val got = DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 40L).map(i => (i, if (i < 4) i * 10 + 1 else i * 10)))
    // originals survive by identity (now DV-shadowed); updates appended new
    val after = liveFiles(table)
    assert(before.subsetOf(after.map(_.path).toSet))
    assert(after.map(_.path).toSet.size > before.size)
    assert(after.flatMap(_.dv).map(_.cardinality).sum == 4L)
    // time travel: pre-update values intact
    val v0 = DeltaRead.readDeltaTable(spark, table, Some(0L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(v0 == (0L until 40L).map(i => (i, i * 10)))
  }

  test("updateWhereDv emits pre/post images through the change feed") {
    val table = tmp("graft_dvw10")
    DeltaWrite.writeDeltaTable(
      (0L until 10L).map(i => (i, i)).toDF("id", "n"), table, "append")
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true"))
    val v = DeltaMerge.updateWhereDv(spark, table, col("id") === 5L,
      Map("n" -> lit(99L)))
    val feed = DeltaRead.changeFeed(spark, table, fromVersion = v - 1)
      .select("id", "n", "_change_type").orderBy("_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(feed == Seq((5L, 99L, "update_postimage"), (5L, 5L, "update_preimage")))
  }

  test("merge with useDeletionVectors matches copy-on-write results, keeps files") {
    val cow = tmp("graft_dvw11a")
    val dv = tmp("graft_dvw11b")
    val base = (0L until 30L).map(i => (i, s"v$i", i)).toDF("id", "v", "n")
    val src = Seq((3L, "X", 300L), (7L, "Y", 700L), (50L, "Z", 500L))
      .toDF("id", "v", "n")
    Seq(cow, dv).foreach(t =>
      DeltaWrite.writeDeltaTable(base.repartition(2), t, "append"))
    val beforeDv = liveFiles(dv).map(_.path).toSet

    DeltaMerge.merge(spark, cow, src, Seq("id"))
    DeltaMerge.merge(spark, dv, src, Seq("id"), useDeletionVectors = true)

    def all(t: String) = DeltaRead.readDeltaTable(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(all(dv) == all(cow))
    // DV merge keeps every original file; COW rewrote the touched ones
    assert(beforeDv.subsetOf(liveFiles(dv).map(_.path).toSet))
    assert(liveFiles(dv).flatMap(_.dv).map(_.cardinality).sum == 2L)
  }

  test("merge useDeletionVectors whenMatched=delete shadows without rewrite") {
    val table = tmp("graft_dvw12")
    DeltaWrite.writeDeltaTable(
      (0L until 20L).map(i => (i, s"v$i", i)).toDF("id", "v", "n").coalesce(1),
      table, "append")
    val before = liveFiles(table).map(_.path).toSet
    DeltaMerge.merge(spark, table, Seq(Tuple1(4L), Tuple1(8L)).toDF("id"),
      Seq("id"), whenMatched = "delete", insertUnmatched = false,
      useDeletionVectors = true)
    assert(ids(table) == (0L until 20L).filterNot(i => i == 4 || i == 8))
    assert(liveFiles(table).map(_.path).toSet == before)
  }

  test("RESTORE across a DV delete reverts the vector, not just removed paths") {
    val table = tmp("graft_dvw_restore")
    DeltaWrite.writeDeltaTable(
      (0L until 12L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      table, "append")
    // the touched file stays live at the SAME path, now carrying a DV:
    // a path-only restore diff would keep the vector and leave the
    // restored rows invisible (caught by RowTrackingSpec first)
    DeltaMerge.deleteWhereDv(spark, table, col("id") % 3 === 0)
    assert(ids(table) == (0L until 12L).filter(_ % 3 != 0))
    DeltaWrite.restore(spark, table, 0L)
    assert(ids(table) == (0L until 12L), "restore must clear the vector")
    assert(liveFiles(table).forall(_.dv.isEmpty))
  }

  test("deleteWhereDv on a name-mapped table resolves logical predicates") {
    val table = tmp("graft_dvw8")
    DeltaWrite.writeDeltaTableMapped(
      (0L until 30L).map(i => (i, s"n$i")).toDF("id", "v"), table, "append")
    DeltaMerge.deleteWhereDv(spark, table, col("id") >= 20L)
    assert(ids(table) == (0L until 20L))
    // protocol keeps columnMapping alongside the new feature
    val proto = DeltaRead.snapshot(spark, table).protocol
    assert(proto.readerFeatures.contains("deletionVectors"))
  }
}
