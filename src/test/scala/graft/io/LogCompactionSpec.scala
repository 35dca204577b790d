package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Log compaction (`<s>.<e>.compacted.json`): one reconciled file
  * substitutes a commit range at replay, bounding between-checkpoint
  * replay to O(compactions) files. The substitution is proven by DELETING
  * the covered commit JSONs — only the compacted file can serve the range
  * afterward.
  */
class LogCompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compacted range replays identically; substitution survives JSON loss") {
    val path = tmp("graft_logc_") + "/t"
    DeltaWrite.writeDeltaTable(
      (1L to 40L).map(i => (i, i * 10L)).toDF("id", "v").repartition(2),
      path, "append")                                                   // v0
    DeltaWrite.writeDeltaTable(
      (41L to 50L).map(i => (i, i * 10L)).toDF("id", "v"), path, "append") // v1
    DeltaMerge.deleteWhereDv(spark, path, col("id") % 10 === 3)         // v2 (DV)
    DeltaMerge.updateWhere(spark, path, col("id") % 10 === 4,
      Map("v" -> (col("v") + 1)))                                       // v3 (COW)
    DeltaWrite.setTableProperties(spark, path,
      Map("graft.test.marker" -> "yes"))                                // v4
    DeltaWrite.writeDeltaTable(
      (51L to 55L).map(i => (i, i * 10L)).toDF("id", "v"), path, "append") // v5

    def state() = DeltaRead.readDeltaTable(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val before = state()
    val dvDeleted = Set(3L, 13L, 23L, 33L, 43L) // %10==3 at v2 (53 appends later)
    assert(!before.exists(r => dvDeleted(r._1)),
      s"fixture: DV delete missing in $before")

    val out = DeltaWrite.compactLog(spark, path, 1L, 4L)
    assert(out.endsWith("00000000000000000001.00000000000000000004.compacted.json"))
    // with originals still present the replay result is identical
    assert(state() == before)
    // property from the compacted metaData action carried
    val meta = DeltaRead.snapshot(spark, path).meta
    assert(meta.configuration.get("graft.test.marker").contains("yes"))

    // delete the covered JSONs: ONLY the compacted file can serve 1..4 now
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1L to 4L).foreach { v =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(path,
        f"_delta_log/$v%020d.json"), false))
    }
    assert(state() == before, "replay through the compacted file diverged")
    // DV state carried: the v2-deleted rows stay invisible
    assert(!state().exists(r => dvDeleted(r._1)))

    // head time travel works; MID-compacted-range time travel refuses
    // loudly (the compacted file only encodes the range's END state)
    assert(DeltaRead.readDeltaTable(spark, path, Some(5L)).count() == before.size)
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTable(spark, path, Some(3L)).collect()
    }
    assert(e.getMessage.contains("cleaned") || e.getMessage.contains("time travel"),
      e.getMessage)
  }

  test("row-tracking watermark and ids carry through compacted replay") {
    val path = tmp("graft_logc_rt_") + "/t"
    DeltaWrite.writeDeltaTableRowTracked(
      (1L to 10L).map(i => (i, i)).toDF("id", "v").repartition(1), path) // v0
    DeltaWrite.writeDeltaTable(
      (11L to 20L).map(i => (i, i)).toDF("id", "v"), path, "append")     // v1
    DeltaWrite.writeDeltaTable(
      (21L to 30L).map(i => (i, i)).toDF("id", "v"), path, "append")     // v2
    def rids() = DeltaRead.readDeltaTableWithRowIds(spark, path)
      .select("id", "_row_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val before = rids()
    assert(before.values.toSeq.sorted == (0L until 30L))

    DeltaWrite.compactLog(spark, path, 0L, 2L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0L to 2L).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(path,
        f"_delta_log/$v%020d.json"), false)
    }
    // ids replay from the compacted adds' baseRowId fields
    assert(rids() == before)
    // the domainMetadata watermark carried: a fresh append mints ABOVE it
    DeltaWrite.writeDeltaTable(
      (31L to 35L).map(i => (i, i)).toDF("id", "v"), path, "append")     // v3
    val after = rids()
    assert((31L to 35L).forall(i => after(i) >= 30L),
      s"watermark lost through compaction: $after")
    assert(before.forall { case (k, rid) => after(k) == rid })
  }

  test("compaction below a checkpoint base is ignored; range validation refuses gaps") {
    val path = tmp("graft_logc_cp_") + "/t"
    DeltaWrite.writeDeltaTable(
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), path, "append")      // v0
    DeltaWrite.writeDeltaTable(
      (11L to 12L).map(i => (i, i)).toDF("id", "v"), path, "append")     // v1
    DeltaWrite.compactLog(spark, path, 0L, 1L)
    DeltaWrite.writeDeltaTable(
      (13L to 14L).map(i => (i, i)).toDF("id", "v"), path, "append")     // v2
    DeltaWrite.checkpoint(spark, path)                                    // at v2
    DeltaWrite.writeDeltaTable(
      (15L to 16L).map(i => (i, i)).toDF("id", "v"), path, "append")     // v3
    // the pre-checkpoint compacted span must not disturb checkpoint replay
    assert(DeltaRead.readDeltaTable(spark, path).count() == 16L)

    val e = intercept[IllegalArgumentException] {
      DeltaWrite.compactLog(spark, path, 2L, 99L)
    }
    assert(e.getMessage.contains("missing commit JSONs"), e.getMessage)

    // cleanup retires the checkpoint-covered compacted range along with
    // its commit JSONs; replay is unaffected
    val cleaned = DeltaWrite.cleanupMetadata(spark, path, retentionMs = 0L)
    assert(cleaned.exists(_.endsWith(".compacted.json")), cleaned.toString)
    assert(DeltaRead.readDeltaTable(spark, path).count() == 16L)
  }
}
