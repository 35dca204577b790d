package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cache coherence of [[DeltaRead.snapshot]]: after every way the log can
  * change under a cached head — a second writer's commit, checkpoint
  * cleanup, log compaction with the covered JSONs deleted, RESTORE, the
  * table deleted and recreated at the same path — a warm lookup equals a
  * cold replay of the same version, and time travel below, at and above
  * the cached version does too.
  */
class DeltaSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The warm snapshot, checked field by field against a cold replay. */
  private def coherent(t: String, version: Option[Long] = None): DeltaRead.Snapshot = {
    val warm = DeltaRead.snapshot(spark, t, version)
    DeltaRead.clearSnapshotCache()
    val cold = DeltaRead.snapshot(spark, t, version)
    assert(warm.version == cold.version)
    assert(warm.meta == cold.meta)
    assert(warm.protocol == cold.protocol)
    assert(warm.domains == cold.domains)
    assert(warm.txns == cold.txns)
    assert(warm.files.toSet == cold.files.toSet, s"warm ${warm.files} != cold ${cold.files}")
    warm
  }

  private def append(t: String, lo: Long, n: Long = 5L, txn: Option[(String, Long)] = None): Long =
    DeltaWrite.writeDeltaTable((lo until lo + n).map(i => (i, i * 10)).toDF("id", "v").coalesce(1),
      t, "append", txn = txn)

  /** Publishes `lines` as the next commit, as a second writer would. */
  private def publish(t: String, lines: String*): Long = {
    val v = DeltaRead.latestVersion(spark, t) + 1
    DeltaWrite.publishCommit(fsOf(t), new Path(t, "_delta_log"), v,
      DeltaActions.commitInfo(None, System.currentTimeMillis(), "WRITE", Nil) +: lines)
    v
  }

  test("a second writer's commit, cleanup, log compaction and RESTORE keep the cache coherent") {
    val t = tmp("graft_snap_steps") + "/t"
    append(t, 0L, txn = Some(("app", 0L)))                                     // v0
    append(t, 5L)                                                              // v1
    val before = coherent(t)
    assert(before.version == 1L && before.files.size == 2)

    // a second writer removes a file, advances its own txn and a domain
    val gone = before.files.head.path
    publish(t, DeltaActions.remove(gone, System.currentTimeMillis(), dataChange = true, None),
      DeltaActions.txn("other", 7L, 123L),
      DeltaActions.domainMetadata("test.domain", "{\"k\":1}"))                  // v2
    val s2 = coherent(t)
    assert(s2.version == 2L && !s2.files.exists(_.path == gone))
    assert(s2.txns.get("other").contains((7L, 123L)) && s2.txns.contains("app"))
    assert(s2.domains.get("test.domain").contains("{\"k\":1}"))

    // checkpoint, then cleanup drops every JSON it covers
    append(t, 10L, txn = Some(("app", 1L)))                                    // v3
    assert(DeltaWrite.checkpoint(spark, t) == 3L)
    DeltaRead.snapshot(spark, t)
    assert(DeltaWrite.cleanupMetadata(spark, t, retentionMs = 0L)
      .contains(f"${3L}%020d.json"))
    assert(coherent(t).version == 3L)
    // v3's JSON is gone, so the cache anchors on v3's checkpoint: the
    // cold lookup above stored it, and the next one decodes nothing and
    // reads none of the checkpoint's bytes (its name, length and mtime
    // identify it)
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    val checkpointLen = fsOf(t).listStatus(new Path(t, "_delta_log"))
      .filter(_.getPath.getName.startsWith(f"${3L}%020d.checkpoint")).map(_.getLen).sum
    val readBefore = stats.getLong("bytesRead").longValue
    assert(jobs(assert(DeltaRead.snapshot(spark, t).version == 3L)) == 0)
    val readDuring = stats.getLong("bytesRead").longValue - readBefore
    assert(checkpointLen > 0 && readDuring < checkpointLen, s"read $readDuring bytes")
    append(t, 15L)                                                             // v4
    append(t, 20L)                                                             // v5
    val s5 = coherent(t)
    assert(s5.version == 5L && s5.txns("app")._1 == 1L)

    // compact v4..v5 into one file and delete the JSONs it covers
    append(t, 25L)                                                             // v6
    DeltaRead.snapshot(spark, t)
    DeltaWrite.compactLog(spark, t, 4L, 6L)
    (4L to 6L).foreach(v => assert(fsOf(t).delete(DeltaRead.commitPath(new Path(t, "_delta_log"), v), false)))
    val s6 = coherent(t)
    assert(s6.version == 6L && s6.files.size == 5)
    assert(append(t, 30L) == 7L)                                               // v7
    coherent(t)

    // RESTORE to the compacted head, then one more commit on top
    assert(DeltaWrite.restore(spark, t, 6L) == 8L)                             // v8
    val s8 = coherent(t)
    assert(s8.files.toSet == s6.files.toSet)
    append(t, 35L)                                                             // v9
    assert(coherent(t).version == 9L)
    assert(DeltaRead.readDeltaTable(spark, t).count() == 30L)
  }

  test("a table deleted and recreated at the same path is never served stale") {
    val t = tmp("graft_snap_recreate") + "/t"
    append(t, 0L)
    append(t, 5L)
    val old = DeltaRead.snapshot(spark, t)
    assert(old.version == 1L)

    // same version numbers, same row counts, different files
    assert(fsOf(t).delete(new Path(t), true))
    append(t, 100L)
    append(t, 105L)
    val fresh = coherent(t)
    assert(fresh.version == 1L)
    assert(fresh.files.map(_.path).toSet.intersect(old.files.map(_.path).toSet).isEmpty)
    assert(fresh.meta.id != old.meta.id)
    assert(DeltaRead.readDeltaTable(spark, t).collect().map(_.getLong(0)).sorted.toSeq ==
      (100L until 110L))

    // fewer versions than the cached head
    DeltaRead.snapshot(spark, t)
    assert(fsOf(t).delete(new Path(t), true))
    append(t, 200L)
    val shorter = coherent(t)
    assert(shorter.version == 0L && shorter.files.size == 1)
  }

  test("time travel below, at and above the cached version; a missing version refuses") {
    val t = tmp("graft_snap_tt") + "/t"
    (0 until 3).foreach(i => append(t, i * 5L))                                // v0..v2
    assert(DeltaRead.snapshot(spark, t).version == 2L)
    // two commits the cache has not seen, published without a snapshot
    val files = DeltaRead.snapshot(spark, t, Some(0L)).files
    publish(t, DeltaActions.remove(files.head.path, 1L, dataChange = true, None)) // v3
    publish(t, DeltaActions.txn("tail", 4L, 5L))                               // v4

    /** Coherence of `version` with v2 cached and served as is. */
    def fromV2(version: Option[Long]): DeltaRead.Snapshot = {
      DeltaRead.clearSnapshotCache()
      val cached = DeltaRead.snapshot(spark, t, Some(2L))
      assert(DeltaRead.snapshot(spark, t, Some(2L)) eq cached)
      coherent(t, version)
    }
    assert(fromV2(Some(1L)).files.size == 2)
    assert(fromV2(Some(2L)).files.size == 3)
    assert(fromV2(Some(3L)).files.size == 2)
    assert(fromV2(None).txns.get("tail").contains((4L, 5L)))

    val msg = "cannot time travel to version 9: no commit 00000000000000000009.json"
    DeltaRead.snapshot(spark, t)
    val warm = intercept[IllegalArgumentException](DeltaRead.snapshot(spark, t, Some(9L)))
    assert(warm.getMessage.contains(msg), warm.getMessage)
    DeltaRead.clearSnapshotCache()
    val cold = intercept[IllegalArgumentException](
      DeltaRead.readDeltaTable(spark, t, versionAsOf = Some(9L)))
    assert(cold.getMessage == warm.getMessage)
  }

  test("a checkpoint storing the DV offset as INT32, as delta-spark writes it, decodes") {
    val t = tmp("graft_snap_dv32") + "/t"
    append(t, 0L, n = 20L)
    DeltaMerge.deleteWhereDv(spark, t, col("id") < 5L)
    val v = DeltaWrite.checkpoint(spark, t)
    val cp = new Path(new Path(t, "_delta_log"), f"$v%020d.checkpoint.parquet")
    val stage = tmp("graft_snap_dv32_stage")
    spark.read.parquet(cp.toString)
      .withColumn("add", col("add").withField("deletionVector.offset",
        col("add.deletionVector.offset").cast("int")))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = fsOf(stage).listStatus(new Path(stage)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fsOf(t).delete(cp, false) && fsOf(t).rename(part, cp))
    DeltaRead.clearSnapshotCache()
    assert(DeltaRead.snapshot(spark, t).files.flatMap(_.dv).flatMap(_.offset).nonEmpty)
    assert(DeltaRead.readDeltaTable(spark, t).collect().map(_.getLong(0)).sorted.toSeq ==
      (5L until 20L))
  }
}
