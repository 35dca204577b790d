package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{DeltaMerge, DeltaRead, DeltaWrite}

/** The streaming change tail ([[DeltaChangeSource]]): version-offset
  * micro-batches over a Delta table's DML history, with and without a
  * recorded change feed, including exactly-once recovery from a
  * checkpoint.
  */
class DeltaChangeSourceSpec extends SparkSpec {
  import spark.implicits._

  private def baseTable(path: String): Unit = {
    val df = (1L to 20L).map(i => (i, i * 100L)).toDF("id", "cents")
      .repartition(1)
    DeltaWrite.writeDeltaTable(df, path, "append") // v0
  }

  private def readTail(path: String, starting: String): DataFrame =
    spark.readStream
      .format("graft.streaming.DeltaChangeSource")
      .option("path", path)
      .option("startingVersion", starting)
      .load()

  private def canon(rows: Seq[Row]): Seq[(Long, Long, String, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._4, t._3, t._1, t._2))

  test("earliest replay over DV + COW history equals the batch changeDiff") {
    val path = tmp("graft_tail_") + "/t"
    baseTable(path)
    DeltaMerge.deleteWhereDv(spark, path, col("id") % 5 === 0) // v1: DV delete
    DeltaMerge.updateWhere(spark, path, col("id") % 3 === 0,
      Map("cents" -> (col("cents") + 7))) // v2: COW rewrite
    DeltaMerge.updateWhereDv(spark, path, col("id") % 2 === 0,
      Map("cents" -> (col("cents") + 1))) // v3: DV shadow + re-append

    val q = readTail(path, "earliest").writeStream
      .format("memory").queryName("tail_earliest").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = canon(spark.table("tail_earliest").collect().toSeq)
    val batch = canon(DeltaRead.changeDiff(spark, path, -1L)
      .select(col("id"), col("cents"), col("_change_type"), col("_commit_version"))
      .collect().toSeq)
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.exists(_._3 == "insert") &&
      batch.exists(_._3 == "delete"))
  }

  test("latest tails only post-start commits; checkpoint restart re-serves nothing") {
    val path = tmp("graft_tail_") + "/t"
    val ckpt = tmp("graft_tail_ckpt_")
    baseTable(path)

    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Long)]()
    def start() = readTail(path, "latest").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => got.add(
          (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))))
        ()
      }.start()

    val q1 = start()
    q1.processAllAvailable()
    assert(got.isEmpty, "a 'latest' tail must not replay the base append")

    DeltaMerge.deleteWhereDv(spark, path, col("id") === 7L) // v1
    q1.processAllAvailable()
    q1.stop()
    val phase1 = got.toArray(Array.empty[(Long, Long, String, Long)]).toSeq
    assert(phase1.toSet == Set((7L, 700L, "delete", 1L)))

    // a commit while the stream is DOWN, then recovery from the checkpoint:
    // the new range arrives once, the old range never re-arrives
    DeltaMerge.updateWhereDv(spark, path, col("id") === 4L,
      Map("cents" -> lit(9L))) // v2
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val all = got.toArray(Array.empty[(Long, Long, String, Long)]).toSeq
    assert(all.size == 3, s"expected exactly 3 change rows total, got $all")
    assert(all.toSet == Set((7L, 700L, "delete", 1L),
      (4L, 400L, "delete", 2L), (4L, 9L, "insert", 2L)))
  }

  test("startingTimestamp serves changes committed at or after the instant") {
    val path = tmp("graft_tail_ts_") + "/t"
    baseTable(path)                                            // v0
    DeltaMerge.deleteWhereDv(spark, path, col("id") === 3L)    // v1
    DeltaMerge.deleteWhereDv(spark, path, col("id") === 8L)    // v2
    val commits = DeltaRead.commitTimestamps(spark, path).toMap
    // commit wall-clocks can collide at ms resolution — make v2 strictly
    // later than v1 for an unambiguous boundary, else skip (rare)
    assume(commits(2L) > commits(1L), "need distinct commit timestamps")

    // exactly AT v2's timestamp: v2 included, v1 not
    val q = spark.readStream
      .format("graft.streaming.DeltaChangeSource")
      .option("path", path)
      .option("startingTimestamp", commits(2L).toString)
      .load().writeStream.format("memory").queryName("tail_ts").start()
    try q.processAllAvailable() finally q.stop()
    val got = canon(spark.table("tail_ts").collect().toSeq)
    assert(got == Seq((8L, 800L, "delete", 2L)), got.toString)

    // a timestamp past every commit = latest (nothing yet, future only)
    val ckpt2 = tmp("graft_tail_ts_ckpt_")
    val q2 = spark.readStream
      .format("graft.streaming.DeltaChangeSource")
      .option("path", path)
      .option("startingTimestamp", (commits(2L) + 60000L).toString)
      .load().writeStream.option("checkpointLocation", ckpt2)
      .format("memory").queryName("tail_ts_future").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("tail_ts_future").isEmpty)

    // both start options together refuse
    val e = intercept[Exception] {
      val qq = spark.readStream
        .format("graft.streaming.DeltaChangeSource")
        .option("path", path)
        .option("startingVersion", "0")
        .option("startingTimestamp", "0")
        .load().writeStream.format("memory").queryName("tail_ts_bad").start()
      try qq.processAllAvailable() finally qq.stop()
    }
    assert(e.getMessage != null)
  }

  test("a partitioned table's tail carries the log-resident partition values") {
    val path = tmp("graft_tail_") + "/t"
    val df = (1L to 12L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par").repartition(1)
    DeltaWrite.writeDeltaTable(df, path, "append", partitionBy = Seq("par")) // v0
    DeltaMerge.deleteWhereDv(spark, path, col("id") === 4L) // v1

    val q = readTail(path, "earliest").writeStream
      .format("memory").queryName("tail_part").start()
    try q.processAllAvailable() finally q.stop()

    val rows = spark.table("tail_part")
      .select("id", "par", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(rows.count(_._3 == "insert") == 12)
    assert(rows.filter(_._3 == "delete") == Seq((4L, "even", "delete", 1L)))
    assert(rows.forall(r => r._2 == (if (r._1 % 2 == 0) "even" else "odd")),
      "partition values must come through the log, never as NULL")
  }

  test("maxVersionsPerBatch drains a backlog in bounded epochs under Trigger.AvailableNow") {
    val path = tmp("graft_tail_") + "/t"
    baseTable(path) // v0
    // a 10-commit backlog: 9 more single-row DML commits
    (1 to 9).foreach { i =>
      DeltaMerge.updateWhereDv(spark, path, col("id") === i.toLong,
        Map("cents" -> lit(i * 1000L))) // v1..v9
    }
    val epochs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val q = spark.readStream
      .format("graft.streaming.DeltaChangeSource")
      .option("path", path)
      .option("startingVersion", "earliest")
      .option("maxVersionsPerBatch", "3")
      .load()
      .writeStream
      .option("checkpointLocation", tmp("graft_tail_ckpt_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        epochs.add((id, df.select("_commit_version").as[Long](
          org.apache.spark.sql.Encoders.scalaLong).collect().toSeq))
        ()
      }.start()
    assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
    val served = epochs.toArray(Array.empty[(Long, Seq[Long])]).toSeq
    // 10 versions (0..9) at <=3 versions/epoch: the engine's single-batch
    // FALLBACK would serve everything in ONE epoch — >=4 non-empty epochs
    // proves native SupportsTriggerAvailableNow + admission control
    val nonEmpty = served.filter(_._2.nonEmpty)
    assert(nonEmpty.size >= 4, s"expected >=4 bounded epochs, got $served")
    assert(nonEmpty.forall { case (_, vs) => vs.distinct.size <= 3 },
      s"an epoch exceeded maxVersionsPerBatch: $served")
    // and the drain is complete + exactly-once: multiset equals the batch diff
    val streamedAll = served.flatMap(_._2).sorted
    val batchAll = DeltaRead.changeDiff(spark, path, -1L)
      .select("_commit_version").as[Long].collect().toSeq.sorted
    assert(streamedAll == batchAll)
  }

  test("mid-drain crash + restart preserves exactly-once across bounded epochs") {
    val path = tmp("graft_tail_") + "/t"
    val ckpt = tmp("graft_tail_ckpt_")
    baseTable(path) // v0
    (1 to 5).foreach { i =>
      DeltaMerge.deleteWhereDv(spark, path, col("id") === i.toLong) // v1..v5
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Long)]()
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start(crashOnSecondEpoch: Boolean) = spark.readStream
      .format("graft.streaming.DeltaChangeSource")
      .option("path", path)
      .option("startingVersion", "earliest")
      .option("maxVersionsPerBatch", "2")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        // crash BEFORE observing the epoch's rows: the engine never
        // commits it, so the restart must re-serve exactly this range
        if (crashOnSecondEpoch && id == 1L && crashed.compareAndSet(false, true))
          throw new RuntimeException("injected mid-drain crash")
        df.collect().foreach(r => got.add(
          (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))))
        ()
      }.start()

    val q1 = start(crashOnSecondEpoch = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashed.get, "the injected crash must have fired")
    val q2 = start(crashOnSecondEpoch = false)
    assert(q2.awaitTermination(120000), "recovery drain must terminate")

    val all = got.toArray(Array.empty[(Long, Long, String, Long)]).toSeq
      .sortBy(t => (t._4, t._3, t._1, t._2))
    val batch = canon(DeltaRead.changeDiff(spark, path, -1L)
      .select(col("id"), col("cents"), col("_change_type"), col("_commit_version"))
      .collect().toSeq)
    assert(all == batch,
      s"exactly-once violated: streamed ${all.size} rows vs batch ${batch.size}")
  }

  test("an 'earliest' bootstrap over cleaned history fails loudly, never truncates") {
    val path = tmp("graft_tail_") + "/t"
    baseTable(path)                                                     // v0
    DeltaMerge.deleteWhereDv(spark, path, col("id") === 3L)             // v1
    DeltaMerge.deleteWhereDv(spark, path, col("id") === 4L)             // v2
    DeltaWrite.checkpoint(spark, path)                                  // cp @ v2
    DeltaWrite.writeDeltaTable(
      Seq((100L, 1L)).toDF("id", "cents"), path, "append")              // v3
    DeltaWrite.cleanupMetadata(spark, path, retentionMs = 0L) // drops v0-v2 JSONs
    val q = readTail(path, "earliest").writeStream
      .format("memory").queryName("tail_cleaned").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    q.stop()
    assert(e.getCause != null &&
      String.valueOf(e.getCause.getMessage).contains("cleaned"),
      s"expected the loud cleaned-history refusal, got: ${e.getCause}")
  }

  test("'latest' start version is resolved once and persisted under metadataPath") {
    val path = tmp("graft_tail_") + "/t"
    val meta = tmp("graft_tail_meta_")
    baseTable(path) // v0: head = 0
    val first = DeltaChangeSource.resolveStartVersion(spark, path, meta, "latest")
    assert(first == 0L)
    // head moves while the stream is "down" — recovery must NOT re-resolve
    DeltaMerge.deleteWhereDv(spark, path, col("id") === 1L) // v1
    DeltaMerge.deleteWhereDv(spark, path, col("id") === 2L) // v2
    val recovered = DeltaChangeSource.resolveStartVersion(spark, path, meta, "latest")
    assert(recovered == first,
      s"restart re-resolved 'latest' to $recovered (head moved) — the " +
        "batch-0 range would be permanently lost")
  }

  test("a CDF-recording table serves update pre/post images through the tail") {
    val path = tmp("graft_tail_") + "/t"
    baseTable(path)
    DeltaWrite.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    DeltaMerge.updateWhere(spark, path, col("id") === 3L,
      Map("cents" -> (col("cents") + 50))) // v2, records cdc files

    val q = readTail(path, "1").writeStream
      .format("memory").queryName("tail_cdf").start()
    try q.processAllAvailable() finally q.stop()

    val types = spark.table("tail_cdf")
      .filter(col("id") === 3L).select("_change_type")
      .as[String].collect().toSet
    assert(types == Set("update_preimage", "update_postimage"),
      s"expected the RECORDED feed's image pairs, got $types")
  }
}
