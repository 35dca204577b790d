package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Serializable counting transport for the streaming-sink spec (object =
  * one JVM-wide instance, visible to executors in local mode).
  */
object CountingTransport extends graft.io.UploadTransport {
  val total = new java.util.concurrent.atomic.AtomicLong(0)
  val maxBatch = new java.util.concurrent.atomic.AtomicLong(0)
  override def send(batch: Seq[String]): Int = {
    total.addAndGet(batch.size)
    maxBatch.getAndUpdate(m => math.max(m, batch.size))
    batch.size
  }
}

/** Structured-Streaming specs: the file-source events stream through the
  * watermarked operators, checked against the equivalent batch aggregation.
  */
class StreamingSpec extends SparkSpec {

  // FileStreamSource wants a directory; stage the events file into one.
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Paths.get(tmp("graft_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  private def runToCompletion(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  test("windowed agg over the stream matches the batch aggregation") {
    val stream = EventsStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "click")
    val streamed = runToCompletion(
      EventsStream.windowedAgg(stream, "1 hour", "30 minutes"),
      "stream_windowed", "append")

    val batch = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))

    // The stream (append mode) emits only watermark-closed windows; every
    // emitted window must match the batch result exactly.
    val batchMap = batch.collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val emitted = streamed.collect()
    assert(emitted.nonEmpty)
    emitted.foreach { r =>
      val k = r.getAs[java.sql.Timestamp]("wstart")
      assert(batchMap.contains(k), s"window $k not in batch result")
      assert(batchMap(k) == ((r.getAs[Long]("n"), r.getAs[Double]("sum_value"))), s"window $k differs")
    }
  }

  test("sliding windowed agg over the stream matches the batch hopping aggregation") {
    val streamed = runToCompletion(
      EventsStream.slidingAgg(
        EventsStream.readEvents(spark, eventsDir).filter(col("event_type") === "purchase")),
      "stream_sliding", "append")
    val batch = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("wstart"), col("n"), col("sum_value"))
      .collect().map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val emitted = streamed.collect()
    assert(emitted.nonEmpty)
    emitted.foreach { r =>
      val k = r.getAs[java.sql.Timestamp]("wstart")
      assert(batch.contains(k), s"window $k not in batch")
      assert(batch(k) == ((r.getAs[Long]("n"), r.getAs[Double]("sum_value"))), s"window $k differs")
    }
  }

  test("stream-static broadcast enrichment matches the batch join, stateless") {
    import spark.implicits._
    val dim = Seq(("click", "interactive"), ("view", "passive"), ("purchase", "converting"))
      .toDF("event_type", "kind")
    val enriched = EventsStream.enrich(
      EventsStream.readEvents(spark, eventsDir), dim, "event_type")
      .select(col("event_id"), col("kind"))
    val got = runToCompletion(enriched, "stream_enriched", "append")
    val exp = graft.Tables.events(spark, sf)
      .join(broadcast(dim), Seq("event_type"), "left_outer")
      .select(col("event_id"), col("kind"))
    assert(got.count() == exp.count())
    val gm = got.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    exp.collect().foreach { r =>
      assert(gm(r.getLong(0)) == Option(r.getString(1)))
    }
  }

  test("update-mode windowed agg: last emission per window equals the batch result") {
    val streamed = runToCompletion(
      EventsStream.windowedAgg(
        EventsStream.readEvents(spark, eventsDir).filter(col("event_type") === "view"),
        "1 hour", "30 minutes"),
      "stream_windowed_update", "update")
    // update mode re-emits a window each trigger it changes; the LAST
    // emission per window is the final state.
    val lastPerWindow = streamed.collect()
      .zipWithIndex
      .groupBy(r => (r._1.getAs[java.sql.Timestamp]("wstart"), r._1.getString(2)))
      .map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
    val batch = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("sum_value"))
      .collect()
    assert(batch.nonEmpty && lastPerWindow.size == batch.length)
    batch.foreach { b =>
      val k = (b.getTimestamp(0), b.getString(1))
      val got = lastPerWindow(k)
      assert(got.getAs[Long]("n") == b.getLong(2)
        && got.getAs[Double]("sum_value") == b.getDouble(3), s"window $k differs")
    }
  }

  test("within-watermark dedup drops duplicate event ids") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    val doubled = stream.union(stream) // every event twice
    val deduped = runToCompletion(
      EventsStream.dedupEvents(doubled), "stream_dedup", "append")
    val n = graft.Tables.events(spark, sf).count()
    assert(deduped.count() == n)
  }

  test("flatMapGroupsWithState custom sessions match the batch lag-sessionization") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    val got = runToCompletion(
      EventsStream.customSessions(stream, gapSeconds = 600L).toDF(),
      "stream_custom_sessions", "append")

    // Batch equivalent: lag-based session ids, then per-session aggregates.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = graft.Tables.events(spark, sf)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 600000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("sstart"), max(col("ts")).as("send"),
        count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"),
        countDistinct(col("event_type")).cast("int").as("n_types"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("sstart")) ->
        (r.getAs[java.sql.Timestamp]("send"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value"), r.getAs[Int]("n_types")))
      .toMap

    val emitted = got.collect()
    // Append mode only emits sessions the watermark has closed; each one
    // must match its batch twin exactly.
    assert(emitted.nonEmpty)
    emitted.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("sstart"))
      assert(want.contains(k), s"session $k not in batch sessionization")
      val (send, n, sum, nTypes) = want(k)
      assert(r.getAs[java.sql.Timestamp]("send") == send, s"end differs for $k")
      assert(r.getAs[Long]("n_events") == n, s"count differs for $k")
      assert(math.abs(r.getAs[Double]("sum_value") - sum) < 1e-6, s"sum differs for $k")
      assert(r.getAs[Int]("n_types") == nTypes, s"type count differs for $k")
    }
  }

  test("foreachBatch upload sink drains the stream through the batch transport") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    val ckpt = tmp("graft_sink_ckpt")
    val q = EventsStream.uploadSink(
      stream,
      to_json(struct(col("event_id"), col("event_type"))),
      CountingTransport, batchSize = 100, checkpointDir = ckpt)
    q.processAllAvailable()
    q.stop()
    val n = graft.Tables.events(spark, sf).count()
    assert(CountingTransport.total.get() == n,
      s"expected $n uploaded rows, got ${CountingTransport.total.get()}")
    assert(CountingTransport.maxBatch.get() <= 100)
  }

  test("stream-stream interval join matches the batch attribution join") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    val got = runToCompletion(
      EventsStream.clickViewJoin(stream, horizonSeconds = 600L),
      "stream_click_view", "append")

    val ev = graft.Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val want = clicks.join(views,
        col("c_user") === col("v_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") < col("v_ts") + expr("INTERVAL 600 SECONDS"))
      .select(col("click_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val emitted = got.select(col("click_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    // Inner stream-stream joins emit every match (no watermark gating);
    // a single AvailableNow pass must reproduce the batch join exactly.
    assert(emitted == want,
      s"stream join: ${emitted.size} pairs, batch join: ${want.size}")
  }

  test("left-outer stream-stream join: matches equal batch; nulls only for unmatched clicks") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    val got = runToCompletion(
      EventsStream.clickViewJoinOuter(stream, horizonSeconds = 600L),
      "stream_click_view_outer", "append")

    val ev = graft.Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val batch = clicks.join(views,
        col("c_user") === col("v_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") < col("v_ts") + expr("INTERVAL 600 SECONDS"), "left_outer")
      .select(col("click_id"), col("view_id"))
      .collect()
    val wantMatched = batch.filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantNullClicks = batch.filter(_.isNullAt(1)).map(_.getLong(0)).toSet

    val emitted = got.select(col("click_id"), col("view_id")).collect()
    val gotMatched = emitted.filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotNullClicks = emitted.filter(_.isNullAt(1)).map(_.getLong(0)).toSet

    // Inner matches emit ungated and must be complete; outer (null) rows are
    // watermark-gated, so every emitted one must be a genuine batch
    // non-match, and none may duplicate a matched click.
    assert(gotMatched == wantMatched)
    assert(gotNullClicks.subsetOf(wantNullClicks),
      s"spurious null-view clicks: ${gotNullClicks -- wantNullClicks}")
    assert((gotNullClicks & wantMatched.map(_._1)).isEmpty)
  }

  test("partitioned parquet sink: stream lands in date dirs, reads prune") {
    val stream = EventsStream.readEvents(spark, eventsDir)
    val out = tmp("graft_stream_layout")
    val ckpt = tmp("graft_layout_ckpt")
    val q = EventsStream.partitionedSink(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()

    val dateDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("event_date="))
    assert(dateDirs.length > 1, "expected multiple date partitions")

    val day = dateDirs.map(_.getName.stripPrefix("event_date=")).sorted.head
    val sliced = graft.io.PartitionedLayout.readDay(spark, out, day)
    val want = graft.Tables.events(spark, sf)
      .filter(to_date(col("ts")) === lit(day)).count()
    assert(sliced.count() == want && want > 0)
    val scan = sliced.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no scan"))
    assert(scan.partitionFilters.nonEmpty, "date filter should prune partitions")
  }

  test("restart from checkpoint is exactly-once: old files not reprocessed, new ones picked up") {
    val srcDir = java.nio.file.Paths.get(tmp("graft_restart_src"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), srcDir.resolve("events.parquet"))
    val out = tmp("graft_restart_out")
    val ckpt = tmp("graft_restart_ckpt")
    val baseCount = graft.Tables.events(spark, sf).count()

    val q1 = EventsStream.partitionedSink(
      EventsStream.readEvents(spark, srcDir.toString), out, ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == baseCount)

    // new data arrives while the query is down: shifted event ids so the
    // second batch is distinguishable. Derive it from the staged file's RAW
    // schema (not Tables.events' normalized one) so the new file carries the
    // same physical ts encoding as the rest of the stream dir, whatever the
    // testdata generation shipped (nanos-long / micros-NTZ / micros-UTC).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(srcDir.resolve("events.parquet").toString)
      .withColumn("event_id", col("event_id") + 1000000L)
      .write.parquet(srcDir.resolve("more").toString)
    java.nio.file.Files.move(
      srcDir.resolve("more").toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .head.toPath,
      srcDir.resolve("events2.parquet"))

    val q2 = EventsStream.partitionedSink(
      EventsStream.readEvents(spark, srcDir.toString), out, ckpt)
    q2.processAllAvailable(); q2.stop()

    val all = spark.read.parquet(out)
    assert(all.count() == 2 * baseCount, "restart must process exactly the new file")
    // no duplicates: every event_id appears once
    assert(all.groupBy("event_id").count().filter(col("count") > 1).count() == 0)
  }

  test("incremental agg sink: stream-maintained state equals the batch aggregate; replay is idempotent") {
    val stream = EventsStream.readEvents(spark, eventsDir)
      .select(col("user_id"), col("event_type"), col("value"))
    val stateDir = tmp("graft_incr_state")
    val ckpt = tmp("graft_incr_ckpt")
    val q = IncrementalSink.run(stream, Seq("user_id", "event_type"), "value", stateDir, ckpt)
    q.awaitTermination(120000)

    val got = IncrementalSink.currentState(spark, stateDir)
      .orderBy("user_id", "event_type").collect()
    val want = graft.ext.Incremental.partialAgg(
        graft.Tables.events(spark, sf).select("user_id", "event_type", "value"),
        Seq("user_id", "event_type"), "value")
      .orderBy("user_id", "event_type").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(2) == w.getLong(2), "n")
      assert(math.abs(g.getDouble(3) - w.getDouble(3)) < 1e-9, "sum")
      assert(g.getDouble(4) == w.getDouble(4) && g.getDouble(5) == w.getDouble(5))
    }

    // restart with the same checkpoint and no new data: no commit lands
    val vBefore = graft.io.DeltaRead.latestVersion(spark, stateDir)
    val q2 = IncrementalSink.run(stream, Seq("user_id", "event_type"), "value", stateDir, ckpt)
    q2.awaitTermination(120000)
    assert(graft.io.DeltaRead.latestVersion(spark, stateDir) == vBefore)
  }

  test("complete-mode windowed agg emits the final state of every window") {
    val stream = EventsStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "purchase")
    // complete mode re-emits the whole result table; after AvailableNow the
    // memory sink holds exactly the batch aggregation (no watermark cut).
    val streamed = runToCompletion(
      EventsStream.windowedAgg(stream, "1 hour", "30 minutes"),
      "stream_windowed_complete", "complete")
    val want = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getStruct(0).getTimestamp(0) -> r.getLong(1)).toMap
    val got = streamed.collect()
      .map(r => r.getAs[java.sql.Timestamp]("wstart") -> r.getAs[Long]("n")).toMap
    assert(got == want)
  }

  test("stateful ops run unchanged on the RocksDB state store provider") {
    // HDFS-backed state must fit executor heaps; RocksDB spills state to
    // local disk — the 100 TB-keyspace path. Same query code, one conf.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = EventsStream.readEvents(spark, eventsDir)
      val deduped = runToCompletion(
        EventsStream.dedupEvents(stream.union(stream)), "rocksdb_dedup", "append")
      assert(deduped.count() == graft.Tables.events(spark, sf).count())

      val sessions = runToCompletion(
        EventsStream.sessionAgg(stream.filter(col("user_id") === 2),
          "10 minutes", "30 minutes"),
        "rocksdb_sessions", "append")
      assert(sessions.count() > 0)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("streaming ingest dedup: batches admit only novel docs, index grows append-only") {
    import spark.implicits._
    val base = tmp("graft_ingest")
    val srcDir = s"$base/src"
    val indexDir = s"$base/index"
    val acceptedDir = s"$base/accepted"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))

    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/stage_$name")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/stage_$name"))
        .iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p,
            java.nio.file.Paths.get(srcDir, s"$name.parquet"))
          moved = true
        }
      }
    }

    val novel = "the quick brown fox jumps over the lazy dog near the river bank today"
    stage("b0", Seq(
      (1L, novel),
      (2L, novel), // within-batch dup of 1 → rejected (smaller id wins)
      (3L, "completely different words about spark shuffles and partition pruning")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = IngestDedupSink.run(stream, "doc_id", "text",
        indexDir, acceptedDir, s"$base/ckpt")
      q.awaitTermination(120000)
    }
    runOnce()
    val accepted1 = IngestDedupSink.readAccepted(spark, acceptedDir).get
      .select("doc_id").as[Long].collect().sorted
    assert(accepted1.toSeq == Seq(1L, 3L), accepted1.toSeq.toString)

    // second batch: a corpus dup (vs doc 1) and a fresh doc
    stage("b1", Seq(
      (10L, novel), // near-dups the ACCEPTED corpus → rejected via the index
      (11L, "yet another unrelated document describing columnar storage formats")))
    runOnce()
    val allAccepted = IngestDedupSink.readAccepted(spark, acceptedDir).get
      .select("doc_id").as[Long].collect().sorted
    assert(allAccepted.toSeq == Seq(1L, 3L, 11L), allAccepted.toSeq.toString)
    val idx = IngestDedupSink.readIndex(spark, indexDir).get
    assert(idx.count() == 3L)
    assert(idx.columns.toSeq == Seq("id", "sh"))
  }

  test("streaming embedding ingest dedup: cosine near-dups rejected vs corpus and in-batch") {
    import spark.implicits._
    val base = tmp("graft_embed_ingest")
    val srcDir = s"$base/src"
    val stateDir = s"$base/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))

    val dim = 8
    def unit(axis: Int): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)
    def near(axis: Int, eps: Float): Seq[Float] =
      Seq.tabulate(dim)(i =>
        if (i == axis) 1.0f else if (i == (axis + 1) % dim) eps else 0.0f)

    def stage(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/stage_$name")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/stage_$name"))
        .iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p,
            java.nio.file.Paths.get(srcDir, s"$name.parquet"))
          moved = true
        }
      }
    }

    stage("b0", Seq(
      (1L, unit(0)),
      (2L, near(0, 0.05f)), // in-batch near-dup of 1 (cos ≈ 0.999) → rejected
      (3L, unit(3))))       // orthogonal → accepted
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = EmbedIngestDedupSink.run(stream, "vec_id", "embedding",
        stateDir, s"$base/ckpt", threshold = 0.9, dim = dim)
      q.awaitTermination(120000)
    }
    runOnce()
    val a0 = EmbedIngestDedupSink.readAccepted(spark, stateDir).get
      .select("vec_id").as[Long].collect().sorted
    assert(a0.toSeq == Seq(1L, 3L), a0.toSeq.toString)

    stage("b1", Seq(
      (10L, near(0, 0.03f)), // near-dups ACCEPTED vec 1 → rejected via the index
      (11L, unit(5))))       // novel axis → accepted
    runOnce()
    val all = EmbedIngestDedupSink.readAccepted(spark, stateDir).get
      .select("vec_id").as[Long].collect().sorted
    assert(all.toSeq == Seq(1L, 3L, 11L), all.toSeq.toString)
    // state grew append-only: 3 surviving vectors, bands rows = 3 × 32
    assert(EmbedIngestDedupSink.readVecs(spark, stateDir).get.count() == 3L)
    assert(EmbedIngestDedupSink.readBands(spark, stateDir).get.count() == 3L * 32)
  }

  test("session windows close after the gap and count per user") {
    val stream = EventsStream.readEvents(spark, eventsDir)
      .filter(col("user_id") === 1)
    val sessions = runToCompletion(
      EventsStream.sessionAgg(stream, "10 minutes", "30 minutes"),
      "stream_sessions", "append")
    val rows = sessions.collect()
    assert(rows.nonEmpty)
    // session invariants: end >= start, positive event counts
    rows.foreach { r =>
      assert(!r.getAs[java.sql.Timestamp]("send").before(r.getAs[java.sql.Timestamp]("sstart")))
      assert(r.getAs[Long]("n_events") >= 1L)
    }
  }
}
