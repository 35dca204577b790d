package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.io.{DeltaRead, DeltaWrite}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The ingest sinks' Delta stores: compaction mid-stream and on a schedule,
  * replay after a wiped checkpoint, an epoch that admits nothing, and the
  * refusal of the per-batch layout the stores had before they were Delta
  * tables. Crash recovery is [[SinkCrashSpec]]'s.
  */
class IngestSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def stage(srcDir: String, base: String, name: String,
      rows: Seq[(Long, String)]): Unit = {
    rows.toDF("doc_id", "text").coalesce(1)
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

  private def fs(base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def liveFiles(store: String): Int =
    DeltaRead.readDeltaTable(spark, store).inputFiles.length

  test("20-batch stream: mid-stream compaction folds to one generation; restart replays nothing") {
    val base = tmp("graft_bm_gen")
    val srcDir = s"$base/src"
    val indexDir = s"$base/index"
    val acceptedDir = s"$base/accepted"
    Files.createDirectories(Paths.get(srcDir))

    // 20 distinct docs, one file each; maxFilesPerTrigger=1 → 20 batches
    def doc(i: Int) = (i.toLong,
      s"unique document number $i talking about topic${i * 7} and subject${i * 13} at length")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = IngestDedupSink.run(stream, "doc_id", "text",
        indexDir, acceptedDir, s"$base/ckpt")
      q.awaitTermination(240000)
    }

    (0 until 10).foreach(i => stage(srcDir, base, f"f$i%02d", Seq(doc(i))))
    runOnce()
    assert(liveFiles(indexDir) == 10, "expected one file per batch")
    val n0 = IngestDedupSink.readIndex(spark, indexDir).get.count()
    assert(n0 == 10L)

    // mid-stream compaction: each store's batch files bin-pack into one
    assert(IngestDedupSink.compactGenerations(spark, indexDir, acceptedDir) >= 0L)
    assert(liveFiles(indexDir) == 1 && liveFiles(acceptedDir) == 1)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 10L)
    assert(IngestDedupSink.readAccepted(spark, acceptedDir).get.count() == 10L)

    // stream continues past the compaction: 10 more batches land
    (10 until 20).foreach(i => stage(srcDir, base, f"f$i%02d", Seq(doc(i))))
    runOnce()
    assert(liveFiles(indexDir) == 11)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 20L)

    // restart with a WIPED checkpoint: every re-numbered batch is covered
    // by the stores' txn marks — nothing reprocesses
    val indexVersion = DeltaRead.latestVersion(spark, indexDir)
    assert(fs(base).delete(new Path(s"$base/ckpt"), true))
    runOnce()
    assert(DeltaRead.latestVersion(spark, indexDir) == indexVersion)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 20L)
    assert(IngestDedupSink.readAccepted(spark, acceptedDir).get.count() == 20L)

    // a second compaction folds the later batches into one file again
    assert(IngestDedupSink.compactGenerations(spark, indexDir, acceptedDir) >= 0L)
    assert(liveFiles(indexDir) == 1)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 20L)
    val ids = IngestDedupSink.readAccepted(spark, acceptedDir).get
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 20L), ids.toString)
  }

  test("compactIndexEvery folds generations automatically mid-stream") {
    val base = tmp("graft_bm_auto")
    val srcDir = s"$base/src"
    val indexDir = s"$base/index"
    Files.createDirectories(Paths.get(srcDir))
    (0 until 6).foreach(i => stage(srcDir, base, f"f$i%02d", Seq((i.toLong,
      s"distinct auto-compaction doc number $i about theme${i * 11} and area${i * 17}"))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = IngestDedupSink.run(stream, "doc_id", "text",
      indexDir, s"$base/accepted", s"$base/ckpt", compactIndexEvery = 3)
    q.awaitTermination(240000)
    // 6 batches, compaction every 3: the last batch compacts the index to
    // one file; accepted (never compacted automatically) keeps a file per batch
    assert(liveFiles(indexDir) == 1, "auto-compaction did not run")
    assert(liveFiles(s"$base/accepted") == 6)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 6L)
    assert(IngestDedupSink.readAccepted(spark, s"$base/accepted").get.count() == 6L)
  }

  test("embed-sink generation fold: all three stores compact, admission state intact") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val base = tmp("graft_bm_embed")
    val srcDir = s"$base/src"
    val state = s"$base/state"
    Files.createDirectories(Paths.get(srcDir))
    val vschema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def vec(axis: Int, i: Int): Seq[Float] = {
      val v = Array.fill(8)(0.0f); v(axis) = 10f + i; v.toSeq
    }
    def stageV(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/stage_$name")
      val part = Files.list(Paths.get(s"$base/stage_$name")).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.move(p, Paths.get(srcDir, s"$name.parquet")); moved = true
        }
      }
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(vschema).parquet(srcDir)
      val q = EmbedIngestDedupSink.run(stream, "vec_id", "embedding",
        state, s"$base/ckpt", threshold = 0.95, dim = 8)
      q.awaitTermination(120000)
    }
    stageV("b0", Seq((1L, vec(0, 0)), (2L, vec(1, 0))))
    runOnce()
    stageV("b1", Seq((3L, vec(2, 0)), (4L, vec(0, 0)))) // 4 near-dups 1 → rejected
    runOnce()
    assert(EmbedIngestDedupSink.readVecs(spark, state).get.count() == 3L)

    assert(EmbedIngestDedupSink.compactGenerations(spark, state) >= 0L)
    Seq("bands", "vecs", "accepted").foreach { sub =>
      assert(liveFiles(s"$state/$sub") == 1, s"$sub did not compact")
    }
    assert(EmbedIngestDedupSink.readVecs(spark, state).get.count() == 3L)
    assert(EmbedIngestDedupSink.readAccepted(spark, state).get
      .select("vec_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // admission still works against the compacted index; replay adds nothing
    stageV("b2", Seq((5L, vec(1, 0)), (6L, vec(3, 0)))) // 5 near-dups 2
    runOnce()
    assert(EmbedIngestDedupSink.readAccepted(spark, state).get
      .select("vec_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 6L))
    val fs2 = fs(base)
    assert(fs2.delete(new Path(s"$base/ckpt"), true))
    runOnce()
    assert(EmbedIngestDedupSink.readAccepted(spark, state).get.count() == 4L)
  }

  test("an epoch whose survivors are all rejected advances its txn and adds no rows") {
    val base = tmp("graft_bm_empty")
    val srcDir = s"$base/src"
    val indexDir = s"$base/index"
    val acceptedDir = s"$base/accepted"
    Files.createDirectories(Paths.get(srcDir))
    val doc = "the quick brown fox jumps over the lazy dog beside a quiet river"
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = IngestDedupSink.run(stream, "doc_id", "text",
        indexDir, acceptedDir, s"$base/ckpt")
      q.awaitTermination(120000)
    }
    stage(srcDir, base, "b0", Seq((1L, doc)))
    runOnce()
    stage(srcDir, base, "b1", Seq((2L, doc), (3L, doc))) // both dup accepted doc 1
    runOnce()
    Seq(indexDir, acceptedDir).foreach { store =>
      assert(DeltaWrite.lastTxnVersion(spark, store, IngestDedupSink.AppId) == 1L, store)
    }
    assert(IngestDedupSink.readAccepted(spark, acceptedDir).get
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 1L)
  }

  test("a store in the per-batch directory layout is refused, not read as empty") {
    val base = tmp("graft_bm_old")
    // the layouts the sinks kept before their stores were Delta tables
    Seq((1L, 7L)).toDF("id", "sh").write.parquet(s"$base/index/b0")
    Seq((1L, "x")).toDF("doc_id", "text").write.parquet(s"$base/accepted/g3")
    Seq(("u", 1L)).toDF("k", "n").write.parquet(s"$base/state/v5")
    val refusals = Seq(
      () => IngestDedupSink.readIndex(spark, s"$base/index"),
      () => IngestDedupSink.readAccepted(spark, s"$base/accepted"),
      () => IngestDedupSink.run(spark.readStream.schema(schema).parquet(base),
        "doc_id", "text", s"$base/index", s"$base/fresh", s"$base/ckpt"),
      () => IncrementalSink.run(spark.readStream.schema(schema).parquet(base),
        Seq("text"), "doc_id", s"$base/state", s"$base/ckpt2"))
    refusals.foreach { f =>
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains("no _delta_log"), e.getMessage)
    }
    // an absent or empty store is simply not written yet
    assert(IngestDedupSink.readIndex(spark, s"$base/absent").isEmpty)
    assert(IngestDedupSink.readIndex(spark, tmp("graft_bm_empty_store")).isEmpty)
  }
}
