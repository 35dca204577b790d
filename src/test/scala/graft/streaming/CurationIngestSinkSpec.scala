package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

class CurationIngestSinkSpec extends SparkSpec {
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

  test("gates + corpus admission: quality/repetition cut, PII variants collapse, replays add nothing") {
    val base = tmp("graft_curation_ingest")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))

    val clean = "the quick brown fox jumps over the lazy dog beside a quiet river bank"
    val other = "columnar storage formats enable predicate pushdown and efficient scans today"
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = CurationIngestSink.run(stream, "doc_id", "text",
        s"$base/index", s"$base/accepted", s"$base/ckpt",
        minQuality = 0.3, scrubPii = true, maxDupNgramFrac = Some(0.5))
      q.awaitTermination(120000)
    }

    stage(srcDir, base, "b0", Seq(
      (1L, clean + " contact alice@example.com"),
      (2L, "a a a a a a a a a a a a a a a a a a a a"), // repetition gate
      (3L, "x"),                                       // quality gate (degenerate)
      (4L, other)))
    runOnce()
    val a0 = CurationIngestSink.readAccepted(spark, s"$base/accepted").get
      .select("doc_id").as[Long].collect().sorted
    assert(a0.toSeq == Seq(1L, 4L), a0.toSeq.toString)
    // survivors carry their quality score
    assert(CurationIngestSink.readAccepted(spark, s"$base/accepted").get
      .columns.contains("quality"))

    // batch 1: a PII-ONLY variant of an ACCEPTED doc — scrubbing maps both
    // to the same placeholder text, so the fingerprints collide exactly
    stage(srcDir, base, "b1", Seq(
      (10L, clean + " contact bob@example.com"),
      (11L, "stream processing with watermarks handles late arriving events gracefully")))
    runOnce()
    val all = CurationIngestSink.readAccepted(spark, s"$base/accepted").get
      .select("doc_id").as[Long].collect().sorted
    assert(all.toSeq == Seq(1L, 4L, 11L), all.toSeq.toString)

    // a rerun with nothing new replays no batch and admits nothing
    runOnce()
    assert(CurationIngestSink.readAccepted(spark, s"$base/accepted").get
      .count() == 3L)
  }

  test("NFC gate: a decomposed re-encoding of an accepted doc collapses onto its fingerprint") {
    val base = tmp("graft_curation_nfc")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = CurationIngestSink.run(stream, "doc_id", "text",
        s"$base/index", s"$base/accepted", s"$base/ckpt",
        minQuality = 0.3, normalizeNfc = true)
      q.awaitTermination(120000)
    }
    val composed = "caf\u00e9 latte reviews from the quiet corner of the old market square"
    stage(srcDir, base, "b0", Seq((1L, composed)))
    runOnce()
    // the SAME text, decomposed (every é as e + combining acute): without
    // NFC its fingerprint differs and it re-ingests as a new document
    stage(srcDir, base, "b1", Seq(
      (10L, composed.replace("\u00e9", "e\u0301")),
      (11L, "columnar formats enable predicate pushdown and efficient scans")))
    runOnce()
    val ids = CurationIngestSink.readAccepted(spark, s"$base/accepted").get
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 11L), s"decomposed re-encoding must be rejected: $ids")
  }

  test("end-to-end: WebDataset shards stream into curation admission") {
    // the full multimodal ingest path: a producer packs samples as tar
    // shards; the streaming reader tails them; curation admits novel docs
    import graft.ext.WebDataset
    val base = tmp("graft_wds_curation")
    val shardDir = s"$base/shards"
    Files.createDirectories(Paths.get(shardDir))
    def ship(n: Int, rows: Seq[(String, String)]): Unit = {
      val stage = tmp("graft_wds_cur_stage")
      WebDataset.writeShards(rows.toDF("key", "text"), "key",
        Seq("txt" -> "text"), stage)
      val tars = Files.list(Paths.get(stage)).iterator()
      while (tars.hasNext) {
        val p = tars.next()
        if (p.getFileName.toString.endsWith(".tar"))
          Files.move(p, Paths.get(shardDir, s"in-$n-${p.getFileName}"))
      }
    }
    def runOnce(): Unit = {
      val samples = WebDataset.readShardsStream(spark, shardDir)
        .filter(col("ext") === "txt")
        .select(
          // webdataset keys are strings; the sink wants a numeric doc id
          regexp_extract(col("key"), "(\\d+)", 1).cast("long").as("doc_id"),
          col("content").cast("string").as("text"))
      val q = CurationIngestSink.run(samples, "doc_id", "text",
        s"$base/index", s"$base/accepted", s"$base/ckpt", minQuality = 0.3)
      q.awaitTermination(120000)
    }
    val doc = "the shard borne document describing lakehouse ingestion patterns at scale"
    ship(0, Seq(("doc-001", doc),
      ("doc-002", "columnar storage formats enable predicate pushdown and efficient scans today")))
    runOnce()
    // a later shard re-ships doc-001's text under a new key → rejected
    ship(1, Seq(("doc-003", doc),
      ("doc-004", "stream processing with watermarks handles late arriving events gracefully")))
    runOnce()
    val ids = CurationIngestSink.readAccepted(spark, s"$base/accepted").get
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L), s"shard→curation admission: $ids")
  }
}
