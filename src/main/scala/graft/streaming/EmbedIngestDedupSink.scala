package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Similarity
import graft.io.DeltaWrite

/** Streaming EMBEDDING ingest with near-dup admission control — the
  * [[IngestDedupSink]] pattern for vector corpora (multimodal pipelines
  * dedup on embeddings, not text): every micro-batch sign-LSH-bands
  * itself, rejects rows whose exact cosine against a banded CANDIDATE set
  * of the accepted corpus reaches the threshold (corpus vectors are
  * fetched per candidate — the corpus is never re-banded, cost scales
  * with the batch), drops in-batch dups (smaller id wins), then appends
  * survivors + their band rows + their vectors.
  *
  * State: three Delta tables under `stateDir` — `accepted` (original
  * rows), `vecs` (id, vec, nrm) and `bands` (id, band, h), written in that
  * order, each commit carrying `txn = (AppId, batchId)` — the
  * [[IngestDedupSink]] protocol with `bands` as the last store: an epoch
  * its marker covers is skipped, admission reads only committed band rows
  * (a candidate's vector is fetched by id, so vectors committed ahead of
  * their bands are never consulted), and on replay each store that
  * committed before a crash skips itself. [[compactGenerations]]
  * bin-packs the small files the epochs leave.
  */
object EmbedIngestDedupSink {

  /** The `txn` appId of this sink's commits (one writer per store). */
  val AppId = "graft.streaming.EmbedIngestDedupSink"

  private val Stores = Seq("accepted", "vecs", "bands")

  /** All committed band rows / vector rows / accepted rows; None before
    * the first commit.
    */
  def readBands(spark: SparkSession, stateDir: String): Option[DataFrame] =
    DeltaStreamSink.readTable(spark, s"$stateDir/bands")
  def readVecs(spark: SparkSession, stateDir: String): Option[DataFrame] =
    DeltaStreamSink.readTable(spark, s"$stateDir/vecs")
  def readAccepted(spark: SparkSession, stateDir: String): Option[DataFrame] =
    DeltaStreamSink.readTable(spark, s"$stateDir/accepted")

  /** Bin-pack each store's small files ([[DeltaWrite.compact]], bands
    * last). Returns the bands compaction version, -1 when nothing
    * qualified.
    */
  def compactGenerations(spark: SparkSession, stateDir: String): Long =
    Stores.map(s => DeltaWrite.compact(spark, s"$stateDir/$s")).last

  def run(vectors: DataFrame, idCol: String, vecCol: String,
      stateDir: String, checkpoint: String, threshold: Double, dim: Int,
      bands: Int = 32, rowsPerBand: Int = 8, seed: Long = 42L): StreamingQuery = {
    val planes = Similarity.hyperplanes(dim, bands * rowsPerBand, seed)
    IngestDedupSink.epochs(vectors, checkpoint, AppId,
        Stores.map(s => s"$stateDir/$s"), compactLastEvery = 0) { batch =>
      val spark = batch.sparkSession
      val b = batch.select(col(idCol), col(vecCol)).localCheckpoint()
      val vsCorpus = for {
        idx <- readBands(spark, stateDir); vecs <- readVecs(spark, stateDir)
      } yield Similarity.nearDupsAgainstBandIndex(
        b, idCol, vecCol, idx, vecs, threshold, planes, bands)
        .select(col("new_id").as("__loser"))
      // in-batch: the banded exact-verify pair set, greater id loses
      val vsBatch = Similarity.nearDupPairsBanded(
        b, idCol, vecCol, threshold, dim, bands, rowsPerBand, seed)
        .select(col("id_b").as("__loser"))
      val survivors = IngestDedupSink.survivorsOf(b, idCol, vsCorpus.toSeq :+ vsBatch)
      Seq(survivors,
        Similarity.vectorStoreRows(survivors, idCol, vecCol),
        Similarity.bandIndexRows(survivors, idCol, vecCol, planes, bands))
    }
  }
}
