package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.TextAnalysis

/** Streaming CURATION with admission control — the
  * [[graft.ext.Curation]] pipeline's ingest-forever form: every
  * micro-batch runs the BATCH-LOCAL cleaning stages (PII mask →
  * repetition gate → quality gate → optional perplexity gate, all
  * per-row codegen that cuts rows at the scan stage), then near-dup
  * admission against the already-ACCEPTED corpus — checked on stored
  * SimHash fingerprints alone (one long per accepted doc, the
  * [[IngestDedupSink]] index; the corpus text is never re-read) — plus
  * in-batch near-dup collapse (smaller id wins; exact duplicates are the
  * hamming-0 case, so a separate exact stage is redundant here).
  * Survivors append with their `quality` score.
  *
  * What is deliberately NOT here: the corpus-WIDE stages (boilerplate
  * line removal, substring-level span dedup, connected-component cluster
  * collapse, split assignment, packing) aggregate over the whole corpus
  * and belong to a periodic batch [[graft.ext.Curation.curate]] pass
  * over the accepted set — running them per micro-batch would either
  * re-scan the corpus each trigger or silently change semantics to
  * batch-local. This sink is the admission half; compose both.
  *
  * Exactly-once: the [[IngestDedupSink]] protocol — accepted, then the
  * fingerprint index, each a Delta commit carrying `txn = (AppId,
  * batchId)`; an epoch the index's marker covers is skipped, and a replay
  * after a crash between the two commits admits the identical set (the
  * gates are deterministic per-row expressions and admission reads only
  * committed index rows) while the accepted store skips itself by its
  * own marker. [[compactGenerations]] bin-packs the small files the
  * epochs leave.
  */
object CurationIngestSink {

  /** The `txn` appId of this sink's commits (one writer per store). */
  val AppId = "graft.streaming.CurationIngestSink"

  /** All accepted rows so far; None before the first commit. */
  def readAccepted(spark: SparkSession, acceptedDir: String): Option[DataFrame] =
    IngestDedupSink.readAccepted(spark, acceptedDir)

  /** Bin-pack each store's small files — see
    * [[IngestDedupSink.compactGenerations]] (same stores, same contract).
    */
  def compactGenerations(spark: SparkSession, indexDir: String,
      acceptedDir: String): Long =
    IngestDedupSink.compactGenerations(spark, indexDir, acceptedDir)

  def run(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, acceptedDir: String, checkpoint: String,
      minQuality: Double = 0.5, maxHamming: Int = 3,
      scrubPii: Boolean = false, maxDupNgramFrac: Option[Double] = None,
      perplexityGate: Option[(String, Double)] = None,
      normalizeNfc: Boolean = false,
      compactIndexEvery: Int = 0): StreamingQuery =
    IngestDedupSink.epochs(docs, checkpoint, AppId, Seq(acceptedDir, indexDir),
        compactIndexEvery) { batch =>
      // per-row gates in cleaning order, one codegen'd pass; the
      // normalized/masked text is what fingerprints (NFC first, so a
      // decomposed re-encoding of an accepted doc collapses onto its
      // stored fingerprint instead of re-ingesting as new)
      var cur = batch.select(col(idCol), col(textCol))
      if (normalizeNfc)
        cur = cur.withColumn(textCol,
          TextAnalysis.normalizeUnicode(col(textCol)))
      if (scrubPii)
        cur = cur.withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))
      maxDupNgramFrac.foreach { bound =>
        cur = cur.filter(
          TextAnalysis.dupNgramFraction(col(textCol), 2) <= bound)
      }
      cur = cur
        .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
        .filter(col("quality") >= minQuality)
      perplexityGate.foreach { case (modelId, bound) =>
        cur = cur.filter(
          graft.ext.LangModel.perplexityBits(col(textCol), modelId) <= bound)
      }
      IngestDedupSink.admitText(cur, idCol, textCol, indexDir, maxHamming)
    }
}
