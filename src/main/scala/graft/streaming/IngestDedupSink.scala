package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.Dedup
import graft.io.DeltaWrite

/** Streaming corpus ingest with near-dup ADMISSION CONTROL: every
  * micro-batch fingerprints itself (one long per doc), rejects rows that
  * near-dup the already-accepted corpus (checked against the persisted
  * [[Dedup.simhashIndex]] — the corpus is never re-hashed) or each other
  * (smaller id wins inside the batch), then appends the survivors and
  * their fingerprints. Both stores are append-only Delta tables, so state
  * grows by |survivors| per trigger and a reader is a snapshot scan.
  *
  * Exactly-once: each epoch appends to the accepted store, then to the
  * index, each through [[DeltaStreamSink.writeBatch]] — the rows and the
  * `txn = (AppId, batchId)` marker land in one atomic commit per store.
  * An epoch the INDEX's marker already covers is skipped. A replay after a
  * crash between the two commits re-derives the same survivors (admission
  * reads only committed index rows, and every stage is deterministic), and
  * the accepted store skips its own write by its marker.
  * [[compactGenerations]] bin-packs the small files the epochs leave.
  */
object IngestDedupSink {

  /** The `txn` appId of this sink's commits (one writer per store). */
  val AppId = "graft.streaming.IngestDedupSink"

  /** All committed index rows (id, sh); None before the first commit. */
  def readIndex(spark: SparkSession, indexDir: String): Option[DataFrame] =
    DeltaStreamSink.readTable(spark, indexDir)

  /** All accepted rows; None before the first commit. */
  def readAccepted(spark: SparkSession, acceptedDir: String): Option[DataFrame] =
    DeltaStreamSink.readTable(spark, acceptedDir)

  /** Bin-pack the small files of the accepted store, then of the index
    * ([[DeltaWrite.compact]]: a `dataChange = false` commit per store, so
    * readers and the epoch markers see no change). Only small files are
    * rewritten, never the whole corpus. Safe mid-stream between triggers.
    * Returns the index's compaction version, -1 when nothing qualified.
    */
  def compactGenerations(spark: SparkSession, indexDir: String,
      acceptedDir: String): Long = {
    DeltaWrite.compact(spark, acceptedDir)
    DeltaWrite.compact(spark, indexDir)
  }

  /** `compactIndexEvery > 0` compacts the INDEX every N batches — the
    * store every epoch's admission reads — so an unattended
    * ingest-forever stream never accretes unbounded small files there.
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, acceptedDir: String, checkpoint: String,
      maxHamming: Int = 3, compactIndexEvery: Int = 0): StreamingQuery =
    epochs(docs, checkpoint, AppId, Seq(acceptedDir, indexDir), compactIndexEvery) {
      batch => admitText(batch.select(col(idCol), col(textCol)), idCol, textCol,
        indexDir, maxHamming)
    }

  /** The survivors of `rows` (id, text, ...) — near-dups of the indexed
    * corpus and the greater id of each in-batch pair rejected — and their
    * fingerprint rows: the two stores' rows for one text-admission epoch.
    */
  private[streaming] def admitText(rows: DataFrame, idCol: String,
      textCol: String, indexDir: String, maxHamming: Int): Seq[DataFrame] = {
    // one fingerprint/text materialization feeds both checks and the
    // anti-join (foreachBatch frames re-execute per action otherwise)
    val b = rows.localCheckpoint()
    val vsCorpus = readIndex(b.sparkSession, indexDir).map(idx =>
      Dedup.simhashAgainstIndex(b, idCol, textCol, idx, maxHamming)
        .select(col("new_id").as("__loser")))
    // inside the batch the smaller id wins its pair
    val vsBatch = Dedup.simhashNearDupPairs(b, idCol, textCol, maxHamming)
      .select(col("id_b").as("__loser"))
    val survivors = survivorsOf(b, idCol, vsCorpus.toSeq :+ vsBatch)
    Seq(survivors, Dedup.simhashIndex(survivors, idCol, textCol))
  }

  /** `b` without the `__loser` ids of `losers`, materialized once for
    * every store.
    */
  private[streaming] def survivorsOf(b: DataFrame, idCol: String,
      losers: Seq[DataFrame]): DataFrame = {
    val l = losers.reduce(_ unionByName _).distinct()
    b.join(l, b(idCol) === l("__loser"), "left_anti").localCheckpoint()
  }

  /** The ingest sinks' stream: each epoch's `rows(batch)` — one frame per
    * store, in `stores` order — append to the Delta `stores` with
    * `txn = (appId, batchId)`. The epoch is skipped whole when the LAST
    * store's marker covers it; a store that committed before a crash skips
    * itself on replay. `compactLastEvery > 0` compacts the last store
    * every N batches. Pre-Delta stores are refused before the stream
    * starts.
    */
  private[streaming] def epochs(stream: DataFrame, checkpoint: String,
      appId: String, stores: Seq[String], compactLastEvery: Int)(
      rows: DataFrame => Seq[DataFrame]): StreamingQuery = {
    stores.foreach(DeltaStreamSink.tableVersion(stream.sparkSession, _))
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (batchId > DeltaWrite.lastTxnVersion(spark, stores.last, appId))
          stores.zip(rows(batch)).foreach { case (store, df) =>
            DeltaStreamSink.writeBatch(df, store, appId, batchId)
          }
        if (compactLastEvery > 0 && (batchId + 1) % compactLastEvery == 0) {
          DeltaWrite.compact(spark, stores.last)
          ()
        }
      }
      .start()
  }
}
