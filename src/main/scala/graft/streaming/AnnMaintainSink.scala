package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.AnnIndex
import graft.io.DeltaWrite

/** Streaming maintenance loop for a persisted [[AnnIndex]] — the
  * ingest-forever glue between the batch verbs: every micro-batch of
  * embeddings APPENDS to the index ([[AnnIndex.append]] — cost ∝ batch,
  * untouched cells gain no files), then the drift monitor runs and
  * remediation fires only past its threshold: a cell whose balance
  * exceeds `maxBalance` triggers [[AnnIndex.rebalance]] (hot cells split,
  * starved cells fold when `minBalance > 0`), and every
  * `refreshEvery`-th batch of a PQ index offers
  * [[AnnIndex.refreshCodebooks]] a candidate retrain (discarded unless
  * reconstruction error materially improves — the versioned-codebook
  * contract keeps mixed generations exact).
  *
  * The drift monitor is [[AnnIndex.cellStats]]: per-cell counts summed
  * from the `numRecords` the index's log records per file — no Spark job,
  * and no corpus read, so the steady-state epoch costs its batch.
  *
  * Exactly-once across restarts like every Delta-backed sink here: the
  * epoch's append commits `txn = (appId, batchId)` with its files, and a
  * replayed epoch at or below the log's high-water mark skips. The index
  * is a Delta table, so the txn rides the same atomic commit as the
  * rows: a crash before it leaves only unreferenced staged files. The
  * appId names the index's build ([[AnnIndex.txnAppId]]), so a rebuild
  * at the same path starts the sink's progress over.
  * Maintenance runs AFTER the commit and is deliberately outside it: a
  * crash mid-rebalance replays as a committed batch (skip), and the NEXT
  * batch's counts re-derive the same drift signal and re-trigger
  * remediation — each maintenance step is its own commit, and the
  * decision is stateless given the counts (single maintainer per index,
  * like every AnnIndex verb).
  */
object AnnMaintainSink {

  /** The sink's name in its txn appId ([[AnnIndex.txnAppId]]). */
  private val Sink = "graft.ann.maintain"

  /** One micro-batch through the append + drift-remediation loop. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, indexPath: String,
      maxBalance: Double, minBalance: Double,
      refreshEvery: Int, errorFactor: Double,
      extraCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val appId = AnnIndex.txnAppId(spark, indexPath, Sink)
    if (batchId <= DeltaWrite.lastTxnVersion(spark, indexPath, appId)) return
    AnnIndex.append(batch, idCol, vecCol, indexPath, extraCols, Some(appId -> batchId))
    val maxBal = AnnIndex.cellStats(spark, indexPath).collect()
      .map(_.getAs[Double]("balance")).maxOption.getOrElse(0.0)
    if (maxBal > maxBalance)
      AnnIndex.rebalance(spark, indexPath, maxBalance, minBalance = minBalance)
    if (refreshEvery > 0 && (batchId + 1) % refreshEvery == 0 &&
        AnnIndex.meta(spark, indexPath).m > 0)
      AnnIndex.refreshCodebooks(spark, indexPath, errorFactor)
  }

  /** Wire an embedding stream into a persisted index built by
    * [[AnnIndex.build]]. `refreshEvery = 0` disables codebook refresh
    * (always disabled for non-PQ indexes); `minBalance = 0` disables the
    * starved-cell merge pass.
    */
  def run(vectors: DataFrame, idCol: String, vecCol: String,
      indexPath: String, checkpoint: String,
      maxBalance: Double = 4.0, minBalance: Double = 0.0,
      refreshEvery: Int = 0, errorFactor: Double = 1.05,
      extraCols: Seq[String] = Nil): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, vecCol, indexPath,
          maxBalance, minBalance, refreshEvery, errorFactor, extraCols)
      }
      .start()
}
