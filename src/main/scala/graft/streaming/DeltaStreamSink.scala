package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.{DeltaRead, DeltaWrite}

/** Streaming append sink over the [[graft.io.DeltaWrite]] commit protocol
  * with EXACTLY-ONCE epochs — the `txn` handshake from the public Delta
  * spec (labelspark's Delta sink is batch-only; this is the streaming
  * shape a 100 TB ingest pipeline actually runs):
  *
  *   - every micro-batch commits `{"txn":{appId, version=batchId}}`
  *     alongside its add actions, IN the same atomic commit;
  *   - on crash-replay (foreachBatch redelivers the last batch), the sink
  *     reads [[DeltaWrite.lastTxnVersion]] back from the log and SKIPS any
  *     batch id at or below it — the data files of the replayed batch are
  *     never double-added because the marker and the adds are one commit;
  *   - [[DeltaWrite.checkpoint]] carries the txn high-water marks forward,
  *     so the guard survives log cleanup of old JSON commits.
  *
  * Combined with [[graft.io.DeltaRead.readStreamAppendOnly]] on the
  * consumer side, Delta tables become the durable hop between pipeline
  * stages: writer commits are atomic, readers tail `changesSince`.
  *
  * Every file-state sink of this package keeps its stores as Delta tables
  * and commits its epochs through [[writeBatch]] (the ingest sinks), a
  * `txn`-carrying MERGE ([[DeltaMergeSink]], [[ChangeViewSink]],
  * [[IncrementalSink]]) or a `txn`-carrying index append
  * ([[AnnMaintainSink]], [[AnnCdcSink]]).
  */
object DeltaStreamSink {

  /** Start an exactly-once streaming append of `stream` into the Delta
    * table at `tablePath`. `appId` namespaces the txn marker — two
    * different streams may feed one table as long as their appIds differ.
    */
  def append(stream: DataFrame, tablePath: String, appId: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, tablePath, appId, batchId): Unit
      }
      .start()

  /** One epoch's write — also the BATCH idempotent-append surface (callers
    * with their own retry loops get the same exactly-once guarantee).
    * Returns true when the batch committed, false when the txn high-water
    * mark shows it already had (replay → skip).
    */
  def writeBatch(batch: DataFrame, tablePath: String,
      appId: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    if (batchId <= DeltaWrite.lastTxnVersion(spark, tablePath, appId)) false
    else {
      DeltaWrite.writeDeltaTable(batch, tablePath, "append", Nil,
        Some(appId -> batchId))
      true
    }
  }

  /** The head version of the sink store at `path`, -1 before its first
    * commit. A store that holds the per-batch directories the file-state
    * sinks kept before their stores became Delta tables (`b<id>`,
    * `g<id>`, `v<id>`) and no commit is refused: read as empty, it would
    * silently reset the sink's admission or aggregate state.
    */
  private[streaming] def tableVersion(spark: SparkSession, path: String): Long = {
    val v = DeltaRead.latestVersion(spark, path)
    if (v < 0) {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val old = if (!fs.exists(root)) Nil
        else fs.listStatus(root).toSeq.map(_.getPath.getName)
          .filter(_.matches("[bgv]\\d+"))
      if (old.nonEmpty)
        throw new IllegalStateException(s"$path holds per-batch sink state " +
          s"(${old.sorted.take(3).mkString(", ")}) but no _delta_log; the " +
          "sinks keep their stores as Delta tables — rebuild it from its source")
    }
    v
  }

  /** The Delta store at `path`; None before its first commit (see
    * [[tableVersion]] for the stores it refuses).
    */
  def readTable(spark: SparkSession, path: String): Option[DataFrame] =
    if (tableVersion(spark, path) < 0) None
    else Some(DeltaRead.readDeltaTable(spark, path))
}
