package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming → running-aggregate-table maintenance: the append-only case
  * of [[ChangeViewSink]]. The state is a Delta table in the view's layout
  * `keyCols..., n, sum, mn, mx` ([[graft.ext.Incremental]]'s monoid
  * state), and every micro-batch folds in as inserts through
  * [[ChangeViewSink.applyBatch]], whose MERGE rewrites only the files of
  * the keys the batch touches — work per trigger is |batch| + touched
  * state rows, never the history.
  *
  * Exactly-once: the fold commits with `txn = (AppId, batchId)`, so a
  * replayed batch is recognized by its marker and skipped. As in the
  * view, NULL group keys are refused, and a key whose values are all
  * null (`n = 0`) is dropped as a tombstone. Old versions stay readable
  * by time travel until [[graft.io.DeltaWrite.vacuum]] removes them.
  */
object IncrementalSink {

  /** The `txn` appId of this sink's commits (one writer per state table). */
  val AppId = "graft.streaming.IncrementalSink"

  /** The current state, one row per key with a non-null value. */
  def currentState(spark: SparkSession, stateDir: String): DataFrame =
    ChangeViewSink.readView(spark, stateDir).drop("avg")

  def run(events: DataFrame, keyCols: Seq[String], valueCol: String,
      stateDir: String, checkpoint: String): StreamingQuery = {
    ChangeViewSink.createView(events.sparkSession, stateDir,
      keyCols.map(events.schema(_)))
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ChangeViewSink.applyBatch(batch, stateDir, keyCols, valueCol, AppId, batchId): Unit
      }
      .start()
  }
}
