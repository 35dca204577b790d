package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.AnnIndex
import graft.io.DeltaWrite

/** CDC-driven maintenance for a persisted [[AnnIndex]] — the missing glue
  * between [[DeltaChangeSource]] and the index verbs: when the vector
  * corpus lives in a Delta TABLE, deletes and updates arrive through the
  * change feed, and without this sink a deleted source row keeps serving
  * as a neighbor until someone runs [[AnnIndex.delete]] by hand
  * ([[AnnMaintainSink]] only handles an append-only vector stream).
  *
  * Each micro-batch is a `(fromVersion, toVersion]` change range. The sink
  * reduces it to the NET final state per id — for every touched id, the
  * rows at its highest `_commit_version` decide: an insert/update_postimage
  * there means the id ends the epoch PRESENT with that vector; only
  * delete-type rows means it ends ABSENT. This order-free reduction is
  * required because [[graft.io.DeltaRead.changeDiff]] guarantees no row
  * order and a copy-on-write rewrite emits delete AND insert for a
  * SURVIVING row at the same version (CLAUDE.md's changeDiff contract) —
  * applying raw rows in stream order would corrupt exactly those epochs.
  * Apply = [[AnnIndex.delete]] of every id that had a delete-type row
  * (its old vector must leave the index; a no-op for ids the index never
  * held), then [[AnnIndex.append]] of the final upserts. An insert-only
  * epoch — the steady-state append workload — skips the delete pass
  * entirely and pays cost ∝ batch; an epoch WITH deletes pays one
  * copy-on-write DELETE whose file stats skip untouched files, the same
  * honest cost as the takedown verb it wraps.
  *
  * Exactly-once across restarts through the `txn` handshake of every
  * Delta-backed sink here: the delete is idempotent (a replay finds
  * nothing left to delete), and the append that follows commits
  * `txn = (appId, batchId)` with its rows — so a crash after the delete
  * replays as no further delete and one append, and a replay after the
  * append skips at the log's high-water mark. The appId names the
  * index's build ([[AnnIndex.txnAppId]]), so a [[bootstrap]] that rebuilds
  * the index starts the sink's progress over.
  *
  * The index must start consistent with the stream's start point: pair a
  * bootstrap `startingVersion = "earliest"` with an EMPTY built index
  * (`AnnIndex.build` on the empty slice refuses — build on the table's
  * current snapshot and start the stream at the snapshot version instead),
  * or `"latest"` with an index built from the current table state.
  */
object AnnCdcSink {

  /** The sink's name in its txn appId ([[AnnIndex.txnAppId]]). */
  private val Sink = "graft.ann.cdc"

  /** Bootstrap the index/stream PAIRING in one call: build the index from
    * the table's CURRENT snapshot and return the snapshot version — pass
    * it as [[run]]'s `startingVersion` so the stream serves exactly the
    * changes committed after what the index already holds (the class-doc
    * consistency contract, made un-misusable). Reading the version BEFORE
    * the snapshot scan keeps the pairing safe under concurrent writers:
    * a commit landing between the two is then replayed by the stream
    * against an index that may already contain it — and the net-effect
    * apply deletes before it appends, so the replay is idempotent rather
    * than duplicating.
    */
  def bootstrap(spark: SparkSession, tablePath: String, idCol: String,
      vecCol: String, indexPath: String, nCells: Int,
      extraCols: Seq[String] = Nil, m: Int = 0): Long = {
    val version = graft.io.DeltaRead.latestVersion(spark, tablePath)
    require(version >= 0, s"$tablePath is not a Delta table")
    val snap = graft.io.DeltaRead.readDeltaTable(spark, tablePath,
      versionAsOf = Some(version))
    AnnIndex.build(snap, idCol, vecCol, indexPath, nCells = nCells,
      extraCols = extraCols, m = m)
    version
  }

  /** One change micro-batch through the net-effect apply. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, indexPath: String,
      extraCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val appId = AnnIndex.txnAppId(spark, indexPath, Sink)
    if (batchId <= DeltaWrite.lastTxnVersion(spark, indexPath, appId)) return
    val isUpsert = col("__ct").isin("insert", "update_postimage")
    val typed = batch.select(
      col(idCol).cast("long").as("__id") +: col(vecCol).as("__vec") +:
      col("_change_type").as("__ct") +: col("_commit_version").as("__ver") +:
      extraCols.map(col): _*)
    // ids whose PREVIOUS state must leave the index: any delete-type row
    // in the epoch (order-free; includes COW-survivor rewrites and the
    // preimage half of updates) — a no-op for never-present ids
    val delIds = typed.filter(!isUpsert).select(col("__id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    if (delIds.nonEmpty) AnnIndex.delete(spark, indexPath, delIds)
    // final state per id: the rows at its LAST touched version decide
    val vmax = typed.groupBy(col("__id")).agg(max(col("__ver")).as("__vmax"))
    val upserts = typed.join(vmax, Seq("__id"))
      .filter(col("__ver") === col("__vmax"))
      .groupBy(col("__id"))
      .agg(first(when(isUpsert,
          struct(col("__vec").as("v") +: extraCols.map(col): _*)),
        ignoreNulls = true).as("__fin"))
      .filter(col("__fin").isNotNull)
    AnnIndex.append(upserts.select(col("__id").as(idCol) +: col("__fin.v").as(vecCol) +:
        extraCols.map(c => col(s"__fin.$c").as(c)): _*),
      idCol, vecCol, indexPath, extraCols, Some(appId -> batchId))
  }

  /** Wire a Delta table's change stream into a persisted index. The
    * table's `idCol` must be unique per row (the index id contract) and
    * `vecCol` its embedding column. `startingVersion` follows
    * [[DeltaChangeSource]] ("earliest" / "latest" / explicit N — pair it
    * with the index's build point, see class doc); `maxVersionsPerBatch`
    * bounds recovery epochs.
    */
  def run(spark: SparkSession, tablePath: String, idCol: String,
      vecCol: String, indexPath: String, checkpoint: String,
      startingVersion: String = "latest",
      maxVersionsPerBatch: Option[Long] = None,
      extraCols: Seq[String] = Nil): StreamingQuery = {
    var reader = spark.readStream
      .format("graft.streaming.DeltaChangeSource")
      .option("path", tablePath)
      .option("startingVersion", startingVersion)
    maxVersionsPerBatch.foreach(n =>
      reader = reader.option("maxVersionsPerBatch", n.toString))
    reader.load()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, vecCol, indexPath, extraCols)
      }
      .start()
  }
}
