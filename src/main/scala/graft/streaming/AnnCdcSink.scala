package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.AnnIndex

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
  * id-pushed pruned scan (row-group stats skip untouched files), the same
  * honest cost as the takedown verb it wraps.
  *
  * Exactly-once across restarts: the [[AnnMaintainSink]] two-phase marker
  * (the index has no log to carry a Delta `txn`, see there),
  * under `<index>/_cdc/` (its own namespace — an ingest maintainer and a
  * CDC maintainer must not share an index anyway, single-writer contract):
  * `b<id>.inflight` before the apply, rename to `.done` after. A replayed
  * batch that finds `.done` (or sits at/below the [[compactMarkers]]
  * floor) skips; one that finds `.inflight` crashed mid-apply and simply
  * REDOES it — the redo is idempotent because the batch re-derives
  * bit-for-bit from the checkpointed version range, the reconcile delete
  * removes whatever partial appends landed (fresh-insert ids join the
  * delete set on the reconcile path), and the append then lands the same
  * rows once. One inherited caveat, stated rather than papered over: a
  * crash INSIDE [[AnnIndex.delete]]'s own file swap falls under that
  * verb's documented single-cell contract (rebuild the index) — the
  * two-phase marker cannot make a sub-verb's rename window replayable,
  * and the window is one cell's rename, not the epoch.
  *
  * The index must start consistent with the stream's start point: pair a
  * bootstrap `startingVersion = "earliest"` with an EMPTY built index
  * (`AnnIndex.build` on the empty slice refuses — build on the table's
  * current snapshot and start the stream at the snapshot version instead),
  * or `"latest"` with an index built from the current table state.
  */
object AnnCdcSink {

  private val Sub = "_cdc"

  /** Fold this sink's `b<id>.done` markers into the floor file — see
    * [[AnnMaintainSink.compactMarkers]] (same layout, `_cdc/` namespace).
    */
  def compactMarkers(spark: SparkSession, indexPath: String): Long =
    AnnMaintainSink.compactMarkersIn(spark, indexPath, Sub)

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
    val (fs, dir) = AnnMaintainSink.markersIn(spark, indexPath, Sub)
    val done = new Path(dir, s"b$batchId.done")
    val inflight = new Path(dir, s"b$batchId.inflight")
    if (batchId <= AnnMaintainSink.readFloor(fs, dir) || fs.exists(done)) return

    val isUpsert = col("__ct").isin("insert", "update_postimage")
    val typed = batch.select(
      col(idCol).cast("long").as("__id") +: col(vecCol).as("__vec") +:
      col("_change_type").as("__ct") +: col("_commit_version").as("__ver") +:
      extraCols.map(col): _*)
    // final state per id: the rows at its LAST touched version decide
    val vmax = typed.groupBy(col("__id")).agg(max(col("__ver")).as("__vmax"))
    val fin = typed.join(vmax, Seq("__id"))
      .filter(col("__ver") === col("__vmax"))
      .groupBy(col("__id"))
      .agg(first(when(isUpsert,
          struct(col("__vec").as("v") +: extraCols.map(col): _*)),
        ignoreNulls = true).as("__fin"))
      .localCheckpoint()
    // ids whose PREVIOUS state must leave the index: any delete-type row
    // in the epoch (order-free; includes COW-survivor rewrites and the
    // preimage half of updates)
    val hadDelete = typed.filter(!isUpsert).select(col("__id")).distinct()
      .localCheckpoint()

    if (fin.isEmpty) {
      fs.create(done, true).close()
      return
    }
    val reconcile = fs.exists(inflight)
    if (!reconcile) fs.create(inflight, true).close()

    // delete pass: previous states out (no-op for never-present ids). On a
    // crash-reconcile the fresh-insert ids that may have half-landed join
    // the set — the redo then re-appends them exactly once.
    val upserts = fin.filter(col("__fin").isNotNull)
    val delIds: Seq[Long] = {
      val base = hadDelete
      val withPartials = if (reconcile)
        base.unionByName(upserts.select(col("__id"))).distinct() else base
      withPartials.collect().map(_.getLong(0)).toSeq
    }
    if (delIds.nonEmpty) AnnIndex.delete(spark, indexPath, delIds)
    if (!upserts.isEmpty) {
      val flat = upserts.select(col("__id").as(idCol) +:
        col("__fin.v").as(vecCol) +:
        extraCols.map(c => col(s"__fin.$c").as(c)): _*)
      AnnIndex.append(flat, idCol, vecCol, indexPath, extraCols)
    }
    require(fs.rename(inflight, done), s"failed to commit marker $done")
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
      extraCols: Seq[String] = Nil,
      compactMarkersEvery: Int = 0): StreamingQuery = {
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
        if (compactMarkersEvery > 0 && (batchId + 1) % compactMarkersEvery == 0) {
          compactMarkers(batch.sparkSession, indexPath)
          ()
        }
      }
      .start()
  }
}
