package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.ext.Incremental
import graft.io.{DeltaMerge, DeltaRead, DeltaWrite}

/** Streaming MATERIALIZED VIEW maintenance: keep a per-key aggregate Delta
  * table exactly current with a source Delta table, by tailing the
  * source's change stream ([[DeltaChangeSource]]) and folding each
  * micro-batch's signed row changes into the view — the full CDC loop
  * (DML on the source → change tail → incremental apply → exactly-once
  * view commit) as one call.
  *
  * The view is [[graft.ext.Incremental]]'s state kept as a Delta table:
  * its layout (`keyCols..., n, sum, mn, mx`), the signed per-key delta of
  * an epoch and the fold are `Incremental.delta` and `Incremental.combine`.
  * Count and sum form a group under insert/delete signs, so they stay
  * EXACT under arbitrary source DML (DV deletes, copy-on-write updates,
  * merges). min/max are non-invertible, so each epoch runs a REPAIR pass
  * for exactness: a key whose DELETED value reached its folded bound
  * (`deleted <= mn` or `>= mx`) gets its min/max recomputed from the
  * source snapshot AS OF the epoch's last change version — one extra
  * source scan per epoch, only when bound-hitting deletes occurred,
  * filtered to exactly the repair keys. The whole view is therefore exact
  * under arbitrary DML, not count/sum-only.
  *
  * Epoch cost stays O(|batch| + touched keys): one aggregate over the
  * change rows, one outer join against the view's rows of the touched
  * keys, one MERGE whose copy-on-write scope is the touched keys' files —
  * the view's history is never rescanned. Every keyed read of the epoch
  * (the view read, the repair's source read, MERGE's match scan) takes
  * MERGE's key-list rule ([[DeltaMerge.keyList]]): a key set within
  * Spark's broadcast threshold becomes an IN list, so file stats skip
  * every file that cannot hold a touched key; a larger one — a bootstrap
  * epoch that touches every key of a 100 TB view — joins on the cluster
  * and never visits the driver.
  *
  * Exactly-once across crashes, without a view-side log of applied
  * batches beyond Delta's own `txn` markers:
  *
  *   1. the epoch's new state rows (INCLUDING keys whose count reached
  *      zero, kept as tombstone rows `n = 0`) MERGE in with
  *      `txn = (appId, batchId)` — a replayed epoch is recognized by the
  *      marker and skipped whole, so the fold is applied exactly once
  *      even though `n += d_n` is not idempotent;
  *   2. tombstone rows then DELETE by predicate (`n <= 0`), in an epoch
  *      whose fold produced one (the fold's sizing job observes it) —
  *      idempotent by construction, so it needs no marker, and a crash
  *      between the two commits heals on replay (step 1 skips, step 2
  *      re-deletes unconditionally).
  *
  * Readers between the two commits may see a tombstone row; [[readView]]
  * filters them, then derives `avg` through `Incremental.readView`.
  *
  * NULL group keys are UNSUPPORTED and refused loudly per epoch: every
  * key-matching leg downstream (the fold's outer join, MERGE's
  * semi/anti joins, the repair filter) is equality-keyed, and
  * `NULL = NULL` is not true in SQL — a null-key group would silently
  * fork its state row instead of folding. Rather than paying null-safe
  * joins on every leg for a key that grouped aggregates rarely want,
  * [[applyBatch]] asserts the change batch carries no null key.
  */
object ChangeViewSink {

  /** Create the (empty) view table when absent, then start the stream.
    * `startingVersion = "earliest"` folds the source's full history —
    * the bootstrap shape; pass a version to start from a snapshot you
    * derived some other way.
    */
  def maintain(spark: SparkSession, sourcePath: String, viewPath: String,
      keyCols: Seq[String], valueCol: String, appId: String,
      checkpoint: String, startingVersion: String = "earliest",
      trigger: Trigger = Trigger.AvailableNow(),
      maxVersionsPerBatch: Option[Long] = None): StreamingQuery = {
    val srcSchema = DeltaRead.readDeltaTable(spark, sourcePath).schema
    createView(spark, viewPath, keyCols.map(srcSchema(_)))
    val reader = spark.readStream
      .format("graft.streaming.DeltaChangeSource")
      .option("path", sourcePath)
      .option("startingVersion", startingVersion)
    maxVersionsPerBatch.foreach(n =>
      reader.option("maxVersionsPerBatch", n.toString))
    reader.load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, viewPath, keyCols, valueCol, appId, batchId,
          sourcePath = Some(sourcePath)): Unit
      }
      .start()
  }

  /** Create the empty view table — `keyFields..., n, sum, mn, mx` — at
    * `viewPath` before its first commit (pre-Delta state is refused, see
    * [[DeltaStreamSink.tableVersion]]).
    */
  private[graft] def createView(spark: SparkSession, viewPath: String,
      keyFields: Seq[StructField]): Unit =
    if (DeltaStreamSink.tableVersion(spark, viewPath) < 0)
      DeltaWrite.writeDeltaTable(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(keyFields ++ Seq(
            StructField("n", LongType), StructField("sum", DoubleType),
            StructField("mn", DoubleType), StructField("mx", DoubleType)))),
        viewPath, "append")

  /** Fold one change batch into the view — also the poll-driven batch
    * surface (pair with [[graft.io.DeltaRead.changeDiff]]); a batch
    * without `_change_type` folds as inserts. Returns true when the epoch
    * committed, false on a recognized replay or an empty batch. With
    * `sourcePath` the min/max repair pass runs (exact view); without it
    * min/max degrade to bounds once an extremum is deleted — the legacy
    * contract for callers that cannot hand the source back.
    */
  def applyBatch(changes: DataFrame, viewPath: String, keyCols: Seq[String],
      valueCol: String, appId: String, batchId: Long,
      sourcePath: Option[String] = None): Boolean = {
    val spark = changes.sparkSession
    if (batchId <= DeltaWrite.lastTxnVersion(spark, viewPath, appId)) {
      DeltaMerge.deleteWhere(spark, viewPath, col("n") <= 0) // heal step 2
      return false
    }
    // touched-keys-sized; materialized once — the null check, the view
    // read and the fold all read it, and it pins the epoch's last version
    val (delta, bytes) = DeltaMerge.sized(Incremental.delta(changes, keyCols, valueCol))
    if (bytes == 0L) return false
    // the view rows of the TOUCHED keys only (MERGE's key-list rule): a
    // small key set filters the scan, so the view's file index reads only
    // the files that can hold those keys; a large one joins on the cluster
    val view = DeltaRead.readDeltaTable(spark, viewPath)
    val keys = DeltaMerge.keyList(delta, bytes, view.schema, keyCols)
    // null group keys are unsupported (see class doc) — refuse before any
    // state mutates
    if (keys.fold(!delta.filter(keyCols.map(col(_).isNull).reduce(_ || _)).isEmpty)(
        _._1.exists(_.anyNull)))
      throw new IllegalArgumentException(
        s"ChangeViewSink: change batch contains NULL in group key(s) " +
          s"${keyCols.mkString(", ")}; null group keys are unsupported — " +
          "filter or coalesce them in the source before maintaining a view")
    // new state of the touched keys (new keys have no view row) —
    // materialized BEFORE the merge mutates what it reads. A surviving key
    // whose DELETED values reach the POST-FOLD bound needs repair: the fold
    // can only widen bounds, never shrink them back — and the comparison
    // must be against the folded (not stored) bound, since a single epoch
    // can both insert and delete the extremum (a bootstrap batch carries
    // the whole history).
    val needsRepair = col("n") > 0 && (
      (col("d_del_mn").isNotNull && col("mn").isNotNull && col("d_del_mn") <= col("mn")) ||
      (col("d_del_mx").isNotNull && col("mx").isNotNull && col("d_del_mx") >= col("mx")))
    // the same job observes whether any key folded to a tombstone (n <= 0)
    val tombstones = new Observation()
    val (folded, foldedBytes) = DeltaMerge.sized(Incremental.combine(
        keys.fold(view)(k => view.filter(k._2)), delta, keyCols, "right_outer")
      .withColumn("__repair", needsRepair).drop("d_del_mn", "d_del_mx")
      .observe(tombstones, max(col("n") <= 0).as("t")))
    // the epoch's last change version among the repair keys; null: none
    val repairAt = sourcePath.flatMap(_ =>
      Option(folded.filter(col("__repair")).agg(max(col("d_ver"))).head().get(0)))
    val exact = (sourcePath, repairAt) match {
      case (Some(src), Some(ver: Long)) =>
        repairBounds(spark, src, ver, folded, foldedBytes, keyCols, valueCol)
      case _ => folded
    }
    // the folded frame holds exactly the delta's keys: a collected key
    // list stands in for MERGE's own
    DeltaMerge.merge(spark, viewPath, exact.drop("__repair", "d_ver"), keyCols,
      "update", insertUnmatched = true, Some(appId -> batchId), useDeletionVectors = false,
      keys.map(_._1))
    if (tombstones.get("t") == true) DeltaMerge.deleteWhere(spark, viewPath, col("n") <= 0)
    true
  }

  /** Recompute min/max for the epoch's repair keys from the source AS OF
    * `ver`, the epoch's last change version (time travel — exact even when
    * later commits already landed). The repair keys take MERGE's key-list
    * rule ([[DeltaMerge.keyList]], `bytes` the folded frame's): a small set
    * filters the source scan, so its file stats skip files; a large one —
    * a bootstrap epoch whose repair set is the whole view's key space —
    * semi-joins on the cluster and never reaches the driver.
    */
  private def repairBounds(spark: SparkSession, sourcePath: String, ver: Long,
      folded: DataFrame, bytes: Long, keyCols: Seq[String], valueCol: String): DataFrame = {
    val repairKeys = folded.filter(col("__repair")).select(keyCols.map(col): _*)
    val src = DeltaRead.readDeltaTable(spark, sourcePath, Some(ver))
    val rows = DeltaMerge.keyList(repairKeys, bytes, src.schema, keyCols)
      .fold(src.join(repairKeys, keyCols, "left_semi"))(k => src.filter(k._2))
    val bounds = Incremental.partialAgg(rows, keyCols, valueCol)
      .select(keyCols.map(col) :+ col("mn").as("__r_mn") :+ col("mx").as("__r_mx"): _*)
    // every repair key holds a value at `ver` (its folded n > 0)
    folded.join(bounds, keyCols, "left_outer")
      .withColumn("mn", coalesce(col("__r_mn"), col("mn")))
      .withColumn("mx", coalesce(col("__r_mx"), col("mx")))
      .drop("__r_mn", "__r_mx")
  }

  /** The consumer-facing view: tombstones filtered, `avg` derived. */
  def readView(spark: SparkSession, viewPath: String): DataFrame =
    Incremental.readView(DeltaRead.readDeltaTable(spark, viewPath).filter(col("n") > 0))
}
