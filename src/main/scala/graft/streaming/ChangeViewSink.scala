package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.io.{DeltaMerge, DeltaRead, DeltaWrite}

/** Streaming MATERIALIZED VIEW maintenance: keep a per-key aggregate Delta
  * table exactly current with a source Delta table, by tailing the
  * source's change stream ([[DeltaChangeSource]]) and folding each
  * micro-batch's signed row changes into the view — the full CDC loop
  * (DML on the source → change tail → incremental apply → exactly-once
  * view commit) as one call.
  *
  * The view's columns are `keyCols..., n, sum, mn, mx`
  * ([[graft.ext.Incremental]]'s state layout): count and sum form a group
  * under insert/delete signs, so they stay EXACT under arbitrary source
  * DML (DV deletes, copy-on-write updates, merges). min/max are
  * non-invertible, so each epoch runs a REPAIR pass for exactness: a key
  * whose DELETED value reached its stored bound (`deleted <= mn` or
  * `>= mx`) gets its min/max recomputed from the source snapshot AS OF
  * the epoch's last change version — one extra source scan per epoch,
  * only when bound-hitting deletes occurred, filtered to exactly the
  * repair keys (literal `isin` for a small single-column key set, so file
  * stats skipping applies; a distributed semi-join otherwise — the key
  * set itself never visits the driver, so a bootstrap epoch that touches
  * every key in a 100 TB view repairs without driver memory entering the
  * picture). The whole view
  * is therefore exact under arbitrary DML, not count/sum-only. Epoch cost
  * stays O(|batch| + touched keys): one aggregate over the change rows,
  * one left-outer join against the view's touched keys, one MERGE whose
  * copy-on-write scope is the touched keys' files — the view's history
  * is never rescanned.
  *
  * Exactly-once across crashes, without a view-side log of applied
  * batches beyond Delta's own `txn` markers:
  *
  *   1. the epoch's new state rows (INCLUDING keys whose count reached
  *      zero, kept as tombstone rows `n = 0`) MERGE in with
  *      `txn = (appId, batchId)` — a replayed epoch is recognized by the
  *      marker and skipped whole, so the fold is applied exactly once
  *      even though `n += d_n` is not idempotent;
  *   2. tombstone rows then DELETE by predicate (`n <= 0`) — idempotent
  *      by construction, so it needs no marker, and a crash between the
  *      two commits heals on replay (step 1 skips, step 2 re-deletes).
  *
  * Readers between the two commits may see a tombstone row; [[readView]]
  * filters them and derives `avg`, matching `Incremental.readView`.
  *
  * NULL group keys are UNSUPPORTED and refused loudly per epoch: every
  * key-matching leg downstream (the fold's left-outer join, MERGE's
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
  private[streaming] def createView(spark: SparkSession, viewPath: String,
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
    * surface (pair with [[graft.io.DeltaRead.changeDiff]]). Returns true
    * when the epoch committed, false on a recognized replay. With
    * `sourcePath` the min/max repair pass runs (exact view); without it
    * min/max degrade to bounds once an extremum is deleted — the legacy
    * contract for callers that cannot hand the source back.
    */
  def applyBatch(changes: DataFrame, viewPath: String, keyCols: Seq[String],
      valueCol: String, appId: String, batchId: Long,
      sourcePath: Option[String] = None,
      isinFastPathMax: Int = IsinFastPathMax): Boolean = {
    val spark = changes.sparkSession
    if (batchId <= DeltaWrite.lastTxnVersion(spark, viewPath, appId)) {
      DeltaMerge.deleteWhere(spark, viewPath, col("n") <= 0) // heal step 2
      return false
    }
    val v = col(valueCol).cast("double")
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(lit(-1L))
    // touched-keys-sized; checkpointed once — the repair detection and the
    // fold both read it, and it pins the epoch's last change version
    val delta = changes
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(when(v.isNotNull, sign).otherwise(lit(0L))).as("d_n"),
        sum(coalesce(v, lit(0.0)) * sign).as("d_sum"),
        min(when(sign > 0, v)).as("d_mn"),
        max(when(sign > 0, v)).as("d_mx"),
        min(when(sign < 0, v)).as("d_del_mn"),
        max(when(sign < 0, v)).as("d_del_mx"),
        max(col("_commit_version")).as("d_ver"))
      .localCheckpoint()
    if (delta.isEmpty) return false
    // null group keys are unsupported (see class doc) — refuse before any
    // state mutates; the check reads the checkpointed touched-keys frame.
    if (!delta.filter(keyCols.map(col(_).isNull).reduce(_ || _)).isEmpty)
      throw new IllegalArgumentException(
        s"ChangeViewSink: change batch contains NULL in group key(s) " +
          s"${keyCols.mkString(", ")}; null group keys are unsupported — " +
          "filter or coalesce them in the source before maintaining a view")
    // new state of the TOUCHED keys only (left outer: new keys have no
    // state row) — materialized BEFORE the merge mutates what it reads.
    // A surviving key whose DELETED values reach the POST-FOLD bound needs
    // repair: the fold can only widen bounds, never shrink them back — and
    // the comparison must be against the folded (not stored) bound, since
    // a single epoch can both insert and delete the extremum (a bootstrap
    // batch carries the whole history).
    val view = DeltaRead.readDeltaTable(spark, viewPath)
    val newMn = least(col("mn"), col("d_mn"))
    val newMx = greatest(col("mx"), col("d_mx"))
    val needsRepair = (coalesce(col("n"), lit(0L)) + col("d_n") > 0) && (
      (col("d_del_mn").isNotNull && newMn.isNotNull &&
        col("d_del_mn") <= newMn) ||
      (col("d_del_mx").isNotNull && newMx.isNotNull &&
        col("d_del_mx") >= newMx))
    val folded0 = delta.join(view, keyCols, "left_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + col("d_n")).as("n"),
        (coalesce(col("sum"), lit(0.0)) + col("d_sum")).as("sum"),
        newMn.as("mn"), newMx.as("mx"),
        needsRepair.as("__repair"), col("d_ver").as("__ver")): _*)
      .localCheckpoint()
    val folded = sourcePath match {
      case Some(src) if !folded0.filter(col("__repair")).isEmpty =>
        repairBounds(spark, src, folded0, keyCols, valueCol, isinFastPathMax)
      case _ => folded0.drop("__repair", "__ver")
    }
    DeltaMerge.merge(spark, viewPath, folded, keyCols,
      txn = Some(appId -> batchId))
    DeltaMerge.deleteWhere(spark, viewPath, col("n") <= 0)
    true
  }

  /** A repair-key set at most this large takes the driver fast path:
    * single-column sets become a literal `isin` filter (the log-backed
    * file index then skips files by stats), and the repaired bounds
    * broadcast back. Sets past the cap — a bootstrap or recovery epoch
    * can touch EVERY key in the view — stay entirely on the cluster.
    */
  private val IsinFastPathMax = 10000

  /** Recompute min/max for the epoch's repair keys from the source AS OF
    * the epoch's last change version (time travel — exact even when later
    * commits already landed). Only SCALARS ever cross to the driver (the
    * epoch version and a limit-bounded key count): a small single-column
    * key set becomes a literal `isin` filter so the log-backed index
    * skips files by stats, anything larger repairs via a distributed
    * semi-join against the (localCheckpoint'd) repair frame — a
    * bootstrap epoch whose repair set is the whole view's key space
    * never materializes it on the driver.
    */
  private def repairBounds(spark: SparkSession, sourcePath: String,
      folded0: DataFrame, keyCols: Seq[String], valueCol: String,
      isinFastPathMax: Int): DataFrame = {
    val repairKeys = folded0.filter(col("__repair"))
    val ver = repairKeys.agg(max(col("__ver"))).head().getLong(0)
    // bounded count: the limit caps both the work and the number returned
    val bounded = repairKeys.limit(isinFastPathMax + 1).count()
    val small = bounded <= isinFastPathMax
    val src = DeltaRead.readDeltaTable(spark, sourcePath, Some(ver))
    val filtered =
      if (keyCols.size == 1 && small) {
        // ≤ IsinFastPathMax values by the count check above
        val keys = repairKeys.select(col(keyCols.head)).collect().map(_.get(0))
        src.filter(col(keyCols.head).isin(keys.toSeq: _*))
      } else {
        val keyDf0 = repairKeys.select(keyCols.map(col): _*)
        src.join(if (small) broadcast(keyDf0) else keyDf0, keyCols, "left_semi")
      }
    val exact = filtered
      .groupBy(keyCols.map(col): _*)
      .agg(min(col(valueCol).cast("double")).as("__r_mn"),
        max(col(valueCol).cast("double")).as("__r_mx"))
    folded0.join(if (small) broadcast(exact) else exact, keyCols, "left_outer")
      .select(keyCols.map(col) ++ Seq(col("n"), col("sum"),
        when(col("__repair") && col("__r_mn").isNotNull, col("__r_mn"))
          .otherwise(col("mn")).as("mn"),
        when(col("__repair") && col("__r_mx").isNotNull, col("__r_mx"))
          .otherwise(col("mx")).as("mx")): _*)
  }

  /** The consumer-facing view: tombstones filtered, `avg` derived. */
  def readView(spark: SparkSession, viewPath: String): DataFrame =
    DeltaRead.readDeltaTable(spark, viewPath)
      .filter(col("n") > 0)
      .withColumn("avg", col("sum") / col("n"))

  /** Convenience for specs/pipelines: the exact aggregate the view must
    * equal, computed from the source's CURRENT snapshot.
    */
  def expectedView(spark: SparkSession, sourcePath: String,
      keyCols: Seq[String], valueCol: String): DataFrame = {
    val v: Column = col(valueCol).cast("double")
    DeltaRead.readDeltaTable(spark, sourcePath)
      .groupBy(keyCols.map(col): _*)
      .agg(count(v).as("n"), sum(v).as("sum"),
        min(v).as("mn"), max(v).as("mx"))
  }
}
