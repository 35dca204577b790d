package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: keep a running per-key aggregate
  * table current by merging ONLY the new data's partial aggregates into it,
  * never recomputing history. The state carries the algebraic pieces
  * (count, sum, min, max — all commutative monoids), so
  *
  *   merge(state, agg(delta)) == agg(history ∪ delta)
  *
  * holds exactly, and derived values (avg = sum/count) are computed at read
  * time. At 100 TB this is the difference between touching one day
  * (|delta| + the touched keys' state rows, one shuffle each) and
  * re-shuffling the full history every refresh; with the state stored
  * date-partitioned or bucketed by key, the merge join co-locates and the
  * rewrite touches only changed partitions.
  *
  * This object is the one home of the state: its layout `keyCols..., n,
  * sum, mn, mx`, the signed per-key [[delta]] of a batch and the
  * [[combine]] that folds a delta into a state. [[partialAgg]], [[merge]],
  * [[applyChanges]] and the streaming view
  * ([[graft.streaming.ChangeViewSink]], which keeps the state as a Delta
  * table) are all built from those two.
  */
object Incremental {

  /** The state's value columns, after the key columns. */
  private val Slots = Seq("n", "sum", "mn", "mx")

  /** The signed per-key delta of `rows`, one row per key: `d_n` and
    * `d_sum` (value count and sum, each row signed), `d_mn`/`d_mx` (the
    * added values' extremes), `d_del_mn`/`d_del_mx` (the removed values'
    * extremes) and `d_ver` (the last `_commit_version`). A change batch —
    * rows carrying `_change_type` and `_commit_version` — signs inserts and
    * update post-images +1 and deletes and pre-images −1; any other frame
    * is all inserts, without a version. Values sum in double from the
    * start, so an integer-typed value column never flips the state schema
    * long→double between versions.
    */
  def delta(rows: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val changes = rows.columns.contains("_change_type")
    val sign = if (!changes) lit(1L)
      else when(col("_change_type").isin("insert", "update_postimage"), 1L).otherwise(lit(-1L))
    rows.groupBy(keyCols.map(col): _*)
      .agg(
        sum(when(v.isNotNull, sign).otherwise(lit(0L))).as("d_n"),
        sum(coalesce(v, lit(0.0)) * sign).as("d_sum"),
        min(when(sign > 0, v)).as("d_mn"),
        max(when(sign > 0, v)).as("d_mx"),
        min(when(sign < 0, v)).as("d_del_mn"),
        max(when(sign < 0, v)).as("d_del_mx"),
        max(if (changes) col("_commit_version") else lit(null).cast("long")).as("d_ver"))
  }

  /** `state` joined `how` to a [[delta]] on the keys, then folded: count
    * and sum add, min/max widen. Every other column of `delta` (a change
    * batch's removed-value extremes and last version) rides along for
    * callers that check bounds after the fold; a key absent on one side
    * folds with the other side alone.
    */
  def combine(state: DataFrame, delta: DataFrame, keyCols: Seq[String],
      how: String): DataFrame =
    state.join(delta, keyCols, how)
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"),
        (coalesce(col("sum"), lit(0.0)) + coalesce(col("d_sum"), lit(0.0))).as("sum"),
        least(col("mn"), col("d_mn")).as("mn"),
        greatest(col("mx"), col("d_mx")).as("mx")) ++
        delta.columns.diff(keyCols ++ Slots.map("d_" + _)).map(col): _*)

  /** `df`'s value columns renamed from prefix `from` to prefix `to`. */
  private def slots(df: DataFrame, keyCols: Seq[String], from: String, to: String): DataFrame =
    df.select(keyCols.map(col) ++ Slots.map(s => col(from + s).as(to + s)): _*)

  /** Column layout of the running state for `valueCol` grouped by
    * `keyCols`: n, sum, mn, mx.
    */
  def partialAgg(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    slots(delta(df, keyCols, valueCol), keyCols, "d_", "")

  /** Merge a new delta's partial aggregates into the existing state. Both
    * sides are already one row per key, so this is a single full-outer
    * sort-merge join on the key followed by monoid combines — no history
    * scan, no broadcast of anything unbounded.
    */
  def merge(state: DataFrame, delta: DataFrame, keyCols: Seq[String]): DataFrame =
    combine(state, slots(delta, keyCols, "", "d_"), keyCols, "full_outer")

  /** Read view with the derived (non-mergeable-looking) values. */
  def readView(state: DataFrame): DataFrame =
    state.withColumn("avg", col("sum") / col("n"))

  /** CHANGE-FEED-driven maintenance: apply one
    * [[graft.io.DeltaRead.changeFeed]] batch (rows carrying
    * `_change_type`) to the running state. Count and sum form a GROUP —
    * inserts and update_postimages add, deletes and update_preimages
    * subtract — so those stay EXACT under arbitrary DML, which plain
    * [[merge]] (append-only monoids) cannot do. Min/max are not
    * invertible: they widen with added rows but cannot shrink when an
    * extremum is deleted/updated away, so after such a batch they are
    * upper/lower BOUNDS — callers needing tight extremes recompute the
    * touched keys (as [[graft.streaming.ChangeViewSink]]'s repair pass
    * does). Cost shape is the same as [[merge]]: one aggregate over the
    * batch + one outer join on |touched keys| rows, never a history scan.
    */
  def applyChanges(state: DataFrame, changes: DataFrame,
      keyCols: Seq[String], valueCol: String): DataFrame =
    slots(combine(state, delta(changes, keyCols, valueCol), keyCols, "full_outer"),
      keyCols, "", "")
      // keys whose rows were all deleted drop out of the state entirely
      .filter(col("n") > 0)
}
