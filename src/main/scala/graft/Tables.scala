package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-table loaders over the driver-generated star schema (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst can push filters and prune
  * columns straight into the scan — never pre-materialize or `.cache()`
  * DATA here. Table HANDLES are memoized per session (see [[memo]]), which
  * caches relation resolution only, exactly like a catalog registration.
  */
object Tables {
  /** Memoized TABLE HANDLES (analyzed read plans), per live session.
    *
    * `spark.read.parquet(path)` re-resolves the relation on every call —
    * file listing plus a footer read for schema inference, ~90ms warm on
    * this machine — and the query registries call these loaders once per
    * query per pass, so an un-memoized load re-pays catalog work DuckDB's
    * oracle pays exactly once (its tables are registered views over the
    * same parquet). Caching the DataFrame HANDLE is the moral equivalent
    * of that catalog registration: nothing is materialized or pinned —
    * downstream `.filter`/`.select` build fresh plans over the shared
    * `LogicalRelation`, so per-query pushdown, pruning, and physical
    * planning are untouched (PlanRegressionSpec pins that). Keyed weakly
    * by session, with the per-session map held through a SOFT reference:
    * a cached DataFrame strongly references its session (via
    * QueryExecution), so holding the map strongly would pin every
    * WeakHashMap key forever (value → key strong cycle — the entries
    * would never collect). The soft indirection breaks the cycle: under
    * memory pressure the GC drops the map, which unpins the session; a
    * live session just rebuilds its handles on the next load (~90ms).
    */
  private val handles =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]]()
  private[graft] def memo(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    val bySession = handles.synchronized {
      val ref = handles.get(spark)
      val live = if (ref == null) null else ref.get()
      if (live == null) {
        val m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        handles.put(spark, new java.lang.ref.SoftReference(m))
        m
      } else live
    }
    // not computeIfAbsent: `build` may memo its own input (documents loads
    // the raw table), and a nested update of the same map can throw
    // "Recursive update"
    val hit = bySession.get(key)
    if (hit != null) hit
    else {
      val df = build
      val raced = bySession.putIfAbsent(key, df)
      if (raced == null) df else raced
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, s"$dir/$name.parquet")(
      spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Widen an under-parallelized scan to the session's core count. The
    * testdata parquet is one row group per table, so the scan is ONE task
    * no matter what `maxPartitionBytes` says — and for the kernel tables
    * (documents/embeddings) the expensive per-row work (shingling, minhash,
    * 64-dim dot products) runs in the scan stage. On production-scale input
    * the scan already has >= parallelism splits and this is a no-op — the
    * widening only fires for the degenerate small-file case.
    *
    * r15-opt: back to the in-plan `repartition(target)`. The r14 snapshot
    * commit replaced it with a once-per-JVM materialized parquet copy; the
    * driver's ground truth showed that copy's 32 tiny files bin-pack under
    * `filesOpenCostInBytes` into ~1 read split, SERIALIZING every consumer
    * that rides the scan (q31 0.62s → 1.01s at both 8 and 32 cores), and a
    * driver-local temp dir handed to a distributed write is wrong on any
    * multi-node cluster. The in-plan exchange costs one stage boundary per
    * consumer but guarantees the parallelism and holds on a real cluster.
    */
  private def widened(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // estimate the scan's split count from plan statistics (file bytes /
    // maxPartitionBytes) — `df.rdd.getNumPartitions` would be exact but
    // materializes the plan-to-RDD conversion on EVERY table load
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val estParts = (estBytes / maxPart).toLong + 1
    if (estParts >= target) df else df.repartition(target)
  }

  def documents(s: SparkSession, d: String): DataFrame =
    memo(s, s"widened:$d/documents.parquet")(
      widened(s, load(s, d, "documents")))
  def embeddings(s: SparkSession, d: String): DataFrame =
    memo(s, s"widened:$d/embeddings.parquet")(
      widened(s, load(s, d, "embeddings")))

  /** `events.parquet` has shipped `ts` in three physical forms across
    * driver testdata generations; normalize all of them to a microsecond
    * TimestampType so every downstream query sees one type — and do it
    * BELOW the scan, so a ts-range predicate always reaches
    * `PushedFilters` and parquet min/max row-group/file skipping works
    * (a post-scan projection would turn every time-windowed query into a
    * full scan at 100 TB; pinned by PlanRegressionSpec + TablesEventsSpec):
    *
    *  - timestamp[us] UTC-adjusted: already TimestampType, no-op.
    *  - timestamp[us] without timezone: would infer TIMESTAMP_NTZ; instead
    *    the read REQUESTS TimestampType in the scan schema — the reader
    *    takes the micros verbatim as session-zone instants (every main/
    *    spec pins UTC), micro-exact vs DuckDB's naive read, and filter
    *    pushdown compares the same INT64 micros the file stores.
    *  - TIMESTAMP(NANOS): Spark's reader rejects it by default; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as LongType
    *    nanos. No in-scan conversion exists, so this path normalizes ONCE
    *    per (session, dir) into a micro-precision parquet copy and scans
    *    THAT — the "normalize at ingest" shape: every later query gets a
    *    plain pushdown-friendly timestamp scan instead of paying a derived
    *    projection per query. Truncation is INTEGER division (`div`), not
    *    `floor(_ / 1000)`: `/` on longs is double division, and epoch
    *    NANOS (~1.7e18) exceed a double's 53-bit mantissa — the rounded
    *    quotient is off by ±1µs on about half the rows (caught by the q62
    *    gate, the first query to emit raw micros).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () } // static conf on some builds; builder sets it too
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        load(s, normalizedNanosDir(s, d, raw), "events")
      case org.apache.spark.sql.types.TimestampNTZType =>
        val requested = org.apache.spark.sql.types.StructType(raw.schema.map { f =>
          if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.TimestampType)
          else f
        })
        memo(s, s"ntz-as-ts:$d/events.parquet")(
          s.read.schema(requested).parquet(s"$d/events.parquet"))
      case _ => raw
    }
  }

  /** One-time micro-precision materialization of a nanos-encoded events
    * table (driver-side map keyed by source path; the copy lives in the
    * JVM's tempdir and is written exactly once per session). At production
    * scale this is the ingest-normalization job — paid once, amortized
    * over every downstream scan.
    */
  private val nanosNormCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def normalizedNanosDir(s: SparkSession, d: String, raw: DataFrame): String =
    nanosNormCache.computeIfAbsent(new java.io.File(s"$d/events.parquet").getAbsolutePath,
      _ => {
        val out = Harness.tmp("graft_events_norm")
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          .write.mode("overwrite").parquet(s"$out/events.parquet")
        out.toString
      })
}
