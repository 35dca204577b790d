package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{DeltaMerge, DeltaRead, DeltaWrite}
import Main.{OpResult, check}

/** Writes beside reads on one standing Delta table built in setup from
  * `orders`-shaped rows. One op is a copy-on-write upsert and a
  * deletion-vector upsert, a maintenance cycle (compaction, then a
  * checkpoint), the snapshot reads that check all three commits, then the
  * change feed of both upserts. Every op has the same parts, so a run's
  * median does not depend on where its window ends. Each upsert
  * is a seeded batch of ~1% of the table: 80% keys that exist (drawn from
  * one window of the key range, so a batch touches few files) and 20% new
  * keys. An in-benchmark model of every key's cents checks each read, and
  * its per-version history checks time travel.
  */
final class Lakehouse(spark: SparkSession, seed: Long, work: String) extends Workload {
  val Rows = 150000
  val BatchRows = 1500
  val MatchedShare = 0.8
  val InitialFiles = 8
  val CompactTargetBytes: Long = 128L * 1024

  private val schema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType), StructField("cents", LongType)))

  private val path = s"$work/lakehouse/orders_delta"
  private val cents = mutable.ArrayBuffer[Long]()
  // committed version → (count, sum(cents))
  private val history = mutable.LinkedHashMap[Long, (Long, Long)]()
  private var rng: SplittableRandom = _
  // the table's files as its commits leave them, for the traced-run
  // counters: live data file → size, and bytes of every file ever written
  private val live = mutable.Map[String, Long]()
  private val written = mutable.Set[String]()
  private var diskBytes = 0L
  // committed version → (files removed, bytes added)
  private val commitStats = mutable.Map[Long, (Int, Long)]()

  def prepare(): Unit = {
    val init = Gen.orderCents(seed, Rows)
    cents ++= init
    rng = new SplittableRandom(seed ^ 0x1a4e40L)
    val rows = init.indices.map(k => Row(k.toLong, Gen.Statuses(k % 3), init(k)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, InitialFiles), schema)
    commit(DeltaWrite.writeDeltaTable(df, path, "append"))
    commit(DeltaWrite.setTableProperties(spark, path, Map("delta.enableChangeDataFeed" -> "true")))
  }

  def warmup(): Unit = op(-1)

  private def commit(v: Long): Long = {
    check(v >= 0, s"commit returned version $v")
    history(v) = (cents.size.toLong, cents.sum)
    track(v)
    v
  }

  def op(i: Int): OpResult = {
    val t0 = System.nanoTime()
    val cow = upsert(dv = false)
    val dv = upsert(dv = true)
    val writeS = (System.nanoTime() - t0) / 1e9 / 2
    val m = maintain()
    val t1 = System.nanoTime()
    val (readRows, readNotes) = read()
    val readS = (System.nanoTime() - t1) / 1e9
    val changes = changeFeed(cow, dv)
    OpResult("round", cow.rows + dv.rows + readRows + changes,
      Seq(cow.notes, dv.notes, m, readNotes).flatten.groupMapReduce(_._1)(_._2)(_ + _) ++
        Map("write_s" -> writeS, "read_s" -> readS))
  }

  private final case class Upsert(version: Long, rows: Long, matched: Int, inserted: Int,
      notes: Map[String, Double])

  private def upsert(dv: Boolean): Upsert = {
    val matched = (BatchRows * MatchedShare).toInt
    val window = matched * 3
    val start = rng.nextInt(cents.size - window)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < matched) keys += (start + rng.nextInt(window)).toLong
    val fresh = (cents.size until cents.size + BatchRows - matched).map(_.toLong)
    val rows = (keys.toSeq ++ fresh).map { k =>
      Row(k, Gen.Statuses(rng.nextInt(3)), 100000L + rng.nextLong(49900000L))
    }
    val source = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val v = Trace.span("io.delta:merge")(DeltaMerge.merge(spark, path, source, Seq("o_orderkey"),
      useDeletionVectors = dv))
    rows.foreach { r =>
      val k = r.getLong(0).toInt
      if (k < cents.size) cents(k) = r.getLong(2) else cents += r.getLong(2)
    }
    commit(v)
    val notes =
      if (!Trace.enabled) Map.empty[String, Double]
      else {
        val (removes, addBytes) = commitStats(v)
        Map("files_rewritten" -> removes.toDouble, "bytes_written" -> addBytes.toDouble,
          "source_bytes" -> rows.size * live.values.sum.toDouble / cents.size)
      }
    Upsert(v, rows.size.toLong, matched, fresh.size, notes)
  }

  private def totals(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** Returns (rows read, traced-run counters). */
  private def read(): (Long, Map[String, Double]) = {
    val head = Trace.span("io.delta:readDeltaTable")(DeltaRead.readDeltaTable(spark, path))
    val (n, s) = Trace.span("io.delta:scan")(totals(head))
    check((n, s) == ((cents.size.toLong, cents.sum)), s"snapshot ($n, $s) != model (${cents.size}, ${cents.sum})")

    val lo = rng.nextInt(cents.size - Rows / 100).toLong
    val hi = lo + Rows / 100
    val pruned = head.filter(col("o_orderkey").between(lo, hi))
      .agg(count(lit(1)), coalesce(sum(col("cents")), lit(0L)))
    val pr = Trace.span("io.delta:prunedScan")(pruned.collect().head)
    val want = (lo to hi).map(k => cents(k.toInt)).sum
    check(pr.getLong(0) == hi - lo + 1 && pr.getLong(1) == want,
      s"pruned read [$lo, $hi] = (${pr.getLong(0)}, ${pr.getLong(1)}) != (${hi - lo + 1}, $want)")

    val versions = history.keys.toIndexedSeq
    val v = versions(rng.nextInt(versions.size))
    val past = Trace.span("io.delta:readDeltaTable")(DeltaRead.readDeltaTable(spark, path, versionAsOf = Some(v)))
    val tt = Trace.span("io.delta:scan")(totals(past))
    check(tt == history(v), s"time travel to v$v = $tt != model ${history(v)}")

    val notes =
      if (!Trace.enabled) Map.empty[String, Double]
      else {
        val scans = new AdaptiveSparkPlanHelper {}.collect(pruned.queryExecution.executedPlan) {
          case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
        Map("pruned_files_scanned" -> scans.sum.toDouble, "pruned_live_files" -> live.size.toDouble,
          "live_files" -> live.size.toDouble, "live_bytes" -> live.values.sum.toDouble,
          "disk_bytes" -> diskBytes.toDouble)
      }
    (n + pr.getLong(0) + tt._1, notes)
  }

  /** Reads the change feed across two consecutive upserts and checks it
    * holds exactly their pre/post images and inserts; returns its rows.
    */
  private def changeFeed(a: Upsert, b: Upsert): Long = {
    // the feed's lower bound is exclusive: (a - 1, b] is commits a..b
    val byType = Trace.span("io.delta:changeFeed")(DeltaRead.changeFeed(spark, path, a.version - 1, Some(b.version))
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val matched = (a.matched + b.matched).toLong
    val want = Map("update_preimage" -> matched, "update_postimage" -> matched,
      "insert" -> (a.inserted + b.inserted).toLong)
    check(byType == want, s"change feed of v${a.version}..v${b.version} = $byType != $want")
    byType.values.sum
  }


  /** One maintenance cycle: compact the small and deletion-vector files,
    * then checkpoint the log. Returns traced-run counters.
    */
  private def maintain(): Map[String, Double] = {
    val v = Trace.span("io.delta:compact")(DeltaWrite.compact(spark, path, targetBytes = CompactTargetBytes))
    if (v >= 0) commit(v)
    Trace.span("io.delta:checkpoint")(DeltaWrite.checkpoint(spark, path))
    if (v < 0 || !Trace.enabled) Map.empty[String, Double]
    else Map("compact_bytes" -> commitStats(v)._2.toDouble)
  }


  // ---------------------------------------------- traced-run counters

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readCommit(v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val src = scala.io.Source.fromFile(new java.io.File(f"$path/_delta_log/$v%020d.json"))
    try src.getLines().map(mapper.readTree).toList
    finally src.close()
  }

  /** Applies commit `v`, read from its log entry, to the file model:
    * removes, then adds (a deletion-vector update removes and re-adds the
    * same path). Counts each data file and each stored deletion vector once
    * in `diskBytes`. No Spark job runs here, so traced and untraced ops do
    * the same work.
    */
  private def track(v: Long): Unit = {
    val actions = readCommit(v)
    val removes = actions.filter(_.has("remove"))
    val adds = actions.filter(_.has("add")).map(_.get("add"))
    commitStats(v) = (removes.size, adds.map(_.get("size").asLong()).sum)
    removes.foreach(a => live.remove(a.get("remove").get("path").asText()))
    adds.foreach { a =>
      val p = a.get("path").asText()
      live(p) = a.get("size").asLong()
      if (written.add(p)) diskBytes += a.get("size").asLong()
      val dv = a.get("deletionVector")
      if (dv != null && dv.get("storageType").asText() != "i" &&
          written.add(s"dv:${dv.get("pathOrInlineDv").asText()}@${dv.path("offset").asLong()}"))
        diskBytes += dv.get("sizeInBytes").asLong()
    }
  }
}
