package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.{AnnIndex, Similarity}

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
  * The drift monitor is INCREMENTAL: per-cell counts persist in
  * `<index>/_stream/cellcounts.json` and each epoch folds in only the
  * BATCH's cell histogram (one assignment pass over the batch), so the
  * steady-state epoch never re-reads the corpus. Measured (ScaleRun b67,
  * fixed 500-vector batch, 10× corpus under nCells ∝ N): the first cut
  * ran a per-epoch [[AnnIndex.cellStats]] scan — α_wall 0.69 (1.0→4.9 s)
  * from corpus footer reads; the cache plus [[AnnIndex.append]]'s
  * single-file layout guard brought input AND shuffle bytes exactly flat
  * (α 0.00). The residual α_wall ≈ 0.5 (0.8→2.4 s) is file-create/commit
  * overhead ∝ TOUCHED CELLS — a scattered batch writes one file per cell
  * it hits, bounded by min(|batch|, nCells), so at production batch
  * sizes (≫ nCells touched per epoch is capped) it amortizes to the
  * batch; no component reads the corpus. A full recount runs only at
  * bootstrap (no cache yet) and after a remediation pass (which already
  * paid a corpus-proportional rewrite); the counts file carries
  * `upToBatch` so a crash anywhere around the commit point folds each
  * batch into the counts exactly once.
  *
  * Exactly-once across restarts through the sink's own marker, not the
  * Delta `txn` commit the package's other sinks use: [[AnnIndex.append]]
  * adds files to shared `cell=` directories, and the index has no log
  * that could carry a `txn` in the same atomic commit as those files. So
  * the sink brackets the append in a two-phase marker under
  * `<index>/_stream/`:
  *
  *   1. `b<id>.inflight` written BEFORE the append;
  *   2. append;
  *   3. rename to `b<id>.done` — the commit point.
  *
  * A replayed batch that finds `.done` skips the append (topping up the
  * count cache if the crash hit between the marker and the counts
  * write). One that finds `.inflight` crashed mid-append: it RECONCILES
  * by deleting the batch's ids from the index ([[AnnIndex.delete]] —
  * id-pushed scan, a no-op when nothing landed) before appending again,
  * so the append is idempotent. The batch id set crosses the driver only
  * on this recovery path and is bounded by one micro-batch
  * (admission-controlled upstream).
  *
  * Maintenance runs AFTER the commit point and is deliberately outside
  * it: a crash mid-rebalance replays as a committed batch (skip), and the
  * NEXT batch's counts re-derive the same drift signal and re-trigger
  * remediation — the decision is stateless given the counts, the
  * remediation ops carry their own documented single-writer swap
  * contracts (single maintainer per index, like every AnnIndex verb).
  */
object AnnMaintainSink {

  private[streaming] def markersIn(spark: SparkSession, indexPath: String,
      sub: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val dir = new Path(indexPath, sub)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    (fs, dir)
  }

  private def markers(spark: SparkSession, indexPath: String): (org.apache.hadoop.fs.FileSystem, Path) =
    markersIn(spark, indexPath, "_stream")

  /** Persisted incremental per-cell counts; `upToBatch` = the last batch
    * id folded in (replay idempotence for the cache itself).
    */
  private[graft] final case class CellCounts(upToBatch: Long, counts: Map[Int, Long])

  private def countsPath(dir: Path) = new Path(dir, "cellcounts.json")

  private def floorPath(dir: Path) = new Path(dir, "floor")

  /** The marker floor: every batch id at or below it is committed (its
    * `b<id>.done` marker was folded away). -1 before the first fold.
    */
  private[graft] def readFloor(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Long = {
    val p = floorPath(dir)
    if (!fs.exists(p)) return -1L
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
    finally in.close()
  }

  /** Fold every `b<id>.done` marker into the floor file and delete them —
    * the marker-accretion answer (one tiny object per micro-batch forever
    * otherwise; ~500k/year at a batch a minute). Ordering is the
    * exactly-once-preserving one: the floor publishes BEFORE any marker
    * deletes (tmp + rename), so at every crash point a replayed pre-floor
    * batch still reads as committed — from the floor, or from its
    * yet-undeleted marker. Single-maintainer contract, like every verb on
    * the index. Returns the new floor (-1 = nothing to fold).
    */
  def compactMarkers(spark: SparkSession, indexPath: String): Long =
    compactMarkersIn(spark, indexPath, "_stream")

  private[streaming] def compactMarkersIn(spark: SparkSession,
      indexPath: String, sub: String): Long = {
    val (fs, dir) = markersIn(spark, indexPath, sub)
    val doneIds = fs.listStatus(dir)
      .filter(_.getPath.getName.matches("b\\d+\\.done"))
      .map(_.getPath.getName.stripPrefix("b").stripSuffix(".done").toLong)
    if (doneIds.isEmpty) return -1L
    val floor = math.max(doneIds.max, readFloor(fs, dir))
    val tmp = new Path(dir, s".floor-tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(floor.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(floorPath(dir), false)
    require(fs.rename(tmp, floorPath(dir)), s"failed to publish marker floor")
    doneIds.filter(_ <= floor)
      .foreach(id => fs.delete(new Path(dir, s"b$id.done"), false))
    floor
  }

  private[graft] def readCounts(spark: SparkSession, indexPath: String): Option[CellCounts] = {
    val (fs, dir) = markers(spark, indexPath)
    val p = countsPath(dir)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(content)
    import scala.jdk.CollectionConverters._
    val cs = node.get("counts")
    Some(CellCounts(node.get("upToBatch").asLong(),
      cs.fieldNames().asScala.map(k => k.toInt -> cs.get(k).asLong()).toMap))
  }

  private def writeCounts(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      cc: CellCounts): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("upToBatch", cc.upToBatch)
    val cs = root.putObject("counts")
    cc.counts.toSeq.sortBy(_._1).foreach { case (c, n) => cs.put(c.toString, n) }
    val out = fs.create(countsPath(dir), true)
    try out.write(mapper.writeValueAsBytes(root)) finally out.close()
  }

  /** Full recount — corpus-proportional; bootstrap and post-remediation
    * only. One footer-cheap aggregate (numRecords per row group).
    */
  private def recount(spark: SparkSession, indexPath: String): Map[Int, Long] =
    spark.read.parquet(indexPath).groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** The batch's per-cell histogram under the CURRENT centroids — one
    * assignment pass over the batch, never the corpus.
    */
  private def batchHistogram(b: DataFrame, vecCol: String,
      meta: AnnIndex.Meta): Map[Int, Long] =
    b.groupBy(Similarity.assignCell(col(vecCol), meta.centroids).as("cell"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** One micro-batch through the append + drift-remediation loop.
    * `afterAppend` is a failpoint hook between the append and the commit
    * rename (the crash window the reconcile path exists for) — production
    * callers leave it a no-op; the crash spec throws from it once.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, indexPath: String,
      maxBalance: Double, minBalance: Double,
      refreshEvery: Int, errorFactor: Double,
      extraCols: Seq[String],
      afterAppend: () => Unit = () => ()): Unit = {
    val spark = batch.sparkSession
    val (fs, dir) = markers(spark, indexPath)
    val done = new Path(dir, s"b$batchId.done")
    val inflight = new Path(dir, s"b$batchId.inflight")
    val b = batch.select(col(idCol).cast("long").as(idCol) +: col(vecCol) +:
      extraCols.map(col): _*).localCheckpoint()
    if (batchId <= readFloor(fs, dir) || fs.exists(done)) {
      // replayed after commit: only the count cache may be behind (crash
      // between the marker rename and the counts write) — top it up
      readCounts(spark, indexPath).foreach { cc =>
        if (cc.upToBatch < batchId && !b.isEmpty) {
          val meta = AnnIndex.meta(spark, indexPath)
          val merged = batchHistogram(b, vecCol, meta).foldLeft(cc.counts) {
            case (m, (c, n)) => m + (c -> (m.getOrElse(c, 0L) + n)) }
          writeCounts(fs, dir, CellCounts(batchId, merged))
        }
      }
      return
    }
    if (b.isEmpty) {
      fs.create(done, true).close()
      return
    }
    if (fs.exists(inflight)) {
      // previous attempt crashed between append and commit: some, all, or
      // none of this batch's files may have landed — delete its ids (the
      // ONLY rows they can hold; ids are unique per stream contract) and
      // redo the append from scratch
      val ids = b.select(col(idCol)).collect().map(_.getLong(0)).toSeq
      AnnIndex.delete(spark, indexPath, ids)
    } else {
      fs.create(inflight, true).close()
    }
    AnnIndex.append(b, idCol, vecCol, indexPath, extraCols)
    afterAppend()
    require(fs.rename(inflight, done), s"failed to commit marker $done")

    // ---- drift monitor + remediation (outside the commit point) ----
    val meta = AnnIndex.meta(spark, indexPath)
    val counts: Map[Int, Long] = readCounts(spark, indexPath) match {
      case Some(cc) if cc.upToBatch >= batchId => cc.counts // replayed fold
      case Some(cc) =>
        batchHistogram(b, vecCol, meta).foldLeft(cc.counts) {
          case (m, (c, n)) => m + (c -> (m.getOrElse(c, 0L) + n)) }
      case None => recount(spark, indexPath) // bootstrap: the one full pass
    }
    writeCounts(fs, dir, CellCounts(batchId, counts))
    val total = counts.values.sum.toDouble
    val maxBal =
      if (total == 0) 0.0 else counts.values.max * meta.nCells / total
    if (maxBal > maxBalance) {
      AnnIndex.rebalance(spark, indexPath, maxBalance, minBalance = minBalance)
      // remediation moved rows between cells (and may have changed
      // nCells) — re-derive the cache from the index it already rewrote
      writeCounts(fs, dir, CellCounts(batchId, recount(spark, indexPath)))
    }
    if (refreshEvery > 0 && (batchId + 1) % refreshEvery == 0 && meta.m > 0)
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
      extraCols: Seq[String] = Nil,
      compactMarkersEvery: Int = 0): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, vecCol, indexPath,
          maxBalance, minBalance, refreshEvery, errorFactor, extraCols)
        if (compactMarkersEvery > 0 && (batchId + 1) % compactMarkersEvery == 0) {
          compactMarkers(batch.sparkSession, indexPath)
          ()
        }
      }
      .start()
}
