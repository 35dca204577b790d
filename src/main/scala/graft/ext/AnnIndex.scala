package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.io.{DeltaMerge, DeltaRead, DeltaWrite}

/** Persisted IVF(-PQ) index — the OPERATIONAL half of the ANN stack: the
  * train-and-query-in-one-job forms ([[Similarity.ivfKnn]],
  * [[PQ.ivfPqTopK]]) re-train per call, which is right for exploratory
  * queries and wrong for a serving corpus. Here the index is BUILT once
  * (train + assign + encode) and kept as an ordinary Delta table
  * partitioned by the IVF cell, whose trained state lives in its own log
  * (one `graft.ann` domainMetadata action). Every later query LOADS that
  * state from the log snapshot (driver-side, a few KB) and scans only the
  * probed cells — partition pruning over the log's `cell` values does the
  * cell selection, so a 1-probe query on a 1024-cell index touches ~0.1%
  * of the files.
  *
  * Every verb lands as ONE commit of [[graft.io.DeltaWrite]]'s core, the
  * protocol of every other table here: rows and trained state change
  * together or not at all, so a crash at any point leaves version N or
  * N+1 — never codes that disagree with the codebooks the domain records
  * — and re-running the verb is the recovery. One maintainer per index:
  * an append racing a maintenance verb is not detected.
  */
object AnnIndex {

  /** Trained state. PQ codebooks are VERSIONED: `codebooks` is version 0
    * (the build-time set), `codebookVersions` holds refresh generations
    * 1..n ([[refreshCodebooks]]), and `cellVersions` records which
    * generation each cell's stored codes were encoded under (absent = 0).
    * Codes are only comparable within one generation, so every encode
    * (append), decode (ADC probe), and file-moving maintenance op keys by
    * the cell's generation. `buildId` names the [[build]] that wrote the
    * index: every build mints a fresh one, so progress recorded against
    * an earlier build at the same path ([[txnAppId]]) never applies to
    * this one.
    */
  final case class Meta(dim: Int, nCells: Int, m: Int, nCodes: Int,
      centroids: Seq[Seq[Double]], codebooks: Option[Seq[Seq[Seq[Double]]]],
      codebookVersions: Seq[Seq[Seq[Seq[Double]]]] = Nil,
      cellVersions: Map[Int, Int] = Map.empty, buildId: String = "") {
    /** Codebooks of generation `v` as the packed runtime form. */
    private[ext] def codebooksAt(v: Int): PQ.Codebooks = {
      val centers = if (v == 0) codebooks.getOrElse(
        throw new IllegalArgumentException("index was built without PQ codes (m=0)"))
        else codebookVersions(v - 1)
      PQ.Codebooks(m, dim / m, nCodes, centers.map(_.map(_.toArray).toArray).toArray)
    }
    private[ext] def versionOfCell(cell: Int): Int = cellVersions.getOrElse(cell, 0)
  }

  /** The domain of the index's log that holds its [[Meta]]. */
  private val Domain = "graft.ann"

  /** Build and persist: trains IVF centroids (sample-bounded) and, when
    * `m > 0`, PQ codebooks; writes `(id, vec, cell, pq_code?, nrm)`
    * partitioned by cell with the trained state in the creating commit
    * (a Delta table already at `path` is replaced whole). Returns the
    * meta. The L2 norm is materialized at build time so probe queries pay
    * only the dot product per pair, never the norm. `extraCols` carries
    * payload columns (labels, source tags) into the index verbatim — the
    * metadata-filtered-search shape ([[hardNegatives]]) needs the filter
    * column co-located with the vectors it prunes.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String,
      nCells: Int, m: Int = 0, nCodes: Int = 16, iters: Int = 2,
      seed: Long = 42L, extraCols: Seq[String] = Nil): Meta = {
    val spark = df.sparkSession
    require(m == 0 || extraCols.isEmpty,
      "extraCols are only supported for non-PQ indexes (m = 0)")
    val centroids = Similarity.ivfCentroidsSampled(df, idCol, vecCol, nCells, iters, seed)
    val dim = centroids.head.length
    val cb = if (m > 0) Some(PQ.train(df, idCol, vecCol, m, nCodes, iters, seed)) else None
    val base = df.select(col(idCol).cast("long").as("id") +: col(vecCol).as("vec") +:
      Similarity.assignCell(col(vecCol), centroids).as("cell") +:
      extraCols.map(col): _*)
    val indexed = (cb match {
      case Some(codebooks) =>
        import spark.implicits._
        base.as[(Long, Array[Float], Int)]
          .mapPartitions(_.map { case (id, v, cell) =>
            (id, v, cell, codebooks.encodeVec(v)) })
          .toDF("id", "vec", "cell", "pq_code")
      case None => base
    }).withColumn("nrm", Similarity.l2Norm(col("vec")))
    val meta = Meta(dim, nCells, m, nCodes, centroids,
      cb.map(_.centers.map(_.map(_.toSeq).toSeq).toSeq),
      buildId = java.util.UUID.randomUUID().toString)
    // cluster by cell before the partitioned write: without it every write
    // task emits one file into EVERY cell it holds rows for (tasks × cells
    // tiny files — 512 creates at bench scale, and a probe query then
    // opens `files/cells` footers per probed cell). One exchange on the
    // cell key lands each cell as one task's contiguous write. (At
    // production bytes, repartition on (cell, salt) to keep multiple
    // ~128 MB files per cell; the guide-§6 file-sizing shape.) The fixed
    // checkpoint interval is delta-spark's default.
    DeltaWrite.commitFiles(spark, path, "CREATE ANN INDEX",
      Option.when(DeltaRead.latestVersion(spark, path) >= 0)(DeltaRead.snapshot(spark, path)),
      rows = Some(indexed.repartition(col("cell"))), domain = Some(Domain -> toJson(meta)),
      create = Some(Seq("cell") -> Map("delta.checkpointInterval" -> "10")))
    meta
  }

  /** Incrementally add vectors to a persisted index WITHOUT retraining:
    * each new vector assigns to its nearest EXISTING centroid and the
    * batch lands as one blind-append commit — untouched cells gain no
    * files, the trained state is untouched, and probe queries see the new
    * vectors on their next scan. This is the serving-corpus ingest shape:
    * cost scales with the batch, never the corpus. The trade is centroid
    * staleness — appended mass does not move the centroids (the IVF
    * serving convention), so rebuild when drift degrades recall. A PQ
    * index (m > 0) encodes the batch with its STORED codebooks — codes
    * stay comparable to the built corpus by construction, with the same
    * staleness trade as the centroids (codebooks never retrain on
    * appended mass). A batch whose columns don't match the index layout
    * refuses.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String,
      extraCols: Seq[String] = Nil): Unit =
    append(df, idCol, vecCol, path, extraCols, None)

  /** [[append]] whose commit carries `txn` — the streaming sinks'
    * exactly-once token.
    */
  private[graft] def append(df: DataFrame, idCol: String, vecCol: String, path: String,
      extraCols: Seq[String], txn: Option[(String, Long)]): Unit = {
    val spark = df.sparkSession
    val (snap, meta) = state(spark, path)
    require(meta.m == 0 || extraCols.isEmpty,
      "extraCols are only supported for non-PQ indexes (m = 0)")
    val base = df.select(col(idCol).cast("long").as("id") +: col(vecCol).as("vec") +:
      Similarity.assignCell(col(vecCol), meta.centroids).as("cell") +:
      extraCols.map(col): _*)
    val batch = (meta.codebooks match {
      case Some(_) =>
        // encode with each target CELL's codebook generation — mixing
        // generations inside one cell would silently corrupt ADC probes
        val byVersion = (0 to meta.codebookVersions.size)
          .map(v => v -> meta.codebooksAt(v)).toMap
        val cellVer = meta.cellVersions
        import spark.implicits._
        base.as[(Long, Array[Float], Int)]
          .mapPartitions(_.map { case (id, v, cell) =>
            (id, v, cell, byVersion(cellVer.getOrElse(cell, 0)).encodeVec(v)) })
          .toDF("id", "vec", "cell", "pq_code")
      case None => base
    }).withColumn("nrm", Similarity.l2Norm(col("vec")))
    // layout guard against the schema in the log — no data file is read.
    // Full FIELD comparison (name + type, nullability-insensitive,
    // order-free): a same-named column with a different type would append
    // cleanly and then corrupt every read of the index.
    def norm(st: StructType): Seq[(String, String)] =
      st.fields.map(f => (f.name, f.dataType.sql)).sortBy(_._1).toSeq
    val existing = DataType.fromJson(snap.meta.schemaJson).asInstanceOf[StructType]
    require(norm(batch.schema) == norm(existing),
      s"append batch layout ${norm(batch.schema).map { case (n, t) => s"$n:$t" }.mkString(", ")} " +
        s"does not match the index layout ${norm(existing).map { case (n, t) => s"$n:$t" }.mkString(", ")} — " +
        "pass the same extraCols (same types) the index was built with")
    DeltaWrite.commitFiles(spark, path, "WRITE", Some(snap), rows = Some(batch), txn = txn)
  }

  /** Delete vectors by id WITHOUT rebuilding — the index lifecycle's
    * takedown verb: one copy-on-write DELETE commit
    * ([[DeltaMerge.deleteWhere]] on `id IN ids`), whose file stats skip
    * every file holding none of the ids, so ONLY files holding them
    * rewrite; untouched files stay live as they are and cost ∝ touched
    * files, never the corpus. PQ codes ride the surviving rows unchanged,
    * so ADC probes stay valid; a cell deleted empty simply stops matching
    * probes (run [[rebalance]] with `minBalance` to fold starved cells
    * after heavy deletes). Ids are a bounded in-list (the takedown-batch
    * shape). Returns rows deleted.
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "ids must be non-empty")
    val (snap, _) = state(spark, path)
    val v = DeltaMerge.deleteWhere(spark, path, col("id").isInCollection(ids))
    if (v < 0) 0L else rowCount(snap) - rowCount(DeltaRead.snapshot(spark, path, Some(v)))
  }

  /** Retrain PQ codebooks on the CURRENT corpus and re-encode ONLY the
    * cells whose quantization error materially improves — the maintenance
    * verb closing [[append]]'s staleness trade (appends encode with
    * stored codebooks, so after heavy drift the code error grows without
    * bound and ADC recall decays). One bounded-sample train
    * ([[PQ.train]], the build-time trainer), one corpus pass computing
    * per-cell squared reconstruction error under the cell's CURRENT
    * generation vs the candidate, then ONE commit rewriting exactly the
    * cells where `curErr > errorFactor × newErr` and recording the new
    * generation in `codebookVersions` and the re-encoded cells'
    * `cellVersions` — untouched cells keep their files and generation.
    * Probes and appends key every decode/encode by the cell's generation,
    * so mixed-generation indexes stay exact. Returns the number of
    * re-encoded cells (0 = candidate discarded, no generation recorded).
    */
  def refreshCodebooks(spark: SparkSession, path: String,
      errorFactor: Double = 1.05, iters: Int = 2, seed: Long = 42L): Int = {
    require(errorFactor >= 1.0, s"errorFactor must be >= 1, got $errorFactor")
    val (snap, meta) = state(spark, path)
    require(meta.m > 0, s"$path was built without PQ codes (m=0)")
    val df = rows(spark, path, snap)
    val newCb = PQ.train(df, "id", "vec", meta.m, meta.nCodes, iters, seed)
    val byVersion = (0 to meta.codebookVersions.size)
      .map(v => v -> meta.codebooksAt(v)).toMap
    val cellVer = meta.cellVersions
    import spark.implicits._
    def sqErr(v: Array[Float], cb: PQ.Codebooks): Double = {
      val d = cb.decode(cb.encodeVec(v))
      var s = 0.0
      var i = 0
      while (i < d.length) { val t = v(i) - d(i); s += t * t; i += 1 }
      s
    }
    val errs = df.select(col("cell"), col("vec")).as[(Int, Array[Float])]
      .mapPartitions(_.map { case (cell, v) =>
        (cell, sqErr(v, byVersion(cellVer.getOrElse(cell, 0))), sqErr(v, newCb))
      })
      .toDF("cell", "cur_err", "new_err")
      .groupBy(col("cell"))
      .agg(sum(col("cur_err")).as("cur"), sum(col("new_err")).as("nw"))
      .collect()
    val toRecode = errs.filter(r => r.getDouble(1) > errorFactor * r.getDouble(2))
      .map(_.getInt(0)).toSeq.sorted
    if (toRecode.isEmpty) return 0
    val recoded = df.filter(col("cell").isInCollection(toRecode))
      .select(col("id"), col("vec"), col("cell"), col("nrm"))
      .as[(Long, Array[Float], Int, Double)]
      .mapPartitions(_.map { case (id, v, cell, nrm) =>
        (id, v, cell, newCb.encodeVec(v), nrm) })
      .toDF("id", "vec", "cell", "pq_code", "nrm")
    val newVersion = meta.codebookVersions.size + 1
    DeltaWrite.commitFiles(spark, path, "REFRESH CODEBOOKS", Some(snap),
      rows = Some(recoded), removes = filesOf(snap, toRecode.toSet),
      domain = Some(Domain -> toJson(meta.copy(
        codebookVersions = meta.codebookVersions :+
          newCb.centers.map(_.map(_.toSeq).toSeq).toSeq,
        cellVersions = meta.cellVersions ++ toRecode.map(_ -> newVersion)))))
    toRecode.size
  }

  /** Exact top-k over the probed cells: load the trained state, rank the
    * query against the centroids driver-side, scan ONLY the `nProbe`
    * nearest cells (a partition-pruning IN filter — untouched cells are
    * never listed, read, or decoded), exact cosine within them.
    */
  def query(spark: SparkSession, path: String, query: Array[Double],
      nProbe: Int, k: Int): DataFrame = {
    val (snap, meta) = state(spark, path)
    require(nProbe > 0 && nProbe <= meta.nCells, s"nProbe must be in [1, ${meta.nCells}]")
    require(query.length == meta.dim, s"query dim ${query.length} != index dim ${meta.dim}")
    val probed = nearestCells(meta, query, nProbe)
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val qCol = typedlit(query.toSeq)
    rows(spark, path, snap)
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
      .select(col("id"),
        round(Similarity.dot(transform(col("vec"), _.cast("double")), qCol) /
          (col("nrm") * lit(qNorm)), 6).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Batched k-NN JOIN against the persisted index — the unfiltered
    * sibling of [[hardNegatives]], same routing: every query row probes
    * its `nProbe` nearest cells, the probe rows equi-join the
    * cell-partitioned corpus (distinct probed cells partition-prune the
    * scan), and [[graft.plans.TopKPerKey]] heap-cuts top-k per query.
    * Self-matches (same id) are excluded, like [[Similarity.topKNeighbors]].
    * `nProbe = nCells` degenerates to exact brute force.
    */
  def knnJoin(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int, k: Int): DataFrame = {
    val (snap, meta) = state(spark, path)
    require(nProbe > 0 && nProbe <= meta.nCells, s"nProbe must be in [1, ${meta.nCells}]")
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      Similarity.l2Norm(col(vecCol)).as("q_nrm"),
      explode(Similarity.assignCells(col(vecCol), meta.centroids, nProbe)).as("cell"))
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val corpus = rows(spark, path, snap)
      .filter(col("cell").isInCollection(probed))
      .select(col("cell"), col("id").as("neighbor_id"),
        col("vec").as("n_vec"), col("nrm").as("n_nrm"))
    val pairs = corpus.join(q, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("n_vec"), col("q_vec")) /
          (col("n_nrm") * col("q_nrm")), 6).as("sim"))
    graft.plans.TopKPerKey.topKPerKey(
      pairs, Seq("query_id"), Seq(col("sim").desc, col("neighbor_id")), k)
  }

  /** Per-cell population of the persisted index — the drift monitor that
    * pairs with [[append]]: appended mass never moves centroids, so a
    * cell whose share balloons past `1/nCells` by a large factor is the
    * rebuild signal (probe cost on that cell grows with it). Summed from
    * the `numRecords` the log records per file — no Spark job; the frame
    * is local, ordered by cell.
    */
  def cellStats(spark: SparkSession, path: String): DataFrame = {
    val (snap, meta) = state(spark, path)
    val counts = cellCounts(snap).toSeq.sorted
    val total = counts.map(_._2).sum.toDouble
    import spark.implicits._
    counts.map { case (c, n) => (c, n, n / total, n / total * meta.nCells) }
      .toDF("cell", "n_vectors", "share", "balance")
  }

  /** Split oversized cells and fold starved ones — the remediation op
    * [[cellStats]]'s drift signal calls for (appends never move centroids,
    * so a hot cell's probe cost balloons): every cell whose balance
    * (share × nCells) exceeds `maxBalance` re-trains k=2 sub-centroids ON
    * THAT CELL ONLY (sample-bounded, exactly like [[build]]'s trainer) and
    * rewrites ONLY its rows — one sub-cell keeps the old id, the other
    * becomes a fresh cell — so the cost is proportional to the oversized
    * mass, never the corpus, and untouched cells keep their files. Every
    * cell over the bound splits in one batched ROUND (one pooled sampling
    * job, driver-side training, one sizing job, one rewrite), one commit
    * per round carrying the new centroids; rounds repeat until the bound
    * holds, a cell stops separating (near-identical vectors), or
    * `maxSplits`.
    *
    * With `minBalance > 0` a MERGE pass follows, as one commit: cells
    * whose balance falls below it (post-delete / post-append drift
    * accumulating dead or starved cells — each one a probe that reads
    * almost nothing yet still costs a centroid compare) fold into their
    * nearest-centroid neighbor, smallest first, the two centroids
    * replaced by their mass-weighted mean; a merge that would push the
    * absorbing cell past `maxBalance` is skipped. Surviving cells
    * renumber contiguously, so `nCells` genuinely shrinks. The cell lives
    * in each file's log partition value, not in its bytes, so a folded or
    * renumbered cell's files are re-added under their new cell — zero
    * data rewrite.
    *
    * Exactness at `nProbe = nCells` is preserved by construction (all
    * cells scanned); sub-linear probes see strictly SMALLER hot cells.
    * Works for PQ indexes too: codes ride the rows unchanged, a split's
    * new cell inherits its source generation, and a merge across
    * generations is refused. Returns the number of splits + merges.
    */
  def rebalance(spark: SparkSession, path: String, maxBalance: Double = 4.0,
      iters: Int = 2, seed: Long = 42L, maxSplits: Int = 32,
      minBalance: Double = 0.0): Int = {
    require(maxBalance > 1.0,
      s"maxBalance must exceed 1 (the perfectly even share), got $maxBalance")
    require(minBalance >= 0.0 && minBalance < 1.0,
      s"minBalance must be in [0, 1), got $minBalance")
    var (snap, meta) = state(spark, path)
    val counts = mutable.Map(cellCounts(snap).toSeq: _*)
    val total = counts.values.sum.toDouble
    if (total == 0) return 0
    val centroids = mutable.ArrayBuffer(meta.centroids: _*)
    val cellVers = mutable.Map(meta.cellVersions.toSeq: _*)
    // one commit: the rows, removes and moves of a pass with the trained
    // state as it now stands
    def commit(operation: String, rewritten: Option[DataFrame],
        removes: Seq[DeltaRead.LiveFile],
        moves: Seq[(DeltaRead.LiveFile, Map[String, String])]): Unit = {
      meta = meta.copy(nCells = centroids.size, centroids = centroids.toSeq,
        cellVersions = cellVers.toMap)
      DeltaWrite.commitFiles(spark, path, operation, Some(snap), rows = rewritten,
        removes = removes, moves = moves, domain = Some(Domain -> toJson(meta)))
      snap = DeltaRead.snapshot(spark, path)
    }

    val unsplittable = mutable.Set[Int]()
    var splits = 0
    def breaching: Seq[Int] = counts.filterNot(c => unsplittable(c._1))
      .filter(_._2 * centroids.size / total > maxBalance)
      .toSeq.sortBy(-_._2).map(_._1)
    var round = breaching
    while (splits < maxSplits && round.nonEmpty) {
      val cells = round.take(maxSplits - splits)
      val hot = rows(spark, path, snap).filter(col("cell").isInCollection(cells))
      // pooled sample: one job, |cells| × 4096 rows collected
      val pooled = graft.plans.TopKPerKey.topKPerKey(
          hot.select(col("cell"), col("vec"), xxhash64(col("id"), lit(seed)).as("__h")),
          Seq("cell"), Seq(col("__h")), 4096)
        .select(col("cell"), col("vec")).collect()
        .groupBy(_.getInt(0))
        .map { case (c, rs) =>
          c -> rs.map(_.getSeq[Float](1).map(_.toDouble).toArray) }
      val subsOf: Map[Int, Seq[Seq[Double]]] = cells.map { c =>
        c -> Similarity.lloydOnSample(pooled(c), 2, iters).map(_.toSeq).toSeq
      }.toMap
      // each hot row's sub-cell under ITS cell's sub-centroids
      val side = cells.foldLeft(lit(null).cast("int")) { (acc, c) =>
        when(col("cell") === c, Similarity.assignCell(col("vec"), subsOf(c))).otherwise(acc)
      }
      val sizes = hot.groupBy(col("cell"), side.as("__side")).count().collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      // cells whose sample does not separate keep their files and never retry
      val separated = cells.filter(c => sizes.contains((c, 0)) && sizes.contains((c, 1)))
      cells.filterNot(separated.contains).foreach(unsplittable += _)
      if (separated.nonEmpty) {
        val newIdOf = separated.zipWithIndex.map { case (c, i) => c -> (centroids.size + i) }.toMap
        separated.foreach { c =>
          centroids(c) = subsOf(c)(0)
          centroids += subsOf(c)(1)
          cellVers.get(c).foreach(v => cellVers(newIdOf(c)) = v)
          counts(c) = sizes((c, 0))
          counts(newIdOf(c)) = sizes((c, 1))
        }
        val reassigned = hot.filter(col("cell").isInCollection(separated))
          .withColumn("cell", separated.foldLeft(col("cell")) { (acc, c) =>
            when(col("cell") === c && side === 1, lit(newIdOf(c))).otherwise(acc)
          })
        commit("REBALANCE SPLIT", Some(reassigned), filesOf(snap, separated.toSet), Nil)
        splits += separated.size
      }
      round = breaching
    }

    // ---- merge pass: fold starved cells into their nearest neighbor ----
    var merges = 0
    if (minBalance > 0.0) {
      def countOf(c: Int): Long = counts.getOrElse(c, 0L)
      def dist2(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val unmergeable = mutable.Set[Int]()
      val into = mutable.Map[Int, Int]() // folded cell -> the cell that absorbed it
      var go = true
      while (go) {
        val live = centroids.indices.filterNot(into.contains)
        val cand = live.filterNot(unmergeable)
          .map(c => (countOf(c), c)).minOption
        go = live.size > 1 && cand.exists { case (n, _) =>
          n * live.size / total < minBalance }
        if (go) {
          val src = cand.get._2
          val tgt = live.filter(_ != src)
            .minBy(o => dist2(centroids(o), centroids(src)))
          // absorbing must not recreate the hot-cell problem; and a PQ
          // merge across codebook generations would mix incomparable
          // codes in one cell — refuse the pair
          if ((countOf(tgt) + countOf(src)) * (live.size - 1) / total > maxBalance ||
              (meta.m > 0 &&
                cellVers.getOrElse(src, 0) != cellVers.getOrElse(tgt, 0)))
            unmergeable += src
          else {
            val (ns, nt) = (countOf(src), countOf(tgt))
            if (ns + nt > 0)
              centroids(tgt) = centroids(tgt).zip(centroids(src)).map {
                case (t, s) => (t * nt + s * ns) / (nt + ns) }
            counts(tgt) = nt + ns
            counts.remove(src)
            cellVers.remove(src)
            into(src) = tgt
            merges += 1
          }
        }
      }
      if (merges > 0) {
        // survivors renumber contiguously; a folded cell's files follow
        // the cell that absorbed it
        val survivors = centroids.indices.filterNot(into.contains)
        val renumbered = survivors.zipWithIndex.toMap
        def home(c: Int): Int = into.get(c).fold(renumbered(c))(home)
        val moves = snap.files.flatMap { f =>
          val to = home(cellOf(f))
          Option.when(to != cellOf(f))(f -> Map("cell" -> to.toString))
        }
        val kept = survivors.map(centroids)
        val vers = survivors.flatMap(c => cellVers.get(c).map(renumbered(c) -> _))
        centroids.clear()
        centroids ++= kept
        cellVers.clear()
        cellVers ++= vers
        commit("REBALANCE MERGE", None, Nil, moves)
      }
    }
    splits + merges
  }

  /** ANN-routed hard-negative mining for UNBOUNDED query sets — the scale
    * path past [[Similarity.hardNegatives]]'s broadcast form: instead of
    * broadcasting the query set and scoring it against the whole corpus,
    * every query probes only its `nProbe` nearest IVF cells of a
    * [[build]]-persisted index (built with `extraCols = Seq(labelCol)` so
    * the filter column is co-located). The query side explodes to
    * |queries|·nProbe `(query, cell)` rows and equi-joins the index on
    * `cell` — the corpus shuffles by cell AT MOST once and only the probed
    * cells are ever read: the distinct probed-cell set (≤ nCells ints,
    * driver-side) becomes a partition-pruning IN filter on the scan, at
    * the cost of one extra narrow pass over the query side. A corpus
    * vector lives in exactly one cell, so no pair duplicates across
    * probes. Per query the candidate set is the probed cells' population,
    * sub-linear in the corpus for nProbe << nCells; `nProbe = nCells`
    * degenerates to the exact brute-force semantics (the cross-engine
    * gate form — q108). Ranking is `round(sim, 6) DESC, id` and the heap
    * cut is [[graft.plans.TopKPerKey]], both as in the exact form, so
    * results are engine-comparable.
    */
  def hardNegatives(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, nProbe: Int,
      k: Int): DataFrame = {
    val (snap, meta) = state(spark, path)
    require(nProbe > 0 && nProbe <= meta.nCells, s"nProbe must be in [1, ${meta.nCells}]")
    val q = queries.select(
      col(idCol).as("query_id"), col(labelCol).as("q_label"),
      col(vecCol).as("q_vec"), Similarity.l2Norm(col(vecCol)).as("q_nrm"),
      explode(Similarity.assignCells(col(vecCol), meta.centroids, nProbe)).as("cell"))
    val probed = q.select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
    val corpus = rows(spark, path, snap)
      .filter(col("cell").isInCollection(probed))
      .select(col("cell"), col("id").as("neg_id"), col(labelCol).as("n_label"),
        col("vec").as("n_vec"), col("nrm").as("n_nrm"))
    val pairs = corpus.join(q, "cell")
      .filter(col("n_label") =!= col("q_label"))
      .select(col("query_id"), col("neg_id"),
        round(Similarity.dot(col("n_vec"), col("q_vec")) /
          (col("n_nrm") * col("q_nrm")), 6).as("sim"))
    graft.plans.TopKPerKey.topKPerKey(
      pairs, Seq("query_id"), Seq(col("sim").desc, col("neg_id")), k)
  }

  /** PQ-approximate top-k over the probed cells (requires `m > 0` at build
    * time): ADC lookup-table distances over the stored codes — the probed
    * cells' codes are the only bytes that move.
    */
  def queryPq(spark: SparkSession, path: String, query: Array[Double],
      nProbe: Int, k: Int): DataFrame = {
    val (snap, meta) = state(spark, path)
    require(meta.codebooks.isDefined,
      s"$path was built without PQ codes (m=0)")
    val probed = nearestCells(meta, query, nProbe)
    // codes compare only within one codebook generation: probe per
    // generation group (almost always exactly one) and take the global
    // top-k over the per-group results — ADC distances are all against
    // the SAME query, so the union ordering is sound
    val groups = probed.groupBy(meta.versionOfCell)
    val parts = groups.toSeq.sortBy(_._1).map { case (v, cells) =>
      PQ.adcTopK(
        rows(spark, path, snap)
          .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
          .select(col("id"), col("pq_code")),
        "id", query, meta.codebooksAt(v), k)
    }
    val all = parts.reduce(_ unionByName _)
    if (parts.size == 1) all
    else all.orderBy(col("adist"), col("id")).limit(k)
  }

  /** PQ shortlist + EXACT refinement — the production IVF-PQ serving
    * shape (FAISS's refine stage): ADC ranks a shortlist of `k · refine`
    * candidates from the compressed codes alone ([[queryPq]] — only code
    * bytes move), then the true cosine reranks ONLY the shortlist's
    * full vectors (an id-pushed, partition-pruned point lookup). Recall
    * approaches the exact probe at a fraction of its vector-decode cost;
    * `refine = 1` degenerates to trusting ADC order, large `refine`
    * converges on [[query]]'s exact-within-probed-cells result. Output
    * shape matches [[query]] (`id`, `sim`) so callers swap paths freely.
    * The shortlist crosses the driver — k·refine longs, bounded by
    * construction.
    */
  def queryPqRefined(spark: SparkSession, path: String, query: Array[Double],
      nProbe: Int, k: Int, refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val (snap, meta) = state(spark, path)
    val probed = nearestCells(meta, query, nProbe)
    val ids = queryPq(spark, path, query, nProbe, k * refine)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val qCol = typedlit(query.toSeq)
    rows(spark, path, snap)
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*) &&
        col("id").isInCollection(if (ids.isEmpty) Seq(-1L) else ids))
      .select(col("id"),
        round(Similarity.dot(transform(col("vec"), _.cast("double")), qCol) /
          (col("nrm") * lit(qNorm)), 6).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** The trained state (driver-side, a few KB) — the public introspection
    * point maintenance callers key decisions on (PQ-ness, cell count)
    * without re-deriving it from the data files.
    */
  def meta(spark: SparkSession, path: String): Meta = state(spark, path)._2

  /** The txn appId under which `sink` records its progress on the index
    * at `path`: keyed by the build, because a rebuild at the same path
    * keeps the log's txns — a stream restarted against the new build
    * with a fresh checkpoint (batch ids from 0 again) must not skip its
    * epochs at the old build's high-water mark.
    */
  private[graft] def txnAppId(spark: SparkSession, path: String, sink: String): String =
    s"$sink/${meta(spark, path).buildId}"

  private def nearestCells(meta: Meta, query: Array[Double], nProbe: Int): Seq[Int] =
    meta.centroids.zipWithIndex
      .map { case (c, j) =>
        (c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }
      .sorted.take(nProbe).map(_._2)

  /** The index at its head: the log snapshot and the state its domain holds. */
  private def state(spark: SparkSession, path: String): (DeltaRead.Snapshot, Meta) = {
    val snap = DeltaRead.snapshot(spark, path)
    (snap, snap.domains.get(Domain).map(fromJson).getOrElse(throw new IllegalArgumentException(
      s"$path is not an ANN index (no $Domain domain in its Delta log)")))
  }

  /** The index rows as of `snap` (partition pruning comes from the log). */
  private def rows(spark: SparkSession, path: String, snap: DeltaRead.Snapshot): DataFrame =
    DeltaRead.readDeltaTable(spark, path, Some(snap.version))

  private def cellOf(f: DeltaRead.LiveFile): Int = f.partitionValues("cell").toInt

  private def filesOf(snap: DeltaRead.Snapshot, cells: Set[Int]): Seq[DeltaRead.LiveFile] =
    snap.files.filter(f => cells(cellOf(f)))

  private def numRecords(f: DeltaRead.LiveFile): Long = DeltaWrite.numRecordsOf(f.stats, f.path)

  private def rowCount(snap: DeltaRead.Snapshot): Long = snap.files.map(numRecords).sum

  /** Vectors per non-empty cell, from the log's per-file `numRecords`. */
  private def cellCounts(snap: DeltaRead.Snapshot): Map[Int, Long] =
    snap.files.groupMapReduce(cellOf)(numRecords)(_ + _).filter(_._2 > 0)

  /** [[Meta]] as the domain's JSON configuration. */
  private def toJson(meta: Meta): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("dim", meta.dim); root.put("nCells", meta.nCells)
    root.put("m", meta.m); root.put("nCodes", meta.nCodes)
    root.put("buildId", meta.buildId)
    def books(into: com.fasterxml.jackson.databind.node.ArrayNode,
        bs: Seq[Seq[Seq[Double]]]): Unit = bs.foreach { book =>
      val b = into.addArray()
      book.foreach { c => val a = b.addArray(); c.foreach(a.add) }
    }
    val cs = root.putArray("centroids")
    meta.centroids.foreach { c => val a = cs.addArray(); c.foreach(a.add) }
    meta.codebooks.foreach(books(root.putArray("codebooks"), _))
    if (meta.codebookVersions.nonEmpty) {
      val vs = root.putArray("codebookVersions")
      meta.codebookVersions.foreach(books(vs.addArray(), _))
    }
    if (meta.cellVersions.nonEmpty) {
      val cv = root.putObject("cellVersions")
      meta.cellVersions.toSeq.sortBy(_._1).foreach { case (c, v) =>
        cv.put(c.toString, v) }
    }
    mapper.writeValueAsString(root)
  }

  private def fromJson(json: String): Meta = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    def arr2(n: com.fasterxml.jackson.databind.JsonNode): Seq[Seq[Double]] =
      n.elements().asScala.map(_.elements().asScala.map(_.asDouble()).toSeq).toSeq
    Meta(
      node.get("dim").asInt(), node.get("nCells").asInt(),
      node.get("m").asInt(), node.get("nCodes").asInt(),
      arr2(node.get("centroids")),
      Option(node.get("codebooks")).map(_.elements().asScala.map(arr2).toSeq),
      Option(node.get("codebookVersions"))
        .map(_.elements().asScala.map(gen =>
          gen.elements().asScala.map(arr2).toSeq).toSeq)
        .getOrElse(Nil),
      Option(node.get("cellVersions")).map { cv =>
        cv.fieldNames().asScala.map(k => k.toInt -> cv.get(k).asInt()).toMap
      }.getOrElse(Map.empty),
      node.get("buildId").asText())
  }
}
