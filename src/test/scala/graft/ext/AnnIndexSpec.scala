package graft.ext

import graft.SparkSpec
import graft.io.DeltaRead
import org.apache.spark.sql.functions._

class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  // Three well-separated clusters in 8 dims, 12 points each.
  private lazy val vecs = {
    val pts = for {
      axis <- Seq(0, 1, 2)
      i <- 0 until 12
    } yield {
      val v = Array.fill(8)(0.0f)
      v(axis) = 10f + i * 0.05f
      v(axis + 4) = 4f
      (axis * 100L + i, v)
    }
    pts.toDF("vec_id", "embedding")
  }

  test("build + exact query: full probe equals brute force; meta round-trips") {
    val path = tmp("graft_ann")
    val meta = AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3)
    assert(AnnIndex.meta(spark, path) == meta)

    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val query = raw(100L).map(_.toDouble)
    val full = AnnIndex.query(spark, path, query, nProbe = 3, k = 12)
      .collect().map(_.getLong(0))
    val brute = Similarity.topKNeighbors(vecs, "vec_id", "embedding", 100L, 11)
      .collect().map(_.getLong(0))
    // full probe = exact: same neighbor set (the query id itself leads its own scan)
    assert(full.head == 100L)
    assert(full.tail.toSet == brute.toSet, s"${full.tail.toSeq} vs ${brute.toSeq}")
  }

  test("probed query scans only the probed cells — partition pruning, not a full read") {
    val path = tmp("graft_ann")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3)
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val query = raw(200L).map(_.toDouble)
    val df = AnnIndex.query(spark, path, query, nProbe = 1, k = 12)
    val hits = df.collect().map(_.getLong(0))
    // nProbe=1 stays inside the query's own (exact-copy) cluster
    assert(hits.nonEmpty && hits.forall(id => id >= 200L && id < 300L), hits.toSeq.toString)
    // and the scan is partition-pruned on the cell directory
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
  }

  test("PQ query over the persisted codes finds the planted cluster") {
    val path = tmp("graft_ann")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3, m = 4, nCodes = 8)
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val query = raw(0L).map(_.toDouble)
    val top = AnnIndex.queryPq(spark, path, query, nProbe = 1, k = 12)
      .collect().map(_.getLong(0))
    assert(top.nonEmpty && top.forall(_ < 100L), top.toSeq.toString)
    // an index built without codes refuses the PQ query loudly
    val noPq = tmp("graft_ann")
    AnnIndex.build(vecs, "vec_id", "embedding", noPq, nCells = 3)
    val e = intercept[IllegalArgumentException](
      AnnIndex.queryPq(spark, noPq, query, nProbe = 1, k = 3))
    assert(e.getMessage.contains("without PQ"), e.getMessage)
  }

  test("queryPqRefined: exact rerank of the ADC shortlist converges on the exact probe") {
    val path = tmp("graft_ann_ref")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3, m = 4, nCodes = 8)
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val query = raw(105L).map(_.toDouble)

    // a generous shortlist covers the probed cells → refined == exact
    val exact = AnnIndex.query(spark, path, query, nProbe = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val refined = AnnIndex.queryPqRefined(spark, path, query,
      nProbe = 3, k = 5, refine = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(refined.toSeq == exact.toSeq, s"${refined.toSeq} vs ${exact.toSeq}")

    // sims are TRUE cosines (not ADC scores): self-query ranks itself at 1.0
    assert(refined.head == ((105L, 1.0)), refined.head.toString)

    // refinement never returns ids outside the ADC shortlist
    val shortlist = AnnIndex.queryPq(spark, path, query, nProbe = 1, k = 10)
      .collect().map(_.getLong(0)).toSet
    val r1 = AnnIndex.queryPqRefined(spark, path, query,
      nProbe = 1, k = 5, refine = 2)
      .collect().map(_.getLong(0)).toSet
    assert(r1.subsetOf(shortlist), s"$r1 not in $shortlist")

    // a no-PQ index refuses through the shortlist path
    val noPq = tmp("graft_ann_ref2")
    AnnIndex.build(vecs, "vec_id", "embedding", noPq, nCells = 3)
    intercept[IllegalArgumentException](
      AnnIndex.queryPqRefined(spark, noPq, query, nProbe = 1, k = 3))
  }

  test("hardNegatives via the index: exhaustive probe equals the broadcast-exact form") {
    val labeled = vecs.withColumn("label", (col("vec_id") % 2).cast("int"))
    val path = tmp("graft_ann_hn")
    AnnIndex.build(labeled, "vec_id", "embedding", path, nCells = 3,
      extraCols = Seq("label"))
    val queryIds = Seq(0L, 5L, 100L, 207L)
    val exact = Similarity.hardNegatives(labeled, "vec_id", "embedding",
      "label", queryIds, k = 4)
      .orderBy("query_id", "neg_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ann = AnnIndex.hardNegatives(spark, path,
      labeled.filter(col("vec_id").isInCollection(queryIds)),
      "vec_id", "embedding", "label", nProbe = 3, k = 4)
      .orderBy("query_id", "neg_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ann.toSeq == exact.toSeq, s"${ann.toSeq} vs ${exact.toSeq}")
  }

  test("hardNegatives at nProbe=1 reads only the probed cells' files") {
    val labeled = vecs.withColumn("label", (col("vec_id") % 2).cast("int"))
    val path = tmp("graft_ann_hn")
    AnnIndex.build(labeled, "vec_id", "embedding", path, nCells = 3,
      extraCols = Seq("label"))
    val totalFiles = DeltaRead.readDeltaTable(spark, path).inputFiles.length
    // the join forces AQE, whose executed plan nests scans inside
    // query-stage leaves — descend through the adaptive wrappers
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    }
    // queries all from the axis-2 cluster: every probe lands in ONE cell,
    // so the corpus scan must touch only that cell's files
    val n = filesRead(AnnIndex.hardNegatives(spark, path,
      labeled.filter(col("vec_id") >= 200L),
      "vec_id", "embedding", "label", nProbe = 1, k = 2))
    assert(n > 0 && n < totalFiles, s"read $n of $totalFiles files")
    // and the candidates really are confined to that cluster
    val rows = AnnIndex.hardNegatives(spark, path,
      labeled.filter(col("vec_id") >= 200L),
      "vec_id", "embedding", "label", nProbe = 1, k = 2).collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(1) >= 200L), rows.toSeq.toString)
  }

  test("append adds vectors to existing cells without retraining; probes see them") {
    val path = tmp("graft_ann_app")
    val metaBefore = AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3)
    // two new points inside the axis-0 cluster
    val extra = Seq(900L, 901L).map { id =>
      val v = Array.fill(8)(0.0f); v(0) = 10.3f; v(4) = 4f; (id, v)
    }.toDF("vec_id", "embedding")
    AnnIndex.append(extra, "vec_id", "embedding", path)
    // the trained sidecar is untouched
    assert(AnnIndex.meta(spark, path) == metaBefore)
    // a 1-probe query in that cluster now surfaces the appended ids
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val hits = AnnIndex.query(spark, path, raw(0L).map(_.toDouble), nProbe = 1, k = 14)
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(900L) && hits.contains(901L), hits.toString)
    // mismatched columns are refused (no silent parquet schema union)
    val e = intercept[IllegalArgumentException](AnnIndex.append(
      extra.withColumn("label", lit(1)), "vec_id", "embedding", path,
      extraCols = Seq("label")))
    assert(e.getMessage.contains("extraCols"), e.getMessage)
    // a PQ index appends by ENCODING the batch with its stored codebooks:
    // the appended ids are visible to ADC-ranked probes immediately
    val pqPath = tmp("graft_ann_app_pq")
    AnnIndex.build(vecs, "vec_id", "embedding", pqPath, nCells = 3, m = 4, nCodes = 8)
    AnnIndex.append(extra, "vec_id", "embedding", pqPath)
    assert(AnnIndex.meta(spark, pqPath).m == 4) // sidecar untouched
    val pqHits = AnnIndex.queryPq(spark, pqPath, raw(0L).map(_.toDouble),
      nProbe = 1, k = 14).collect().map(_.getLong(0)).toSet
    assert(pqHits.contains(900L) && pqHits.contains(901L), pqHits.toString)
    // and the exact-vector query path sees them too (vec rides the append)
    val exactHits = AnnIndex.query(spark, pqPath, raw(0L).map(_.toDouble),
      nProbe = 1, k = 14).collect().map(_.getLong(0)).toSet
    assert(exactHits.contains(900L) && exactHits.contains(901L), exactHits.toString)
  }

  test("rebalance merges starved cells into their nearest neighbor; exactness preserved") {
    val path = tmp("graft_ann_merge")
    // clusters of 24/24/4 → the third cell is starved (balance 4*3/52 ≈ 0.23)
    val pts = (for {
      (axis, n) <- Seq((0, 24), (1, 24), (2, 4)); i <- 0 until n
    } yield {
      val v = Array.fill(8)(0.0f); v(axis) = 10f + i * 0.05f; v(axis + 4) = 4f
      (axis * 100L + i, v)
    }).toDF("vec_id", "embedding")
    AnnIndex.build(pts, "vec_id", "embedding", path, nCells = 3)
    val queries = pts.filter(col("vec_id").isin(0L, 101L, 201L))
    def exhaustive(nCells: Int) =
      AnnIndex.knnJoin(spark, path, queries, "vec_id", "embedding",
        nProbe = nCells, k = 5).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val before = exhaustive(3)
    val v0 = DeltaRead.latestVersion(spark, path)
    val ops = AnnIndex.rebalance(spark, path, maxBalance = 4.0, minBalance = 0.3)
    assert(ops == 1, s"expected exactly one merge, got $ops")
    // one commit that re-adds the moved files under their new cell: an
    // add of a live path replaces its entry, so no remove rides along
    assert(DeltaRead.latestVersion(spark, path) == v0 + 1)
    val src = scala.io.Source.fromFile(f"$path/_delta_log/${v0 + 1}%020d.json")
    val actions = try src.getLines().toList finally src.close()
    assert(actions.exists(_.startsWith("{\"add\"")) && !actions.exists(_.startsWith("{\"remove\"")),
      actions.mkString("\n"))
    val meta = AnnIndex.meta(spark, path)
    assert(meta.nCells == 2 && meta.centroids.size == 2, meta.nCells.toString)
    // contiguous renumbering: only cells 0 and 1 hold live files
    val cells = DeltaRead.snapshot(spark, path).files.map(_.partitionValues("cell")).distinct.sorted
    assert(cells == Seq("0", "1"), cells.mkString(", "))
    // nothing lost: full probe returns identical neighbor sets
    assert(exhaustive(2) == before)
    val stats = AnnIndex.cellStats(spark, path).collect()
    assert(stats.map(_.getLong(1)).sum == 52L, stats.mkString(", "))
    // the merged index keeps serving appends and 1-probe queries
    val more = Seq((900L, { val v = Array.fill(8)(0.0f); v(2) = 10.1f; v(6) = 4f; v }))
      .toDF("vec_id", "embedding")
    AnnIndex.append(more, "vec_id", "embedding", path)
    val raw = pts.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val hits = AnnIndex.query(spark, path, raw(201L).map(_.toDouble), nProbe = 1, k = 6)
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(900L), hits.toString)
  }

  test("knnJoin: exhaustive probe equals per-query exact search; cellStats flags drift") {
    val path = tmp("graft_ann_knn")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3)
    val queries = vecs.filter(col("vec_id").isin(0L, 101L, 207L))
    val joined = AnnIndex.knnJoin(spark, path, queries, "vec_id", "embedding",
      nProbe = 3, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // per-query exact search returns the same neighbor sets
    Seq(0L, 101L, 207L).foreach { id =>
      val exact = Similarity.topKNeighbors(vecs, "vec_id", "embedding", id, 5)
        .collect().map(_.getLong(0)).toSet
      assert(joined(id) == exact, s"$id: ${joined(id)} vs $exact")
    }
    // balanced fixture: every cell's balance factor is ~1
    val stats = AnnIndex.cellStats(spark, path).collect()
    assert(stats.length == 3)
    stats.foreach(r => assert(math.abs(r.getDouble(3) - 1.0) < 0.01, r.toString))
    // after a one-sided append the hot cell's balance flags the drift
    val extra = (0 until 24).map { i =>
      val v = Array.fill(8)(0.0f); v(0) = 10.1f + i * 0.01f; v(4) = 4f
      (800L + i, v)
    }.toDF("vec_id", "embedding")
    AnnIndex.append(extra, "vec_id", "embedding", path)
    val hot = AnnIndex.cellStats(spark, path).collect().map(_.getDouble(3)).max
    assert(hot > 1.5, s"expected a ballooned cell, got max balance $hot")
  }

  test("rebalance splits the hot cell only: bound holds, untouched cells byte-identical, exact results unchanged") {
    val path = tmp("graft_ann_rebal")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3)
    // one-sided append: 24 extra vectors into cluster 0's cell → 36/60 of
    // the mass in one cell, balance 1.8
    val extra = (0 until 24).map { i =>
      val v = Array.fill(8)(0.0f); v(0) = 10.1f + i * 0.01f; v(4) = 4f
      (800L + i, v)
    }.toDF("vec_id", "embedding")
    AnnIndex.append(extra, "vec_id", "embedding", path)
    val statsBefore = AnnIndex.cellStats(spark, path).collect()
      .map(r => (r.getInt(0), r.getDouble(3))).toMap
    val hotCell = statsBefore.maxBy(_._2)._1
    assert(statsBefore(hotCell) > 1.5, statsBefore.toString)

    // exact results and untouched-cell bytes, captured before
    val all = vecs.unionByName(extra)
    val queries = all.filter(col("vec_id").isin(0L, 101L, 207L, 805L))
    def exhaustive(nCells: Int) =
      AnnIndex.knnJoin(spark, path, queries, "vec_id", "embedding",
        nProbe = nCells, k = 5).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val before = exhaustive(3)
    def cellBytes(cell: Int): Map[String, Long] = DeltaRead.snapshot(spark, path).files
      .filter(_.partitionValues("cell") == cell.toString).map(f => f.path -> f.size).toMap
    val coldCells = Seq(0, 1, 2).filterNot(_ == hotCell)
    val coldBefore = coldCells.map(c => c -> cellBytes(c)).toMap

    val splits = AnnIndex.rebalance(spark, path, maxBalance = 1.3)
    assert(splits >= 1 && splits <= 3, s"expected a small number of splits, got $splits")
    val metaAfter = AnnIndex.meta(spark, path)
    assert(metaAfter.nCells == 3 + splits && metaAfter.centroids.size == 3 + splits)
    // the bound holds everywhere
    val statsAfter = AnnIndex.cellStats(spark, path).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(statsAfter.forall(_._3 <= 1.3), statsAfter.mkString(", "))
    assert(statsAfter.map(_._2).sum == 60L, statsAfter.mkString(", "))
    // untouched cells keep the same live files (paths and sizes) — the
    // rewrite touched only the hot cell's rows
    coldCells.foreach { c =>
      assert(cellBytes(c) == coldBefore(c), s"cell $c files changed")
    }
    // exactness preserved: the full probe over the NEW cell set returns
    // the identical neighbor sets
    val after = exhaustive(metaAfter.nCells)
    assert(after == before, s"$after vs $before")
    // an already-balanced index is a no-op
    assert(AnnIndex.rebalance(spark, path, maxBalance = 1.3) == 0)
  }

  test("rebalance splits SEVERAL breaching cells in one batched round; exactness holds") {
    val path = tmp("graft_ann_rebal_multi")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3)
    // bloat TWO cells: 30 extra vectors into cluster 0's and cluster 1's
    // cells each → both breach maxBalance=1.3 simultaneously
    val extra = (0 until 60).map { i =>
      val axis = i % 2
      val v = Array.fill(8)(0.0f)
      v(axis) = 10.1f + (i / 2) * 0.01f; v(axis + 4) = 4f
      (800L + i, v)
    }.toDF("vec_id", "embedding")
    AnnIndex.append(extra, "vec_id", "embedding", path)
    val statsBefore = AnnIndex.cellStats(spark, path).collect()
      .map(r => (r.getInt(0), r.getDouble(3))).toMap
    assert(statsBefore.values.count(_ > 1.3) >= 2,
      s"fixture must breach in >=2 cells: $statsBefore")

    val all = vecs.unionByName(extra)
    val queries = all.filter(col("vec_id").isin(0L, 101L, 207L, 805L, 806L))
    def exhaustive(nCells: Int) =
      AnnIndex.knnJoin(spark, path, queries, "vec_id", "embedding",
        nProbe = nCells, k = 5).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val before = exhaustive(3)

    val splits = AnnIndex.rebalance(spark, path, maxBalance = 1.3)
    assert(splits >= 2, s"both breaching cells must split, got $splits")
    val metaAfter = AnnIndex.meta(spark, path)
    assert(metaAfter.nCells == 3 + splits)
    val statsAfter = AnnIndex.cellStats(spark, path).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(statsAfter.forall(_._3 <= 1.3), statsAfter.mkString(", "))
    assert(statsAfter.map(_._2).sum == 96L, statsAfter.mkString(", "))
    assert(exhaustive(metaAfter.nCells) == before)
  }

  test("a non-index path is refused") {
    val e = intercept[IllegalArgumentException](
      AnnIndex.query(spark, tmp("not_ann"),
        Array.fill(8)(0.0), 1, 3))
    assert(e.getMessage.contains("_delta_log"), e.getMessage)
  }

  test("delete removes ids from touched files only; untouched files byte-identical") {
    val path = tmp("graft_ann_del")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3)
    def listing(): Map[String, Long] =
      DeltaRead.snapshot(spark, path).files.map(f => f.path -> f.size).toMap
    val before = listing()
    // axis-2 cluster lives alone in its cell (nProbe=1 pruning test above);
    // delete two of its members
    val n = AnnIndex.delete(spark, path, Seq(205L, 207L))
    assert(n == 2L)
    val after = listing()
    val ids = DeltaRead.readDeltaTable(spark, path).select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(205L) && !ids.contains(207L) && ids.size == 34)
    // files not holding the deleted ids carried over UNTOUCHED
    val untouched = before.keySet.intersect(after.keySet)
    untouched.foreach(k => assert(before(k) == after(k), k))
    assert(untouched.nonEmpty, "expected untouched files to survive verbatim")
    // the survivors in the touched cluster still rank for a probe query
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val hits = AnnIndex.query(spark, path, raw(200L).map(_.toDouble), nProbe = 3, k = 34)
      .collect().map(_.getLong(0)).toSet
    assert(!hits.contains(205L) && !hits.contains(207L) && hits.contains(206L))
    // deleting an absent id is a no-op
    assert(AnnIndex.delete(spark, path, Seq(999999L)) == 0L)
  }

  test("delete on a PQ index keeps ADC probes valid for the survivors") {
    val path = tmp("graft_ann_del_pq")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3, m = 4, nCodes = 8)
    assert(AnnIndex.delete(spark, path, Seq(0L, 1L)) == 2L)
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val top = AnnIndex.queryPq(spark, path, raw(2L).map(_.toDouble), nProbe = 3, k = 10)
      .collect().map(_.getLong(0))
    assert(!top.contains(0L) && !top.contains(1L) && top.contains(2L), top.toSeq.toString)
  }

  test("refreshCodebooks re-encodes only drifted cells; ADC recall restored, others byte-identical") {
    val path = tmp("graft_ann_refresh")
    AnnIndex.build(vecs, "vec_id", "embedding", path, nCells = 3, m = 4, nCodes = 8)
    // drift: append a cluster FAR outside the trained value range — its
    // codes under the stored (gen-0) codebooks collapse onto centers that
    // cannot represent it
    val drifted = (0 until 12).map { i =>
      val v = Array.fill(8)(0.0f)
      v(3) = 100f + i * 0.05f
      v(7) = 40f
      (900L + i, v)
    }.toDF("vec_id", "embedding")
    AnnIndex.append(drifted, "vec_id", "embedding", path)
    val q = drifted.collect().head.getSeq[Float](1).toArray.map(_.toDouble)
    val before = AnnIndex.queryPq(spark, path, q, nProbe = 3, k = 12)
      .collect().map(_.getLong(0)).count(_ >= 900L)

    // snapshot every live file's (path, size) per cell pre-refresh
    def filesOf(cell: Int): Seq[(String, Long)] = DeltaRead.snapshot(spark, path).files
      .filter(_.partitionValues("cell") == cell.toString).map(f => (f.path, f.size)).sorted
    val pre = (0 until 3).map(c => c -> filesOf(c)).toMap

    val recoded = AnnIndex.refreshCodebooks(spark, path, errorFactor = 1.05)
    assert(recoded >= 1, "the drifted cell must re-encode")
    val meta = AnnIndex.meta(spark, path)
    assert(meta.codebookVersions.size == 1)
    assert(meta.cellVersions.values.toSet == Set(1))
    assert(meta.cellVersions.size == recoded)
    // untouched cells: the same live files (paths and sizes)
    (0 until 3).filterNot(meta.cellVersions.contains).foreach { c =>
      assert(filesOf(c) == pre(c), s"untouched cell $c was rewritten")
    }
    // ADC recall on the drifted cluster restored to exact
    val after = AnnIndex.queryPq(spark, path, q, nProbe = 3, k = 12)
      .collect().map(_.getLong(0))
    assert(after.count(_ >= 900L) == 12,
      s"post-refresh ADC must retrieve the whole drifted cluster " +
        s"(pre-refresh found $before), got ${after.toSeq}")
    // mixed-generation probe across ALL cells stays sound (per-generation
    // ADC groups union into one top-k)
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val old = AnnIndex.queryPq(spark, path, raw(0L).map(_.toDouble), nProbe = 3, k = 12)
      .collect().map(_.getLong(0))
    assert(old.count(_ < 100L) >= 10, s"gen-0 cluster degraded: ${old.toSeq}")
    // appends AFTER refresh encode with the target cell's generation:
    // another drifted point must land among its cluster under ADC
    val more = Seq((950L, {
      val v = Array.fill(8)(0.0f); v(3) = 100.3f; v(7) = 40f; v
    })).toDF("vec_id", "embedding")
    AnnIndex.append(more, "vec_id", "embedding", path)
    val again = AnnIndex.queryPq(spark, path, q, nProbe = 3, k = 13)
      .collect().map(_.getLong(0))
    assert(again.contains(950L),
      s"post-refresh append must encode with the cell's generation: ${again.toSeq}")
    // a second refresh on the now-consistent index is a no-op
    assert(AnnIndex.refreshCodebooks(spark, path, errorFactor = 1.05) == 0)
  }
}
