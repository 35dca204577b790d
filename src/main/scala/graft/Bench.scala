package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Benchmark main: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR (driver runs sf0.1).
  *
  * Materialization is a `noop` sink (full column computation — `count()`
  * would let Spark skip every projected expression). One untimed warmup
  * primes JIT/codegen and parquet footer caches so per-query numbers measure
  * the query, not JVM cold start.
  *
  * The md5-hash-family queries (q24/q25/q26) are excluded: they exist for
  * engine-portable oracle correctness; their production-scale equivalents —
  * the xxhash64 fast variants — are benchmarked as b31/b32 instead.
  */
object Bench {
  private val fixtures = scala.collection.mutable.Map[String, Any]()

  /** Builds the fixture under `key` once per JVM and returns that same value
    * on every later call. Standing tables and layouts build on first use, in
    * the first pass, which min-of-3 discards — the kept passes pay only the
    * steady-state verb/read cost, the number that matters for a pipeline
    * upserting into a long-lived table.
    */
  private[graft] def once[A](key: String)(build: => A): A = fixtures.synchronized {
    fixtures.get(key) match {
      case Some(v) => v.asInstanceOf[A]
      case None =>
        val v = build
        fixtures(key) = v
        v
    }
  }

  /** The orders projection every DML bench table holds: key, status and
    * the total price in integer cents.
    */
  private[graft] def ordersCents(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))

  /** A fresh Delta table of [[ordersCents]] in a new scratch dir named
    * after `name`: the standing table an orders DML bench merges into.
    * Every call builds a new table; Bench memoizes one per entry below,
    * ScaleRun builds one per SF dir.
    */
  private[graft] def ordersDelta(s: SparkSession, dir: String, name: String): String = {
    val path = Harness.tmp(name) + "/orders_delta"
    graft.io.DeltaWrite.writeDeltaTable(ordersCents(s, dir), path, "append")
    path
  }

  // b54's standing table (b56 z-orders it too)
  private[graft] def dmlTable(s: SparkSession, dir: String): String =
    once("dml_table")(ordersDelta(s, dir, "dml_table"))
  // b57's own standing table (not shared with b54 — the two merge paths
  // must not contaminate each other's file accounting across passes)
  private[graft] def dvTable(s: SparkSession, dir: String): String =
    once("dv_table")(ordersDelta(s, dir, "dv_table"))

  // b59's standing ROW-TRACKED table: created with ids, one DV delete +
  // one COW update during the lazy build, so the timed read pays the real
  // serving shape — DV filter, materialized-id coalesce, file-map join
  private[graft] def rtTable(s: SparkSession, dir: String): String = once("rt_table") {
    val path = Harness.tmp("rt_table") + "/orders_rt"
    graft.io.DeltaWrite.writeDeltaTableRowTracked(ordersCents(s, dir), path)
    graft.io.DeltaMerge.deleteWhereDv(s, path, col("o_orderkey") % 10 === 3)
    graft.io.DeltaMerge.updateWhere(s, path, col("o_orderkey") % 100 === 0,
      Map("cents" -> (col("cents") + 1)))
    path
  }

  // b68's standing PLAIN table in q94's exact commit shape (two appends +
  // a classic checkpoint), built once untimed: the timed verb is the READ
  // pair q94 gates — v0 time travel through the JSON replay path and a
  // head read through the checkpoint path
  private[graft] def plainTable(s: SparkSession, dir: String): String = once("plain_table") {
    val path = Harness.tmp("plain_table") + "/orders_delta"
    val src = ordersCents(s, dir)
    graft.io.DeltaWrite.writeDeltaTable(
      src.filter(col("o_orderkey") % 3 === 0), path, "append")
    graft.io.DeltaWrite.writeDeltaTable(
      src.filter(col("o_orderkey") % 3 =!= 0), path, "append")
    graft.io.DeltaWrite.checkpoint(s, path)
    path
  }

  private[graft] def cdfTable(s: SparkSession, dir: String): String = once("cdf_table") {
    val path = Harness.tmp("cdf_table") + "/customer_delta"
    val cust = Tables.customer(s, dir).select(col("c_custkey"),
      col("c_mktsegment"), round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    graft.io.DeltaWrite.writeDeltaTable(cust, path, "append")
    graft.io.DeltaWrite.setTableProperties(s, path,
      Map("delta.enableChangeDataFeed" -> "true"))
    graft.io.DeltaMerge.updateWhere(s, path,
      col("c_mktsegment") === "BUILDING", Map("cents" -> (col("cents") + 3)))
    graft.io.DeltaMerge.deleteWhere(s, path, col("cents") < 0)
    path
  }

  private val skip: Set[String] =
    Set("q24_ngram_jaccard", "q25_minhash_lsh", "q26_simhash", "q43_dup_clusters",
      "q76_cluster_split", "q92_simhash_pairs", // md5 family; b31/b35/b44 bench the fast path
      "q95_substring_dedup", // exact-string gram keys are oracle-only; b47 benches the hashed path
      "q99_bpe_tokens", // identical computation to b49
      "q32_source_sketch", // its exact-Jaccard half is oracle-only; b42 benches the sketch
      "q108_hard_negatives_ann", // its nProbe=nCells form is exhaustive for the oracle; b53 benches the sub-linear probe
      // the DML/CDF gate forms rebuild their Delta table in-query (4-5
      // commits of table-build tax per run) to make the oracle hashable;
      // b54/b55 bench the amortized shape — verbs/reads on a standing table
      "q94_delta_roundtrip", // in-query table build (2 commits + checkpoint); b68 benches the standing read pair
      "q106_merge_roundtrip", "q109_change_feed", "q111_dv_dml",
      "q127_identity_merge", // in-query identity table build; b54/b57 bench the standing merge
      "q128_cdc_net_state", // in-query table build + DML history; b60 benches the standing diff
      "q113_row_tracking", // in-query table build; b59 benches the standing read
      "q114_change_diff", // in-query table build; b60 benches the standing diff
      "q115_v2_checkpoint", // in-query table build + checkpoint; b38 benches maintenance
      "q116_change_view", // in-query tables + streaming query; b54/b60 bench the verbs
      "q119_log_compaction", // in-query table build + compaction; b60 benches the standing diff/replay
      "q125_convert_to_delta", // in-query raw-dir build + conversion; b68 benches the standing read

      "q112_dedup_apply", // md5 family; b58 benches the fast-hash apply
      "q117_dsir_weights", // md5 family; b61 benches the xxhash64 weights+sample
      "q118_quality_classifier", // identical computation to b62
      "q110_knn_join") // exhaustive oracle form; b53/b50 bench the probed regime

  private[graft] val fastVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b31_minhash_lsh_fast" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, k = 16, bands = 4, threshold = 0.5, fast = true)),
    "b32_simhash64_fast" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), Dedup.simhash64Fast(col("text")).as("simhash"))),
    "b44_simhash_pairs_fast" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3)),
    "b33_ann_lsh" -> ((s, dir) =>
      graft.ext.Similarity.annLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
        nBits = 12, k = 3, dim = 64)),
    // banded sign-LSH candidates + exact cosine verify at a near-dup
    // threshold (0.8) — the sub-quadratic regime; q31's exact tiled join
    // covers the low-threshold range-join regime on the same table
    "b45_embedding_banded" -> ((s, dir) =>
      graft.ext.Similarity.nearDupPairsBanded(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.8, dim = 64)),
    // broadcast as-of against a DEEP per-key rate table (every event is a
    // rate row → ~hundreds of rates per user): exercises the binary-search
    // pick, which replaced the O(m)-per-fact-row filter+element_at walk
    "b46_asof_deep_rates" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val facts = ev.select(col("event_id"), col("user_id"), col("ts"))
      val rates = ev.select(col("user_id").as("rk"), col("ts").as("rts"),
        col("value").as("rate_value"))
        .groupBy(col("rk"), col("rts")).agg(max(col("rate_value")).as("rate_value"))
      graft.operators.AsOfJoin.asOfJoinBroadcast(
        facts, rates, "user_id", "rk", "ts", "rts", Seq("rate_value"))
    }),
    // substring dedup with 8-byte hashed gram keys — the 100 TB shuffle
    // shape (q95's exact-string keys exist for the engine-portable oracle)
    "b47_substring_dedup_fast" -> ((s, dir) =>
      graft.ext.SubstringDedup.dupStats(Tables.documents(s, dir), "doc_id", "text",
        gramLen = 40, hashed = true)),
    // SemDeDup on trained IVF cells — the production clustering (q96's
    // sign-bit cells exist for the engine-portable oracle)
    "b48_semdedup_ivf" -> ((s, dir) =>
      graft.ext.Similarity.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        nCells = 16, threshold = 0.45)),
    // persisted ANN index: build (train+assign+write partitioned) + one
    // partition-pruned probe query — the serving-corpus lifecycle
    "b50_ann_index" -> ((s, dir) => {
      val path = Harness.tmp("ann")
      graft.ext.AnnIndex.build(Tables.embeddings(s, dir), "vec_id", "embedding",
        path, nCells = 16)
      val q = Tables.embeddings(s, dir).orderBy("vec_id")
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
      graft.ext.AnnIndex.query(s, path, q, nProbe = 2, k = 10)
    }),
    // real BPE tokenization end-to-end: driver-side merge training on a
    // bounded sample + distributed codegen'd encode of the whole corpus
    "b49_bpe_token_count" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Bpe.register("bench",
        graft.ext.Bpe.trainOnSample(docs, "doc_id", "text", nMerges = 256, sampleSize = 256))
      docs.select(col("doc_id"),
        graft.ext.Bpe.tokenCount(col("text"), "bench").as("n_tok"))
    }),
    // RAG chunking in REAL subword tokens: bounded driver-side BPE train +
    // distributed codegen'd encode + narrow windowing — the whole prep
    // stage a context-window ingest pays per corpus pass
    "b51_chunk_bpe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Bpe.register("bench-chunk",
        graft.ext.Bpe.trainOnSample(docs, "doc_id", "text", nMerges = 256, sampleSize = 256))
      graft.ext.Chunking.chunkByBpeTokens(docs, "doc_id", "text", "bench-chunk",
        chunkTokens = 512, strideTokens = 384)
    }),
    // metadata-filtered search / hard-negative mining at a realistic query
    // fan-out: 64 broadcast queries against the full corpus, label-filtered
    // pairs heap-cut per query — the corpus side never exchanges
    "b52_hard_negatives" -> ((s, dir) =>
      graft.ext.Similarity.hardNegatives(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label", queryIds = 0L until 64L, k = 10)),
    // the UNBOUNDED-query-set mining path: every vector queries the
    // persisted cell-partitioned index at nProbe=2 of 16 — each query
    // scores ~1/8th of the corpus (sub-linear probing), nothing broadcasts
    // OPTIMIZE ZORDER on the standing DML table + a stats-pruned read:
    // the maintenance pass a lakehouse pays to keep point lookups cheap
    "b56_zorder_compact" -> ((s, dir) => {
      val path = dmlTable(s, dir)
      // small target → several z-files per pass, so every pass does a
      // real recluster (a table-sized target no-ops after the first)
      graft.io.DeltaWrite.compactZOrder(s, path, "o_orderkey", "cents",
        targetBytes = 256L * 1024)
      graft.io.DeltaRead.readDeltaTable(s, path)
        .filter(col("o_orderkey") < 1000)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    }),
    // one MERGE commit against a STANDING Delta table (built once, lazily,
    // during the untimed warmup): touched-file discovery + copy-on-write
    // rewrite + atomic commit — the steady-state upsert cost a pipeline
    // pays per batch, without q106's in-query table-build tax
    "b54_merge_upsert" -> ((s, dir) => {
      val path = dmlTable(s, dir)
      val src = ordersCents(s, dir).filter(col("o_orderkey") % 100 === 0)
        .withColumn("cents", col("cents") + 1)
      graft.io.DeltaMerge.merge(s, path, src, Seq("o_orderkey"))
      graft.io.DeltaRead.readDeltaTable(s, path)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    }),
    // b54's workload through the DELETION-VECTOR path: same source, same
    // standing-table shape — the delta between b54 and b57 is what a
    // merge buys by shadowing matched rows instead of rewriting their
    // files (at sf0.1 the table is small; at 100 TB the gap is the point)
    "b57_merge_upsert_dv" -> ((s, dir) => {
      val path = dvTable(s, dir)
      val src = ordersCents(s, dir).filter(col("o_orderkey") % 100 === 0)
        .withColumn("cents", col("cents") + 1)
      graft.io.DeltaMerge.merge(s, path, src, Seq("o_orderkey"),
        useDeletionVectors = true)
      graft.io.DeltaRead.readDeltaTable(s, path)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    }),
    // the CHANGE FEED read over a standing CDF table's DML history —
    // pure feed-composition cost, no commits in the timed region
    "b55_change_feed" -> ((s, dir) => {
      val path = cdfTable(s, dir)
      graft.io.DeltaRead.changeFeed(s, path, 1L)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    }),
    // the NO-CDF incremental read on the same standing table: force the
    // log-diff decomposition (preferCdf=false) over the COW update+delete
    // history — the steady-state cost a poller pays when the table never
    // recorded change files
    "b60_change_diff" -> ((s, dir) => {
      val path = cdfTable(s, dir)
      graft.io.DeltaRead.changeDiff(s, path, 1L, preferCdf = false)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    }),
    // the row-id SERVING read on a standing row-tracked table: stable ids
    // resolve per row (materialized-column coalesce + broadcast file-map
    // join) through a DV filter — the steady-state cost a CDC/again-
    // processing consumer pays per pass; the table builds once, untimed
    "b59_row_ids" -> ((s, dir) => {
      val path = rtTable(s, dir)
      graft.io.DeltaRead.readDeltaTableWithRowIds(s, path)
        .agg(count(lit(1)).as("n"), sum(col("_row_id")).as("id_sum"),
          max(col("_row_commit_version")).as("max_ver"),
          sum(col("cents")).as("cents"))
    }),
    "b53_hard_negatives_ann" -> ((s, dir) => {
      val path = Harness.tmp("ann_hn")
      val emb = Tables.embeddings(s, dir)
      graft.ext.AnnIndex.build(emb, "vec_id", "embedding", path, nCells = 16,
        extraCols = Seq("label"))
      graft.ext.AnnIndex.hardNegatives(s, path, emb, "vec_id", "embedding",
        "label", nProbe = 2, k = 10)
    }),
    "b34_ann_ivf" -> ((s, dir) =>
      graft.ext.Similarity.ivfKnn(Tables.embeddings(s, dir), "vec_id", "embedding",
        nCells = 16, k = 3, iters = 2, trainOnSample = true)),
    "b37_curation_pipeline" -> ((s, dir) => {
      import graft.ext.Curation
      val docs = Tables.documents(s, dir)
      Curation.curate(
        docs.filter(col("source") =!= "src0"), "doc_id", "text",
        evalDocs = Some(docs.filter(col("source") === "src0").select(col("doc_id"), col("text"))),
        cfg = Curation.Config(packTokens = Some(512)))
    }),
    "b36_pq_adc" -> ((s, dir) => {
      import graft.ext.PQ
      val emb = Tables.embeddings(s, dir)
      val cb = PQ.train(emb, "vec_id", "embedding", m = 8, nCodes = 16, iters = 2)
      val q = emb.orderBy("vec_id").select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      PQ.adcTopK(PQ.encode(emb, "vec_id", "embedding", cb), "vec_id", q, cb, 10)
    }),
    // quality-classifier train + full-corpus score — the GD iteration
    // count is the model-refresh shape a pipeline pays periodically
    "b62_classifier" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = graft.ext.Classifier.train(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"),
        "doc_id", "text", buckets = 4096, iters = 3)
      graft.ext.Classifier.score(docs, "doc_id", "text", model)
        .agg(count(lit(1)).as("n"), sum(col("score")).as("s"))
    }),
    // q94's READ pair on the standing table: v0 time travel replays the
    // JSON tail, the head read replays through the classic checkpoint —
    // the serving shape, without q94's in-query 3-commit build tax
    "b68_delta_standing_read" -> ((s, dir) => {
      val path = plainTable(s, dir)
      val v0 = graft.io.DeltaRead.readDeltaTable(s, path, versionAsOf = Some(0L))
        .agg(count(lit(1)).as("v0_rows"))
      graft.io.DeltaRead.readDeltaTable(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .crossJoin(broadcast(v0))
        .orderBy(col("o_orderstatus"))
    }),
    // q54's ANALYSIS shape — the two shared-sort windows WITHOUT the
    // gate's total ORDER BY: isolates the window work from the final
    // range-exchange + global sort the cross-engine row hash demands, so
    // the q54 bench gap decomposes into "windows" vs "output-order tax"
    // q44 WITHOUT the gate's total ORDER BY: the two shared-sort window
    // families alone (2 exchanges + 2 sorts — the minimum for two
    // distinct partition keys). The delta vs q44 is pure output tax,
    // the q54/b64 decomposition applied to the window-frames family.
    "b72_window_frames_analysis" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"), col("o_orderpriority"))
        .withColumn("tile", expr("CAST(ntile(4) OVER (PARTITION BY " +
          "o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT)"))
        .withColumn("pr", expr("round(percent_rank() OVER (PARTITION BY " +
          "o_orderpriority ORDER BY o_totalprice), 6)"))
        .withColumn("nxt", expr("lead(o_orderkey, 1) OVER (PARTITION BY " +
          "o_custkey ORDER BY o_orderdate, o_orderkey)"))
        .withColumn("r30", expr("round(sum(o_totalprice) OVER (PARTITION BY " +
          "o_custkey ORDER BY o_orderdate " +
          "RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2)"))
        .select(col("o_orderkey"), col("o_custkey"), col("r30"), col("pr"),
          col("tile"), col("nxt"))
    }),
    "b64_window_distinct_analysis" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byOrder = Window.partitionBy(col("l_orderkey"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
        .withColumn("__dr", dense_rank().over(byOrder.orderBy(col("l_suppkey"))))
        .withColumn("n_supp", max(col("__dr")).over(byOrder).cast("long"))
        .drop("__dr")
    }),
    // DSIR data selection, production family: xxhash64 feature bucketing,
    // importance weights over the full raw corpus, Gumbel-top-k resample
    "b61_dsir_fast" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Selection.dsirSample(
        graft.ext.Selection.dsirWeights(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", buckets = 4096, fast = true),
        "doc_id", k = 500)
    }),
    "b58_dedup_apply_fast" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (pairs, nPairsBound) = Dedup.minhashLshPairsCounted(docs, "doc_id", "text",
        shingleN = 3, k = 16, bands = 4, threshold = 0.5, fast = true)
      val clusters = Dedup.dupClusters(pairs, "id_a", "id_b",
        pairBound = Some(nPairsBound))
      Dedup.keepBest(docs, clusters, "doc_id", length(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(length(col("text"))).cast("long").as("chars_kept"))
        .orderBy(col("source"))
    }),
    "b35_dup_clusters_fast" -> ((s, dir) => {
      val (pairs, nPairsBound) = Dedup.minhashLshPairsCounted(
        Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, k = 16, bands = 4, threshold = 0.5, fast = true)
      Dedup.dupClusters(pairs, "id_a", "id_b", pairBound = Some(nPairsBound))
        .groupBy(org.apache.spark.sql.functions.col("cluster"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"))
    }),
    // the q32 SCALE path alone: per-source MinHash sketch aggregate +
    // pairwise estimates (k longs per group; the exact shingle-set join
    // that q32 carries for its oracle is verification-sized by design)
    "b42_source_sketch" -> ((s, dir) => {
      import graft.functions.MinHashSketch
      val k = 128
      val sketch = MinHashSketch.ofSignatures(k)
      val sigs = Tables.documents(s, dir)
        .select(col("source"),
          call_function("graft_minhash_sig",
            graft.ext.TextAnalysis.tokens(col("text")), lit(2), lit(k)).as("sh"))
        .groupBy(col("source")).agg(sketch(col("sh")).as("sig"))
      sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          MinHashSketch.estimateJaccard(col("a.sig"), col("b.sig"), k).as("est_jac"))
    }),
    // maintenance surface: small-file compaction (fragment 200 files →
    // rewrite to the computed count; the fragmenting write is part of the
    // timed region — the bench is the maintenance ROUND TRIP a streaming
    // ingest pays, not the rewrite in isolation)
    "b38_compaction" -> ((s, dir) => {
      val base = Harness.tmp("b38") + "/t"
      Tables.events(s, dir).select("event_id", "user_id", "value")
        .repartition(200).write.mode("overwrite").parquet(base)
      val n = graft.io.Compaction.compact(s, base, targetFileBytes = 32L * 1024 * 1024)
      s.range(n).toDF("n_files")
    }),
    // z-order pruning win, numerically: the same 2-D box predicate over a
    // z-ordered layout (b39: file+row-group stats prune) vs a
    // randomly-clustered copy of identical bytes (b41: stats are useless,
    // every row group scans). Layouts build once (first pass; min-of-3
    // discards it).
    "b39_zorder_pruned" -> ((s, dir) => {
      val (z, _) = BenchLayouts.dirs(s, dir)
      s.read.parquet(z).filter(BenchLayouts.boxPredicate)
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"),
          max(col("payload")).as("mp"))
    }),
    // the third z-dimension, numerically: the same ~decile `value` slice
    // over a 3-col z-ordered layout (stats skip most row groups) vs the
    // 2-col layout of identical bytes, which never clustered on `value`
    // and must decode everything (the b39/b41 pattern, one dimension up)
    "b70_zorder3_third_pruned" -> ((s, dir) => {
      val (z3, cut) = BenchLayouts.dirs3(s, dir)
      s.read.parquet(z3).filter(col("value") < cut)
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          max(col("payload")).as("mp"))
    }),
    "b71_zorder2_third_unpruned" -> ((s, dir) => {
      val (z2, _) = BenchLayouts.dirs(s, dir)
      val (_, cut) = BenchLayouts.dirs3(s, dir)
      s.read.parquet(z2).filter(col("value") < cut)
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          max(col("payload")).as("mp"))
    }),
    "b41_random_unpruned" -> ((s, dir) => {
      val (_, r) = BenchLayouts.dirs(s, dir)
      s.read.parquet(r).filter(BenchLayouts.boxPredicate)
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"),
          max(col("payload")).as("mp"))
    }),
    // ingest-time near-dup: a 500-doc batch against the PRE-BUILT corpus
    // band index (built once, first pass — min-of-3 discards it). The
    // point of comparison is b31: per-batch cost must not scale with the
    // corpus, so this should land well under a full-corpus LSH run.
    "b43_ingest_neardup" -> ((s, dir) => {
      val index = BenchLayouts.nearDupIndex(s, dir)
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 97 === 0).limit(500)
        .select((col("doc_id") + 50000000L).as("doc_id"), col("text"))
      graft.ext.Dedup.nearDupsAgainstIndex(batch, "doc_id", "text",
        index, docs.select(col("doc_id"), col("text")),
        shingleN = 3, k = 16, bands = 4, threshold = 0.5, fast = true)
    }),
    // skewed-LSH stress: the corpus plus a 10k-copy near-dup family (one
    // hot bucket in every band). Without the candidatePairs maxBucket
    // chain guard this is ~50M candidate pairs out of one task; with it,
    // pair volume stays linear and the run completes in b31-like time.
    "b40_minhash_skew" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val template = docs.orderBy("doc_id").limit(1)
        .select(col("text")).crossJoin(
          s.range(10000).select((col("id") + 10000000L).as("doc_id")))
        .select(col("doc_id"), col("text"))
      val skewed = docs.select(col("doc_id"), col("text")).unionByName(template)
        .repartition(col("doc_id"))
      Dedup.minhashLshPairs(skewed, "doc_id", "text",
        shingleN = 3, k = 16, bands = 4, threshold = 0.5, fast = true,
        maxBucket = 1024)
    }))

  /** Every timed entry: the registry minus [[skip]], plus the fast variants. */
  private[graft] def benchSet: Map[String, (SparkSession, String) => DataFrame] =
    (SparkEntry.queries -- skip) ++ fastVariants

  /** The full result line (persisted to BENCH_SELF.json: per-query seconds
    * and the failed names) and the stdout contract line (total only, at
    * most 200 bytes whatever the set size — a tail-window capture of stdout
    * truncates the head of a longer line; r13/r14's perf comparison came
    * back empty for exactly this reason). Entries are 3-decimal (ms
    * resolution — far under the ±30% load band); `value` is the sum of the
    * ROUNDED entries, so it equals what a reader adds up from the full line.
    */
  private[graft] def report(results: Seq[(String, BigDecimal)], failed: Seq[String],
      sfDir: String): (String, String) = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum.setScale(3)
    val failedJs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJs,"sf":"$sfDir"}""",
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":${failed.size},"detail":"BENCH_SELF.json"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val benchQueries = benchSet

    // Warmup (untimed): JIT, codegen, whole scan paths.
    materialize(Queries.q01PricingSummary(spark, sfDir))

    // Three passes, min per query: first-run JIT of generated code and VM
    // noisy-neighbor spikes otherwise dominate single-shot numbers
    // (observed 4-10x swings on identical plans; with only two passes a
    // spike in either still pollutes the min). A query that throws is a
    // FAILURE, not a fast number: its time is never recorded, later passes
    // skip it, it is listed under "failed", and the process exits nonzero.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def onePass(): Map[String, Double] =
      benchQueries.toSeq.sortBy(_._1).filterNot(q => failed(q._1)).flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          materialize(fn(spark, sfDir))
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed += name
            None
        }
      }.toMap
    val passes = Seq(onePass(), onePass(), onePass())
    val results = benchQueries.keys.toSeq.sorted.filterNot(failed).map { n =>
      n -> BigDecimal(passes.map(_(n)).min).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    }
    val (full, contract) = report(results, failed.toSeq, sfDir)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SELF.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_SELF.json: ${e.getMessage}") }
    spark.stop()
    // the contract line, printed LAST so a small tail capture ends with it
    println(contract)
    if (failed.nonEmpty) System.exit(1)
  }
}

/** Once-per-JVM bench layouts for the z-order pruning comparison: the same
  * events projection (replicated ×100 → ~10M rows, because at sf0.1 a full
  * scan is all fixed overhead and pruning cannot show) written z-ordered on
  * (user_id, value) and written randomly clustered — identical bytes,
  * opposite stat quality. The box predicate selects ~1.5% of rows; the
  * z-ordered layout prunes to a few files while the random one reads every
  * row group.
  */
private[graft] object BenchLayouts {
  import org.apache.spark.sql.functions._

  /** Corpus band index for b43, built once per JVM (what production
    * persists as a bucketed table and maintains incrementally).
    */
  def nearDupIndex(s: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame =
    Bench.once("b43_index") {
      graft.ext.Dedup.bandIndex(Tables.documents(s, sfDir),
        "doc_id", "text", shingleN = 3, k = 16, bands = 4, fast = true)
        .repartition(col("band"), col("h"))
        .localCheckpoint()
    }

  // quartile box over two near-uniform dims (~1/16 of rows): rank16 is
  // linear in value space, so a skewed dim (`value`) would collapse into
  // one quadrant and prune nothing
  def boxPredicate: org.apache.spark.sql.Column =
    col("user_id") < 375 && col("event_id") < 25000

  /** 3-column z-order layout over the SAME bytes as [[dirs]]'s pair, plus
    * a `value` cutoff (~decile) for the third-dimension predicate. The
    * 2-col layout is BLIND on `value` (b39's clustering never consults
    * it), so b70 vs b71 isolates exactly what the third dimension buys.
    */
  def dirs3(s: SparkSession, sfDir: String): (String, Double) = Bench.once("b70_layout") {
    val (_, rdir) = dirs(s, sfDir)
    val z3dir = rdir.stripSuffix("/random") + "/zorder3"
    graft.io.ZOrder.writeRankedN(s, s.read.parquet(rdir), z3dir,
      Seq("user_id", "event_id", "value"), nFiles = 128)
    val cut = s.read.parquet(rdir).stat
      .approxQuantile("value", Array(0.1), 0.001)(0)
    (z3dir, cut)
  }

  def dirs(s: SparkSession, sfDir: String): (String, String) = Bench.once("b39_layouts") {
    val base = Harness.tmp("b39")
    // ×300 + a 64-char payload: ~30M rows / ~2 GB raw, enough that an
    // unpruned scan pays real IO+decode, not just task overhead
    val df = Tables.events(s, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
      .crossJoin(s.range(300).select(col("id").as("__rep")))
      .select(col("event_id"), col("user_id"), col("value"),
        sha2(concat_ws("|", col("event_id"), col("__rep")), 256).as("payload"))
    val zdir = s"$base/zorder"
    val rdir = s"$base/random"
    // random layout first; the z-order rewrite then reads those bytes
    // back instead of recomputing the replicated projection
    df.repartition(128).write.mode("overwrite").parquet(rdir)
    graft.io.ZOrder.write(s, s.read.parquet(rdir), zdir,
      "user_id", "event_id", nFiles = 128)
    (zdir, rdir)
  }
}
