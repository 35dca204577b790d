package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 coverage widening: merge/upsert result-set semantics, array
  * higher-order functions, constant-width histograms, approximate distinct
  * counting, and unpivot/melt. Same gate conventions as [[Queries]]
  * (identical names+types both sides, rounded doubles, total ORDER BY).
  */
object QRound4 {
  import Tables._

  /** MERGE-style upsert as a declarative result set (the reference applies
    * metadata upserts row-by-row through a driver dict, client.py:350-474 /
    * update_metadata.py:33-47; here the matched/kept/inserted classification
    * and the merged values come out of ONE full-outer join). At 100 TB both
    * sides are large: the plan is a single shuffle on the merge key into a
    * sort-merge join — no broadcast, no driver state; AQE handles key skew.
    */
  def q47MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val target = customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_acctbal"))
    val source = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("spent_src"),
           count(lit(1)).as("n_src"))
    target.join(source, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "update")
          .when(col("o_custkey").isNull, "keep")
          .otherwise("insert").as("action"),
        coalesce(col("c_acctbal"), lit(0.0)).as("bal"),
        coalesce(col("spent_src"), lit(0.0)).as("spent"),
        coalesce(col("n_src"), lit(0L)).as("n_orders"))
      .orderBy(col("custkey"))
  }

  private val q47Sql =
    """SELECT coalesce(c_custkey, o_custkey) AS custkey,
      |  CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'update'
      |       WHEN o_custkey IS NULL THEN 'keep'
      |       ELSE 'insert' END AS action,
      |  coalesce(c_acctbal, 0.0) AS bal,
      |  coalesce(spent_src, 0.0) AS spent,
      |  CAST(coalesce(n_src, 0) AS BIGINT) AS n_orders
      |FROM (SELECT c_custkey, c_acctbal FROM customer
      |      WHERE c_mktsegment = 'BUILDING') t
      |FULL OUTER JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS spent_src,
      |                        count(*) AS n_src
      |                 FROM orders GROUP BY 1) s
      |  ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  /** Array higher-order functions (transform / filter / aggregate) over a
    * tokenized text column. Each output column is an independent lambda
    * chain; HOFs are interpreted (no codegen), so at 100 TB a hot path this
    * shape should fuse into one pass — pre-explode like q46, or a native
    * Expression (see graft.functions.HashExpressions for the measured
    * pathology) — but as the per-document stats surface the arrays here are
    * short (~100 tokens) and the split dominates, not the lambdas.
    */
  def q48ArrayHof(s: SparkSession, d: String): DataFrame = {
    val tokens = split(col("text"), "\\s+")
    documents(s, d)
      .select(
        col("doc_id"),
        size(tokens).cast("long").as("n_tokens"),
        size(filter(tokens, t => length(t) > 4)).cast("long").as("n_long"),
        array_max(transform(tokens, t => length(t))).cast("long").as("max_len"),
        aggregate(tokens, lit(0L), (acc, t) => acc + length(t)).as("sum_len"))
      .orderBy(col("doc_id"))
  }

  private val q48Sql =
    """SELECT doc_id,
      |  len(string_split_regex(text, '\s+')) AS n_tokens,
      |  len(list_filter(string_split_regex(text, '\s+'),
      |      t -> len(t) > 4)) AS n_long,
      |  list_max(list_transform(string_split_regex(text, '\s+'),
      |      t -> len(t))) AS max_len,
      |  CAST(list_sum(list_transform(string_split_regex(text, '\s+'),
      |      t -> len(t))) AS BIGINT) AS sum_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Constant-width histogram: the bin id is pure per-row arithmetic (stays
    * in WholeStageCodegen, no discovery pass over the data), then ONE
    * map-side-combined aggregation on ~20 keys. The same shape at any scale
    * factor — bin count is fixed, so the shuffle carries at most
    * partitions x bins rows.
    */
  def q49Histogram(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(least(floor(col("l_extendedprice") / 5000.0), lit(19.0))
        .cast("long").as("bucket"),
        col("l_extendedprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("bucket"))

  private val q49Sql =
    """SELECT CAST(least(floor(l_extendedprice / 5000.0), 19) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Approximate distinct counting: HLL sketches are THE 100 TB cardinality
    * path (constant memory per group vs count(DISTINCT)'s full key shuffle).
    * Sketch values differ per engine, so the gate pins (a) the exact count
    * and (b) an `approx_ok` flag asserting the engine's own HLL landed
    * within 15% of exact — deterministic per engine (HLL has no RNG), and
    * both engines' default precision is ~2% at this cardinality.
    */
  def q50ApproxDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey")).as("n_approx"))
      .select(
        col("l_returnflag"),
        col("n_exact"),
        when(col("n_approx") >= col("n_exact") * 0.85 &&
             col("n_approx") <= col("n_exact") * 1.15, 1L).otherwise(0L)
          .as("approx_ok"))
      .orderBy(col("l_returnflag"))

  private val q50Sql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_exact,
      |  CAST(CASE WHEN approx_count_distinct(l_partkey)
      |              BETWEEN count(DISTINCT l_partkey) * 0.85
      |                  AND count(DISTINCT l_partkey) * 1.15
      |            THEN 1 ELSE 0 END AS BIGINT) AS approx_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Unpivot / melt (wide measures -> long (metric, val) rows) via the
    * native `Dataset.unpivot` — plans as Expand: rows x 3 with NO shuffle,
    * and the scan reads only the id + measure columns. The id filter is
    * pushed to the scan (row-group skipping at scale).
    */
  def q51Unpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_orderkey") <= 400)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  private val q51Sql =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
      |FROM lineitem WHERE l_orderkey <= 400
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |FROM lineitem WHERE l_orderkey <= 400
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |FROM lineitem WHERE l_orderkey <= 400
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  /** Calendar/date kernel (date_trunc, datediff, last_day, extract) — all
    * codegen'd date arithmetic on the scan output; one month-key shuffle.
    */
  def q52DateFuncs(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("age_days"),
        last_day(col("o_orderdate").cast("date")).as("eom"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("yyyymm"))
      .groupBy(col("month"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("age_days")), 4).as("avg_age_days"),
        max(col("eom")).as("eom"),
        max(col("yyyymm")).as("yyyymm"))
      .orderBy(col("month"))

  private val q52Sql =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |  count(*) AS n,
      |  round(avg(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')), 4)
      |    AS avg_age_days,
      |  max(last_day(CAST(o_orderdate AS DATE))) AS eom,
      |  CAST(max(year(o_orderdate) * 100 + month(o_orderdate)) AS BIGINT) AS yyyymm
      |FROM orders
      |GROUP BY 1
      |ORDER BY month""".stripMargin

  /** Regex kernel: extraction + replacement as codegen'd expressions (basic
    * POSIX-safe patterns so Java regex and DuckDB's RE2 agree).
    */
  def q53RegexExtract(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        length(regexp_replace(col("p_name"), "[aeiou]", "")).cast("long")
          .as("consonant_len"))
      .groupBy(col("first_word"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("consonant_len")), 4).as("avg_consonants"))
      .orderBy(col("first_word"))

  private val q53Sql =
    """SELECT regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
      |  count(*) AS n,
      |  round(avg(length(regexp_replace(p_name, '[aeiou]', '', 'g'))), 4)
      |    AS avg_consonants
      |FROM part
      |GROUP BY 1
      |ORDER BY first_word""".stripMargin

  /** Distinct count as a window column — Spark has no COUNT(DISTINCT) OVER,
    * so it's rewritten as max(dense_rank): dense_rank over (key ORDER BY
    * value) numbers the distinct values, its per-key max IS the distinct
    * count, and both windows share one shuffle AND one sort on the key
    * (the second spec is unordered over the same partitioning, so the
    * sorted child satisfies it — no q44-style chaining left to apply; the
    * plan is exactly Exchange→Sort→Window→Window). FLOOR NOTE (r13
    * adjudication of the 2.2×-DuckDB gap): b64 benches this body WITHOUT
    * the gate's total ORDER BY — 0.7s vs 1.05s warm at sf0.1 — so ~⅓ of
    * the time is the output-order tax (range exchange + global sort the
    * cross-engine row hash demands, which DuckDB pays in-process) and the
    * rest is one hash exchange + one sort + two window passes over 600k
    * rows, each load-bearing. The oracle uses the equivalent
    * grouped-subquery join.
    */
  def q54WindowDistinct(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byOrder = Window.partitionBy(col("l_orderkey"))
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      .withColumn("__dr", dense_rank().over(byOrder.orderBy(col("l_suppkey"))))
      .withColumn("n_supp", max(col("__dr")).over(byOrder).cast("long"))
      .drop("__dr")
      // (orderkey, linenumber) is NOT unique in this generator — suppkey
      // completes the total order the gate's row hash needs.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
  }

  private val q54Sql =
    """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, g.n_supp
      |FROM lineitem l
      |JOIN (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
      |      FROM lineitem GROUP BY 1) g USING (l_orderkey)
      |ORDER BY l.l_orderkey, l.l_linenumber, l.l_suppkey""".stripMargin

  /** GROUPING SETS through the SQL surface (S9 temp views + spark.sql):
    * the IDENTICAL SQL text runs on both engines — only the two single-
    * column slices, no cross level, which neither ROLLUP nor CUBE alone
    * expresses. One Expand + one shuffle.
    */
  private val q55Text =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |  coalesce(l_linestatus, 'ALL') AS status,
      |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY flag, status""".stripMargin

  def q55GroupingSets(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(q55Text)
  }

  /** Deterministic per-group mode via the TopKPerKey physical operator:
    * count per (group, value), then k=1 with an explicit (count DESC, value)
    * tie-break — the builtin `mode` is nondeterministic on ties in BOTH
    * engines, so this is the gate-able formulation. Only (group, value,
    * count) triples shuffle into the heap operator, never raw rows.
    */
  def q56Mode(s: SparkSession, d: String): DataFrame = {
    val counts = lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    graft.plans.TopKPerKey.topKPerKey(
        counts, Seq("l_returnflag"), Seq(col("cnt").desc, col("l_quantity")), 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
      .orderBy(col("l_returnflag"))
  }

  private val q56Sql =
    """SELECT l_returnflag, l_quantity AS mode_qty, cnt
      |FROM (SELECT l_returnflag, l_quantity, count(*) AS cnt
      |      FROM lineitem GROUP BY 1, 2)
      |QUALIFY row_number() OVER (PARTITION BY l_returnflag
      |                           ORDER BY cnt DESC, l_quantity) = 1
      |ORDER BY l_returnflag""".stripMargin

  /** Deterministic train/val/test split (graft.ext.Splits): the split is a
    * pure function of md5(key) — reproducible across runs/engines/cluster
    * sizes, leakage-free (equal keys always co-assign), zero shuffle. The
    * DuckDB oracle mirrors the md5 bucket arithmetic exactly; production
    * uses the xxhash64 family (same contract, no crypto digest per row).
    */
  def q57HashSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.ext.Splits.hashBucketMd5(col("doc_id"), 100)
    documents(s, d)
      .select(col("lang"),
        graft.ext.Splits.assignSplit(bucket,
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("lang"))
  }

  private val q57Sql =
    """SELECT split, lang, count(*) AS n
      |FROM (SELECT lang,
      |        CASE WHEN bucket < 80 THEN 'train'
      |             WHEN bucket < 90 THEN 'val'
      |             ELSE 'test' END AS split
      |      FROM (SELECT lang,
      |              ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |                % 100 AS bucket
      |            FROM documents))
      |GROUP BY 1, 2
      |ORDER BY split, lang""".stripMargin

  /** Corpus TF-IDF, top-3 terms per document. Only (doc, token, count)
    * triples leave the explode stage (map-side combined); document frequency
    * derives FROM the tf frame, and at runtime AQE's ReusedExchange computes
    * the explode+partial-agg shuffle ONCE for both consumers (static explain
    * shows the subtree twice; the executed plan has reused_exchange=1 and
    * one fewer scan — OPTIMIZATION_r14.md, q58_tfidf). The corpus size joins
    * as a broadcast scalar; the per-doc cut runs through the TopKPerKey heap
    * operator (<= 3 rows per key shuffle, no full sort). Deterministic ties
    * via (score DESC, token); output ordered by (doc_id, token) so the
    * rounded score never has to order rows.
    */
  def q58Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // tf computed IN-ROW: per-doc distinct tokens with their counts come
    // out of array HOFs (O(|vocab|·|doc|) codegen per row), so the exploded
    // stream is one row per (doc, DISTINCT token) — ~|vocab| per doc — and
    // needs NO shuffle at all; the old explode-every-token shape shuffled
    // the full token stream (|doc| rows per doc) into a 2-key aggregate.
    val tf = docs
      .select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), t => length(t) > 0).as("w"))
      // graft_token_counts: one compiled hash-map pass per row — the
      // composed transform(array_distinct(w), t -> (t, size(filter(w, =t))))
      // it replaces ran O(|distinct|·|doc|) interpreted lambda scans per
      // row (HOFs are CodegenFallback); identical (token, tf) multiset
      .select(col("doc_id"),
        explode(call_function("graft_token_counts", col("w"))).as("e"))
      .select(col("doc_id"), col("e.token").as("token"), col("e.tf").as("tf"))
    // NOTE (r14 opt): dfreq and the scored join both consume tf and AQE's
    // ReusedExchange does NOT fire (column pruning canonicalizes the two
    // exchanges differently — scans=3, reused_exchange=0, OPTIMIZATION_r14.md),
    // so tf re-derives per consumer. A localCheckpoint here was A/B'd and
    // LOST at bench scale (the materialization job's floor exceeds the
    // re-derived explode); at real scale, materialize tf to parquet.
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("raw"))
    graft.plans.TopKPerKey.topKPerKey(
        scored, Seq("doc_id"), Seq(col("raw").desc, col("token")), 3)
      .select(col("doc_id"), col("token"), round(col("raw"), 6).as("score"))
      .orderBy(col("doc_id"), col("token"))
  }

  private val q58Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf
      |       FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (SELECT doc_id, token, tf * ln(n_docs::DOUBLE / df) AS raw
      |           FROM tf JOIN dfreq USING (token) CROSS JOIN n)
      |SELECT doc_id, token, round(raw, 6) AS score
      |FROM scored
      |QUALIFY row_number() OVER (PARTITION BY doc_id
      |                           ORDER BY raw DESC, token) <= 3
      |ORDER BY doc_id, token""".stripMargin

  /** End-to-end corpus curation as ONE declarative plan — the composed
    * training-data pipeline: exact dedup (keep min doc_id per text) →
    * quality gate → deterministic split assignment → per-(split, lang)
    * stats. Catalyst sees the whole chain, so the scan reads each column
    * once, the dedup window and final aggregate are the only shuffles, and
    * the split/quality kernels are per-row codegen. This is the "a user of
    * the reference switches their whole curation job to one .select" story.
    */
  def q59Curation(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{Splits, TextAnalysis}
    val deduped = graft.core.ops.TableOps.dedupeLastWins(
      documents(s, d), Seq("text"), Seq(col("doc_id").asc))
    deduped
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .filter(col("quality") >= 0.5)
      .withColumn("split", Splits.assignSplit(
        Splits.hashBucketMd5(col("doc_id"), 100),
        Seq("train" -> 80, "val" -> 10, "test" -> 10)))
      .groupBy(col("split"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        // exact integer ten-thousandths: avg of floor-truncated qualities
        // can land ON the round(4) boundary and split across engines
        round(sum(round(col("quality") * 10000, 0).cast("long")) / 10000.0
          / count(lit(1)), 4).as("avg_quality"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  private val q59Sql = {
    val stop = graft.ext.TextAnalysis.DefaultStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH deduped AS (
       |  SELECT doc_id, lang, text FROM documents
       |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
       |scored AS (
       |  SELECT doc_id, lang,
       |    floor((0.5 * least(length(text) / 500.0, 1.0)
       |        + 0.3 * least((len(list_filter(string_split(text, ' '), t -> t IN ($stop)))::DOUBLE
       |                       / len(string_split(text, ' '))) * 5.0, 1.0)
       |        + 0.2 * (1.0 - least(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
       |                             * 10.0 / length(text), 1.0))) * 10000.0) / 10000.0 AS quality,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM deduped),
       |assigned AS (
       |  SELECT lang, quality, n_tokens,
       |    CASE WHEN bucket < 80 THEN 'train'
       |         WHEN bucket < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT *,
       |          ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |            % 100 AS bucket
       |        FROM scored WHERE quality >= 0.5))
       |SELECT split, lang, count(*) AS n_docs,
       |  round(CAST(sum(CAST(round(quality * 10000, 0) AS BIGINT)) AS BIGINT)
       |        / 10000.0 / count(*), 4) AS avg_quality,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM assigned
       |GROUP BY 1, 2
       |ORDER BY split, lang""".stripMargin
  }

  /** Deterministic stratified sampling: exactly `n` rows per stratum,
    * chosen by md5-hash order — reproducible (no rand()), portable (the
    * oracle mirrors the hash), and unbiased w.r.t. any data ordering. Runs
    * through the TopKPerKey heap operator: at most n rows per (partition,
    * stratum) shuffle, so sampling 50/stratum from a petabyte moves
    * ~50 x strata rows, not the corpus.
    */
  def q60StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val withHash = documents(s, d)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
    graft.plans.TopKPerKey.topKPerKey(
        withHash, Seq("lang"), Seq(col("h"), col("doc_id")), 50)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  private val q60Sql =
    """SELECT lang, doc_id
      |FROM (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
      |      FROM documents)
      |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) <= 50
      |ORDER BY lang, doc_id""".stripMargin

  /** Conversion funnel over the event stream: per user, the first timestamp
    * of each stage; a user converts at stage k if the first occurrences are
    * in order. ONE groupBy shuffle (conditional min aggregates — no joins,
    * no per-stage passes), then a tiny stage-count aggregate.
    */
  def q61Funnel(s: SparkSession, d: String): DataFrame = {
    def firstTs(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    val perUser = events(s, d)
      .groupBy(col("user_id"))
      .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
    perUser.select(
        when(col("t_view").isNotNull, 1L).otherwise(0L).as("s1"),
        when(col("t_view") < col("t_click"), 1L).otherwise(0L).as("s2"),
        when(col("t_view") < col("t_click") && col("t_click") < col("t_purchase"), 1L)
          .otherwise(0L).as("s3"))
      .agg(
        sum(col("s1")).as("n_view"),
        sum(col("s2")).as("n_view_click"),
        sum(col("s3")).as("n_view_click_purchase"))
  }

  private val q61Sql =
    """SELECT
      |  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
      |  CAST(sum(CASE WHEN t_view < t_click AND t_click < t_purchase
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
      |FROM (SELECT user_id,
      |        min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |        min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |        min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |      FROM events GROUP BY 1)""".stripMargin

  /** Gap fill via last-observation-carried-forward: each event carries its
    * user's most recent purchase value (NULL until the first purchase).
    * `last(_, ignoreNulls)` over a running frame — one shuffle on user_id,
    * one Tungsten sort, single pass; the standard time-series feature
    * backfill for training data.
    */
  def q62Locf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "purchase", col("value")).as("purchase_value"))
      .withColumn("last_purchase",
        round(last(col("purchase_value"), ignoreNulls = true).over(w), 4))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("last_purchase"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  private val q62Sql =
    """SELECT user_id, event_id, epoch_us(ts) AS us,
      |  round(last_value(CASE WHEN event_type = 'purchase' THEN value END
      |                   IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
      |    AS last_purchase
      |FROM events
      |ORDER BY user_id, us, event_id""".stripMargin

  /** Calendar resampling: a generated daily spine per user (sequence +
    * explode — rows that never existed in the data), left-joined against
    * per-day counts with zero-fill. The spine is |users| x |days| rows built
    * by a Generator (no driver loop, no data shuffle to build it); the
    * aggregate side is map-side combined before its one shuffle. The
    * standard densification step before windowed feature extraction.
    */
  def q63Resample(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val days = ev.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(sequence(
          lit("2024-01-01").cast("date"), lit("2024-01-30").cast("date"))).as("day"))
    val perDay = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    days.join(perDay, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("n_events"))
      .orderBy(col("user_id"), col("day"))
  }

  private val q63Sql =
    """SELECT u.user_id, s.day, coalesce(c.cnt, 0) AS n_events
      |FROM (SELECT DISTINCT user_id FROM events) u
      |CROSS JOIN (SELECT unnest(generate_series(DATE '2024-01-01',
      |                                          DATE '2024-01-30',
      |                                          INTERVAL 1 DAY))::DATE AS day) s
      |LEFT JOIN (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
      |           FROM events GROUP BY 1, 2) c
      |  ON u.user_id = c.user_id AND s.day = c.day
      |ORDER BY u.user_id, s.day""".stripMargin

  /** Forward as-of join (graft.operators.AsOfJoin.asOfJoinForward): each
    * click enriched with the user's NEXT purchase at-or-after it — time-to-
    * conversion per interaction. DuckDB has no forward ASOF, so the oracle
    * is the equivalent QUALIFY-over-join; our side is the mirrored
    * tagged-union window (one shuffle, one sort).
    */
  def q64AsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(max(col("event_id")).as("p_event_id"))
    graft.operators.AsOfJoin.asOfJoinForward(
        clicks, purchases, "user_id", "p_user", "ts", "p_ts",
        Seq("p_event_id", "p_ts"))
      .select(col("event_id"), col("user_id"),
        col("p_event_id").as("next_purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("ts"))).as("gap_us"))
      .orderBy(col("event_id"))
  }

  private val q64Sql =
    """WITH c AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'click'),
      |p AS (SELECT user_id AS p_user, ts AS p_ts, max(event_id) AS p_event_id
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id,
      |  p.p_event_id AS next_purchase_id,
      |  epoch_us(p.p_ts) - epoch_us(c.ts) AS gap_us
      |FROM c LEFT JOIN p ON c.user_id = p.p_user AND p.p_ts >= c.ts
      |QUALIFY row_number() OVER (PARTITION BY c.event_id ORDER BY p.p_ts) = 1
      |ORDER BY c.event_id""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q47_merge_upsert"    -> (q47MergeUpsert _),
    "q48_array_hof"       -> (q48ArrayHof _),
    "q49_histogram"       -> (q49Histogram _),
    "q50_approx_distinct" -> (q50ApproxDistinct _),
    "q51_unpivot"         -> (q51Unpivot _),
    "q52_date_funcs"      -> (q52DateFuncs _),
    "q53_regex_extract"   -> (q53RegexExtract _),
    "q54_window_distinct" -> (q54WindowDistinct _),
    "q55_grouping_sets"   -> (q55GroupingSets _),
    "q56_mode"            -> (q56Mode _),
    "q57_hash_split"      -> (q57HashSplit _),
    "q58_tfidf"           -> (q58Tfidf _),
    "q59_curation"        -> (q59Curation _),
    "q60_stratified_sample" -> (q60StratifiedSample _),
    "q61_funnel"          -> (q61Funnel _),
    "q62_locf"            -> (q62Locf _),
    "q63_resample"        -> (q63Resample _),
    "q64_asof_forward"    -> (q64AsofForward _))

  val sql: Map[String, String] = Map(
    "q47_merge_upsert"    -> q47Sql,
    "q48_array_hof"       -> q48Sql,
    "q49_histogram"       -> q49Sql,
    "q50_approx_distinct" -> q50Sql,
    "q51_unpivot"         -> q51Sql,
    "q52_date_funcs"      -> q52Sql,
    "q53_regex_extract"   -> q53Sql,
    "q54_window_distinct" -> q54Sql,
    "q55_grouping_sets"   -> q55Text,
    "q56_mode"            -> q56Sql,
    "q57_hash_split"      -> q57Sql,
    "q58_tfidf"           -> q58Sql,
    "q59_curation"        -> q59Sql,
    "q60_stratified_sample" -> q60Sql,
    "q61_funnel"          -> q61Sql,
    "q62_locf"            -> q62Sql,
    "q63_resample"        -> q63Sql,
    "q64_asof_forward"    -> q64Sql)
}
