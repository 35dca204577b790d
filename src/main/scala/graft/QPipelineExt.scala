package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data pipeline extension queries (the north-star surface from
  * BASELINE.json): dedup (exact, n-gram Jaccard, MinHash-LSH, SimHash), text
  * analysis (quality, language ID, fingerprint), similarity search
  * (brute-force top-k, bucketed k-NN), multimodal binary metadata, and the
  * batch analog of the streaming window agg. All call into the graft.ext
  * modules — the queries are the oracle harness, the modules are the API.
  */
object QPipelineExt {
  import Tables._

  /** Exact dedup via hash-groupBy — shuffles 16-byte md5 keys, never text. */
  def q20DedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactDupGroups(documents(s, d), "text", "doc_id")
      .orderBy(col("content_hash"))

  private val q20Sql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin

  /** Text-quality metrics — one codegen'd pass, no shuffle. */
  def q21TextQuality(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    documents(s, d).select(
      col("doc_id"),
      length(t).cast("long").as("n_chars_m"),
      TextAnalysis.tokenCount(t).as("n_tokens"),
      TextAnalysis.subwordCount(t).as("n_subwords"),
      TextAnalysis.stopwordCount(t).as("n_stop"),
      TextAnalysis.avgTokenLen(t).as("avg_tok_len"),
      TextAnalysis.qualityScore(t).as("quality"))
      .orderBy(col("doc_id"))
  }

  private val q21Sql = {
    val stop = TextAnalysis.DefaultStopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  length(text) AS n_chars_m,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_subwords,
       |  len(list_filter(string_split(text, ' '), t -> t IN ($stop))) AS n_stop,
       |  round(length(regexp_replace(text, ' ', '', 'g'))::DOUBLE
       |        / len(string_split(text, ' ')), 4) AS avg_tok_len,
       |  floor((0.5 * least(length(text) / 500.0, 1.0)
       |      + 0.3 * least((len(list_filter(string_split(text, ' '), t -> t IN ($stop)))::DOUBLE
       |                     / len(string_split(text, ' '))) * 5.0, 1.0)
       |      + 0.2 * (1.0 - least(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
       |                           * 10.0 / length(text), 1.0))) * 10000.0) / 10000.0 AS quality
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Marker-based language ID (priority-ordered argmax, deterministic). */
  def q22LangId(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      col("lang"),
      TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  /** The DuckDB CASE expression equivalent to [[TextAnalysis.langId]] over a
    * `text` column — shared with q104's agreement oracle.
    */
  private[graft] val langPredSqlExpr: String = {
    // COALESCE pins the null contract to langId's: NULL text → zero hits
    // everywhere → the CASE's first branch → 'und' (never the ELSE 'zh')
    def cnt(words: Seq[String]) = {
      val in = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(COALESCE(text, ''), ' '), t -> t IN ($in)))"
    }
    val m = TextAnalysis.DefaultLangMarkers.toMap
    s"""CASE WHEN ${cnt(m("en"))} + ${cnt(m("de"))} + ${cnt(m("es"))}
       |          + ${cnt(m("fr"))} + ${cnt(m("zh"))} = 0 THEN 'und'
       |    WHEN ${cnt(m("en"))} >= ${cnt(m("de"))} AND ${cnt(m("en"))} >= ${cnt(m("es"))}
       |     AND ${cnt(m("en"))} >= ${cnt(m("fr"))} AND ${cnt(m("en"))} >= ${cnt(m("zh"))} THEN 'en'
       |    WHEN ${cnt(m("de"))} >= ${cnt(m("es"))} AND ${cnt(m("de"))} >= ${cnt(m("fr"))}
       |     AND ${cnt(m("de"))} >= ${cnt(m("zh"))} THEN 'de'
       |    WHEN ${cnt(m("es"))} >= ${cnt(m("fr"))} AND ${cnt(m("es"))} >= ${cnt(m("zh"))} THEN 'es'
       |    WHEN ${cnt(m("fr"))} >= ${cnt(m("zh"))} THEN 'fr'
       |    ELSE 'zh' END""".stripMargin
  }

  private val q22Sql =
    s"""SELECT doc_id, lang,
       |  $langPredSqlExpr AS lang_pred
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Canonical-form fingerprint (case/punct/spacing-insensitive dedup key). */
  def q23Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  private val q23Sql =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |                          ' +', ' ', 'g'))) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Blocked pairwise bigram-Jaccard near-dup detection: quadratic only
    * within each `source` block.
    */
  def q24NgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", "source", 2, 0.5)
      .orderBy(col("id_a"), col("id_b"))

  private val q24Sql =
    """WITH sh AS (
      |  SELECT doc_id AS id, source AS blk,
      |    list_distinct(list_transform(range(1, len(string_split(text, ' '))),
      |      i -> list_aggregate(string_split(text, ' ')[i:i+1], 'string_agg', ' '))) AS s
      |  FROM documents)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  round(len(list_intersect(a.s, b.s))::DOUBLE
      |        / len(list_distinct(list_concat(a.s, b.s))), 4) AS jac
      |FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
      |WHERE jac >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** MinHash-LSH near-dup pipeline: trigram shingles, 16 minhashes, 4 bands
    * of 4, Jaccard-verified at 0.5. The md5 hash family is engine-portable,
    * so the DuckDB oracle runs the identical algorithm.
    */
  def q25MinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(documents(s, d), "doc_id", "text",
        shingleN = 3, k = 16, bands = 4, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  private val q25Sql =
    """WITH sh AS (
      |  SELECT doc_id AS id,
      |    list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |      i -> list_aggregate(string_split(text, ' ')[i:i+2], 'string_agg', ' '))) AS s
      |  FROM documents),
      |sig AS (
      |  SELECT id, s,
      |    list_transform(range(0, 16),
      |      j -> list_min(list_transform(s,
      |             x -> md5('mh' || lpad(j::VARCHAR, 2, '0') || ':' || x)))) AS sg
      |  FROM sh),
      |banded AS (
      |  SELECT id,
      |    list_transform(range(0, 4),
      |      b -> md5(list_aggregate(sg[b*4+1 : b*4+4], 'string_agg', '|'))) AS bh
      |  FROM sig),
      |expl AS (
      |  SELECT id, generate_subscripts(bh, 1) AS band, unnest(bh) AS h FROM banded),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM expl a JOIN expl b ON a.band = b.band AND a.h = b.h AND a.id < b.id)
      |SELECT c.id_a, c.id_b,
      |  round(len(list_intersect(sa.s, sb.s))::DOUBLE
      |        / len(list_distinct(list_concat(sa.s, sb.s))), 4) AS jac
      |FROM cand c JOIN sh sa ON c.id_a = sa.id JOIN sh sb ON c.id_b = sb.id
      |WHERE jac >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Near-dup clusters: the MinHash-LSH pairs (q25 pipeline) closed into
    * connected components by Dedup.dupClusters (iterative min-label
    * propagation, one shuffle per round). The DuckDB oracle runs the same
    * pair pipeline plus a recursive-CTE transitive closure — every doc
    * labeled with the smallest id reachable through any near-dup chain.
    */
  def q43DupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(documents(s, d), "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, threshold = 0.5)
    Dedup.dupClusters(pairs, "id_a", "id_b")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("cluster"))
  }

  private val q43Sql =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id AS id,
      |    list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |      i -> list_aggregate(string_split(text, ' ')[i:i+2], 'string_agg', ' '))) AS s
      |  FROM documents),
      |sig AS (
      |  SELECT id, s,
      |    list_transform(range(0, 16),
      |      j -> list_min(list_transform(s,
      |             x -> md5('mh' || lpad(j::VARCHAR, 2, '0') || ':' || x)))) AS sg
      |  FROM sh),
      |banded AS (
      |  SELECT id,
      |    list_transform(range(0, 4),
      |      b -> md5(list_aggregate(sg[b*4+1 : b*4+4], 'string_agg', '|'))) AS bh
      |  FROM sig),
      |expl AS (
      |  SELECT id, generate_subscripts(bh, 1) AS band, unnest(bh) AS h FROM banded),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM expl a JOIN expl b ON a.band = b.band AND a.h = b.h AND a.id < b.id),
      |pairs AS (
      |  SELECT c.id_a, c.id_b
      |  FROM cand c JOIN sh sa ON c.id_a = sa.id JOIN sh sb ON c.id_b = sb.id
      |  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
      |        / len(list_distinct(list_concat(sa.s, sb.s))), 4) >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
      |lbl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
      |SELECT cluster, count(*) AS n_docs FROM lbl GROUP BY cluster
      |ORDER BY cluster""".stripMargin

  /** 32-bit SimHash fingerprints (md5 family; bit b = sign of the ±1 votes
    * of hex digit b/4, offset b%4 across token hashes).
    */
  def q26Simhash(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      Dedup.simhash32(col("text")).as("simhash"))
      .orderBy(col("doc_id"))

  private val q26Sql =
    """WITH m AS (
      |  SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS md5s
      |  FROM documents)
      |SELECT doc_id,
      |  list_aggregate(list_transform(range(0, 32), b ->
      |    CASE WHEN list_sum(list_transform(md5s, h ->
      |      2 * (((position(substring(h, 1 + b//4, 1) IN '0123456789abcdef') - 1)
      |            >> (3 - b%4)) & 1) - 1)) > 0
      |    THEN '1' ELSE '0' END), 'string_agg', '') AS simhash
      |FROM m
      |ORDER BY doc_id""".stripMargin

  /** SimHash near-dup PAIRS (md5 family, oracle-portable): the
    * block-pigeonhole candidate join — 4 substring blocks of the 32-bit
    * fingerprint; two prints within Hamming distance 3 must share a whole
    * block — then EXACT hamming verification, kept at <= 2. Pins the
    * candidate-generation + verification semantics the production 64-bit
    * [[graft.ext.Dedup.simhashNearDupPairs]] (native expression, bench
    * b44) must honor.
    */
  def q92SimhashPairs(s: SparkSession, d: String): DataFrame = {
    // materialized once — banding AND both verification joins read it;
    // without this the md5-per-token fingerprint computes three times
    val sh = documents(s, d)
      .select(col("doc_id").as("id"), Dedup.simhash32(col("text")).as("sh"))
      .localCheckpoint()
    val banded = sh.select(col("id"),
      array((0 until 4).map(b => substring(col("sh"), 1 + 8 * b, 8)): _*).as("bh"))
    Dedup.candidatePairs(banded, "id", "bh")
      .join(sh.select(col("id").as("ia"), col("sh").as("sa")), col("id_a") === col("ia"))
      .join(sh.select(col("id").as("ib"), col("sh").as("sb")), col("id_b") === col("ib"))
      .select(col("id_a"), col("id_b"),
        bit_count(conv(col("sa"), 2, 10).cast("long")
          .bitwiseXOR(conv(col("sb"), 2, 10).cast("long"))).as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val q92Sql =
    """WITH m AS (
      |  SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS md5s
      |  FROM documents),
      |sh AS (SELECT doc_id AS id,
      |  list_aggregate(list_transform(range(0, 32), b ->
      |    CASE WHEN list_sum(list_transform(md5s, h ->
      |      2 * (((position(substring(h, 1 + b//4, 1) IN '0123456789abcdef') - 1)
      |            >> (3 - b%4)) & 1) - 1)) > 0
      |    THEN '1' ELSE '0' END), 'string_agg', '') AS sh
      |  FROM m),
      |bl AS (SELECT id, i AS band, substring(sh, CAST(1 + 8 * i AS INT), 8) AS h
      |       FROM sh, UNNEST(range(0, 4)) t(i)),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |         FROM bl a JOIN bl b ON a.band = b.band AND a.h = b.h AND a.id < b.id),
      |j AS (SELECT id_a, id_b,
      |  CAST(list_sum(list_transform(range(1, 33), i ->
      |    CASE WHEN substring(x.sh, CAST(i AS INT), 1) <> substring(y.sh, CAST(i AS INT), 1)
      |    THEN 1 ELSE 0 END)) AS INT) AS hamming
      |  FROM cand JOIN sh x ON cand.id_a = x.id JOIN sh y ON cand.id_b = y.id)
      |SELECT id_a, id_b, hamming FROM j
      |WHERE hamming <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Gopher-style repetition quality signals per document: duplicate-2gram
    * fraction (1 − distinct/total) and top-2gram occupancy — pure per-row
    * integer ratios, so both engines compute bit-identical doubles (no sum
    * order, no rounding-boundary class).
    */
  def q93Repetition(s: SparkSession, d: String): DataFrame = {
    import graft.ext.TextAnalysis
    documents(s, d).select(
      col("doc_id"),
      round(TextAnalysis.dupNgramFraction(col("text"), 2), 6).as("dup2"),
      round(TextAnalysis.topNgramFraction(col("text"), 2), 6).as("top2"))
      .orderBy(col("doc_id"))
  }

  private val q93Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 2 THEN
      |      list_transform(range(1, len(string_split(text, ' '))),
      |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])
      |    ELSE [] END AS grams
      |  FROM documents)
      |SELECT doc_id,
      |  round(CASE WHEN len(grams) > 0
      |    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
      |    ELSE 0.0 END, 6) AS dup2,
      |  round(CASE WHEN len(grams) > 0
      |    THEN CAST(list_max(list_transform(list_distinct(grams),
      |           d -> len(list_filter(grams, x -> x = d)))) AS DOUBLE) / len(grams)
      |    ELSE 0.0 END, 6) AS top2
      |FROM g
      |ORDER BY doc_id""".stripMargin

  /** Brute-force cosine top-10 against the vec_id=0 embedding — broadcast
    * query vector, one codegen'd scan, TakeOrdered heap.
    */
  def q27CosineTopK(s: SparkSession, d: String): DataFrame =
    Similarity.topKNeighbors(embeddings(s, d), "vec_id", "embedding", 0L, 10)

  private val q27Sql =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(
      |    list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
      |    / (sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
      |     * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))), 6) AS sim
      |FROM embeddings e, q
      |WHERE vec_id <> 0
      |ORDER BY sim DESC, vec_id
      |LIMIT 10""".stripMargin

  /** Bucketed k-NN join (IVF-style): top-3 neighbours within each label
    * bucket; quadratic cost confined to buckets, one shuffle on the bucket
    * key.
    */
  def q28BucketedKnn(s: SparkSession, d: String): DataFrame =
    Similarity.bucketedKnn(embeddings(s, d), "vec_id", "embedding", "label", 3)
      .orderBy(col("a_id"), col("rnk"))

  private val q28Sql =
    """WITH s AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings),
      |p AS (
      |  SELECT a.id AS a_id, b.id AS b_id,
      |    round(
      |      list_sum(list_transform(range(1, 65), i -> a.vec[i]::DOUBLE * b.vec[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.vec[i]::DOUBLE * a.vec[i]::DOUBLE)))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> b.vec[i]::DOUBLE * b.vec[i]::DOUBLE)))), 6) AS sim
      |  FROM s a JOIN s b ON a.label = b.label AND a.id <> b.id)
      |SELECT a_id, b_id, sim,
      |  row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rnk
      |FROM p
      |QUALIFY rnk <= 3
      |ORDER BY a_id, rnk""".stripMargin

  /** Multimodal binary metadata: opaque bytes + codegen'd size / content
    * hash / magic-number sniff (the decode stage itself is the stubbed
    * mapPartitions seam in graft.ext.Multimodal, exercised by ScalaTest).
    */
  def q29BinaryMeta(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.fromText(documents(s, d), "doc_id", "text", "text")
    media.select(
      col("media_id"),
      col("kind"),
      Multimodal.byteLength(col("content")).as("n_bytes"),
      Multimodal.contentHash(col("content")).as("sha"),
      Multimodal.headHex(col("content"), 8).as("head_hex"))
      .orderBy(col("media_id"))
  }

  private val q29Sql =
    """SELECT doc_id AS media_id, 'text' AS kind,
      |  octet_length(encode(text)) AS n_bytes,
      |  sha256(text) AS sha,
      |  lower(substring(hex(encode(text)), 1, 16)) AS head_hex
      |FROM documents
      |ORDER BY media_id""".stripMargin

  /** Corpus vocabulary: explode tokens (the Generator/UDTF surface, SURVEY
    * §2.7) → count → top-20. The explode is partition-local; only (token,
    * partial count) pairs shuffle, and the top-k is a TakeOrdered heap.
    */
  def q46TokenFreq(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  private val q46Sql =
    """SELECT t AS token, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      |GROUP BY t
      |ORDER BY n DESC, token
      |LIMIT 20""".stripMargin

  /** Tumbling-window event aggregation — the batch analog of the streaming
    * path (graft.streaming); window() is epoch-aligned so it equals
    * date_trunc for 1h tumbling.
    */
  def q30EventWindowAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("wstart"), col("event_type"))

  private val q30Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS wstart,
      |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY wstart, event_type""".stripMargin

  /** Embedding-cosine near-dup pairs, exact full-corpus baseline. Tiled
    * block self-join (Similarity.nearDupPairsBlocked): same rows as the
    * naive all-pairs form, but the quadratic work spreads over K(K+1)/2
    * uniform shuffle tasks with NOTHING broadcast — the naive non-equi
    * self-join plans as a BroadcastNestedLoopJoin, which ships the whole
    * table to every executor. The measured threshold here (0.45 ≈ 3.6σ of
    * the isotropic background) is why this stays exact rather than
    * LSH-banded: banding with recall ≈ 1 at p₁ = 0.649 costs more than the
    * tiled join (see Similarity.nearDupPairsBanded scaladoc for the regime
    * split; bench b45 measures both on this table).
    */
  def q31EmbeddingNearDup(s: SparkSession, d: String): DataFrame =
    Similarity.nearDupPairsBlocked(embeddings(s, d), "vec_id", "embedding", 0.45)
      .orderBy(col("id_a"), col("id_b"))

  private val q31Sql =
    """WITH p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(
      |      list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 6) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, sim FROM p
      |WHERE sim >= 0.45
      |ORDER BY id_a, id_b""".stripMargin

  /** Corpus-level similarity via the MinHash sketch AGGREGATE: one k-wide
    * signature per source (map-side partial + merge — k longs per group
    * regardless of corpus size), then pairwise source similarity estimates.
    *
    * Oracle via the q50/q75 sketch-vs-exact pattern: the estimate itself is
    * xxhash64-based (not DuckDB-expressible), so BOTH engines compute the
    * EXACT pairwise 2-shingle Jaccard (cross-checked value-for-value) and
    * the Spark side additionally asserts its sketch estimate landed within
    * `bound` of exact, emitting an `in_bound` flag the oracle pins to 1. A
    * sketch regression flips the flag and fails the gate. The exact
    * shingle-set join is verification-sized (|sources|² pairs); the SKETCH
    * is the 100 TB path — k longs per group, mergeable, one pass.
    *
    * bound=0.2 at k=128: per-pair std ≤ 1/(2√128)≈0.044, and the max over
    * 190 pairs reaches ~3σ by order statistics alone (k=32 measured 0.30 —
    * too loose to pin anything). Measured max deviation at k=128 across
    * all three SFs: 0.131 (sf0.01) / 0.122 / 0.019, the largest
    * `abs(est - exact_jac)` over this query's pairs (the term `in_bound`
    * tests). 0.2 is ~4.5σ: never trips on sampling noise, trips
    * immediately on a systematic sketch bug.
    */
  def q32SourceSketch(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHashSketch
    val k = 128
    val bound = 0.2
    // Per-doc signature in the codegen'd native expression; the aggregate
    // merges k longs per doc (elementwise min — same sketch values as
    // hashing every shingle string inside the aggregator, without pushing
    // each shingle through the typed Seq[String] encoder).
    val sketch = MinHashSketch.ofSignatures(k)
    val sigs = documents(s, d)
      .select(col("source"),
        call_function("graft_minhash_sig",
          graft.ext.TextAnalysis.tokens(col("text")), lit(2), lit(k)).as("sh"))
      .groupBy(col("source"))
      .agg(sketch(col("sh")).as("sig"))
    val est = sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("source_a"), col("b.source").as("source_b"),
        MinHashSketch.estimateJaccard(col("a.sig"), col("b.sig"), k).as("est"))
    // exact source-level shingle sets: distinct (source, 2-gram)
    val sh = documents(s, d)
      .select(col("source"),
        explode(graft.ext.Dedup.shingles(col("text"), 2)).as("g"))
      .distinct()
    val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x")
      .join(sh.as("y"), col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("ni"))
    val pairs = sz.as("p").join(sz.as("q"), col("p.source") < col("q.source"))
      .select(col("p.source").as("source_a"), col("q.source").as("source_b"),
        col("p.n").as("na"), col("q.n").as("nb"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .select(col("source_a"), col("source_b"),
        round(col("ni") / (col("na") + col("nb") - col("ni")), 6).as("exact_jac"))
    pairs.join(est, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"), col("exact_jac"),
        when(abs(col("est") - col("exact_jac")) <= bound, 1).otherwise(0)
          .cast("int").as("in_bound"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val q32Sql =
    """WITH tok AS (SELECT source, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT source, w[i] || ' ' || w[i + 1] AS g
      |       FROM tok, UNNEST(range(1, len(w))) t(i)),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT x.source AS source_a, y.source AS source_b,
      |            CAST(count(*) AS BIGINT) AS ni
      |          FROM sh x JOIN sh y ON x.g = y.g AND x.source < y.source
      |          GROUP BY 1, 2)
      |SELECT p.source AS source_a, q.source AS source_b,
      |  round(coalesce(ni, 0) / (p.n + q.n - coalesce(ni, 0)), 6) AS exact_jac,
      |  CAST(1 AS INT) AS in_bound
      |FROM sz p JOIN sz q ON p.source < q.source
      |LEFT JOIN inter ON inter.source_a = p.source AND inter.source_b = q.source
      |ORDER BY source_a, source_b""".stripMargin

  /** Range join via bin bucketing (graft.operators.RangeJoin): clicks
    * within one hour after each purchase, no equi key — the binned plan
    * runs as an equi join on the hour bin (shuffle-parallel) where naive
    * Spark would nested-loop the cross product. DuckDB oracle runs the
    * plain inequality join (its IEJoin handles sf0.01 fine).
    */
  def q37RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("ts").as("p_ts"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("p_end"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts").as("c_ts"))
    graft.operators.RangeJoin
      .binnedRangeJoin(purchases, clicks, "p_ts", "p_end", "c_ts", "1 hour")
      .groupBy(date_format(date_trunc("hour", col("p_ts")), "yyyy-MM-dd HH:mm").as("phour"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("phour"))
  }

  private val q37Sql =
    """SELECT strftime(date_trunc('hour', p.ts), '%Y-%m-%d %H:%M') AS phour,
      |  count(*) AS n_pairs
      |FROM (SELECT ts FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT ts FROM events WHERE event_type = 'click') c
      |  ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
      |GROUP BY 1
      |ORDER BY phour""".stripMargin

  /** As-of join: each event enriched with the user's latest order at or
    * before the event time. Right side pre-aggregated to one row per
    * (custkey, orderdate) so the match is deterministic in every engine.
    */
  def q33AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"), col("user_id"), col("ts"))
    val ord = orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(
        max(col("o_orderkey")).as("o_orderkey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
    graft.operators.AsOfJoin.asOfJoin(
        ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("event_id"))
  }

  private val q33Sql =
    """WITH r AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
      |         max_by(o_totalprice, o_orderkey) AS o_totalprice
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
      |FROM events e ASOF LEFT JOIN r
      |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  /** The SQL surface (S9): temp views + spark.sql — the reference's
    * notebook pattern (createOrReplaceTempView → SELECT). Identical SQL text
    * runs on the DuckDB side.
    */
  def q34SqlSurface(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    part(s, d).createOrReplaceTempView("part")
    s.sql(q34Sql)
  }

  private val q34Sql =
    """SELECT p_brand,
      |  count(*) AS n_items,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Delta write→read round trip under the correctness gate (S7): two
    * appends into a fresh Delta table (orderkey%3 split) with a checkpoint
    * AFTER the second, then the aggregate runs over the LOG-REPLAYED read
    * and the v0 row count over a TIME-TRAVEL read — commit protocol,
    * checkpoint replay, and version pinning all sit in the hashed data
    * path. Checkpointing at the log head makes each read a single-source
    * replay (the full read loads only the checkpoint, the v0 read only
    * the v0 JSON commit) instead of checkpoint-plus-delta — the same
    * reason production writers checkpoint at the head, and both replay
    * paths stay exercised. The oracle computes the same numbers straight
    * from the source parquet, so any row lost, duplicated, or mistyped by
    * the writer or reader breaks the hash. Money stays in integer cents
    * end-to-end (the q69/q73 convention).
    */
  def q94DeltaRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q94"), "orders_delta").getAbsolutePath
    val src = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    graft.io.DeltaWrite.writeDeltaTable(
      src.filter(col("o_orderkey") % 3 === 0), path, "append")
    graft.io.DeltaWrite.writeDeltaTable(
      src.filter(col("o_orderkey") % 3 =!= 0), path, "append")
    graft.io.DeltaWrite.checkpoint(s, path)
    val v0 = graft.io.DeltaRead.readDeltaTable(s, path, versionAsOf = Some(0L))
      .agg(count(lit(1)).as("v0_rows"))
    graft.io.DeltaRead.readDeltaTable(s, path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .crossJoin(broadcast(v0))
      .orderBy(col("o_orderstatus"))
  }

  private val q94Sql =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
      |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS v0_rows
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q94_delta_roundtrip"   -> (q94DeltaRoundtrip _),
    "q31_embedding_neardup" -> (q31EmbeddingNearDup _),
    "q32_source_sketch"     -> (q32SourceSketch _),
    "q33_asof_join"         -> (q33AsofJoin _),
    "q37_range_join"        -> (q37RangeJoin _),
    "q43_dup_clusters"      -> (q43DupClusters _),
    "q46_token_freq"        -> (q46TokenFreq _),
    "q34_sql_surface"       -> (q34SqlSurface _),
    "q20_dedup_exact"      -> (q20DedupExact _),
    "q21_text_quality"     -> (q21TextQuality _),
    "q22_lang_id"          -> (q22LangId _),
    "q23_fingerprint"      -> (q23Fingerprint _),
    "q24_ngram_jaccard"    -> (q24NgramJaccard _),
    "q25_minhash_lsh"      -> (q25MinhashLsh _),
    "q26_simhash"          -> (q26Simhash _),
    "q92_simhash_pairs"    -> (q92SimhashPairs _),
    "q93_repetition"       -> (q93Repetition _),
    "q27_cosine_topk"      -> (q27CosineTopK _),
    "q28_bucketed_knn"     -> (q28BucketedKnn _),
    "q29_binary_meta"      -> (q29BinaryMeta _),
    "q30_event_window_agg" -> (q30EventWindowAgg _))

  val sql: Map[String, String] = Map(
    "q94_delta_roundtrip"   -> q94Sql,
    "q31_embedding_neardup" -> q31Sql,
    "q32_source_sketch"     -> q32Sql,
    "q33_asof_join"         -> q33Sql,
    "q37_range_join"        -> q37Sql,
    "q43_dup_clusters"      -> q43Sql,
    "q46_token_freq"        -> q46Sql,
    "q34_sql_surface"       -> q34Sql,
    "q20_dedup_exact"      -> q20Sql,
    "q21_text_quality"     -> q21Sql,
    "q22_lang_id"          -> q22Sql,
    "q23_fingerprint"      -> q23Sql,
    "q24_ngram_jaccard"    -> q24Sql,
    "q25_minhash_lsh"      -> q25Sql,
    "q26_simhash"          -> q26Sql,
    "q92_simhash_pairs"    -> q92Sql,
    "q93_repetition"       -> q93Sql,
    "q27_cosine_topk"      -> q27Sql,
    "q28_bucketed_knn"     -> q28Sql,
    "q29_binary_meta"      -> q29Sql,
    "q30_event_window_agg" -> q30Sql)
}
