package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 additions: embedding-space decontamination under the
  * correctness gate. Same gate conventions as [[Queries]].
  */
object QRound13 {
  import Tables._

  /** Embedding-space decontamination ([[graft.ext.Similarity.decontaminate]]):
    * the q65 benchmark-overlap check in vector space — flag every training
    * embedding whose cosine against ANY held-out eval vector (`vec_id % 10
    * = 0`, the eval-slice convention) reaches 0.45 (≈3.6σ of the isotropic
    * background, the q31 threshold analysis). The eval slice broadcasts;
    * the train side streams through ONE broadcast pass with the threshold
    * in the join condition, then a per-candidate aggregate. Output is
    * match count + strongest similarity per contaminated row — the rows a
    * careful LLM team drops before training.
    */
  def q122EmbedDecontam(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.ext.Similarity.decontaminate(
      emb.filter(col("vec_id") % 10 =!= 0),
      emb.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", 0.45)
      .select(col("id").as("vec_id"), col("n_matched"), col("max_sim"))
      .orderBy(col("vec_id"))
  }

  private val q122Sql =
    """WITH p AS (
      |  SELECT t.vec_id AS vec_id,
      |    round(
      |      list_sum(list_transform(range(1, 65), i -> t.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> t.embedding[i]::DOUBLE * t.embedding[i]::DOUBLE)))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE)))), 6) AS sim
      |  FROM embeddings t JOIN embeddings v
      |    ON t.vec_id % 10 <> 0 AND v.vec_id % 10 = 0)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matched, max(sim) AS max_sim
      |FROM p WHERE sim >= 0.45
      |GROUP BY vec_id
      |ORDER BY vec_id""".stripMargin

  /** Temperature-based mixture sampling
    * ([[graft.ext.Splits.temperatureQuotas]] at τ = 1/2 + the q97 sampler):
    * per-source quotas `(budget·√n_s·10⁶) div Σ√n·10⁶` in exact BIGINT
    * micro-units — sqrt is the one power IEEE requires exactly rounded,
    * so the weight is bit-identical cross-engine where a general
    * `pow(n, τ)` would diverge in the last ulp — then the kept set is the
    * quota_s smallest md5-of-id rows per source (engine-portable,
    * rerun-stable). Output pins the quota math AND the exact selected set
    * per source; quota-0/overdrawn sources are exercised by the LEFT join.
    */
  def q123TemperatureMix(s: SparkSession, d: String): DataFrame = {
    // RAW load, the q97 lesson: both consumers shuffle on `source` first
    val docs = Tables.load(s, d, "documents")
    val quotas = graft.ext.Splits.temperatureQuotas(docs, "source", budget = 200L)
      .localCheckpoint() // 20 rows; feeds the output AND the sampler
    val kept = graft.ext.Splits.mixtureSample(docs, "doc_id", "source",
      _ => lit(1L), precomputedQuotas = Some(quotas))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("__n_kept"), sum(col("doc_id")).as("__kept_sum"))
    // kept is a per-source aggregate (≤ |sources| rows) — broadcast it
    // explicitly; the left-outer side (quotas) must stream, and the
    // localCheckpoint'd RDD has no stats for the planner to see that
    quotas.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("w_micro"), col("quota"),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("__kept_sum"), lit(0L)).as("kept_sum"))
      .orderBy(col("source"))
  }

  private val q123Sql =
    """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |w AS (SELECT source, n_docs,
      |        CAST(round(sqrt(n_docs) * 1e6, 0) AS BIGINT) AS w_micro FROM c),
      |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS wtot FROM w),
      |q AS (SELECT source, n_docs, w_micro, (200 * w_micro) // wtot AS quota
      |      FROM w CROSS JOIN t),
      |r AS (SELECT doc_id, source,
      |        CAST(row_number() OVER (
      |          PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rk
      |      FROM documents),
      |k AS (SELECT r.source, r.doc_id FROM r JOIN q ON r.source = q.source AND r.rk <= q.quota)
      |SELECT q.source, q.n_docs, q.w_micro, q.quota,
      |  CAST(count(k.doc_id) AS BIGINT) AS n_kept,
      |  CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS kept_sum
      |FROM q LEFT JOIN k ON q.source = k.source
      |GROUP BY q.source, q.n_docs, q.w_micro, q.quota
      |ORDER BY q.source""".stripMargin

  /** Length-bucketed batching (the padded-batch efficiency prep for
    * finetuning-style training, where q68's concatenation packing doesn't
    * apply because examples must stay separate): docs rank by (token
    * count, id) — so each batch of B holds length-adjacent examples — and
    * each batch pays `B·max_len − Σlen` padding tokens. Everything
    * integer-exact (counts and sums of whitespace tokens), one window
    * rank + one grouped aggregate; the output pins per-batch membership
    * (id checksum) AND the padding accounting, so a ranking drift or an
    * off-by-one in the bucketing breaks the hash. The shuffled-batching
    * baseline this improves on is derivable from the same numbers
    * (total padding at random assignment ≈ B·global_max per batch).
    */
  def q124LengthBatching(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = 32
    val docs = Tables.load(s, d, "documents")
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long").as("len"))
    // global contiguous rank WITHOUT a single-partition window (the
    // unpartitioned row_number ships the corpus to one task): range-
    // partition on the order key, sort within, then zipWithIndex — the
    // count-partials-then-offset pass, exact wherever the sampled range
    // boundaries fall (the identity-assignment shape)
    val ranked = docs
      .repartitionByRange(col("len"), col("doc_id"))
      .sortWithinPartitions(col("len"), col("doc_id"))
      .as[(Long, Long)].rdd.zipWithIndex()
      .map { case ((id, len), i) => (id, len, i + 1) }
      .toDF("doc_id", "len", "rk")
    ranked
      .withColumn("batch_id", expr(s"(rk - 1) div $b"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"), sum(col("doc_id")).as("id_sum"))
      .withColumn("padding", col("n") * col("max_len") - col("sum_len"))
      .orderBy(col("batch_id"))
  }

  private val q124Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS l
      |  FROM documents),
      |r AS (SELECT doc_id, l,
      |        CAST(row_number() OVER (ORDER BY l, doc_id) AS BIGINT) AS rk FROM d)
      |SELECT (rk - 1) // 32 AS batch_id,
      |  CAST(count(*) AS BIGINT) AS n,
      |  max(l) AS max_len,
      |  CAST(sum(l) AS BIGINT) AS sum_len,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(count(*) AS BIGINT) * max(l) - CAST(sum(l) AS BIGINT) AS padding
      |FROM r
      |GROUP BY 1
      |ORDER BY batch_id""".stripMargin

  /** CONVERT TO DELTA end-to-end ([[graft.io.DeltaWrite.convertToDelta]]):
    * write a partitioned RAW parquet dir from customer, adopt it in place
    * (files referenced verbatim, hive partitions discovered, footer
    * stats recorded), then prove full citizenship — a DV DELETE commits
    * on top and the final aggregate reads through partition pruning +
    * the deletion vector. The oracle replays the build + delete
    * symbolically from the source table, so a file lost in adoption, a
    * mis-parsed partition value, or a broken post-convert DML all break
    * the hash.
    */
  def q125ConvertToDelta(s: SparkSession, d: String): DataFrame = {
    val dir = new java.io.File(Harness.tmp("graft_q125"), "customer_raw").getAbsolutePath
    customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      .write.partitionBy("c_mktsegment").parquet(dir)
    graft.io.DeltaWrite.convertToDelta(s, dir)
    graft.io.DeltaMerge.deleteWhereDv(s, dir, col("c_custkey") % 9 === 0)
    graft.io.DeltaRead.readDeltaTable(s, dir)
      .filter(col("c_mktsegment") =!= "MACHINERY")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("c_mktsegment"))
  }

  private val q125Sql =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |FROM customer
      |WHERE c_custkey % 9 <> 0 AND c_mktsegment <> 'MACHINERY'
      |GROUP BY 1
      |ORDER BY c_mktsegment""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_embed_decontam" -> (q122EmbedDecontam _),
    "q123_temperature_mix" -> (q123TemperatureMix _),
    "q124_length_batching" -> (q124LengthBatching _),
    "q125_convert_to_delta" -> (q125ConvertToDelta _))

  val sql: Map[String, String] = Map(
    "q122_embed_decontam" -> q122Sql,
    "q123_temperature_mix" -> q123Sql,
    "q124_length_batching" -> q124Sql,
    "q125_convert_to_delta" -> q125Sql)
}
