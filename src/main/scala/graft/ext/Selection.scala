package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data SELECTION by target-domain importance — the DSIR recipe (Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw-corpus document by how much more likely
  * its hashed n-gram features are under a TARGET distribution (the domain
  * you want more of) than under the RAW distribution (the corpus you are
  * selecting from), then resample proportionally to the importance
  * weight. The whole computation is counts and two tiny bucket tables:
  *
  *   1. features: every word unigram and bigram OCCURRENCE hashes into
  *      one of `buckets` buckets (hashed n-gram features — the paper's
  *      representation, which makes the distributions fixed-size no
  *      matter the vocabulary);
  *   2. each side's bucket histogram becomes a Laplace-smoothed log-prob,
  *      `ln((c_b + 1) / (N + B))`; the PER-BUCKET difference
  *      (target − raw) is rounded once to integer MICRO-NATS — after
  *      that every downstream number is exact integer arithmetic, immune
  *      to addition-order float drift across engines and partitionings
  *      (the CLAUDE.md cents discipline applied to log-space);
  *   3. a document's weight is Σ_b count_b · Δlp_b — its log importance
  *      ratio under the bag-of-hashed-grams model, in micro-nats.
  *
  * Scale shape: the feature explode is O(total tokens) and partition-local;
  * each histogram is ≤ B rows (map-side combined); the Δlp table is ≤ B
  * rows and BROADCASTS to the per-doc aggregate — no unbounded join side,
  * no driver collection. Two hash families, as everywhere in this repo:
  * md5 (engine-portable — the DuckDB oracle runs the identical algorithm,
  * q117) and xxhash64 (`fast = true`, codegen'd, the production path —
  * bench b61).
  */
object Selection {

  /** One row per n-gram occurrence: `(idCol, __b)`. Unigrams and bigrams
    * by default (the DSIR feature set); tokenization is the corpus-wide
    * single-space convention ([[TextAnalysis.tokens]]).
    */
  def hashedGramBuckets(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, fast: Boolean = false): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    df.select(col(idCol), explode(gramArray(col(textCol), fast)).as("__g"))
      .select(col(idCol), bucketOf(col("__g"), buckets, fast).as("__b"))
  }

  /** The unigram+bigram KEY array of one doc — the DSIR feature set. Fast
    * family: per-gram xxhash64 via the native [[
    * graft.functions.HashExpressions.NgramHashes]] kernel (bit-identical to
    * xxhash64 over the built gram string; the strings never materialize).
    * md5 family (engine-portable oracle variant): the composed built-in
    * chain producing gram STRINGS, token array let-bound (HOF lambdas
    * re-evaluate unbound arguments per element — the b40 lesson). Bigrams
    * are NOT distinct'd: DSIR scores the occurrence multiset, unlike dedup
    * shingles.
    */
  private[ext] def gramArray(text: Column, fast: Boolean): Column = {
    val toks = TextAnalysis.tokens(text)
    if (fast) call_function("graft_ngram_hashes", toks, lit(1), lit(2))
    else element_at(transform(array(toks), t =>
      concat(t, when(size(t) >= 2, transform(
          sequence(lit(1), size(t) - 1),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>")))), 1)
  }

  /** Bucket in [0, buckets) of one [[gramArray]] key, family-matched. */
  private[ext] def bucketOf(key: Column, buckets: Int, fast: Boolean): Column =
    if (fast) pmod(key, lit(buckets.toLong))
    else Splits.hashBucketMd5(key, buckets).cast("long")

  /** Per-bucket importance log-ratio in integer micro-nats:
    * `round((ln((ct+1)/(NT+B)) − ln((cr+1)/(NR+B))) · 1e6)` over the union
    * of both sides' occupied buckets. ≤ `buckets` rows — broadcastable by
    * construction at any corpus size.
    */
  def importanceLogRatios(rawFeatures: DataFrame, targetFeatures: DataFrame,
      buckets: Int): DataFrame =
    logRatiosFromHists(
      rawFeatures.groupBy(col("__b")).agg(count(lit(1)).as("cr")),
      targetFeatures.groupBy(col("__b")).agg(count(lit(1)).as("ct")),
      buckets)

  /** The ratio table from PRE-AGGREGATED histograms `(__b, cr)` /
    * `(__b, ct)` — the seam that lets [[dsirWeights]] derive the raw
    * histogram from its per-doc counts instead of exploding the corpus a
    * second time.
    */
  private def logRatiosFromHists(rawHist: DataFrame, targetHist: DataFrame,
      buckets: Int): DataFrame = {
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // the totals ride a window over the (tiny) joined table — exact
    // integers, no driver round trip, no extra pass over the features
    targetHist.join(rawHist, Seq("__b"), "full_outer")
      .na.fill(0L, Seq("ct", "cr"))
      .withColumn("__nt", sum(col("ct")).over(all))
      .withColumn("__nr", sum(col("cr")).over(all))
      .select(col("__b"),
        round((log((col("ct") + 1.0) / (col("__nt") + buckets))
          - log((col("cr") + 1.0) / (col("__nr") + buckets))) * 1e6, 0)
          .cast("long").as("dlp"))
  }

  /** Per-document importance weight in micro-nats: `(idCol, w_micros)`.
    * `raw` is the corpus being selected from (and the raw distribution);
    * `target` defines the distribution to move toward.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int, fast: Boolean = false): DataFrame = {
    // ONE explode pass over the raw corpus: the per-doc bucket counts are
    // the granular table, and the raw histogram is their re-aggregate.
    // MATERIALIZED (localCheckpoint) because two consumers reference it —
    // a lazy subplan would re-tokenize and re-explode the whole corpus per
    // consumer (ReuseExchange does not fire here; verified by plan), and
    // the per-doc matrix (≤ |docs|·B rows) is far smaller than the token
    // stream it replaces
    val docBuckets = hashedGramBuckets(raw, idCol, textCol, buckets, fast)
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val rawHist = docBuckets.groupBy(col("__b")).agg(sum(col("__c")).as("cr"))
    val tgtHist = hashedGramBuckets(target, idCol, textCol, buckets, fast)
      .groupBy(col("__b")).agg(count(lit(1)).as("ct"))
    val ratios = logRatiosFromHists(rawHist, tgtHist, buckets)
    // every raw doc's buckets appear in the raw histogram by construction,
    // so the broadcast join is inner and lossless
    docBuckets
      .join(broadcast(ratios), "__b")
      .groupBy(col(idCol))
      .agg(sum(col("__c") * col("dlp")).as("w_micros"))
  }

  /** Gumbel-top-k importance RESAMPLING over the weights: taking the top
    * `k` keys selects each document with probability proportional to
    * `exp(w)` — the paper's sampling step — deterministically (the Gumbel
    * noise comes from the id's md5, so the same corpus draws the same
    * sample on any engine or partitioning; strictly inside (0,1), no
    * infinite keys). One `TakeOrderedAndProject`, never a full sort.
    */
  def dsirSample(weights: DataFrame, idCol: String, k: Int): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    weights
      .withColumn("__key", col("w_micros") / 1e6 - log(-log(u)))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .drop("__key")
  }
}
