package graft.ext

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Trained QUALITY CLASSIFIER over hashed n-gram features — the
  * fasttext-style filter the big pretraining pipelines use to keep
  * "looks like the reference corpus" documents (GPT-3 / LLaMA recipe:
  * positive = curated corpus, negative = random crawl, keep by score):
  * logistic regression on the SAME hashed unigram+bigram features as
  * [[Selection]] (bag of buckets, length-normalized), trained by
  * full-batch gradient descent.
  *
  * DETERMINISTIC BY CONSTRUCTION, the property every in-query trainer in
  * this repo holds (Bpe, LangModel): each document's gradient
  * contribution rounds ONCE to integer micro-units, so the per-bucket
  * gradient is an exact integer sum — the same weights come out of any
  * partitioning, any executor count, any run. Float drift from addition
  * order never enters the model.
  *
  * Scale shape: each input row is one document. Its features (its
  * distinct buckets and their shares of its grams) are computed once,
  * row-locally; training keeps them materialized for its whole run, so
  * the corpus is tokenized exactly once, and each GD iteration is ONE
  * map-only pass over them that sums micro-gradients into a
  * `buckets + 1` long array reduced on the driver — no join, no
  * exchange, no per-iteration query plan. The only driver-resident state
  * is that array. Scoring is one per-row column over the same features,
  * so it keeps the input's rows and partitioning. Iterations are a fixed
  * small count (full-batch GD on a convex loss — this is a filter, not a
  * leaderboard model).
  */
object Classifier {

  /** `w`/`bias` in micro-units of the logit; `w` holds only the buckets
    * that occur in the training corpora.
    */
  final case class Model(buckets: Int, bias: Long, w: Map[Int, Long])

  private type Doc = (Array[Int], Array[Double])

  /** Every gram's bucket, in gram order; no grams (null text) is empty. */
  private def gramBuckets(text: Column, buckets: Int, fast: Boolean): Column =
    coalesce(transform(Selection.gramArray(text, fast),
      g => Selection.bucketOf(g, buckets, fast)), array().cast("array<long>"))

  /** A document's features: its distinct buckets ascending behind the
    * bias bucket −1 (a real gram never buckets to −1), and their values —
    * 1 for the bias, else the bucket's share of the doc's grams (length
    * normalization — fasttext's mean-of-features, which keeps long docs
    * from dominating the loss).
    */
  private def features(grams: Seq[Long]): Doc = {
    val g = grams.toArray.sorted
    val b = Array.newBuilder[Int] += -1
    val f = Array.newBuilder[Double] += 1.0
    var i = 0
    while (i < g.length) {
      var j = i
      while (j < g.length && g(j) == g(i)) j += 1
      b += g(i).toInt
      f += (j - i).toDouble / g.length
      i = j
    }
    (b.result(), f.result())
  }

  /** P(positive) of `d` under weights `w` indexed by bucket + 1 (slot 0
    * the bias).
    */
  private def prob(w: Array[Long], d: Doc): Double = {
    val (b, f) = d
    var s = 0.0
    var i = 0
    while (i < b.length) { s += f(i) * w(b(i) + 1); i += 1 }
    1.0 / (1.0 + math.exp(-(s / 1e6)))
  }

  /** Train on labeled corpora, one document per row. `lr` is the
    * gradient-ascent step on the MEAN log-likelihood gradient. Full-batch
    * GD on logistic loss is stable for `lr < 8` here (the bias feature has
    * value 1, so the loss's curvature bound is 1/4 regardless of the
    * n-gram features, which are ≤ 1 by length normalization); the default
    * stays safely under it and compensates with iterations — each
    * iteration is one map-only pass over the materialized features, not a
    * corpus re-read. (lr = 50 was tried first and DIVERGED exactly as the
    * bound predicts: the bias oscillated with ~10× growth per pass.)
    * `idCol` is no longer read: documents are rows, not ids.
    */
  def train(pos: DataFrame, neg: DataFrame, idCol: String, textCol: String,
      buckets: Int, iters: Int = 30, lr: Double = 6.0,
      fast: Boolean = true): Model = {
    require(iters > 0 && lr > 0)
    val spark = pos.sparkSession
    import spark.implicits._
    val docs = pos.select(lit(1), gramBuckets(col(textCol), buckets, fast))
      .union(neg.select(lit(0), gramBuckets(col(textCol), buckets, fast)))
      .as[(Int, Seq[Long])].rdd
      .map { case (y, g) => (y, features(g)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-slot sums of `term(y, p, f)` over every (doc, feature): one
    // map-only job whose partition arrays add up on the driver
    def slotSums(w: Array[Long])(term: (Int, Double, Double) => Long): Array[Long] =
      docs.mapPartitions { it =>
        val acc = new Array[Long](buckets + 1)
        it.foreach { case (y, d @ (b, f)) =>
          val p = prob(w, d)
          var i = 0
          while (i < b.length) { acc(b(i) + 1) += term(y, p, f(i)); i += 1 }
        }
        Iterator(acc)
      }.reduce { (a, c) => a.indices.foreach(i => a(i) += c(i)); a }
    try {
      // the first pass materializes the features; slot 0 counts the docs,
      // every other slot its bucket's documents
      val seen = slotSums(new Array[Long](buckets + 1))((_, _, _) => 1L)
      val nDocs = seen(0).toDouble
      val w = new Array[Long](buckets + 1)
      for (_ <- 1 to iters) {
        // each (doc, bucket) contribution rounds ONCE to micros, half up
        // as SQL round(x, 0) does, so the bucket gradient is an exact
        // integer sum — partitioning-independent
        val grad = slotSums(w) { (y, p, f) =>
          JBigDecimal.valueOf((y - p) * f * 1e6).setScale(0, RoundingMode.HALF_UP).longValue
        }
        w.indices.foreach(s => w(s) += math.round(lr * grad(s) / nDocs))
      }
      Model(buckets, w(0), (1 to buckets).filter(seen(_) > 0).map(s => (s - 1) -> w(s)).toMap)
    } finally docs.unpersist(blocking = false)
  }

  /** Score `df`: appends `score` ∈ (0, 1) — P(doc ~ positive corpus) — to
    * every row, from that row's text alone (null text: the bias-only
    * score). `idCol` is no longer read.
    */
  def score(df: DataFrame, idCol: String, textCol: String, model: Model,
      fast: Boolean = true): DataFrame = {
    val w = new Array[Long](model.buckets + 1)
    w(0) = model.bias
    model.w.foreach { case (b, v) => w(b + 1) = v }
    val p = udf((g: Seq[Long]) => prob(w, features(g)))
    df.withColumn("score", p(gramBuckets(col(textCol), model.buckets, fast)))
  }
}
