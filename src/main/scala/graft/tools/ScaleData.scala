package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a larger scale factor from driver testdata by seeded
  * perturbation-replication — the input to the 10× scale self-test
  * ([[ScaleRun]]), which converts COVERAGE.md's "scales" claims from
  * design argument to measurement.
  *
  * Why derive instead of generating fresh: the point of the self-test is
  * that each operator's cost grows ~linearly on data with the SAME
  * distributional shape (dup-family sizes, token frequencies, cluster
  * structure, key skew). Replicating the driver's own sf0.1 data `factor`
  * times preserves those distributions exactly; a from-scratch generator
  * would measure its own distribution choices instead. Copy 0 is verbatim;
  * copies c>0 are deterministically perturbed so CROSS-copy collisions
  * can't occur:
  *
  *  - `documents`: ids shift by c·10⁷; copy c's text goes through a
  *    per-copy Caesar `translate` of the lowercase alphabet — a LENGTH-
  *    PRESERVING bijection, so every char/token/gram-position statistic
  *    and the WITHIN-copy token-set Jaccard structure are EXACTLY the
  *    original's (each copy contains the full original near-dup family
  *    set), while cross-copy token and 40-char-gram overlap is zero — so
  *    LSH/substring pair volume must grow ×factor, not ×factor². (A
  *    first cut suffixed tokens with `~c` instead; that inflates chars
  *    per token, pushes sub-threshold shared token runs past the 40-char
  *    gram length, and showed up immediately as a spurious α=1.57 on
  *    substring-dup spans — the self-test caught its own generator.)
  *  - `embeddings`: ids shift by c·10⁷; elements get hash-seeded uniform
  *    jitter (±0.16 ≈ 1.3σ of the unit-norm corpus) and the vector is
  *    re-normalized — copies land at cosine ~0.8 from their base (same
  *    broad cluster, NOT near-identical), so kNN/cell structure replicates
  *    without manufacturing factor² trivial neighbor pairs.
  *  - `orders`: keys shift by c·10⁸ — a multiple of 100, so the `%100`
  *    merge-source selectivity b57 relies on is identical in every copy.
  *
  * Output is plain parquet, repartitioned so the big SF has ~factor× the
  * file/split count of the original (scans parallelize the way a genuinely
  * bigger table would).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Harness.session(graft.Harness.cpus)
    write(spark, src, out, factor)
    spark.stop()
  }

  def write(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val copies = spark.range(factor).select(col("id").cast("int").as("__c"))

    def replicated(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet").crossJoin(broadcast(copies))

    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    val rotated = (c: Int) => alphabet.drop(c) + alphabet.take(c)
    require(factor <= 26, s"factor $factor exceeds the 26 distinct rotations")
    val shifted = (0 until factor).foldLeft(col("text")) { (acc, c) =>
      if (c == 0) acc
      else when(col("__c") === c,
        translate(col("text"), alphabet, rotated(1 + (c - 1) % 25))).otherwise(acc)
    }
    val docs = replicated("documents")
      .select(
        (col("doc_id") + col("__c") * 10000000L).as("doc_id"),
        shifted.as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.repartition(4 * factor).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    // hash-seeded per-(vector, copy, dim) jitter; re-normalized to unit
    val jittered = transform(col("embedding"),
      (v, i) => v + (pmod(xxhash64(col("vec_id"), col("__c"), i), lit(100000L))
        .cast("double") / 100000.0 - 0.5) * 0.32 * when(col("__c") === 0, 0.0).otherwise(1.0))
    val norm = sqrt(aggregate(col("__j"), lit(0.0d), (a, v) => a + v * v))
    val emb = replicated("embeddings")
      .withColumn("__j", jittered)
      .select(
        (col("vec_id") + col("__c") * 10000000L).as("vec_id"),
        transform(col("__j"), v => (v / norm).cast("float")).as("embedding"),
        col("label"))
    emb.repartition(2 * factor).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    val orders = replicated("orders")
      .select(
        (col("o_orderkey") + col("__c") * 100000000L).as("o_orderkey"),
        (col("o_custkey") + col("__c") * 100000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    orders.repartition(4 * factor).write.mode("overwrite")
      .parquet(s"$out/orders.parquet")
  }
}
