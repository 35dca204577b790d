package graft.tools

import org.apache.spark.sql.functions._

/** Measures the q32 MinHash-sketch estimate's deviation from the exact
  * pairwise source Jaccard at a given SF — the evidence behind q32's
  * pinned `bound` (run at all three SFs before changing k or the bound).
  */
object SketchDeviation {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Harness.session(graft.Harness.cpus)
    import graft.functions.MinHashSketch
    val k = args.lift(1).map(_.toInt).getOrElse(32)
    val docs = graft.Tables.documents(spark, sfDir)
    val sketch = MinHashSketch.ofSignatures(k)
    val sigs = docs.select(col("source"),
        call_function("graft_minhash_sig",
          graft.ext.TextAnalysis.tokens(col("text")), lit(2), lit(k)).as("sh"))
      .groupBy(col("source")).agg(sketch(col("sh")).as("sig"))
    val est = sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        MinHashSketch.estimateJaccard(col("a.sig"), col("b.sig"), k).as("est"))
    val sh = docs.select(col("source"),
        explode(graft.ext.Dedup.shingles(col("text"), 2)).as("g")).distinct()
    val sz = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x")
      .join(sh.as("y"), col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("ni"))
    val exact = sz.as("p").join(sz.as("q"), col("p.source") < col("q.source"))
      .select(col("p.source").as("source_a"), col("q.source").as("source_b"),
        col("p.n").as("na"), col("q.n").as("nb"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .select(col("source_a"), col("source_b"),
        (col("ni") / (col("na") + col("nb") - col("ni"))).as("exact_jac"))
    val dev = exact.join(est, Seq("source_a", "source_b"))
      .agg(max(abs(col("est") - col("exact_jac"))).as("max_dev"),
        avg(abs(col("est") - col("exact_jac"))).as("avg_dev"),
        count(lit(1)).as("n_pairs"))
      .head()
    println(f"sf=$sfDir max_dev=${dev.getDouble(0)}%.4f avg_dev=${dev.getDouble(1)}%.4f pairs=${dev.getLong(2)}")
    spark.stop()
  }
}
