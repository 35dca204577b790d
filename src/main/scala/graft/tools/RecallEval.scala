package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.ext.{PQ, Similarity}

/** ANN quality harness — "measure, don't guess" for the recall/latency
  * trade: computes recall@k of the bucketed indexes (LSH at two bucket
  * densities, IVF at two probe depths) against the exact brute-force top-k
  * on the embeddings table, and prints one JSON line per method. (PQ
  * ranks WITHIN a candidate set — its fidelity is pinned separately in
  * PQSpec.)
  *
  * The numbers tell the real story: 10-bit LSH over a few hundred vectors
  * is ~1024 buckets of ~0.5 vectors — near-zero candidates, near-zero
  * recall. Bucket density must track corpus density (fewer bits, or
  * multi-table LSH); IVF probes are the same dial with data-adaptive
  * cells.
  *
  * Usage: `RecallEval <sfDir> [k]` — also exercised by RecallEvalSpec,
  * which pins the orderings that must hold (more probes / bigger buckets →
  * no worse recall; a working index beats zero).
  */
object RecallEval {

  /** Ground truth: exact cosine top-k neighbor ids per vector. */
  def bruteForce(df: DataFrame, k: Int): Map[Long, Seq[Long]] = {
    import org.apache.spark.sql.expressions.Window
    val side = df.select(col("vec_id").as("id"), col("embedding").as("vec"),
      Similarity.l2Norm(col("embedding")).as("nrm"))
    val w = Window.partitionBy(col("a_id")).orderBy(col("sim").desc, col("b_id"))
    side.as("a").join(side.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        round(Similarity.dot(col("a.vec"), col("b.vec")) /
          (col("a.nrm") * col("b.nrm")), 6).as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSeq }
  }

  def recallOf(got: Map[Long, Seq[Long]], truth: Map[Long, Seq[Long]]): Double = {
    val per = truth.map { case (id, t) =>
      val g = got.getOrElse(id, Nil).toSet
      t.count(g).toDouble / t.size
    }
    per.sum / per.size
  }

  private def pairsToMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSeq }

  /** Recall of each method on `df` (vec_id, embedding) at `k`. */
  def evaluate(df: DataFrame, k: Int, dim: Int): Seq[(String, Double)] = {
    val truth = bruteForce(df, k)
    val lsh10 = pairsToMap(Similarity.annLsh(df, "vec_id", "embedding",
      nBits = 10, k = k, dim = dim))
    val lsh6 = pairsToMap(Similarity.annLsh(df, "vec_id", "embedding",
      nBits = 6, k = k, dim = dim))
    val ivf1 = pairsToMap(Similarity.ivfKnnProbed(df, "vec_id", "embedding",
      nCells = 16, k = k, nProbe = 1))
    val ivf4 = pairsToMap(Similarity.ivfKnnProbed(df, "vec_id", "embedding",
      nCells = 16, k = k, nProbe = 4))
    Seq(
      "lsh_10bit" -> recallOf(lsh10, truth),
      "lsh_6bit" -> recallOf(lsh6, truth),
      "ivf_probe1" -> recallOf(ivf1, truth),
      "ivf_probe4" -> recallOf(ivf4, truth))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = Harness.session(Harness.cpus)
    val emb = Tables.embeddings(spark, sfDir)
    evaluate(emb, k, dim = 64).foreach { case (m, r) =>
      println(f"""{"method":"$m","recall_at_$k":$r%.4f}""")
    }
    spark.stop()
  }
}
