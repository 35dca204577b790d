package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A/B the IVF assignment forms at production-ish cell counts: the
  * composed `array(dists)+array_position` Catalyst form (codegen grows
  * with nCells) vs [[graft.functions.IvfKernel]] (constant codegen,
  * triangle-pruned above 128 cells). Usage: `ProfileIvf [sfDir] [nCells...]`.
  */
object ProfileIvf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cellCounts =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(64, 256, 1024)
    val spark = graft.Harness.session(graft.Harness.cpus)
    import graft.ext.Similarity

    def composed(vec: Column, cents: Seq[Seq[Double]]): Column = {
      val dists = array(cents.map { c =>
        val c2 = c.map(x => x * x).sum
        lit(c2) - lit(2.0) * Similarity.dot(vec, typedlit(c))
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }

    // replicate the corpus so per-row cost dominates scan overhead
    val emb = graft.Tables.embeddings(spark, dir)
      .crossJoin(spark.range(16).select(col("id").as("__r")))
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val n = emb.count()
    println(s"rows=$n")
    for (c <- cellCounts) {
      val cents = Similarity.ivfCentroidsSampled(emb, "vec_id", "embedding",
        c, iters = 2)
      def time(label: String, col0: Column): Unit = {
        var best = Double.MaxValue
        for (_ <- 1 to 3) {
          val t0 = System.nanoTime()
          val s = emb.select(sum(col0.cast("long")).as("s")).head().getLong(0)
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
          require(s >= 0)
        }
        println(f"nCells=$c%5d $label%-9s $best%7.2fs")
      }
      time("composed", composed(col("embedding"), cents))
      time("kernel", Similarity.assignCell(col("embedding"), cents))
    }
    spark.stop()
  }
}
