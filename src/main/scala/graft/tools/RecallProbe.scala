package graft.tools
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Harness.session(graft.Harness.cpus)
    val emb = graft.Tables.embeddings(spark, sfDir)
    val k = 3
    val truth = RecallEval.bruteForce(emb, k)
    def pm(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSeq }
    def r(df: org.apache.spark.sql.DataFrame) = RecallEval.recallOf(pm(df), truth)
    val out = Seq(
      "lsh2" -> r(graft.ext.Similarity.annLsh(emb, "vec_id", "embedding", nBits = 2, k = k, dim = 64)),
      "lsh4" -> r(graft.ext.Similarity.annLsh(emb, "vec_id", "embedding", nBits = 4, k = k, dim = 64)),
      "lsh6" -> r(graft.ext.Similarity.annLsh(emb, "vec_id", "embedding", nBits = 6, k = k, dim = 64)),
      "ivf8p4" -> r(graft.ext.Similarity.ivfKnnProbed(emb, "vec_id", "embedding", nCells = 8, k = k, nProbe = 4)),
      "ivf16p4" -> r(graft.ext.Similarity.ivfKnnProbed(emb, "vec_id", "embedding", nCells = 16, k = k, nProbe = 4)),
      "ivf16p8" -> r(graft.ext.Similarity.ivfKnnProbed(emb, "vec_id", "embedding", nCells = 16, k = k, nProbe = 8)),
      "ivf16p16" -> r(graft.ext.Similarity.ivfKnnProbed(emb, "vec_id", "embedding", nCells = 16, k = k, nProbe = 16)))
    println(s"sf=$sfDir " + out.map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
    spark.stop()
  }
}
