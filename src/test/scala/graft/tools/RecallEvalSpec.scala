package graft.tools

import graft.{SparkSpec, Tables}

class RecallEvalSpec extends SparkSpec {

  test("recall orderings hold: more probes never hurt; every index beats nothing") {
    val emb = Tables.embeddings(spark, sf)
    val r = RecallEval.evaluate(emb, k = 5, dim = 64).toMap
    assert(r.keySet == Set("lsh_10bit", "lsh_6bit", "ivf_probe1", "ivf_probe4"))
    r.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
    assert(r("ivf_probe4") >= r("ivf_probe1"),
      s"more probes must not lower recall: $r")
    assert(r("lsh_6bit") >= r("lsh_10bit"),
      s"bigger buckets must not lower recall: $r")
    assert(r.values.exists(_ > 0.0), s"all-zero recall means a broken index: $r")
  }

  test("hard recall floors: exhaustive IVF is exact; approximate configs hold their measured floor") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, sf)
    val k = 3
    val truth = RecallEval.bruteForce(emb, k)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSeq }
      RecallEval.recallOf(got, truth)
    }
    // probing EVERY cell must reproduce brute force exactly — any
    // assignment/pruning/distance bug in the quantizer breaks this, so it
    // fails the suite, not the next offline eval
    val exhaustive = recall(Similarity.ivfKnnProbed(
      emb, "vec_id", "embedding", nCells = 16, k = k, nProbe = 16))
    assert(exhaustive == 1.0, s"exhaustive IVF must equal brute force, got $exhaustive")
    // approximate regime: floors sit ~0.1 under the measured recall on
    // this (near-random, hence ANN-hostile) synthetic table — measured
    // 0.81-0.83 and 0.75-0.77 across SFs (COVERAGE, *Retired dev profilers*)
    val p8 = recall(Similarity.ivfKnnProbed(
      emb, "vec_id", "embedding", nCells = 16, k = k, nProbe = 8))
    assert(p8 >= 0.7, s"ivf nCells=16 nProbe=8 recall@3 regressed below 0.7: $p8")
    val c8p4 = recall(Similarity.ivfKnnProbed(
      emb, "vec_id", "embedding", nCells = 8, k = k, nProbe = 4))
    assert(c8p4 >= 0.65, s"ivf nCells=8 nProbe=4 recall@3 regressed below 0.65: $c8p4")
    // LSH at matched bucket density (4 buckets over ~500 vectors)
    val lsh2 = recall(Similarity.annLsh(
      emb, "vec_id", "embedding", nBits = 2, k = k, dim = 64))
    assert(lsh2 >= 0.3, s"2-bit LSH recall@3 regressed below 0.3: $lsh2")
  }
}
