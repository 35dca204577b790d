package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Trained quality classifier ([[Classifier]]): reproduces pinned models
  * for both hash families, separates a synthetic quality corpus from junk
  * on held-out docs, trains to identical weights under different
  * partitionings in one Spark job per iteration, and scores every input
  * row as its own document without a shuffle.
  */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // two disjoint vocabularies; "quality" docs draw mostly from one
  private val good = Vector("the", "quick", "brown", "fox", "jumps", "over",
    "lazy", "dog", "reads", "books", "daily", "news")
  private val junk = Vector("zzz", "qqq", "xxx", "spam", "click", "here",
    "buy", "now", "win", "free", "cash", "prize")
  private def doc(vocab: Vector[String], seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  private def corpus(vocab: Vector[String], ids: Range) =
    ids.map(i => (i.toLong, doc(vocab, i, 30))).toDF("id", "text")

  /** Short docs drawing each word from `good` with probability `pGood`. */
  private def blend(seed: Int, n: Int, pGood: Double): String = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => (if (r.nextDouble() < pGood) good else junk)(r.nextInt(12))).mkString(" ")
  }
  private def blended(ids: Range, pGood: Double) =
    ids.map(i => (i.toLong, blend(i, 4 + i % 5, pGood))).toDF("id", "text")

  // exact models and held-out scores per hash family: a change to the
  // features, the micro-unit rounding or the update rule moves a weight
  private val golden = Map(
    true -> (Classifier.Model(128, 12566L, Map(
      0 -> -79899L, 1 -> 56994L, 2 -> -1094L, 3 -> 67296L, 4 -> -252358L, 10 -> 48936L, 11 -> -490548L, 12 -> -78595L,
      14 -> -66975L, 15 -> -293510L, 17 -> 113323L, 21 -> 62221L, 22 -> 56994L, 24 -> 131814L, 26 -> -518944L, 27 -> 49372L,
      30 -> -30963L, 31 -> -189399L, 32 -> 49372L, 34 -> 80113L, 35 -> -56545L, 36 -> -7609L, 37 -> 198589L, 38 -> 66290L,
      39 -> -34674L, 42 -> -112805L, 43 -> -50068L, 45 -> -56261L, 46 -> -50068L, 48 -> 183935L, 49 -> -66829L, 50 -> -66975L,
      51 -> -56261L, 54 -> 56994L, 57 -> -56261L, 59 -> -48132L, 62 -> 49372L, 65 -> 49372L, 66 -> -21169L, 67 -> 66972L,
      68 -> 63538L, 69 -> 319L, 70 -> -171507L, 71 -> 101065L, 72 -> 56994L, 73 -> 49372L, 74 -> 228307L, 75 -> -210167L,
      76 -> 48936L, 77 -> -7172L, 78 -> -101968L, 80 -> -56545L, 85 -> 249636L, 86 -> -66975L, 88 -> 66972L, 89 -> 137145L,
      90 -> 458204L, 91 -> 56330L, 92 -> -56545L, 93 -> -11299L, 95 -> -114962L, 96 -> -181867L, 97 -> 123624L, 98 -> 256792L,
      102 -> 203414L, 103 -> -1131L, 105 -> -78526L, 107 -> -110932L, 108 -> 19164L, 111 -> -101985L, 113 -> 180452L, 114 -> 44805L,
      115 -> 555481L, 117 -> -355404L, 118 -> -193703L, 119 -> 49372L, 121 -> 66972L, 123 -> -50068L, 125 -> 231253L, 126 -> -66829L)),
      Seq(0.5227747297154718, 0.504208733927559, 0.5059431746273245, 0.5038771145970823, 0.5031414586626082)),
    false -> (Classifier.Model(128, 9959L, Map(
      1 -> 66699L, 4 -> 72759L, 5 -> -13851L, 6 -> 266047L, 8 -> -112811L, 10 -> -66521L, 11 -> -307265L, 15 -> 48784L,
      16 -> 48575L, 18 -> 48784L, 19 -> -78667L, 23 -> -266066L, 24 -> -324912L, 26 -> -703L, 27 -> 150406L, 28 -> 228741L,
      33 -> 78801L, 38 -> 77651L, 41 -> 432345L, 42 -> -56026L, 43 -> -252228L, 44 -> -115786L, 48 -> 332643L, 50 -> 57567L,
      51 -> 100560L, 52 -> 173667L, 53 -> -59091L, 55 -> -103776L, 56 -> 81713L, 58 -> 48784L, 59 -> 67739L, 60 -> 18202L,
      63 -> -151772L, 64 -> -56026L, 65 -> -48164L, 69 -> -106063L, 70 -> -48164L, 71 -> -66911L, 72 -> -189550L, 76 -> -65693L,
      77 -> 8289L, 79 -> -102149L, 82 -> -299755L, 83 -> -104189L, 86 -> 57567L, 88 -> 55686L, 89 -> -7450L, 90 -> 48784L,
      91 -> -56026L, 93 -> 34919L, 94 -> -123250L, 95 -> -176461L, 96 -> 8289L, 99 -> 79902L, 100 -> -11969L, 105 -> -49277L,
      106 -> 311128L, 107 -> -524517L, 109 -> 219535L, 111 -> -80551L, 112 -> 250964L, 113 -> 104470L, 114 -> 48575L, 116 -> -48164L,
      117 -> -36037L, 118 -> -188920L, 120 -> -56787L, 121 -> -103776L, 122 -> 510516L, 124 -> -56026L, 125 -> -48164L, 126 -> 217300L,
      127 -> 217083L)),
      Seq(0.5113809981439424, 0.5035014427609247, 0.5156239799335519, 0.5396886732935361, 0.5024897294220716)))

  for ((fast, (model, scores)) <- golden) test(s"golden model and held-out scores (fast = $fast)") {
    val m = Classifier.train(blended(0 until 10, 0.8), blended(100 until 110, 0.3),
      "id", "text", buckets = 128, iters = 5, fast = fast)
    assert(m.bias == model.bias && m.w.size == model.w.size)
    val diff = (m.w.keySet ++ model.w.keySet).filter(b => m.w.get(b) != model.w.get(b))
    assert(diff.isEmpty, s"weights differ at buckets ${diff.toSeq.sorted.take(10)}")
    assert(m == model)
    // the last held-out doc has null text: bias-only
    val held = blended(500 until 504, 0.55)
      .unionByName(Seq((504L, null: String)).toDF("id", "text"))
    val got = Classifier.score(held, "id", "text", m, fast = fast)
      .select(col("id"), col("score")).as[(Long, Double)].collect().sorted.map(_._2).toSeq
    assert(got.size == scores.size)
    got.zip(scores).foreach { case (g, want) => assert(math.abs(g - want) < 1e-12, s"score $g, pinned $want") }
  }

  test("held-out separation: every good doc outscores every junk doc") {
    val model = Classifier.train(
      corpus(good, 0 until 40), corpus(junk, 100 until 140),
      "id", "text", buckets = 1024)
    val held = corpus(good, 1000 until 1020)
      .unionByName(corpus(junk, 2000 until 2020))
    val scored = Classifier.score(held, "id", "text", model)
      .select(col("id"), col("score")).as[(Long, Double)].collect().toMap
    val worstGood = (1000 until 1020).map(i => scored(i.toLong)).min
    val bestJunk = (2000 until 2020).map(i => scored(i.toLong)).max
    assert(worstGood > bestJunk,
      s"no margin: worst good $worstGood <= best junk $bestJunk")
    assert(worstGood > 0.5 && bestJunk < 0.5, "scores must straddle 0.5")
  }

  test("training is partitioning-independent: identical weights, exactly") {
    val pos = corpus(good, 0 until 30)
    val neg = corpus(junk, 100 until 130)
    val m1 = Classifier.train(pos, neg, "id", "text", buckets = 512, iters = 4)
    val m2 = Classifier.train(pos.repartition(7), neg.repartition(3),
      "id", "text", buckets = 512, iters = 4)
    assert(m1 == m2, "integer micro-gradient training must not depend on partitioning")
  }

  test("a gramless doc gets the bias-only score") {
    val model = Classifier.train(
      corpus(good, 0 until 20), corpus(junk, 100 until 120),
      "id", "text", buckets = 256, iters = 2)
    val s = Classifier.score(Seq((1L, "")).toDF("id", "text"),
      "id", "text", model).select("score").as[Double].head()
    // "" still produces the empty-string unigram; the score must simply be
    // finite and in range — null text is the gramless case
    assert(s > 0.0 && s < 1.0)
  }

  test("training runs one Spark job per GD iteration") {
    val pos = corpus(good, 0 until 20)
    val neg = corpus(junk, 100 until 120)
    val counts = Seq(2, 4).map(n =>
      jobs(Classifier.train(pos, neg, "id", "text", buckets = 256, iters = n)))
    // one job materializes the features and counts the docs and buckets
    assert(counts == Seq(3, 5), counts)
  }

  test("scoring keeps the input's rows and partitions and plans no exchange") {
    val model = Classifier.train(
      corpus(good, 0 until 20), corpus(junk, 100 until 120),
      "id", "text", buckets = 256, iters = 2)
    val held = corpus(good, 1000 until 1030).unionByName(corpus(junk, 2000 until 2030))
    val scored = Classifier.score(held, "id", "text", model)
    assert(scored.collect().length == 60)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(scored.rdd.getNumPartitions == held.rdd.getNumPartitions)
  }

  test("each input row is one document, whatever its id") {
    val model = Classifier.train(
      corpus(good, 0 until 20), corpus(junk, 100 until 120),
      "id", "text", buckets = 256, iters = 4)
    val goodText = doc(good, 7, 30)
    val junkText = doc(junk, 8, 30)
    def alone(text: String): Double = Classifier.score(Seq((9L, text)).toDF("id", "text"),
      "id", "text", model).select("score").as[Double].head()
    val docs = Seq((Some(1L), Some(goodText)), (Some(1L), Some(junkText)),
      (None, Some(goodText)), (Some(2L), None)).toDF("id", "text")
    val got = Classifier.score(docs, "id", "text", model)
      .select(col("id"), col("text"), col("score")).as[(Option[Long], Option[String], Double)]
      .collect()
    assert(got.length == 4)
    def scoreOf(id: Option[Long], text: Option[String]) =
      got.collect { case (`id`, `text`, s) => s }.toSeq
    // two docs sharing an id keep their own grams
    assert(scoreOf(Some(1L), Some(goodText)) == Seq(alone(goodText)))
    assert(scoreOf(Some(1L), Some(junkText)) == Seq(alone(junkText)))
    assert(alone(goodText) > 0.5 && alone(junkText) < 0.5)
    // a null id is scored from its text
    assert(scoreOf(None, Some(goodText)) == Seq(alone(goodText)))
    // null text has no grams: bias-only
    val biasOnly = 1.0 / (1.0 + math.exp(-model.bias / 1e6))
    assert(scoreOf(Some(2L), None).map(s => math.abs(s - biasOnly) < 1e-15) == Seq(true))
  }
}
