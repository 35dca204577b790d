package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today", "s0"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight", "s0"),
    (2L, "completely different words about spark shuffles and partition pruning", "s0"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today", "s1")
  ).toDF("doc_id", "text", "source")

  test("shingles: distinct word n-grams, empty below n tokens") {
    val sh = docs.select(Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(_.getAs[scala.collection.Seq[String]]("s"))
    assert(sh(0).contains("the quick brown") && sh(0).contains("river bank today"))
    val tiny = Seq((1L, "one two")).toDF("id", "text")
      .select(Dedup.shingles(col("text"), 3).as("s")).collect().head
      .getAs[scala.collection.Seq[String]]("s")
    assert(tiny.isEmpty)
  }

  test("n-gram builders LET-BIND their token array (one tokenization per row, not per lambda ref)") {
    // HOF lambdas run interpreted: an UNBOUND computed `toks` re-evaluates
    // the tokenizer at every element_at reference — n × |ngrams| splits per
    // row (measured 8s of b40's 14s). The bind turns the expression tree
    // into transform(array(split(...)), ...), so exactly ONE `split` node
    // must appear per builder — pin the mechanism, not the wall clock.
    def tree(c: org.apache.spark.sql.Column): String =
      org.apache.spark.sql.GraftSqlShims.expression(c).toString
    def splits(c: org.apache.spark.sql.Column): Int =
      "split\\(".r.findAllIn(tree(c)).length
    assert(splits(Dedup.shingles(col("text"), 3)) == 1,
      tree(Dedup.shingles(col("text"), 3)).take(400))
    assert(splits(TextAnalysis.ngramsAll(col("text"), 2)) == 1,
      tree(TextAnalysis.ngramsAll(col("text"), 2)).take(400))
  }

  test("exact dedup groups identical texts") {
    val g = Dedup.exactDupGroups(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(g.length == 3)
    assert(g.head.getAs[Long]("keep_id") == 0L && g.head.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH (md5 and fast families) find the near-dup pair, skip the distinct doc") {
    for (fast <- Seq(false, true)) {
      val pairs = Dedup.minhashLshPairs(docs.filter(col("doc_id") < 3),
          "doc_id", "text", shingleN = 2, k = 16, bands = 8, threshold = 0.4, fast = fast)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.contains((0L, 1L)), s"fast=$fast")
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), s"fast=$fast")
    }
  }

  test("hot LSH bucket: pair volume stays linear, the family still clusters as one component") {
    import spark.implicits._
    // skewed corpus: one 3000-copy near-dup family (all identical text →
    // every band collides) over a small distinct background
    val family = (0 until 3000).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog near the river"))
    val background = (3000 until 3050).map(i =>
      (i.toLong, s"distinct background document number $i with its own words ${i * 31}"))
    val skewed = (family ++ background).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(skewed, "doc_id", "text",
      shingleN = 2, k = 16, bands = 4, threshold = 0.5, fast = true,
      maxBucket = 256).localCheckpoint()
    val n = pairs.count()
    // all-pairs would be ~3000²/2 ≈ 4.5M from the hot bucket alone; the
    // chain cap keeps it linear in the family size (×bands before distinct)
    assert(n < 50000, s"hot bucket must not go quadratic: $n pairs")
    assert(n >= 2999, s"the family must stay connected: only $n pairs")
    // transitivity through the chain: the whole family is ONE component
    val clusters = Dedup.dupClusters(pairs, "id_a", "id_b")
    val famClusters = clusters.filter(col("id") < 3000)
      .select("cluster").distinct().collect()
    assert(famClusters.length == 1 && famClusters.head.getLong(0) == 0L,
      s"family split across ${famClusters.length} clusters")
    // buckets under the cap keep exact all-pairs semantics
    val exact = Dedup.minhashLshPairs(skewed.filter(col("doc_id") < 5),
      "doc_id", "text", shingleN = 2, k = 16, bands = 4, threshold = 0.5,
      fast = true).collect()
    assert(exact.length == 10, s"5 identical docs → C(5,2)=10 pairs, got ${exact.length}")
  }

  test("incremental near-dup: a new batch checks against the corpus band index, corpus never re-hashed") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "completely different words about spark shuffles and partition pruning"),
      (2L, "yet another unrelated document describing columnar storage formats")
    ).toDF("doc_id", "text")
    val index = Dedup.bandIndex(corpus, "doc_id", "text",
      shingleN = 2, k = 16, bands = 8, fast = true).localCheckpoint()
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (101L, "entirely novel content with no counterpart in the existing corpus at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.nearDupsAgainstIndex(batch, "doc_id", "text",
      index, corpus, shingleN = 2, k = 16, bands = 8, threshold = 0.4, fast = true)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((100L, 0L)), got.toSeq.toString)
    // maintaining the index = appending the accepted batch's own rows
    val grown = index.unionByName(Dedup.bandIndex(batch, "doc_id", "text",
      shingleN = 2, k = 16, bands = 8, fast = true))
    val next = Seq((200L,
      "the quick brown fox jumps over the lazy dog near the river bank tonight"))
      .toDF("doc_id", "text")
    val nextPairs = Dedup.nearDupsAgainstIndex(next, "doc_id", "text",
      grown, corpus.unionByName(batch), 2, 16, 8, 0.4, fast = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(nextPairs.toSeq == Seq((200L, 0L), (200L, 100L)), nextPairs.toSeq.toString)
  }

  test("pii scrub masks emails, ips, digit runs; clean text untouched; dedup-stable") {
    import spark.implicits._
    val rows = Seq(
      (1L, "contact alice.smith+x@example.co.uk or 192.168.1.100 today"),
      (2L, "call 415-555-0123 4567 about the order"),
      (3L, "perfectly clean text with the number 42 and version 1.2"),
      (4L, "contact bob@other.org or 10.0.0.1 today")
    ).toDF("id", "t").select(col("id"), TextAnalysis.scrubPii(col("t")).as("t"))
    val got = rows.orderBy("id").collect().map(_.getString(1))
    assert(got(0) == "contact <EMAIL> or <IP> today", got(0))
    assert(got(1) == "call <NUMBER> about the order", got(1))
    assert(got(2) == "perfectly clean text with the number 42 and version 1.2", got(2))
    // deterministic placeholders: docs differing only in PII now collide
    assert(got(3) == got(0))
  }

  test("repetition signals: duplicate and top n-gram fractions computed exactly") {
    import spark.implicits._
    // "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] → 5 total, 2 distinct
    val r = Seq((1L, "a b a b a b"), (2L, "w x y z"), (3L, "one"))
      .toDF("id", "t")
      .select(col("id"),
        TextAnalysis.dupNgramFraction(col("t"), 2).as("dup"),
        TextAnalysis.topNgramFraction(col("t"), 2).as("top"))
      .orderBy("id").collect()
    assert(r(0).getDouble(1) == 1.0 - 2.0 / 5.0)
    assert(r(0).getDouble(2) == 3.0 / 5.0)
    assert(r(1).getDouble(1) == 0.0 && r(1).getDouble(2) == 1.0 / 3.0)
    assert(r(2).getDouble(1) == 0.0 && r(2).getDouble(2) == 0.0) // below n tokens
  }

  test("boilerplate line removal: shared lines drop everywhere, order survives, empty docs vanish") {
    import spark.implicits._
    val boiler = "SUBSCRIBE to our newsletter"
    val docsL = Seq(
      (1L, s"real content one\n$boiler\nmore real content"),
      (2L, s"$boiler\nunique second doc line"),
      (3L, s"only here once\nanother unique line"),
      (4L, boiler) // fully boilerplate → dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplateLines(docsL, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (1L, "real content one\nmore real content"),
      (2L, "unique second doc line"),
      (3L, "only here once\nanother unique line")), out.toSeq.toString)
  }

  test("simhash incremental index: batch checks against stored fingerprints, no corpus text needed") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "completely different words about spark shuffles and partition pruning")
    ).toDF("doc_id", "text")
    val index = Dedup.simhashIndex(corpus, "doc_id", "text").localCheckpoint()
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "entirely novel content with no counterpart in the existing corpus at all")
    ).toDF("doc_id", "text")
    val hits = Dedup.simhashAgainstIndex(batch, "doc_id", "text", index, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(hits.toSeq == Seq((100L, 0L, 0)), hits.toSeq.toString)
  }

  test("dupClusters: transitive chains collapse to one min-labeled component") {
    // chain 1-2-3 (via 1-2, 2-3), pair 10-11, chain 20-21-22-23 (diameter 3)
    val pairs = Seq(
      (2L, 1L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)
    ).toDF("id_a", "id_b")
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L)
    val got = Dedup.dupClusters(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // distributed propagation path (forced): identical labels
    val gotDist = Dedup.dupClusters(pairs, "id_a", "id_b", driverThreshold = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == want)
    // certified-bound fast path (one collect, no edge checkpoint): identical
    val gotBound = Dedup.dupClusters(pairs, "id_a", "id_b",
      pairBound = Some(pairs.count()))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBound == want)
  }

  test("keepBest: one representative per cluster (best score, id tie-break); singletons survive") {
    val docs = Seq(
      (1L, "aaaa"), (2L, "aa"), (3L, "aaa"),    // cluster 1 → keep 1 (longest)
      (10L, "bb"), (11L, "bb"),                 // cluster 10, tie → keep 10
      (99L, "solo")                             // no cluster → survives
    ).toDF("doc_id", "text")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)
    ).toDF("id", "cluster")
    val kept = Dedup.keepBest(docs, clusters, "doc_id",
      org.apache.spark.sql.functions.length(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 10L, 99L), kept.toString)
  }

  test("dupClusters: duplicate ids that break the certified pair bound fall back to the observed path") {
    // ids 1 and 2 each name three copies of one text: LSH counts candidate
    // pairs of ids, and verification joins each back to every copy of both
    val text = "the quick brown fox jumps over the lazy dog"
    val dupDocs = (Seq.fill(3)((1L, text)) ++ Seq.fill(3)((2L, text)) ++
      Seq((3L, "an entirely different document about something else"))).toDF("doc_id", "text")
    val (pairs, bound) = Dedup.minhashLshPairsCounted(dupDocs, "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, threshold = 0.5)
    val real = pairs.count()
    assert(real > bound, s"$real pairs against a certified bound of $bound")
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = labels(Dedup.dupClusters(pairs, "id_a", "id_b", driverThreshold = -1L))
    assert(want == Map(1L -> 1L, 2L -> 1L))
    // the certificate passes the threshold, the real pair list fills the cap
    assert(labels(Dedup.dupClusters(pairs, "id_a", "id_b", driverThreshold = bound,
      pairBound = Some(bound))) == want)
  }

  test("dupClusters: the capped certified collect on the b35 shape keeps its job count") {
    // the cap costs no job: an uncapped collect runs the same 7
    val (pairs, bound) = Dedup.minhashLshPairsCounted(graft.Tables.documents(spark, sf),
      "doc_id", "text", shingleN = 3, k = 16, bands = 4, threshold = 0.5, fast = true)
    val n = jobs(Dedup.dupClusters(pairs, "id_a", "id_b", pairBound = Some(bound)))
    assert(n == 7, s"$n jobs")
  }

  test("dupClusters: integer and string id columns both work under the driver threshold") {
    // IntegerType ids exercise the widen-to-long path through the driver
    // fast path (was a ClassCastException before r5)
    val intPairs = Seq((2, 1), (2, 3), (10, 11)).toDF("id_a", "id_b")
    val gotInt = Dedup.dupClusters(intPairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotInt == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // string ids: driver fast path must be skipped; distributed path is
    // type-agnostic (min = lexicographic)
    val strPairs = Seq(("b", "a"), ("b", "c")).toDF("id_a", "id_b")
    val gotStr = Dedup.dupClusters(strPairs, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotStr == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("simhash: identical docs hash equal; near-dups differ in few bits; md5/fast agree on equality") {
    val out = docs.select(col("doc_id"),
        Dedup.simhash32(col("text")).as("s32"),
        Dedup.simhash64Fast(col("text")).as("s64"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == out(3).getString(1))
    assert(out(0).getLong(2) == out(3).getLong(2))
    def hamming32(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming32(out(0).getString(1), out(1).getString(1)) <= 6)
    assert(hamming32(out(0).getString(1), out(2).getString(1)) > 6)
  }

  test("simhash near-dup pairs: block pigeonhole finds close prints, verifies exact hamming") {
    // identical docs (0, 3) collide at hamming 0
    val exact = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(exact.toSeq == Seq((0L, 3L, 0)), exact.toSeq.toString)
    // a wider budget also captures the one-word-changed near-dup (0, 1)
    // and its transitive twin (1, 3), never the unrelated doc 2
    val near = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.contains((0L, 1L)), near.toSeq.toString)
    assert(near.contains((0L, 3L)))
    assert(!near.exists(p => p._1 == 2L || p._2 == 2L), near.toSeq.toString)
  }

  test("ngram jaccard pairs respect blocking") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // doc 3 is identical to 0 but blocked into s1
  }

  test("text analysis: token counts, quality, language id, fingerprint") {
    val t = lit("the cat and the dog, in a house!")
    val row = spark.range(1).select(
      TextAnalysis.tokenCount(t).as("n"),
      TextAnalysis.subwordCount(t).as("sw"),
      TextAnalysis.stopwordCount(t).as("stop"),
      TextAnalysis.nonAlnumCount(t).as("punct"),
      TextAnalysis.langId(t).as("lang"),
      TextAnalysis.fingerprint(t).as("fp"),
      TextAnalysis.fingerprint(lit("The CAT and the dog  in a house")).as("fp2"),
      TextAnalysis.qualityScore(t).as("q")).collect().head
    assert(row.getAs[Long]("n") == 8)
    assert(row.getAs[Long]("sw") == 10)   // 8 words + ',' + '!'
    assert(row.getAs[Long]("stop") == 5)  // the, and, the, in, a
    assert(row.getAs[Long]("punct") == 2)
    assert(row.getAs[String]("lang") == "en")
    assert(row.getAs[String]("fp") == row.getAs[String]("fp2"))
    val q = row.getAs[Double]("q")
    assert(q > 0.0 && q <= 1.0)
  }

  test("langId falls back to 'und' with no markers and respects priority ties") {
    val r = spark.range(1).select(
      TextAnalysis.langId(lit("xyzzy plugh")).as("none"),
      TextAnalysis.langId(lit("la la")).as("tie")).collect().head
    assert(r.getString(0) == "und")
    assert(r.getString(1) == "es") // 'la' is an es and fr marker; es is earlier
  }

  test("langId null contract: NULL and empty text are 'und', never NULL") {
    val r = spark.range(1).select(
      TextAnalysis.langId(lit(null).cast("string")).as("nul"),
      TextAnalysis.langId(lit("")).as("empty")).collect().head
    assert(r.getString(0) == "und") // pinned: null-propagation would break q104's groupBy
    assert(r.getString(1) == "und")
  }

  test("cosine similarity: identity = 1, orthogonal = 0, topK ranks by similarity") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val self = vecs.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))
    val top = Similarity.topKNeighbors(vecs, "vec_id", "embedding", 0L, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L, 3L))
  }

  test("hard negatives: only other-label vectors rank; equals the window formulation; corpus never exchanges before the heap") {
    val docs = graft.Tables.embeddings(spark, sf)
    val got = Similarity.hardNegatives(docs, "vec_id", "embedding", "label",
      queryIds = Seq(0L, 1L, 2L), k = 5)
    got.collect()
    // no same-label pair survives
    val labels = docs.select(col("vec_id"), col("label"))
    assert(got
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("ql")), "query_id")
      .join(labels.select(col("vec_id").as("neg_id"), col("label").as("nl")), "neg_id")
      .filter(col("ql") === col("nl")).count() == 0)
    // window-formulation equivalence
    import org.apache.spark.sql.expressions.Window
    val q = docs.filter(col("vec_id").isInCollection(Seq(0L, 1L, 2L)))
      .select(col("vec_id").as("query_id"), col("label").as("ql"), col("embedding").as("qv"))
    val expect = docs.crossJoin(broadcast(q)).filter(col("label") =!= col("ql"))
      .select(col("query_id"), col("vec_id").as("neg_id"),
        round(Similarity.cosine(col("embedding"), col("qv")), 6).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("neg_id"))))
      .filter(col("rn") <= 5).drop("rn")
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
    // plan: heap partial sits below the only exchange of the pair stream
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val plan = got.queryExecution.executedPlan
    val partials = helper.collectWithSubqueries(plan) {
      case p if p.nodeName.contains("TopKPerKeyPartial") => p }
    assert(partials.nonEmpty, s"expected heap partial in\n$plan")
    // below the heap partial only the widened-scan round-robin repartitions
    // may appear — a HASH shuffle there would mean the pair stream exchanged
    // before the cut
    assert(helper.collectWithSubqueries(partials.head) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.isEmpty, s"pair stream shuffled before the heap\n$plan")
  }

  test("bucketed knn returns k neighbours within bucket only") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f), 0), (2L, Array(0.5f, 0.5f), 0),
      (3L, Array(1.0f, 0.0f), 1), (4L, Array(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.bucketedKnn(vecs, "vec_id", "embedding", "label", 1)
      .orderBy("a_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L), (1L, 0L), (2L, 1L), (3L, 4L), (4L, 3L)))
  }

  test("LSH signature is deterministic and buckets identical vectors together") {
    val planes = Similarity.hyperplanes(dim = 3, nBits = 8)
    assert(planes == Similarity.hyperplanes(dim = 3, nBits = 8))
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-3.0f, 1.0f, -2.0f))).toDF("vec_id", "embedding")
    val sigs = vecs.select(Similarity.lshSignature(col("embedding"), planes).as("s"))
      .collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
  }

  test("optimizer rewrites dot(a,a) to one-pass self-dot with identical values") {
    // parquet-backed input: a local literal would be constant-folded away
    // before the rewrite is visible in the optimized plan
    val vecs = graft.Tables.embeddings(spark, sf).limit(5)
    val df = vecs.select(col("vec_id"), Similarity.l2Norm(col("embedding")).as("n"))
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_self_dot"))
    val viaSelf = df.orderBy("vec_id").collect().map(_.getDouble(1))
    val viaAgg = vecs.select(col("vec_id"),
        sqrt(aggregate(transform(col("embedding"), _.cast("double")),
          lit(0.0), (acc, x) => acc + x * x)).as("n"))
      .orderBy("vec_id").collect().map(_.getDouble(1))
    assert(viaSelf.toSeq == viaAgg.toSeq) // bit-identical, not approximately
  }

  test("ANN via LSH buckets finds the identical-vector neighbour") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-3.0f, 1.0f, -2.0f)), (3L, Array(-3.0f, 1.1f, -2.0f))).toDF("vec_id", "embedding")
    val out = Similarity.annLsh(vecs, "vec_id", "embedding", nBits = 6, k = 1, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.get(0L).contains(1L) && out.get(1L).contains(0L))
  }

  test("IVF: k-means cells separate well-spread clusters; in-cell knn = brute force") {
    // Three tight clusters around orthogonal axes; 4 points each.
    val pts = for {
      (cx, cy, cz, base) <- Seq((10f, 0f, 0f, 0L), (0f, 10f, 0f, 10L), (0f, 0f, 10f, 20L))
      i <- 0 until 4
    } yield (base + i, Array(cx + i * 0.1f, cy + i * 0.1f, cz))
    val vecs = pts.toDF("vec_id", "embedding")

    val centroids = Similarity.ivfCentroids(vecs, "vec_id", "embedding", nCells = 3, iters = 3)
    assert(centroids.size == 3 && centroids.forall(_.size == 3))
    // Deterministic: same seed → same centroids.
    assert(centroids == Similarity.ivfCentroids(vecs, "vec_id", "embedding", 3, 3))
    // The sample fits the fixture entirely, so the sample-trained quantizer
    // (driver-side Lloyd's) converges to the same centroids as the
    // distributed iterations.
    assert(Similarity.ivfCentroidsSampled(vecs, "vec_id", "embedding", 3, 3)
      .map(_.map(x => math.rint(x * 1e9) / 1e9))
      == centroids.map(_.map(x => math.rint(x * 1e9) / 1e9)))

    // Every ground-truth cluster maps to one cell.
    val cells = vecs
      .select(col("vec_id"), Similarity.assignCell(col("embedding"), centroids).as("cell"))
      .collect().map(r => r.getLong(0) / 10 -> r.getInt(1)).toSeq
    assert(cells.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1),
      s"a cluster split across cells: $cells")
    assert(cells.map(_._2).distinct.size == 3, "clusters collapsed into one cell")

    // With clusters this separated, in-cell knn = global brute-force knn.
    val ivf = Similarity.ivfKnn(vecs, "vec_id", "embedding", nCells = 3, k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val brute = {
      import org.apache.spark.sql.expressions.Window
      val side = vecs.select(col("vec_id").as("id"), col("embedding").as("vec"),
        Similarity.l2Norm(col("embedding")).as("nrm"))
      val w = Window.partitionBy(col("a_id")).orderBy(col("sim").desc, col("b_id"))
      side.as("a").join(side.as("b"), col("a.id") =!= col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
          round(Similarity.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")), 6).as("sim"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    }
    assert(ivf == brute)
  }

  test("multi-probe IVF: nProbe=1 equals cell-local knn; nProbe=nCells equals brute force") {
    val pts = for {
      (cx, cy, cz, base) <- Seq((10f, 0f, 0f, 0L), (0f, 10f, 0f, 10L), (0f, 0f, 10f, 20L))
      i <- 0 until 4
    } yield (base + i, Array(cx + i * 0.1f, cy + i * 0.1f, cz))
    val vecs = pts.toDF("vec_id", "embedding")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet

    val oneProbe = rows(Similarity.ivfKnnProbed(vecs, "vec_id", "embedding",
      nCells = 3, k = 2, nProbe = 1, iters = 3))
    val cellLocal = rows(Similarity.ivfKnn(vecs, "vec_id", "embedding",
      nCells = 3, k = 2, iters = 3))
    assert(oneProbe == cellLocal)

    val allProbe = rows(Similarity.ivfKnnProbed(vecs, "vec_id", "embedding",
      nCells = 3, k = 2, nProbe = 3, iters = 3))
    val brute = {
      import org.apache.spark.sql.expressions.Window
      val side = vecs.select(col("vec_id").as("id"), col("embedding").as("vec"),
        Similarity.l2Norm(col("embedding")).as("nrm"))
      val w = Window.partitionBy(col("a_id")).orderBy(col("sim").desc, col("b_id"))
      rows(side.as("a").join(side.as("b"), col("a.id") =!= col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
          round(Similarity.dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")), 6).as("sim"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2))
    }
    assert(allProbe == brute)
  }

  test("embedding near-dup pairs: exact baseline and bucketed agree on in-bucket pairs") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.99f, 0.05f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.05f, 0.99f), 1)).toDF("vec_id", "embedding", "label")
    val exact = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((0L, 1L), (2L, 3L)))
    val bucketed = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.95, Some("label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == exact) // near-dups land in the same label bucket here
  }

  test("embedding decontamination: per-candidate match counts and max sim are exact") {
    val cands = Seq(
      (0L, Array(1.0f, 0.0f)),   // matches BOTH eval vectors
      (1L, Array(0.9f, 0.44f)),  // near both (cos ≈ 0.898 and ≈ 0.982)
      (2L, Array(0.0f, -1.0f))). // matches nothing at 0.5
      toDF("vec_id", "embedding")
    val eval = Seq(
      (100L, Array(1.0f, 0.0f)),
      (101L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val got = Similarity.decontaminate(cands, eval, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2)) == Seq((0L, 2L), (1L, 2L)), got.toString)
    // candidate 0's strongest match is its exact copy
    assert(got.head._3 == 1.0, got.toString)
    // below-threshold candidates are ABSENT, not zero-rowed
    assert(!got.exists(_._1 == 2L))
  }

  test("MinHash sketch aggregate: group signature equals the union's, estimates Jaccard") {
    import graft.functions.MinHashSketch
    val k = 32
    val sketch = MinHashSketch(k)
    // same docs split across two groups of one source vs together: merged
    // signature must be identical (elementwise-min is order/partition-free)
    val docs2 = docs.select(lit("all").as("g"), Dedup.shingles(col("text"), 2).as("sh"))
    val whole = docs2.groupBy("g").agg(sketch(col("sh")).as("sig"))
      .collect().head.getAs[scala.collection.Seq[Long]]("sig")
    val parts = docs
      .select((col("doc_id") % 2).as("g"), Dedup.shingles(col("text"), 2).as("sh"))
      .groupBy("g").agg(sketch(col("sh")).as("sig"))
    // manual merge of the two partial sigs
    val two = parts.collect().map(_.getAs[scala.collection.Seq[Long]]("sig"))
    val manual = two(0).zip(two(1)).map { case (a, b) => math.min(a, b) }
    assert(whole.toSeq == manual.toSeq)
    // identical groups → estimate 1.0
    val est = spark.range(1).select(
      MinHashSketch.estimateJaccard(
        typedlit(whole.toSeq), typedlit(whole.toSeq), k).as("e"))
      .collect().head.getDouble(0)
    assert(est == 1.0)
  }

  test("multimodal: binary plumbing + deterministic decode stub over partitions") {
    import spark.implicits._
    val media = Multimodal.fromText(docs, "doc_id", "text", "video")
    assert(media.schema("content").dataType.typeName == "binary")
    val feats = Multimodal.decodeStub(media.as[Multimodal.MediaRow])(spark)
      .orderBy("media_id").collect()
    assert(feats.length == 4)
    assert(feats(0).fingerprint == feats(3).fingerprint) // identical bytes
    assert(feats(0).n_bytes == feats(0).width * 0 + feats(0).n_bytes) // stable fields
    assert(feats.forall(f => f.width >= 16 && f.height >= 16 && f.n_frames >= 1))
    val again = Multimodal.decodeStub(media.as[Multimodal.MediaRow])(spark)
      .orderBy("media_id").collect()
    assert(feats.map(_.fingerprint).toSeq == again.map(_.fingerprint).toSeq)
  }

  test("multimodal: real PNG and BMP bytes decode to their true dimensions") {
    import spark.implicits._
    // render real image fixtures with the same JDK codecs a reader uses
    def imgBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, (x * 31 + y) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "image", imgBytes("png", 37, 21), Map("codec" -> "png")),
      Multimodal.MediaRow(2L, "image", imgBytes("bmp", 64, 48), Map("codec" -> "bmp")),
      Multimodal.MediaRow(3L, "image", "not an image at all".getBytes("UTF-8"), Map())
    ).toDS()
    val feats = Multimodal.decodeStub(media)(spark).orderBy("media_id").collect()
    assert(feats(0).width == 37 && feats(0).height == 21)
    assert(feats(1).width == 64 && feats(1).height == 48)
    // unrecognized bytes fall back to the deterministic stub, never throw
    assert(feats(2).width >= 16 && feats(2).height >= 16)
  }

  test("multimodal: real WAV and AIFF bytes decode to true sample-rate/channels/duration") {
    import spark.implicits._
    // render real audio fixtures with the JDK's own writers
    def audioBytes(fileType: javax.sound.sampled.AudioFileFormat.Type,
        rateHz: Float, channels: Int, frames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rateHz, 16, channels, true,
        fileType == javax.sound.sampled.AudioFileFormat.Type.AIFF) // AIFF is big-endian
      val pcm = new Array[Byte](frames * fmt.getFrameSize)
      var i = 0
      while (i < pcm.length) { pcm(i) = ((i * 37) & 0xff).toByte; i += 1 }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, fileType, bos)
      bos.toByteArray
    }
    val wav = audioBytes(javax.sound.sampled.AudioFileFormat.Type.WAVE, 8000f, 1, 4000)
    val aiff = audioBytes(javax.sound.sampled.AudioFileFormat.Type.AIFF, 44100f, 2, 22050)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav, Map("codec" -> "wav")),
      Multimodal.MediaRow(2L, "audio", aiff, Map("codec" -> "aiff")),
      Multimodal.MediaRow(3L, "audio", "not audio at all".getBytes("UTF-8"), Map())
    ).toDS()
    val feats = Multimodal.decodeAudio(media)(spark).orderBy("media_id").collect()
    assert(feats(0).sample_rate == 8000 && feats(0).channels == 1)
    assert(feats(0).bits_per_sample == 16 && feats(0).n_frames == 4000L)
    assert(math.abs(feats(0).duration_sec - 0.5) < 1e-9)
    assert(feats(0).codec == "WAVE", feats(0).codec)
    assert(feats(1).sample_rate == 44100 && feats(1).channels == 2)
    assert(math.abs(feats(1).duration_sec - 0.5) < 1e-9)
    assert(feats(1).codec == "AIFF", feats(1).codec)
    // unrecognized bytes fall back to the deterministic stub, never throw
    assert(feats(2).codec == "stub" && feats(2).duration_sec == -1.0)
  }

  test("multimodal: real MP4 container bytes decode to true brand/dims/frames/duration") {
    import spark.implicits._
    // build a real ISO-BMFF tree by hand: length-prefixed boxes, exactly
    // the layout an MP4 muxer writes (no JDK muxer exists to render one)
    def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put(tpe.getBytes("ISO-8859-1")).put(body)
      bb.array()
    }
    def u32(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
    def fix1616(v: Int): Array[Byte] = u32(v.toLong << 16)
    val mvhd = box("mvhd", new Array[Byte](4), // version 0 + flags
      u32(0), u32(0), u32(600), u32(3000), // created, modified, timescale, duration (5 s)
      new Array[Byte](80)) // rate..next_track_id — irrelevant here
    val tkhd = box("tkhd", new Array[Byte](4),
      u32(0), u32(0), u32(1), u32(0), u32(3000), // created, modified, id, rsvd, duration
      new Array[Byte](52), // reserved, layer, alt group, volume, rsvd, matrix
      fix1616(640), fix1616(360))
    val hdlr = box("hdlr", new Array[Byte](8), "vide".getBytes("ISO-8859-1"),
      new Array[Byte](12))
    val stsz = box("stsz", new Array[Byte](4), u32(0), u32(150)) // 150 samples
    val stbl = box("stbl", stsz)
    val minf = box("minf", stbl)
    val mdia = box("mdia", hdlr, minf)
    val trak = box("trak", tkhd, mdia)
    val moov = box("moov", mvhd, trak)
    val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1"), u32(512),
      "isomavc1".getBytes("ISO-8859-1"))
    val mdat = box("mdat", new Array[Byte](64))
    val mp4 = ftyp ++ moov ++ mdat

    val media = Seq(
      Multimodal.MediaRow(1L, "video", mp4, Map("container" -> "mp4")),
      Multimodal.MediaRow(2L, "video", "not a video".getBytes("UTF-8"), Map())
    ).toDS()
    val feats = Multimodal.decodeVideo(media)(spark).orderBy("media_id").collect()
    assert(feats(0).brand == "isom", feats(0).brand)
    assert(feats(0).width == 640 && feats(0).height == 360, feats(0))
    assert(feats(0).n_frames == 150L, feats(0))
    assert(math.abs(feats(0).duration_sec - 5.0) < 1e-9, feats(0))
    assert(math.abs(feats(0).fps - 30.0) < 1e-9, feats(0))
    // unrecognized bytes fall back to the deterministic stub, never throw
    assert(feats(1).brand == "stub" && feats(1).duration_sec == -1.0)
    // the generic decode stage picks up the same real facts for video kind
    val generic = Multimodal.decodeStub(media)(spark).orderBy("media_id").collect()
    assert(generic(0).width == 640 && generic(0).height == 360, generic(0))
    assert(generic(0).n_frames == 150, generic(0))
  }

  test("multimodal: real MP3/FLAC/Ogg-Vorbis headers decode to true rate/channels/duration") {
    import spark.implicits._
    // MP3: MPEG1 Layer III, 128 kbps, 44100 Hz, stereo -> 417-byte frames;
    // an ID3v2 tag (20-byte body) prefixes the stream, as encoders emit
    val frameLen = 144 * 128000 / 44100 // = 417
    val mp3 = {
      val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 20) ++ new Array[Byte](20)
      val frames = (0 until 3).flatMap { _ =>
        val f = new Array[Byte](frameLen)
        f(0) = 0xff.toByte; f(1) = 0xfb.toByte; f(2) = 0x90.toByte; f(3) = 0x40.toByte
        f
      }.toArray
      id3 ++ frames
    }
    // FLAC: STREAMINFO with rate 22050, mono, 16-bit, 22050 total samples
    val flac = {
      val b = new Array[Byte](4 + 4 + 34)
      Array[Byte]('f', 'L', 'a', 'C', 0x80.toByte, 0, 0, 34).copyToArray(b)
      b(18) = 0x05; b(19) = 0x62; b(20) = 0x20 // rate 0x05622, ch-1=0, bps hi bit 0
      b(21) = 0xf0.toByte                      // bps-1 = 15 -> 16-bit; total[35:32]=0
      b(24) = 0x56; b(25) = 0x22               // total samples 22050
      b
    }
    // Ogg Vorbis: BOS page with the id header (2 ch, 44100 Hz), EOS page
    // with granule position 88200 -> 2.0 s
    val ogg = {
      def page(headerType: Int, granule: Long, segs: Array[Byte], packet: Array[Byte]) = {
        val bb = java.nio.ByteBuffer.allocate(27 + segs.length + packet.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("OggS".getBytes("ISO-8859-1")).put(0.toByte).put(headerType.toByte)
          .putLong(granule).putInt(1).putInt(0).putInt(0)
          .put(segs.length.toByte).put(segs).put(packet)
        bb.array()
      }
      val id = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put(1.toByte).put("vorbis".getBytes("ISO-8859-1"))
        .putInt(0).put(2.toByte).putInt(44100).array()
      page(0x02, 0L, Array(16.toByte), id) ++
        page(0x04, 88200L, Array[Byte](), Array[Byte]())
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", mp3, Map("codec" -> "mp3")),
      Multimodal.MediaRow(2L, "audio", flac, Map("codec" -> "flac")),
      Multimodal.MediaRow(3L, "audio", ogg, Map("codec" -> "ogg"))
    ).toDS()
    val feats = Multimodal.decodeAudio(media)(spark).orderBy("media_id").collect()
    assert(feats(0).codec == "mp3" && feats(0).sample_rate == 44100 &&
      feats(0).channels == 2, feats(0))
    assert(feats(0).n_frames == 3 * 1152L, feats(0))
    assert(math.abs(feats(0).duration_sec - 3456.0 / 44100) < 1e-9, feats(0))
    assert(feats(1).codec == "flac" && feats(1).sample_rate == 22050 &&
      feats(1).channels == 1 && feats(1).bits_per_sample == 16, feats(1))
    assert(math.abs(feats(1).duration_sec - 1.0) < 1e-9, feats(1))
    assert(feats(2).codec == "vorbis" && feats(2).sample_rate == 44100 &&
      feats(2).channels == 2, feats(2))
    assert(math.abs(feats(2).duration_sec - 2.0) < 1e-9, feats(2))
  }

  test("multimodal: real Matroska/WebM headers decode to docType/dims/duration") {
    import spark.implicits._
    // hand-assembled EBML tree: header(DocType) + Segment(Info + Tracks)
    def el(id: Array[Int], payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      require(body.length < 127)
      id.map(_.toByte) ++ Array((0x80 | body.length).toByte) ++ body
    }
    val header = el(Array(0x1a, 0x45, 0xdf, 0xa3),
      el(Array(0x42, 0x82), "matroska".getBytes("ISO-8859-1")))
    val info = el(Array(0x15, 0x49, 0xa9, 0x66),
      el(Array(0x2a, 0xd7, 0xb1), Array(0x0f.toByte, 0x42.toByte, 0x40.toByte)),
      el(Array(0x44, 0x89),
        java.nio.ByteBuffer.allocate(4).putFloat(1500f).array()))
    val tracks = el(Array(0x16, 0x54, 0xae, 0x6b),
      el(Array(0xae),
        el(Array(0x83), Array(1.toByte)),
        el(Array(0xe0),
          el(Array(0xb0), Array(0x01.toByte, 0x40.toByte)),
          el(Array(0xba), Array(0xf0.toByte)))))
    val mkv = header ++ el(Array(0x18, 0x53, 0x80, 0x67), info, tracks)
    val media = Seq(
      Multimodal.MediaRow(1L, "video", mkv, Map("container" -> "mkv"))).toDS()
    val f = Multimodal.decodeVideo(media)(spark).collect().head
    assert(f.brand == "matroska", f)
    assert(f.width == 320 && f.height == 240, f)
    assert(math.abs(f.duration_sec - 1.5) < 1e-9, f) // 1500 x 1e6 ns
  }

  test("multimodal: real RIFF/AVI headers decode to dims/frames/fps") {
    import spark.implicits._
    // hand-muxed RIFF tree: chunks are fourcc + u32le size + payload
    // (odd payloads pad to even), exactly what an AVI muxer writes
    def u32le(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()
    def chunk(cc: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      cc.getBytes("US-ASCII") ++ u32le(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    }
    // 56-byte avih: µs/frame=40000 (25 fps), frames=250, w=640, h=360
    val avih = chunk("avih",
      u32le(40000L), u32le(0L), u32le(0L), u32le(0L), // µsPerFrame..flags
      u32le(250L), u32le(0L), u32le(1L), u32le(0L),   // totalFrames..bufSize
      u32le(640L), u32le(360L), new Array[Byte](16))  // width, height, rsvd
    val hdrl = chunk("LIST", "hdrl".getBytes("US-ASCII"), avih)
    // an odd-sized junk chunk before hdrl exercises the even-padding walk
    val junk = chunk("JUNK", Array(7.toByte))
    val movi = chunk("LIST", "movi".getBytes("US-ASCII"), new Array[Byte](32))
    val body = "AVI ".getBytes("US-ASCII") ++ junk ++ hdrl ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ u32le(body.length.toLong) ++ body

    val media = Seq(
      Multimodal.MediaRow(1L, "video", avi, Map("container" -> "avi")),
      // a WAV is also RIFF but not the AVI form: must NOT parse as video
      Multimodal.MediaRow(2L, "video",
        "RIFF".getBytes("US-ASCII") ++ u32le(4L) ++ "WAVE".getBytes("US-ASCII"),
        Map())).toDS()
    val feats = Multimodal.decodeVideo(media)(spark).orderBy("media_id").collect()
    assert(feats(0).brand == "avi", feats(0))
    assert(feats(0).width == 640 && feats(0).height == 360, feats(0))
    assert(feats(0).n_frames == 250L, feats(0))
    assert(math.abs(feats(0).duration_sec - 10.0) < 1e-9, feats(0))
    assert(math.abs(feats(0).fps - 25.0) < 1e-9, feats(0))
    assert(feats(1).brand == "stub", feats(1))
  }

  test("multimodal: frame-sample explodes rows, resize fixes shape, features feed knn") {
    import spark.implicits._
    val media = Multimodal.fromText(docs, "doc_id", "text", "video")
      .as[Multimodal.MediaRow]

    // frame-sample: every 2nd 8-byte window, one row per kept frame
    val frames = Multimodal.frameSample(media, everyN = 2, frameLen = 8)(spark).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_idx % 2 == 0))
    val byMedia = frames.groupBy(_.media_id)
    assert(byMedia.size == 4)
    assert(frames.forall(_.frame_bytes.length <= 8))

    // resize: constant output shape regardless of input frame length
    val resized = Multimodal.resizeStub(
      Multimodal.frameSample(media, 2, 8)(spark), outBytes = 4)(spark).collect()
    assert(resized.forall(_.frame_bytes.length == 4))

    // feature-extract → unit embeddings; exact-dup docs (0 and 3 share
    // text) become cosine-1 neighbours through the Similarity surface
    val emb = Multimodal.featureStub(media, dim = 16)(spark)
    val norms = emb.toDF().select(
      Similarity.l2Norm(col("embedding")).as("n")).collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-4))
    val top = Similarity.topKNeighbors(emb.toDF(), "media_id", "embedding", 0L, 1)
      .collect().head
    assert(top.getLong(0) == 3L && math.abs(top.getDouble(1) - 1.0) < 1e-6)

    // ...and the same embeddings run through the compressed path: PQ codes
    // of identical docs are identical, and ADC ranks the exact dup first
    val cb = PQ.train(emb.toDF(), "media_id", "embedding", m = 4, nCodes = 4, iters = 2,
      sampleSize = 16)
    val codes = PQ.encode(emb.toDF(), "media_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codes(0L) == codes(3L), "exact-dup docs must share a PQ code")
    val q0 = emb.toDF().filter(col("media_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    val adc = PQ.adcTopK(PQ.encode(emb.toDF(), "media_id", "embedding", cb),
        "media_id", q0, cb, k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(adc.contains(3L), s"dup doc must rank in ADC top-2: $adc")
  }

  test("splits: deterministic, leakage-free by key, weights roughly honored") {
    import spark.implicits._
    val keys = (0L until 2000L).toDF("k")
    def assigned(bucket: org.apache.spark.sql.Column) = keys
      .select(col("k"), Splits.assignSplit(bucket,
        Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))

    for (bucket <- Seq(Splits.hashBucketMd5(col("k"), 100),
                       Splits.hashBucket(col("k"), 100))) {
      val a = assigned(bucket).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val b = assigned(bucket).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(a == b) // rerun-stable: hash of the key, not rand()
      val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
      assert(math.abs(frac("train") - 0.8) < 0.05, s"train frac ${frac("train")}")
      assert(math.abs(frac("val") - 0.1) < 0.03)
      assert(math.abs(frac("test") - 0.1) < 0.03)
    }

    // same key always co-assigns (dup rows can never straddle train/test)
    val dup = keys.union(keys)
    val perKey = dup.select(col("k"),
        Splits.assignSplit(Splits.hashBucketMd5(col("k"), 100),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
      .groupBy(col("k")).agg(countDistinct(col("split")).as("n"))
      .agg(max(col("n"))).collect().head.getLong(0)
    assert(perKey == 1L)

    // buckets stay in range for both families
    val rng = keys.select(
      Splits.hashBucketMd5(col("k"), 7).as("m"), Splits.hashBucket(col("k"), 7).as("x"))
      .agg(min(col("m")), max(col("m")), min(col("x")), max(col("x")))
      .collect().head
    assert(rng.getLong(0) >= 0L && rng.getLong(1) <= 6L)
    assert(rng.getLong(2) >= 0L && rng.getLong(3) <= 6L)
  }

  test("mixture sampling: exact target ratio, no source overdrawn, rerun-stable selection") {
    import spark.implicits._
    // three sources with unequal supply: a=300, b=150, c=60 rows
    val rows = (0L until 300L).map((_, "a")) ++
      (1000L until 1150L).map((_, "b")) ++ (2000L until 2060L).map((_, "c"))
    val df = rows.toDF("id", "src")
    val weights = Map("a" -> 3L, "b" -> 2L, "c" -> 1L)
    val weightOf = (s: org.apache.spark.sql.Column) =>
      element_at(typedlit(weights), s)
    val quotas = Splits.mixtureQuotas(df, "src", weightOf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // unit = min(300/3, 150/2, 60/1) = 60 -> quotas 180/120/60
    assert(quotas == Map("a" -> (300L, 180L), "b" -> (150L, 120L), "c" -> (60L, 60L)))
    val kept = Splits.mixtureSample(df, "id", "src", weightOf)
    assert(kept.columns.toSeq == Seq("id", "src"))
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 180L, "b" -> 120L, "c" -> 60L))
    // selection is a deterministic function of the ids — rerun identical
    val k1 = kept.select("id").collect().map(_.getLong(0)).toSet
    val k2 = Splits.mixtureSample(df, "id", "src", weightOf)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2)
  }

  test("unicode normalization: decomposed collapses to precomposed; NFKC folds compatibility forms") {
    import spark.implicits._
    val decomposed = "cafe\u0301"    // e + combining acute
    val precomposed = "caf\u00e9"    // single codepoint
    val fullwidth = "\uFF28\uFF49"  // fullwidth "Hi" (NFKC folds, NFC keeps)
    val rows = Seq(decomposed, precomposed, fullwidth, "plain ascii stays", null)
    val df = rows.toDF("t").select(
      TextAnalysis.normalizeUnicode(col("t")).as("nfc"),
      TextAnalysis.normalizeUnicode(col("t"), "NFKC").as("nfkc"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(got(0)._1 == precomposed && got(1)._1 == precomposed,
      "both encodings must collapse to the same NFC bytes")
    assert(got(0)._2 == got(1)._2)
    assert(got(2)._1 == fullwidth && got(2)._2 == "Hi",
      s"NFKC must fold fullwidth, NFC must not: ${got(2)}")
    assert(got(3)._1 == "plain ascii stays")
    assert(got(4)._1 == null && got(4)._2 == null)
    // dedup consequence: fingerprints of the two encodings only collide
    // AFTER normalization — the reason this pass runs first
    val fp = Seq(("a", decomposed + " latte"), ("b", precomposed + " latte"))
      .toDF("id", "t")
      .select(xxhash64(TextAnalysis.normalizeUnicode(col("t"))).as("h"),
        xxhash64(col("t")).as("raw"))
      .collect()
    assert(fp(0).getLong(0) == fp(1).getLong(0), "normalized fingerprints collide")
    assert(fp(0).getLong(1) != fp(1).getLong(1), "raw fingerprints must differ")
    // SQL surface: registered like every graft_ function
    val viaSql = spark.sql(
      "SELECT graft_unicode_normalize('cafe\u0301'), " +
        "graft_unicode_normalize('\uFF28\uFF49', 'NFKC')").collect().head
    assert(viaSql.getString(0) == "caf\u00e9")
    assert(viaSql.getString(1) == "Hi")
  }

  test("temperatureQuotas: exact at the 100TB regime where BIGINT budget·w would wrap") {
    import spark.implicits._
    // n_s = 10^10 → w_micro = 10^11; budget 10^9 → budget·w = 10^20 wraps a
    // Long (~9.2e18). The DECIMAL(38,0) product must land the same value
    // BigInt arithmetic does, and small-regime quotas must be unchanged.
    val counts = Seq(("big", 10000000000L), ("mid", 400000000L), ("tiny", 9L))
      .toDF("src", "n_docs")
    val budget = 1000000000L
    val got = Splits.temperatureQuotasFromCounts(counts, "src", budget)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val w = Map( // round(sqrt(n)·1e6) — all three are exact integers
      "big" -> BigInt("100000000000"), "mid" -> BigInt("20000000000"),
      "tiny" -> BigInt(3000000))
    val wtot = w.values.sum
    got.foreach { case (s, (wm, q)) =>
      assert(BigInt(wm) == w(s), s"$s w_micro: $wm")
      val expect = (BigInt(budget) * w(s)) / wtot
      assert(BigInt(q) == expect, s"$s quota: got $q want $expect")
      assert(q >= 0L, s"$s quota wrapped negative")
    }
  }

  test("decontaminate kernel: bit-identical to the join form, ONE screen node, no shuffle") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cand = emb.filter(col("vec_id") % 10 =!= 0)
    val ev = emb.filter(col("vec_id") % 10 === 0)
    val out = Similarity.decontaminate(cand, ev, "vec_id", "embedding", 0.45)
    // the kernel must be evaluated ONCE per row: an inlined alias would
    // re-run the whole |eval|×dim screen in the filter and again per
    // element_at reference — pin the optimized-plan node count
    val opt = out.queryExecution.optimizedPlan.toString
    val nodes = "graft_decontam_screen".r.findAllIn(opt).length
    assert(nodes == 1, s"expected 1 screen node, got $nodes:\n${opt.take(2000)}")
    // no join, no aggregate: the physical plan is scan → project → filter
    val phys = out.queryExecution.executedPlan.toString
    assert(!phys.contains("Join") && !phys.contains("Exchange"),
      s"kernel decontaminate must not join or shuffle:\n${phys.take(2000)}")
    // exact equivalence with the join form (which q122's oracle verified
    // against DuckDB at all three SFs)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val a = out.collect().map(key).toSet
    val b = Similarity.decontaminateJoinForm(cand, ev, "vec_id", "embedding", 0.45)
      .collect().map(key).toSet
    assert(a.nonEmpty && a == b,
      s"kernel/join divergence: only-kernel=${(a -- b).take(3)} only-join=${(b -- a).take(3)}")
    // the audit column equals the relational argmax (min eval id at max sim)
    val audit = Similarity.decontaminateAudit(cand, ev, "vec_id", "embedding", 0.45)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val pairs = Similarity.nearDupPairs( // reuse: exact pair sims via a labeled union
      cand.select(col("vec_id"), col("embedding")).unionByName(
        ev.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))),
      "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = pairs.flatMap { case (x, y, s) =>
        // keep only (candidate, eval) pairs from the labeled union
        if (x < 1000000L && y >= 1000000L) Some((x, y - 1000000L, s))
        else if (y < 1000000L && x >= 1000000L) Some((y, x - 1000000L, s))
        else None
      }.groupBy(_._1).map { case (id, ps) =>
        val mx = ps.map(_._3).max
        id -> (ps.length.toLong, mx, ps.filter(_._3 == mx).map(_._2).min)
      }
    assert(audit == expect,
      s"audit argmax diverged: ${(audit.toSet -- expect.toSet).take(3)}")
  }

  test("tiled block self-join emits exactly the naive all-pairs rows at several block counts") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val naive = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.45)
      .collect().map(key).toSet
    assert(naive.nonEmpty)
    // K > n, K = 1 (single tile degenerates to the diagonal case), K = 8
    for (k <- Seq(1, 8, 1024)) {
      val blocked = Similarity.nearDupPairsBlocked(emb, "vec_id", "embedding", 0.45, nBlocks = k)
        .collect().map(key).toSet
      assert(blocked == naive, s"nBlocks=$k: ${blocked.size} vs ${naive.size} pairs")
    }
  }

  test("banded sign-LSH finds every pair >= threshold in the near-dup regime") {
    import spark.implicits._
    // planted near-dup families over an isotropic background: base vectors
    // are seeded gaussians; each dup = base + small noise (cosine ~0.95+)
    val rnd = new scala.util.Random(7L)
    val dim = 32
    def gauss(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def perturb(v: Array[Float]): Array[Float] =
      v.zip(Array.fill(dim)(rnd.nextGaussian() * 0.15)).map { case (a, e) => (a + e).toFloat }
    val bases = (0 until 20).map(_ => gauss())
    val rows =
      bases.zipWithIndex.flatMap { case (v, i) =>
        Seq((i.toLong * 10, v.toSeq), (i.toLong * 10 + 1, perturb(v).toSeq)) } ++
      (0 until 150).map(i => (1000L + i, gauss().toSeq))
    val df = rows.toDF("id", "vec")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = Similarity.nearDupPairs(df, "id", "vec", 0.8)
      .collect().map(key).toSet
    assert(exact.size >= 15, s"fixture must plant enough near-dup pairs: ${exact.size}")
    val banded = Similarity.nearDupPairsBanded(df, "id", "vec", 0.8, dim = dim)
      .collect().map(key).toSet
    // recall = 1 on every pair >= threshold; verification kills the rest
    assert(banded == exact,
      s"missed: ${(exact -- banded).take(5)}; extra: ${(banded -- exact).take(5)}")
  }

  test("semDedupRemoved: greedy keep-min-id within cluster, cross-cluster pairs never judged") {
    // cluster 1 (dim1 > 0): ids 0, 1, 2 — 0 and 1 near-identical, 2 orthogonal-ish
    // cluster 0: id 3 is an exact copy of 0 but with dim1 negated → other cell
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.3f)),
      (1L, Array(0.99f, 0.01f, 0.31f)),
      (2L, Array(0.1f, 1.0f, -0.9f)),
      (3L, Array(-1.0f, 0.0f, 0.3f))).toDF("vec_id", "embedding")
    val clustered = vecs.withColumn("cl",
      Similarity.signClusters(col("embedding"), 1))
    val removed = Similarity.semDedupRemoved(clustered, "vec_id", "embedding", "cl", 0.95)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(removed == Set((1, 1L))) // 1 dups 0; 2 survives; 3 isolated in its cell
  }

  test("semDedup (IVF cells): exact copies collapse to the min id, survivors keep the schema") {
    val dim = 8
    val rnd = new scala.util.Random(7)
    def gauss() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val bases = Seq.fill(4)(gauss())
    // each base planted 3× (ids b*100, b*100+1, b*100+2) + distinct background
    val rows = bases.zipWithIndex.flatMap { case (v, b) =>
      (0 until 3).map(c => (b.toLong * 100 + c, v.toSeq)) } ++
      (0 until 40).map(i => (1000L + i, gauss().toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding", nCells = 4, threshold = 0.99)
    assert(out.columns.toSeq == Seq("vec_id", "embedding"))
    val kept = out.select("vec_id").collect().map(_.getLong(0)).toSet
    // exact copies always share a cell -> only the min id of each triple stays
    for (b <- 0 until 4) {
      assert(kept.contains(b * 100L), s"family $b representative must survive")
      assert(!kept.contains(b * 100L + 1) && !kept.contains(b * 100L + 2),
        s"family $b copies must be removed")
    }
    // deterministic: same input -> same survivor set
    val again = Similarity.semDedup(df, "vec_id", "embedding", nCells = 4, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }
}
