package graft.perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Classifier, Curation, Dedup}
import Main.{OpResult, check}

/** One op = one LLM-data pass over the seeded corpus: MinHash-LSH near-dup
  * pairs → clusters → keep the best doc per cluster, then the curation
  * pipeline, then a quality classifier trained on one source against the
  * rest and scored over the kept corpus.
  */
final class CurationLoad(spark: SparkSession, seed: Long, work: String) extends Workload {
  val Docs = 12000
  val NearShare = 0.15
  val Families = 40

  private val corpusPath = s"$work/curation/corpus.parquet"
  private var families: Map[Long, Int] = _
  // (kept, curated) of the first op; every later op must match
  private var counts: Option[(Int, Long)] = None

  def prepare(): Unit = {
    val c = Gen.corpus(seed, Docs, NearShare, Families)
    families = c.families
    spark.createDataFrame(java.util.Arrays.asList(c.rows: _*), Gen.DocSchema)
      .repartition(4).write.mode("overwrite").parquet(corpusPath)
  }

  def warmup(): Unit = op(-1)

  def op(i: Int): OpResult = {
    val docs = spark.read.parquet(corpusPath)
    val (pairs, nCand) = Trace.span("ext.dedup:minhashLshPairsCounted")(Dedup.minhashLshPairsCounted(
      docs, "doc_id", "text", shingleN = 3, k = 16, bands = 4, threshold = 0.5, fast = true))
    val verified = Observation(s"verified-${java.util.UUID.randomUUID()}")
    val clusters = Trace.span("ext.dedup:dupClusters")(Dedup.dupClusters(
      pairs.observe(verified, count(lit(1)).as("n")), "id_a", "id_b", pairBound = Some(nCand)))
    val best = Trace.span("ext.dedup:keepBest")(
      Dedup.keepBest(docs, clusters, "doc_id", length(col("text"))))
    val keptIds = Trace.span("ext.dedup:materialize")(
      best.select(col("doc_id")).collect().map(_.getLong(0)).toSet)
    val nVerified = verified.get("n").asInstanceOf[Long]

    // every planted exact family keeps exactly one doc
    val perFamily = families.filter { case (id, _) => keptIds.contains(id) }.groupBy(_._2)
    check(perFamily.size == families.values.toSet.size && perFamily.values.forall(_.size == 1),
      s"exact families not collapsed to one doc: ${perFamily.filter(_._2.size != 1).keys.take(5)}")

    val curated = Trace.span("ext.curation:curate")(Curation.curate(docs, "doc_id", "text"))
    val cObs = Observation(s"curated-${java.util.UUID.randomUUID()}")
    Trace.span("ext.curation:materialize")(curated.observe(cObs, count(lit(1)).as("n"),
      count(col("split")).as("s")).write.format("noop").mode("overwrite").save())
    val nCurated = cObs.get("n").asInstanceOf[Long]
    check(nCurated > 0, "curation kept no docs")
    counts match {
      case Some(c) => check(c == ((keptIds.size, nCurated)), s"(kept, curated) ${(keptIds.size, nCurated)} != $c of the first op")
      case None => counts = Some((keptIds.size, nCurated))
    }
    check(cObs.get("s") == nCurated, "curated docs without a split")

    val model = Trace.span("ext.classifier:train")(Classifier.train(
      best.filter(col("source") === "src0"), best.filter(col("source") =!= "src0"),
      "doc_id", "text", buckets = 4096, iters = 3))
    val scored = Trace.span("ext.classifier:score")(
      Classifier.score(best, "doc_id", "text", model)
        .agg(count(lit(1)).as("n"), min(col("score")).as("lo"), max(col("score")).as("hi"))
        .collect().head)
    check(scored.getLong(0) == keptIds.size, s"scored ${scored.getLong(0)} != kept ${keptIds.size}")
    check(scored.getDouble(1) > 0.0 && scored.getDouble(2) < 1.0, s"scores outside (0, 1): $scored")

    OpResult("pass", Docs.toLong, Map("cand_pairs" -> nCand.toDouble,
      "verified_pairs" -> nVerified.toDouble, "kept" -> keptIds.size.toDouble))
  }
}
