package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 additions: deletion-vector DML under the correctness gate.
  * Same gate conventions as [[Queries]].
  */
object QRound10 {
  import Tables._

  /** Deletion-vector DML round trip — q106's verb set re-run through the
    * O(changed rows) path ([[graft.io.DeltaMerge.deleteWhereDv]] /
    * `updateWhereDv` / `merge(useDeletionVectors = true)`): build a base
    * table from customer, DV-DELETE the negative balances (files keep
    * their bytes; positions go dark via roaring bitmaps), DV-UPDATE
    * custkey%10==4 (+7 cents — old positions shadowed, new rows appended),
    * then DV-MERGE a source that replaces every custkey%6==0 row with
    * cents+1000 (re-inserting the ones the delete removed). Head state
    * aggregates per segment alongside time-travel row counts at v0/v1.
    * The oracle derives the same final state straight from the source
    * parquet: %6==0 keys all end at orig+1000 (replaced or re-inserted —
    * the +7 update is overwritten for them), everything else keeps the
    * delete+update outcome — a row resurrected by a bad bitmap, lost to a
    * mis-attributed file, or double-served by a DV re-add breaks the
    * hash. Integer cents throughout (the q69/q73 convention).
    */
  def q111DvDml(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q111"), "customer_delta").getAbsolutePath
    val cust = customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    graft.io.DeltaWrite.writeDeltaTable(cust, path, "append") // v0
    graft.io.DeltaMerge.deleteWhereDv(s, path, col("cents") < 0) // v1
    graft.io.DeltaMerge.updateWhereDv(s, path, col("c_custkey") % 10 === 4,
      Map("cents" -> (col("cents") + 7))) // v2
    val source = cust.filter(col("c_custkey") % 6 === 0)
      .withColumn("cents", col("cents") + 1000)
    graft.io.DeltaMerge.merge(s, path, source, Seq("c_custkey"),
      useDeletionVectors = true) // v3
    val v0 = graft.io.DeltaRead.readDeltaTable(s, path, versionAsOf = Some(0L))
      .agg(count(lit(1)).as("v0_rows"))
    val v1 = graft.io.DeltaRead.readDeltaTable(s, path, versionAsOf = Some(1L))
      .agg(count(lit(1)).as("v1_rows"))
    graft.io.DeltaRead.readDeltaTable(s, path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .crossJoin(broadcast(v0))
      .crossJoin(broadcast(v1))
      .orderBy(col("c_mktsegment"))
  }

  private val q111Sql =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c
      |  FROM customer),
      |final AS (
      |  -- %6==0 keys: replaced (alive) or re-inserted (deleted) at orig+1000
      |  SELECT k, seg, c + 1000 AS c FROM base WHERE k % 6 = 0
      |  UNION ALL
      |  -- everyone else: survives the delete, +7 where k%10==4
      |  SELECT k, seg, c + CASE WHEN k % 10 = 4 THEN 7 ELSE 0 END AS c
      |  FROM base WHERE k % 6 <> 0 AND c >= 0)
      |SELECT seg AS c_mktsegment, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents,
      |  (SELECT count(*) FROM customer) AS v0_rows,
      |  (SELECT count(*) FROM base WHERE c >= 0) AS v1_rows
      |FROM final
      |GROUP BY seg
      |ORDER BY c_mktsegment""".stripMargin

  /** Dedup APPLY — the step after q43's detection: label near-dup
    * clusters (MinHash-LSH pairs → connected components), then keep ONE
    * representative per cluster ([[graft.ext.Dedup.keepBest]]: longest
    * text, ties to the smallest doc_id) and drop the other members.
    * Output: the PRUNED corpus aggregated per source (survivor count +
    * total chars) — a resurrected duplicate, a dropped singleton, or a
    * wrong representative all break the hash. The oracle reruns q43's
    * recursive-CTE closure in DuckDB and applies the same argmax keep.
    */
  def q112DedupApply(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = graft.ext.Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, threshold = 0.5)
    val clusters = graft.ext.Dedup.dupClusters(pairs, "id_a", "id_b")
    graft.ext.Dedup.keepBest(docs, clusters, "doc_id", length(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(length(col("text"))).cast("long").as("chars_kept"))
      .orderBy(col("source"))
  }

  private val q112Sql =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id AS id,
      |    list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |      i -> list_aggregate(string_split(text, ' ')[i:i+2], 'string_agg', ' '))) AS s
      |  FROM documents),
      |sig AS (
      |  SELECT id, s,
      |    list_transform(range(0, 16),
      |      j -> list_min(list_transform(s,
      |             x -> md5('mh' || lpad(j::VARCHAR, 2, '0') || ':' || x)))) AS sg
      |  FROM sh),
      |banded AS (
      |  SELECT id,
      |    list_transform(range(0, 4),
      |      b -> md5(list_aggregate(sg[b*4+1 : b*4+4], 'string_agg', '|'))) AS bh
      |  FROM sig),
      |expl AS (
      |  SELECT id, generate_subscripts(bh, 1) AS band, unnest(bh) AS h FROM banded),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM expl a JOIN expl b ON a.band = b.band AND a.h = b.h AND a.id < b.id),
      |pairs AS (
      |  SELECT c.id_a, c.id_b
      |  FROM cand c JOIN sh sa ON c.id_a = sa.id JOIN sh sb ON c.id_b = sb.id
      |  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
      |        / len(list_distinct(list_concat(sa.s, sb.s))), 4) >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
      |lbl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
      |drops AS (
      |  SELECT id FROM (
      |    SELECT l.id,
      |      row_number() OVER (PARTITION BY l.cluster
      |        ORDER BY len(d.text) DESC, l.id) AS rn
      |    FROM lbl l JOIN documents d ON d.doc_id = l.id)
      |  WHERE rn > 1)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(sum(len(text)) AS BIGINT) AS chars_kept
      |FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM drops)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q111_dv_dml" -> (q111DvDml _),
    "q112_dedup_apply" -> (q112DedupApply _))

  val sql: Map[String, String] = Map(
    "q111_dv_dml" -> q111Sql,
    "q112_dedup_apply" -> q112Sql)
}
