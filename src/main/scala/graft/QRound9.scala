package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 additions: row-level Delta DML under the correctness gate. Same
  * gate conventions as [[Queries]].
  */
object QRound9 {
  import Tables._

  /** Delta MERGE + DELETE + UPDATE round trip (the reference's
    * update-in-place surface: labelspark update_metadata.py /
    * client.py:350-474 re-key and push changed values back into the Delta
    * store): build a base table from 2/3 of customer, MERGE a source that
    * updates every custkey%6==0 row (+1000 cents) and inserts the missing
    * 1/3, DELETE the negative balances, then UPDATE ... SET cents =
    * cents + 7 WHERE custkey%10==4 — four commits through the
    * copy-on-write protocol — and aggregate the LOG-REPLAYED head while
    * time-traveling back to v0 and v1 for row counts. The oracle computes
    * the same post-DML state straight from the source parquet, so a row
    * lost, duplicated, double-updated, or resurrected by the writer
    * breaks the hash. Money stays in integer cents (the q69/q73
    * convention).
    */
  def q106MergeRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q106"), "customer_delta").getAbsolutePath
    val cust = customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    // v0: base table = the custkeys not ≡ 1 (mod 3)
    graft.io.DeltaWrite.writeDeltaTable(
      cust.filter(col("c_custkey") % 3 =!= 1), path, "append")
    // v1: MERGE — update matched (%6==0 rows get +1000 cents), insert the
    // missing third (%3==1 rows, unchanged values)
    val source = cust.filter(col("c_custkey") % 6 === 0)
      .withColumn("cents", col("cents") + 1000)
      .unionByName(cust.filter(col("c_custkey") % 3 === 1))
    graft.io.DeltaMerge.merge(s, path, source, Seq("c_custkey"))
    // v2: DELETE the negative balances
    graft.io.DeltaMerge.deleteWhere(s, path, col("cents") < 0)
    // v3: expression UPDATE over the current row values
    graft.io.DeltaMerge.updateWhere(s, path, col("c_custkey") % 10 === 4,
      Map("cents" -> (col("cents") + 7)))
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

  private val q106Sql =
    """WITH post AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT)
      |      + CASE WHEN c_custkey % 6 = 0 THEN 1000 ELSE 0 END AS cents
      |  FROM customer),
      |surv AS (
      |  SELECT c_custkey, c_mktsegment,
      |    cents + CASE WHEN c_custkey % 10 = 4 THEN 7 ELSE 0 END AS cents
      |  FROM post WHERE cents >= 0)
      |SELECT c_mktsegment, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
      |  (SELECT count(*) FROM customer WHERE c_custkey % 3 <> 1) AS v0_rows,
      |  (SELECT count(*) FROM customer) AS v1_rows
      |FROM surv
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Delta schema evolution under the gate (the q81 unionByName semantics
    * at the storage layer): append half of orders with a 3-column schema,
    * then evolved-append the other half carrying a NEW `prio` column
    * (mergeSchema) — the log-replayed read serves the widened schema with
    * null `prio` for the pre-evolution files, and time travel to v0 still
    * replays the narrow schema (its width rides the hashed output as
    * `v0_cols`). The oracle derives the same post-evolution state from the
    * source parquet: `prio` is only non-null where the evolved batch wrote
    * it.
    */
  def q107SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q107"), "orders_delta").getAbsolutePath
    val src = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    graft.io.DeltaWrite.writeDeltaTable(
      src.filter(col("o_orderkey") % 2 === 0), path, "append")
    val evolved = orders(s, d).filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        col("o_orderpriority").as("prio"))
    graft.io.DeltaWrite.writeDeltaTable(
      evolved, path, "append", Nil, None, mergeSchema = true)
    val v0cols = graft.io.DeltaRead.readDeltaTable(s, path, versionAsOf = Some(0L))
      .columns.length
    graft.io.DeltaRead.readDeltaTable(s, path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        count(col("prio")).as("n_prio"), min(col("prio")).as("min_prio"))
      .withColumn("v0_cols", lit(v0cols))
      .orderBy(col("o_orderstatus"))
  }

  private val q107Sql =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
      |  count(CASE WHEN o_orderkey % 2 <> 0 THEN 1 END) AS n_prio,
      |  min(CASE WHEN o_orderkey % 2 <> 0 THEN o_orderpriority END) AS min_prio,
      |  3 AS v0_cols
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Hard-negative mining through the PERSISTED ANN index — the unbounded
    * -query-set scale path next to q105's 8-query broadcast form: build an
    * IVF index over the embeddings (labels co-located via `extraCols`),
    * then mine top-3 different-label negatives for EVERY vector as the
    * query set, routed cell-by-cell ([[graft.ext.AnnIndex.hardNegatives]]:
    * |queries|·nProbe probe rows equi-join the cell-partitioned index;
    * nothing broadcasts, the corpus shuffles once by cell). The gate runs
    * `nProbe = nCells`, where probing is exhaustive and the result is
    * EXACTLY the brute-force semantics — hashable against a SQL oracle;
    * the sub-linear nProbe < nCells regime is pinned by AnnIndexSpec
    * (partition-pruned scan metrics) and benched as b53.
    */
  def q108HardNegativesAnn(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q108"), "ann").getAbsolutePath
    val emb = embeddings(s, d)
    graft.ext.AnnIndex.build(emb, "vec_id", "embedding", path, nCells = 8,
      extraCols = Seq("label"))
    graft.ext.AnnIndex.hardNegatives(s, path, emb, "vec_id", "embedding",
      "label", nProbe = 8, k = 3)
      .orderBy(col("query_id"), col("sim").desc, col("neg_id"))
  }

  private val q108Sql =
    """WITH pairs AS (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neg_id,
      |    round(
      |      list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))), 6) AS sim
      |  FROM embeddings e JOIN embeddings q ON e.label <> q.label)
      |SELECT query_id, neg_id, sim
      |FROM pairs
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neg_id) <= 3
      |ORDER BY query_id, sim DESC, neg_id""".stripMargin

  /** Change data feed under the gate: build a Delta table from the even
    * custkeys, flip `delta.enableChangeDataFeed` on, then run a MERGE
    * (update the %4==0 rows +500, insert the odd custkeys), an UPDATE
    * (+3 to the BUILDING segment), and a DELETE (negative balances) —
    * and aggregate the FEED itself (count + cents per `_change_type`
    * since the opt-in). The oracle derives the identical pre/post/insert/
    * delete row sets straight from the source parquet, so a change row
    * that is lost, duplicated, mis-staged, or mis-typed by the cdc writer
    * or the feed reader breaks the hash. Integer cents throughout.
    */
  def q109ChangeFeed(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q109"), "customer_delta").getAbsolutePath
    val cust = customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    graft.io.DeltaWrite.writeDeltaTable(
      cust.filter(col("c_custkey") % 2 === 0), path, "append") // v0
    graft.io.DeltaWrite.setTableProperties(s, path,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    val source = cust.filter(col("c_custkey") % 4 === 0)
      .withColumn("cents", col("cents") + 500)
      .unionByName(cust.filter(col("c_custkey") % 2 === 1))
    graft.io.DeltaMerge.merge(s, path, source, Seq("c_custkey")) // v2
    graft.io.DeltaMerge.updateWhere(s, path,
      col("c_mktsegment") === "BUILDING", Map("cents" -> (col("cents") + 3))) // v3
    graft.io.DeltaMerge.deleteWhere(s, path, col("cents") < 0) // v4
    graft.io.DeltaRead.changeFeed(s, path, 1L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("change_type"))
  }

  private val q109Sql =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c
      |  FROM customer),
      |state2 AS (
      |  SELECT k, seg, c + CASE WHEN k % 4 = 0 THEN 500 ELSE 0 END AS c
      |  FROM base),
      |state3 AS (
      |  SELECT k, seg, c + CASE WHEN seg = 'BUILDING' THEN 3 ELSE 0 END AS c
      |  FROM state2),
      |feed AS (
      |  SELECT 'update_preimage' AS t, c FROM base WHERE k % 4 = 0
      |  UNION ALL SELECT 'update_postimage', c + 500 FROM base WHERE k % 4 = 0
      |  UNION ALL SELECT 'insert', c FROM base WHERE k % 2 = 1
      |  UNION ALL SELECT 'update_preimage', c FROM state2 WHERE seg = 'BUILDING'
      |  UNION ALL SELECT 'update_postimage', c FROM state3 WHERE seg = 'BUILDING'
      |  UNION ALL SELECT 'delete', c FROM state3 WHERE c < 0)
      |SELECT t AS change_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
      |FROM feed
      |GROUP BY t
      |ORDER BY change_type""".stripMargin

  /** Batched k-NN join through the persisted index (the core
    * similarity-search-at-scale shape: EVERY vector finds its top-3
    * neighbors in one routed join — q27's single-query form fanned out to
    * the whole table): build the IVF index, then
    * [[graft.ext.AnnIndex.knnJoin]] with the full embeddings table as the
    * query side. The gate runs `nProbe = nCells` (exhaustive ⇒ exactly
    * the brute-force all-pairs semantics, hashable against a SQL oracle);
    * AnnIndexSpec pins the sub-linear nProbe regime and b53/b50 bench it.
    */
  def q110KnnJoin(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q110"), "ann").getAbsolutePath
    val emb = embeddings(s, d)
    graft.ext.AnnIndex.build(emb, "vec_id", "embedding", path, nCells = 8)
    graft.ext.AnnIndex.knnJoin(s, path, emb, "vec_id", "embedding",
      nProbe = 8, k = 3)
      .orderBy(col("query_id"), col("sim").desc, col("neighbor_id"))
  }

  private val q110Sql =
    """WITH pairs AS (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |    round(
      |      list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))), 6) AS sim
      |  FROM embeddings e JOIN embeddings q ON e.vec_id <> q.vec_id)
      |SELECT query_id, neighbor_id, sim
      |FROM pairs
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= 3
      |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q106_merge_roundtrip" -> (q106MergeRoundtrip _),
    "q107_schema_evolution" -> (q107SchemaEvolution _),
    "q108_hard_negatives_ann" -> (q108HardNegativesAnn _),
    "q109_change_feed" -> (q109ChangeFeed _),
    "q110_knn_join" -> (q110KnnJoin _))

  val sql: Map[String, String] = Map(
    "q106_merge_roundtrip" -> q106Sql,
    "q107_schema_evolution" -> q107Sql,
    "q108_hard_negatives_ann" -> q108Sql,
    "q109_change_feed" -> q109Sql,
    "q110_knn_join" -> q110Sql)
}
