package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 additions: row tracking under the correctness gate. Same gate
  * conventions as [[Queries]].
  */
object QRound11 {
  import Tables._

  /** Row tracking end-to-end — stable row identity under DML
    * ([[graft.io.DeltaWrite.writeDeltaTableRowTracked]] +
    * [[graft.io.DeltaRead.readDeltaTableWithRowIds]]): build a
    * row-tracked table from a sorted single-file orders slice (so each
    * row's assigned id IS its sorted rank — the one deterministic seam
    * the oracle needs), then DV-DELETE `%3` keys, COW-UPDATE `%5` keys
    * (the rewrite must MATERIALIZE every carried row's id and original
    * commit version), and DV-UPDATE `%4` keys (shadow + re-append, the
    * appended row carrying its id forward materialized). The final read
    * serves `(_row_id, _row_commit_version)` per surviving key; the
    * oracle reconstructs ids as `row_number() - 1` over the same sorted
    * slice and versions from which verb last touched each key. An id
    * moved by a rewrite, a version stamped on a carried row, or a
    * deleted id resurfacing all break the hash. Row order inside
    * REWRITTEN files is deliberately irrelevant — identity rides the
    * materialized columns, which is the feature under test.
    */
  def q113RowTracking(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q113"), "orders_rt").getAbsolutePath
    val base = orders(s, d).filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .repartition(1).sortWithinPartitions(col("o_orderkey"))
    graft.io.DeltaWrite.writeDeltaTableRowTracked(base, path) // v0: ids = rank
    graft.io.DeltaMerge.deleteWhereDv(s, path, col("o_orderkey") % 3 === 0) // v1
    graft.io.DeltaMerge.updateWhere(s, path, col("o_orderkey") % 5 === 0,
      Map("cents" -> (col("cents") + 11))) // v2: copy-on-write, ids materialize
    graft.io.DeltaMerge.updateWhereDv(s, path, col("o_orderkey") % 4 === 0,
      Map("cents" -> (col("cents") + 7))) // v3: shadow + re-append, id carried
    graft.io.DeltaRead.readDeltaTableWithRowIds(s, path)
      .select(col("o_orderkey"), col("_row_id").as("row_id"),
        col("_row_commit_version").as("row_ver"), col("cents"))
      .orderBy(col("o_orderkey"))
  }

  private val q113Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |ranked AS (
      |  SELECT k, c, row_number() OVER (ORDER BY k) - 1 AS rid FROM base)
      |SELECT k AS o_orderkey, CAST(rid AS BIGINT) AS row_id,
      |  CAST(CASE WHEN k % 4 = 0 THEN 3
      |            WHEN k % 5 = 0 THEN 2 ELSE 0 END AS BIGINT) AS row_ver,
      |  c + CASE WHEN k % 5 = 0 THEN 11 ELSE 0 END
      |    + CASE WHEN k % 4 = 0 THEN 7 ELSE 0 END AS cents
      |FROM ranked
      |WHERE k % 3 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** Log-derived change feed WITHOUT CDF
    * ([[graft.io.DeltaRead.changeDiff]]): the incremental surface for a
    * table that never enabled `delta.enableChangeDataFeed`. Build a
    * single-file orders slice (one file makes the COW rewrite scope — and
    * so the diff's row multiset — exactly derivable by the oracle), then
    * run one verb of each decomposition class: a DV DELETE (`%3` keys —
    * newly-shadowed positions surface as `delete`), a COW UPDATE (`%5`
    * keys — the rewrite surfaces as whole-file `delete`+`insert`, which
    * is what that commit physically did), and a DV UPDATE (`%2` keys —
    * shadowed positions as `delete`, the re-appended rows as `insert`).
    * `changeDiff(0)` decomposes the `(0, head]` range from the log and
    * data files alone; the output aggregates the multiset per
    * `(version, change_type)` in integer cents, so a row mis-attributed
    * to the wrong commit, a DV delta mis-diffed against the prior vector,
    * or a resurrected shadowed row all break the hash. The oracle replays
    * the same three verbs symbolically over the source parquet.
    */
  def q114ChangeDiff(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q114"), "orders_cd").getAbsolutePath
    val base = orders(s, d).filter(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .repartition(1)
    graft.io.DeltaWrite.writeDeltaTable(base, path, "append") // v0
    graft.io.DeltaMerge.deleteWhereDv(s, path, col("o_orderkey") % 3 === 0) // v1
    graft.io.DeltaMerge.updateWhere(s, path, col("o_orderkey") % 5 === 0,
      Map("cents" -> (col("cents") + 100))) // v2: copy-on-write rewrite
    graft.io.DeltaMerge.updateWhereDv(s, path, col("o_orderkey") % 2 === 0,
      Map("cents" -> (col("cents") + 9))) // v3: shadow + re-append
    graft.io.DeltaRead.changeDiff(s, path, 0L)
      .groupBy(col("_commit_version").as("ver"),
        col("_change_type").as("change"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("ver"), col("change"))
  }

  private val q114Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      |  FROM orders WHERE o_orderkey % 7 = 3),
      |v2 AS (  -- post-COW-update values (the file the DV update shadows)
      |  SELECT k, c + CASE WHEN k % 5 = 0 THEN 100 ELSE 0 END AS c
      |  FROM base WHERE k % 3 <> 0),
      |diff AS (
      |  -- v1: DV delete shadows %3 keys at their original values
      |  SELECT 1 AS ver, 'delete' AS ch, c FROM base WHERE k % 3 = 0
      |  UNION ALL
      |  -- v2: COW rewrite of the (single) touched file = delete every
      |  -- previously-visible row, insert every rewritten row
      |  SELECT 2, 'delete', c FROM base WHERE k % 3 <> 0
      |  UNION ALL
      |  SELECT 2, 'insert', c FROM v2
      |  UNION ALL
      |  -- v3: DV update shadows %2 keys at v2 values, re-appends them +9
      |  SELECT 3, 'delete', c FROM v2 WHERE k % 2 = 0
      |  UNION ALL
      |  SELECT 3, 'insert', c + 9 FROM v2 WHERE k % 2 = 0)
      |SELECT CAST(ver AS BIGINT) AS ver, ch AS change,
      |  count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
      |FROM diff
      |GROUP BY ver, ch
      |ORDER BY ver, change""".stripMargin

  /** V2 spec checkpoint round trip
    * ([[graft.io.DeltaWrite.checkpointV2]] →
    * [[graft.io.DeltaRead.readDeltaTable]]): two appends + one DV DELETE,
    * then a v2 checkpoint (uuid-named top file + TWO sidecar slices under
    * `_delta_log/_sidecars/`), one more JSON append past it — and then
    * every PRE-checkpoint JSON commit is deleted from the log. The final
    * read has exactly one route to v0–v2 state: the checkpoint's sidecar
    * file actions (which must carry the deletion vector through, or the
    * DV-deleted rows resurrect) replayed under the JSON tail. A reader
    * that ignores `_last_checkpoint`, loses a sidecar slice, or drops the
    * DV struct in either direction breaks the hash — this is the gate
    * form of DeltaWriteSpec's v2 round-trip, priced end-to-end. The
    * oracle derives the same final state from the source parquet.
    */
  def q115V2Checkpoint(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q115"), "customer_v2cp").getAbsolutePath
    val cust = customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    graft.io.DeltaWrite.writeDeltaTable(
      cust.filter(col("c_custkey") % 2 === 0), path, "append") // v0
    graft.io.DeltaWrite.writeDeltaTable(
      cust.filter(col("c_custkey") % 2 === 1), path, "append") // v1
    graft.io.DeltaMerge.deleteWhereDv(s, path, col("cents") < 0) // v2
    graft.io.DeltaWrite.checkpointV2(s, path, sidecarParts = 2) // cp @ v2
    graft.io.DeltaWrite.writeDeltaTable(
      cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("cents", col("cents") + 1000), path, "append") // v3
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    (0L to 2L).foreach { v => // the checkpoint is now the only source of v0-v2
      fs.delete(new org.apache.hadoop.fs.Path(path,
        f"_delta_log/$v%020d.json"), false)
    }
    graft.io.DeltaRead.readDeltaTable(s, path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("c_mktsegment"))
  }

  private val q115Sql =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c
      |  FROM customer),
      |final AS (
      |  SELECT seg, c FROM base WHERE c >= 0          -- v0+v1 minus the DV delete
      |  UNION ALL
      |  SELECT seg, c + 1000 FROM base WHERE k % 3 = 0 -- the post-checkpoint append
      |)
      |SELECT seg AS c_mktsegment, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
      |FROM final
      |GROUP BY seg
      |ORDER BY c_mktsegment""".stripMargin

  /** Streaming materialized view, the whole CDC loop under the gate
    * ([[graft.streaming.ChangeViewSink.maintain]]): build a source table,
    * run one verb of each DML class against it (DV DELETE, COW UPDATE,
    * DV UPDATE, append — v1..v4), then START A REAL STRUCTURED STREAMING
    * QUERY that tails the source's change stream
    * ([[graft.streaming.DeltaChangeSource]], version offsets) and folds
    * every epoch into a per-group count/sum view Delta table,
    * exactly-once. The emitted rows are the VIEW's final contents — so a
    * mis-signed change row, a double-folded epoch, a lingering
    * zero-count tombstone, or a lost partition of some micro-batch all
    * break the hash. The oracle replays the four verbs symbolically and
    * aggregates the final source state, which the view must equal
    * exactly (count/sum form a group under insert/delete signs; sums
    * are integer-valued doubles, exact well past this magnitude).
    */
  def q116ChangeView(s: SparkSession, d: String): DataFrame = {
    val root = Harness.tmp("graft_q116")
    val src = new java.io.File(root, "orders_src").getAbsolutePath
    val view = new java.io.File(root, "orders_view").getAbsolutePath
    val base = orders(s, d).filter(col("o_orderkey") % 7 === 2)
      .select(col("o_orderkey"), col("o_orderstatus").as("grp"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .repartition(1)
    graft.io.DeltaWrite.writeDeltaTable(base, src, "append") // v0
    graft.io.DeltaMerge.deleteWhereDv(s, src, col("o_orderkey") % 3 === 0) // v1
    graft.io.DeltaMerge.updateWhere(s, src, col("o_orderkey") % 5 === 0,
      Map("cents" -> (col("cents") + 100))) // v2: copy-on-write
    graft.io.DeltaMerge.updateWhereDv(s, src, col("o_orderkey") % 2 === 0,
      Map("cents" -> (col("cents") + 9))) // v3: shadow + re-append
    graft.io.DeltaWrite.writeDeltaTable(
      base.select((col("o_orderkey") + 50000000L).as("o_orderkey"),
        lit("Z").as("grp"), (col("cents") + 1).as("cents")),
      src, "append") // v4
    // maxVersionsPerBatch = 2: the 5-commit history drains in >= 3 bounded
    // epochs under native Trigger.AvailableNow — the gate exercises
    // admission control + multi-epoch exactly-once, not just one big fold
    val q = graft.streaming.ChangeViewSink.maintain(s, src, view,
      Seq("grp"), "cents", appId = "q116",
      checkpoint = new java.io.File(root, "ckpt").getAbsolutePath,
      maxVersionsPerBatch = Some(2L))
    q.awaitTermination()
    graft.streaming.ChangeViewSink.readView(s, view)
      .select(col("grp"), col("n"), col("sum").cast("long").as("cents"))
      .orderBy(col("grp"))
  }

  private val q116Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS grp,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      |  FROM orders WHERE o_orderkey % 7 = 2),
      |final AS (
      |  SELECT grp,
      |    c + CASE WHEN k % 5 = 0 THEN 100 ELSE 0 END
      |      + CASE WHEN k % 2 = 0 THEN 9 ELSE 0 END AS c
      |  FROM base WHERE k % 3 <> 0
      |  UNION ALL
      |  SELECT 'Z' AS grp, c + 1 AS c FROM base)
      |SELECT grp, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
      |FROM final
      |GROUP BY grp
      |ORDER BY grp""".stripMargin

  /** DSIR importance weights ([[graft.ext.Selection.dsirWeights]], md5
    * family): score every non-`src0` document by how much likelier its
    * hashed unigram+bigram features are under `src0`'s distribution than
    * under the rest of the corpus — the data-selection recipe of Xie et
    * al. 2023, in exact integer micro-nats (the per-bucket log-ratio is
    * rounded ONCE; every downstream sum is integer, so the hash is immune
    * to addition order). The oracle runs the identical algorithm —
    * identical tokenization, md5 bucketing, Laplace smoothing, and a
    * text-identical float formula for the one rounded expression.
    */
  def q117DsirWeights(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    graft.ext.Selection.dsirWeights(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text", buckets = 4096)
      .orderBy(col("doc_id"))
  }

  private val q117Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT doc_id, source, unnest(w) AS g FROM toks
      |  UNION ALL
      |  SELECT doc_id, source, unnest(list_transform(range(1, len(w)),
      |    i -> list_aggregate(w[i:i+1], 'string_agg', ' '))) AS g FROM toks),
      |feats AS (
      |  SELECT doc_id, source,
      |    ('0x' || substring(md5(g), 1, 8))::BIGINT % 4096 AS b FROM grams),
      |tgt AS (SELECT b, count(*) AS ct FROM feats WHERE source = 'src0' GROUP BY b),
      |raw AS (SELECT b, count(*) AS cr FROM feats WHERE source <> 'src0' GROUP BY b),
      |dlp AS (
      |  SELECT coalesce(tgt.b, raw.b) AS b,
      |    CAST(round((ln((coalesce(ct, 0) + 1.0) / ((SELECT sum(ct) FROM tgt) + 4096))
      |              - ln((coalesce(cr, 0) + 1.0) / ((SELECT sum(cr) FROM raw) + 4096)))
      |         * 1000000, 0) AS BIGINT) AS dlp
      |  FROM tgt FULL OUTER JOIN raw ON tgt.b = raw.b),
      |docb AS (
      |  SELECT doc_id, b, count(*) AS c FROM feats WHERE source <> 'src0'
      |  GROUP BY doc_id, b)
      |SELECT doc_id, CAST(sum(c * dlp) AS BIGINT) AS w_micros
      |FROM docb JOIN dlp USING (b)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Trained quality classifier ([[graft.ext.Classifier]]) — rows-only
    * like q99/q100 (iterative float training has no SQL equivalent;
    * ClassifierSpec holds the contract: held-out separation,
    * partitioning-exact weights). In-query training follows the q99
    * posture: trained on the corpus itself (src0 as the "curated"
    * positive class), deterministic on any partitioning because the
    * gradient accumulates in integer micro-units.
    */
  def q118QualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val model = graft.ext.Classifier.train(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") =!= "src0"),
      "doc_id", "text", buckets = 4096)
    graft.ext.Classifier.score(docs, "doc_id", "text", model)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"))
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q113_row_tracking" -> (q113RowTracking _),
    "q114_change_diff" -> (q114ChangeDiff _),
    "q115_v2_checkpoint" -> (q115V2Checkpoint _),
    "q116_change_view" -> (q116ChangeView _),
    "q117_dsir_weights" -> (q117DsirWeights _),
    "q118_quality_classifier" -> (q118QualityClassifier _))

  val sql: Map[String, String] = Map(
    "q113_row_tracking" -> q113Sql,
    "q114_change_diff" -> q114Sql,
    "q115_v2_checkpoint" -> q115Sql,
    "q116_change_view" -> q116Sql,
    "q117_dsir_weights" -> q117Sql)
}
