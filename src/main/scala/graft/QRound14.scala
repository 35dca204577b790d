package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14 additions under the correctness gate. Same conventions as
  * [[Queries]].
  */
object QRound14 {
  import Tables._

  /** Unicode NFC normalization
    * ([[graft.ext.TextAnalysis.normalizeUnicode]] /
    * [[graft.functions.NormalizeExpression]]): the canonical first text
    * pass — precomposed ('é') and decomposed ('e' + U+0301) encodings of
    * the same logical text must collapse before any fingerprint, dedup or
    * token stage, or each variant ingests as a distinct document. The
    * corpus is ASCII, so the query DECOMPOSES it deterministically on
    * both engines first (every 'e' → 'e' + combining acute — the same
    * construction DuckDB builds with chr(769)), normalizes back, and pins
    * per-document: the decomposed length (one extra codepoint per 'e'),
    * the normalized length (equal to a direct in-place substitution),
    * and the md5 of the normalized UTF-8 bytes — byte-exact cross-engine
    * agreement on the composed output, not just lengths. Oracle: DuckDB's
    * `nfc_normalize` (utf8proc) vs the JDK Normalizer — both UAX #15.
    */
  def q126NfcNormalize(s: SparkSession, d: String): DataFrame = {
    val docs = load(s, d, "documents")
      .filter(col("doc_id") % 7 === 0)
    val acute = "\u0301" // combining acute (chr(769))
    val decomposed = regexp_replace(col("text"), "e", "e" + acute)
    val norm = graft.ext.TextAnalysis.normalizeUnicode(decomposed)
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_orig"),
        length(decomposed).cast("long").as("n_decomposed"),
        length(norm).cast("long").as("n_norm"),
        md5(norm.cast("binary")).as("norm_md5"))
      .orderBy(col("doc_id"))
  }

  private val q126Sql =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_orig,
      |  CAST(length(replace(text, 'e', 'e' || chr(769))) AS BIGINT) AS n_decomposed,
      |  CAST(length(nfc_normalize(replace(text, 'e', 'e' || chr(769)))) AS BIGINT) AS n_norm,
      |  md5(nfc_normalize(replace(text, 'e', 'e' || chr(769)))) AS norm_md5
      |FROM documents
      |WHERE doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin

  /** Identity columns through MERGE ([[graft.io.DeltaMerge.merge]] on a
    * [[graft.io.DeltaWrite.writeDeltaTableIdentity]] table — the r14
    * capability): seed an identity table from a customer slice, merge a
    * source that UPDATES the BUILDING rows (+1000 cents) and INSERTS a
    * disjoint key slice, then pin what the engine contract makes
    * deterministic: per-segment row counts and cent sums (updates landed,
    * inserts landed, carried rows untouched — exact integer cents, the
    * q69/q73 rule), plus the GLOBAL rid sum and max — gap-free minting
    * means the values are exactly 1..n_total regardless of which row got
    * which value, so Σrid = n(n+1)/2 and max = n are cross-engine facts
    * while any per-row rid is deliberately not exposed. The single-row
    * totals broadcast onto the per-segment aggregate (the q106
    * audited-BNLJ pattern). In-query Delta build → Bench skip list
    * (q106 family; b54/b57 bench the standing merge shape).
    */
  def q127IdentityMerge(s: SparkSession, d: String): DataFrame = {
    val dir = Harness.tmp("graft_q127") + "/t"
    val cust = load(s, d, "customer")
    val cents = round(col("c_acctbal") * 100, 0).cast("long")
    graft.io.DeltaWrite.writeDeltaTableIdentity(
      cust.filter(col("c_custkey") % 13 === 0)
        .select(col("c_custkey"), col("c_mktsegment"), cents.as("cents")),
      dir, "rid")
    val src = cust
      .filter(col("c_custkey") % 13 === 0 && col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_mktsegment"), (cents + 1000L).as("cents"))
      .unionByName(cust
        .filter(col("c_custkey") % 13 =!= 0 && col("c_custkey") % 71 === 0)
        .select(col("c_custkey"), col("c_mktsegment"), (cents + 500L).as("cents")))
    graft.io.DeltaMerge.merge(s, dir, src, Seq("c_custkey"))
    val t = graft.io.DeltaRead.readDeltaTable(s, dir).localCheckpoint()
    val tot = t.agg(sum(col("rid")).as("__sum_rid"), max(col("rid")).as("__max_rid"))
    t.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .crossJoin(broadcast(tot))
      .select(col("c_mktsegment"), col("n"), col("sum_cents"),
        col("__sum_rid").as("sum_rid"), col("__max_rid").as("max_rid"))
      .orderBy(col("c_mktsegment"))
  }

  private val q127Sql =
    """WITH seed AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
      |  FROM customer WHERE c_custkey % 13 = 0),
      |ins AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) + 500 AS cents
      |  FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 71 = 0),
      |fin AS (
      |  SELECT c_mktsegment,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN cents + 1000 ELSE cents END AS cents
      |  FROM seed
      |  UNION ALL SELECT c_mktsegment, cents FROM ins),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM fin)
      |SELECT f.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(f.cents) AS BIGINT) AS sum_cents,
      |  CAST(max(t.n_total) * (max(t.n_total) + 1) // 2 AS BIGINT) AS sum_rid,
      |  CAST(max(t.n_total) AS BIGINT) AS max_rid
      |FROM fin f CROSS JOIN tot t
      |GROUP BY f.c_mktsegment
      |ORDER BY f.c_mktsegment""".stripMargin

  /** CDC net-effect reduction — CLAUDE.md's changeDiff consumer
    * discipline as a GATED query (the same reduction
    * [[graft.streaming.AnnCdcSink]] applies per epoch): changeDiff
    * guarantees no row order and a copy-on-write rewrite emits delete AND
    * insert for a SURVIVING row at the same version, so "current state"
    * derives per key from the rows at its HIGHEST `_commit_version` —
    * present iff an insert-type row exists there, with that row's values.
    * The history exercises every hazard: appends, a DV delete, then a
    * COW merge whose file rewrites emit delete+insert pairs for carried
    * rows. The oracle recomputes the final table relationally from the
    * base data; a consumer that applied rows in stream order — or
    * deletes-after-inserts — diverges on exactly the COW commit. In-query
    * Delta build → Bench skip list (b60 benches the standing diff).
    */
  def q128CdcNetState(s: SparkSession, d: String): DataFrame = {
    val dir = Harness.tmp("graft_q128") + "/t"
    val orders = load(s, d, "orders")
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
      cents.as("cents"))
    graft.io.DeltaWrite.writeDeltaTable(
      base.filter(col("o_orderkey") % 3 === 0), dir, "append")     // v0
    graft.io.DeltaWrite.writeDeltaTable(
      base.filter(col("o_orderkey") % 3 =!= 0), dir, "append")     // v1
    graft.io.DeltaMerge.deleteWhereDv(s, dir,
      col("o_orderkey") % 10 === 3)                                // v2
    graft.io.DeltaMerge.merge(s, dir,                              // v3: COW
      base.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("cents") + 7L).as("cents")),
      Seq("o_orderkey"), insertUnmatched = false)
    val ch = graft.io.DeltaRead.changeDiff(s, dir, -1L)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("_change_type").as("__ct"), col("_commit_version").as("__ver"))
      .localCheckpoint()
    val isUp = col("__ct").isin("insert", "update_postimage")
    val vmax = ch.groupBy(col("o_orderkey")).agg(max(col("__ver")).as("__vmax"))
    val fin = ch.join(vmax, Seq("o_orderkey"))
      .filter(col("__ver") === col("__vmax"))
      .groupBy(col("o_orderkey"))
      .agg(first(when(isUp,
        struct(col("o_orderstatus").as("st"), col("cents").as("c"))),
        ignoreNulls = true).as("__fin"))
      .filter(col("__fin").isNotNull)
    fin.select(col("__fin.st").as("o_orderstatus"), col("__fin.c").as("cents"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("o_orderstatus"))
  }

  private val q128Sql =
    """WITH fin AS (
      |  SELECT o_orderstatus,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT)
      |      + CASE WHEN o_orderkey % 100 = 0 THEN 7 ELSE 0 END AS cents
      |  FROM orders WHERE o_orderkey % 10 <> 3)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM fin
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Decontamination AUDIT ([[graft.ext.Similarity.decontaminateAudit]]):
    * q122's screen plus the column a takedown/appeal process actually
    * needs — WHICH benchmark row is behind each flagged training row.
    * The kernel already tracks the argmax for free (smallest eval id on
    * rounded-similarity ties, so the answer is deterministic
    * cross-engine); DuckDB reproduces it as min(eval_id) among the pairs
    * at each candidate's max similarity. Same no-join single-pass plan
    * as q122.
    */
  def q129DecontamAudit(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.ext.Similarity.decontaminateAudit(
      emb.filter(col("vec_id") % 10 =!= 0),
      emb.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", 0.45)
      .select(col("id").as("vec_id"), col("n_matched"), col("max_sim"),
        col("matched_eval_id"))
      .orderBy(col("vec_id"))
  }

  private val q129Sql =
    """WITH p AS (
      |  SELECT t.vec_id AS vec_id, v.vec_id AS eval_id,
      |    round(
      |      list_sum(list_transform(range(1, 65), i -> t.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> t.embedding[i]::DOUBLE * t.embedding[i]::DOUBLE)))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE)))), 6) AS sim
      |  FROM embeddings t JOIN embeddings v
      |    ON t.vec_id % 10 <> 0 AND v.vec_id % 10 = 0),
      |q AS (
      |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matched, max(sim) AS max_sim
      |  FROM p WHERE sim >= 0.45 GROUP BY vec_id)
      |SELECT q.vec_id, q.n_matched, q.max_sim,
      |  CAST(min(p.eval_id) AS BIGINT) AS matched_eval_id
      |FROM q JOIN p ON p.vec_id = q.vec_id AND p.sim = q.max_sim
      |GROUP BY q.vec_id, q.n_matched, q.max_sim
      |ORDER BY q.vec_id""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q126_nfc_normalize" -> (q126NfcNormalize _),
    "q127_identity_merge" -> (q127IdentityMerge _),
    "q128_cdc_net_state" -> (q128CdcNetState _),
    "q129_decontam_audit" -> (q129DecontamAudit _))

  val sql: Map[String, String] = Map(
    "q126_nfc_normalize" -> q126Sql,
    "q127_identity_merge" -> q127Sql,
    "q128_cdc_net_state" -> q128Sql,
    "q129_decontam_audit" -> q129Sql)
}
