package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 additions: log compaction under the correctness gate. Same
  * gate conventions as [[Queries]].
  */
object QRound12 {
  import Tables._

  /** Log compaction end-to-end ([[graft.io.DeltaWrite.compactLog]] +
    * [[graft.io.DeltaRead.snapshot]]'s segment substitution): build a
    * customer-derived table with two appends, a deletion-vector DELETE
    * (the compacted add must carry its DV descriptor), and a
    * copy-on-write UPDATE (the compacted file must keep the rewrite's
    * remove tombstones — dropping one resurrects pre-update rows), then
    * compact commits 1..3 into ONE `<s>.<e>.compacted.json` and DELETE
    * the covered per-commit JSONs, so the compacted file is the only
    * possible source of that range at replay. A final append lands on
    * top (the writer must version off the compacted head, not re-issue
    * an old number). The emitted aggregate hashes against the oracle's
    * symbolic replay of the four verbs — a dropped tombstone, lost DV,
    * or mis-sequenced segment all break it.
    */
  def q119LogCompaction(s: SparkSession, d: String): DataFrame = {
    val path = new java.io.File(Harness.tmp("graft_q119"), "customer_logc").getAbsolutePath
    val cust = customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    graft.io.DeltaWrite.writeDeltaTable(
      cust.filter(col("c_custkey") % 2 === 0), path, "append")       // v0
    graft.io.DeltaWrite.writeDeltaTable(
      cust.filter(col("c_custkey") % 2 === 1), path, "append")       // v1
    graft.io.DeltaMerge.deleteWhereDv(s, path, col("c_custkey") % 7 === 0) // v2
    graft.io.DeltaMerge.updateWhere(s, path, col("c_custkey") % 5 === 0,
      Map("cents" -> (col("cents") + 11)))                           // v3 (COW)
    graft.io.DeltaWrite.compactLog(s, path, 1L, 3L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    (1L to 3L).foreach { v => // the compacted file is now the only source
      fs.delete(new org.apache.hadoop.fs.Path(path,
        f"_delta_log/$v%020d.json"), false)
    }
    graft.io.DeltaWrite.writeDeltaTable(
      cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("cents", col("cents") + 1000), path, "append")   // v4
    graft.io.DeltaRead.readDeltaTable(s, path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("c_mktsegment"))
  }

  private val q119Sql =
    """WITH base AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg,
      |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c
      |  FROM customer),
      |final AS (
      |  SELECT seg,
      |    c + CASE WHEN k % 5 = 0 THEN 11 ELSE 0 END AS c
      |  FROM base WHERE k % 7 <> 0                     -- v0+v1 minus the DV delete, v3 update
      |  UNION ALL
      |  SELECT seg, c + 1000 FROM base WHERE k % 3 = 0 -- the post-compaction append
      |)
      |SELECT seg AS c_mktsegment, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
      |FROM final
      |GROUP BY seg
      |ORDER BY c_mktsegment""".stripMargin

  /** Heavy-hitter tokens via the bounded Misra-Gries aggregate
    * ([[graft.ext.TextAnalysis.heavyHitters]]): ONE aggregate pass over
    * documents — tokenization happens inside the aggregate's update, so
    * no per-token row ever exists and the shuffle is capacity × partitions
    * rows regardless of corpus size (the exact `explode → groupBy` form
    * shuffles every distinct token). The testdata vocabulary (31 tokens)
    * fits the capacity (64), so Misra-Gries never decrements and the
    * counts are EXACT — hashed against DuckDB's exact aggregation. The
    * approximate regime (capacity < vocabulary) is spec-pinned with the
    * classic retention/underestimate bounds (FreqSketchSpec).
    */
  def q120HeavyHitters(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .agg(graft.ext.TextAnalysis.heavyHitters(col("text"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("token"), col("e.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)
  }

  private val q120Sql =
    """SELECT tok AS token, CAST(count(*) AS BIGINT) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |WHERE tok <> ''
      |GROUP BY tok
      |ORDER BY cnt DESC, token
      |LIMIT 20""".stripMargin

  /** Collocation candidates (phrase-mining prep, the word2vec bigram
    * pass): adjacent-token bigram counts joined with both unigram counts
    * — everything INTEGER-exact, so the consumer can apply any
    * association score (PMI, t-score) without cross-engine float drift
    * in the gate. The token list materializes ONCE per row (a column
    * reference, not a computed subtree — the CLAUDE.md lambda-rebinding
    * trap), bigrams derive from two slices zipped, and the two unigram
    * joins ride the tiny vocabulary.
    */
  def q121Collocations(s: SparkSession, d: String): DataFrame = {
    // ONE corpus scan: unigrams and bigrams ride the same explode (a
    // bigram carries the joining space, a split-produced token cannot),
    // one grouped count, and the tiny gram table localCheckpoints once
    // to feed the bigram side and both unigram joins (the q97 pattern —
    // a re-derived subplan would re-scan the corpus per consumer)
    val grams = documents(s, d)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(explode(concat(col("toks"),
        when(size(col("toks")) >= 2, expr(
          "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), " +
            "(a, b) -> concat(a, ' ', b))"))
          .otherwise(expr("array()")))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val uni = grams.filter(!col("gram").contains(" "))
    grams.filter(col("gram").contains(" "))
      .select(col("gram").as("bigram"), col("c").as("c_ab"),
        split(col("gram"), " ").getItem(0).as("ta"),
        split(col("gram"), " ").getItem(1).as("tb"))
      .join(uni.select(col("gram").as("ta"), col("c").as("c_a")), Seq("ta"))
      .join(uni.select(col("gram").as("tb"), col("c").as("c_b")), Seq("tb"))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"))
      .orderBy(col("c_ab").desc, col("bigram"))
      .limit(20)
  }

  private val q121Sql =
    """WITH t AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |b AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      |  FROM t WHERE len(toks) >= 2),
      |u AS (SELECT unnest(toks) AS tok FROM t),
      |uc AS (SELECT tok, count(*) AS c FROM u GROUP BY tok),
      |bc AS (SELECT bigram, count(*) AS c_ab FROM b GROUP BY bigram)
      |SELECT bc.bigram, CAST(bc.c_ab AS BIGINT) AS c_ab,
      |  CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b
      |FROM bc
      |JOIN uc ua ON ua.tok = string_split(bc.bigram, ' ')[1]
      |JOIN uc ub ON ub.tok = string_split(bc.bigram, ' ')[2]
      |ORDER BY c_ab DESC, bigram
      |LIMIT 20""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q119_log_compaction" -> (q119LogCompaction _),
    "q120_heavy_hitters" -> (q120HeavyHitters _),
    "q121_collocations" -> (q121Collocations _))

  val sql: Map[String, String] = Map(
    "q119_log_compaction" -> q119Sql,
    "q120_heavy_hitters" -> q120Sql,
    "q121_collocations" -> q121Sql)
}
