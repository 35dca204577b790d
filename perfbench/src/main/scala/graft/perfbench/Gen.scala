package graft.perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test only ever sees the files written here.
  */
object Gen {

  // ------------------------------------------------------------ text

  /** The 30-word vocabulary of the synthetic `documents` table. */
  val Vocab: Array[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")

  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** Replace each token with probability `p` (a near-duplicate). */
  def mutate(r: SplittableRandom, ws: Array[String], p: Double): Array[String] =
    ws.map(w => if (r.nextDouble() < p) Vocab(r.nextInt(Vocab.length)) else w)

  val Langs: Array[String] = Array("en", "en", "en", "zh", "de", "es", "fr", "en")

  /** Fisher-Yates shuffle of `a` in place. */
  def shuffle[T](r: SplittableRandom, a: Array[T]): Unit =
    (a.length - 1 to 1 by -1).foreach { k =>
      val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t
    }

  // ------------------------------------------------------ star schema

  /** Uniform [0, 1) per row of `spark.range`, from (id, seed, salt) —
    * independent of partitioning.
    */
  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000007L)).cast("double") / 1000000007.0
  private def below(seed: Long, salt: Int, n: Long): Column = floor(u(seed, salt) * n).cast("long")
  private def pick(seed: Long, salt: Int, vs: Seq[String]): Column =
    element_at(array(vs.map(lit): _*), below(seed, salt, vs.size).cast("int") + 1)
  private def day(seed: Long, salt: Int, from: String, days: Int): Column =
    to_timestamp(date_add(lit(from).cast("date"), below(seed, salt, days).cast("int")))

  /** Row counts of the synthetic star schema at scale factor `sf`, in the
    * proportions of the testdata tables (TESTDATA.md).
    */
  def starCounts(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
    "documents" -> (50000 * sf).toLong, "embeddings" -> (20000 * sf).toLong)

  /** Write the ten star-schema tables (one parquet file each, as in the
    * testdata) under `dir`, with the column names, types and value domains
    * the query registry expects. The writes are independent jobs and run
    * four at a time.
    */
  def starSchema(spark: SparkSession, seed: Long, sf: Double, dir: String): Map[String, Long] = {
    val n = starCounts(sf)
    def range(t: String) = spark.range(0, n(t), 1, 4)
    val tables = Seq.newBuilder[(String, DataFrame)]
    def save(t: String, df: DataFrame): Unit = tables += t -> df
    val s = seed

    save("region", range("region").select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        col("id").cast("int") + 1).as("r_name")))
    save("nation", range("nation").select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", range("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      below(s, 1, 25).cast("int").as("c_nationkey"),
      round(u(s, 2) * 10999.98 - 999.99, 2).as("c_acctbal"),
      pick(s, 3, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")).as("c_mktsegment")))
    save("supplier", range("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      below(s, 4, 25).cast("int").as("s_nationkey"),
      round(u(s, 5) * 10999.98 - 999.99, 2).as("s_acctbal")))
    save("part", range("part").select(col("id").as("p_partkey"),
      concat_ws(" ", pick(s, 6, Seq("blue", "old", "red", "small", "new", "large", "hot", "cold")),
        pick(s, 7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"))).as("p_name"),
      concat(lit("Brand#"), below(s, 8, 25) + 1).as("p_brand"),
      pick(s, 9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (below(s, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10).as("p_retailprice")))
    save("orders", range("orders").select(col("id").as("o_orderkey"),
      below(s, 11, n("customer")).as("o_custkey"),
      pick(s, 12, Seq("O", "P", "F")).as("o_orderstatus"),
      round(u(s, 13) * 499000 + 1000, 2).as("o_totalprice"),
      day(s, 14, "1995-01-01", 2404).as("o_orderdate"),
      pick(s, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    save("lineitem", range("lineitem").select(below(s, 16, n("orders")).as("l_orderkey"),
      below(s, 17, n("part")).as("l_partkey"),
      below(s, 18, n("supplier")).as("l_suppkey"),
      (below(s, 19, 7) + 1).cast("int").as("l_linenumber"),
      (below(s, 20, 50) + 1).cast("double").as("l_quantity"),
      round(u(s, 21) * 104000 + 900, 2).as("l_extendedprice"),
      (below(s, 22, 11).cast("double") / 100).as("l_discount"),
      (below(s, 23, 9).cast("double") / 100).as("l_tax"),
      pick(s, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(s, 25, Seq("O", "F")).as("l_linestatus"),
      day(s, 26, "1995-01-02", 2498).as("l_shipdate")))
    val span = 30L * 86400L * 1000000L
    save("events", range("events").select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * (span / math.max(n("events"), 1L))
        + below(s, 27, 1000000)).as("ts"),
      below(s, 28, math.max(n("events") / 66, 1L)).as("user_id"),
      pick(s, 29, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(u(s, 30) * u(s, 31) * 560.21, 2).as("value"),
      concat(lit("{\"k\": "), below(s, 32, 100), lit("}")).as("props")))
    save("embeddings", range("embeddings").select(col("id").as("vec_id"),
      col("id").as("__i"), below(s, 33, 10).cast("int").as("label"))
      .withColumn("__v", transform(sequence(lit(0), lit(63)), d =>
        pmod(xxhash64(col("label"), d, lit(s)), lit(2001L)).cast("double") / 1000.0 - 1.0
          + pmod(xxhash64(col("__i"), d, lit(s)), lit(2001L)).cast("double") / 2000.0 - 0.5))
      .select(col("vec_id"),
        transform(col("__v"), x => (x / sqrt(aggregate(col("__v"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label")))
    val docs = documents(seed, n("documents").toInt)
    save("documents", spark.createDataFrame(
      java.util.Arrays.asList(docs: _*), DocSchema).repartition(4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tables.result().map { case (t, df) =>
      pool.submit(new Runnable {
        def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      })
    }.foreach(_.get())
    finally pool.shutdownNow()
    n
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** `documents`-shaped rows: vocabulary text of 44..577 characters, 20
    * sources, ~40% English, with a few exact and near-duplicate copies.
    */
  def documents(seed: Long, n: Int): Array[Row] = {
    val r = new SplittableRandom(seed ^ 0x5d0c5L)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 10 && r.nextDouble() < 0.02) texts(r.nextInt(i))
        else if (i > 10 && r.nextDouble() < 0.05)
          mutate(r, texts(r.nextInt(i)).split(" "), 0.05).mkString(" ")
        else {
          val s = words(r, 8 + r.nextInt(90)).mkString(" ")
          s.take(44 + r.nextInt(534))
        }
      texts(i) = text
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }.toArray
  }

  // ---------------------------------------------------------- corpus

  /** The curation corpus: `n` docs, of which `nearShare` are token-level
    * mutations (5% of tokens replaced) of an earlier base doc and
    * `families` planted exact-duplicate families of 2..5 copies each, whose
    * text appears nowhere else.
    */
  final case class Corpus(rows: Array[Row], families: Map[Long, Int])

  def corpus(seed: Long, n: Int, nearShare: Double, families: Int): Corpus = {
    val r = new SplittableRandom(seed ^ 0xc0a905L)
    val fam = scala.collection.mutable.Map[Long, Int]()
    val rows = new Array[Row](n)
    val texts = new Array[String](n)
    var i = 0
    def add(text: String): Unit = {
      texts(i) = text
      rows(i) = Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
      i += 1
    }
    (0 until families).foreach { f =>
      val text = words(r, 40 + r.nextInt(40)).mkString(" ")
      (0 until math.min(2 + r.nextInt(4), n - i)).foreach { _ => fam(i.toLong) = f; add(text) }
    }
    val firstFree = i
    while (i < n) {
      if (i - firstFree > 100 && r.nextDouble() < nearShare) {
        val base = texts(firstFree + r.nextInt(i - firstFree))
        add(mutate(r, base.split(" "), 0.05).mkString(" "))
      } else add(words(r, 30 + r.nextInt(60)).mkString(" "))
    }
    // shuffle positions so families are not one contiguous id block
    val perm = (0 until n).toArray
    shuffle(r, perm)
    val out = perm.zipWithIndex.map { case (src, dst) =>
      val o = rows(src); Row(dst.toLong, o.getString(1), o.getString(2), o.getString(3), o.getLong(4))
    }
    val famOut = perm.zipWithIndex.collect { case (src, dst) if fam.contains(src.toLong) =>
      dst.toLong -> fam(src.toLong) }.toMap
    Corpus(out, famOut)
  }

  // ------------------------------------------------------- connector

  val ObjectTitles: Array[String] = Array("car", "person", "tree", "sign", "dog")
  val Weather: Array[String] = Array("sunny", "rain", "fog")
  val Tags: Array[String] = Array("blurry", "occluded", "night", "crowded")

  /** Tallies the connector checks its outputs against. */
  final case class LabelTally(labels: Int, objects: Map[String, Long], weather: Long)

  /** Label export JSON lines in the reference's flattened-label shape: a
    * nested `Label` with objects and radio / checklist / free-text
    * classifications. A share of rows carries its answers as JSON-encoded
    * strings, which forces the reader to unify struct and string fields.
    */
  def labels(seed: Long, n: Int, path: String): LabelTally = {
    val r = new SplittableRandom(seed ^ 0x1abe1L)
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var weather = 0L
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try (0 until n).foreach { i =>
      val serialized = r.nextDouble() < 0.1
      val objs = (0 until r.nextInt(5)).map { j =>
        val t = ObjectTitles(r.nextInt(ObjectTitles.length))
        counts(t) += 1
        s"""{"featureId":"f-$i-$j","schemaId":"s-$t","title":"$t","value":"$t","color":"#1ce6ff",""" +
          s""""bbox":{"top":${r.nextInt(1000)},"left":${r.nextInt(1000)},"height":${1 + r.nextInt(300)},"width":${1 + r.nextInt(300)}}}"""
      }
      val cls = Seq.newBuilder[String]
      if (r.nextDouble() < 0.8) {
        weather += 1
        val a = Weather(r.nextInt(Weather.length))
        cls += (if (serialized) s"""{"title":"weather","answer":"{\\"title\\": \\"$a\\"}"}"""
          else s"""{"title":"weather","answer":{"title":"$a","value":"$a"}}""")
      }
      if (r.nextDouble() < 0.6) {
        val as = Tags.filter(_ => r.nextDouble() < 0.5)
        cls += (if (serialized)
          s"""{"title":"tags","answers":"[${as.map(a => s"""{\\"title\\": \\"$a\\"}""").mkString(", ")}]"}"""
        else s"""{"title":"tags","answers":[${as.map(a => s"""{"title":"$a","value":"$a"}""").mkString(",")}]}""")
      }
      if (r.nextDouble() < 0.5) cls += s"""{"title":"note","answer":"free text $i"}"""
      val created = f"2023-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00.000Z"
      w.write(s"""{"ID":"lbl-$i","DataRow ID":"dr-$i","Labeled Data":"https://storage.example.com/img-$i.jpg",""" +
        s""""External ID":"img-$i.jpg","Project Name":"proj-${i % 7}","Dataset Name":"ds-${i % 3}",""" +
        s""""Created By":"user${r.nextInt(40)}@example.com","Created At":"$created","Updated At":"$created",""" +
        s""""Seconds to Label":${r.nextInt(600)}.${r.nextInt(10)},"Agreement":${r.nextInt(100)},""" +
        s""""Benchmark Agreement":-1,"Has Open Issues":${r.nextInt(2)},"Skipped":false,""" +
        s""""Label":{"objects":[${objs.mkString(",")}],"classifications":[${cls.result().mkString(",")}]}}""")
      w.newLine()
    } finally w.close()
    LabelTally(n, counts.toMap, weather)
  }

  /** The import table's annotation columns, one per FIXTURES.md cell shape. */
  val AnnotationCols: Seq[String] = Seq(
    "annotation///bbox///sample_bounding_box",
    "annotation///bbox///sample_nested_bounding_box",
    "annotation///polygon///sample_polygon",
    "annotation///polygon///sample_nested_polygon",
    "annotation///point///sample_point",
    "annotation///line///sample_polyline",
    "annotation///mask///sample_segmentation_mask",
    "annotation///radio///sample_radio_question",
    "annotation///checklist///sample_checklist_question",
    "annotation///radio///sample_nested_radio_question",
    "annotation///text///sample_free_text_question")
  val ImportCols: Seq[String] = Seq("row_data", "global_key", "external_id",
    "metadata///string///labelspark-String", "metadata///number///labelspark-Number",
    "metadata///enum///labelspark-Enum", "metadata///datetime///labelspark-Datetime",
    "attachment///image///sample_col_1", "attachment///raw_text///sample_col_4") ++ AnnotationCols

  final case class ImportTally(rows: Int, distinctKeys: Int, ndjson: Long)

  /** Import-table rows with every annotation cell shape, metadata and
    * attachment columns, all strings (as the reference ingests CSVs), and
    * ~5% of rows repeating an earlier row's global key. Duplicate keys keep
    * the row with the greatest external id, so the ndjson tally counts
    * only those rows' annotations.
    */
  def importTable(seed: Long, n: Int): (Array[Row], ImportTally) = {
    val r = new SplittableRandom(seed ^ 0x1a9047L)
    def box = s"[${r.nextInt(2000)}, ${r.nextInt(2000)}, ${1 + r.nextInt(400)}, ${1 + r.nextInt(400)}]"
    def pt = s"[${r.nextInt(2000)}, ${r.nextInt(2000)}]"
    def pts(k: Int) = (0 until k).map(_ => pt).mkString("[", ", ", "]")
    val mask = "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAAAAAA6fptVAAAACklEQVR4nGNgAAAAAgABSK+kcQAAAABJRU5ErkJggg=="
    val keys = new Array[String](n)
    val records = new Array[Int](n)
    val rows = (0 until n).map { i =>
      keys(i) = if (i > 0 && r.nextDouble() < 0.05) keys(r.nextInt(i)) else s"gk-$i-${r.nextInt(1 << 20)}"
      var recs = 0
      def geom(p: Double, k: Int => Int, one: => String, nested: String): String =
        if (r.nextDouble() >= p) null
        else {
          val m = k(r.nextInt(3)); recs += m
          (0 until m).map(_ => s"[$one, [$nested]]").mkString("[", ", ", "]")
        }
      def cell(p: Double, v: => String): String =
        if (r.nextDouble() >= p) null else { recs += 1; v }
      val ann = Seq(
        geom(0.8, 1 + _, box, ""),
        geom(0.4, _ => 1, box, "'sample_tool_sub_text_question///Test text'"),
        geom(0.5, 1 + _, pts(3 + r.nextInt(4)), ""),
        geom(0.3, _ => 1, pts(3), "'sample_tool_sub_radio_question///sample_sub_radio_answer_1'"),
        geom(0.5, 1 + _, pt, ""),
        geom(0.4, 1 + _, pts(2 + r.nextInt(3)), ""),
        geom(0.2, _ => 1, s"['$mask', [${r.nextInt(256)}, ${r.nextInt(256)}, ${r.nextInt(256)}]]", ""),
        cell(0.7, s"sample_radio_answer_${r.nextInt(3)}"),
        cell(0.6, Tags.filter(_ => r.nextBoolean()).map(t => s"'$t'").mkString("[", ", ", "]")),
        cell(0.3, "['sample_branch_radio_answer_1///sample_sub_radio_question///sample_sub_radio_answer_1']"),
        cell(0.5, s"free text $i"))
      records(i) = recs
      Row.fromSeq(Seq(
        s"https://storage.example.com/asset-$i.jpg", keys(i), f"ext-$i%08d",
        s"Raw Text String $i", (r.nextInt(10000)).toString, Seq("A", "B", "C", "D")(r.nextInt(4)),
        f"${1 + r.nextInt(12)}%02d/${1 + r.nextInt(28)}%02d/19${r.nextInt(100)}%02d 12:13 PM",
        s"https://storage.example.com/att-$i.jpg", "Sample Raw Text") ++ ann)
    }.toArray
    // the winner per key is its last row (external ids ascend with i)
    val winners = (0 until n).groupBy(keys(_)).values.map(_.max)
    (rows, ImportTally(n, winners.size, winners.map(records(_).toLong).sum))
  }

  val ImportSchema: StructType = StructType(ImportCols.map(StructField(_, StringType)))

  // ------------------------------------------------------- lakehouse

  /** `orders`-shaped Delta source: keys 0..n-1 with integer cents. */
  def orderCents(seed: Long, n: Int): Array[Long] = {
    val r = new SplittableRandom(seed ^ 0x0dde75L)
    Array.fill(n)(100000L + r.nextLong(49900000L))
  }
  val Statuses: Array[String] = Array("O", "P", "F")
}
