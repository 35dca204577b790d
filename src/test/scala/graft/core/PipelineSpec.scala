package graft.core

import graft.SparkSpec
import graft.api.Client
import graft.core.flatten.BronzeSilver
import graft.core.payload.{NdjsonKernel, UploadBuilder}
import graft.io.{BatchedSink, Sources, UploadTransport}
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue

/** End-to-end pipeline specs: bronze→silver refinement, the annotation
  * ndjson kernel over fixture-shaped cells, and the import facade with a
  * mock transport.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def bronzeFixture = spark.read.json(Seq(
    """{"DataRow ID":"dr1","Label":{
         "classifications":[
           {"title":"weather","answer":{"title":"sunny"}},
           {"title":"tags","answers":[{"title":"a"},{"title":"b"}]},
           {"title":"note","answer":"free text"}],
         "objects":[{"title":"car"},{"title":"car"},{"title":"dog"}]}}""",
    """{"DataRow ID":"dr2","Label":{
         "classifications":[{"title":"weather","answer":{"title":"rain"}}],
         "objects":[{"title":"dog"}]}}""").toDS)

  test("bronze→silver: classification columns, object counts, rejoin") {
    val silver = Client.bronzeToSilver(bronzeFixture)
    val byId = silver.collect().map(r => r.getAs[String]("DataRowID") -> r).toMap
    assert(byId.keySet == Set("dr1", "dr2"))
    val r1 = byId("dr1")
    assert(r1.getAs[String]("weather") == "sunny")
    assert(r1.getAs[String]("tags") == "a,b")
    assert(r1.getAs[String]("note") == "free text")
    assert(r1.getAs[Long]("car.count") == 2L)
    assert(r1.getAs[Long]("dog.count") == 1L)
    val r2 = byId("dr2")
    assert(r2.getAs[String]("weather") == "rain")
    assert(r2.isNullAt(r2.fieldIndex("tags")))
    assert(r2.getAs[Long]("dog.count") == 1L)
  }

  test("ndjson kernel parses every fixture cell shape") {
    // Shapes from /root/reference/datasets/annotations.csv via FIXTURES.md.
    val bbox = NdjsonKernel.cellToNdjsons("g", "bbox", "box",
      "[[[1853, 191, 213, 304], []], [[1828, 749, 154, 130], []]]")
    assert(bbox.map(_.geometry) == Seq(
      """{"bbox":{"left":1853,"top":191,"width":213,"height":304}}""",
      """{"bbox":{"left":1828,"top":749,"width":154,"height":130}}"""))

    val nested = NdjsonKernel.cellToNdjsons("g", "bbox", "nb",
      "[[[1813, 1066, 259, 285], ['sample_tool_sub_text_question///Test text']]]")
    assert(nested.head.classifications ==
      Seq(NdjsonKernel.SubClassification("sample_tool_sub_text_question", "Test text")))

    val poly = NdjsonKernel.cellToNdjsons("g", "polygon", "p",
      "[[[[10, 20], [30, 40], [50, 60]], []]]")
    assert(poly.head.geometry ==
      """{"polygon":[{"x":10,"y":20},{"x":30,"y":40},{"x":50,"y":60}]}""")

    val point = NdjsonKernel.cellToNdjsons("g", "point", "pt", "[[[5, 7], []]]")
    assert(point.head.geometry == """{"point":{"x":5,"y":7}}""")

    val mask = NdjsonKernel.cellToNdjsons("g", "mask", "m",
      "[[['pngbytes', [255, 0, 0]], []]]")
    assert(mask.head.geometry ==
      """{"mask":{"png":"pngbytes","colorRGB":[255,0,0]}}""")

    val radio = NdjsonKernel.cellToNdjsons("g", "radio", "r", "sample_radio_answer")
    assert(radio.head.geometry == """{"radio_answer":{"name":"sample_radio_answer"}}""")

    val nestedRadio = NdjsonKernel.cellToNdjsons("g", "radio", "nr",
      "['sample_branch_radio_answer_1///sample_sub_radio_question///sample_sub_radio_answer_1']")
    assert(nestedRadio.head.classifications ==
      Seq(NdjsonKernel.SubClassification("sample_sub_radio_question", "sample_sub_radio_answer_1")))

    val checklist = NdjsonKernel.cellToNdjsons("g", "checklist", "c", "['a', 'b']")
    assert(checklist.head.geometry ==
      """{"checklist_answers":[{"name":"a"},{"name":"b"}]}""")

    val text = NdjsonKernel.cellToNdjsons("g", "text", "t", "free text")
    assert(text.head.geometry == """{"text_answer":{"content":"free text"}}""")
  }

  test("import facade: validate → payload → dedupe → ndjson → batched sink") {
    val table = Seq(
      ("url1", "gk1", "ext1", "[[[1, 2, 3, 4], []]]", "55"),
      ("url2", "gk2", "ext2", null, "66"),
      ("url2b", "gk2", "ext0", null, "77") // duplicate global key, loses (ext0 < ext2)
    ).toDF("row_data", "global_key", "external_id",
      "annotation///bbox///box", "metadata///number///num")

    val sent = new ConcurrentLinkedQueue[String]()
    val transport = new UploadTransport {
      def send(batch: Seq[String]): Int = { batch.foreach(sent.add); batch.size }
    }
    val res = Client.createDataRowsFromTable(
      table, UploadBuilder.Config(datasetId = Some("ds1")), transport, batchSize = 2)

    assert(res.accepted == 2L) // 3 rows - 1 duplicate global key
    assert(sent.size() == 2)
    val payloads = sent.toArray.map(_.toString).sorted
    assert(payloads.exists(_.contains(""""global_key":"gk1"""")))
    assert(payloads.forall(_.contains(""""dataset_id":"ds1"""")))
    assert(payloads.exists(p => p.contains(""""schema_id":"num"""") && p.contains(""""value":"55"""")))
    // the kept gk2 row is the ext2 one (deterministic last-write-wins)
    assert(payloads.exists(_.contains(""""external_id":"ext2"""")))
    assert(!payloads.exists(_.contains(""""external_id":"ext0"""")))

    val nd = res.ndjson.collect()
    assert(nd.length == 1)
    assert(nd.head.global_key == "gk1" &&
      nd.head.geometry == """{"bbox":{"left":1,"top":2,"width":3,"height":4}}""")
  }

  test("path-variant import reads the stored table and matches the in-memory run") {
    val table = Seq(
      ("url1", "gk1", "ext1"),
      ("url2", "gk2", "ext2")
    ).toDF("row_data", "global_key", "external_id")
    val path = java.nio.file.Paths.get(tmp("graft_import_tbl"))
      .resolve("t.parquet").toString
    graft.io.Sources.writeTable(table, path, "overwrite")

    val sent = new ConcurrentLinkedQueue[String]()
    val transport = new UploadTransport {
      def send(batch: Seq[String]): Int = { batch.foreach(sent.add); batch.size }
    }
    val res = Client.createDataRowsFromPath(
      spark, path, UploadBuilder.Config(datasetId = Some("ds9")), transport)
    assert(res.accepted == 2L)
    assert(sent.toArray.map(_.toString).forall(_.contains(""""dataset_id":"ds9"""")))
  }

  test("import facade requires a dataset id") {
    val df = Seq(("u", "g")).toDF("row_data", "global_key")
    val t = new UploadTransport { def send(b: Seq[String]): Int = b.size }
    intercept[IllegalArgumentException] {
      Client.createDataRowsFromTable(df, UploadBuilder.Config(), t)
    }
  }

  test("metadata upsert: updates win, missing keys keep current value") {
    val df = Seq(("k1", "old1"), ("k2", "old2")).toDF("key", "val")
    val updates = Seq(("k1", "new1")).toDF("key", "val")
    val out = Client.upsertTableMetadata(df, updates, "key", "val")
      .orderBy("key").collect().map(_.getString(1)).toSeq
    assert(out == Seq("new1", "old2"))
  }

  test("export: union-of-keys all-string schema, nested→json, null→empty, enrichment") {
    val lines = Seq(
      """{"DataRow ID":"d1","Agreement":"5","nested":{"a":1},"only_in_1":"x"}""",
      """{"DataRow ID":"d2","Agreement":"7","only_in_2":"y"}""").toDS
    val out = Client.exportToTable(spark, lines)
    assert(out.columns.toSet == Set("DataRow ID", "Agreement", "nested", "only_in_1", "only_in_2"))
    assert(out.schema("Agreement").dataType.typeName == "integer") // enriched
    val rows = out.orderBy(col("`DataRow ID`")).collect()
    assert(rows(0).getAs[String]("nested") == """{"a":1}""")
    assert(rows(1).getAs[String]("only_in_1") == "") // null → ""
  }

  test("distributed sink counts via accumulator; driver sink respects batch size") {
    val df = spark.range(25).select(col("id").cast("string").as("p"))
    val acc = spark.sparkContext.longAccumulator("accepted")
    object CountTransport extends UploadTransport {
      def send(b: Seq[String]): Int = b.size
    }
    BatchedSink.uploadDistributed(df, col("p"), CountTransport, batchSize = 10, Some(acc))
    assert(acc.value == 25L)
    val n = BatchedSink.uploadDriverSide(df, col("p"), CountTransport, batchSize = 10)
    assert(n == 25L)
    intercept[IllegalArgumentException] {
      BatchedSink.uploadDriverSide(df, col("p"), CountTransport, batchSize = 99999)
    }
  }

  test("sources: json string scan, csv, write modes, temp view, describe") {
    val df = Sources.jsonStringToDataFrame(spark, """[{"a":1,"b":"x"},{"a":2,"b":"y"}]""")
    assert(df.count() == 2)
    Sources.registerTempView(df, "t_spec")
    assert(spark.sql("SELECT sum(a) FROM t_spec").collect().head.getLong(0) == 3L)
    assert(Sources.listTables(spark).contains("t_spec"))
    assert(Sources.describeColumns(df) == Seq("a" -> "bigint", "b" -> "string"))
    val tmp = this.tmp("graft_sink") + "/t"
    Sources.writeTable(df, tmp, "overwrite")
    assert(Sources.readTable(spark, tmp).count() == 2)
    intercept[IllegalArgumentException] { Sources.writeTable(df, tmp, "error") }
  }

  test("F8/F9 contracts: duplicate keys get executor-side uuid suffixes; now() is query-constant") {
    import graft.core.payload.UploadBuilder
    import spark.implicits._
    val df = Seq("k1", "k1", "k1", "k2", "k3", "k3").toDF("global_key")
    val out = UploadBuilder.suffixDuplicateKeys(df, "global_key")
      .as[String](org.apache.spark.sql.Encoders.STRING).collect()
    assert(out.length == 6 && out.distinct.length == 6, s"keys must be unique: ${out.toSeq}")
    // first occurrence per key keeps the original
    assert(Set("k1", "k2", "k3").subsetOf(out.toSet))
    val uuidSuffix = "^(k1|k3)-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$".r
    val suffixed = out.filterNot(Set("k1", "k2", "k3"))
    assert(suffixed.length == 3 && suffixed.forall(s => uuidSuffix.matches(s)), suffixed.toSeq)
    // F9: current_timestamp is ONE value per query (the semantics a
    // default dataset name / upload-time column relies on)
    val ts = spark.range(1000).repartition(8)
      .select(org.apache.spark.sql.functions.current_timestamp().as("t"))
      .distinct().count()
    assert(ts == 1L)
  }

  test("sources: format-agnostic table IO (ORC) and text-corpus ingest") {
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    val orc = tmp("graft_orc") + "/t"
    Sources.writeTableAs(df, orc, "overwrite", "orc")
    val back = Sources.readTableAs(spark, orc, "orc")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "alpha"), (2L, "beta")))

    val txt = java.nio.file.Paths.get(tmp("graft_txt"))
    java.nio.file.Files.write(txt.resolve("corpus.txt"),
      "first doc\nsecond doc\nfirst doc\n".getBytes)
    val corpus = Sources.readTextCorpus(spark, txt.toString)
    assert(corpus.count() == 3)
    // content-addressed: the duplicate line shares its id; ids rerun-stable
    assert(corpus.select("doc_id").distinct().count() == 2)
    val again = Sources.readTextCorpus(spark, txt.toString)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }
}
