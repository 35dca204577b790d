package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Client
import graft.core.payload.UploadBuilder
import graft.io.{Sources, UploadTransport}
import Main.{OpResult, check}

/** One op = one round of the reference's three pipelines over the seeded
  * Labelbox-shaped inputs: export label JSON to a table, refine bronze to
  * silver, and import a table through the batched sink into an in-memory
  * transport, then materialize the annotation ndjson.
  */
final class Connector(spark: SparkSession, seed: Long, work: String) extends Workload {
  val Labels = 12000
  val ImportRows = 8000

  private val labelsPath = s"$work/connector/labels.jsonl"
  private val importPath = s"$work/connector/import.parquet"
  private var labelTally: Gen.LabelTally = _
  private var importTally: Gen.ImportTally = _

  def prepare(): Unit = {
    new java.io.File(s"$work/connector").mkdirs()
    labelTally = Gen.labels(seed, Labels, labelsPath)
    val (rows, tally) = Gen.importTable(seed, ImportRows)
    importTally = tally
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.ImportSchema)
      .repartition(4).write.mode("overwrite").parquet(importPath)
  }

  def warmup(): Unit = op(-1)

  /** Counts what it is sent and times each call inside its own span. */
  private final class CountingTransport extends UploadTransport {
    val records = new AtomicLong()
    val bytes = new AtomicLong()
    def send(batch: Seq[String]): Int = Trace.span("io.batched_sink:send") {
      batch.foreach { p =>
        check(p.startsWith("{\"data_row\""), s"payload is not an upload record: ${p.take(80)}")
        bytes.addAndGet(p.length)
      }
      records.addAndGet(batch.size)
      batch.size
    }
  }

  /** Materialize `df` through the noop sink with observed aggregates. */
  private def observed(df: DataFrame, name: String, aggs: org.apache.spark.sql.Column*): Map[String, Any] = {
    val obs = Observation(s"$name-${java.util.UUID.randomUUID()}")
    df.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    obs.get
  }

  def op(i: Int): OpResult = {
    // export: label JSON lines → enriched all-string table
    val lines = spark.read.textFile(labelsPath)
    val exported = Trace.span("io.sources:exportToTable")(Client.exportToTable(spark, lines))
    val ex = Trace.span("core.schema:export")(observed(exported, "export", count(lit(1)).as("n")))
    check(ex("n") == Labels.toLong, s"export rows ${ex("n")} != $Labels")

    // bronze → silver: the nested parse of the same lines, flattened
    val bronze = Trace.span("io.sources:jsonLinesToDataFrame")(Sources.jsonLinesToDataFrame(spark, lines))
    val silver = Trace.span("core.flatten:bronzeToSilver")(Client.bronzeToSilver(bronze))
    val titles = Gen.ObjectTitles.filter(t => silver.columns.contains(s"$t.count"))
    val sv = Trace.span("core.flatten:materialize")(observed(silver, "silver",
      (Seq(count(lit(1)).as("n"), count(col("weather")).as("weather")) ++
        titles.map(t => sum(col(s"`$t.count`")).as(t))): _*))
    check(sv("n") == Labels.toLong, s"silver rows ${sv("n")} != $Labels")
    check(sv("weather") == labelTally.weather, s"silver weather answers ${sv("weather")} != ${labelTally.weather}")
    labelTally.objects.foreach { case (t, c) =>
      check(sv.get(t).contains(c), s"silver $t.count total ${sv.get(t)} != $c")
    }

    // import: table → upload payloads through the batched sink, then ndjson
    val table = spark.read.parquet(importPath)
    val transport = new CountingTransport
    val res = Trace.span("core.payload:createDataRowsFromTable")(Client.createDataRowsFromTable(
      table, UploadBuilder.Config(datasetId = Some("ds-bench"), projectId = Some("proj-bench")),
      transport, batchSize = 5000))
    check(res.accepted == importTally.distinctKeys, s"accepted ${res.accepted} != ${importTally.distinctKeys}")
    check(transport.records.get == importTally.distinctKeys, s"sent ${transport.records.get} != ${importTally.distinctKeys}")
    val nd = Trace.span("core.payload:ndjson")(observed(res.ndjson.toDF(), "ndjson",
      count(lit(1)).as("n"), count(col("geometry")).as("g")))
    check(nd("n") == importTally.ndjson, s"ndjson records ${nd("n")} != ${importTally.ndjson}")
    check(nd("g") == importTally.ndjson, s"ndjson records without geometry")

    OpResult("round", Labels.toLong + ImportRows, Map(
      "import_rows" -> ImportRows.toDouble, "ndjson_records" -> importTally.ndjson.toDouble,
      "sink_bytes" -> transport.bytes.get.toDouble))
  }
}
