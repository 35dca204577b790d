package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Delta-log reader against hand-built tables that follow the public
  * protocol layout: versioned JSON commits, partitionValues, a parquet
  * checkpoint + _last_checkpoint pointer, and tombstoned files.
  */
class DeltaReadSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as ONE parquet file named `name` under `table`, returning
    * the log-relative path.
    */
  private def addFile(table: String, name: String, df: DataFrame): String = {
    val staging = tmp("graft_delta_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = Files.list(Paths.get(staging)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dest = Paths.get(table, name)
    Files.createDirectories(dest.getParent)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    name
  }

  private implicit class IterWrap[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }

  private def writeCommit(table: String, version: Long, lines: Seq[String]): Unit = {
    val dir = Paths.get(table, "_delta_log")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(f"$version%020d.json"), lines.mkString("\n"))
  }

  private def schemaJson(df: DataFrame): String = df.schema.json.replace("\"", "\\\"")

  private def fsize(table: String, name: String): Long =
    Files.size(Paths.get(table, name))

  /** `f`'s result, failing when a Spark job failed while it ran: a
    * checkpoint whose fields are stored under other types must be read
    * the right way first, not after a failed job.
    */
  private def noFailedJob[T](f: => T): T = {
    val (out, cost) = meter(f)
    assert(cost.failedJobs == 0, s"${cost.failedJobs} Spark jobs failed")
    out
  }

  test("log replay: adds accumulate, removes tombstone, schema comes from metaData") {
    val table = tmp("graft_delta1")
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d1)
    val f2 = addFile(table, "f2.parquet", Seq((3L, "c")).toDF("id", "v"))
    val f3 = addFile(table, "f3.parquet", Seq((4L, "d")).toDF("id", "v"))

    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"m1","schemaString":"${schemaJson(d1)}","partitionColumns":[]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":${fsize(table, f1)},"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{},"size":${fsize(table, f2)},"dataChange":true}}"""))
    writeCommit(table, 1, Seq(
      s"""{"remove":{"path":"$f2","dataChange":true}}""",
      s"""{"add":{"path":"$f3","partitionValues":{},"size":${fsize(table, f3)},"dataChange":true}}"""))

    val head = DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(head.toSeq == Seq((1L, "a"), (2L, "b"), (4L, "d")))
    // time travel: version 0 still sees f2, not f3
    val v0 = DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L))
      .orderBy("id").collect().map(_.getLong(0))
    assert(v0.toSeq == Seq(1L, 2L, 3L))
    assert(DeltaRead.latestVersion(spark, table) == 1L)
  }

  test("partition columns are re-derived from partitionValues with schema types") {
    val table = tmp("graft_delta2")
    // data files do NOT carry the partition column — the Delta layout
    val full = Seq((1L, 10.0, "2024-01-01"), (2L, 20.0, "2024-01-02"))
      .toDF("id", "x", "day")
    val f1 = addFile(table, "day=2024-01-01/p1.parquet",
      Seq((1L, 10.0)).toDF("id", "x"))
    val f2 = addFile(table, "day=2024-01-02/p2.parquet",
      Seq((2L, 20.0)).toDF("id", "x"))
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"m2","schemaString":"${schemaJson(full)}","partitionColumns":["day"]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{"day":"2024-01-01"},"size":${fsize(table, f1)},"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"day":"2024-01-02"},"size":${fsize(table, f2)},"dataChange":true}}"""))

    val got = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 10.0, "2024-01-01"), (2L, 20.0, "2024-01-02")))
  }

  test("partition pruning: a partition-column filter folds away the other partitions' scans") {
    val table = tmp("graft_delta_pp")
    val full = Seq((1L, "2024-01-01")).toDF("id", "day")
    val f1 = addFile(table, "day=2024-01-01/p1.parquet", Seq(Tuple1(1L)).toDF("id"))
    val f2 = addFile(table, "day=2024-01-02/p2.parquet", Seq(Tuple1(2L)).toDF("id"))
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"mp","schemaString":"${schemaJson(full)}","partitionColumns":["day"]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{"day":"2024-01-01"},"size":${fsize(table, f1)},"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"day":"2024-01-02"},"size":${fsize(table, f2)},"dataChange":true}}"""))
    val pruned = DeltaRead.readDeltaTable(spark, table)
      .filter(col("day") === "2024-01-02")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // hive-style layout → one scan relation; the filter becomes a
    // PARTITION filter inside it, so only the matching directory's rows
    // are ever decoded (plan size independent of partition count)
    val plan = pruned.queryExecution.executedPlan
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(plan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.length == 1, s"expected 1 scan, plan:\n$plan")
    assert(scans.head.metrics("numOutputRows").value == 1L,
      s"partition pruning must decode only the matching partition:\n$plan")
  }

  test("non-hive file layout: partition values come from the log, not the paths") {
    val table = tmp("graft_delta_nh")
    val full = Seq((1L, "x")).toDF("id", "grp")
    val f1 = addFile(table, "flat1.parquet", Seq(Tuple1(1L)).toDF("id"))
    val f2 = addFile(table, "flat2.parquet", Seq(Tuple1(2L)).toDF("id"))
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"mn","schemaString":"${schemaJson(full)}","partitionColumns":["grp"]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{"grp":"g1"},"size":${fsize(table, f1)},"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"grp":"g2"},"size":${fsize(table, f2)},"dataChange":true}}"""))
    val got = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "g1"), (2L, "g2")))
  }

  test("data skipping: add.stats min/max prune whole files before they are opened") {
    val table = tmp("graft_delta_ds")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "r1.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val f2 = addFile(table, "r2.parquet", Seq((10L, "c"), (20L, "d")).toDF("id", "v"))
    val f3 = addFile(table, "r3.parquet", Seq((100L, "e")).toDF("id", "v"))
    def add(f: String, lo: Long, hi: Long, vlo: String, vhi: String, n: Int) =
      s"""{"add":{"path":"$f","partitionValues":{},"size":${fsize(table, f)},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":$n,\\"minValues\\":{\\"id\\":$lo,\\"v\\":\\"$vlo\\"},\\"maxValues\\":{\\"id\\":$hi,\\"v\\":\\"$vhi\\"}}"}}"""
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"md","schemaString":"${schemaJson(d)}","partitionColumns":[]}}""",
      add(f1, 1L, 2L, "a", "b", 2), add(f2, 10L, 20L, "c", "d", 2),
      add(f3, 100L, 100L, "e", "e", 1)))

    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(df.queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numFiles").value
        }.sum
    }
    // id < 5 → only r1's [1,2] range can match; r2/r3 must never be opened
    val lt = DeltaRead.readDeltaTable(spark, table).filter(col("id") < 5)
    assert(lt.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("id") < 5)) == 1L)
    // equality inside one file's range
    assert(filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("id") === 100)) == 1L)
    // range spanning two files
    assert(filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("id") >= 10)) == 2L)
    // no filter → every file
    assert(filesRead(DeltaRead.readDeltaTable(spark, table)) == 3L)
    // IN-list: only files whose [min, max] holds SOME listed value open
    // (the ChangeViewSink repair path's isin filter skips at file level)
    val in = DeltaRead.readDeltaTable(spark, table)
      .filter(col("id").isin(2L, 100L))
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 100L))
    assert(filesRead(DeltaRead.readDeltaTable(spark, table)
      .filter(col("id").isin(2L, 100L))) == 2L)
    // an isin of more than 10 values plans as InSet; it skips exactly the
    // files whose [min, max] holds none of its values
    def inSet(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      DeltaRead.readDeltaTable(spark, table).filter(col("id").isin(ids: _*))
    val wide = (3L to 9L) ++ Seq(15L, 16L, 17L, 18L, 100L)
    assert(inSet(wide).queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet]))))
    assert(inSet(wide).collect().map(_.getLong(0)).toSeq == Seq(100L))
    assert(filesRead(inSet(wide)) == 2L)
    assert(filesRead(inSet((3L to 9L) ++ (21L to 30L))) == 0L)
    assert(filesRead(inSet((30L to 45L) :+ 1L)) == 1L)
    // OR of ranges: union of each side's may-match set
    assert(filesRead(DeltaRead.readDeltaTable(spark, table)
      .filter(col("id") < 3 || col("id") > 50)) == 2L)
    // string prefix: v starts with 'e' → only r3's [e, e] range
    assert(filesReadStr(table, "e") == 1L)
  }

  /** StartsWith skipping needs string stats — a separate tiny fixture. */
  private def filesReadStr(table: String, prefix: String): Long = {
    val df = DeltaRead.readDeltaTable(spark, table)
      .filter(col("v").startsWith(prefix))
    df.collect()
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
  }

  test("typed partition columns: int values parse from the log and prune correctly") {
    val table = tmp("graft_delta_tp")
    val full = Seq((1L, 7)).toDF("id", "bucket")
    val f1 = addFile(table, "b7.parquet", Seq(Tuple1(1L)).toDF("id"))
    val f2 = addFile(table, "b8.parquet", Seq(Tuple1(2L)).toDF("id"))
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"mt","schemaString":"${schemaJson(full)}","partitionColumns":["bucket"]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{"bucket":"7"},"size":${fsize(table, f1)},"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"bucket":"8"},"size":${fsize(table, f2)},"dataChange":true}}"""))
    val df = DeltaRead.readDeltaTable(spark, table)
    assert(df.schema("bucket").dataType.typeName == "integer")
    val got = df.filter(col("bucket") === 8).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2L))
    assert(got.head.getInt(1) == 8)
  }

  test("IsNotNull skips a file whose stats say the column is entirely null") {
    val table = tmp("graft_delta_nn")
    val d = Seq((1L, Option("a"))).toDF("id", "v")
    val f1 = addFile(table, "n1.parquet", Seq((1L, Option("a"))).toDF("id", "v"))
    val f2 = addFile(table, "n2.parquet", Seq((2L, None: Option[String])).toDF("id", "v"))
    def add(f: String, nulls: Int, n: Int) =
      s"""{"add":{"path":"$f","partitionValues":{},"size":${fsize(table, f)},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":$n,\\"nullCount\\":{\\"v\\":$nulls}}"}}"""
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"mn2","schemaString":"${schemaJson(d)}","partitionColumns":[]}}""",
      add(f1, 0, 1), add(f2, 1, 1)))
    val df = DeltaRead.readDeltaTable(spark, table).filter(col("v").isNotNull)
    df.collect()
    val files = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    assert(files == 1L, s"all-null file must be skipped, read $files files")
  }

  test("checkpoint fast path: snapshot parquet + _last_checkpoint, later commits replay on top") {
    val table = tmp("graft_delta3")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d)
    val f2 = addFile(table, "f2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = addFile(table, "f3.parquet", Seq((3L, "c")).toDF("id", "v"))

    // versions 0..1 exist ONLY through the checkpoint (their JSON is gone,
    // as after log cleanup) — add f1+f2 and the metaData
    val sj = d.schema.json
    val cp = spark.sql(
      s"""SELECT named_struct('schemaString', '$sj',
         |  'partitionColumns', array()) AS metaData,
         |  CAST(null AS STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>>) AS add
         |UNION ALL
         |SELECT null, named_struct('path', 'f1.parquet',
         |  'partitionValues', map())
         |UNION ALL
         |SELECT null, named_struct('path', 'f2.parquet',
         |  'partitionValues', map())""".stripMargin)
    val cpStage = tmp("graft_delta_cp")
    cp.coalesce(1).write.mode("overwrite").parquet(cpStage)
    val cpFile = Files.list(Paths.get(cpStage)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val logDir = Paths.get(table, "_delta_log")
    Files.createDirectories(logDir)
    Files.move(cpFile, logDir.resolve(f"${1L}%020d.checkpoint.parquet"))
    Files.writeString(logDir.resolve("_last_checkpoint"), """{"version":1,"size":3}""")
    // version 2: plain JSON commit on top of the checkpoint
    writeCommit(table, 2, Seq(
      s"""{"remove":{"path":"$f1","dataChange":true}}""",
      s"""{"add":{"path":"$f3","partitionValues":{},"size":${fsize(table, f3)},"dataChange":true}}"""))

    val got = noFailedJob(DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(_.getLong(0)))
    assert(got.toSeq == Seq(2L, 3L))
    assert(DeltaRead.latestVersion(spark, table) == 2L)
  }

  test("v2 checkpoint: uuid-named top file + sidecar file actions, later commits replay on top") {
    val table = tmp("graft_delta_v2cp")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d)
    val f2 = addFile(table, "f2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = addFile(table, "f3.parquet", Seq((3L, "c")).toDF("id", "v"))
    val logDir = Paths.get(table, "_delta_log")
    Files.createDirectories(logDir)
    def stageOne(df: DataFrame, dest: java.nio.file.Path): Unit = {
      val stage = tmp("graft_v2cp_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val f = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(dest.getParent)
      Files.move(f, dest)
    }
    // sidecar: ONLY the file actions (f1 + f2 live at the checkpoint)
    stageOne(spark.sql(
      """SELECT named_struct('path', 'f1.parquet', 'partitionValues', map()) AS add
        |UNION ALL
        |SELECT named_struct('path', 'f2.parquet', 'partitionValues', map())""".stripMargin),
      logDir.resolve("_sidecars").resolve("016ae953-sidecar-1.parquet"))
    // top file: protocol (v3 + v2Checkpoint feature), metaData,
    // checkpointMetadata, and the sidecar reference — NO add actions
    val sj = d.schema.json
    stageOne(spark.sql(
      s"""SELECT named_struct('minReaderVersion', 3, 'minWriterVersion', 7,
         |    'readerFeatures', array('v2Checkpoint')) AS protocol,
         |  CAST(null AS STRUCT<schemaString: STRING, partitionColumns: ARRAY<STRING>>) AS metaData,
         |  CAST(null AS STRUCT<version: BIGINT>) AS checkpointMetadata,
         |  CAST(null AS STRUCT<path: STRING, sizeInBytes: BIGINT>) AS sidecar
         |UNION ALL
         |SELECT null, named_struct('schemaString', '$sj', 'partitionColumns', array()),
         |  null, null
         |UNION ALL
         |SELECT null, null, named_struct('version', CAST(1 AS BIGINT)), null
         |UNION ALL
         |SELECT null, null, null,
         |  named_struct('path', '016ae953-sidecar-1.parquet', 'sizeInBytes', CAST(1 AS BIGINT))""".stripMargin),
      logDir.resolve(f"${1L}%020d.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.parquet"))
    Files.writeString(logDir.resolve("_last_checkpoint"), """{"version":1,"size":4}""")
    // version 2: plain JSON commit on top of the v2 checkpoint
    writeCommit(table, 2, Seq(
      s"""{"remove":{"path":"$f1","dataChange":true}}""",
      s"""{"add":{"path":"$f3","partitionValues":{},"size":${fsize(table, f3)},"dataChange":true}}"""))

    val got = noFailedJob(DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(_.getLong(0)))
    assert(got.toSeq == Seq(2L, 3L))
    // time travel INTO the checkpoint state sees f1+f2
    assert(noFailedJob(DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(1L))
      .orderBy("id").collect().map(_.getLong(0)).toSeq) == Seq(1L, 2L))
  }

  test("unknown-mode mapping whose metaData lives only in the checkpoint is rejected") {
    // the steady state after log cleanup: the ONLY metaData action is in the
    // checkpoint parquet — the mapping-mode gate must fire there too, not
    // just on the JSON-commit path
    val table = tmp("graft_delta_cpcm")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d)
    val sj = d.schema.json
    val cp = spark.sql(
      s"""SELECT named_struct('schemaString', '$sj',
         |  'partitionColumns', array(),
         |  'configuration', map('delta.columnMapping.mode', 'unknownmode')) AS metaData,
         |  CAST(null AS STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>>) AS add
         |UNION ALL
         |SELECT null, named_struct('path', 'f1.parquet', 'partitionValues', map())
         |""".stripMargin)
    val cpStage = tmp("graft_delta_cpcm_stage")
    cp.coalesce(1).write.mode("overwrite").parquet(cpStage)
    val cpFile = Files.list(Paths.get(cpStage)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val logDir = Paths.get(table, "_delta_log")
    Files.createDirectories(logDir)
    Files.move(cpFile, logDir.resolve(f"${0L}%020d.checkpoint.parquet"))
    Files.writeString(logDir.resolve("_last_checkpoint"), """{"version":0,"size":2}""")
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTable(spark, table).collect()
    }
    assert(e.getMessage.contains("column mapping"), e.getMessage)
  }

  test("changesSince reads only newly added files; a remove in the range fails loudly") {
    val table = tmp("graft_delta_cs")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "c1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = addFile(table, "c2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = addFile(table, "c3.parquet", Seq((3L, "c")).toDF("id", "v"))
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"mc","schemaString":"${schemaJson(d)}","partitionColumns":[]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":${fsize(table, f1)},"dataChange":true}}"""))
    writeCommit(table, 1, Seq(
      s"""{"add":{"path":"$f2","partitionValues":{},"size":${fsize(table, f2)},"dataChange":true}}"""))
    writeCommit(table, 2, Seq(
      s"""{"add":{"path":"$f3","partitionValues":{},"size":${fsize(table, f3)},"dataChange":true}}"""))
    // the poll pattern: remember latestVersion, read only what landed after
    val since0 = DeltaRead.changesSince(spark, table, fromVersion = 0L)
      .collect().map(_.getLong(0)).sorted
    assert(since0.toSeq == Seq(2L, 3L))
    val since1to2 = DeltaRead.changesSince(spark, table, 1L, toVersion = Some(2L))
      .collect().map(_.getLong(0))
    assert(since1to2.toSeq == Seq(3L))
    assert(DeltaRead.changesSince(spark, table, 2L).count() == 0)
    // a rewrite in the range must fail, not double-count
    writeCommit(table, 3, Seq(s"""{"remove":{"path":"$f1","dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaRead.changesSince(spark, table, 0L)
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("streaming read: log-derived schema, data files stream in, _delta_log stays invisible") {
    val table = tmp("graft_delta_st")
    val d = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val f1 = addFile(table, "s1.parquet", d)
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"ms","schemaString":"${schemaJson(d)}","partitionColumns":[]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":${fsize(table, f1)},"dataChange":true}}"""))
    val stream = DeltaRead.readStreamAppendOnly(spark, table)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq == Seq("id", "v"))
    val q = stream.writeStream.format("memory").queryName("delta_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // only the data file's rows arrive — the checkpoint parquet under
    // _delta_log (underscore-prefixed) must never be listed
    val got = spark.table("delta_stream").orderBy("id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("time travel to a nonexistent or cleaned version fails loudly, never returns wrong data") {
    val table = tmp("graft_delta_tt")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d)
    val f2 = addFile(table, "f2.parquet", Seq((2L, "b")).toDF("id", "v"))
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"mtt","schemaString":"${schemaJson(d)}","partitionColumns":[]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":${fsize(table, f1)},"dataChange":true}}"""))
    writeCommit(table, 1, Seq(
      s"""{"add":{"path":"$f2","partitionValues":{},"size":${fsize(table, f2)},"dataChange":true}}"""))
    // beyond head: version 99 on a 2-version table must throw (was: silently
    // the latest snapshot)
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(99L))
    }
    assert(e.getMessage.contains("time travel"), e.getMessage)
    // in-range versions still resolve
    assert(DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L)).count() == 1L)

    // cleaned pre-checkpoint JSON: travel BELOW the checkpoint must fail
    // (replay would be truncated), travel AT the checkpoint works
    val logDir = Paths.get(table, "_delta_log")
    val cp = spark.sql(
      s"""SELECT named_struct('schemaString', '${d.schema.json}',
         |  'partitionColumns', array()) AS metaData,
         |  CAST(null AS STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>>) AS add
         |UNION ALL
         |SELECT null, named_struct('path', 'f1.parquet', 'partitionValues', map())
         |UNION ALL
         |SELECT null, named_struct('path', 'f2.parquet', 'partitionValues', map())""".stripMargin)
    val cpStage = tmp("graft_delta_tt_cp")
    cp.coalesce(1).write.mode("overwrite").parquet(cpStage)
    val cpFile = Files.list(Paths.get(cpStage)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(cpFile, logDir.resolve(f"${1L}%020d.checkpoint.parquet"))
    Files.writeString(logDir.resolve("_last_checkpoint"), """{"version":1,"size":3}""")
    Files.delete(logDir.resolve(f"${0L}%020d.json")) // log cleanup
    assert(noFailedJob(DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(1L)).count()) == 2L)
    val e2 = intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L))
    }
    assert(e2.getMessage.contains("time travel") || e2.getMessage.contains("cleaned"),
      e2.getMessage)
  }

  test("multi-part checkpoint: _last_checkpoint parts field loads all slices") {
    val table = tmp("graft_delta_mp")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d)
    val f2 = addFile(table, "f2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = addFile(table, "f3.parquet", Seq((3L, "c")).toDF("id", "v"))
    val logDir = Paths.get(table, "_delta_log")
    Files.createDirectories(logDir)
    // part 1: the metaData; part 2: the two adds — no JSON for 0..1 at all
    def cpSlice(sql: String, name: String): Unit = {
      val stage = tmp("graft_delta_mp_cp")
      spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(stage)
      val file = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(file, logDir.resolve(name))
    }
    cpSlice(
      s"""SELECT named_struct('schemaString', '${d.schema.json}',
         |  'partitionColumns', array()) AS metaData,
         |  CAST(null AS STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>>) AS add""".stripMargin,
      f"${1L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    cpSlice(
      s"""SELECT CAST(null AS STRUCT<schemaString: STRING, partitionColumns: ARRAY<STRING>>) AS metaData,
         |  named_struct('path', 'f1.parquet',
         |    'partitionValues', CAST(map() AS MAP<STRING, STRING>)) AS add
         |UNION ALL
         |SELECT null, named_struct('path', 'f2.parquet',
         |  'partitionValues', CAST(map() AS MAP<STRING, STRING>))""".stripMargin,
      f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    Files.writeString(logDir.resolve("_last_checkpoint"), """{"version":1,"size":3,"parts":2}""")
    writeCommit(table, 2, Seq(
      s"""{"add":{"path":"$f3","partitionValues":{},"size":${fsize(table, f3)},"dataChange":true}}"""))
    val got = noFailedJob(DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(_.getLong(0)))
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("streaming a partitioned table is refused — partition values exist only in the log") {
    val table = tmp("graft_delta_sp")
    val full = Seq((1L, "g1")).toDF("id", "grp")
    val f1 = addFile(table, "p1.parquet", Seq(Tuple1(1L)).toDF("id"))
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"msp","schemaString":"${schemaJson(full)}","partitionColumns":["grp"]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{"grp":"g1"},"size":${fsize(table, f1)},"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readStreamAppendOnly(spark, table)
    }
    assert(e.getMessage.contains("unpartitioned"), e.getMessage)
  }

  test("unsupported protocol or column mapping is refused, never silently misread") {
    def table(protocolLine: String, metaExtra: String = ""): String = {
      val t = tmp("graft_delta_proto")
      val df = Seq((1L, "a")).toDF("id", "v")
      val f = addFile(t, "part-0.parquet", df)
      writeCommit(t, 0, Seq(
        protocolLine,
        s"""{"metaData":{"id":"m","schemaString":"${schemaJson(df)}","partitionColumns":[]$metaExtra}}""",
        s"""{"add":{"path":"$f","partitionValues":{},"size":${fsize(t, f)},"dataChange":true}}"""))
      t
    }
    // baseline: version-1 protocol reads fine
    val ok = table("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    assert(DeltaRead.readDeltaTable(spark, ok).count() == 1L)
    // v3 with deletionVectors: SUPPORTED since the DV decoder landed
    // (DeletionVectorSpec covers actual vectors); a feature this reader
    // truly lacks (catalog-coordinated commits it could silently miss)
    // still refuses
    val dv = table("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""")
    assert(DeltaRead.readDeltaTable(spark, dv).count() == 1L)
    val cm0 = table("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["catalogManaged"]}}""")
    val e1 = intercept[Exception](DeltaRead.readDeltaTable(spark, cm0).count())
    assert(e1.getMessage.contains("catalogManaged"), e1.getMessage)
    // v3 with only harmless features still reads
    val ntz = table("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"]}}""")
    assert(DeltaRead.readDeltaTable(spark, ntz).count() == 1L)
    // id-mode column mapping with a schema that carries NO field ids:
    // field-id resolution is impossible — loud failure, never a name-based
    // guess (valid id tables are covered by the dedicated id-mode test)
    val cm = table("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      ""","configuration":{"delta.columnMapping.mode":"id"}""")
    val e2 = intercept[Exception](DeltaRead.readDeltaTable(spark, cm).count())
    assert(e2.getMessage.contains("delta.columnMapping.id"), e2.getMessage)
    // an unknown mapping mode refuses outright
    val um = table("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      ""","configuration":{"delta.columnMapping.mode":"somefuturemode"}""")
    val e3 = intercept[Exception](DeltaRead.readDeltaTable(spark, um).count())
    assert(e3.getMessage.contains("unknown column mapping"), e3.getMessage)
    // name-mode mapping with no physicalName metadata: physical == logical,
    // reads fine (the real rename path is covered by the dedicated test)
    val nm = table("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      ""","configuration":{"delta.columnMapping.mode":"name"}""")
    assert(DeltaRead.readDeltaTable(spark, nm).count() == 1L)
  }

  test("name-mapped table: physical parquet names resolve to logical columns, pruning and skipping intact") {
    import org.apache.spark.sql.types._
    val table = tmp("graft_delta_cm_name")
    def pn(n: String) = Metadata.fromJson(
      s"""{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"$n"}""")
    // logical (id, v{x}, part) stored physically as col-aaa, col-bbb{col-ccc}, col-ppp
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, pn("col-aaa")),
      StructField("v", StructType(Seq(
        StructField("x", LongType, nullable = true, pn("col-ccc")))),
        nullable = true, pn("col-bbb")),
      StructField("part", StringType, nullable = true, pn("col-ppp"))))
    def fileDf(ids: Seq[Long]) = ids.toDF("a")
      .select(col("a").as("col-aaa"),
        struct((col("a") * 10).as("col-ccc")).as("col-bbb"))
    val f1 = addFile(table, "f1.parquet", fileDf(Seq(1L, 2L)))
    val f2 = addFile(table, "f2.parquet", fileDf(Seq(100L, 101L)))
    val sj = logical.json.replace("\"", "\\\"")
    def stats(lo: Long, hi: Long) =
      s"""{\\"numRecords\\":2,\\"minValues\\":{\\"col-aaa\\":$lo},\\"maxValues\\":{\\"col-aaa\\":$hi}}"""
    writeCommit(table, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","schemaString":"$sj","partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      // partitionValues keyed by the PHYSICAL name, per the protocol spec
      s"""{"add":{"path":"$f1","partitionValues":{"col-ppp":"a"},"size":${fsize(table, f1)},"dataChange":true,"stats":"${stats(1, 2)}"}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"col-ppp":"b"},"size":${fsize(table, f2)},"dataChange":true,"stats":"${stats(100, 101)}"}}"""))

    val df = DeltaRead.readDeltaTable(spark, table)
    // logical names all the way out, nested rename included
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    assert(df.schema("v").dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("x"))
    val rows = df.select(col("id"), col("v.x").as("x"), col("part"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, 10L, "a"), (2L, 20L, "a"), (100L, 1000L, "b"), (101L, 1010L, "b")))

    def filesRead(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      d.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    // a LOGICAL-name data filter pushes through the alias to the physical
    // attribute and still skips files via the physical-keyed stats
    assert(filesRead(df.filter(col("id") === 100L)) == 1L)
    // a LOGICAL-name partition filter prunes on the physical partition col
    assert(filesRead(df.filter(col("part") === "a")) == 1L)
    // changesSince serves the same logical view
    val cs = DeltaRead.changesSince(spark, table, -1L)
    assert(cs.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    assert(cs.count() == 4L)
  }

  test("id-mapped table: columns resolve by parquet FIELD ID, pruning and skipping intact") {
    import org.apache.spark.sql.types._
    val table = tmp("graft_delta_cm_id")
    // logical (id, v, part) with mapping ids 1/2/3 and physical names that
    // the data files DO NOT use — in id mode the field id is the authority
    // and file-local column names are free to differ (foreign writers
    // exploit exactly this)
    def m(id: Int, pn: String) = Metadata.fromJson(
      s"""{"delta.columnMapping.id":$id,"delta.columnMapping.physicalName":"$pn"}""")
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, m(1, "pn_one")),
      StructField("v", StringType, nullable = true, m(2, "pn_two")),
      StructField("part", StringType, nullable = true, m(3, "pn_part"))))
    // file columns named x/y, carrying parquet field ids 1/2
    def fid(id: Int) = Metadata.fromJson(s"""{"parquet.field.id":$id}""")
    val fileSchema = StructType(Seq(
      StructField("x", LongType, nullable = true, fid(1)),
      StructField("y", StringType, nullable = true, fid(2))))
    def fileDf(rows: Seq[(Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)), 1), fileSchema)
    val f1 = addFile(table, "f1.parquet", fileDf(Seq((1L, "a"), (2L, "b"))))
    val f2 = addFile(table, "f2.parquet", fileDf(Seq((100L, "c"), (101L, "d"))))
    val sj = logical.json.replace("\"", "\\\"")
    // stats + partitionValues keyed by the PHYSICAL name, per the spec
    def stats(lo: Long, hi: Long) =
      s"""{\\"numRecords\\":2,\\"minValues\\":{\\"pn_one\\":$lo},\\"maxValues\\":{\\"pn_one\\":$hi}}"""
    writeCommit(table, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m","schemaString":"$sj","partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{"pn_part":"a"},"size":${fsize(table, f1)},"dataChange":true,"stats":"${stats(1, 2)}"}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"pn_part":"b"},"size":${fsize(table, f2)},"dataChange":true,"stats":"${stats(100, 101)}"}}"""))

    val df = DeltaRead.readDeltaTable(spark, table)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    val rows = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, "a", "a"), (2L, "b", "a"),
      (100L, "c", "b"), (101L, "d", "b")), rows.toSeq.toString)

    def filesRead(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      d.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    // logical-name data filter → physical-keyed stats skipping still works
    assert(filesRead(df.filter(col("id") === 100L)) == 1L)
    // logical-name partition filter → physical partition pruning
    assert(filesRead(df.filter(col("part") === "a")) == 1L)
    // id tables are WRITABLE: the append stages physical names + footer
    // field ids, and resolves alongside the foreign-named fixture files
    DeltaWrite.writeDeltaTable(Seq((7L, "z", "c")).toDF("id", "v", "part"),
      table, "append", partitionBy = Seq("part"))
    val after = DeltaRead.readDeltaTable(spark, table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(after.toSeq == Seq((1L, "a", "a"), (2L, "b", "a"), (7L, "z", "c"),
      (100L, "c", "b"), (101L, "d", "b")), after.toSeq.toString)
    // copy-on-write DML reads the foreign-named file by id and restages it
    DeltaMerge.deleteWhere(spark, table, col("id") === 1L)
    val afterDel = DeltaRead.readDeltaTable(spark, table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(afterDel.toSeq == Seq((2L, "b", "a"), (7L, "z", "c"),
      (100L, "c", "b"), (101L, "d", "b")), afterDel.toSeq.toString)
  }

  test("changeDiff serves append/DV-delete/COW/RESTORE history exactly (vs snapshot diff)") {
    import org.apache.spark.sql.DataFrame
    val table = tmp("graft_delta_cdiff")
    // v0: 40 rows in several files; v1: append; v2: DV delete; v3: COW
    // delete (rewrite); v4: DV delete that fully shadows a file; v5:
    // RESTORE back to v2 (re-adds removed files, re-exposes DV'd rows)
    DeltaWrite.writeDeltaTable(
      (0L until 40L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4),
      table, "append")                                                  // v0
    DeltaWrite.writeDeltaTable(
      (40L until 50L).map(i => (i, s"v$i")).toDF("id", "v"), table, "append") // v1
    DeltaMerge.deleteWhereDv(spark, table, col("id") % 10 === 3)        // v2
    DeltaMerge.deleteWhere(spark, table, col("id") % 10 === 4)          // v3
    DeltaMerge.deleteWhereDv(spark, table, col("id") < 50)              // v4 (wide)
    DeltaWrite.restore(spark, table, 2L)                                // v5

    def snap(v: Long): Seq[(Long, String)] =
      DeltaRead.readDeltaTable(spark, table, Some(v))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    def applyDiff(base: Seq[(Long, String)], d: DataFrame): Seq[(Long, String)] = {
      // the diff is a multiset keyed by commit version (no row-order
      // contract): replay commits in version order, inserts before
      // deletes within a commit (a COW rewrite emits both for a
      // surviving row at the SAME version — atomic within the commit)
      val rows = d.select("id", "v", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy { case (_, _, ct, cv) => (cv, if (ct == "insert") 0 else 1) }
        .map { case (id, v, ct, _) => (id, v, ct) }
      val counts = scala.collection.mutable.Map[(Long, String), Int]()
      base.foreach(k => counts(k) = counts.getOrElse(k, 0) + 1)
      rows.foreach {
        case (id, v, "insert") => counts((id, v)) = counts.getOrElse((id, v), 0) + 1
        case (id, v, "delete") =>
          val n = counts.getOrElse((id, v), 0)
          assert(n > 0, s"delete of absent row ($id,$v)")
          if (n == 1) counts.remove((id, v)) else counts((id, v)) = n - 1
        case other => fail(s"unexpected change type $other")
      }
      counts.flatMap { case (k, n) => Seq.fill(n)(k) }.toSeq.sorted
    }
    // every single-commit range replays its snapshot transition exactly
    (0L to 5L).sliding(2).foreach { case Seq(a, b) =>
      val d = DeltaRead.changeDiff(spark, table, a, Some(b))
      assert(applyDiff(snap(a), d) == snap(b), s"range ($a,$b] diverged")
      assert(d.select("_commit_version").distinct().collect()
        .forall(_.getLong(0) == b))
    }
    // and the whole-history range composes to the head snapshot
    val whole = DeltaRead.changeDiff(spark, table, -1L)
    assert(applyDiff(Nil, whole) == snap(5L))
    // changesSince still refuses the DV range, naming the remedy
    val e = intercept[IllegalArgumentException] {
      DeltaRead.changesSince(spark, table, 1L, Some(2L))
    }
    assert(e.getMessage.contains("changeDiff"), e.getMessage)
  }

  test("changeDiff plans O(change types) scan legs, not O(files), and refuses cleaned ranges") {
    val table = tmp("graft_delta_cdiff_plan")
    // a many-file, many-commit history: v0 = 20 files, v1 = 20 more,
    // v2 = DV delete (re-adds touched files), v3 = COW delete (rewrites)
    DeltaWrite.writeDeltaTable(
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "v").repartition(20),
      table, "append")                                                   // v0
    DeltaWrite.writeDeltaTable(
      (200L until 400L).map(i => (i, s"v$i")).toDF("id", "v").repartition(20),
      table, "append")                                                   // v1
    DeltaMerge.deleteWhereDv(spark, table, col("id") % 7 === 0)          // v2
    DeltaMerge.deleteWhere(spark, table, col("id") % 7 === 1)            // v3
    val d = DeltaRead.changeDiff(spark, table, -1L)
    d.collect()
    // the old form planned one leg per (file, commit) — 40+ scans with
    // two broadcasts each; the grouped form plans one leg per change type
    val scans = d.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size <= 2, s"expected <=2 scan legs, got ${scans.size}")
    // and the grouped form is still the exact multiset diff: net count
    // equals the head snapshot's row count
    val net = d.groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val head = DeltaRead.readDeltaTable(spark, table).count()
    assert(net.getOrElse("insert", 0L) - net.getOrElse("delete", 0L) == head)

    // cleaned history: checkpoint + cleanup deletes pre-checkpoint commit
    // JSONs → an `earliest` bootstrap must refuse loudly, never silently
    // omit the cleaned commits' rows
    DeltaWrite.checkpoint(spark, table)
    DeltaWrite.cleanupMetadata(spark, table, retentionMs = 0L)
    val e = intercept[IllegalArgumentException] {
      DeltaRead.changeDiff(spark, table, -1L).collect()
    }
    assert(e.getMessage.contains("cleaned"), e.getMessage)
    // every range reader shares the gap check: none serves a partial range
    Seq[() => Unit](
      () => DeltaRead.changesSince(spark, table, -1L).collect(),
      () => DeltaRead.changeFeed(spark, table, -1L).collect()).foreach { read =>
      val e2 = intercept[IllegalArgumentException](read())
      assert(e2.getMessage.contains("cleaned"), e2.getMessage)
    }
  }

  test("id resolution is SCAN-scoped: works with session flags forced off, leaks nothing") {
    import org.apache.spark.sql.types._
    val rk = "spark.sql.parquet.fieldId.read.enabled"
    val wk = "spark.sql.parquet.fieldId.write.enabled"
    val table = tmp("graft_delta_cm_scoped")
    try {
      def m(id: Int, pn: String) = Metadata.fromJson(
        s"""{"delta.columnMapping.id":$id,"delta.columnMapping.physicalName":"$pn"}""")
      val logical = StructType(Seq(
        StructField("id", LongType, nullable = true, m(1, "pn_one")),
        StructField("v", StringType, nullable = true, m(2, "pn_two"))))
      // file columns named x/y — ONLY footer field ids can resolve them
      def fid(id: Int) = Metadata.fromJson(s"""{"parquet.field.id":$id}""")
      val fileSchema = StructType(Seq(
        StructField("x", LongType, nullable = true, fid(1)),
        StructField("y", StringType, nullable = true, fid(2))))
      val f1 = addFile(table, "f1.parquet", spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")), 1),
        fileSchema))
      val sj = logical.json.replace("\"", "\\\"")
      writeCommit(table, 0, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"m","schemaString":"$sj","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}}}""",
        s"""{"add":{"path":"$f1","partitionValues":{},"size":${fsize(table, f1)},"dataChange":true}}"""))
      // fixture written (the session WRITE flag defaults to true, so its
      // footer carries the ids); now force BOTH session flags off — only
      // graft's per-scan option / per-write format can make id I/O work
      spark.conf.set(rk, "false")
      spark.conf.set(wk, "false")

      def rows() = DeltaRead.readDeltaTable(spark, table).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // read resolves by id with the SESSION flag off → the relation
      // option is what carries it
      assert(rows() == Seq((1L, "a"), (2L, "b")))
      // writes stage footer ids with the session WRITE flag off too: the
      // appended file must resolve alongside the foreign-named fixture
      DeltaWrite.writeDeltaTable(Seq((3L, "c")).toDF("id", "v"), table, "append")
      DeltaMerge.merge(spark, table, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
      assert(rows() == Seq((1L, "a"), (2L, "B"), (3L, "c")))
      DeltaWrite.compact(spark, table)
      assert(rows() == Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // and none of it flipped the session flags
      assert(spark.conf.get(rk) == "false", "read flag leaked session-wide")
      assert(spark.conf.get(wk) == "false", "write flag leaked session-wide")
    } finally { spark.conf.unset(rk); spark.conf.unset(wk) }
  }

  test("typeWidening: narrow pre-widening files promote to the log's widened schema") {
    val table = tmp("graft_delta_tw")
    // f1 written with (int, float) — the pre-widening narrow layout
    val narrow = spark.range(1).selectExpr("1 AS a", "CAST(1.5 AS FLOAT) AS b")
    val f1 = addFile(table, "f1.parquet", narrow)
    // f2 written post-widening with (long, double)
    val wide = spark.range(1).selectExpr("CAST(2 AS BIGINT) AS a", "CAST(2.5 AS DOUBLE) AS b")
    val f2 = addFile(table, "f2.parquet", wide)
    val sj = wide.schema.json.replace("\"", "\\\"")
    writeCommit(table, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"]}}""",
      s"""{"metaData":{"id":"m","schemaString":"$sj","partitionColumns":[]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":${fsize(table, f1)},"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{},"size":${fsize(table, f2)},"dataChange":true}}"""))
    val df = DeltaRead.readDeltaTable(spark, table)
    assert(df.schema("a").dataType.typeName == "long")
    assert(df.schema("b").dataType.typeName == "double")
    val rows = df.orderBy("a").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 1.5), (2L, 2.5)), rows.toSeq.toString)
  }

  test("timestampAsOf resolves to the last commit at or before the instant") {
    val table = tmp("graft_delta_ts")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d)
    val f2 = addFile(table, "f2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = addFile(table, "f3.parquet", Seq((3L, "c")).toDF("id", "v"))
    def ci(ts: Long) = s"""{"commitInfo":{"timestamp":$ts,"operation":"WRITE"}}"""
    def add(f: String) =
      s"""{"add":{"path":"$f","partitionValues":{},"size":${fsize(table, f)},"dataChange":true}}"""
    writeCommit(table, 0, Seq(ci(1000),
      s"""{"metaData":{"id":"m","schemaString":"${schemaJson(d)}","partitionColumns":[]}}""",
      add(f1)))
    writeCommit(table, 1, Seq(ci(2000), add(f2)))
    writeCommit(table, 2, Seq(ci(3000), add(f3)))
    assert(DeltaRead.versionAtTimestamp(spark, table, 1500L) == 0L)
    assert(DeltaRead.versionAtTimestamp(spark, table, 2000L) == 1L) // at == inclusive
    assert(DeltaRead.versionAtTimestamp(spark, table, 9999L) == 2L)
    assert(DeltaRead.readDeltaTable(spark, table, timestampAsOf = Some(2500L))
      .count() == 2L)
    // inCommitTimestamps: the in-commit clock beats the wall-clock field
    writeCommit(table, 3, Seq(
      """{"commitInfo":{"timestamp":1,"inCommitTimestamp":4000,"operation":"WRITE"}}""",
      add(f1)))
    assert(DeltaRead.versionAtTimestamp(spark, table, 3999L) == 2L)
    assert(DeltaRead.versionAtTimestamp(spark, table, 4000L) == 3L)
    // before the first commit: loud failure, never a silently later state
    val e = intercept[IllegalArgumentException](
      DeltaRead.versionAtTimestamp(spark, table, 500L))
    assert(e.getMessage.contains("predates"), e.getMessage)
    // the two pins are mutually exclusive
    val e2 = intercept[IllegalArgumentException](
      DeltaRead.readDeltaTable(spark, table,
        versionAsOf = Some(0L), timestampAsOf = Some(2500L)))
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
  }

  test("tableInfo summarizes version, files, bytes, rows, and properties from the log alone") {
    val table = tmp("graft_delta_info")
    val d = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d)
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"m","schemaString":"${schemaJson(d)}","partitionColumns":[],"configuration":{"k":"v"}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":${fsize(table, f1)},"dataChange":true,"stats":"{\\"numRecords\\":2}"}}"""))
    val info = DeltaRead.tableInfo(spark, table).collect().head
    assert(info.getLong(0) == 0L && info.getLong(1) == 1L)
    assert(info.getLong(2) == fsize(table, "f1.parquet"))
    assert(info.getLong(3) == 2L)
    assert(info.getString(5) == "none" && info.getString(6) == "k=v", info.toString)
    // a live file without numRecords → row count is null, never a guess
    val f2 = addFile(table, "f2.parquet", Seq((3L, "c")).toDF("id", "v"))
    writeCommit(table, 1, Seq(
      s"""{"add":{"path":"$f2","partitionValues":{},"size":${fsize(table, f2)},"dataChange":true}}"""))
    val info2 = DeltaRead.tableInfo(spark, table).collect().head
    assert(info2.getLong(0) == 1L && info2.getLong(1) == 2L)
    assert(info2.isNullAt(3), info2.toString)
  }

  test("not-a-delta-table and empty live set fail or return empty cleanly") {
    val notDelta = tmp("graft_delta4")
    intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTable(spark, notDelta)
    }
    val table = tmp("graft_delta5")
    val d = Seq((1L, "a")).toDF("id", "v")
    val f1 = addFile(table, "f1.parquet", d)
    writeCommit(table, 0, Seq(
      s"""{"metaData":{"id":"m","schemaString":"${schemaJson(d)}","partitionColumns":[]}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":${fsize(table, f1)},"dataChange":true}}"""))
    writeCommit(table, 1, Seq(s"""{"remove":{"path":"$f1","dataChange":true}}"""))
    val empty = DeltaRead.readDeltaTable(spark, table)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "v"))
  }
}
