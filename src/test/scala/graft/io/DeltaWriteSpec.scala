package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Write→read round trips of the single-writer Delta commit protocol:
  * every table written by [[DeltaWrite]] must read back exactly through
  * [[DeltaRead]] — replay, time travel, changesSince, pruning, skipping.
  */
class DeltaWriteSpec extends SparkSpec {
  import spark.implicits._

  test("overwrite then append round-trip: replay, time travel, changesSince, latestVersion") {
    val table = tmp("graft_dw1")
    val d0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v0 = DeltaWrite.writeDeltaTable(d0, table, "overwrite")
    assert(v0 == 0L)
    val d1 = Seq((3L, "c")).toDF("id", "v")
    val v1 = DeltaWrite.writeDeltaTable(d1, table, "append")
    assert(v1 == 1L)

    val head = DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(head.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val at0 = DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L))
      .orderBy("id").collect().map(_.getLong(0))
    assert(at0.toSeq == Seq(1L, 2L))
    val changes = DeltaRead.changesSince(spark, table, fromVersion = 0L)
      .collect().map(_.getLong(0))
    assert(changes.toSeq == Seq(3L))
    assert(DeltaRead.latestVersion(spark, table) == 1L)
  }

  test("overwrite tombstones the previous live set; time travel still sees it") {
    val table = tmp("graft_dw2")
    DeltaWrite.writeDeltaTable(Seq((1L, "old")).toDF("id", "v"), table, "overwrite")
    DeltaWrite.writeDeltaTable(Seq((2L, "new")).toDF("id", "v"), table, "overwrite")
    val head = DeltaRead.readDeltaTable(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(head.toSeq == Seq((2L, "new")))
    val at0 = DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(at0.toSeq == Seq((1L, "old")))
  }

  test("partitioned write: hive layout, values ride the log, pruning decodes one partition") {
    val table = tmp("graft_dw3")
    val d = Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"))
      .toDF("id", "day")
    DeltaWrite.writeDeltaTable(d, table, "overwrite", partitionBy = Seq("day"))
    val back = DeltaRead.readDeltaTable(spark, table)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02")))
    val pruned = back.filter(col("day") === "2024-01-01")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(pruned.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }
    assert(scans.sum == 1L, "partition pruning must decode only the matching partition")
  }

  test("footer stats skip whole files on the writer's own output") {
    val table = tmp("graft_dw4")
    // three appends → three files with disjoint id ranges
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), table, "overwrite")
    DeltaWrite.writeDeltaTable(
      Seq((10L, "c"), (20L, "d")).toDF("id", "v").coalesce(1), table, "append")
    DeltaWrite.writeDeltaTable(
      Seq((100L, "e")).toDF("id", "v").coalesce(1), table, "append")
    val df = DeltaRead.readDeltaTable(spark, table).filter(col("id") < 5)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val files = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    assert(files == 1L, s"stats must prune the out-of-range files, read $files")
  }

  test("checkpoint bounds replay: pre-checkpoint JSON can be cleaned, reads stay exact") {
    val table = tmp("graft_dw5")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "overwrite")
    DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("id", "v"), table, "append")
    val cpV = DeltaWrite.checkpoint(spark, table)
    assert(cpV == 1L)
    DeltaWrite.writeDeltaTable(Seq((3L, "c")).toDF("id", "v"), table, "append")
    // simulate log cleanup of everything the checkpoint covers
    Files.delete(Paths.get(table, "_delta_log", f"${0L}%020d.json"))
    Files.delete(Paths.get(table, "_delta_log", f"${1L}%020d.json"))
    val got = DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 3L))
    // incremental consumers keep working past the checkpoint
    assert(DeltaRead.changesSince(spark, table, 1L).collect().map(_.getLong(0)).toSeq
      == Seq(3L))
  }

  test("multi-part checkpoint write: slices publish under protocol naming, replay stays exact") {
    val table = tmp("graft_dw_mpcp")
    DeltaWrite.writeDeltaTable(
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v").repartition(5),
      table, "overwrite")                                                       // v0
    DeltaWrite.writeDeltaTable(Seq((100L, "x")).toDF("id", "v"), table, "append",
      partitionBy = Nil, txn = Some(("mp", 3L)))                                // v1
    val cpV = DeltaWrite.checkpoint(spark, table, parts = 3)
    assert(cpV == 1L)
    val names = new java.io.File(table, "_delta_log").listFiles().map(_.getName)
    val slices = names.filter(_.matches(raw"0*1\.checkpoint\.\d{10}\.\d{10}\.parquet"))
    assert(slices.length >= 2, names.mkString(", "))
    // the checkpoint is the only record once the covered JSONs clean away
    assert(DeltaWrite.cleanupMetadata(spark, table, retentionMs = 0L).nonEmpty)
    assert(DeltaRead.readDeltaTable(spark, table).count() == 21L)
    assert(DeltaWrite.lastTxnVersion(spark, table, "mp") == 3L)
    DeltaWrite.writeDeltaTable(Seq((101L, "y")).toDF("id", "v"), table, "append") // v2
    assert(DeltaRead.changesSince(spark, table, 1L)
      .collect().map(_.getLong(0)).toSeq == Seq(101L))
  }

  test("v2 checkpoint write: uuid top + _sidecars slices, sole replay record, DV + txn survive") {
    val table = tmp("graft_dw_v2cp")
    DeltaWrite.writeDeltaTable(
      (0L until 30L).map(i => (i, s"v$i")).toDF("id", "v").repartition(5),
      table, "overwrite")                                                       // v0
    DeltaWrite.writeDeltaTable(Seq((100L, "x")).toDF("id", "v"), table, "append",
      partitionBy = Nil, txn = Some(("v2app", 7L)))                             // v1
    DeltaMerge.deleteWhereDv(spark, table, col("id") % 10 === 3)                // v2
    val cpV = DeltaWrite.checkpointV2(spark, table, sidecarParts = 2)
    assert(cpV == 2L)
    val logNames = new java.io.File(table, "_delta_log").listFiles().map(_.getName)
    val top = logNames.filter(_.matches(
      raw"0*2\.checkpoint\.[0-9a-f-]{36}\.parquet"))
    assert(top.length == 1, logNames.mkString(", "))
    val sidecars = new java.io.File(table, "_delta_log/_sidecars").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(sidecars.length == 2, sidecars.mkString(", "))
    def rows() = DeltaRead.readDeltaTable(spark, table)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val expect = ((0L until 30L) ++ Seq(100L)).filterNot(_ % 10 == 3)
    assert(rows() == expect)
    // the v2 checkpoint becomes the ONLY record: cleaned JSONs, replay
    // through top + sidecars — rows, the deletion vector, and the txn
    // high-water mark all survive
    assert(DeltaWrite.cleanupMetadata(spark, table, retentionMs = 0L).nonEmpty)
    assert(rows() == expect)
    assert(DeltaWrite.lastTxnVersion(spark, table, "v2app") == 7L)
    // and the table stays writable past it
    DeltaWrite.writeDeltaTable(Seq((101L, "y")).toDF("id", "v"), table, "append") // v3
    assert(DeltaRead.changesSince(spark, table, 2L)
      .collect().map(_.getLong(0)).toSeq == Seq(101L))
    // a LATER v2 checkpoint supersedes: the old top file and its now-
    // unreferenced sidecars clean away, the new ones survive
    DeltaWrite.checkpointV2(spark, table)                                       // at v3
    val cleaned = DeltaWrite.cleanupMetadata(spark, table, retentionMs = 0L)
    assert(sidecars.forall(s => cleaned.contains(s"_sidecars/$s")), cleaned.toString)
    assert(cleaned.exists(_.startsWith(top.head.take(22))), cleaned.toString)
    assert(rows() == (expect :+ 101L).sorted)
  }

  test("cleanupMetadata deletes checkpoint-covered commits past retention, nothing else") {
    val table = tmp("graft_dw_lc")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "overwrite") // v0
    DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("id", "v"), table, "append")    // v1
    DeltaWrite.checkpoint(spark, table) // at 1
    DeltaWrite.writeDeltaTable(Seq((3L, "c")).toDF("id", "v"), table, "append",
      partitionBy = Nil, txn = Some(("app", 9L)))                                  // v2
    // no checkpoint pointer → nothing deleted (replay has no anchor)
    val bare = tmp("graft_dw_lc2")
    DeltaWrite.writeDeltaTable(Seq((1L, "x")).toDF("id", "v"), bare, "append")
    assert(DeltaWrite.cleanupMetadata(spark, bare, retentionMs = 0L).isEmpty)

    val deleted = DeltaWrite.cleanupMetadata(spark, table, retentionMs = 0L)
    // v0 and v1 JSONs are covered by the checkpoint; v2 and the checkpoint
    // itself survive
    assert(deleted.toSet == Set(f"${0L}%020d.json", f"${1L}%020d.json"), deleted)
    assert(DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(DeltaRead.latestVersion(spark, table) == 2L)
    // txn high-water marks and incremental reads keep working
    assert(DeltaWrite.lastTxnVersion(spark, table, "app") == 9L)
    assert(DeltaRead.changesSince(spark, table, 1L)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // time travel to a cleaned version fails loudly, never wrong data
    val e = intercept[IllegalArgumentException] {
      DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L)).collect()
    }
    assert(e.getMessage.contains("time travel"), e.getMessage)

    // a later checkpoint supersedes the earlier one: the old checkpoint
    // file becomes expendable too
    DeltaWrite.checkpoint(spark, table) // at 2
    val deleted2 = DeltaWrite.cleanupMetadata(spark, table, retentionMs = 0L)
    assert(deleted2.contains(f"${1L}%020d.checkpoint.parquet"), deleted2)
    assert(DeltaRead.readDeltaTable(spark, table).count() == 3L)
  }

  test("inCommitTimestamps: enabled tables stamp a strictly monotone in-commit clock") {
    val table = tmp("graft_dw_ict")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "append") // v0: off
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableInCommitTimestamps" -> "true")) // v1: the enablement commit stamps itself
    DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("id", "v"), table, "append") // v2
    DeltaMerge.updateWhere(spark, table, col("id") === 1L, Map("v" -> lit("A"))) // v3
    assert(DeltaWrite.compact(spark, table) == 4L) // v4: maintenance stamps too
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def ict(v: Long): Option[Long] = {
      val content = new String(java.nio.file.Files.readAllBytes(
        Paths.get(table, "_delta_log", f"$v%020d.json")), "UTF-8")
      content.linesIterator.filter(_.contains("commitInfo")).map(mapper.readTree)
        .collectFirst { case n if n.has("commitInfo") =>
          Option(n.get("commitInfo").get("inCommitTimestamp")).map(_.asLong()) }.flatten
    }
    assert(ict(0L).isEmpty, "pre-enablement commits carry no in-commit clock")
    val vals = (1L to 4L).flatMap(v => ict(v))
    assert(vals.size == 4, vals)
    assert(vals == vals.sorted && vals.distinct == vals,
      s"in-commit clock not strictly monotone: $vals")
    // the in-commit clock is authoritative for timestamp time travel
    assert(DeltaRead.versionAtTimestamp(spark, table, vals(1)) == 2L)
    assert(DeltaRead.readDeltaTable(spark, table, timestampAsOf = Some(vals(1)))
      .count() == 2L)
    // a shallow clone carries the configuration: its version 0, which has
    // no commit before it, stamps the clock too
    val clone = tmp("graft_dw_ict_clone")
    assert(DeltaWrite.cloneShallow(spark, table, clone) == 0L)
    assert(new String(java.nio.file.Files.readAllBytes(
      Paths.get(clone, "_delta_log", f"${0L}%020d.json")), "UTF-8").contains("inCommitTimestamp"))
  }

  test("writer protocol gate: appendOnly, unhonored writer features, schema obligations refuse") {
    import org.apache.hadoop.fs.Path
    // delta.appendOnly: appends land, anything removing data refuses,
    // dataChange=false maintenance keeps its carve-out
    val table = tmp("graft_dw_wp")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "append")
    DeltaWrite.setTableProperties(spark, table, Map("delta.appendOnly" -> "true"))
    DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("id", "v"), table, "append")
    val e1 = intercept[IllegalArgumentException] {
      DeltaMerge.deleteWhere(spark, table, col("id") === 1L) }
    assert(e1.getMessage.contains("appendOnly"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(Seq((9L, "z")).toDF("id", "v"), table, "overwrite") }
    assert(e2.getMessage.contains("appendOnly"), e2.getMessage)
    assert(DeltaWrite.compact(spark, table) >= 1L) // maintenance allowed
    assert(DeltaRead.readDeltaTable(spark, table).count() == 2L)

    // a writer feature this engine does not honor refuses every commit
    val t2 = tmp("graft_dw_wp2")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), t2, "append")
    val fs = new Path(t2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeltaWrite.publishCommit(fs, new Path(t2, "_delta_log"), 1L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"UPGRADE","operationParameters":{},"engineInfo":"other"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV2"]}}"""))
    val e3 = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("id", "v"), t2, "append") }
    assert(e3.getMessage.contains("icebergCompatV2"), e3.getMessage)
    // reads stay fine — the gate is writer-side only
    assert(DeltaRead.readDeltaTable(spark, t2).count() == 1L)

    // schema-embedded generation expressions are HONORED: a matching
    // batch lands, a violating batch refuses (foreign-created table)
    val t3 = tmp("graft_dw_wp3")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import org.apache.spark.sql.types._
    val genSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("twice", LongType, nullable = true,
        Metadata.fromJson("""{"delta.generationExpression":"id * 2"}"""))))
    DeltaWrite.publishCommit(fs, new Path(t3, "_delta_log"), 0L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"CREATE","operationParameters":{},"engineInfo":"other"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"id":"g","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(genSchema.json)},"partitionColumns":[],"configuration":{},"createdTime":1}}"""))
    DeltaWrite.writeDeltaTable(Seq((1L, 2L)).toDF("id", "twice"), t3, "append")
    val e4 = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(Seq((5L, 11L)).toDF("id", "twice"), t3, "append") }
    assert(e4.getMessage.contains("generated column"), e4.getMessage)
    assert(DeltaRead.readDeltaTable(spark, t3).count() == 1L)
  }

  test("a rename-only batch is refused: schema comparison checks field NAMES") {
    val table = tmp("graft_dw_rn")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "append")
    // same types, renamed column — structurally equal, must still refuse
    // (the files would stage under wrong parquet names and null-fill forever)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("id", "renamed"),
        table, "append") }
    assert(e.getMessage.contains("does not match table schema"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DeltaMerge.merge(spark, table,
        Seq((1L, "x")).toDF("id", "renamed"), Seq("id")) }
    assert(e2.getMessage.contains("must match table"), e2.getMessage)
    // and a rename-only OVERWRITE publishes a fresh metaData (not silently
    // the old schema)
    DeltaWrite.writeDeltaTable(Seq((3L, "c")).toDF("id", "renamed"),
      table, "overwrite")
    assert(DeltaRead.readDeltaTable(spark, table).columns.toSeq ==
      Seq("id", "renamed"))
    assert(DeltaRead.readDeltaTable(spark, table).select("renamed")
      .collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("append with a different schema or partitioning is refused; bad modes are refused") {
    val table = tmp("graft_dw6")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "overwrite")
    val e1 = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(Seq((1L, 2.0)).toDF("id", "x"), table, "append")
    }
    assert(e1.getMessage.contains("schema"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "append",
        partitionBy = Seq("v"))
    }
    assert(e2.getMessage.contains("partitioning"), e2.getMessage)
    intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "errorifexists")
    }
    // overwrite MAY change the schema
    DeltaWrite.writeDeltaTable(Seq((1L, 2.0)).toDF("id", "x"), table, "overwrite")
    assert(DeltaRead.readDeltaTable(spark, table).schema.fieldNames.toSeq == Seq("id", "x"))
  }

  test("mergeSchema append: new column appends, old files null-fill, time travel keeps v0 schema") {
    val table = tmp("graft_dw_evo1")
    DeltaWrite.writeDeltaTable(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table, "append")
    // evolved batch adds `extra`
    DeltaWrite.writeDeltaTable(
      Seq((3L, "c", 30L)).toDF("id", "v", "extra"), table, "append",
      Nil, None, mergeSchema = true)
    val head = DeltaRead.readDeltaTable(spark, table)
    assert(head.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    val got = head.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)))
    // pre-evolution version replays with the ORIGINAL two-column schema
    val at0 = DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L))
    assert(at0.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(at0.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("mergeSchema append: batch may LACK table columns (null-filled), types may not change") {
    val table = tmp("graft_dw_evo2")
    DeltaWrite.writeDeltaTable(Seq((1L, "a", 10L)).toDF("id", "v", "n"), table, "append")
    // narrower batch: no `n` column — its rows read back as null
    DeltaWrite.writeDeltaTable(
      Seq((2L, "b")).toDF("id", "v"), table, "append", Nil, None, mergeSchema = true)
    val head = DeltaRead.readDeltaTable(spark, table)
    assert(head.schema.fieldNames.toSeq == Seq("id", "v", "n"))
    val got = head.orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq == Seq((1L, 10L), (2L, -1L)))
    // a type change is refused even under mergeSchema
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(
        Seq((3L, "c", 3.5)).toDF("id", "v", "n"), table, "append",
        Nil, None, mergeSchema = true)
    }
    assert(e.getMessage.contains("changes the type"), e.getMessage)
  }

  test("single-writer guard: a concurrent commit at the same version fails loudly") {
    val table = tmp("graft_dw7")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "overwrite")
    // this writer computed version 1; another writer lands it first — the
    // publish must fail, not clobber (drive the race window directly)
    Files.writeString(Paths.get(table, "_delta_log", f"${1L}%020d.json"),
      """{"commitInfo":{"operation":"WRITE"}}""")
    val logDir = new org.apache.hadoop.fs.Path(table, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[java.util.ConcurrentModificationException] {
      DeltaWrite.publishCommit(fs, logDir, 1L, Seq("""{"commitInfo":{}}"""))
    }
    // the losing commit leaves no tmp debris behind
    val leftovers = Files.list(Paths.get(table, "_delta_log")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".tmp")).toSeq
    assert(leftovers.isEmpty, leftovers.toString)
  }

  private implicit class IterWrap[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }

  test("txn markers: exactly-once epochs survive replay, checkpoint, and log cleanup") {
    val table = tmp("graft_dw_txn")
    val b1 = Seq((2L, "b")).toDF("id", "v")
    assert(graft.streaming.DeltaStreamSink.writeBatch(
      Seq((1L, "a")).toDF("id", "v"), table, "app1", 0L))
    assert(graft.streaming.DeltaStreamSink.writeBatch(b1, table, "app1", 1L))
    // crash-replay of epoch 1: the txn high-water mark skips it
    assert(!graft.streaming.DeltaStreamSink.writeBatch(b1, table, "app1", 1L))
    assert(DeltaWrite.lastTxnVersion(spark, table, "app1") == 1L)
    assert(DeltaWrite.lastTxnVersion(spark, table, "elsewhere") == -1L)
    assert(DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // the checkpoint carries the mark; replay stays skipped after cleanup
    DeltaWrite.checkpoint(spark, table)
    Files.delete(Paths.get(table, "_delta_log", f"${0L}%020d.json"))
    Files.delete(Paths.get(table, "_delta_log", f"${1L}%020d.json"))
    assert(DeltaWrite.lastTxnVersion(spark, table, "app1") == 1L)
    assert(!graft.streaming.DeltaStreamSink.writeBatch(b1, table, "app1", 1L))
    // an independent appId has its own epoch counter on the same table
    assert(graft.streaming.DeltaStreamSink.writeBatch(
      Seq((3L, "c")).toDF("id", "v"), table, "app2", 0L))
    assert(DeltaWrite.lastTxnVersion(spark, table, "app2") == 0L)
  }

  test("streaming append sink: a real stream commits per epoch and a rerun adds nothing") {
    val base = tmp("graft_dw_stream")
    val srcDir = s"$base/src"
    val table = s"$base/table"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$srcDir/b0")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    def runOnce(ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$srcDir/b*")
      val q = graft.streaming.DeltaStreamSink.append(stream, table, "ingest", ckpt)
      q.awaitTermination(120000)
    }
    runOnce(s"$base/ckpt")
    assert(DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // a FRESH checkpoint replays batch 0 from scratch — the txn guard must
    // make the redelivery a no-op instead of doubling every row
    runOnce(s"$base/ckpt2")
    assert(DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("merge sink: epochs upsert exactly-once; a replayed non-idempotent batch is skipped whole") {
    import graft.streaming.DeltaMergeSink
    val table = tmp("graft_dw_msink")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"), table, "append")
    // epoch 0 upserts: update id=2, insert id=3
    val b0 = Seq((2L, "B", 200L), (3L, "c", 30L)).toDF("id", "v", "n")
    assert(DeltaMergeSink.mergeBatch(b0, table, Seq("id"), "ups", 0L))
    def state() = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(state() == Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L)))
    // crash-replay of epoch 0: skipped whole — an upsert is NOT naturally
    // idempotent, the txn mark in the same commit is what makes it so
    assert(!DeltaMergeSink.mergeBatch(b0, table, Seq("id"), "ups", 0L))
    assert(state() == Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L)))
    // a real stream of upserts through the sink, end to end
    val base = tmp("graft_dw_msink_src")
    Seq((1L, "A", 11L)).toDF("id", "v", "n").write.parquet(s"$base/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema).parquet(s"$base/b*")
    val q = DeltaMergeSink.upsert(stream, table, Seq("id"), "ups2",
      s"$base/ckpt", outputMode = "append")
    q.awaitTermination(120000)
    assert(state() == Seq((1L, "A", 11L), (2L, "B", 200L), (3L, "c", 30L)))
  }

  test("OPTIMIZE bin-packs small files as dataChange=false; rows, travel, tail stay exact") {
    val table = tmp("graft_dw_opt")
    (0 until 5).foreach { i =>
      DeltaWrite.writeDeltaTable(Seq((i.toLong, s"v$i")).toDF("id", "v"), table, "append")
    }
    val liveBefore = DeltaRead.snapshot(spark, table).files
    assert(liveBefore.size == 5)
    val v = DeltaWrite.compact(spark, table, targetBytes = 8L * 1024 * 1024)
    assert(v == 5L)
    val liveAfter = DeltaRead.snapshot(spark, table).files
    assert(liveAfter.size == 1, liveAfter.map(_.path).toString)
    // rewritten file keeps footer stats (skipping works on compacted output)
    assert(liveAfter.head.stats.nonEmpty)
    assert(DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (0 until 5).map(i => (i.toLong, s"v$i")))
    // time travel to the pre-OPTIMIZE version still replays the small files
    assert(DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(4L))
      .orderBy("id").collect().map(_.getLong(0)).toSeq == (0L to 4L))
    // the maintenance commit is invisible to incremental consumers
    assert(DeltaRead.changesSince(spark, table, fromVersion = 4L).count() == 0L)
    // appends after the OPTIMIZE flow through the tail as usual
    DeltaWrite.writeDeltaTable(Seq((9L, "v9")).toDF("id", "v"), table, "append")
    assert(DeltaRead.changesSince(spark, table, fromVersion = 4L)
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    // nothing small left to do (the lone compacted file is under target)
    assert(DeltaWrite.compact(spark, table, 8L * 1024 * 1024, minFiles = 3) == -1L)
  }

  test("OPTIMIZE ZORDER: reclustered files make stats skipping selective on both columns") {
    val table = tmp("graft_dw_zorder")
    // 8 commits of shuffled data: every file spans the full (a, b) range,
    // so BEFORE z-ordering no point predicate can skip anything
    val n = 4096
    (0 until 8).foreach { i =>
      val part = spark.range(n).selectExpr(
        s"CAST((id * 37 + $i) % $n AS BIGINT) AS a",
        s"CAST((id * 101 + $i * 7) % $n AS BIGINT) AS b",
        "CAST(id AS STRING) AS v")
      DeltaWrite.writeDeltaTable(part.coalesce(1), table, "append")
    }
    val before = DeltaRead.readDeltaTable(spark, table)
      .agg(count(lit(1)), sum(col("a")), sum(col("b"))).head()
    def filesRead(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      d.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val total = DeltaRead.snapshot(spark, table).files.size
    assert(total == 8)
    val unskipped = filesRead(
      DeltaRead.readDeltaTable(spark, table).filter(col("a") < 100))
    assert(unskipped == 8L, s"shuffled files should all scan, got $unskipped")

    val v = DeltaWrite.compactZOrder(spark, table, "a", "b",
      targetBytes = 32 * 1024)
    assert(v >= 8L)
    // data identical, history intact, tail readers see no change
    val after = DeltaRead.readDeltaTable(spark, table)
      .agg(count(lit(1)), sum(col("a")), sum(col("b"))).head()
    assert(after == before, s"$after vs $before")
    assert(DeltaRead.changesSince(spark, table, v - 1).count() == 0L)
    // now point/range predicates on EITHER dimension skip most files
    val files = DeltaRead.snapshot(spark, table).files.size
    assert(files >= 4, s"expected several z-files, got $files")
    val fa = filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("a") < 100))
    val fb = filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("b") < 100))
    assert(fa < files && fb < files, s"a: $fa, b: $fb of $files")
  }

  test("OPTIMIZE ZORDER on THREE columns: a third-column predicate goes from no-skip to skip") {
    val table = tmp("graft_dw_zorder3")
    val n = 4096
    (0 until 8).foreach { i =>
      val part = spark.range(n).selectExpr(
        s"CAST((id * 37 + $i) % $n AS BIGINT) AS a",
        s"CAST((id * 101 + $i * 7) % $n AS BIGINT) AS b",
        s"CAST((id * 53 + $i * 11) % $n AS BIGINT) AS c",
        "CAST(id AS STRING) AS v")
      DeltaWrite.writeDeltaTable(part.coalesce(1), table, "append")
    }
    val before = DeltaRead.readDeltaTable(spark, table)
      .agg(count(lit(1)), sum(col("a")), sum(col("b")), sum(col("c"))).head()
    def filesRead(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      d.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    // 2-column z-order first: a and b skip, c is BLIND — every file spans
    // c's full range, so a c predicate opens all of them
    DeltaWrite.compactZOrder(spark, table, "a", "b", targetBytes = 32 * 1024)
    val files2 = DeltaRead.snapshot(spark, table).files.size
    assert(files2 >= 4, s"expected several z-files, got $files2")
    val c2 = filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("c") < 100))
    assert(c2 == files2.toLong, s"2-col layout should be blind on c: $c2 of $files2")

    // 3-column recluster: the SAME predicate now skips files, and a/b keep
    // skipping (each dimension trades extent ~nFiles^(-1/k), the point)
    val v = DeltaWrite.compactZOrderN(spark, table, Seq("a", "b", "c"),
      targetBytes = 32 * 1024)
    assert(v > 0L)
    val after = DeltaRead.readDeltaTable(spark, table)
      .agg(count(lit(1)), sum(col("a")), sum(col("b")), sum(col("c"))).head()
    assert(after == before, s"$after vs $before")
    val files3 = DeltaRead.snapshot(spark, table).files.size
    assert(files3 >= 4, s"expected several z-files, got $files3")
    val fa = filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("a") < 100))
    val fb = filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("b") < 100))
    val fc = filesRead(DeltaRead.readDeltaTable(spark, table).filter(col("c") < 100))
    assert(fc < files3, s"c must now skip: $fc of $files3")
    assert(fa < files3 && fb < files3, s"a: $fa, b: $fb of $files3")
  }

  test("OPTIMIZE is partition-scoped: each partition packs to one file, pruning still works") {
    val table = tmp("graft_dw_opt_p")
    (0 until 3).foreach { i =>
      DeltaWrite.writeDeltaTable(
        Seq((i.toLong, "x"), (i + 10L, "y")).toDF("id", "day"),
        table, "append", partitionBy = Seq("day"))
    }
    assert(DeltaWrite.compact(spark, table, 8L * 1024 * 1024) == 3L)
    val live = DeltaRead.snapshot(spark, table).files
    assert(live.size == 2, live.map(_.path).toString)
    assert(live.forall(f => f.partitionValues.keySet == Set("day")))
    val back = DeltaRead.readDeltaTable(spark, table)
    assert(back.count() == 6L)
    assert(back.filter(col("day") === "x").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 1L, 2L))
  }

  test("VACUUM deletes tombstoned files past retention; the head keeps reading exactly") {
    val table = tmp("graft_dw_vac")
    DeltaWrite.writeDeltaTable(Seq((1L, "old")).toDF("id", "v"), table, "overwrite")
    DeltaWrite.writeDeltaTable(Seq((2L, "new")).toDF("id", "v"), table, "overwrite")
    // default 7-day retention protects everything this young
    assert(DeltaWrite.vacuum(spark, table).isEmpty)
    Thread.sleep(20) // let mtimes fall strictly before the zero-retention cutoff
    val deleted = DeltaWrite.vacuum(spark, table, retentionMs = 0L)
    assert(deleted.nonEmpty)
    assert(DeltaRead.readDeltaTable(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "new")))
    // idempotent: nothing left to reap
    assert(DeltaWrite.vacuum(spark, table, retentionMs = 0L).isEmpty)
    // time travel to the vacuumed version now fails instead of lying
    intercept[Exception] {
      DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L)).collect()
    }
  }

  test("name-mapped create: physical parquet names on disk, logical reads, appends, checkpoint survives") {
    val table = tmp("graft_dw_cm")
    val d0 = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "part")
    val v0 = DeltaWrite.writeDeltaTableMapped(d0, table, "append", Seq("part"))
    assert(v0 == 0L)
    // the staged parquet stores PHYSICAL col-<uuid> names, not logical
    // ones — and the partition DIRECTORY is physical too
    val files0 = DeltaRead.snapshot(spark, table).files
    assert(files0.head.path.startsWith("col-"), files0.head.path)
    val physCols = spark.read
      .parquet(new java.io.File(table, files0.head.path).toString).columns
    assert(physCols.forall(_.startsWith("col-")), physCols.mkString(", "))
    // ...while reads serve the logical schema
    def logicalRows() = DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(logicalRows() == Seq((1L, "a", "x"), (2L, "b", "y")))
    // plain append routes through the stored physical layout
    DeltaWrite.writeDeltaTable(Seq((3L, "c", "x")).toDF("id", "v", "part"),
      table, "append", Seq("part"))
    assert(logicalRows() == Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")))
    // a logical partition filter prunes on the physical partition dirs
    assert(DeltaRead.readDeltaTable(spark, table)
      .filter(col("part") === "x").count() == 2L)
    // checkpoint round-trips the mapping (configuration + protocol floor)
    DeltaWrite.checkpoint(spark, table)
    val meta = DeltaRead.snapshot(spark, table).meta
    assert(meta.mappingMode == "name")
    assert(meta.configuration.contains("delta.columnMapping.maxColumnId"))
    assert(logicalRows().size == 3)
    // schema change on a mapped table is refused in both modes
    val bad = Seq((1L, 5L, "x")).toDF("id", "n", "part")
    val e = intercept[IllegalArgumentException](
      DeltaWrite.writeDeltaTable(bad, table, "overwrite", Seq("part")))
    assert(e.getMessage.contains("mapped"), e.getMessage)
    // enabling mapping on an existing unmapped table is refused
    val plain = tmp("graft_dw_cm2")
    DeltaWrite.writeDeltaTable(d0, plain, "append")
    val e2 = intercept[IllegalArgumentException](
      DeltaWrite.writeDeltaTableMapped(d0, plain, "append"))
    assert(e2.getMessage.contains("WITHOUT column mapping"), e2.getMessage)
  }

  test("id-mapped create: footer FIELD IDS on disk, id-resolved reads, DML and compact work") {
    import org.apache.spark.sql.types._
    val table = tmp("graft_dw_cmid")
    val d0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val v0 = DeltaWrite.writeDeltaTableMapped(d0, table, "append",
      mappingMode = "id")
    assert(v0 == 0L)
    val DeltaRead.Snapshot(_, meta0, files0, _, _, _) = DeltaRead.snapshot(spark, table)
    assert(meta0.mappingMode == "id")
    // staged parquet stores col-<uuid> names...
    val fpaths = files0.map(f => new java.io.File(table, f.path).toString)
    assert(spark.read.parquet(fpaths: _*).columns.forall(_.startsWith("col-")))
    // ...and FOOTER FIELD IDS: a read under totally different names but
    // matching ids resolves the data — names never mattered
    def fid(id: Int) = Metadata.fromJson(s"""{"parquet.field.id":$id}""")
    val foreign = StructType(Seq(
      StructField("whatever", LongType, nullable = true, fid(1)),
      StructField("other", StringType, nullable = true, fid(2))))
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val viaIds = spark.read.schema(foreign).parquet(fpaths: _*)
      .orderBy("whatever").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(viaIds.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")), viaIds.toSeq.toString)

    def rows() = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // plain appends and the whole DML surface run on the id table
    DeltaWrite.writeDeltaTable(Seq((4L, "d")).toDF("id", "v"), table, "append")
    DeltaMerge.merge(spark, table, Seq((2L, "B"), (5L, "e")).toDF("id", "v"),
      Seq("id"))
    DeltaMerge.updateWhere(spark, table, col("id") === 3L,
      Map("v" -> lit("C")))
    DeltaMerge.deleteWhere(spark, table, col("id") === 1L)
    assert(rows() == Seq((2L, "B"), (3L, "C"), (4L, "d"), (5L, "e")))
    // DV delete (never stages) and maintenance compaction too
    DeltaMerge.deleteWhereDv(spark, table, col("id") === 5L)
    assert(rows() == Seq((2L, "B"), (3L, "C"), (4L, "d")))
    DeltaWrite.compact(spark, table)
    assert(rows() == Seq((2L, "B"), (3L, "C"), (4L, "d")))
    assert(DeltaRead.snapshot(spark, table).files.forall(_.dv.isEmpty))
  }

  test("generated columns: omitted columns compute, mismatched values refuse, DML validates") {
    import org.apache.spark.sql.types.Metadata
    val table = tmp("graft_dw_gen")
    val md = Metadata.fromJson("""{"delta.generationExpression":"date(ts)"}""")
    val base = Seq((1L, "2024-01-02 03:04:05"), (2L, "2024-02-03 04:05:06"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    // create WITH the generated column present and correct (its metadata
    // rides the schemaString into the table definition)
    DeltaWrite.writeDeltaTable(
      base.withColumn("d", expr("date(ts)").as("d", md)),
      table, "append", partitionBy = Seq("d"))

    // append WITHOUT the column: computed from the expression
    DeltaWrite.writeDeltaTable(
      Seq((3L, "2024-03-04 05:06:07")).toDF("id", "ts")
        .withColumn("ts", col("ts").cast("timestamp")),
      table, "append", partitionBy = Seq("d"))
    val rows = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .select("id", "d").collect().map(r => (r.getLong(0), r.getDate(1).toString))
    assert(rows.toSeq == Seq((1L, "2024-01-02"), (2L, "2024-02-03"),
      (3L, "2024-03-04")), rows.toSeq.toString)

    // append WITH a wrong value: refused before staging
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.writeDeltaTable(
        Seq((4L, "2024-04-05 06:07:08")).toDF("id", "ts")
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("d", lit("1999-01-01").cast("date")),
        table, "append", partitionBy = Seq("d"))
    }
    assert(e.getMessage.contains("generated column"), e.getMessage)
    assert(DeltaRead.readDeltaTable(spark, table).count() == 3L)

    // an update that goes STALE on the dependency refuses; a consistent
    // one (dependency unchanged) commits
    val e2 = intercept[IllegalArgumentException] {
      DeltaMerge.updateWhere(spark, table, col("id") === 1L,
        Map("ts" -> lit("2025-06-07 08:09:10").cast("timestamp")))
    }
    assert(e2.getMessage.contains("generated column"), e2.getMessage)
    DeltaMerge.updateWhere(spark, table, col("id") === 1L,
      Map("id" -> lit(10L)))
    assert(DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 10L))
  }

  test("column DEFAULTs: omitted columns fill, supplied values win, drop re-arms the gate") {
    val table = tmp("graft_dw_def")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", "import"), (2L, "b", "import")).toDF("id", "v", "src"),
      table, "overwrite")

    // SET DEFAULT commits a protocol upgrade declaring the public feature
    DeltaWrite.setColumnDefault(spark, table, "src", "'web'")
    val proto = DeltaRead.snapshot(spark, table).protocol
    assert(proto.minWriter == 7 &&
      proto.writerFeatures.contains("allowColumnDefaults"), proto.toString)

    // append OMITTING the column: the default fills, pre-default rows
    // keep their physical values (no EXISTS_DEFAULT backfill in Delta)
    DeltaWrite.writeDeltaTable(Seq((3L, "c")).toDF("id", "v"), table, "append")
    // append SUPPLYING the column: values win verbatim
    DeltaWrite.writeDeltaTable(Seq((4L, "d", "api")).toDF("id", "v", "src"),
      table, "append")
    val rows = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .select("id", "src").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "import"), (2L, "import"), (3L, "web"),
      (4L, "api")), rows.toSeq.toString)

    // non-constant and unknown-column defaults refuse at SET time
    val e1 = intercept[IllegalArgumentException](
      DeltaWrite.setColumnDefault(spark, table, "src", "id"))
    assert(e1.getMessage.contains("constant"), e1.getMessage)
    intercept[IllegalArgumentException](
      DeltaWrite.setColumnDefault(spark, table, "nope", "'x'"))

    // an INSERT-ONLY merge whose source omits the defaulted column fills
    // it (the SQL INSERT-with-omitted-columns semantics); UPDATE SET *
    // merges keep the full-schema refusal
    DeltaMerge.merge(spark, table, Seq((5L, "e")).toDF("id", "v"),
      Seq("id"), whenMatched = "delete", insertUnmatched = true)
    val m = DeltaRead.readDeltaTable(spark, table)
      .filter(col("id") === 5L).select("src").collect()
    assert(m.map(_.getString(0)).toSeq == Seq("web"), m.toSeq.toString)
    intercept[IllegalArgumentException](
      DeltaMerge.merge(spark, table, Seq((5L, "e2")).toDF("id", "v"),
        Seq("id"), whenMatched = "update"))
    DeltaMerge.deleteWhere(spark, table, col("id") === 5L)

    // DROP DEFAULT: an omitting append refuses on schema mismatch again
    DeltaWrite.dropColumnDefault(spark, table, "src")
    val e2 = intercept[IllegalArgumentException](
      DeltaWrite.writeDeltaTable(Seq((5L, "e")).toDF("id", "v"), table, "append"))
    assert(e2.getMessage.contains("schema"), e2.getMessage)
    assert(DeltaRead.readDeltaTable(spark, table).count() == 4L)
  }

  test("defaults on a MAPPED table fill through the physical rename; identity on a PARTITIONED table assigns per partition") {
    // defaults + column mapping: the filled column stages under its
    // physical name like any supplied column
    val mapped = tmp("graft_dw_defmap")
    DeltaWrite.writeDeltaTableMapped(
      Seq((1L, "a", "import")).toDF("id", "v", "src"), mapped, "overwrite")
    DeltaWrite.setColumnDefault(spark, mapped, "src", "'web'")
    DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("id", "v"), mapped, "append")
    val rows = DeltaRead.readDeltaTable(spark, mapped).orderBy("id")
      .select("id", "src").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "import"), (2L, "web")), rows.toSeq.toString)
    // physical layout: no logical name leaked into the files
    val phys = spark.read.parquet(s"$mapped/*.parquet").columns.toSet
    assert(!phys.contains("src"), phys.toString)

    // identity + partitioning: values stay unique and on the grid across
    // partition directories
    val parted = tmp("graft_dw_identpart")
    DeltaWrite.writeDeltaTableIdentity(
      Seq(("a", "p1"), ("b", "p2"), ("c", "p1")).toDF("v", "p"),
      parted, "rid", start = 10L, step = 5L, partitionBy = Seq("p"))
    DeltaWrite.writeDeltaTable(
      Seq(("d", "p2"), ("e", "p3")).toDF("v", "p"), parted, "append",
      partitionBy = Seq("p"))
    val ids = DeltaRead.readDeltaTable(spark, parted)
      .select("rid").as[Long].collect().sorted.toSeq
    assert(ids == Seq(10L, 15L, 20L, 25L, 30L), ids.toString)
    // partition pruning still works with the assigned column present
    assert(DeltaRead.readDeltaTable(spark, parted)
      .filter(col("p") === "p1").count() == 2L)
  }

  test("describeColumns surfaces defaults, identity, generation, and physical names") {
    val table = tmp("graft_dw_desc")
    DeltaWrite.writeDeltaTableIdentity(
      Seq(("a", "p1")).toDF("v", "p"), table, "rid",
      start = 5L, step = 5L, partitionBy = Seq("p"))
    DeltaWrite.setColumnDefault(spark, table, "v", "'none'")
    val d = DeltaRead.describeColumns(spark, table)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(d("rid").getString(5).contains("start=5,step=5,highWaterMark=5"),
      d("rid").toString)
    assert(d("v").getString(4) == "'none'", d("v").toString)
    assert(d("p").getBoolean(3), d("p").toString) // partition membership
    assert(d("rid").isNullAt(7)) // unmapped table: no physical name

    val mapped = tmp("graft_dw_desc_map")
    DeltaWrite.writeDeltaTableMapped(
      Seq((1L, "x")).toDF("id", "v"), mapped, "overwrite")
    val dm = DeltaRead.describeColumns(spark, mapped)
      .collect().map(r => r.getString(0) -> r.getString(7)).toMap
    assert(dm("id") != null && dm("id").startsWith("col-"), dm.toString)
  }

  test("column DEFAULT on a generated column refuses; defaults feed generation") {
    import org.apache.spark.sql.types.Metadata
    val table = tmp("graft_dw_defgen")
    val md = Metadata.fromJson("""{"delta.generationExpression":"upper(src)"}""")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "web")).toDF("id", "src")
        .withColumn("g", expr("upper(src)").as("g", md)),
      table, "append")
    val e = intercept[IllegalArgumentException](
      DeltaWrite.setColumnDefault(spark, table, "g", "'X'"))
    assert(e.getMessage.contains("generated"), e.getMessage)

    // a default on the generation SOURCE: defaults fill first, then the
    // generated column computes from the filled value
    DeltaWrite.setColumnDefault(spark, table, "src", "'api'")
    DeltaWrite.writeDeltaTable(Seq(Tuple1(2L)).toDF("id"), table, "append")
    val rows = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .select("src", "g").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("web", "WEB"), ("api", "API")), rows.toSeq.toString)
  }

  test("identity columns: creation assigns, appends continue past the watermark, ALWAYS refuses supplied") {
    val table = tmp("graft_dw_ident")
    DeltaWrite.writeDeltaTableIdentity(
      Seq("a", "b", "c").toDF("v"), table, "rid", start = 100L, step = 10L)
    val proto = DeltaRead.snapshot(spark, table).protocol
    assert(proto.minWriter == 7 &&
      proto.writerFeatures.contains("identityColumns"), proto.toString)
    val v0 = DeltaRead.readDeltaTable(spark, table).orderBy("rid")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(v0.map(_._1).toSeq == Seq(100L, 110L, 120L), v0.toSeq.toString)
    assert(v0.map(_._2).toSet == Set("a", "b", "c"))

    // append OMITTING the column: fresh values past the stored watermark,
    // and the watermark republishes in the same commit
    DeltaWrite.writeDeltaTable(Seq("d", "e").toDF("v"), table, "append")
    val ids = DeltaRead.readDeltaTable(spark, table)
      .select("rid").as[Long].collect().sorted
    assert(ids.toSeq == Seq(100L, 110L, 120L, 130L, 140L), ids.toSeq.toString)
    val meta2 = DeltaRead.snapshot(spark, table).meta
    assert(meta2.schemaJson.contains("\"delta.identity.highWaterMark\":140"),
      meta2.schemaJson)

    // GENERATED ALWAYS: a batch SUPPLYING the column refuses
    val e = intercept[IllegalArgumentException](
      DeltaWrite.writeDeltaTable(Seq((999L, "x")).toDF("rid", "v"), table, "append"))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)

    // raw identity metadata at creation (bypassing the helper) refuses
    import org.apache.spark.sql.types.Metadata
    val rawMd = Metadata.fromJson(
      """{"delta.identity.start":1,"delta.identity.step":1}""")
    val e2 = intercept[IllegalArgumentException](
      DeltaWrite.writeDeltaTable(
        Seq((1L, "x")).toDF("rid", "v").select(col("rid").as("rid", rawMd), col("v")),
        tmp("graft_dw_ident_raw"), "overwrite"))
    assert(e2.getMessage.contains("writeDeltaTableIdentity"), e2.getMessage)
  }

  test("identity columns: BY DEFAULT accepts supplied values and advances; DML carries values") {
    val table = tmp("graft_dw_ident2")
    DeltaWrite.writeDeltaTableIdentity(
      Seq("a", "b").toDF("v"), table, "rid", start = 1L, step = 1L,
      allowExplicitInsert = true)

    // explicit insert past the watermark: accepted, watermark covers it
    DeltaWrite.writeDeltaTable(Seq((50L, "x")).toDF("rid", "v"), table, "append")
    // the next assigned batch continues PAST the explicit value
    DeltaWrite.writeDeltaTable(Seq("y").toDF("v"), table, "append")
    val rows = DeltaRead.readDeltaTable(spark, table).orderBy("rid")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 50L, 51L), rows.toSeq.toString)

    // DELETE keeps survivors' values and never rolls the watermark back
    DeltaMerge.deleteWhere(spark, table, col("rid") === 51L)
    DeltaWrite.writeDeltaTable(Seq("z").toDF("v"), table, "append")
    val after = DeltaRead.readDeltaTable(spark, table)
      .select("rid").as[Long].collect().sorted
    assert(after.toSeq == Seq(1L, 2L, 50L, 52L), after.toSeq.toString) // 51 never reused

    // UPDATE of a non-identity column works; SET of the identity refuses
    DeltaMerge.updateWhere(spark, table, col("rid") === 1L,
      Map("v" -> lit("a2")))
    val e = intercept[IllegalArgumentException](
      DeltaMerge.updateWhere(spark, table, col("rid") === 1L,
        Map("rid" -> lit(7L))))
    assert(e.getMessage.contains("identity"), e.getMessage)

    // MERGE (which inserts) refuses the identity table loudly
    val e2 = intercept[IllegalArgumentException](
      DeltaMerge.merge(spark, table,
        Seq((1L, "m")).toDF("rid", "v"), Seq("rid")))
    assert(e2.getMessage.contains("identity"), e2.getMessage)

    // compaction carries values verbatim
    DeltaWrite.compact(spark, table, targetBytes = 1L << 30)
    val afterCompact = DeltaRead.readDeltaTable(spark, table)
      .select("rid").as[Long].collect().sorted
    assert(afterCompact.toSeq == Seq(1L, 2L, 50L, 52L))
  }

  test("delta.checkpointInterval: data commits auto-checkpoint every N versions") {
    val table = tmp("graft_dw_autocp")
    DeltaWrite.writeDeltaTable(
      (1L to 5L).map(i => (i, i)).toDF("id", "v"), table, "append")      // v0
    def lastCp(): Option[Long] =
      DeltaRead.readLastCheckpoint(
        new org.apache.hadoop.fs.Path(table)
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(table, "_delta_log")).map(_.version)
    assert(lastCp().isEmpty)
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.checkpointInterval" -> "2"))                            // v1
    DeltaWrite.writeDeltaTable(
      (6L to 8L).map(i => (i, i)).toDF("id", "v"), table, "append")      // v2
    assert(lastCp().contains(2L), s"append at v2 must auto-checkpoint: ${lastCp()}")
    DeltaMerge.deleteWhereDv(spark, table, col("id") === 1L)             // v3
    assert(lastCp().contains(2L), "v3 is off-interval")
    DeltaMerge.updateWhere(spark, table, col("id") === 2L,
      Map("v" -> lit(99L)))                                              // v4 (COW)
    assert(lastCp().contains(4L), s"DML at v4 must auto-checkpoint: ${lastCp()}")
    // the checkpointed state replays exactly
    val rows = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((2L, 99L), (3L, 3L), (4L, 4L), (5L, 5L),
      (6L, 6L), (7L, 7L), (8L, 8L)), rows.toString)
    // the interval the commit publishes governs it: lowering it to 1
    // checkpoints the property commit itself
    val v5 = DeltaWrite.setTableProperties(spark, table,
      Map("delta.checkpointInterval" -> "1"))                            // v5
    assert(lastCp().contains(v5), s"SET TBLPROPERTIES at v$v5 must checkpoint: ${lastCp()}")
  }

  test("generated-column partition pruning: a ts range prunes day=date(ts) partitions") {
    import org.apache.spark.sql.types.Metadata
    val table = tmp("graft_dw_genprune")
    val md = Metadata.fromJson("""{"delta.generationExpression":"date(ts)"}""")
    // five days, one partition each, two files per day
    val rows = (0 until 5).flatMap { d =>
      (0 until 4).map(i => (d * 10L + i, s"2024-03-0${d + 1} 0$i:00:00"))
    }
    DeltaWrite.writeDeltaTable(
      rows.toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("d", expr("date(ts)").as("d", md))
        .repartition(2, col("id")),
      table, "append", partitionBy = Seq("d"))
    val allFiles = DeltaRead.snapshot(spark, table).files.size
    assert(allFiles >= 5, s"fixture needs per-day files, got $allFiles")

    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val t = DeltaRead.readDeltaTable(spark, table)
    val whole = filesRead(t)
    assert(whole == allFiles.toLong)
    // the query never mentions `d` — the ts bounds must derive it
    val pruned = t.filter(col("ts") >= lit("2024-03-04 00:00:00").cast("timestamp"))
    val prunedFiles = filesRead(pruned)
    assert(prunedFiles < whole,
      s"ts bound derived no partition pruning: $prunedFiles of $whole")
    // correctness: pruned result equals the unpruned filter
    val want = rows.filter(_._2 >= "2024-03-04").map(_._1).sorted
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq == want)
    // a two-sided range isolates one day + the conservative boundary
    // partition (`ts < midnight` keeps day <= date(midnight): the
    // transform collapses, so the derivation cannot exclude the boundary
    // — file stats then skip it at the next level)
    val oneDay = t.filter(col("ts") >= lit("2024-03-03 00:00:00").cast("timestamp")
      && col("ts") < lit("2024-03-04 00:00:00").cast("timestamp"))
    assert(filesRead(oneDay) <= 2 * whole / 5,
      "a one-day range must touch at most day + boundary partitions")
    assert(oneDay.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      rows.filter(r => r._2 >= "2024-03-03" && r._2 < "2024-03-04").map(_._1).sorted)
    // equality on the source column pins the exact partition
    val eq = t.filter(col("ts") === lit("2024-03-02 01:00:00").cast("timestamp"))
    assert(filesRead(eq) <= whole / 5 + 1)
    assert(eq.count() == 1L)
  }

  test("generated ts pruning survives a session-timezone change between write and read") {
    import org.apache.spark.sql.types.Metadata
    val table = tmp("graft_dw_genzone")
    val md = Metadata.fromJson("""{"delta.generationExpression":"date(ts)"}""")
    // an instant late in the UTC day: any zone east of UTC puts it on the
    // NEXT local date, so a reader-zone derivation prunes the wrong day
    val instant = java.time.Instant.parse("2024-03-01T23:30:00Z")
    val other = java.time.Instant.parse("2024-02-01T10:00:00Z")
    val oldTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      DeltaWrite.writeDeltaTable(
        Seq((1L, java.sql.Timestamp.from(instant)),
          (2L, java.sql.Timestamp.from(other))).toDF("id", "ts")
          .withColumn("d", expr("date(ts)").as("d", md)).repartition(1),
        table, "append", partitionBy = Seq("d"))
      // creation recorded the writer zone for the reader's derivation
      val meta = DeltaRead.snapshot(spark, table).meta
      assert(meta.configuration.get(GeneratedPruning.TimeZoneProp)
        .contains("UTC"), meta.configuration.toString)
      // read under a zone 14h ahead: the instant's LOCAL date there is
      // 2024-03-02 — deriving under the reader zone would prune the
      // d=2024-03-01 partition that holds the row
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      val got = DeltaRead.readDeltaTable(spark, table)
        .filter(col("ts") === lit(java.sql.Timestamp.from(instant)))
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(1L), s"zone-skewed pruning dropped the row: $got")
    } finally spark.conf.set("spark.sql.session.timeZone", oldTz)
    // a FOREIGN table (no recorded zone) must keep files rather than
    // derive under the reader zone
    val stripped = DeltaRead.snapshot(spark, table).meta
    assert(GeneratedPruning.forPartitionCols(
      org.apache.spark.sql.types.DataType.fromJson(stripped.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType],
      stripped.partitionCols, writerZone = None).isEmpty,
      "ts-source derivation must be disabled without a recorded writer zone")
  }

  test("generated prefix pruning counts code points, not UTF-16 units") {
    import org.apache.spark.sql.types.{Metadata, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val md = Metadata.fromJson("""{"delta.generationExpression":"substring(s, 1, 2)"}""")
    val schema = StructType(Seq(StructField("s", StringType),
      StructField("p", StringType, nullable = true, md)))
    val gp = GeneratedPruning.forPartitionCols(schema, Seq("p"), writerZone = None)
    val toPart = gp("p").toPart
    // U+1D54F is ONE code point but TWO UTF-16 units: substring(s,1,2)
    // (the generation expression Spark evaluates at write time) takes the
    // first two CODE POINTS, so the partition value is "𝕏a" —
    // a take(2)-over-chars derivation yields just the surrogate pair,
    // and an equality bound of that prunes the partition holding the row
    val supp = new String(Character.toChars(0x1D54F))
    assert(toPart(UTF8String.fromString(s"${supp}abc")) ==
      Some(UTF8String.fromString(s"${supp}a")),
      s"derived ${toPart(UTF8String.fromString(s"${supp}abc"))}")
    // BMP strings: unchanged semantics
    assert(toPart(UTF8String.fromString("zzz9")) ==
      Some(UTF8String.fromString("zz")))
    // end-to-end (ASCII values — the local FS cannot encode non-BMP
    // partition directories): equality on the source prunes to one file
    val table = tmp("graft_dw_genprefix")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "aaa1"), (2L, "zzz9")).toDF("id", "s")
        .withColumn("p", expr("substring(s, 1, 2)").as("p", md)).repartition(1),
      table, "append", partitionBy = Seq("p"))
    val t = DeltaRead.readDeltaTable(spark, table)
    val q = t.filter(col("s") === lit("zzz9"))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L))
    val files = {
      q.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    assert(files == 1L, s"prefix equality must prune to one partition: $files")
  }

  test("mergeSchema append on a generated-column table keeps the batch-only columns") {
    import org.apache.spark.sql.types.Metadata
    val table = tmp("graft_dw_genms")
    val md = Metadata.fromJson("""{"delta.generationExpression":"date(ts)"}""")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "2024-01-02 03:04:05")).toDF("id", "ts")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("d", expr("date(ts)").as("d", md)),
      table, "append")
    // the batch OMITS the generated column (computed) AND carries a NEW
    // column: applyGenerated's order-restoring select must not drop the
    // new column before the mergeSchema evolution sees it
    DeltaWrite.writeDeltaTable(
      Seq((2L, "2024-02-03 04:05:06", "x")).toDF("id", "ts", "tag")
        .withColumn("ts", col("ts").cast("timestamp")),
      table, "append", partitionBy = Nil, txn = None, mergeSchema = true)
    val out = DeltaRead.readDeltaTable(spark, table)
    assert(out.columns.toSeq == Seq("id", "ts", "d", "tag"), out.columns.toSeq)
    val rows = out.orderBy("id").select("id", "d", "tag").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, Option(r.getString(2)))).toSeq
    assert(rows == Seq((1L, "2024-01-02", None), (2L, "2024-02-03", Some("x"))),
      rows.toString)
  }

  test("partition values with escaped characters round-trip: true values in the log, paths re-encoded") {
    // Spark escapes ':' and '%' in partition dir names (p=C%3AD); the log
    // must record the TRUE value and a path whose percent-decode lands on
    // the on-disk name — the raw forms mis-serve the column or lose files
    val table = tmp("graft_dw_escpart")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "C:D"), (2L, "A%B"), (3L, "plain")).toDF("id", "p"),
      table, "overwrite", partitionBy = Seq("p"))
    val vals = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .select("p").collect().map(_.getString(0))
    assert(vals.toSeq == Seq("C:D", "A%B", "plain"), vals.toSeq.toString)
    assert(DeltaRead.readDeltaTable(spark, table)
      .filter(col("p") === "C:D").count() == 1L)
    // DML and maintenance keep working through the escaped layout
    DeltaMerge.deleteWhere(spark, table, col("p") === "A%B")
    assert(DeltaRead.readDeltaTable(spark, table).count() == 2L)
    DeltaWrite.compact(spark, table)
    assert(DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .select("p").collect().map(_.getString(0)).toSeq == Seq("C:D", "plain"))
  }

  test("CONVERT TO DELTA: in-place adoption, partition discovery, stats skipping, verbs work after") {
    // a plain partitioned parquet dir written by Spark itself
    val dir = tmp("graft_dw_convert")
    Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p2"))
      .toDF("id", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val rawFiles = spark.read.parquet(dir).inputFiles.sorted.toSeq

    assert(DeltaWrite.convertToDelta(spark, dir) == 0L)
    val t = DeltaRead.readDeltaTable(spark, dir)
    assert(t.count() == 4L)
    assert(t.columns.toSet == Set("id", "v", "p"))
    // files referenced VERBATIM — nothing moved or rewritten
    assert(spark.read.parquet(s"$dir/p=*").inputFiles.sorted.toSeq == rawFiles)
    // partition pruning + footer stats ride the conversion
    assert(t.filter(col("p") === "p2").count() == 2L)
    assert(t.filter(col("id") === 1L).select("v").collect()
      .map(_.getString(0)).toSeq == Seq("a"))

    // the converted table is a full citizen: DML, time travel, describe
    graft.io.DeltaMerge.deleteWhere(spark, dir, col("id") === 2L)
    assert(DeltaRead.readDeltaTable(spark, dir).count() == 3L)
    assert(DeltaRead.readDeltaTable(spark, dir, versionAsOf = Some(0L)).count() == 4L)

    // refusals: double conversion, empty dir
    val e = intercept[IllegalArgumentException](
      DeltaWrite.convertToDelta(spark, dir))
    assert(e.getMessage.contains("already"), e.getMessage)
    intercept[Exception](
      DeltaWrite.convertToDelta(spark, tmp("graft_dw_convert_empty")))

    // a CONVERTED table acquires features like any native one: row
    // tracking backfills the adopted files, DV DML preserves the ids
    DeltaWrite.enableRowTracking(spark, dir)
    val ids0 = DeltaRead.readDeltaTableWithRowIds(spark, dir)
      .select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids0.size == 3 && ids0.values.toSet.size == 3, ids0.toString)
    DeltaMerge.deleteWhereDv(spark, dir, col("id") === 3L)
    val ids1 = DeltaRead.readDeltaTableWithRowIds(spark, dir)
      .select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids1 == ids0 - 3L, s"$ids1 vs $ids0") // survivors keep their ids

    // percent-ESCAPED partition values unescape into the log (a raw
    // escaped string would silently mis-serve the partition column)
    val esc = tmp("graft_dw_convert_esc")
    Seq((1L, "A B"), (2L, "C:D")).toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(esc)
    DeltaWrite.convertToDelta(spark, esc)
    val vals = DeltaRead.readDeltaTable(spark, esc).orderBy("id")
      .select("p").collect().map(_.getString(0))
    assert(vals.toSeq == Seq("A B", "C:D"), vals.toSeq.toString)
    assert(DeltaRead.readDeltaTable(spark, esc)
      .filter(col("p") === "A B").count() == 1L)
  }

  test("metaData.id is the table's stable GUID: every republish carries it; only clone mints") {
    // the Delta spec treats metaData.id as the table identity — delta-spark
    // embeds it in streaming offsets (reservoirId) and fails on change, so
    // an identity-advancing append that minted a fresh id would look like a
    // table REPLACEMENT to every external Delta client
    def idOf(p: String): String =
      DeltaRead.snapshot(spark, p).meta.id
    val t = tmp("graft_dw_metaid")
    DeltaWrite.writeDeltaTableIdentity(Seq("a", "b").toDF("v"), t, "rid")
    val id0 = idOf(t)
    assert(id0.nonEmpty)
    DeltaWrite.writeDeltaTable(Seq("c").toDF("v"), t, "append")
    assert(idOf(t) == id0, "identity watermark bump replaced the table GUID")
    DeltaWrite.setTableProperties(spark, t, Map("graft.k" -> "v"))
    assert(idOf(t) == id0, "SET TBLPROPERTIES replaced the table GUID")
    DeltaWrite.checkpoint(spark, t)
    assert(idOf(t) == id0, "checkpoint minted a fresh GUID")
    DeltaWrite.addColumn(spark, t, "n", org.apache.spark.sql.types.IntegerType)
    assert(idOf(t) == id0, "ADD COLUMN replaced the table GUID")
    val c = tmp("graft_dw_metaid_clone")
    DeltaWrite.cloneShallow(spark, t, c)
    assert(idOf(c).nonEmpty && idOf(c) != id0, "a clone IS a new table — it must mint")
    // widening keeps it too (separate table: widening needs a widenable type)
    val w = tmp("graft_dw_metaid_widen")
    DeltaWrite.writeDeltaTable(Seq(1).toDF("x"), w, "overwrite")
    val wid = idOf(w)
    DeltaWrite.widenColumnType(spark, w, "x",
      org.apache.spark.sql.types.LongType)
    assert(idOf(w) == wid, "type widening replaced the table GUID")
    // RESTORE keeps the CURRENT id even on a legacy log whose early
    // commits minted per-commit ids — the GUID never flips back
    val r = tmp("graft_dw_metaid_restore")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("k", "v"), r, "overwrite")
    DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("k", "v"), r, "append")
    val rid0 = idOf(r)
    DeltaWrite.restore(spark, r, 0L)
    assert(idOf(r) == rid0, "RESTORE replaced the table GUID")
  }

  test("CONVERT TO DELTA: many-file dir — footer pass runs distributed, every add carries stats") {
    val dir = tmp("graft_dw_convert_many")
    spark.range(0, 800)
      .select(col("id"), (col("id") % 4).cast("string").as("p"))
      .repartition(10, col("id"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)

    // count executor tasks launched DURING the conversion: the footer pass
    // must run as a Spark job (mapPartitions over the file list), never a
    // serial driver loop — at the op's design point (10^6-file adoption)
    // that loop is hours of driver I/O
    val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(DeltaWrite.convertToDelta(spark, dir) == 0L)
      Thread.sleep(500) // listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.get() > 1L, s"footer pass ran ${tasks.get()} tasks — not distributed")

    val log = scala.io.Source.fromFile(
      s"$dir/_delta_log/00000000000000000000.json").getLines().toSeq
    val adds = log.filter(_.contains("\"add\""))
    assert(adds.size >= 20, s"expected a many-file conversion, got ${adds.size} adds")
    assert(adds.forall(_.contains("\"stats\"")), "an add line lost its footer stats")
    assert(adds.forall(_.contains("numRecords")))
    val t = DeltaRead.readDeltaTable(spark, dir)
    assert(t.count() == 800L)
    assert(t.filter(col("id") === 7L).count() == 1L) // min/max skipping serves
  }

  test("ADD COLUMN: old files null-fill; mapped tables mint fresh ids; drop-then-re-add never resurrects") {
    import org.apache.spark.sql.types.{IntegerType, StructType => ST}
    // unmapped: metadata-only commit, old rows read null, new appends carry it
    val plain = tmp("graft_dw_addcol")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), plain, "overwrite")
    DeltaWrite.addColumn(spark, plain, "n", IntegerType)
    assert(DeltaRead.readDeltaTable(spark, plain)
      .filter(col("id") === 1L).select("n").collect().head.isNullAt(0))
    DeltaWrite.writeDeltaTable(Seq((2L, "b", 7)).toDF("id", "v", "n"),
      plain, "append")
    assert(DeltaRead.readDeltaTable(spark, plain)
      .agg(sum(col("n"))).collect().head.getLong(0) == 7L)
    intercept[IllegalArgumentException](
      DeltaWrite.addColumn(spark, plain, "n", IntegerType)) // exists

    // mapped: fresh physical name + id, maxColumnId bumps, and a column
    // dropped then re-added under the SAME logical name reads NULL for
    // old rows (the physical indirection — values never resurrect)
    val mapped = tmp("graft_dw_addcol_map")
    DeltaWrite.writeDeltaTableMapped(
      Seq((1L, "x", 5)).toDF("id", "v", "n"), mapped, "overwrite")
    DeltaWrite.dropColumn(spark, mapped, "n")
    DeltaWrite.addColumn(spark, mapped, "n", IntegerType)
    val readd = DeltaRead.readDeltaTable(spark, mapped).select("id", "n").collect()
    assert(readd.length == 1 && readd.head.isNullAt(1),
      s"dropped values resurrected: ${readd.toSeq}")
    val meta = DeltaRead.snapshot(spark, mapped).meta
    assert(meta.configuration("delta.columnMapping.maxColumnId").toInt == 4)
    // appends carry the re-added column under its NEW physical name
    DeltaWrite.writeDeltaTable(Seq((2L, "y", 9)).toDF("id", "v", "n"),
      mapped, "append")
    val vals = DeltaRead.readDeltaTable(spark, mapped).orderBy("id")
      .select("n").collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(vals.toSeq == Seq(-1, 9), vals.toSeq.toString)
    // struct-bearing additions on mapped tables refuse
    intercept[IllegalArgumentException](DeltaWrite.addColumn(spark, mapped,
      "s", ST(Seq(org.apache.spark.sql.types.StructField("a", IntegerType)))))
  }

  test("RENAME/DROP COLUMN on mapped tables: metadata-only, files untouched, travel serves old names") {
    val table = tmp("graft_dw_rencol")
    DeltaWrite.writeDeltaTableMapped(
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "n"), table, "overwrite")
    val filesBefore = spark.read.parquet(s"$table/*.parquet").inputFiles.sorted.toSeq

    // rename: reads serve the new name, values intact, files byte-untouched
    val v1 = DeltaWrite.renameColumn(spark, table, "v", "label")
    val rows = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .select("id", "label", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1L, "a", 10), (2L, "b", 20)), rows.toSeq.toString)
    assert(!DeltaRead.readDeltaTable(spark, table).columns.contains("v"))
    assert(spark.read.parquet(s"$table/*.parquet").inputFiles.sorted.toSeq
      == filesBefore)
    // time travel serves the PRE-rename schema
    assert(DeltaRead.readDeltaTable(spark, table, Some(v1 - 1))
      .columns.contains("v"))

    // appends address the NEW logical name (same physical layout)
    DeltaWrite.writeDeltaTable(
      Seq((3L, "c", 30)).toDF("id", "label", "n"), table, "append")
    assert(DeltaRead.readDeltaTable(spark, table).count() == 3L)
    // filters on the renamed column still resolve through the mapping
    assert(DeltaRead.readDeltaTable(spark, table)
      .filter(col("label") === "c").count() == 1L)

    // drop: the column leaves the schema; files untouched; appends slim down
    DeltaWrite.dropColumn(spark, table, "n")
    assert(DeltaRead.readDeltaTable(spark, table).columns.toSeq
      == Seq("id", "label"))
    DeltaWrite.writeDeltaTable(Seq((4L, "d")).toDF("id", "label"), table, "append")
    assert(DeltaRead.readDeltaTable(spark, table).count() == 4L)

    // DML addresses the RENAMED logical name; the rewrite stages back
    // under the unchanged physical layout
    DeltaMerge.updateWhere(spark, table, col("id") === 4L,
      Map("label" -> lit("d2")))
    assert(DeltaRead.readDeltaTable(spark, table)
      .filter(col("id") === 4L).select("label")
      .collect().map(_.getString(0)).toSeq == Seq("d2"))

    // refusals: unmapped table, unknown/partition/last column, collisions
    val plain = tmp("graft_dw_rencol_plain")
    DeltaWrite.writeDeltaTable(Seq((1L, "x")).toDF("id", "v"), plain, "overwrite")
    val e1 = intercept[IllegalArgumentException](
      DeltaWrite.renameColumn(spark, plain, "v", "w"))
    assert(e1.getMessage.contains("column mapping"), e1.getMessage)
    intercept[IllegalArgumentException](
      DeltaWrite.renameColumn(spark, table, "nope", "x"))
    intercept[IllegalArgumentException](
      DeltaWrite.renameColumn(spark, table, "id", "label")) // collision
    intercept[IllegalArgumentException](
      DeltaWrite.dropColumn(spark, plain, "v"))

    val parted = tmp("graft_dw_rencol_part")
    DeltaWrite.writeDeltaTableMapped(
      Seq((1L, "x", "p1")).toDF("id", "v", "p"), parted, "overwrite",
      partitionBy = Seq("p"))
    val e2 = intercept[IllegalArgumentException](
      DeltaWrite.renameColumn(spark, parted, "p", "q"))
    assert(e2.getMessage.contains("partition"), e2.getMessage)
    intercept[IllegalArgumentException](DeltaWrite.dropColumn(spark, parted, "p"))

    // constraint-referenced columns refuse until the constraint drops
    DeltaWrite.addCheckConstraint(spark, table, "pos_id", "id > 0")
    val e3 = intercept[IllegalArgumentException](
      DeltaWrite.renameColumn(spark, table, "id", "key"))
    assert(e3.getMessage.contains("constraint"), e3.getMessage)
  }

  test("restore rolls the live set back as a new commit; history and travel intact") {
    val table = tmp("graft_dw_restore")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 10L), (2L, "b", -20L)).toDF("id", "v", "n").coalesce(1),
      table, "append") // v0
    DeltaMerge.deleteWhere(spark, table, col("n") < 0) // v1: the "botched" DML
    DeltaWrite.writeDeltaTable(
      Seq((3L, "c", 30L)).toDF("id", "v", "n"), table, "append") // v2
    def ids(v: Option[Long] = None) = DeltaRead.readDeltaTable(spark, table, v)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids() == Seq(1L, 3L))
    // restore to v0: the deleted row resurrects, the v2 append unwinds
    val rv = DeltaWrite.restore(spark, table, 0L)
    assert(rv == 3L)
    assert(ids() == Seq(1L, 2L))
    // nothing was erased: the intermediate states still time-travel
    assert(ids(Some(1L)) == Seq(1L))
    assert(ids(Some(2L)) == Seq(1L, 3L))
    // restoring to the state the head already has is a no-op
    assert(DeltaWrite.restore(spark, table, 0L) == -1L)
    // history records the RESTORE operation
    val ops = DeltaRead.history(spark, table)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head == "RESTORE", ops.toString)
  }

  test("shallow clone: zero-copy branch reads, diverges independently, vacuum-safe") {
    val src = tmp("graft_dw_clone_src")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("id", "part", "n"),
      src, "append", Seq("part"))
    val dest = tmp("graft_dw_clone") + "/branch"
    assert(DeltaWrite.cloneShallow(spark, src, dest) == 0L)
    def rows(p: String) = DeltaRead.readDeltaTable(spark, p).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // the clone reads the source's files without copying a byte
    assert(rows(dest) == Seq((1L, "x", 10L), (2L, "y", 20L)))
    assert(DeltaRead.snapshot(spark, dest).files.forall(_.path.startsWith("/")))
    // partition pruning still works on the clone (values rode the log)
    assert(DeltaRead.readDeltaTable(spark, dest)
      .filter(col("part") === "x").count() == 1L)
    // the clone diverges: DML rewrites localize touched data into dest,
    // the source is untouched
    DeltaMerge.updateWhere(spark, dest, col("id") === 1L, Map("n" -> lit(99L)))
    DeltaWrite.writeDeltaTable(
      Seq((3L, "z", 30L)).toDF("id", "part", "n"), dest, "append", Seq("part"))
    assert(rows(dest) == Seq((1L, "x", 99L), (2L, "y", 20L), (3L, "z", 30L)))
    assert(rows(src) == Seq((1L, "x", 10L), (2L, "y", 20L)))
    // the clone's vacuum lists only under its own root — source files
    // (even the tombstoned clone reference) survive it
    DeltaWrite.vacuum(spark, dest, retentionMs = 0L)
    assert(rows(src) == Seq((1L, "x", 10L), (2L, "y", 20L)))
    assert(rows(dest) == Seq((1L, "x", 99L), (2L, "y", 20L), (3L, "z", 30L)))
    // cloning onto an existing table is refused
    val e = intercept[IllegalArgumentException](DeltaWrite.cloneShallow(spark, src, dest))
    assert(e.getMessage.contains("already a Delta table"), e.getMessage)

    // clone OF a clone: already-absolute source references carry over
    // verbatim (a re-prefix would double-qualify the path and lose
    // every inherited file)
    val dest2 = tmp("graft_dw_clone2") + "/branch2"
    assert(DeltaWrite.cloneShallow(spark, dest, dest2) == 0L)
    assert(rows(dest2) == Seq((1L, "x", 99L), (2L, "y", 20L), (3L, "z", 30L)))
  }

  test("widenColumnType: narrow history promotes, wide appends land, narrowing refused") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val table = tmp("graft_dw_tw")
    DeltaWrite.writeDeltaTable(
      spark.range(2).selectExpr("CAST(id AS INT) AS a", "CAST(id AS STRING) AS v"),
      table, "append")
    DeltaWrite.widenColumnType(spark, table, "a", LongType)
    // the widened schema serves immediately; old int files promote
    val df = DeltaRead.readDeltaTable(spark, table)
    assert(df.schema("a").dataType == LongType)
    assert(df.orderBy("a").collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
    // appends now write the wide type
    DeltaWrite.writeDeltaTable(
      spark.range(5, 6).selectExpr("id AS a", "CAST(id AS STRING) AS v"),
      table, "append")
    assert(DeltaRead.readDeltaTable(spark, table).orderBy("a")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 5L))
    // narrowing is refused — it would reinterpret data
    val e = intercept[IllegalArgumentException](
      DeltaWrite.widenColumnType(spark, table, "a", IntegerType))
    assert(e.getMessage.contains("cannot widen"), e.getMessage)
  }

  test("history lists commits newest-first with operations and timestamps") {
    val table = tmp("graft_dw_hist")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "append")
    DeltaWrite.writeDeltaTable(Seq((2L, "b")).toDF("id", "v"), table, "append")
    DeltaWrite.setTableProperties(spark, table, Map("k" -> "v"))
    val h = DeltaRead.history(spark, table)
      .select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(h == Seq((2L, "SET TBLPROPERTIES"), (1L, "WRITE"), (0L, "WRITE")), h)
    // timestamps are present and non-decreasing with version
    val ts = DeltaRead.history(spark, table).orderBy("version")
      .select("timestamp").collect().map(_.getLong(0)).toSeq
    assert(ts == ts.sorted && ts.forall(_ > 0), ts.toString)
  }

  test("CHECK constraints: violating writes and DML refuse before staging") {
    val table = tmp("graft_dw_chk")
    DeltaWrite.writeDeltaTable(
      Seq((1L, Option("a"), 10L), (2L, Option.empty[String], 20L))
        .toDF("id", "v", "n"), table, "append")
    // adding a constraint the data violates is refused
    val e0 = intercept[IllegalArgumentException](
      DeltaWrite.addCheckConstraint(spark, table, "n_small", "n < 15"))
    assert(e0.getMessage.contains("existing rows violate"), e0.getMessage)
    // a holding constraint lands in the configuration
    DeltaWrite.addCheckConstraint(spark, table, "n_nonneg", "n >= 0")
    assert(DeltaRead.snapshot(spark, table).meta
      .configuration("delta.constraints.n_nonneg") == "n >= 0")
    // valid append passes; violating append refuses BEFORE committing
    DeltaWrite.writeDeltaTable(
      Seq((3L, Option("c"), 30L)).toDF("id", "v", "n"), table, "append")
    val vBefore = DeltaRead.latestVersion(spark, table)
    val e1 = intercept[IllegalArgumentException](DeltaWrite.writeDeltaTable(
      Seq((4L, Option("d"), -1L)).toDF("id", "v", "n"), table, "append"))
    assert(e1.getMessage.contains("n_nonneg"), e1.getMessage)
    assert(DeltaRead.latestVersion(spark, table) == vBefore)
    // DML producing violating rows refuses too
    val e2 = intercept[IllegalArgumentException](DeltaMerge.updateWhere(
      spark, table, col("id") === 1L, Map("n" -> lit(-5L))))
    assert(e2.getMessage.contains("n_nonneg"), e2.getMessage)
    // NULL predicate = unknown, not a violation (SQL CHECK semantics)
    DeltaWrite.addCheckConstraint(spark, table, "v_not_zz", "v <> 'zz'")
    DeltaWrite.writeDeltaTable(
      Seq((5L, Option.empty[String], 50L)).toDF("id", "v", "n"), table, "append")
    assert(DeltaRead.readDeltaTable(spark, table).count() == 4L)
  }

  test("Sources.writeTableAs(delta) + readTable auto-detection round-trips sf0.01 documents") {
    val table = tmp("graft_dw8")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("source"), col("text"))
    Sources.writeTableAs(docs, table, "overwrite", "delta")
    val back = Sources.readTable(spark, table) // detects _delta_log
    assert(back.count() == docs.count())
    // exact content equality, not just counts
    val diff = back.unionByName(docs).groupBy("doc_id", "source", "text")
      .count().filter(col("count") =!= 2)
    assert(diff.isEmpty, "write->read must be lossless")
    // appends accumulate
    Sources.writeTableAs(docs.limit(10), table, "append", "delta")
    assert(Sources.readTable(spark, table).count() == docs.count() + 10)
  }

  test("RESTORE on an identity table: data rolls back, the high watermark does not") {
    val t = tmp("graft_dw_ident_restore")
    DeltaWrite.writeDeltaTableIdentity(Seq("a", "b").toDF("v"), t, "rid") // v0, hw=2
    DeltaWrite.writeDeltaTable(Seq("c", "d").toDF("v"), t, "append")     // v1, hw=4
    val v = DeltaWrite.restore(spark, t, 0L)
    assert(v > 1L)
    // data is the v0 snapshot
    val rows = DeltaRead.readDeltaTable(spark, t).orderBy("rid")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")), rows.toString)
    // but the NEXT append mints PAST the pre-restore mark — 3 and 4 were
    // already handed out and must never re-issue
    DeltaWrite.writeDeltaTable(Seq("e").toDF("v"), t, "append")
    val ids = DeltaRead.readDeltaTable(spark, t)
      .select("rid").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 5L), ids.toString)
  }
}
