package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Change data feed round trips: DML on a CDF-enabled table emits cdc
  * actions whose rows reconstruct every change; the reader composes them
  * with append-derived inserts, refuses undecomposable rewrites, and
  * serves logical names on mapped tables.
  */
class DeltaCdfSpec extends SparkSpec {
  import spark.implicits._

  private def feedRows(path: String, from: Long, to: Option[Long] = None) =
    DeltaRead.changeFeed(spark, path, from, to)
      .select(col("_commit_version"), col("_change_type"), col("id"), col("v"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toSeq.sorted

  test("change feed across append, property flip, merge, update, delete") {
    val table = tmp("graft_cdf1")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"), table, "append") // v0
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true")) // v1 (no row changes)
    DeltaMerge.merge(spark, table,
      Seq((2L, "B", 200L), (4L, "d", 40L)).toDF("id", "v", "n"), Seq("id")) // v2
    DeltaMerge.updateWhere(spark, table, col("id") === 1L,
      Map("n" -> (col("n") + 1))) // v3
    DeltaMerge.deleteWhere(spark, table, col("id") === 4L) // v4

    // the full feed: v0 append-derived inserts, v2 pre/post + insert,
    // v3 pre/post, v4 delete — property commit v1 contributes nothing
    assert(feedRows(table, -1L) == Seq(
      (0L, "insert", 1L, "a", 10L),
      (0L, "insert", 2L, "b", 20L),
      (2L, "insert", 4L, "d", 40L),
      (2L, "update_postimage", 2L, "B", 200L),
      (2L, "update_preimage", 2L, "b", 20L),
      (3L, "update_postimage", 1L, "a", 11L),
      (3L, "update_preimage", 1L, "a", 10L),
      (4L, "delete", 4L, "d", 40L)))
    // a bounded window slices the feed by version
    assert(feedRows(table, 2L, Some(3L)) == Seq(
      (3L, "update_postimage", 1L, "a", 11L),
      (3L, "update_preimage", 1L, "a", 10L)))
    // the final table state is unaffected by CDF
    assert(DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("a rewrite without CDF refuses; matched-delete merges emit delete rows") {
    val table = tmp("graft_cdf2")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"), table, "append")
    // DML before the table opts in: the commit has removes but no cdc
    DeltaMerge.deleteWhere(spark, table, col("id") === 2L) // v1, no cdc
    val e = intercept[IllegalArgumentException](feedRows(table, -1L))
    assert(e.getMessage.contains("without cdc"), e.getMessage)
    // but a window that skips the opaque commit works
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true")) // v2
    DeltaMerge.merge(spark, table, Seq((1L, "a", 10L)).toDF("id", "v", "n"),
      Seq("id"), whenMatched = "delete", insertUnmatched = false) // v3
    assert(feedRows(table, 2L) == Seq((3L, "delete", 1L, "a", 10L)))
  }

  test("cleaned history: changeDiff refuses a range whose commits were cleaned up") {
    val table = tmp("graft_cdf_cleaned")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"), table, "append") // v0
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    DeltaWrite.checkpoint(spark, table)
    Thread.sleep(20) // let mtimes fall strictly before the zero-retention cutoff
    DeltaWrite.cleanupMetadata(spark, table, retentionMs = 0L) // drops v0-v1 JSONs
    DeltaWrite.writeDeltaTable(
      Seq((3L, "c", 30L)).toDF("id", "v", "n"), table, "append") // v2
    // the feed alone would serve v2's one insert; the cleaned v0 rows
    // would be silently missing
    val e = intercept[IllegalArgumentException] {
      DeltaRead.changeDiff(spark, table, -1L).collect()
    }
    assert(e.getMessage.contains("cleaned"), e.getMessage)
    // a range after the cleaned commits still reads
    assert(feedRows(table, 1L) == Seq((2L, "insert", 3L, "c", 30L)))
  }

  test("a _commit_version filter prunes whole change-file scans; projection prunes columns") {
    val table = tmp("graft_cdf_prune")
    DeltaWrite.writeDeltaTable(
      (0L until 10L).map(i => (i, s"v$i", i * 10L)).toDF("id", "v", "n"),
      table, "append")
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    DeltaMerge.updateWhere(spark, table, col("id") === 1L, Map("n" -> lit(-1L))) // v2
    DeltaMerge.updateWhere(spark, table, col("id") === 2L, Map("n" -> lit(-2L))) // v3
    DeltaMerge.deleteWhere(spark, table, col("id") === 3L) // v4

    def scanStats(d: org.apache.spark.sql.DataFrame): (Long, Seq[String]) = {
      d.collect()
      val scans = d.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      (scans.map(_.metrics("numFiles").value).sum,
        scans.flatMap(_.schema.fieldNames).distinct.toSeq)
    }
    val feed = DeltaRead.changeFeed(spark, table, 1L)
    val (allFiles, _) = scanStats(feed)
    assert(allFiles >= 3, s"expected at least one change file per DML, got $allFiles")
    // _commit_version is a per-branch literal: a version filter constant-
    // folds every other branch to an empty relation before any I/O
    val (v3Files, _) = scanStats(feed.filter(col("_commit_version") === 3L))
    assert(v3Files < allFiles, s"version filter did not prune: $v3Files of $allFiles")
    val (v3bFiles, _) = scanStats(
      DeltaRead.changeFeed(spark, table, 2L, Some(3L)))
    assert(v3bFiles == v3Files, s"range-bounded read scans more than the filter: $v3bFiles vs $v3Files")
    // column pruning reaches the change-file scan
    val (_, cols) = scanStats(
      feed.filter(col("_commit_version") === 3L).select("id", "_change_type"))
    assert(!cols.contains("n") && !cols.contains("v"), cols.toString)
  }

  test("streaming tail: DML change files stream in with their commit version") {
    val table = tmp("graft_cdf_stream")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"), table, "append")
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true"))
    DeltaMerge.updateWhere(spark, table, col("id") === 1L,
      Map("n" -> (col("n") + 5))) // v2
    DeltaMerge.deleteWhere(spark, table, col("id") === 2L) // v3

    val stream = DeltaRead.readChangeFeedStream(spark, table)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq ==
      Seq("id", "v", "n", "_change_type", "_commit_version"))
    val q = stream.writeStream.format("memory").queryName("cdf_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("cdf_stream")
      .select("_commit_version", "_change_type", "id", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got == Seq(
      (2L, "update_postimage", 1L, 15L),
      (2L, "update_preimage", 1L, 10L),
      (3L, "delete", 2L, 20L)), got.toString)
    // the streamed rows equal the batch feed (modulo column order)
    val batch = DeltaRead.changeFeed(spark, table, 1L)
      .select("_commit_version", "_change_type", "id", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got == batch, s"$got vs $batch")
  }

  test("mapped table: the feed serves logical columns") {
    val table = tmp("graft_cdf3")
    DeltaWrite.writeDeltaTableMapped(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"), table, "append")
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true"))
    DeltaMerge.updateWhere(spark, table, col("id") === 2L,
      Map("v" -> lit("Z")))
    val rows = feedRows(table, 1L)
    assert(rows == Seq(
      (2L, "update_postimage", 2L, "Z", 20L),
      (2L, "update_preimage", 2L, "b", 20L)), rows.toString)
    // the cdc files themselves store PHYSICAL names
    val cdcDir = new java.io.File(table, "_change_data")
    val cdcFile = cdcDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val physCols = spark.read.parquet(cdcFile.toString).columns
    assert(physCols.count(_.startsWith("col-")) == 3, physCols.mkString(", "))
    assert(physCols.contains("_change_type"), physCols.mkString(", "))
  }

  test("id-mapped table: the feed resolves cdc files by field id, batch and stream") {
    val table = tmp("graft_cdf_id")
    DeltaWrite.writeDeltaTableMapped(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"), table, "append",
      mappingMode = "id")
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true"))
    DeltaMerge.updateWhere(spark, table, col("id") === 2L, Map("v" -> lit("Z")))
    DeltaMerge.deleteWhereDv(spark, table, col("id") === 1L)
    val rows = feedRows(table, 1L)
    assert(rows == Seq(
      (2L, "update_postimage", 2L, "Z", 20L),
      (2L, "update_preimage", 2L, "b", 20L),
      (3L, "delete", 1L, "a", 10L)), rows.toString)
    // the staged cdc parquet stores physical names AND footer field ids —
    // prove the ids by resolving under entirely different names
    import org.apache.spark.sql.types._
    val ms = org.apache.spark.sql.types.DataType.fromJson(
      DeltaRead.snapshot(spark, table).meta.schemaJson).asInstanceOf[StructType]
    def fid(id: Int) = Metadata.fromJson(s"""{"parquet.field.id":$id}""")
    val foreign = StructType(Seq(
      StructField("c1", LongType, nullable = true, fid(1)),
      StructField("c2", StringType, nullable = true, fid(2)),
      StructField("c3", LongType, nullable = true, fid(3)),
      StructField("_change_type", StringType)))
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val cdcDir = new java.io.File(table, "_change_data")
    val viaIds = spark.read.schema(foreign).parquet(cdcDir.toString)
      .orderBy("_change_type", "c1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq
    assert(viaIds == Seq((1L, "a", "delete"),
      (2L, "Z", "update_postimage"), (2L, "b", "update_preimage")),
      viaIds.toString)
    assert(ms.fields.forall(_.metadata.contains("delta.columnMapping.id")))
  }
}
