package graft.io

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Partition-pruned layout: the date filter must prune at planning time
  * (PartitionFilters on the scan, one directory read), and the writer must
  * not explode into per-task small files.
  */
class PartitionedLayoutSpec extends SparkSpec {

  private lazy val layoutDir: String = {
    val dir = tmp("graft_layout")
    PartitionedLayout.writeDailyPartitioned(
      graft.Tables.events(spark, sf), "ts", dir)
    dir
  }

  test("writer yields one file per date directory") {
    val root = new java.io.File(layoutDir)
    val dateDirs = root.listFiles().filter(_.getName.startsWith("event_date="))
    assert(dateDirs.length > 1, "expected multiple date partitions")
    dateDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: expected 1 file, got ${files.length}")
    }
  }

  test("date filter prunes to a single partition in the scan") {
    val day = "2024-01-05"
    val df = PartitionedLayout.readDay(spark, layoutDir, day)
    val rows = df.count()

    val want = graft.Tables.events(spark, sf)
      .filter(to_date(col("ts")) === lit(day)).count()
    assert(rows == want && rows > 0)

    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    // The filter must be a partition filter (planning-time pruning), not a
    // data filter evaluated per row.
    assert(scan.partitionFilters.nonEmpty, "expected partition filters")
    assert(scan.relation.location.inputFiles.length > 1,
      "layout should have many files overall")
    assert(scan.inputRDDs().head.getNumPartitions <= 2,
      "pruned scan should read ~one directory")
  }

  test("full-scan aggregation over the layout matches the unpartitioned table") {
    val got = PartitionedLayout.read(spark, layoutDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("dynamic day overwrite is idempotent and leaves other days untouched") {
    val dir = tmp("graft-layout-dyn")
    val events = graft.Tables.events(spark, sf)
    PartitionedLayout.writeDailyPartitioned(events, "ts", dir)
    val before = PartitionedLayout.read(spark, dir).count()
    val day = PartitionedLayout.read(spark, dir)
      .select(col("event_date").cast("string")).orderBy("event_date").head().getString(0)
    // re-load exactly that day twice; counts must not change
    val dayRows = events.filter(to_date(col("ts")) === lit(day))
    PartitionedLayout.overwriteDay(dayRows, "ts", dir)
    PartitionedLayout.overwriteDay(dayRows, "ts", dir)
    assert(PartitionedLayout.read(spark, dir).count() == before)
  }

  test("schema-evolved read unions columns across days, nulling the missing ones") {
    val dir = tmp("graft-layout-evo")
    val events = graft.Tables.events(spark, sf)
    val days = events.select(to_date(col("ts")).cast("string").as("d"))
      .distinct().orderBy("d").collect().map(_.getString(0))
    val (d0, d1) = (days(0), days(1))
    PartitionedLayout.writeDailyPartitioned(
      events.filter(to_date(col("ts")) === lit(d0)), "ts", dir)
    // a later day ships a NEW column
    PartitionedLayout.overwriteDay(
      events.filter(to_date(col("ts")) === lit(d1))
        .withColumn("quality", round(col("value") / 10.0, 2)),
      "ts", dir)
    val merged = PartitionedLayout.readMerged(spark, dir)
    assert(merged.columns.contains("quality"))
    val byDay = merged.groupBy(col("event_date").cast("string").as("d"))
      .agg(count(col("quality")).as("n_q"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byDay(d0)._1 == 0L && byDay(d0)._2 > 0L, "old day: column all null")
    assert(byDay(d1)._1 == byDay(d1)._2 && byDay(d1)._2 > 0L, "new day: column populated")
  }
}
