package graft.io

import java.util.ConcurrentModificationException
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A local filesystem under the `race` scheme that runs an armed hook once,
  * right after the first listing of a `_delta_log` directory returns — the
  * moment a second writer's commit lands between a writer's read of the
  * log and everything it does after.
  */
class RaceFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("race:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    val out = super.listStatus(f)
    if (f.getName == "_delta_log") RaceFs.fire()
    out
  }
}

object RaceFs {
  @volatile private var hook: Option[() => Unit] = None

  def arm(f: () => Unit): Unit = hook = Some(f)

  /** Clears the hook; true when it ran. */
  def disarm(): Boolean = {
    val fired = hook.isEmpty
    hook = None
    fired
  }

  private def fire(): Unit = synchronized {
    val h = hook
    hook = None
    h.foreach(_())
  }
}

/** Optimistic concurrency on the Delta commit path: concurrent DISJOINT
  * work retries onto consecutive versions with nothing lost; true
  * conflicts (same-file rewrites, metadata races, spent idempotence
  * tokens, snapshot-exclusive overwrites) refuse deterministically.
  * Races are exercised two ways — real multi-threaded writers against one
  * table, and deterministic [[DeltaWrite.commitWithRetry]] calls whose
  * attempted version a "winner" already occupies.
  */
class DeltaOccSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `n` tasks concurrently, all released at once; propagate the first
    * failure.
    */
  private def race(n: Int)(task: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try task(i) catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "race pool timed out")
    if (!failures.isEmpty) throw failures.peek()
  }

  test("two-writer race: concurrent disjoint appends BOTH land, no lost add") {
    val table = tmp("graft_occ_append")
    DeltaWrite.writeDeltaTable(Seq((0L, "seed")).toDF("id", "v"), table, "append") // v0
    val writers = 6
    race(writers) { i =>
      DeltaWrite.writeDeltaTable(
        Seq((100L + i, s"w$i")).toDF("id", "v"), table, "append")
    }
    // every append landed as its own consecutive version
    assert(DeltaRead.latestVersion(spark, table) == writers.toLong)
    val got = DeltaRead.readDeltaTable(spark, table)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L +: (0 until writers).map(100L + _)).sorted, got.toString)
  }

  test("concurrent disjoint DML: deletes against different partitions both commit") {
    val table = tmp("graft_occ_dml")
    DeltaWrite.writeDeltaTable(
      (0L until 40L).map(i => (i, (i % 4).toString)).toDF("id", "p"),
      table, "overwrite", partitionBy = Seq("p")) // v0: 4 partition files
    race(4) { i =>
      DeltaMerge.deleteWhere(spark, table, col("p") === i.toString && col("id") < 8L)
    }
    assert(DeltaRead.latestVersion(spark, table) == 4L)
    val got = DeltaRead.readDeltaTable(spark, table)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (8L until 40L).toSeq, got.toString)
  }

  test("concurrent disjoint DV deletes both commit; overlapping DV race has one winner") {
    val table = tmp("graft_occ_dv")
    DeltaWrite.writeDeltaTable(
      (0L until 40L).map(i => (i, (i % 4).toString)).toDF("id", "p"),
      table, "overwrite", partitionBy = Seq("p")) // v0: 4 partition files
    // upgrade the protocol ONCE before racing — a protocol action is an
    // exclusive commit by design, so the feature must exist before
    // concurrent DV writers can retry past each other
    DeltaMerge.deleteWhereDv(spark, table, col("id") === 0L) // v1
    race(4) { i =>
      DeltaMerge.deleteWhereDv(spark, table,
        col("p") === i.toString && col("id") < 8L)
    }
    assert(DeltaRead.latestVersion(spark, table) == 5L)
    val got = DeltaRead.readDeltaTable(spark, table)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (8L until 40L).toSeq, got.toString)
    // vectors landed (fully-shadowed small files may have been removed
    // outright instead — cardinality is not deterministic across layouts;
    // the content assertion above is the real pin, and same-file overlap
    // refusal is covered by the generic rewrite-conflict test since DV
    // commits ride the same disjointRewrite guard)
    val dvCard = DeltaRead.snapshot(spark, table).files
      .flatMap(_.dv).map(_.cardinality).sum
    assert(dvCard > 0L, "expected at least one surviving deletion vector")
  }

  test("blind append retries past a winner's data commit; exclusive overwrite refuses it") {
    val table = tmp("graft_occ_retry")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "append") // v0
    val logDir = new Path(table, "_delta_log")
    // a "winner" lands version 1 while our writer still thinks head is 0
    DeltaWrite.publishCommit(fsOf(table), logDir, 1L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{},"engineInfo":"other"}}""",
      """{"add":{"path":"part-winner.snappy.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))

    // blind append whose snapshot was v0: conflict-checks the winner at 1,
    // retries, lands at 2
    val landed = DeltaWrite.commitWithRetry(spark, table, 0L,
      ConflictGuard.blindAppend(), _ => Seq(
        """{"commitInfo":{"timestamp":2,"operation":"WRITE","operationParameters":{},"engineInfo":"graft"}}"""))
    assert(landed == 2L)

    // an overwrite (snapshot-exclusive) over the same kind of race refuses:
    // the winner's add would be silently dropped
    DeltaWrite.publishCommit(fsOf(table), logDir, 3L, Seq(
      """{"commitInfo":{"timestamp":3,"operation":"WRITE","operationParameters":{},"engineInfo":"other"}}""",
      """{"add":{"path":"part-winner2.snappy.parquet","partitionValues":{},"size":1,"modificationTime":3,"dataChange":true}}"""))
    val e = intercept[ConcurrentModificationException] {
      DeltaWrite.commitWithRetry(spark, table, 2L,
        ConflictGuard.exclusive(Set("some-old-file.parquet")), _ => Seq(
          """{"commitInfo":{"timestamp":4,"operation":"WRITE","operationParameters":{},"engineInfo":"graft"}}"""))
    }
    assert(e.getMessage.contains("snapshot-exclusive"), e.getMessage)
  }

  test("conflicts refuse: same-file rewrite, concurrent metadata, spent txn appId") {
    val table = tmp("graft_occ_conflicts")
    DeltaWrite.writeDeltaTable(Seq((1L, "a")).toDF("id", "v"), table, "append") // v0
    val fs = fsOf(table)
    val logDir = new Path(table, "_delta_log")

    // winner at v1 removes file F
    DeltaWrite.publishCommit(fs, logDir, 1L, Seq(
      """{"commitInfo":{"timestamp":1,"operation":"DELETE","operationParameters":{},"engineInfo":"other"}}""",
      """{"remove":{"path":"shared-file.parquet","deletionTimestamp":1,"dataChange":true}}"""))
    // our DML (snapshot v0) also rewrites F → delete/delete conflict
    val e1 = intercept[ConcurrentModificationException] {
      DeltaWrite.commitWithRetry(spark, table, 0L,
        ConflictGuard.disjointRewrite(Set("shared-file.parquet")), _ => Seq("""{"commitInfo":{}}"""))
    }
    assert(e1.getMessage.contains("also rewrites"), e1.getMessage)
    // a DISJOINT rewrite retries past the same winner
    assert(DeltaWrite.commitWithRetry(spark, table, 0L,
      ConflictGuard.disjointRewrite(Set("unrelated.parquet")),
      _ => Seq("""{"commitInfo":{"timestamp":2,"operation":"DELETE","operationParameters":{},"engineInfo":"graft"}}""")) == 2L)

    // winner at v3 changes metadata → even a blind append refuses
    DeltaWrite.publishCommit(fs, logDir, 3L, Seq(
      """{"commitInfo":{"timestamp":3,"operation":"SET TBLPROPERTIES","operationParameters":{},"engineInfo":"other"}}""",
      """{"metaData":{"id":"m2","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[]}","partitionColumns":[],"configuration":{},"createdTime":3}}"""))
    val e2 = intercept[ConcurrentModificationException] {
      DeltaWrite.commitWithRetry(spark, table, 2L,
        ConflictGuard.blindAppend(), _ => Seq("""{"commitInfo":{}}"""))
    }
    assert(e2.getMessage.contains("metadata"), e2.getMessage)

    // winner at v4 advances txn appId "job" → our idempotent commit refuses
    DeltaWrite.publishCommit(fs, logDir, 4L, Seq(
      """{"commitInfo":{"timestamp":5,"operation":"WRITE","operationParameters":{},"engineInfo":"other"}}""",
      """{"txn":{"appId":"job","version":7,"lastUpdated":5}}"""))
    val e3 = intercept[ConcurrentModificationException] {
      DeltaWrite.commitWithRetry(spark, table, 3L,
        ConflictGuard.blindAppend(appId = Some("job")), _ => Seq("""{"commitInfo":{}}"""))
    }
    assert(e3.getMessage.contains("appId"), e3.getMessage)
    // a DIFFERENT appId sails past
    assert(DeltaWrite.commitWithRetry(spark, table, 3L,
      ConflictGuard.blindAppend(appId = Some("otherjob")),
      _ => Seq("""{"commitInfo":{"timestamp":6,"operation":"WRITE","operationParameters":{},"engineInfo":"graft"}}""")) == 5L)
  }

  test("overlapping DML race resolves to exactly one winner") {
    val table = tmp("graft_occ_overlap")
    DeltaWrite.writeDeltaTable(
      (0L until 10L).map(i => (i, 0L)).toDF("id", "n").coalesce(1),
      table, "append") // v0: one file — both updates must touch it
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    race(2) { i =>
      try DeltaMerge.updateWhere(spark, table, col("id") === i.toLong,
        Map("n" -> lit(100L + i)))
      catch { case _: ConcurrentModificationException => failures.incrementAndGet() }
    }
    val got = DeltaRead.readDeltaTable(spark, table)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val applied = (0 until 2).count(i => got(i.toLong) == 100L + i)
    // one writer won; the loser either refused (same-file conflict) or —
    // if it never actually raced — also applied
    assert(applied == 2 - failures.get(), s"applied=$applied failures=${failures.get()}")
    assert(applied >= 1)
  }

  test("raced CDC staging: every change file embeds the version that references it, no orphans") {
    val table = tmp("graft_occ_cdc")
    DeltaWrite.writeDeltaTable(
      (0L until 20L).map(i => (i, (i % 2).toString, 0L)).toDF("id", "p", "n"),
      table, "overwrite", partitionBy = Seq("p")) // v0: 2 partition files
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    // two CDF-emitting updates against DIFFERENT files race: the loser
    // retries at a new version and must RESTAGE its change files with the
    // final version embedded (and drop the orphaned first attempt)
    race(2) { i =>
      DeltaMerge.updateWhere(spark, table, col("p") === i.toString,
        Map("n" -> lit(100L + i)))
    }
    assert(DeltaRead.latestVersion(spark, table) == 3L)
    // every cdc action's file embeds exactly the committing version
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val referenced = scala.collection.mutable.Map[String, Long]()
    new java.io.File(table, "_delta_log").listFiles()
      .filter(f => f.getName.endsWith(".json") && f.getName.dropRight(5).forall(_.isDigit))
      .foreach { f =>
        val v = f.getName.dropRight(5).toLong
        scala.io.Source.fromFile(f, "UTF-8").getLines()
          .filter(_.contains("\"cdc\"")).foreach { line =>
            referenced(mapper.readTree(line).get("cdc").get("path").asText()) = v
          }
      }
    assert(referenced.nonEmpty)
    referenced.foreach { case (rel, v) =>
      val embedded = spark.read.parquet(s"$table/$rel")
        .select("_commit_version").distinct().collect().map(_.getLong(0)).toSeq
      assert(embedded == Seq(v), s"$rel embeds $embedded, referenced by $v")
    }
    // no orphaned change files from lost attempts
    val onDisk = new java.io.File(table, "_change_data")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => s"_change_data/${f.getName}").toSet
    assert(onDisk == referenced.keySet, s"$onDisk vs ${referenced.keySet}")
    // and the feed reconstructs both updates exactly
    val feed = DeltaRead.changeFeed(spark, table, 1L)
      .filter(col("_change_type") === "update_postimage")
      .select("n").distinct().collect().map(_.getLong(0)).toSet
    assert(feed == Set(100L, 101L), feed.toString)
  }

  test("identity-generating appends race: losers refuse, values never duplicate") {
    val table = tmp("graft_occ_ident")
    DeltaWrite.writeDeltaTableIdentity(
      Seq("seed").toDF("v"), table, "rid", start = 1L, step = 1L)
    val writers = 4
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    race(writers) { i =>
      try DeltaWrite.writeDeltaTable(Seq(s"w$i").toDF("v"), table, "append")
      catch {
        // identity-advancing commits conflict-check EXCLUSIVELY: a loser
        // must refuse (retrying with its staged values would duplicate
        // the winner's), never land
        case e: Exception if e.getMessage != null &&
            (e.getMessage.contains("concurrent") ||
             e.getMessage.contains("conflict")) =>
          refused.incrementAndGet()
      }
    }
    val ids = DeltaRead.readDeltaTable(spark, table)
      .select("rid").as[Long].collect().sorted.toSeq
    // every landed value unique and on the arithmetic grid from 1
    assert(ids == (1L to ids.length.toLong), ids.toString)
    // winners + refusals account for every writer
    assert((ids.length - 1) + refused.get() == writers,
      s"landed ${ids.length - 1}, refused ${refused.get()}")
    // sequential appends resume cleanly after the race
    DeltaWrite.writeDeltaTable(Seq("after").toDF("v"), table, "append")
    val after = DeltaRead.readDeltaTable(spark, table)
      .select("rid").as[Long].collect().sorted.toSeq
    assert(after == (1L to after.length.toLong), after.toString)
  }

  test("identity-minting merges race: losers refuse, values never duplicate") {
    val table = tmp("graft_occ_ident_merge")
    DeltaWrite.writeDeltaTableIdentity(
      Seq(("seed", "s")).toDF("k", "v"), table, "rid")
    val writers = 4
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    race(writers) { i =>
      try DeltaMerge.merge(spark, table,
        Seq((s"m$i", "x")).toDF("k", "v"), Seq("k"))
      catch {
        // minting merges conflict-check EXCLUSIVELY, like minting appends:
        // a loser must refuse, never retry with its already-issued values
        case e: Exception if e.getMessage != null &&
            (e.getMessage.contains("concurrent") ||
             e.getMessage.contains("conflict")) =>
          refused.incrementAndGet()
      }
    }
    val ids = DeltaRead.readDeltaTable(spark, table)
      .select("rid").as[Long].collect().sorted.toSeq
    assert(ids == (1L to ids.length.toLong), ids.toString)
    assert((ids.length - 1) + refused.get() == writers,
      s"landed ${ids.length - 1}, refused ${refused.get()}")
    // sequential merges resume cleanly after the race
    DeltaMerge.merge(spark, table, Seq(("post", "y")).toDF("k", "v"), Seq("k"))
    val after = DeltaRead.readDeltaTable(spark, table)
      .select("rid").as[Long].collect().sorted.toSeq
    assert(after == (1L to after.length.toLong), after.toString)
  }

  test("a DML plans on its pinned snapshot and refuses a winner that removed a file it rewrites") {
    spark.sparkContext.hadoopConfiguration.set("fs.race.impl", classOf[RaceFs].getName)
    val local = tmp("graft_occ_pin")
    val table = "race://" + local
    DeltaWrite.writeDeltaTable((0L until 10L).map(i => (i, i)).toDF("id", "v").coalesce(1),
      table, "append") // v0: file F
    DeltaWrite.writeDeltaTable((10L until 20L).map(i => (i, i)).toDF("id", "v").coalesce(1),
      table, "append") // v1: file G
    val f = DeltaRead.snapshot(spark, table, Some(0L)).files.head.path
    // a second writer publishes v2, removing F, as soon as the DELETE's
    // first log listing returns: the DELETE must plan on v1 (rewriting F
    // and G) and check conflicts from v1, never plan on v2 while checking
    // from v1
    RaceFs.arm { () =>
      DeltaWrite.publishCommit(fsOf(local), new Path(local, "_delta_log"), 2L, Seq(
        DeltaActions.commitInfo(None, System.currentTimeMillis(), "DELETE", Nil),
        DeltaActions.remove(f, System.currentTimeMillis(), dataChange = true, None)))
    }
    val e = intercept[ConcurrentModificationException](
      DeltaMerge.deleteWhere(spark, table, col("id").isin(5L, 15L)))
    assert(RaceFs.disarm(), "the second writer never published")
    assert(e.getMessage.contains(s"concurrent version 2") &&
      e.getMessage.contains(s"already removed $f"), e.getMessage)
    assert(DeltaRead.latestVersion(spark, table) == 2L)
    assert(DeltaRead.readDeltaTable(spark, table).count() == 10L)
  }
}
