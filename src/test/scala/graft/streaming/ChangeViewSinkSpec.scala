package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.SparkSpec
import graft.ext.Incremental
import graft.io.{DeltaMerge, DeltaRead, DeltaWrite}

/** Streaming materialized-view maintenance ([[ChangeViewSink]]): the view
  * table tracks the source's per-key count/sum EXACTLY under arbitrary
  * DML served through the change tail, across multiple runs of the same
  * checkpointed stream, and replayed epochs fold exactly once.
  */
class ChangeViewSinkSpec extends SparkSpec {
  import spark.implicits._

  private def viewEqualsSource(viewPath: String, srcPath: String): Unit = {
    // min/max included: the per-epoch repair pass makes the WHOLE view
    // exact, not count/sum-only
    val got = ChangeViewSink.readView(spark, viewPath)
      .select(col("grp"), col("n"), col("sum"), col("mn"), col("mx"))
      .as[(String, Long, Double, Double, Double)].collect().toSet
    val want = Incremental.partialAgg(DeltaRead.readDeltaTable(spark, srcPath), Seq("grp"), "cents")
      .select(col("grp"), col("n"), col("sum"), col("mn"), col("mx"))
      .as[(String, Long, Double, Double, Double)].collect().toSet
    assert(got == want, s"view $got != source aggregate $want")
  }

  test("the view tracks DV/COW DML exactly across checkpointed runs") {
    val src = tmp("graft_cvs_src_") + "/t"
    val view = tmp("graft_cvs_view_") + "/v"
    val ckpt = tmp("graft_cvs_ckpt_")
    val df = (1L to 30L)
      .map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", i * 10L))
      .toDF("id", "grp", "cents").repartition(1)
    DeltaWrite.writeDeltaTable(df, src, "append") // v0
    DeltaMerge.deleteWhereDv(spark, src, col("id") % 5 === 0) // v1
    DeltaMerge.updateWhere(spark, src, col("id") % 4 === 0,
      Map("cents" -> (col("cents") + 7))) // v2 (COW)

    val q1 = ChangeViewSink.maintain(spark, src, view, Seq("grp"), "cents",
      appId = "cvs-spec", checkpoint = ckpt)
    q1.awaitTermination()
    viewEqualsSource(view, src)

    // more DML while the stream is down — including a whole group's
    // deletion (its view row must drop, not linger at n = 0)
    DeltaMerge.updateWhereDv(spark, src, col("id") % 2 === 0,
      Map("cents" -> (col("cents") + 1))) // v3
    DeltaMerge.deleteWhere(spark, src, col("grp") === "a") // v4
    DeltaWrite.writeDeltaTable(
      Seq((100L, "d", 5L), (101L, "d", 6L)).toDF("id", "grp", "cents"),
      src, "append") // v5

    val q2 = ChangeViewSink.maintain(spark, src, view, Seq("grp"), "cents",
      appId = "cvs-spec", checkpoint = ckpt)
    q2.awaitTermination()
    viewEqualsSource(view, src)
    val groups = ChangeViewSink.readView(spark, view)
      .select("grp").as[String].collect().toSet
    assert(groups == Set("b", "c", "d"), s"deleted group lingers: $groups")
  }

  test("deleting stored extrema repairs min/max exactly, filtering to repair keys") {
    val src = tmp("graft_cvs_src_") + "/t"
    val view = tmp("graft_cvs_view_") + "/v"
    val ckpt = tmp("graft_cvs_ckpt_")
    // two groups, distinct values; group files carry min/max stats
    val df = (1L to 20L)
      .map(i => (i, if (i <= 10) "a" else "b", i * 100L))
      .toDF("id", "grp", "cents").repartition(1)
    DeltaWrite.writeDeltaTable(df, src, "append") // v0
    val q1 = ChangeViewSink.maintain(spark, src, view, Seq("grp"), "cents",
      appId = "cvs-repair", checkpoint = ckpt)
    q1.awaitTermination()
    viewEqualsSource(view, src)

    // delete group a's MAX and group b's MIN — without the repair pass
    // the view's bounds would linger at 1000/1100 forever
    DeltaMerge.deleteWhereDv(spark, src,
      col("cents") === 1000L || col("cents") === 1100L) // v1
    val q2 = ChangeViewSink.maintain(spark, src, view, Seq("grp"), "cents",
      appId = "cvs-repair", checkpoint = ckpt)
    q2.awaitTermination()
    viewEqualsSource(view, src) // mn(a)=100..mx(a)=900, mn(b)=1200..mx(b)=2000

    // deleting a non-extremum must NOT trigger repair work: bounds stay
    // exact through the plain fold
    DeltaMerge.deleteWhereDv(spark, src, col("cents") === 500L) // v2
    val q3 = ChangeViewSink.maintain(spark, src, view, Seq("grp"), "cents",
      appId = "cvs-repair", checkpoint = ckpt)
    q3.awaitTermination()
    viewEqualsSource(view, src)
  }

  /** `f` under a broadcast threshold of -1: every key set is large, so
    * the key-list rule sends the epoch's keyed reads to the cluster.
    */
  private def distributed[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, was)
  }

  test("a large repair set repairs through the distributed path") {
    val src = tmp("graft_cvs_src_") + "/t"
    val view = tmp("graft_cvs_view_") + "/v"
    // many groups, every one losing its stored MAX in one epoch — the
    // bootstrap/recovery shape where the repair-key set is the whole key
    // space. A threshold of -1 makes every key set large, forcing the
    // cluster-side semi-join leg (the 100 TB path): keys must never need
    // the driver for exactness.
    val df = (1L to 400L)
      .map(i => (i, s"g${i % 100}", i * 10L))
      .toDF("id", "grp", "cents").repartition(4)
    DeltaWrite.writeDeltaTable(df, src, "append") // v0
    // delete each group's max (ids 301..400 hold the per-group maxima)
    DeltaMerge.deleteWhereDv(spark, src, col("id") > 300L) // v1
    ChangeViewSink.createView(spark, view, Seq(df.schema("grp")))
    val batch = DeltaRead.changeDiff(spark, src, -1L)
    val applied = distributed(ChangeViewSink.applyBatch(batch, view, Seq("grp"), "cents",
      appId = "cvs-large", batchId = 0L, sourcePath = Some(src)))
    assert(applied, "epoch must commit")
    viewEqualsSource(view, src) // all 100 groups repaired, bounds exact
  }

  test("a two-column key repairs min/max exactly on both key-set paths") {
    for (large <- Seq(false, true)) {
      val src = tmp("graft_cvs_src_") + "/t"
      val view = tmp("graft_cvs_view_") + "/v"
      val df = (1L to 60L)
        .map(i => (i, s"r${i % 3}", i % 2, i * 10L))
        .toDF("id", "region", "tier", "cents").repartition(2)
      DeltaWrite.writeDeltaTable(df, src, "append") // v0
      // every (region, tier) group loses its max; one loses its min too
      DeltaMerge.deleteWhereDv(spark, src, col("id") > 54L || col("id") === 1L) // v1
      val keys = Seq("region", "tier")
      ChangeViewSink.createView(spark, view, keys.map(df.schema(_)))
      def epoch(): Boolean = ChangeViewSink.applyBatch(DeltaRead.changeDiff(spark, src, -1L),
        view, keys, "cents", appId = "cvs-two-keys", batchId = 0L, sourcePath = Some(src))
      assert(if (large) distributed(epoch()) else epoch(), "epoch must commit")
      val cols = (keys ++ Seq("n", "sum", "mn", "mx")).map(col)
      val got = ChangeViewSink.readView(spark, view).select(cols: _*).collect().toSet
      val want = Incremental.partialAgg(DeltaRead.readDeltaTable(spark, src), keys, "cents")
        .select(cols: _*).collect().toSet
      assert(got.size == 6 && got == want, s"large=$large: view $got != source aggregate $want")
    }
  }

  test("a warm 1-key epoch reads the files holding its key, not the whole view") {
    val view = tmp("graft_cvs_view_") + "/v"
    ChangeViewSink.createView(spark, view, Seq(StructField("k", LongType)))
    // 16,000 keys laid out by key range over 8 files, so each file's
    // add.stats hold a disjoint key range
    DeltaWrite.writeDeltaTable(spark.range(0, 16000).select(col("id").as("k"), lit(1L).as("n"),
        col("id").cast("double").as("sum"), col("id").cast("double").as("mn"),
        col("id").cast("double").as("mx")).repartitionByRange(8, col("k")), view, "append")
    def files(): Long = DeltaRead.readDeltaTable(spark, view).select(input_file_name()).distinct().count()
    assert(files() >= 8)
    def epoch(batchId: Long): Boolean = ChangeViewSink.applyBatch(
      Seq((4242L, 7L, "insert", batchId)).toDF("k", "cents", "_change_type", "_commit_version"),
      view, Seq("k"), "cents", appId = "cvs-warm", batchId = batchId)
    assert(epoch(0L)) // warms the snapshot cache
    val (applied, cost) = meter(epoch(1L))
    assert(applied)
    assert(cost.inputRecords < 16000L,
      s"a 1-key epoch read ${cost.inputRecords} input records of a 16,000-row view")
    // delta aggregate and checkpoint 2, key list 1, fold 2, MERGE 5,
    // tombstone sweep 1 — the fold's whole-view join also ran 11
    assert(cost.jobs == 11, s"a warm 1-key epoch ran ${cost.jobs} Spark jobs")
    assert(files() >= 8)
    assert(ChangeViewSink.readView(spark, view).filter(col("k") === 4242L)
      .select("n", "sum", "mn", "mx").as[(Long, Double, Double, Double)].collect().toSeq ==
      Seq((3L, 4256.0, 7.0, 4242.0)))
  }

  test("null group keys are refused loudly before any state mutates") {
    val src = tmp("graft_cvs_src_") + "/t"
    val view = tmp("graft_cvs_view_") + "/v"
    val ckpt = tmp("graft_cvs_ckpt_")
    val df = Seq((1L, Option("a"), 10L), (2L, Option.empty[String], 20L))
      .toDF("id", "grp", "cents").repartition(1)
    DeltaWrite.writeDeltaTable(df, src, "append")
    val q = ChangeViewSink.maintain(spark, src, view, Seq("grp"), "cents",
      appId = "cvs-null", checkpoint = ckpt)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def rootMsgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ rootMsgs(t.getCause)
    assert(rootMsgs(e).exists(_.contains("null group keys are unsupported")),
      rootMsgs(e).mkString(" | "))
    // nothing folded: the view is still empty (no data commits)
    assert(ChangeViewSink.readView(spark, view).isEmpty)
  }

  test("a replayed epoch folds exactly once") {
    val src = tmp("graft_cvs_src_") + "/t"
    val view = tmp("graft_cvs_view_") + "/v"
    val ckpt = tmp("graft_cvs_ckpt_")
    DeltaWrite.writeDeltaTable(
      (1L to 8L).map(i => (i, "g", 100L)).toDF("id", "grp", "cents")
        .repartition(1), src, "append")
    val q = ChangeViewSink.maintain(spark, src, view, Seq("grp"), "cents",
      appId = "cvs-replay", checkpoint = ckpt)
    q.awaitTermination()

    val batch = DeltaRead.changeDiff(spark, src, -1L)
    // the stream already applied epoch 0; offering any epoch <= the txn
    // watermark must be recognized and skipped
    val applied = ChangeViewSink.applyBatch(batch, view, Seq("grp"), "cents",
      appId = "cvs-replay", batchId = 0L)
    assert(!applied, "replayed epoch must be skipped")
    viewEqualsSource(view, src)
  }

  test("IncrementalSink, the append-only view: null keys refused, all-null keys dropped") {
    val base = tmp("graft_cvs_incr_")
    def run(rows: Seq[(Option[String], Option[Long])], name: String): Throwable = {
      val src = s"$base/$name/src"
      rows.toDF("grp", "cents").repartition(1).write.parquet(src)
      val stream = spark.readStream.schema("grp STRING, cents BIGINT").parquet(src)
      val q = IncrementalSink.run(stream, Seq("grp"), "cents",
        s"$base/$name/state", s"$base/$name/ckpt")
      scala.util.Try(q.awaitTermination()).failed.toOption.orNull
    }
    // a null key would fork its state row under the equality-keyed MERGE
    val e = run(Seq((Some("a"), Some(1L)), (None, Some(2L))), "nullkey")
    def rootMsgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ rootMsgs(t.getCause)
    assert(rootMsgs(e).exists(_.contains("null group keys are unsupported")),
      rootMsgs(e).mkString(" | "))
    assert(IncrementalSink.currentState(spark, s"$base/nullkey/state").isEmpty)
    // a key whose values are all null has n = 0: a tombstone, not a row
    assert(run(Seq((Some("a"), Some(1L)), (Some("a"), Some(5L)), (Some("z"), None)),
      "allnull") == null)
    val got = IncrementalSink.currentState(spark, s"$base/allnull/state")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("a", 2L, 6.0, 1.0, 5.0)), got.toString)
  }
}
