package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
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
    val want = ChangeViewSink.expectedView(spark, srcPath, Seq("grp"), "cents")
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

  test("a repair set past the isin cap repairs through the distributed path") {
    val src = tmp("graft_cvs_src_") + "/t"
    val view = tmp("graft_cvs_view_") + "/v"
    // many groups, every one losing its stored MAX in one epoch — the
    // bootstrap/recovery shape where the repair-key set is the whole key
    // space. isinFastPathMax = 0 forces the cluster-side semi-join leg
    // (the 100 TB path): keys must never need the driver for exactness.
    val df = (1L to 400L)
      .map(i => (i, s"g${i % 100}", i * 10L))
      .toDF("id", "grp", "cents").repartition(4)
    DeltaWrite.writeDeltaTable(df, src, "append") // v0
    // delete each group's max (ids 301..400 hold the per-group maxima)
    DeltaMerge.deleteWhereDv(spark, src, col("id") > 300L) // v1
    DeltaWrite.writeDeltaTable(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("grp",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("mn",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("mx",
            org.apache.spark.sql.types.DoubleType)))),
      view, "append")
    val batch = DeltaRead.changeDiff(spark, src, -1L)
    val applied = ChangeViewSink.applyBatch(batch, view, Seq("grp"), "cents",
      appId = "cvs-large", batchId = 0L, sourcePath = Some(src),
      isinFastPathMax = 0)
    assert(applied, "epoch must commit")
    viewEqualsSource(view, src) // all 100 groups repaired, bounds exact
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
