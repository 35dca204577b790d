package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.types.{StringType, StructField, StructType}

class HeavyHittersStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("src", StringType), StructField("text", StringType)))

  private def stage(srcDir: String, base: String, name: String,
      rows: Seq[(String, String)]): Unit = {
    rows.toDF("src", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/stage_$name")
    val part = Files.list(Paths.get(s"$base/stage_$name")).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.move(p, Paths.get(srcDir, s"$name.parquet")); moved = true
      }
    }
  }

  test("exact regime: per-group snapshots accumulate across triggers; state stays bounded") {
    val base = tmp("graft_hh_stream")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))

    // snapshots per batch: (batchId, group, token, cnt)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = HeavyHittersStream.topTokens(stream, "src", "text",
        capacity = 16, k = 3)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[HeavyHittersStream.HHRow], id: Long) =>
            ds.collect().foreach(r => got.add((id, r.group, r.token, r.cnt)))
            ()
        }.start()
      q.awaitTermination(120000)
    }

    stage(srcDir, base, "b0", Seq(
      ("a", "x x x y"), ("a", "y z"), ("b", "p p q")))
    runOnce()
    val s0 = got.toArray(Array.empty[(Long, String, String, Long)]).toSeq
    // group a: x=3 y=2 z=1; group b: p=2 q=1 — exact (vocab << capacity)
    assert(s0.filter(_._2 == "a").map(t => (t._3, t._4)).toSet ==
      Set(("x", 3L), ("y", 2L), ("z", 1L)), s0.toString)
    assert(s0.filter(_._2 == "b").map(t => (t._3, t._4)).toSet ==
      Set(("p", 2L), ("q", 1L)), s0.toString)

    // trigger 2: counts ACCUMULATE through the bounded state; the silent
    // group b emits nothing this trigger
    got.clear()
    stage(srcDir, base, "b1", Seq(("a", "y y y y")))
    runOnce()
    val s1 = got.toArray(Array.empty[(Long, String, String, Long)]).toSeq
    assert(s1.filter(_._2 == "a").map(t => (t._3, t._4)).toSet ==
      Set(("y", 6L), ("x", 3L), ("z", 1L)), s1.toString)
    assert(!s1.exists(_._2 == "b"), s1.toString)
  }

  test("approximate regime: emitted counters never exceed capacity and keep the MG retention bound") {
    val base = tmp("graft_hh_stream_apx")
    val srcDir = s"$base/src"
    Files.createDirectories(Paths.get(srcDir))
    // one group, 40-token vocabulary through capacity 8: the heavy token
    // (frequency 50 of N=128 > N/8) must be retained with cnt <= truth
    val heavy = Seq.fill(50)("hot").mkString(" ")
    val tail = (0 until 78).map(i => s"t${i % 39}").mkString(" ")
    stage(srcDir, base, "b0", Seq(("g", heavy), ("g", tail)))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q = HeavyHittersStream.topTokens(
      spark.readStream.schema(schema).parquet(srcDir), "src", "text",
      capacity = 8, k = 8)
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[HeavyHittersStream.HHRow], _: Long) =>
          ds.collect().foreach(r => got.add((r.token, r.cnt)))
          ()
      }.start()
    q.awaitTermination(120000)
    val s = got.toArray(Array.empty[(String, Long)]).toSeq
    assert(s.size <= 8, s.toString)
    val hot = s.find(_._1 == "hot")
    assert(hot.isDefined, s"heavy hitter lost: $s")
    assert(hot.get._2 <= 50L && hot.get._2 >= 50L - 128L / 8, hot.toString)
  }
}
