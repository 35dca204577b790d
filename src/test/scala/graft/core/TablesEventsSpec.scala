package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** The three physical `events.ts` encodings the driver has shipped
  * (micros-UTC, micros-NTZ, nanos-as-long), each pinned for BOTH halves of
  * the Tables.events contract: (1) values normalize to the same
  * micro-precision TimestampType instants, and (2) a ts-range predicate
  * reaches `PushedFilters` on the parquet scan — the normalization must sit
  * BELOW the scan, or every time-windowed query becomes a full scan at
  * scale.
  */
class TablesEventsSpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-01T00:00:00.000001Z and one hour later, in epoch micros
  private val t0 = 1704067200000001L
  private val t1 = t0 + 3600L * 1000000L

  private def writeFixture(encode: String): String = {
    val dir = tmp(s"graft_ev_$encode")
    val base = Seq((1L, t0, 10L), (2L, t1, 20L)).toDF("event_id", "us", "user_id")
    val df = encode match {
      case "ltz" => base.withColumn("ts", timestamp_micros(col("us")))
      case "ntz" => base.withColumn("ts",
        timestamp_micros(col("us")).cast(TimestampNTZType))
      // nanosAsLong delivers TIMESTAMP(NANOS) as LongType nanos — a plain
      // int64 column is indistinguishable at the Tables.events seam
      case "nanos" => base.withColumn("ts", col("us") * 1000L + 789L)
    }
    df.select(col("event_id"), col("ts"), col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  for (enc <- Seq("ltz", "ntz", "nanos")) {
    test(s"$enc encoding: normalizes to micro TimestampType with exact instants") {
      val ev = Tables.events(spark, writeFixture(enc))
      assert(ev.schema("ts").dataType == TimestampType)
      val got = ev.orderBy("event_id")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      assert(got.toSeq == Seq(t0, t1), s"$enc instants drifted")
    }

    test(s"$enc encoding: a ts-range predicate reaches PushedFilters on the scan") {
      val ev = Tables.events(spark, writeFixture(enc))
      val cutoff = new Timestamp(t1 / 1000) // between t0 and t1
      val q = ev.filter(col("ts") >= lit(cutoff))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
        s"$enc: ts filter not pushed\n$plan")
      assert(plan.contains("GreaterThanOrEqual(ts"), s"$enc: ts not in pushed set\n$plan")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L), s"$enc: wrong filter result")
    }
  }

  test("nanos encoding: normalization materializes once and is reused") {
    val dir = writeFixture("nanos")
    val first = Tables.events(spark, dir)
    val second = Tables.events(spark, dir)
    // both reads resolve to the same materialized location
    def scanPath(p: org.apache.spark.sql.DataFrame): String = {
      val s = p.queryExecution.executedPlan.toString
      val m = "graft_events_norm_[^/,\\]]*".r.findFirstIn(s)
      m.getOrElse(fail(s"no normalized path in plan\n$s"))
    }
    assert(scanPath(first) == scanPath(second))
  }

  test("memoized loads nest: a build may memo its own input") {
    // documents/embeddings memo a widened view whose build memos the raw
    // table; "Aa" and "BB" share a String hash, so these keys share a bin
    val df = spark.range(1).toDF()
    assert(Tables.memo(spark, "nest_Aa")(Tables.memo(spark, "nest_BB")(df)) eq df)
    assert(Tables.memo(spark, "nest_Aa")(spark.range(2).toDF()) eq df)
  }
}
