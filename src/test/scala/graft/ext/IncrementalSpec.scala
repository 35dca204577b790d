package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {

  test("folding daily deltas through merge equals the full recompute, exactly") {
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"),
        dayofmonth(col("ts")).as("day"))
    val days = events.select("day").distinct().collect().map(_.getInt(0)).sorted
    assert(days.length >= 3, "fixture should span several days")

    val keys = Seq("user_id", "event_type")
    var state = Incremental.partialAgg(events.filter(col("day") === days.head), keys, "value")
    days.tail.foreach { d =>
      val delta = Incremental.partialAgg(events.filter(col("day") === d), keys, "value")
      state = Incremental.merge(state, delta, keys)
    }

    val full = Incremental.partialAgg(events, keys, "value")
    // exact match on n/min/max; sums compare to 1e-9 (addition order differs
    // by construction — that's the point of the monoid state)
    val got = state.orderBy("user_id", "event_type").collect()
    val exp = full.orderBy("user_id", "event_type").collect()
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getLong(2) == e.getLong(2), s"n differs at ${g.get(0)},${g.get(1)}")
      assert(math.abs(g.getDouble(3) - e.getDouble(3)) < 1e-9, "sum")
      assert(g.getDouble(4) == e.getDouble(4), "min")
      assert(g.getDouble(5) == e.getDouble(5), "max")
    }
    // derived read view
    val v = Incremental.readView(state)
    assert(v.columns.contains("avg"))
  }

  test("merge handles keys present on only one side") {
    import spark.implicits._
    val a = Seq(("k1", 1.0), ("k1", 3.0)).toDF("k", "v")
    val b = Seq(("k2", 5.0)).toDF("k", "v")
    val s1 = Incremental.partialAgg(a, Seq("k"), "v")
    val s2 = Incremental.partialAgg(b, Seq("k"), "v")
    val m = Incremental.merge(s1, s2, Seq("k")).orderBy("k").collect()
    assert(m.map(_.getString(0)).toSeq == Seq("k1", "k2"))
    assert(m(0).getLong(1) == 2 && m(0).getDouble(2) == 4.0)
    assert(m(1).getLong(1) == 1 && m(1).getDouble(2) == 5.0
      && m(1).getDouble(3) == 5.0 && m(1).getDouble(4) == 5.0)
  }

  test("applyChanges: a real change feed keeps n/sum exact through DML; keys drop at zero") {
    import spark.implicits._
    import graft.io.{DeltaMerge, DeltaRead, DeltaWrite}
    val table = tmp("graft_inc_cdf")
    val d0 = Seq(("k1", 1L, 10.0), ("k1", 2L, 30.0), ("k2", 3L, 5.0))
      .toDF("k", "id", "v")
    DeltaWrite.writeDeltaTable(d0, table, "append") // v0
    DeltaWrite.setTableProperties(spark, table,
      Map("delta.enableChangeDataFeed" -> "true")) // v1
    var state = Incremental.partialAgg(
      DeltaRead.readDeltaTable(spark, table), Seq("k"), "v")
    var last = 1L

    def sync(): Unit = {
      val head = DeltaRead.latestVersion(spark, table)
      state = Incremental.applyChanges(state,
        DeltaRead.changeFeed(spark, table, last, Some(head)), Seq("k"), "v")
      last = head
    }
    def stateMap() = state.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

    // update: k1 id=2 v 30 -> 40 (sum moves by +10, n unchanged)
    DeltaMerge.updateWhere(spark, table, col("id") === 2L, Map("v" -> lit(40.0)))
    sync()
    assert(stateMap() == Map("k1" -> (2L, 50.0), "k2" -> (1L, 5.0)), stateMap())
    // delete every k2 row: the key drops from the state entirely
    DeltaMerge.deleteWhere(spark, table, col("k") === "k2")
    sync()
    assert(stateMap() == Map("k1" -> (2L, 50.0)), stateMap())
    // merge: update one k1 row, insert a k3 row
    DeltaMerge.merge(spark, table,
      Seq(("k1", 1L, 15.0), ("k3", 9L, 7.0)).toDF("k", "id", "v"), Seq("id"))
    sync()
    assert(stateMap() == Map("k1" -> (2L, 55.0), "k3" -> (1L, 7.0)), stateMap())
    // the maintained n/sum equal a from-scratch recompute of the head
    val full = Incremental.partialAgg(
      DeltaRead.readDeltaTable(spark, table), Seq("k"), "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(stateMap() == full, s"${stateMap()} vs $full")
  }
}
