package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Copy-on-write MERGE / DELETE commits: post-merge reads, copy-on-write
  * file accounting (untouched files survive by identity), time travel
  * across the DML commit, cardinality/conflict guards.
  */
class DeltaMergeSpec extends SparkSpec {
  import spark.implicits._

  private def rows(path: String, versionAsOf: Option[Long] = None): Seq[(Long, String, Long)] =
    DeltaRead.readDeltaTable(spark, path, versionAsOf)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  test("merge: update matched, insert unmatched, one commit, time travel intact") {
    val table = tmp("graft_dm1")
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "n")
    DeltaWrite.writeDeltaTable(base, table, "append")
    val src = Seq((2L, "B", 200L), (4L, "d", 40L)).toDF("id", "v", "n")
    val v = DeltaMerge.merge(spark, table, src, Seq("id"))
    assert(v == 1L)
    assert(rows(table) == Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L), (4L, "d", 40L)))
    // pre-merge state still replayable
    assert(rows(table, Some(0L)) == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    assert(DeltaRead.latestVersion(spark, table) == 1L)
  }

  test("merge is copy-on-write: files without matches are NOT rewritten") {
    val table = tmp("graft_dm2")
    // two separate commits → (at least) two files; the second holds id=3
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "n").coalesce(1), table, "append")
    DeltaWrite.writeDeltaTable(
      Seq((3L, "c", 3L)).toDF("id", "v", "n").coalesce(1), table, "append")
    val before = DeltaRead.snapshot(spark, table).files.map(_.path).toSet
    DeltaMerge.merge(spark, table,
      Seq((3L, "C", 33L)).toDF("id", "v", "n"), Seq("id"))
    val after = DeltaRead.snapshot(spark, table).files.map(_.path).toSet
    // the untouched first-commit file survives by identity
    assert((before & after).nonEmpty, s"untouched file rewritten: $before vs $after")
    assert(rows(table) == Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "C", 33L)))
  }

  test("merge whenMatched=delete drops matched rows; insertUnmatched=false is update-only") {
    val table = tmp("graft_dm3")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("id", "v", "n"), table, "append")
    // delete-by-source: only keys needed on the source side
    DeltaMerge.merge(spark, table, Seq(Tuple1(2L)).toDF("id"), Seq("id"),
      whenMatched = "delete", insertUnmatched = false)
    assert(rows(table) == Seq((1L, "a", 1L), (3L, "c", 3L)))
    // update-only merge: unmatched source rows are NOT inserted
    DeltaMerge.merge(spark, table,
      Seq((3L, "C", 30L), (9L, "x", 90L)).toDF("id", "v", "n"), Seq("id"),
      insertUnmatched = false)
    assert(rows(table) == Seq((1L, "a", 1L), (3L, "C", 30L)))
  }

  test("merge cardinality guard: two source rows per key is refused") {
    val table = tmp("graft_dm4")
    DeltaWrite.writeDeltaTable(Seq((1L, "a", 1L)).toDF("id", "v", "n"), table, "append")
    val dup = Seq((1L, "x", 1L), (1L, "y", 2L)).toDF("id", "v", "n")
    val e = intercept[IllegalArgumentException] {
      DeltaMerge.merge(spark, table, dup, Seq("id"))
    }
    assert(e.getMessage.contains("more than one row"))
  }

  test("deleteWhere rewrites only matching files; no-match returns -1") {
    val table = tmp("graft_dm5")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 1L), (2L, "b", -2L)).toDF("id", "v", "n").coalesce(1), table, "append")
    DeltaWrite.writeDeltaTable(
      Seq((3L, "c", 3L)).toDF("id", "v", "n").coalesce(1), table, "append")
    val before = DeltaRead.snapshot(spark, table).files.map(_.path).toSet
    val v = DeltaMerge.deleteWhere(spark, table, col("n") < 0)
    assert(v == 2L)
    val after = DeltaRead.snapshot(spark, table).files.map(_.path).toSet
    assert((before & after).nonEmpty, "file with no matching rows was rewritten")
    assert(rows(table) == Seq((1L, "a", 1L), (3L, "c", 3L)))
    // time travel to the pre-delete version still sees the deleted row
    assert(rows(table, Some(1L)).map(_._1) == Seq(1L, 2L, 3L))
    assert(DeltaMerge.deleteWhere(spark, table, col("n") > 1000) == -1L)
  }

  test("updateWhere applies set expressions to matching rows only, copy-on-write") {
    val table = tmp("graft_dm_up")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "a", 10L), (2L, "b", -20L)).toDF("id", "v", "n").coalesce(1), table, "append")
    DeltaWrite.writeDeltaTable(
      Seq((3L, "c", 30L)).toDF("id", "v", "n").coalesce(1), table, "append")
    val before = DeltaRead.snapshot(spark, table).files.map(_.path).toSet
    // set expressions read the CURRENT row: negate-and-flag
    val v = DeltaMerge.updateWhere(spark, table, col("n") < 0,
      Map("n" -> -col("n"), "v" -> upper(col("v"))))
    assert(v == 2L)
    assert(rows(table) == Seq((1L, "a", 10L), (2L, "B", 20L), (3L, "c", 30L)))
    // the file with no matching rows survived by identity
    val after = DeltaRead.snapshot(spark, table).files.map(_.path).toSet
    assert((before & after).nonEmpty, "file with no matching rows was rewritten")
    // pre-update state still replayable; no-match returns -1
    assert(rows(table, Some(1L)) == Seq((1L, "a", 10L), (2L, "b", -20L), (3L, "c", 30L)))
    assert(DeltaMerge.updateWhere(spark, table, col("n") > 1000,
      Map("n" -> lit(0L))) == -1L)
    // set expressions cast to the declared column type (int literal → long col)
    DeltaMerge.updateWhere(spark, table, col("id") === 1L, Map("n" -> lit(7)))
    assert(rows(table).head == ((1L, "a", 7L)))
    // a SET key outside the schema is refused
    val e = intercept[IllegalArgumentException](DeltaMerge.updateWhere(
      spark, table, col("id") === 1L, Map("nope" -> lit(1))))
    assert(e.getMessage.contains("not a column"), e.getMessage)
  }

  test("updateWhere on a partition column moves rows to their new partition") {
    val table = tmp("graft_dm_up_part")
    DeltaWrite.writeDeltaTable(
      Seq((1L, "x", 1L), (2L, "y", 2L)).toDF("id", "part", "n"),
      table, "append", partitionBy = Seq("part"))
    val v = DeltaMerge.updateWhere(spark, table, col("id") === 2L,
      Map("part" -> lit("x")))
    assert(v >= 1L)
    val got = DeltaRead.readDeltaTable(spark, table)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "x"), (2L, "x")))
    // partition pruning on the new value finds the moved row
    val pruned = DeltaRead.readDeltaTable(spark, table).filter(col("part") === "x")
    assert(pruned.count() == 2L)
  }

  test("DML on a name-mapped table stages back under the physical layout") {
    val table = tmp("graft_dm_cm")
    DeltaWrite.writeDeltaTableMapped(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"), table, "append")
    // merge: update id=2, insert id=3
    DeltaMerge.merge(spark, table,
      Seq((2L, "B", 200L), (3L, "c", 30L)).toDF("id", "v", "n"), Seq("id"))
    // expression update on the logical names
    DeltaMerge.updateWhere(spark, table, col("id") === 1L,
      Map("n" -> (col("n") + 1)))
    // predicate delete
    DeltaMerge.deleteWhere(spark, table, col("n") > 100L)
    assert(rows(table) == Seq((1L, "a", 11L), (3L, "c", 30L)))
    // every live file (originals AND rewrites) stores physical names
    val files = DeltaRead.snapshot(spark, table).files
    files.foreach { f =>
      val cols = spark.read.parquet(new java.io.File(table, f.path).toString).columns
      assert(cols.forall(_.startsWith("col-")), s"${f.path}: ${cols.mkString(", ")}")
    }
    // time travel across the DML commits still serves logical names
    assert(rows(table, Some(0L)) == Seq((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("merge on a partitioned table keeps hive layout and partition pruning") {
    val table = tmp("graft_dm6")
    val base = Seq((1L, "x", "2024-01-01"), (2L, "y", "2024-01-02"))
      .toDF("id", "v", "day")
    DeltaWrite.writeDeltaTable(base, table, "append", partitionBy = Seq("day"))
    DeltaMerge.merge(spark, table,
      Seq((2L, "Y", "2024-01-02"), (3L, "z", "2024-01-03")).toDF("id", "v", "day"),
      Seq("id"))
    val back = DeltaRead.readDeltaTable(spark, table)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "x", "2024-01-01"), (2L, "Y", "2024-01-02"), (3L, "z", "2024-01-03")))
    // partition values ride the log for the rewritten + inserted files
    val live = DeltaRead.snapshot(spark, table).files
    assert(live.forall(_.partitionValues.contains("day")), live.toString)
    val pruned = back.filter(col("day") === "2024-01-03").collect().map(_.getLong(0))
    assert(pruned.toSeq == Seq(3L))
  }

  test("merge schema guard: source schema must match for UPDATE SET *") {
    val table = tmp("graft_dm7")
    DeltaWrite.writeDeltaTable(Seq((1L, "a", 1L)).toDF("id", "v", "n"), table, "append")
    val bad = Seq((1L, "a")).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      DeltaMerge.merge(spark, table, bad, Seq("id"))
    }
    assert(e.getMessage.contains("must match table"))
  }

  test("DV merge preserves duplicate-key TARGET row multiplicity, matching copy-on-write") {
    // a target with two rows for key 1: upstream Delta MERGE (and our
    // copy-on-write path) updates BOTH; the DV path must re-append one
    // updated row per shadowed position, not one per source key
    def build(prefix: String): String = {
      val t = tmp(prefix)
      DeltaWrite.writeDeltaTable(
        Seq((1L, "a"), (1L, "a2"), (2L, "b"), (3L, "c")).toDF("id", "v"),
        t, "append")
      DeltaWrite.setTableProperties(spark, t,
        Map("delta.enableChangeDataFeed" -> "true"))
      t
    }
    val src = Seq((1L, "A"), (9L, "i")).toDF("id", "v")
    def rows(t: String) = DeltaRead.readDeltaTable(spark, t)
      .orderBy("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val cow = build("graft_dm_dupcow")
    val vCow = DeltaMerge.merge(spark, cow, src, Seq("id"))
    val dv = build("graft_dm_dupdv")
    val vDv = DeltaMerge.merge(spark, dv, src, Seq("id"),
      useDeletionVectors = true)
    val expected = Seq((1L, "A"), (1L, "A"), (2L, "b"), (3L, "c"), (9L, "i"))
    assert(rows(cow) == expected, s"copy-on-write: ${rows(cow)}")
    assert(rows(dv) == expected, s"deletion-vector: ${rows(dv)}")

    // CDC parity too: two pre-images + two post-images for key 1, one insert
    def cdc(t: String, v: Long) = DeltaRead.changeFeed(spark, t, v - 1, Some(v))
      .groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val expectCdc = Map("update_preimage" -> 2L, "update_postimage" -> 2L,
      "insert" -> 1L)
    assert(cdc(cow, vCow) == expectCdc, s"copy-on-write cdc: ${cdc(cow, vCow)}")
    assert(cdc(dv, vDv) == expectCdc, s"deletion-vector cdc: ${cdc(dv, vDv)}")
  }

  test("MERGE on an identity table: inserts mint past the mark, updates carry values, mark rides the same commit") {
    val table = tmp("graft_dm_ident")
    DeltaWrite.writeDeltaTableIdentity(
      Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"), table, "rid")
    // hw = 2 after creation; the source OMITS rid
    val v = DeltaMerge.merge(spark, table,
      Seq(("k2", "B"), ("k3", "c"), ("k4", "d")).toDF("k", "v"), Seq("k"))
    val got = DeltaRead.readDeltaTable(spark, table).orderBy("rid")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L), got.toString) // gap-free grid
    val byK = got.map(t => t._2 -> (t._1, t._3)).toMap
    assert(byK("k2") == (2L, "B"), "matched update must CARRY the target's rid")
    assert(Set(byK("k3")._1, byK("k4")._1) == Set(3L, 4L))

    // values-and-mark-in-ONE-commit: the merge's own version already
    // publishes highWaterMark = 4 (a crash after it can never re-issue)
    val metaAtMerge = DeltaRead.snapshot(spark, table, Some(v)).meta
    assert(metaAtMerge.schemaJson.contains("\"delta.identity.highWaterMark\":4"),
      metaAtMerge.schemaJson)
    // and the next plain append continues past the merged inserts
    DeltaWrite.writeDeltaTable(Seq(("k5", "e")).toDF("k", "v"), table, "append")
    val k5 = DeltaRead.readDeltaTable(spark, table).filter(col("k") === "k5")
      .select("rid").as[Long].collect().head
    assert(k5 == 5L, s"append after merge issued $k5")

    // DV path mints identically (commit cost O(changed rows) preserved)
    DeltaMerge.merge(spark, table,
      Seq(("k1", "A"), ("k6", "f")).toDF("k", "v"), Seq("k"),
      useDeletionVectors = true)
    val after = DeltaRead.readDeltaTable(spark, table).orderBy("rid")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(after.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L, 6L), after.toString)
    assert(after.map(t => t._2 -> t._1).toMap.apply("k6") == 6L)
    assert(after.find(_._2 == "k1").get._3 == "A")

    // a delete-mode merge with no inserts stays a plain carried DML
    DeltaMerge.merge(spark, table, Seq(("k6", "")).toDF("k", "v"), Seq("k"),
      whenMatched = "delete", insertUnmatched = false)
    assert(DeltaRead.readDeltaTable(spark, table).count() == 5L)

    // refusals: source supplying rid; keying on rid
    val e1 = intercept[IllegalArgumentException](DeltaMerge.merge(spark, table,
      Seq((99L, "k9", "x")).toDF("rid", "k", "v"), Seq("k")))
    assert(e1.getMessage.contains("supplies identity column"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](DeltaMerge.merge(spark, table,
      Seq((1L, "z")).toDF("rid", "v"), Seq("rid")))
    assert(e2.getMessage.contains("identity"), e2.getMessage)
  }

  test("identity + row tracking + MERGE compose: minted ids AND stable row ids") {
    val table = tmp("graft_dm_ident_rt")
    DeltaWrite.writeDeltaTableIdentity(
      Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"), table, "rid")
    DeltaWrite.enableRowTracking(spark, table) // backfills the adopted files
    val ids0 = DeltaRead.readDeltaTableWithRowIds(spark, table)
      .select("k", "_row_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ids0.size == 2 && ids0.values.toSet.size == 2)

    // merge: update k1, insert k3 — identity mints, row ids stay stable
    DeltaMerge.merge(spark, table,
      Seq(("k1", "A"), ("k3", "c")).toDF("k", "v"), Seq("k"))
    val after = DeltaRead.readDeltaTableWithRowIds(spark, table)
      .select("k", "rid", "v", "_row_id").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    assert(after("k1")._1 == 1L && after("k1")._2 == "A",
      s"update must carry rid and land the new value: ${after("k1")}")
    assert(after("k1")._3 == ids0("k1"), "an updated row keeps its stable row id")
    assert(after("k2") == (2L, "b", ids0("k2")), "a carried row is untouched")
    assert(after("k3")._1 == 3L, s"insert must mint rid 3: ${after("k3")}")
    assert(!ids0.values.toSet.contains(after("k3")._3), "insert gets a FRESH row id")
  }
}
