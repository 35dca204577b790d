package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Spark jobs per Delta verb on a tiny checkpointed table. The Delta path
  * is bound by driver round trips, so its job counts are its cost: a head
  * read after a checkpoint costs what one before it costs once the
  * table's snapshot is cached, and at most one job more (the checkpoint
  * decode) when it is not. Every verb runs on a table with a checkpoint
  * behind it, so a cold replay added to any commit adds a job and fails
  * its pin. A lower count is a speedup; a higher one needs a reason.
  */
class DeltaJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def upsert(lo: Long): org.apache.spark.sql.DataFrame =
    (lo until lo + 20).map(i => (i, i * 7)).toDF("id", "v").repartition(1)

  /** A 401-row CDF table over four files, three commits deep. */
  private def cdfTable(): String = {
    val t = tmp("graft_job_budget") + "/t"
    DeltaWrite.writeDeltaTable(spark.range(0, 400).select(col("id"), (col("id") * 10).as("v"))
      .repartition(4), t, "append")                                                    // v0
    DeltaWrite.setTableProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true")) // v1
    DeltaWrite.writeDeltaTable(Seq((1000L, 1L)).toDF("id", "v"), t, "append",
      txn = Some(("app", 3L)))                                                         // v2
    t
  }

  test("head reads, MERGE, compact, checkpoint and lastTxnVersion keep their job counts") {
    val t = cdfTable()
    def read(): Long = DeltaRead.readDeltaTable(spark, t).count()

    DeltaRead.clearSnapshotCache()
    val coldBefore = jobs(read())
    val warmBefore = jobs(read())
    val checkpoint = jobs(DeltaWrite.checkpoint(spark, t))
    val warmAfter = jobs(read())
    DeltaRead.clearSnapshotCache()
    val coldAfter = jobs(read())
    assert(warmAfter <= warmBefore, s"warm head read: $warmAfter jobs after the checkpoint, $warmBefore before")
    assert(coldAfter <= coldBefore + 1, s"cold head read: $coldAfter jobs after the checkpoint, $coldBefore before")

    var txn = -1L
    val counts = Map(
      "read cold" -> coldBefore, "read warm" -> warmBefore, "checkpoint" -> checkpoint,
      "read warm after checkpoint" -> warmAfter, "read cold after checkpoint" -> coldAfter,
      "lastTxnVersion" -> jobs { txn = DeltaWrite.lastTxnVersion(spark, t, "app") },
      "COW MERGE" -> jobs(DeltaMerge.merge(spark, t, upsert(100L), Seq("id"))),
      "DV MERGE" -> jobs(DeltaMerge.merge(spark, t, upsert(300L), Seq("id"),
        useDeletionVectors = true)),
      "compact" -> jobs(DeltaWrite.compact(spark, t)),
      "checkpoint again" -> jobs(DeltaWrite.checkpoint(spark, t)))
    assert(txn == 3L)
    assert(counts == Map(
      "read cold" -> 2, "read warm" -> 2, "checkpoint" -> 1,
      "read warm after checkpoint" -> 2, "read cold after checkpoint" -> 3,
      "lastTxnVersion" -> 0, "COW MERGE" -> 16, "DV MERGE" -> 18, "compact" -> 1,
      "checkpoint again" -> 1), counts.toSeq.sortBy(_._1).mkString(", "))
    assert(DeltaRead.readDeltaTable(spark, t).count() == 401L)
  }

  test("UPDATE and DELETE, copy-on-write and deletion-vector, keep their job counts") {
    val t = cdfTable()
    DeltaWrite.checkpoint(spark, t)
    val counts = Map(
      "COW UPDATE" -> jobs(DeltaMerge.updateWhere(spark, t, col("id") < 20,
        Map("v" -> (col("v") + 1)))),
      "COW DELETE" -> jobs(DeltaMerge.deleteWhere(spark, t, col("id").between(390, 399))),
      "DV UPDATE" -> jobs(DeltaMerge.updateWhereDv(spark, t, col("id").between(100, 119),
        Map("v" -> (col("v") + 1)))),
      "DV DELETE" -> jobs(DeltaMerge.deleteWhereDv(spark, t, col("id").between(300, 309))))
    assert(counts == Map("COW UPDATE" -> 4, "COW DELETE" -> 4, "DV UPDATE" -> 5,
      "DV DELETE" -> 4), counts.toSeq.sortBy(_._1).mkString(", "))
    assert(DeltaRead.readDeltaTable(spark, t).count() == 381L)
  }
}
