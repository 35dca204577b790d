package graft.io

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** A local filesystem under the `crash` scheme that fails ONCE, at the
  * k-th `create` or `rename` of a path containing a marker — before the
  * operation, or after it completed (the process died right after a step
  * that took effect). Every create reaches `createOutputStreamWithMode`,
  * so driver and executor writes are both seen.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crash:///")

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    CrashFs.hit("create", f, after = false)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.hit("rename", src, after = false)
    val done = super.rename(src, dst)
    CrashFs.hit("rename", src, after = true)
    done
  }
}

object CrashFs {
  private final case class Trap(op: String, marker: String, after: Boolean, k: Int)
  @volatile private var trap: Option[Trap] = None
  private val seen = new AtomicInteger(0)

  def arm(op: String, marker: String, after: Boolean, k: Int = 1): Unit = {
    seen.set(0)
    trap = Some(Trap(op, marker, after, k))
  }

  /** Clears the trap; true when it fired. */
  def disarm(): Boolean = {
    val fired = trap.isEmpty
    trap = None
    fired
  }

  private def hit(op: String, p: Path, after: Boolean): Unit = trap.foreach { t =>
    if (t.op == op && t.after == after && p.toString.contains(t.marker) &&
        seen.incrementAndGet() == t.k) {
      trap = None
      throw new java.io.IOException(s"injected crash ${if (after) "after" else "at"} $op of $p")
    }
  }
}

/** Crash-point matrix for the commit paths: a MERGE, an UPDATE and a
  * DELETE (each copy-on-write and deletion-vector) die at each phase of
  * their commit — after the data files are staged, after the CDC files are
  * staged, after the temp commit JSON is written, after the put-if-absent
  * publish, and before the auto-checkpoint. Readers must then see version
  * N with the pre-DML rows or N+1 with the post-DML rows and change feed,
  * never a mix, and the next MERGE must commit cleanly on top. An append,
  * an overwrite and a compaction run the same phases minus the CDC one
  * (they stage no change files), each followed by a clean append.
  */
class DeltaCrashSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)

  private def table(): String = {
    val t = "crash://" + tmp("graft_crash") + "/t"
    DeltaWrite.writeDeltaTable(
      (0L until 40L).map(i => (i, i * 10)).toDF("id", "v").repartition(2), t, "overwrite")
    DeltaWrite.setTableProperties(spark, t, Map(
      "delta.enableChangeDataFeed" -> "true", "delta.checkpointInterval" -> "1"))
    t
  }

  private def rows(t: String, version: Option[Long] = None): Map[Long, Long] =
    DeltaRead.readDeltaTable(spark, t, versionAsOf = version)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def changes(t: String, v: Long): Map[String, Long] =
    DeltaRead.changeFeed(spark, t, v - 1, Some(v)).groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Upsert keys [lo, lo + 20): matched ones take v = id * mult, the rest insert. */
  private def upsert(t: String, lo: Long, mult: Long, dv: Boolean): Long =
    DeltaMerge.merge(spark, t,
      (lo until lo + 20).map(i => (i, i * mult)).toDF("id", "v").repartition(1),
      Seq("id"), useDeletionVectors = dv)

  private def applied(model: Map[Long, Long], lo: Long, mult: Long): Map[Long, Long] =
    model ++ (lo until lo + 20).map(i => i -> i * mult)

  private val logTmp = "_delta_log/.tmp-"

  // (phase, op, marker, after, whether the merge's commit is visible)
  private val phases = Seq(
    ("after data files are staged", "create", ".staging-cdc-", false, false),
    ("after CDC files are staged", "create", logTmp, false, false),
    ("after the temp commit JSON is written", "rename", logTmp, false, false),
    ("after the put-if-absent publish", "rename", logTmp, true, true),
    ("before the auto-checkpoint", "create", ".cp-staging-", false, true))
  // a commit that stages no change files goes from its data files straight
  // to the temp commit JSON, so its first phase traps that create
  private val plainPhases =
    phases.head.copy(_2 = phases(1)._2, _3 = phases(1)._3) +: phases.drop(2)

  private def lastCheckpoint(t: String): Option[Long] = DeltaRead.readLastCheckpoint(
    new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration),
    new Path(t, "_delta_log")).map(_.version)

  /** Arms the trap, runs `commit` and checks the crash outcome: the head
    * is N or N+1 per `lands`, the rows are `landed` or `before`, version N
    * time-travels to `before`, and no checkpoint of N+1 survives.
    */
  private def crash(t: String, phase: String, op: String, marker: String, after: Boolean,
      lands: Boolean, before: Map[Long, Long], landed: Map[Long, Long])(
      commit: => Long): Long = {
    val n = DeltaRead.latestVersion(spark, t)
    CrashFs.arm(op, marker, after)
    val outcome = Try(commit)
    assert(CrashFs.disarm(), s"no $op of a $marker path happened")
    // the checkpoint is best-effort: its failure never fails the commit
    if (marker == ".cp-staging-") assert(outcome.isSuccess, outcome.toString)
    else assert(Iterator.iterate(outcome.failed.get)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected crash")), outcome.toString)

    val v = DeltaRead.latestVersion(spark, t)
    assert(v == (if (lands) n + 1 else n), s"$phase: head is v$v")
    assert(rows(t) == (if (lands) landed else before))
    assert(rows(t, Some(n)) == before)
    assert(!lastCheckpoint(t).contains(n + 1), "no checkpoint survives a crash before it")
    v
  }

  for (dv <- Seq(false, true); (phase, op, marker, after, lands) <- phases)
    test(s"${if (dv) "DV" else "COW"} merge crashing $phase leaves version N or N+1, never torn") {
      val t = table()
      val before = rows(t)
      val after1 = applied(before, 30L, 100L)
      val v = crash(t, phase, op, marker, after, lands, before, after1)(upsert(t, 30L, 100L, dv))
      if (lands)
        assert(changes(t, v) == Map("update_preimage" -> 10L,
          "update_postimage" -> 10L, "insert" -> 10L))

      // the next merge commits cleanly on top of whatever landed
      val model = if (lands) after1 else before
      val next = upsert(t, 45L, 1000L, dv)
      assert(next == v + 1)
      assert(rows(t) == applied(model, 45L, 1000L))
      assert(lastCheckpoint(t).contains(next), "the next commit auto-checkpoints")
    }

  // (verb, the commit, its effect on the rows, its change feed)
  private val predicateDml: Seq[(String, String => Long, Map[Long, Long] => Map[Long, Long],
      Map[String, Long])] = {
    val set = Map("v" -> col("id") * 100)
    val updated = (m: Map[Long, Long]) => m ++ (30L until 40L).map(i => i -> i * 100)
    val images = Map("update_preimage" -> 10L, "update_postimage" -> 10L)
    Seq(
      ("COW update", t => DeltaMerge.updateWhere(spark, t, col("id") >= 30, set), updated, images),
      ("DV update", t => DeltaMerge.updateWhereDv(spark, t, col("id") >= 30, set), updated, images),
      ("COW delete", t => DeltaMerge.deleteWhere(spark, t, col("id") >= 30),
        _ -- (30L until 40L), Map("delete" -> 10L)),
      ("DV delete", t => DeltaMerge.deleteWhereDv(spark, t, col("id") >= 30),
        _ -- (30L until 40L), Map("delete" -> 10L)))
  }

  for ((verb, commit, effect, feed) <- predicateDml; (phase, op, marker, after, lands) <- phases)
    test(s"$verb crashing $phase leaves version N or N+1, never torn") {
      val t = table()
      val before = rows(t)
      val v = crash(t, phase, op, marker, after, lands, before, effect(before))(commit(t))
      if (lands) assert(changes(t, v) == feed)

      // the next merge commits cleanly on top of whatever landed
      val model = if (lands) effect(before) else before
      val next = upsert(t, 45L, 1000L, dv = verb.startsWith("DV"))
      assert(next == v + 1)
      assert(rows(t) == applied(model, 45L, 1000L))
      assert(lastCheckpoint(t).contains(next), "the next commit auto-checkpoints")
    }

  private def batch(lo: Long, hi: Long, mult: Long) =
    (lo until hi).map(i => (i, i * mult)).toDF("id", "v").repartition(2)

  // (name, the commit, its effect on the rows)
  private val others: Seq[(String, String => Long, Map[Long, Long] => Map[Long, Long])] = Seq(
    ("append", t => DeltaWrite.writeDeltaTable(batch(40L, 60L, 10L), t, "append"),
      _ ++ (40L until 60L).map(i => i -> i * 10)),
    ("overwrite", t => DeltaWrite.writeDeltaTable(batch(0L, 20L, 7L), t, "overwrite"),
      _ => (0L until 20L).map(i => i -> i * 7).toMap),
    ("compact", t => DeltaWrite.compact(spark, t), identity))

  for ((name, commit, effect) <- others; (phase, op, marker, after, lands) <- plainPhases)
    test(s"$name crashing $phase leaves version N or N+1, never torn") {
      val t = table()
      val before = rows(t)
      val files = DeltaRead.snapshot(spark, t).files.size
      val v = crash(t, phase, op, marker, after, lands, before, effect(before))(commit(t))
      // a compaction changes no row: the live file set tells N from N+1
      if (name == "compact")
        assert((DeltaRead.snapshot(spark, t).files.size < files) == lands)

      // the next commit lands cleanly on top of whatever landed
      val model = if (lands) effect(before) else before
      val next = DeltaWrite.writeDeltaTable(batch(100L, 110L, 3L), t, "append")
      assert(next == v + 1)
      assert(rows(t) == model ++ (100L until 110L).map(i => i -> i * 3))
      assert(lastCheckpoint(t).contains(next), "the next commit auto-checkpoints")
    }
}
