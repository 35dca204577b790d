package graft.ext

import scala.util.Try

import graft.SparkSpec
import graft.io.{CrashFs, DeltaRead, DeltaWrite}

/** Crash-point matrix for the maintenance verbs of a persisted PQ index:
  * `delete`, `refreshCodebooks`, a rebalance split round and a rebalance
  * merge pass each die at every plain commit phase of DeltaCrashSpec —
  * after the data files are staged, after the temp commit JSON is
  * written, after the put-if-absent publish, and before the
  * auto-checkpoint. The head must then be version N or N+1, with the rows
  * and the trained state in agreement: every row sits in a cell of the
  * index and its codes are what the codebook generation the domain
  * records for that cell encodes. Re-running the verb then succeeds on
  * top of whatever landed, without a rebuild.
  */
class AnnIndexCrashSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)

  private def vec(axis: Int, x: Float): Array[Float] = {
    val v = Array.fill(8)(0.0f)
    v(axis) = x
    v(axis + 4) = 4f
    v
  }

  /** A PQ index over axis clusters of the given sizes (cluster `a` holds
    * ids `a * 100 + i`), checkpointing after every commit so the last
    * phase is reached.
    */
  private def index(sizes: Seq[Int]): String = {
    val path = "crash://" + tmp("graft_ann_crash") + "/idx"
    val pts = for ((n, axis) <- sizes.zipWithIndex; i <- 0 until n)
      yield (axis * 100L + i, vec(axis, 10f + i * 0.05f))
    AnnIndex.build(pts.toDF("vec_id", "embedding"), "vec_id", "embedding", path,
      nCells = sizes.size, m = 4, nCodes = 8)
    DeltaWrite.setTableProperties(spark, path, Map("delta.checkpointInterval" -> "1"))
    path
  }

  private def append(path: String, rows: Seq[(Long, Array[Float])]): Unit =
    AnnIndex.append(rows.toDF("vec_id", "embedding"), "vec_id", "embedding", path)

  private def ids(path: String): Seq[Long] =
    DeltaRead.readDeltaTable(spark, path).select("id").as[Long].collect().toSeq.sorted

  /** Rows and trained state agree: each row's cell exists and its codes
    * encode its vector under the generation the domain records for it.
    */
  private def agree(path: String): Unit = {
    val meta = AnnIndex.meta(spark, path)
    assert(meta.centroids.size == meta.nCells)
    DeltaRead.readDeltaTable(spark, path).select("id", "cell", "vec", "pq_code").collect()
      .foreach { r =>
        val cell = r.getInt(1)
        assert(cell >= 0 && cell < meta.nCells, s"row ${r.getLong(0)} in unknown cell $cell")
        val gen = meta.versionOfCell(cell)
        val want = meta.codebooksAt(gen).encodeVec(r.getSeq[Float](2).toArray)
        assert(want.sameElements(r.getAs[Array[Byte]](3)),
          s"row ${r.getLong(0)} of cell $cell does not decode under generation $gen")
      }
  }

  // (verb, fixture, the verb, the ids it leaves)
  private val verbs: Seq[(String, () => String, String => Any, Seq[Long] => Seq[Long])] = Seq(
    ("delete", () => index(Seq(12, 12, 12)),
      p => AnnIndex.delete(spark, p, Seq(205L, 207L)), _.filterNot(Set(205L, 207L))),
    ("refreshCodebooks", { () =>
      // a cluster far outside the trained value range: its cell re-encodes
      val p = index(Seq(12, 12, 12))
      append(p, (0 until 12).map { i =>
        val v = Array.fill(8)(0.0f); v(3) = 100f + i * 0.05f; v(7) = 40f; (900L + i, v) })
      p
    }, p => AnnIndex.refreshCodebooks(spark, p), identity),
    ("a rebalance split round", { () =>
      val p = index(Seq(12, 12, 12))
      append(p, (0 until 24).map(i => (800L + i, vec(0, 10.1f + i * 0.01f))))
      p
    }, p => AnnIndex.rebalance(spark, p, maxBalance = 1.3, maxSplits = 1), identity),
    ("a rebalance merge pass", () => index(Seq(24, 24, 4)),
      p => AnnIndex.rebalance(spark, p, maxBalance = 4.0, minBalance = 0.3), identity))

  private val logTmp = "_delta_log/.tmp-"
  // (phase, op, marker, after, whether the verb's commit is visible)
  private val phases = Seq(
    ("after data files are staged", "create", logTmp, false, false),
    ("after the temp commit JSON is written", "rename", logTmp, false, false),
    ("after the put-if-absent publish", "rename", logTmp, true, true),
    ("before the auto-checkpoint", "create", ".cp-staging-", false, true))

  test("each maintenance verb is one commit, and rows and state agree after it") {
    verbs.foreach { case (name, fixture, verb, effect) =>
      val p = fixture()
      val (n, before) = (DeltaRead.latestVersion(spark, p), ids(p))
      verb(p)
      assert(DeltaRead.latestVersion(spark, p) == n + 1, s"$name is not one commit")
      assert(ids(p) == effect(before), name)
      agree(p)
    }
  }

  for ((name, fixture, verb, effect) <- verbs; (phase, op, marker, after, lands) <- phases)
    test(s"$name crashing $phase leaves version N or N+1 with rows and state in agreement") {
      val p = fixture()
      val (n, before) = (DeltaRead.latestVersion(spark, p), ids(p))
      CrashFs.arm(op, marker, after)
      val outcome = Try(verb(p))
      assert(CrashFs.disarm(), s"no $op of a $marker path happened")
      // the checkpoint is best-effort: its failure never fails the commit
      if (marker == ".cp-staging-") assert(outcome.isSuccess, outcome.toString)
      else assert(Iterator.iterate(outcome.failed.get)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected crash")), outcome.toString)
      assert(DeltaRead.latestVersion(spark, p) == (if (lands) n + 1 else n))
      assert(ids(p) == (if (lands) effect(before) else before))
      agree(p)

      // re-running the verb lands on top of whatever landed
      verb(p)
      assert(ids(p) == effect(before))
      agree(p)
    }
}
