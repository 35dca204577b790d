package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

class BatchManifestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def stage(srcDir: String, base: String, name: String,
      rows: Seq[(Long, String)]): Unit = {
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/stage_$name")
    val part = Files.list(Paths.get(s"$base/stage_$name")).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.move(p, Paths.get(srcDir, s"$name.parquet"))
        moved = true
      }
    }
  }

  private def fs(base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirCount(dir: String, prefix: String): Int = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) 0
    else f.listStatus(p).count(s =>
      s.isDirectory && s.getPath.getName.startsWith(prefix))
  }

  test("20-batch stream: mid-stream compaction folds to one generation; restart replays nothing") {
    val base = tmp("graft_bm_gen")
    val srcDir = s"$base/src"
    val indexDir = s"$base/index"
    val acceptedDir = s"$base/accepted"
    Files.createDirectories(Paths.get(srcDir))

    // 20 distinct docs, one file each; maxFilesPerTrigger=1 → 20 batches
    def doc(i: Int) = (i.toLong,
      s"unique document number $i talking about topic${i * 7} and subject${i * 13} at length")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = IngestDedupSink.run(stream, "doc_id", "text",
        indexDir, acceptedDir, s"$base/ckpt")
      q.awaitTermination(240000)
    }

    (0 until 10).foreach(i => stage(srcDir, base, f"f$i%02d", Seq(doc(i))))
    runOnce()
    assert(dirCount(indexDir, "b") == 10, s"expected 10 batch dirs")
    val n0 = IngestDedupSink.readIndex(spark, indexDir).get.count()
    assert(n0 == 10L)

    // mid-stream fold: 10 b-dirs → one g-dir, accepted alongside
    val floor = IngestDedupSink.compactGenerations(spark, indexDir, acceptedDir)
    assert(floor == 9L, s"floor $floor")
    assert(dirCount(indexDir, "b") == 0 && dirCount(indexDir, "g") == 1)
    assert(dirCount(acceptedDir, "b") == 0 && dirCount(acceptedDir, "g") == 1)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 10L)
    assert(BatchManifest.read(spark, acceptedDir).get.count() == 10L)

    // stream continues past the fold: 10 more batches land above the floor
    (10 until 20).foreach(i => stage(srcDir, base, f"f$i%02d", Seq(doc(i))))
    runOnce()
    assert(dirCount(indexDir, "b") == 10 && dirCount(indexDir, "g") == 1)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 20L)

    // restart with a WIPED checkpoint: every re-numbered batch is at or
    // below the floor or finds its committed dir — nothing reprocesses
    assert(fs(base).delete(new Path(s"$base/ckpt"), true))
    runOnce()
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 20L)
    assert(BatchManifest.read(spark, acceptedDir).get.count() == 20L)

    // second fold supersedes the first generation
    assert(IngestDedupSink.compactGenerations(spark, indexDir, acceptedDir) == 19L)
    assert(dirCount(indexDir, "b") == 0 && dirCount(indexDir, "g") == 1)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 20L)
    val ids = BatchManifest.read(spark, acceptedDir).get
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 20L), ids.toString)
  }

  test("compactIndexEvery folds generations automatically mid-stream") {
    val base = tmp("graft_bm_auto")
    val srcDir = s"$base/src"
    val indexDir = s"$base/index"
    Files.createDirectories(Paths.get(srcDir))
    (0 until 6).foreach(i => stage(srcDir, base, f"f$i%02d", Seq((i.toLong,
      s"distinct auto-compaction doc number $i about theme${i * 11} and area${i * 17}"))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = IngestDedupSink.run(stream, "doc_id", "text",
      indexDir, s"$base/accepted", s"$base/ckpt", compactIndexEvery = 3)
    q.awaitTermination(240000)
    // 6 batches, fold every 3: index holds one generation + ≤2 b-dirs;
    // accepted (never auto-folded — full-corpus rewrite) keeps its 6
    assert(dirCount(indexDir, "g") == 1, "auto-fold did not run")
    assert(dirCount(indexDir, "b") <= 2)
    assert(dirCount(s"$base/accepted", "b") == 6)
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 6L)
    assert(BatchManifest.read(spark, s"$base/accepted").get.count() == 6L)
  }

  test("a crash mid-index-write is NOT a commit: partial dir invisible, replay redoes it") {
    val base = tmp("graft_bm_partial")
    val srcDir = s"$base/src"
    val indexDir = s"$base/index"
    val acceptedDir = s"$base/accepted"
    Files.createDirectories(Paths.get(srcDir))
    stage(srcDir, base, "b0", Seq(
      (1L, "the quick brown fox jumps over the lazy dog beside a quiet river"),
      (2L, "columnar storage formats enable predicate pushdown and efficient scans")))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = IngestDedupSink.run(stream, "doc_id", "text",
        indexDir, acceptedDir, s"$base/ckpt")
      q.awaitTermination(120000)
    }
    runOnce()
    // simulate a crash DURING the index write: the dir exists (df.write
    // creates it before any task runs) but the job never committed — no
    // _SUCCESS. The pre-r14 fs.exists(dir) check called this "committed"
    // and skipped the replay, permanently losing the batch's fingerprints.
    val f = fs(base)
    assert(f.delete(new Path(s"$indexDir/b0/_SUCCESS"), false))
    assert(BatchManifest.read(spark, indexDir).isEmpty,
      "an uncommitted partial dir leaked into the reader")
    assert(!BatchManifest.isBatchCommitted(spark, indexDir, 0L))

    assert(f.delete(new Path(s"$base/ckpt"), true))
    runOnce() // replay: redoes both overwrite-mode writes
    assert(f.exists(new Path(s"$indexDir/b0/_SUCCESS")))
    assert(IngestDedupSink.readIndex(spark, indexDir).get.count() == 2L)
    assert(BatchManifest.read(spark, acceptedDir).get
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("embed-sink generation fold: all three stores compact, admission state intact") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val base = tmp("graft_bm_embed")
    val srcDir = s"$base/src"
    val state = s"$base/state"
    Files.createDirectories(Paths.get(srcDir))
    val vschema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def vec(axis: Int, i: Int): Seq[Float] = {
      val v = Array.fill(8)(0.0f); v(axis) = 10f + i; v.toSeq
    }
    def stageV(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      rows.toDF("vec_id", "embedding").coalesce(1)
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
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(vschema).parquet(srcDir)
      val q = EmbedIngestDedupSink.run(stream, "vec_id", "embedding",
        state, s"$base/ckpt", threshold = 0.95, dim = 8)
      q.awaitTermination(120000)
    }
    stageV("b0", Seq((1L, vec(0, 0)), (2L, vec(1, 0))))
    runOnce()
    stageV("b1", Seq((3L, vec(2, 0)), (4L, vec(0, 0)))) // 4 near-dups 1 → rejected
    runOnce()
    assert(EmbedIngestDedupSink.readVecs(spark, state).get.count() == 3L)

    assert(EmbedIngestDedupSink.compactGenerations(spark, state) == 1L)
    Seq("bands", "vecs", "accepted").foreach { sub =>
      assert(dirCount(s"$state/$sub", "b") == 0 && dirCount(s"$state/$sub", "g") == 1,
        s"$sub did not fold")
    }
    assert(EmbedIngestDedupSink.readVecs(spark, state).get.count() == 3L)
    assert(EmbedIngestDedupSink.readAccepted(spark, state).get
      .select("vec_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // admission still works against the folded index; replay adds nothing
    stageV("b2", Seq((5L, vec(1, 0)), (6L, vec(3, 0)))) // 5 near-dups 2
    runOnce()
    assert(EmbedIngestDedupSink.readAccepted(spark, state).get
      .select("vec_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 6L))
    val fs2 = fs(base)
    assert(fs2.delete(new Path(s"$base/ckpt"), true))
    runOnce()
    assert(EmbedIngestDedupSink.readAccepted(spark, state).get.count() == 4L)
  }

  test("crash-mid-cleanup leftovers: a stale older generation is invisible and the next fold removes it") {
    val base = tmp("graft_bm_stale")
    val dir = s"$base/store"
    // simulate the crash point AFTER a fold renamed g3 into place but
    // BEFORE it deleted the superseded dirs: g1 (older gen), b2, b3
    // (folded batches) all still on disk alongside g3
    Seq((1L, "old-gen")).toDF("id", "v").write.parquet(s"$dir/g1")
    Seq((2L, "b2")).toDF("id", "v").write.parquet(s"$dir/b2")
    Seq((3L, "b3")).toDF("id", "v").write.parquet(s"$dir/b3")
    Seq((1L, "old-gen"), (2L, "b2"), (3L, "b3")).toDF("id", "v")
      .write.parquet(s"$dir/g3")
    // readers: max generation + b-dirs ABOVE it — the stale dirs never serve
    assert(BatchManifest.generationFloor(spark, dir) == 3L)
    assert(BatchManifest.liveDirs(spark, dir).map(_._1) == Seq(3L))
    assert(BatchManifest.read(spark, dir).get.count() == 3L)
    assert(BatchManifest.isBatchCommitted(spark, dir, 2L)) // covered by the floor
    // a later batch lands, the next fold supersedes g3 AND sweeps the strays
    Seq((4L, "b4")).toDF("id", "v").write.parquet(s"$dir/b4")
    assert(BatchManifest.compact(spark, dir) == 4L)
    assert(dirCount(dir, "g") == 1 && dirCount(dir, "b") == 0)
    assert(BatchManifest.read(spark, dir).get.count() == 4L)
    assert(BatchManifest.read(spark, dir).get
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("committed-but-empty batch dirs are skipped, not schema-inference failures") {
    val base = tmp("graft_bm_empty")
    val dir = s"$base/store"
    // b0: real rows; b1: _SUCCESS only (a batch whose survivors were all
    // rejected can land zero part files)
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$dir/b0")
    Files.createDirectories(Paths.get(s"$dir/b1"))
    Files.createFile(Paths.get(s"$dir/b1/_SUCCESS"))
    assert(BatchManifest.liveDirs(spark, dir).map(_._1) == Seq(0L))
    assert(BatchManifest.read(spark, dir).get.count() == 1L)
    assert(BatchManifest.isBatchCommitted(spark, dir, 1L)) // committed, just empty
    // and the empty dir folds away at the next compaction
    assert(BatchManifest.compact(spark, dir) == 1L)
    assert(dirCount(dir, "b") == 0 && dirCount(dir, "g") == 1)
    assert(BatchManifest.read(spark, dir).get.count() == 1L)
  }
}
