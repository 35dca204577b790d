package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.ext.AnnIndex
import graft.io.{CrashFs, DeltaMerge, DeltaRead, DeltaWrite}

/** Crash recovery of every Delta-backed streaming sink. Each sink runs two
  * epochs into stores on `crash://` paths; the second epoch dies at the
  * temp-commit rename of one of its store commits (before the rename, or
  * after it took effect), and a restart from the same stream checkpoint
  * must leave every store — rows and head version — exactly as an
  * uncrashed run does: no epoch lost, none applied twice. For the two- and
  * three-store sinks the "after commit k" crashes are the crashes between
  * the stores' commits.
  */
class SinkCrashSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)

  /** A sink under test over a scratch dir: `feed(base, e)` lands epoch
    * `e`'s input, `run(base)` drains the stream from the checkpoint under
    * `base`, `stores(base)` are its Delta stores, and an epoch makes
    * `commits` store commits.
    */
  private final case class Sink(name: String, commits: Int,
      stores: String => Seq[String], feed: (String, Int) => Unit,
      run: String => StreamingQuery)

  private def store(base: String, name: String): String = s"crash://$base/$name"

  /** Moves `df`'s one part file into `<base>/src` as the next source file. */
  private def land(base: String, e: Int, df: DataFrame): Unit = {
    val stage = s"$base/stage$e"
    df.coalesce(1).write.parquet(stage)
    Files.createDirectories(Paths.get(s"$base/src"))
    val part = Files.list(Paths.get(stage)).iterator()
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.move(p, Paths.get(s"$base/src/e$e.parquet"))
    }
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val doc = "the quick brown fox jumps over the lazy dog beside a quiet river bank"
  // epoch 0: 2 dups 1 in-batch; epoch 1: 10 dups the accepted 1
  private val docs = Seq(
    Seq((1L, doc), (2L, doc),
      (3L, "columnar storage formats enable predicate pushdown and efficient scans")),
    Seq((10L, doc),
      (11L, "stream processing with watermarks handles late arriving events gracefully"),
      (12L, "vector indexes partition the embedding space into cells for search")))
  private def feedDocs(base: String, e: Int): Unit =
    land(base, e, docs(e).toDF("doc_id", "text"))
  private def docStream(base: String) =
    spark.readStream.schema(docSchema).parquet(s"$base/src")

  private def vec(axis: Int, eps: Float): Seq[Float] =
    Seq.tabulate(8)(i => if (i == axis) 1.0f else if (i == (axis + 1) % 8) eps else 0.0f)
  // epoch 0: 2 rejects 1 in-batch; epoch 1: 10 near-dups the accepted 1
  private val vecs = Seq(
    Seq((1L, vec(0, 0f)), (2L, vec(0, 0.05f)), (3L, vec(3, 0f))),
    Seq((10L, vec(0, 0.03f)), (11L, vec(5, 0f)), (12L, vec(6, 0f))))

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  // the vectors an ANN index is built from, before the epochs
  private val annSeed = Seq.tabulate(8)(i => (100L + i, vec(i % 4, 0.1f * (i / 4))))

  private val kvSchema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))
  // epoch 1's "z" has only a null value: an IncrementalSink tombstone
  private val kvs = Seq(
    Seq(("a", Option(1L)), ("b", Option(2L)), ("a", Option(3L))),
    Seq(("a", Option(5L)), ("c", Option(7L)), ("z", Option.empty[Long])))

  private val sinks = Seq(
    Sink("DeltaStreamSink", 1, b => Seq(store(b, "t")),
      (b, e) => land(b, e, kvs(e).toDF("k", "v")),
      b => DeltaStreamSink.append(spark.readStream.schema(kvSchema).parquet(s"$b/src"),
        store(b, "t"), "crash-app", s"$b/ckpt")),
    Sink("DeltaMergeSink", 1, b => Seq(store(b, "t")),
      { (b, e) =>
        if (e == 0)
          DeltaWrite.writeDeltaTable(Seq(("a", 0L)).toDF("k", "v"), store(b, "t"), "append")
        // one row per key and epoch: the MERGE cardinality contract
        land(b, e, kvs(e).toDF("k", "v").groupBy("k").agg(max("v").as("v")))
      },
      b => DeltaMergeSink.upsert(spark.readStream.schema(kvSchema).parquet(s"$b/src"),
        store(b, "t"), Seq("k"), "crash-app", s"$b/ckpt", outputMode = "append")),
    Sink("ChangeViewSink", 2, b => Seq(store(b, "view")),
      { (b, e) =>
        val src = s"$b/src"
        if (e == 0)
          DeltaWrite.writeDeltaTable((1L to 12L).map(i => (i, s"g${i % 3}", i * 10L))
            .toDF("id", "grp", "cents").repartition(1), src, "append")
        else {
          // a whole group's deletion: the fold leaves a tombstone, which
          // the epoch's second commit deletes
          DeltaMerge.deleteWhere(spark, src, col("grp") === "g0")
          DeltaWrite.writeDeltaTable(Seq((20L, "g3", 5L)).toDF("id", "grp", "cents"),
            src, "append")
        }
      },
      b => ChangeViewSink.maintain(spark, s"$b/src", store(b, "view"), Seq("grp"),
        "cents", "crash-app", s"$b/ckpt")),
    Sink("IncrementalSink", 2, b => Seq(store(b, "state")),
      (b, e) => land(b, e, kvs(e).toDF("k", "v")),
      b => IncrementalSink.run(spark.readStream.schema(kvSchema).parquet(s"$b/src"),
        Seq("k"), "v", store(b, "state"), s"$b/ckpt")),
    Sink("IngestDedupSink", 2, b => Seq(store(b, "accepted"), store(b, "index")),
      feedDocs,
      b => IngestDedupSink.run(docStream(b), "doc_id", "text",
        store(b, "index"), store(b, "accepted"), s"$b/ckpt")),
    Sink("CurationIngestSink", 2, b => Seq(store(b, "accepted"), store(b, "index")),
      feedDocs,
      b => CurationIngestSink.run(docStream(b), "doc_id", "text",
        store(b, "index"), store(b, "accepted"), s"$b/ckpt", minQuality = 0.3)),
    Sink("EmbedIngestDedupSink", 3,
      b => Seq("accepted", "vecs", "bands").map(s => store(b, s"state/$s")),
      (b, e) => land(b, e, vecs(e).toDF("vec_id", "embedding")),
      b => EmbedIngestDedupSink.run(spark.readStream.schema(vecSchema).parquet(s"$b/src"),
        "vec_id", "embedding", store(b, "state"), s"$b/ckpt",
        threshold = 0.9, dim = 8)),
    // an epoch's append (no drift remediation under this bound)
    Sink("AnnMaintainSink", 1, b => Seq(store(b, "index")),
      { (b, e) =>
        if (e == 0) AnnIndex.build(annSeed.toDF("vec_id", "embedding"), "vec_id", "embedding",
          store(b, "index"), nCells = 2)
        land(b, e, vecs(e).toDF("vec_id", "embedding"))
      },
      b => AnnMaintainSink.run(spark.readStream.schema(vecSchema).parquet(s"$b/src"),
        "vec_id", "embedding", store(b, "index"), s"$b/ckpt", maxBalance = 1e9)),
    // epoch 0 inserts (an append); epoch 1 also deletes a row, so its
    // delete commits before the append
    Sink("AnnCdcSink", 2, b => Seq(store(b, "index")),
      { (b, e) =>
        val src = s"$b/src"
        if (e == 0) {
          DeltaWrite.writeDeltaTable(annSeed.toDF("vec_id", "embedding"), src, "append")
          AnnCdcSink.bootstrap(spark, src, "vec_id", "embedding", store(b, "index"), nCells = 2)
        } else DeltaMerge.deleteWhere(spark, src, col("vec_id") === 101L)
        DeltaWrite.writeDeltaTable(vecs(e).toDF("vec_id", "embedding"), src, "append")
      },
      b => AnnCdcSink.run(spark, s"$b/src", "vec_id", "embedding", store(b, "index"),
        s"$b/ckpt", startingVersion = "0")))

  private def drain(sink: Sink, base: String): Unit =
    assert(sink.run(base).awaitTermination(240000), s"${sink.name} did not finish")

  /** Every store's head version and sorted rows. */
  private def state(sink: Sink, base: String): Seq[String] =
    sink.stores(base).flatMap { s =>
      s"$s @ v${DeltaRead.latestVersion(spark, s)}" +:
        DeltaRead.readDeltaTable(spark, s).collect().map(_.toString).sorted.toSeq
    }.map(_.replace(base, "<base>"))

  private val uncrashed = mutable.Map.empty[String, Seq[String]]
  private def reference(sink: Sink): Seq[String] =
    uncrashed.getOrElseUpdate(sink.name, {
      val base = tmp("graft_sink_ref")
      sink.feed(base, 0); drain(sink, base)
      sink.feed(base, 1); drain(sink, base)
      state(sink, base)
    })

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)

  for (sink <- sinks; k <- 1 to sink.commits; after <- Seq(false, true))
    test(s"${sink.name} crashing ${if (after) "after" else "at"} the rename of " +
        s"epoch commit $k of ${sink.commits} recovers exactly once") {
      val want = reference(sink)
      val base = tmp("graft_sink_crash")
      sink.feed(base, 0); drain(sink, base)
      sink.feed(base, 1)
      def heads = sink.stores(base).map(DeltaRead.latestVersion(spark, _)).sum
      val before = heads
      CrashFs.arm("rename", "_delta_log/.tmp-", after, k)
      val crashed = Try(drain(sink, base))
      assert(CrashFs.disarm(), s"commit $k of the epoch never reached its rename")
      assert(crashed.isFailure && messages(crashed.failed.get)
        .exists(_.contains("injected crash")), crashed.toString)
      // the commits before the crash point published, the crashed one only
      // if it died after its rename; staged files of the rest stay unseen
      assert(heads - before == (if (after) k else k - 1))
      drain(sink, base) // restart from the same checkpoint: the epoch replays
      assert(state(sink, base) == want)
    }
}
