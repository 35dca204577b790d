package graft.io

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** Object-held transport: one JVM-wide instance visible to local-mode
  * executor threads (the CountingTransport pattern).
  */
object V2SinkTransport extends UploadTransport {
  val sent = new ConcurrentLinkedQueue[String]()
  val maxBatch = new AtomicLong(0)
  override def send(batch: Seq[String]): Int = {
    batch.foreach(sent.add)
    maxBatch.getAndUpdate(m => math.max(m, batch.size))
    batch.size
  }
}

class UploadSinkV2Spec extends SparkSpec {

  test("DSv2 write: every payload sent once, batches capped, commit total exact") {
    UploadTransportRegistry.register("v2test", V2SinkTransport)
    V2SinkTransport.sent.clear(); V2SinkTransport.maxBatch.set(0)

    val src = Tables.customer(spark, sf)
    val n = src.count().toInt
    val df = src
      .select(to_json(struct(col("c_custkey"), col("c_name"))).as("payload"))
      .repartition(7) // several tasks → several commit messages
    df.write.format("graft.io.UploadSinkV2")
      .option("transport", "v2test").option("batchSize", "40")
      .mode("append").save()

    val sent = V2SinkTransport.sent.toArray.map(_.toString)
    assert(sent.length == n, s"expected $n payloads, got ${sent.length}")
    assert(sent.distinct.length == n, "no payload may be sent twice")
    assert(V2SinkTransport.maxBatch.get() <= 40, "batch cap violated")
    assert(UploadSinkV2.lastCommitted.get("v2test") == n.toLong)
  }

  test("streaming write: micro-batches drain through the same contract, totals accumulate") {
    UploadTransportRegistry.register("v2stream", V2SinkTransport)
    V2SinkTransport.sent.clear(); V2SinkTransport.maxBatch.set(0)
    UploadSinkV2.lastCommitted.remove("v2stream")

    val dir = java.nio.file.Paths.get(tmp("graft_v2s"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"))
    val stream = graft.streaming.EventsStream.readEvents(spark, dir.toString)
      .select(to_json(struct(col("event_id"), col("event_type"))).as("payload"))
    val ckpt = tmp("graft_v2s_ckpt")
    val q = stream.writeStream.format("graft.io.UploadSinkV2")
      .option("transport", "v2stream").option("batchSize", "200")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val n = graft.Tables.events(spark, sf).count()
    assert(V2SinkTransport.sent.size() == n)
    assert(V2SinkTransport.maxBatch.get() <= 200)
    assert(UploadSinkV2.lastCommitted.get("v2stream") == n)
  }

  test("replayed streaming epoch does not double-count the committed total") {
    UploadSinkV2.lastCommitted.remove("v2replay")
    val sw = new UploadWrite("v2replay", 100).toStreaming
    val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(UploadCommit(7L))
    sw.commit(0L, msgs)
    sw.commit(0L, msgs) // crash-replay of epoch 0 — must be a no-op for the metric
    sw.commit(1L, msgs)
    assert(UploadSinkV2.lastCommitted.get("v2replay") == 14L)
  }

  test("schema contract: a non-single-string-column frame is rejected") {
    UploadTransportRegistry.register("v2test2", V2SinkTransport)
    val bad = Tables.customer(spark, sf).select(col("c_custkey"), col("c_name"))
    val e = intercept[Exception] {
      bad.write.format("graft.io.UploadSinkV2")
        .option("transport", "v2test2").mode("append").save()
    }
    assert(e.getMessage.contains("payload") || e.getMessage.contains("string"),
      e.getMessage)
  }
}
