package graft.ext

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WebDatasetSpec extends SparkSpec {
  import spark.implicits._

  test("round-trip: samples pack as adjacent key.ext entries and read back exactly") {
    val dir = tmp("graft_wds")
    val rows = Seq(
      ("doc-1", "first document text", Array[Byte](1, 2, 3)),
      ("doc-2", "second one", Array[Byte](9)),
      ("doc-3", "third", null))         // null payload → entry skipped
    val df = rows.toDF("key", "text", "img")
    val shards = WebDataset.writeShards(df, "key",
      Seq("txt" -> "text", "img" -> "img"), dir)
    assert(shards >= 1L)

    val back = WebDataset.readShards(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Array[Byte]](2))).toSeq
    val txts = back.filter(_._2 == "txt")
      .map(t => t._1 -> new String(t._3, "UTF-8")).toMap
    assert(txts == Map("doc-1" -> "first document text",
      "doc-2" -> "second one", "doc-3" -> "third"))
    val imgs = back.filter(_._2 == "img").map(t => t._1 -> t._3.toSeq).toMap
    assert(imgs == Map("doc-1" -> Seq[Byte](1, 2, 3), "doc-2" -> Seq[Byte](9)))

    // adjacency: within a shard, a sample's entries are consecutive
    val order = WebDataset.readShards(spark, dir)
      .select("key", "ext").collect().map(r => (r.getString(0), r.getString(1)))
    val firstIdx = order.zipWithIndex.groupBy(_._1._1)
      .map { case (k, xs) => k -> xs.map(_._2) }
    firstIdx.values.foreach { idxs =>
      assert(idxs.max - idxs.min == idxs.length - 1, order.toSeq.toString)
    }
  }

  test("shards roll at the byte bound without splitting a sample; GNU tar reads the output") {
    val dir = tmp("graft_wds_roll")
    // ~40 KB per sample, 64 KB bound → one sample per shard
    val big = Seq.tabulate(4)(i => (f"sample-$i%02d", "x" * 40000))
    val shards = WebDataset.writeShards(big.toDF("key", "text"),
      "key", Seq("txt" -> "text"), dir, maxShardBytes = 1L << 16)
    val files = Files.list(Paths.get(dir)).iterator()
    var names = List.empty[String]
    while (files.hasNext) {
      val n = files.next().getFileName.toString
      if (n.endsWith(".tar")) names ::= n
    }
    assert(names.size.toLong == shards)
    assert(shards >= 2L, s"expected rolling, got $shards shard(s)")

    // every shard is a well-formed archive to SYSTEM tar, and the entry
    // set is exactly the written samples
    val listed = names.sorted.flatMap { n =>
      val p = new ProcessBuilder("tar", "-tf", s"$dir/$n")
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
      assert(p.waitFor() == 0, s"tar -tf failed on $n: $out")
      out.split('\n').filter(_.nonEmpty).toSeq
    }
    assert(listed.sorted == big.map(_._1 + ".txt").sorted, listed.toString)

    // determinism: a rewrite produces byte-identical shards
    val before = names.sorted.map(n =>
      java.util.Arrays.hashCode(Files.readAllBytes(Paths.get(dir, n))))
    WebDataset.writeShards(big.toDF("key", "text"),
      "key", Seq("txt" -> "text"), dir, maxShardBytes = 1L << 16)
    val after = names.sorted.map(n =>
      java.util.Arrays.hashCode(Files.readAllBytes(Paths.get(dir, n))))
    assert(before == after)
  }

  test("readShards accepts space-padded octal size fields (GNU/bsdtar interop)") {
    // several standard writers left-pad the 12-byte size with spaces
    // instead of zeros; the parser must strip the padding, not throw
    val dir = tmp("graft_wds_pad")
    val payload = "space padded entry".getBytes("UTF-8")
    val h = WebDataset.tarHeader("k1.txt", payload.length.toLong)
    // rewrite size[124,12) as space-padded octal ("     22 \0"-style)
    val oct = java.lang.Long.toOctalString(payload.length.toLong)
    val padded = (" " * (11 - oct.length)) + oct
    System.arraycopy(padded.getBytes("US-ASCII"), 0, h, 124, 11)
    h(135) = 0
    // recompute the checksum over the edited header
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    h.foreach(b => sum += (b & 0xff))
    val chk = java.lang.Long.toOctalString(sum)
    System.arraycopy((("0" * (6 - chk.length)) + chk).getBytes("US-ASCII"),
      0, h, 148, 6)
    h(154) = 0; h(155) = ' '.toByte
    val pad = new Array[Byte]((512 - payload.length % 512) % 512)
    val bytes = h ++ payload ++ pad ++ new Array[Byte](1024)
    Files.write(Paths.get(dir, "shard-ext-0000.tar"), bytes)

    val back = WebDataset.readShards(spark, dir).collect()
    assert(back.length == 1)
    assert(back.head.getString(0) == "k1" && back.head.getString(1) == "txt")
    assert(new String(back.head.getAs[Array[Byte]](2), "UTF-8") ==
      "space padded entry")
  }

  test("streaming shard reader: new shards arrive as new micro-batches, samples exactly-once") {
    val base = tmp("graft_wds_stream")
    val dir = s"$base/in"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(dir))
    def writeShard(n: Int, rows: Seq[(String, String)]): Unit = {
      // stage in a scratch dir, then move the shard in atomically — the
      // file-source contract for files that appear while a stream runs
      val stage = tmp("graft_wds_stage")
      WebDataset.writeShards(rows.toDF("key", "text"), "key",
        Seq("txt" -> "text"), stage)
      val tars = Files.list(Paths.get(stage)).iterator()
      while (tars.hasNext) {
        val p = tars.next()
        if (p.getFileName.toString.endsWith(".tar"))
          Files.move(p, Paths.get(dir, s"in-$n-${p.getFileName}"))
      }
    }
    def runOnce(): Unit = {
      val q = WebDataset.readShardsStream(spark, dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    writeShard(0, Seq(("d1", "first doc"), ("d2", "second doc")))
    runOnce()
    writeShard(1, Seq(("d3", "third doc")))
    runOnce()
    runOnce() // nothing new → no duplicates
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getString(1),
        new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSet
    assert(got == Set(("d1", "txt", "first doc"), ("d2", "txt", "second doc"),
      ("d3", "txt", "third doc")), got.toString)
  }

  test("oversized keys and null keys refuse loudly") {
    val dir = tmp("graft_wds_bad")
    val e = intercept[Exception](
      WebDataset.writeShards(
        Seq(("k" * 120, "t")).toDF("key", "text"), "key",
        Seq("txt" -> "text"), dir))
    assert(e.getMessage != null)
    val e2 = intercept[Exception](
      WebDataset.writeShards(
        Seq((null.asInstanceOf[String], "t")).toDF("key", "text"), "key",
        Seq("txt" -> "text"), dir))
    assert(e2.getMessage != null)
  }
}
