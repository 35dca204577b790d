package graft.io

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion-vector reads: fixtures are hand-encoded per the public Delta
  * protocol layout (Z85, the versioned blob framing, 64-bit portable
  * roaring bitmaps) — this spec keeps its OWN encoder, independent of the
  * production [[DvWrite]] one, so the read path is exercised against
  * foreign-style bytes rather than round-tripping our writer. The rows
  * the vector marks must provably vanish from every read while time
  * travel to the pre-DV version still sees them.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------- test encoder
  private val z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"

  private def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0)
    val sb = new StringBuilder
    bytes.grouped(4).foreach { g =>
      var v = 0L
      g.foreach(b => v = (v << 8) | (b & 0xFFL))
      val digits = new Array[Char](5)
      var i = 4
      while (i >= 0) { digits(i) = z85Alphabet((v % 85).toInt); v /= 85; i -= 1 }
      sb.appendAll(digits)
    }
    sb.toString
  }

  /** Standard 32-bit roaring serialization with ARRAY containers only
    * (cookie 12346 — cardinality <= 4096 per container).
    */
  private def roaring32Array(values: Seq[Int]): Array[Byte] = {
    val byKey = values.distinct.sorted.groupBy(v => (v >>> 16).toChar).toSeq.sortBy(_._1)
    val n = byKey.size
    val headerEnd = 4 + 4 + 4 * n + 4 * n
    val buf = ByteBuffer.allocate(headerEnd + byKey.map(_._2.size * 2).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(12346).putInt(n)
    byKey.foreach { case (k, vs) => buf.putChar(k).putChar((vs.size - 1).toChar) }
    var off = headerEnd
    byKey.foreach { case (_, vs) => buf.putInt(off); off += vs.size * 2 }
    byKey.foreach { case (_, vs) => vs.foreach(v => buf.putChar((v & 0xFFFF).toChar)) }
    buf.array()
  }

  /** Run-container serialization (cookie 12347, runFlag set). */
  private def roaring32Runs(runs: Seq[(Int, Int)]): Array[Byte] = {
    // single container at key 0, runs of (start, lengthMinus1) in low 16 bits
    val n = 1
    val buf = ByteBuffer.allocate(4 + 1 + 4 * n + 2 + runs.size * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(12347 | ((n - 1) << 16))
    buf.put(1.toByte) // runFlag bitset: container 0 is a run container
    val card = runs.map(_._2 + 1).sum
    buf.putChar(0.toChar).putChar((card - 1).toChar)
    // < 4 containers → no offset words in the run format
    buf.putChar(runs.size.toChar)
    runs.foreach { case (s, lm1) => buf.putChar(s.toChar).putChar(lm1.toChar) }
    buf.array()
  }

  /** DV data block: LE magic + portable RoaringBitmapArray(1 bitmap). */
  private def dvData(bitmap: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 + bitmap.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(1681511377).putLong(1L).put(bitmap)
    buf.array()
  }

  private def appendDvCommit(table: String, dv: String): Unit = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = DeltaRead.snapshot(spark, table).files
    assert(live.size == 1, s"fixture expects one live file, got $live")
    val f = live.head
    val v = DeltaRead.latestVersion(spark, table) + 1
    DeltaWrite.publishCommit(fs, new Path(table, "_delta_log"), v, Seq(
      s"""{"commitInfo":{"timestamp":1,"operation":"DELETE","operationParameters":{},"engineInfo":"external"}}""",
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"remove":{"path":"${f.path}","deletionTimestamp":1,"dataChange":true}}""",
      s"""{"add":{"path":"${f.path}","partitionValues":{},"size":${f.size},"modificationTime":1,"dataChange":true,"deletionVector":$dv}}"""))
  }

  private def freshTable(): String = {
    val table = tmp("graft_dv")
    // one file, row order = id order (no shuffle on a coalesced local seq)
    DeltaWrite.writeDeltaTable(
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      table, "append")
    table
  }

  test("Z85 + roaring decode round-trips the test encoder (array, run, bitmap containers)") {
    val bytes = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    assert(DeletionVectors.decodeZ85(z85Encode(bytes)).toSeq == bytes.toSeq)

    val arr = DeletionVectors.deserializeBitmap(
      dvData(roaring32Array(Seq(1, 3, 70000))).drop(4))
    assert(Seq(1L, 3L, 70000L).forall(arr.contains))
    assert(!arr.contains(2L) && !arr.contains(69999L) && arr.cardinality == 3)

    val runs = DeletionVectors.deserializeBitmap(
      dvData(roaring32Runs(Seq((5, 2), (100, 0)))).drop(4))
    assert(Seq(5L, 6L, 7L, 100L).forall(runs.contains))
    assert(!runs.contains(4L) && !runs.contains(8L) && !runs.contains(101L))
    assert(runs.cardinality == 4)

    // bitmap container: > 4096 values in one 64k chunk
    val many = 0 until 5000
    val bm = DeletionVectors.deserializeBitmap(dvData({
      // encode as a bitmap container: cookie 12346, card > 4096
      val buf = ByteBuffer.allocate(4 + 4 + 4 + 4 + 8192).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(12346).putInt(1)
      buf.putChar(0.toChar).putChar((many.size - 1).toChar)
      buf.putInt(16)
      val words = new Array[Long](1024)
      many.foreach(v => words(v >>> 6) |= (1L << (v & 63)))
      words.foreach(buf.putLong)
      buf.array()
    }).drop(4))
    assert(bm.contains(0L) && bm.contains(4999L) && !bm.contains(5000L))
    assert(bm.cardinality == 5000)
  }

  test("inline DV: marked row indexes vanish; time travel to pre-DV version sees them") {
    val table = freshTable()
    val data = dvData(roaring32Array(Seq(1, 3, 7)))
    appendDvCommit(table,
      s"""{"storageType":"i","pathOrInlineDv":"${z85Encode(pad4(data))}","sizeInBytes":${pad4(data).length},"cardinality":3}""")
    val got = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0L, 2L, 4L, 5L, 6L, 8L, 9L))
    val at0 = DeltaRead.readDeltaTable(spark, table, versionAsOf = Some(0L))
      .collect().map(_.getLong(0))
    assert(at0.sorted.toSeq == (0L until 10L))
  }

  test("file-stored DV (storageType u): uuid-derived path, offset framing, checksum") {
    val table = freshTable()
    val data = dvData(roaring32Array(Seq(0, 9)))
    val uuid = java.util.UUID.randomUUID()
    val uuidBytes = ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits).array()
    // blob: [version 1][at offset 1: size BE | data | crc32(data) BE]
    val crc = new java.util.zip.CRC32(); crc.update(data)
    val blob = ByteBuffer.allocate(1 + 4 + data.length + 4)
      .put(1.toByte).putInt(data.length).put(data).putInt(crc.getValue.toInt).array()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, s"deletion_vector_$uuid.bin"), blob)
    appendDvCommit(table,
      s"""{"storageType":"u","pathOrInlineDv":"${z85Encode(uuidBytes)}","offset":1,"sizeInBytes":${data.length},"cardinality":2}""")
    val got = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(_.getLong(0))
    assert(got.toSeq == (1L to 8L))
  }

  test("DV-aware composition: MERGE rewrites honor the DV; changesSince refuses") {
    val table = freshTable()
    val data = dvData(roaring32Array(Seq(2)))
    appendDvCommit(table,
      s"""{"storageType":"i","pathOrInlineDv":"${z85Encode(pad4(data))}","sizeInBytes":${pad4(data).length},"cardinality":1}""")
    // merge updates id=5; the DV'd id=2 must NOT resurrect in the rewrite
    DeltaMerge.merge(spark, table, Seq((5L, "V5")).toDF("id", "v"), Seq("id"))
    val got = DeltaRead.readDeltaTable(spark, table).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(!got.map(_._1).contains(2L), s"deleted row resurrected: ${got.toSeq}")
    assert(got.toMap.apply(5L) == "V5")
    assert(got.length == 9)

    // incremental exactness still refuses a range with row-level deletes
    val table2 = freshTable()
    appendDvCommit(table2,
      s"""{"storageType":"i","pathOrInlineDv":"${z85Encode(pad4(data))}","sizeInBytes":${pad4(data).length},"cardinality":1}""")
    val e2 = intercept[IllegalArgumentException] {
      DeltaRead.changesSince(spark, table2, fromVersion = 0L).collect()
    }
    assert(e2.getMessage.contains("remove") || e2.getMessage.contains("deletion"),
      e2.getMessage)
  }

  test("checkpoint serializes DV descriptors; compact materializes deletes away") {
    val table = freshTable()
    val data = dvData(roaring32Array(Seq(2)))
    appendDvCommit(table,
      s"""{"storageType":"i","pathOrInlineDv":"${z85Encode(pad4(data))}","sizeInBytes":${pad4(data).length},"cardinality":1}""") // v1
    val expect = Seq(0L, 1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L)

    // checkpoint no longer refuses DV tables: the descriptor rides the
    // checkpoint add row. Prove it by dropping every JSON commit — the
    // checkpoint becomes the ONLY record, and the read must still filter.
    val cpv = DeltaWrite.checkpoint(spark, table)
    assert(cpv == 1L)
    new java.io.File(table, "_delta_log").listFiles()
      .filter(f => f.getName.endsWith(".json") && f.getName.dropRight(5).forall(_.isDigit))
      .foreach(f => assert(f.delete()))
    assert(DeltaRead.readDeltaTable(spark, table)
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
    // the replayed protocol survived the checkpoint (not derived from the
    // mapping mode): reader 3 + deletionVectors feature, as the external
    // DV commit declared
    val proto = DeltaRead.snapshot(spark, table).protocol
    assert(proto.minReader == 3 && proto.readerFeatures.contains("deletionVectors"), proto)

    // compact reads THROUGH the vector and commits the rewrite without the
    // deleted rows — descriptor gone, rows identical
    val cv = DeltaWrite.compact(spark, table)
    assert(cv == 2L)
    val liveAfter = DeltaRead.snapshot(spark, table).files
    assert(liveAfter.forall(_.dv.isEmpty), liveAfter)
    assert(DeltaRead.readDeltaTable(spark, table)
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
    // with the DVs materialized away, a second checkpoint + clean replay
    // round-trips too
    assert(DeltaWrite.checkpoint(spark, table) == 2L)
  }

  test("shallow clone rewrites u-form DVs to absolute p-form; restore resurrects them") {
    val table = freshTable()
    val data = dvData(roaring32Array(Seq(0, 9)))
    val uuid = java.util.UUID.randomUUID()
    val uuidBytes = ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits).array()
    val crc = new java.util.zip.CRC32(); crc.update(data)
    val blob = ByteBuffer.allocate(1 + 4 + data.length + 4)
      .put(1.toByte).putInt(data.length).put(data).putInt(crc.getValue.toInt).array()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, s"deletion_vector_$uuid.bin"), blob)
    appendDvCommit(table,
      s"""{"storageType":"u","pathOrInlineDv":"${z85Encode(uuidBytes)}","offset":1,"sizeInBytes":${data.length},"cardinality":2}""") // v1
    val expect = (1L to 8L).toSeq

    val dest = tmp("graft_dv_clone") + "/t"
    DeltaWrite.cloneShallow(spark, table, dest)
    // the clone's descriptor must be ABSOLUTE (p) — uuid-relative would
    // resolve against the clone's own root, where no blob exists
    val cloneLive = DeltaRead.snapshot(spark, dest).files
    assert(cloneLive.flatMap(_.dv).map(_.storageType).distinct == Seq("p"), cloneLive)
    assert(DeltaRead.readDeltaTable(spark, dest)
      .collect().map(_.getLong(0)).sorted.toSeq == expect)

    // restore across a DV-dropping rewrite resurrects the descriptor
    DeltaWrite.compact(spark, table) // v2: deletes materialized, DV dropped
    DeltaWrite.restore(spark, table, 1L) // v3: back to the DV-carrying state
    val restoredLive = DeltaRead.snapshot(spark, table).files
    assert(restoredLive.exists(_.dv.isDefined), restoredLive)
    assert(DeltaRead.readDeltaTable(spark, table)
      .collect().map(_.getLong(0)).sorted.toSeq == expect)
  }

  /** Z85 needs length % 4; pad the data block with trailing zero bytes —
    * the deserializer stops at the bitmap's own length fields, so padding
    * is inert (mirrors how Delta sizes inline DVs to the encoded form).
    */
  private def pad4(data: Array[Byte]): Array[Byte] =
    if (data.length % 4 == 0) data
    else data ++ new Array[Byte](4 - data.length % 4)
}
