package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** The shape of every commit kind the writer emits, pinned action by
  * action: for each commit, the ordered action kinds and, per action, the
  * ordered keys of every JSON object inside it (string values — stats,
  * paths, schema strings — are not descended into). Runs of identical
  * action shapes collapse to `shape xN`. Values (timestamps, UUIDs, sizes)
  * are deliberately not compared: the contract this spec holds is that
  * readers, checkpoints, the change feed and conflict checks see the same
  * log layout, whatever code renders it.
  */
class LogShapeSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  private def keys(n: JsonNode): String =
    if (!n.isObject) ""
    else n.fields().asScala.map(e => e.getKey + keys(e.getValue))
      .mkString("{", ",", "}")

  /** The commit's actions as `kind{keys}` strings, equal neighbours
    * collapsed to `kind{keys} xN`.
    */
  private def shape(path: String, version: Long): Seq[String] = {
    val src = scala.io.Source.fromFile(f"$path/_delta_log/$version%020d.json", "UTF-8")
    val actions = try src.getLines().filter(_.nonEmpty).map { line =>
      val e = mapper.readTree(line).fields().next()
      e.getKey + keys(e.getValue)
    }.toList finally src.close()
    val runs = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    actions.foreach { a =>
      if (runs.nonEmpty && runs.last._1 == a) runs(runs.size - 1) = (a, runs.last._2 + 1)
      else runs += ((a, 1))
    }
    runs.map { case (a, n) => if (n == 1) a else s"$a x$n" }.toSeq
  }

  private def check(path: String, version: Long, want: String*): Unit = {
    assert(version >= 0, s"commit returned $version")
    val got = shape(path, version)
    assert(got == want, s"v$version of $path:\n  got  ${got.mkString("\n       ")}\n  want ${want.mkString("\n       ")}")
  }

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi, 1, 2).select(col("id"), (col("id") % 2).cast("string").as("p"),
      (col("id") * 10).as("v"), (col("id") % 7).as("w"))

  private val CI = "commitInfo{timestamp,operation,operationParameters"
  private val Meta = "metaData{id,format{provider,options{}},schemaString,partitionColumns,configuration"
  private val AddFile = "add{path,partitionValues{},size,modificationTime,dataChange,stats"
  private val AddPart = "add{path,partitionValues{p},size,modificationTime,dataChange,stats"
  private val Remove = "remove{path,deletionTimestamp,dataChange}"
  private val Cdc = "cdc{path,partitionValues{},size,dataChange}"
  private val Dv = "deletionVector{storageType,pathOrInlineDv,offset,sizeInBytes,cardinality}"

  test("plain table: create, append, overwrite, properties, COW and DV DML, OPTIMIZE, restore, clone") {
    val t = tmp("shape_plain") + "/t"
    check(t, DeltaWrite.writeDeltaTable(rows(0, 40), t, "overwrite", Seq("p")),
      s"$CI{mode},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion}",
      s"$Meta{},createdTime}",
      s"$AddPart} x4")
    check(t, DeltaWrite.writeDeltaTable(rows(40, 60), t, "append", Seq("p"), Some(("app", 1L))),
      s"$CI{mode},engineInfo}",
      "txn{appId,version,lastUpdated}",
      s"$AddPart} x4")
    check(t, DeltaWrite.writeDeltaTable(rows(0, 60), t, "overwrite", Seq("p")),
      s"$CI{mode},engineInfo}",
      s"$Remove x8",
      s"$AddPart} x4")
    check(t, DeltaWrite.setTableProperties(spark, t,
        Map("delta.enableChangeDataFeed" -> "true")),
      s"$CI{properties},engineInfo}",
      s"$Meta{delta.enableChangeDataFeed},createdTime}")
    val src = spark.range(55, 65, 1, 1).select(col("id"),
      (col("id") % 2).cast("string").as("p"), (col("id") * 100).as("v"), (col("id") % 7).as("w"))
    check(t, DeltaMerge.merge(spark, t, src, Seq("id"), txn = Some(("app", 2L))),
      s"$CI{predicate,matchedAction},engineInfo}",
      "txn{appId,version,lastUpdated}",
      s"$Remove x2",
      s"$AddPart} x4",
      s"$Cdc x5")
    check(t, DeltaMerge.deleteWhere(spark, t, col("id") < 3),
      s"$CI{predicate},engineInfo}",
      s"$Remove x2",
      s"$AddPart} x2",
      s"$Cdc x2")
    check(t, DeltaMerge.updateWhere(spark, t, col("id") === 10, Map("v" -> lit(-1L))),
      s"$CI{predicate},engineInfo}",
      s"$Remove",
      s"$AddPart}",
      s"$Cdc x2")
    val src2 = spark.range(60, 70, 1, 1).select(col("id"),
      (col("id") % 2).cast("string").as("p"), (col("id") * 1000).as("v"), (col("id") % 7).as("w"))
    check(t, DeltaMerge.merge(spark, t, src2, Seq("id"), useDeletionVectors = true),
      s"$CI{predicate,matchedAction,deletionVectors},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion,readerFeatures,writerFeatures}",
      s"$Remove x2",
      s"$AddPart} x4",
      s"$Cdc x4")
    check(t, DeltaMerge.deleteWhereDv(spark, t, col("id") === 20),
      s"$CI{predicate,deletionVectors},engineInfo}",
      s"$Remove",
      s"$AddPart,$Dv}",
      s"$Cdc x2")
    check(t, DeltaMerge.deleteWhereDv(spark, t, col("id") === 22),
      s"$CI{predicate,deletionVectors},engineInfo}",
      s"remove{path,deletionTimestamp,dataChange,$Dv}",
      s"$AddPart,$Dv}",
      s"$Cdc x2")
    check(t, DeltaMerge.updateWhereDv(spark, t, col("id") === 30, Map("v" -> lit(-3L))),
      s"$CI{predicate,deletionVectors},engineInfo}",
      s"$Remove",
      s"$AddPart,$Dv}",
      s"$AddPart}",
      s"$Cdc x2")
    check(t, DeltaWrite.compact(spark, t, targetBytes = 1L << 20),
      s"$CI{targetBytes},engineInfo}",
      s"$AddPart} x2",
      "remove{path,deletionTimestamp,dataChange} x9")
    DeltaWrite.writeDeltaTable(rows(100, 120), t, "append", Seq("p"))
    check(t, DeltaWrite.compactZOrderN(spark, t, Seq("id", "v", "w"), targetBytes = 1L << 20),
      s"$CI{zOrderBy,targetBytes},engineInfo}",
      s"$AddPart} x2",
      "remove{path,deletionTimestamp,dataChange} x6")
    check(t, DeltaWrite.restore(spark, t, 0L),
      s"$CI{version},engineInfo}",
      s"$Meta{},createdTime}",
      s"$Remove x2",
      s"$AddPart} x4")
    val c = tmp("shape_clone") + "/t"
    check(c, DeltaWrite.cloneShallow(spark, t, c),
      s"$CI{source},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion,readerFeatures,writerFeatures}",
      s"$Meta{},createdTime}",
      s"$AddPart} x4")
  }

  test("mapped, row-tracked and identity creates, and their follow-up commits") {
    val m = tmp("shape_mapped") + "/t"
    check(m, DeltaWrite.writeDeltaTableMapped(rows(0, 10), m, "overwrite"),
      s"$CI{mode},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion}",
      s"$Meta{delta.columnMapping.maxColumnId,delta.columnMapping.mode},createdTime}",
      s"$AddFile} x2")
    check(m, DeltaWrite.addColumn(spark, m, "x", LongType),
      s"$CI{column,type},engineInfo}",
      s"$Meta{delta.columnMapping.maxColumnId,delta.columnMapping.mode},createdTime}")
    check(m, DeltaWrite.renameColumn(spark, m, "w", "w2"),
      s"$CI{from,to},engineInfo}",
      s"$Meta{delta.columnMapping.maxColumnId,delta.columnMapping.mode},createdTime}")
    check(m, DeltaWrite.dropColumn(spark, m, "w2"),
      s"$CI{column},engineInfo}",
      s"$Meta{delta.columnMapping.maxColumnId,delta.columnMapping.mode},createdTime}")

    val r = tmp("shape_rowtracked") + "/t"
    val rtConf = "{delta.enableRowTracking,delta.rowTracking.materializedRowCommitVersionColumnName,delta.rowTracking.materializedRowIdColumnName}"
    check(r, DeltaWrite.writeDeltaTableRowTracked(rows(0, 10), r),
      s"$CI{mode},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion,writerFeatures}",
      s"$Meta$rtConf,createdTime}",
      s"$AddFile,baseRowId,defaultRowCommitVersion} x2",
      "domainMetadata{domain,configuration,removed}")
    check(r, DeltaWrite.writeDeltaTable(rows(10, 20), r, "append"),
      s"$CI{mode},engineInfo}",
      s"$AddFile,baseRowId,defaultRowCommitVersion} x2",
      "domainMetadata{domain,configuration,removed}")
    check(r, DeltaMerge.deleteWhere(spark, r, col("id") === 3),
      s"$CI{predicate},engineInfo}",
      s"$Remove",
      s"$AddFile,baseRowId,defaultRowCommitVersion}",
      "domainMetadata{domain,configuration,removed}")
    check(r, DeltaMerge.deleteWhereDv(spark, r, col("id") === 4),
      s"$CI{predicate,deletionVectors},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion,readerFeatures,writerFeatures}",
      s"$Remove",
      s"$AddFile,$Dv,baseRowId,defaultRowCommitVersion}",
      "domainMetadata{domain,configuration,removed}")
    check(r, DeltaWrite.compact(spark, r, targetBytes = 1L << 20),
      s"$CI{targetBytes},engineInfo}",
      s"$AddFile,baseRowId,defaultRowCommitVersion}",
      "domainMetadata{domain,configuration,removed}",
      s"$Remove x4")

    val i = tmp("shape_identity") + "/t"
    val idMeta = s"$Meta{},createdTime}"
    check(i, DeltaWrite.writeDeltaTableIdentity(
        rows(0, 10).drop("id").withColumnRenamed("v", "v0"), i, "rid"),
      s"$CI{mode},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion,writerFeatures}",
      idMeta,
      s"$AddFile} x2")
    check(i, DeltaWrite.writeDeltaTable(
        rows(10, 14).drop("id").withColumnRenamed("v", "v0"), i, "append"),
      s"$CI{mode},engineInfo}",
      idMeta,
      s"$AddFile} x2")
  }

  /** A checkpoint's files as one DataFrame: ordered top-level columns and
    * the non-null row count per action column.
    */
  private def cpShape(files: Seq[String]): (Seq[String], Map[String, Long]) = {
    val df = spark.read.parquet(files: _*)
    val counts = df.select(df.columns.map(c => count(col(c)).as(c)).toSeq: _*).head()
    (df.columns.toSeq, df.columns.map(c => c -> counts.getAs[Long](c)).toMap)
  }

  private def lastCheckpointKeys(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(s"$path/_delta_log/_last_checkpoint", "UTF-8")
    try mapper.readTree(src.mkString).fieldNames().asScala.toSeq finally src.close()
  }

  test("checkpoints: classic, multi-part and v2 with sidecars") {
    // a row-tracked table with a txn mark: 4 live files, 1 txn, 1 domain
    def table(prefix: String): String = {
      val t = tmp(prefix) + "/t"
      DeltaWrite.writeDeltaTableRowTracked(rows(0, 10), t)
      DeltaWrite.writeDeltaTable(rows(10, 20), t, "append", Nil, Some(("app", 1L)))
      t
    }
    def logFiles(t: String, version: Long): Seq[String] =
      new java.io.File(s"$t/_delta_log").listFiles().map(_.getPath)
        .filter(_.contains(f"/$version%020d.checkpoint.")).sorted.toSeq
    val actions = Seq("add", "metaData", "protocol", "txn", "domainMetadata")

    val c = table("shape_cp")
    val cv = DeltaWrite.checkpoint(spark, c)
    assert(logFiles(c, cv).map(new java.io.File(_).getName) ==
      Seq(f"$cv%020d.checkpoint.parquet"))
    assert(cpShape(logFiles(c, cv)) ==
      ((actions, Map("add" -> 4L, "metaData" -> 1L, "protocol" -> 1L, "txn" -> 1L,
        "domainMetadata" -> 1L))))
    assert(lastCheckpointKeys(c) == Seq("version", "size"))

    val m = table("shape_cp_parts")
    val mv = DeltaWrite.checkpoint(spark, m, parts = 3)
    assert(logFiles(m, mv).map(new java.io.File(_).getName) ==
      (1 to 3).map(i => f"$mv%020d.checkpoint.$i%010d.${3}%010d.parquet"))
    assert(cpShape(logFiles(m, mv)) == cpShape(logFiles(c, cv)))
    assert(lastCheckpointKeys(m) == Seq("version", "size", "parts"))

    val v = table("shape_cp_v2")
    val vv = DeltaWrite.checkpointV2(spark, v, sidecarParts = 2)
    val top = logFiles(v, vv)
    assert(top.size == 1 && top.head.endsWith(".parquet"), top.toString)
    assert(cpShape(top) ==
      ((Seq("metaData", "protocol", "txn", "sidecar", "checkpointMetadata", "domainMetadata"),
        Map("metaData" -> 1L, "protocol" -> 1L, "txn" -> 1L, "sidecar" -> 2L,
          "checkpointMetadata" -> 1L, "domainMetadata" -> 1L))))
    val sidecars = new java.io.File(s"$v/_delta_log/_sidecars").listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(sidecars.size == 2, sidecars.toString)
    assert(cpShape(sidecars) == ((Seq("add"), Map("add" -> 4L))))
    assert(lastCheckpointKeys(v) == Seq("version", "size"))

    // each kind replays to the same table
    Seq(c, m, v).foreach(t => assert(DeltaRead.readDeltaTable(spark, t).count() == 20L))
  }

  test("convert, enableRowTracking, widenColumnType and add column on a plain table") {
    val d = tmp("shape_convert") + "/t"
    rows(0, 20).repartition(2).write.parquet(d)
    check(d, DeltaWrite.convertToDelta(spark, d),
      s"$CI{numFiles},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion}",
      s"$Meta{},createdTime}",
      s"$AddFile} x2")
    check(d, DeltaWrite.enableRowTracking(spark, d),
      s"$CI{backfilledFiles},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion,writerFeatures}",
      s"$Meta{delta.enableRowTracking,delta.rowTracking.materializedRowCommitVersionColumnName,delta.rowTracking.materializedRowIdColumnName},createdTime}",
      s"$AddFile,baseRowId,defaultRowCommitVersion} x2",
      "domainMetadata{domain,configuration,removed}")
    val w = tmp("shape_widen") + "/t"
    DeltaWrite.writeDeltaTable(rows(0, 10).withColumn("w", col("w").cast("int")), w, "overwrite")
    check(w, DeltaWrite.widenColumnType(spark, w, "w", LongType),
      s"$CI{column,type},engineInfo}",
      "protocol{minReaderVersion,minWriterVersion,readerFeatures,writerFeatures}",
      s"$Meta{},createdTime}")
    check(w, DeltaWrite.addColumn(spark, w, "x", LongType),
      s"$CI{column,type},engineInfo}",
      s"$Meta{},createdTime}")
  }
}
