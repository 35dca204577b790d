package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.types.{DataType, StructType}

/** The Delta log-action codec: every JSON line a commit publishes is
  * rendered here, one function per action kind, and every action a reader
  * consumes is decoded here, so the log format (key order, which fields
  * are optional, their defaults, how strings escape) lives in one place.
  * Writers decide WHAT a commit says; this object decides how it is
  * spelled. Key order is part of the committed bytes (LogShapeSpec pins
  * it), and optional fields are omitted rather than written as null.
  */
private[io] object DeltaActions {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A JSON string literal. */
  def str(s: String): String = mapper.writeValueAsString(s)

  /** One log line (or any JSON document the log stores) as a tree. */
  def parse(json: String): JsonNode = mapper.readTree(json)

  /** A parsed action back to its one-line form. */
  def render(node: JsonNode): String = mapper.writeValueAsString(node)

  /** An `add` or `remove` changes data unless it says otherwise — a
    * missing `dataChange` is true per the protocol; `false` marks
    * OPTIMIZE-style rewrites that move rows without changing them.
    */
  def dataChange(action: JsonNode): Boolean =
    Option(action.get("dataChange")).forall(_.asBoolean(true))

  /** The data-changing `kind` (`add` / `remove`) actions of a commit. */
  def dataChanging(actions: Seq[JsonNode], kind: String): Seq[JsonNode] =
    actions.collect { case n if n.has(kind) && dataChange(n.get(kind)) => n.get(kind) }

  /** A commit's clock: the monotonic `inCommitTimestamp` when the table
    * enables it (authoritative over the wall clock), else
    * `commitInfo.timestamp`; None when neither is recorded (callers fall
    * back to the file's modification time, the protocol's rule).
    */
  def commitTimestamp(commitInfo: JsonNode): Option[Long] =
    Option(commitInfo.get("inCommitTimestamp")).map(_.asLong())
      .orElse(Option(commitInfo.get("timestamp")).map(_.asLong()))

  /** `numRecords` from an add's stats JSON, when recorded. */
  def numRecords(stats: String): Option[Long] =
    Option(parse(stats).get("numRecords")).map(_.asLong())

  /** One `add` action → [[DeltaRead.LiveFile]] (replay, range reads and
    * conflict checks all decode adds here).
    */
  def parseAdd(a: JsonNode): DeltaRead.LiveFile = {
    val pv = Option(a.get("partitionValues"))
      .map(n => n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty[String, String])
    val dv = Option(a.get("deletionVector")).map { d =>
      DeletionVectors.Descriptor(
        d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
        Option(d.get("offset")).map(_.asLong()),
        d.get("sizeInBytes").asLong(), d.get("cardinality").asLong())
    }
    DeltaRead.LiveFile(a.get("path").asText(), pv,
      size = Option(a.get("size")).map(_.asLong()).getOrElse(0L),
      modificationTime =
        Option(a.get("modificationTime")).map(_.asLong()).getOrElse(0L),
      stats = Option(a.get("stats")).map(_.asText()).filter(_.nonEmpty),
      dv = dv,
      baseRowId = Option(a.get("baseRowId")).map(_.asLong()),
      defaultRowCommitVersion =
        Option(a.get("defaultRowCommitVersion")).map(_.asLong()))
  }

  /** A string map as a JSON object, keys sorted (partition values and
    * table configuration — the order is part of the committed bytes).
    */
  private def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }
      .mkString("{", ",", "}")

  private def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")

  /** `commitInfo`. `params` render in the given order: strings quoted,
    * numbers and booleans bare. `inCommitTimestamp` is present only on
    * tables that enable in-commit timestamps.
    */
  def commitInfo(inCommitTimestamp: Option[Long], now: Long, operation: String,
      params: Seq[(String, Any)]): String = {
    val ict = inCommitTimestamp.map(t => s""""inCommitTimestamp":$t,""").getOrElse("")
    val ps = params.map {
      case (k, v: String) => s"${str(k)}:${str(v)}"
      case (k, v) => s"${str(k)}:$v"
    }.mkString("{", ",", "}")
    s"""{"commitInfo":{$ict"timestamp":$now,"operation":${str(operation)},"operationParameters":$ps,"engineInfo":"graft"}}"""
  }

  /** `protocol`; feature lists only when declared. */
  def protocol(p: DeltaRead.Protocol): String = {
    def features(name: String, fs: Seq[String]): String =
      if (fs.isEmpty) "" else s""","$name":${arr(fs)}"""
    s"""{"protocol":{"minReaderVersion":${p.minReader},"minWriterVersion":${p.minWriter}""" +
      features("readerFeatures", p.readerFeatures) +
      features("writerFeatures", p.writerFeatures) + "}}"
  }

  def metaData(id: String, schemaJson: String, partitionCols: Seq[String],
      configuration: Map[String, String], now: Long): String =
    s"""{"metaData":{"id":${str(id)},"format":{"provider":"parquet","options":{}},"schemaString":${str(schemaJson)},"partitionColumns":${arr(partitionCols)},"configuration":${obj(configuration)},"createdTime":$now}}"""

  /** The `metaData` action republishing the STORED schema with bumped
    * identity high-water marks — the spec's writer obligation: the marks
    * ride the SAME commit as the rows that consumed them (a crash between
    * data and mark would re-issue values). Shared by the append path and
    * MERGE's unmatched-insert minting.
    */
  def identityMetaData(meta: DeltaRead.Meta, hwBumps: Map[String, Long],
      now: Long): String = {
    val bumped = DeltaWrite.withHighWaterMarks(
      DataType.fromJson(meta.schemaJson).asInstanceOf[StructType], hwBumps)
    metaData(DeltaWrite.carriedId(meta), bumped.json, meta.partitionCols,
      meta.configuration, now)
  }

  /** `add`. A row-tracked file carries `baseRowId`, and with it the
    * `defaultRowCommitVersion` when known; re-adds (restore, clone, DV
    * DML) pass a live file's values verbatim — its physical rows never
    * moved, so its ids must not either.
    */
  def add(path: String, partitionValues: Map[String, String], size: Long,
      modificationTime: Long, dataChange: Boolean, stats: Option[String],
      dv: Option[DeletionVectors.Descriptor], baseRowId: Option[Long],
      defaultRowCommitVersion: Option[Long]): String = {
    val statsField = stats.map(s => s""","stats":${str(s)}""").getOrElse("")
    val rid = baseRowId.map(b => s""","baseRowId":$b""" +
      defaultRowCommitVersion.map(v => s""","defaultRowCommitVersion":$v""")
        .getOrElse("")).getOrElse("")
    s"""{"add":{"path":${str(path)},"partitionValues":${obj(partitionValues)},"size":$size,"modificationTime":$modificationTime,"dataChange":$dataChange$statsField${dvField(dv)}$rid}}"""
  }

  def remove(path: String, now: Long, dataChange: Boolean,
      dv: Option[DeletionVectors.Descriptor]): String =
    s"""{"remove":{"path":${str(path)},"deletionTimestamp":$now,"dataChange":$dataChange${dvField(dv)}}}"""

  private def dvField(dv: Option[DeletionVectors.Descriptor]): String =
    dv.map { d =>
      val off = d.offset.map(o => s""","offset":$o""").getOrElse("")
      s""","deletionVector":{"storageType":${str(d.storageType)},"pathOrInlineDv":${str(d.pathOrInlineDv)}$off,"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    }.getOrElse("")

  def txn(appId: String, version: Long, now: Long): String =
    s"""{"txn":{"appId":${str(appId)},"version":$version,"lastUpdated":$now}}"""

  /** `cdc` — change-data files are staged unpartitioned. */
  def cdc(path: String, size: Long): String =
    s"""{"cdc":{"path":${str(path)},"partitionValues":{},"size":$size,"dataChange":false}}"""

  def domainMetadata(domain: String, configuration: String): String =
    s"""{"domainMetadata":{"domain":${str(domain)},"configuration":${str(configuration)},"removed":false}}"""

  /** The `delta.rowTracking` domain carrying the row-id high watermark. */
  def rowTrackingDomain(highWaterMark: Long): String =
    domainMetadata("delta.rowTracking", s"""{"rowIdHighWaterMark":$highWaterMark}""")
}
