package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructField, StructType}

/** Delta Lake table state and log I/O, implemented directly against the
  * PUBLIC transaction-log format (delta.io PROTOCOL.md: a `_delta_log/`
  * of versioned JSON commits holding `protocol` / `metaData` / `add` /
  * `remove` / `txn` / `domainMetadata` actions, optionally summarized by
  * checkpoints named in `_last_checkpoint`) — no delta-core jars. The
  * reference reads Delta tables through `spark.read.load(path)` with the
  * delta extension installed (labelspark client.py:347,500).
  *
  * `DeltaRead` owns:
  *   - SNAPSHOTS: [[snapshot]] replays the log at one version from one
  *     listing — later actions win per file path, the last protocol and
  *     metaData win — and every reader and writer plans on that pinned,
  *     versioned state (writers take their OCC read version from it);
  *   - the SNAPSHOT CACHE: the last head snapshot per table, advanced by
  *     the commit JSONs after it, so a table touched many times replays
  *     each version once; a checkpoint decodes in one Spark job;
  *   - LOG I/O: listing and reading commits, compacted ranges and
  *     checkpoints, and the gap-checked range reads behind the change
  *     surfaces ([[changesSince]], [[changeDiff]], [[changeFeed]]);
  *   - the SCAN: one relation over a log-backed [[DeltaLogFileIndex]]
  *     (the seam delta-core plugs into) under the LAST metaData's schema,
  *     with partition pruning and `add.stats` file skipping, column
  *     mapping and deletion vectors; time travel is replay cut at a
  *     version.
  * The log is driver-side (KBs..MBs at any table size); the data read is
  * an ordinary distributed parquet scan. Commits are [[DeltaWrite]]'s and
  * [[DeltaMerge]]'s.
  */
object DeltaRead {

  /** Table metadata from the last `metaData` action. The FULL
    * configuration map rides along (not just the mapping mode) so
    * checkpoint writers can round-trip it — dropping keys like
    * `delta.columnMapping.maxColumnId` at checkpoint time would corrupt
    * the table for future writers once the JSON tail is cleaned. The
    * stored `id` rides along too: the spec treats it as the table's
    * STABLE GUID (delta-spark embeds it in streaming offsets as
    * reservoirId and fails on change), so every writer that republishes
    * metadata — watermark bumps, schema evolution, property changes —
    * must carry it verbatim; only table creation and clone mint.
    */
  private[io] final case class Meta(schemaJson: String, partitionCols: Seq[String],
      configuration: Map[String, String] = Map.empty, id: String = "") {
    def mappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")
  }

  /** The table's protocol as of the replayed version — LAST protocol
    * action wins, like metaData. Checkpoint and clone writers must carry
    * this forward verbatim: deriving a protocol from the mapping mode
    * alone would silently DOWNGRADE a table whose history declared
    * features (typeWidening, deletionVectors, ...), and the
    * checkpoint/clone can become the only protocol record once the JSON
    * tail is cleaned.
    */
  private[io] final case class Protocol(minReader: Int, minWriter: Int,
      readerFeatures: Seq[String] = Nil, writerFeatures: Seq[String] = Nil)

  /** The PHYSICAL schema of a column-mapped table (mode `name`): every
    * StructField — at any nesting depth, including structs inside arrays
    * and maps — renamed to its `delta.columnMapping.physicalName` field
    * metadata (the name the parquet files actually store; assigned once at
    * mapping enablement and NEVER changed by later renames, which touch
    * only the logical name). Fields without the metadata keep their name,
    * so the transform is identity on unmapped tables.
    */
  private[io] def physicalSchema(logical: StructType): StructType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructField}
    def renameType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(renameField))
      case at: ArrayType => at.copy(elementType = renameType(at.elementType))
      case mt: MapType =>
        mt.copy(keyType = renameType(mt.keyType), valueType = renameType(mt.valueType))
      case other => other
    }
    def renameField(f: StructField): StructField = {
      val phys =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      StructField(phys, renameType(f.dataType), f.nullable)
    }
    StructType(logical.fields.map(renameField))
  }

  /** The projection that maps a physical-name scan back to the logical
    * schema: top-level columns re-alias (free — pushed filters substitute
    * straight through the alias to the physical attribute, so pushdown,
    * stats skipping, and partition pruning all keep working on the
    * physical names the log uses); columns whose type nests renamed
    * structs additionally cast to the logical type (struct casts are
    * positional, so the cast IS the rename and touches no data).
    */
  private def logicalSelect(logical: StructType, phys: StructType): Seq[Column] =
    logical.fields.zip(phys.fields).map { case (lf, pf) =>
      val c = col(s"`${pf.name}`")
      (if (pf.dataType == lf.dataType) c else c.cast(lf.dataType)).as(lf.name)
    }.toSeq

  /** The physical schema of an ID-mapped table (mode `id`): physical
    * names as in [[physicalSchema]], but every field ADDITIONALLY carries
    * `parquet.field.id` = its `delta.columnMapping.id` — the metadata key
    * Spark's parquet reader matches against the file's stored field ids
    * when `spark.sql.parquet.fieldId.read.enabled` is on. That id match
    * IS the mode's authority: the file's own column names are free to
    * differ from the log's physical names (foreign writers exploit this),
    * and a name-resolving read would silently null-fill — which is why
    * this reader refused mode `id` until it could resolve by field id.
    */
  private[io] def physicalSchemaWithIds(logical: StructType): StructType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, MetadataBuilder, StructField}
    def renameType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(renameField))
      case at: ArrayType => at.copy(elementType = renameType(at.elementType))
      case mt: MapType =>
        mt.copy(keyType = renameType(mt.keyType), valueType = renameType(mt.valueType))
      case other => other
    }
    def renameField(f: StructField): StructField = {
      require(f.metadata.contains("delta.columnMapping.id"),
        s"id-mapped table field ${f.name} lacks delta.columnMapping.id — " +
          "the log metaData is not a valid id-mode schema")
      val phys =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      StructField(phys, renameType(f.dataType), f.nullable,
        new MetadataBuilder()
          .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
          .build())
    }
    StructType(logical.fields.map(renameField))
  }

  /** The schema a table's data files store under its mapping mode:
    * [[physicalSchema]] for `name`, [[physicalSchemaWithIds]] for `id`,
    * the logical schema itself when unmapped.
    */
  private[io] def physicalLayout(schema: StructType, mappingMode: String): StructType =
    mappingMode match {
      case "name" => physicalSchema(schema)
      case "id" => physicalSchemaWithIds(schema)
      case _ => schema
    }

  /** The inverse of [[logicalSelect]]: renames a logical-name DataFrame to
    * the physical layout — what [[DeltaWrite]] stages into a mapped
    * table. Same alias + positional-cast mechanics; the target field's
    * METADATA rides the alias (and nested metadata rides the cast's
    * target type), so staging against [[physicalSchemaWithIds]] leaves
    * `parquet.field.id` on every level of the output schema — which is
    * exactly what makes Spark's parquet writer emit footer field ids for
    * id-mapped staging.
    */
  private[io] def physicalSelect(logical: StructType, phys: StructType): Seq[Column] =
    logical.fields.zip(phys.fields).map { case (lf, pf) =>
      val c = col(s"`${lf.name}`")
      val cast = if (pf.dataType == lf.dataType) c else c.cast(pf.dataType)
      if (pf.metadata == org.apache.spark.sql.types.Metadata.empty) cast.as(pf.name)
      else cast.as(pf.name, pf.metadata)
    }.toSeq

  /** One live file: path (log-relative), partition values, and the
    * per-file size/mtime/stats the log carries (stats = the min/max JSON
    * Delta writers embed — fuel for file-level data skipping).
    */
  private[io] final case class LiveFile(path: String,
      partitionValues: Map[String, String], size: Long = 0L,
      modificationTime: Long = 0L, stats: Option[String] = None,
      dv: Option[DeletionVectors.Descriptor] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** One `domainMetadata` action's live state: the latest configuration
    * string per domain (last writer wins, like metaData); removed domains
    * drop out of the map entirely. Row tracking keeps its high watermark
    * here (domain `delta.rowTracking`); domains this engine does not
    * understand are PRESERVED verbatim through checkpoints — dropping one
    * would corrupt another writer's invariants once the JSON tail is
    * cleaned.
    */
  private[io] type Domains = Map[String, String]

  /** The row-id high watermark recorded in the `delta.rowTracking` domain
    * (-1 when absent: no row ids assigned yet).
    */
  private[io] def rowIdHighWaterMark(domains: Domains): Long =
    domains.get("delta.rowTracking").map { cfg =>
      Option(DeltaActions.parse(cfg).get("rowIdHighWaterMark")).map(_.asLong()).getOrElse(-1L)
    }.getOrElse(-1L)

  /** Resolve an action's `path` field against the table root, per the
    * protocol: paths are percent-encoded URIs, RELATIVE to the table root
    * for writer-owned files or ABSOLUTE for externally-referenced ones
    * (the shallow-clone shape — [[DeltaWrite.cloneShallow]] emits these).
    * Percent sequences decode when present; a raw path (what this writer
    * emits) passes through untouched.
    */
  private[io] def resolveFilePath(tablePath: String, p: String): String = {
    val decoded =
      if (p.contains("%"))
        try java.net.URLDecoder.decode(p, "UTF-8")
        catch { case scala.util.control.NonFatal(_) => p }
      else p
    if (decoded.startsWith("/") || decoded.contains("://")) decoded
    else s"$tablePath/$decoded"
  }

  /** Read a Delta table at `path`, optionally at an historical version
    * (`versionAsOf`) or at the state as of a wall-clock instant
    * (`timestampAsOf`, epoch millis — resolved to the last commit at or
    * before it via [[versionAtTimestamp]]). The two pins are mutually
    * exclusive, like Delta's own reader options.
    */
  def readDeltaTable(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): DataFrame = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val pinned = timestampAsOf
      .map(ts => versionAtTimestamp(spark, path, ts)).orElse(versionAsOf)
    val snap = snapshot(spark, path, pinned)
    require(snap.meta != null, s"$path has no metaData action in its _delta_log")
    filesDf(spark, path, snap.meta, snap.files, provenance = false)
  }

  /** Read a row-tracked Delta table with its ROW IDS and row commit
    * versions surfaced as `_row_id` / `_row_commit_version` columns — the
    * public row-tracking read semantics (delta.io spec, `rowTracking`
    * writer feature):
    *
    *  - a row's id is its file's `add.baseRowId` + its PHYSICAL position
    *    in the file (the "fresh" id), unless the file materializes stable
    *    ids in the physical column named by
    *    `delta.rowTracking.materializedRowIdColumnName` — which rewriting
    *    writers (OPTIMIZE, copy-on-write DML) use to PRESERVE ids across
    *    rewrites; the materialized value always wins.
    *  - a row's commit version is `add.defaultRowCommitVersion` (the
    *    commit that added its file) unless materialized — rewrites
    *    materialize the ORIGINAL version for carried rows so compaction
    *    does not make untouched rows look freshly modified.
    *
    * Deletion vectors compose for free: the DV branch filters shadowed
    * positions BEFORE ids attach, and surviving rows keep their physical
    * position — so row ids are stable under DV DML by construction.
    *
    * Refuses tables that do not enable row tracking (ids would be
    * undefined) and live files missing `baseRowId` (enabled mid-history
    * without a backfill — serving partial ids would be silent corruption).
    */
  def readDeltaTableWithRowIds(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): DataFrame = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val pinned = timestampAsOf
      .map(ts => versionAtTimestamp(spark, path, ts)).orElse(versionAsOf)
    val snap = snapshot(spark, path, pinned)
    require(snap.meta != null, s"$path has no metaData action in its _delta_log")
    require(snap.protocol.writerFeatures.contains("rowTracking") ||
        snap.meta.configuration.get("delta.enableRowTracking").contains("true"),
      s"$path does not enable row tracking — row ids are undefined; " +
        "create the table with delta.enableRowTracking=true")
    val missing = snap.files.filter(_.baseRowId.isEmpty)
    require(missing.isEmpty,
      s"$path: ${missing.size} live file(s) carry no baseRowId — row " +
        "tracking was enabled without backfilling existing files; serving " +
        s"partial row ids would be silent corruption (e.g. ${missing.take(3).map(_.path)})")

    val conf = snap.meta.configuration
    val matId = conf.get("delta.rowTracking.materializedRowIdColumnName")
    val matVer = conf.get("delta.rowTracking.materializedRowCommitVersionColumnName")
    val extra = (matId.toSeq ++ matVer.toSeq)
      .map(n => StructField(n, LongType, nullable = true))
    val base = filesDf(spark, path, snap.meta, snap.files,
      provenance = false, rowIndex = true, extraPhysCols = extra)

    // per-file (baseRowId, defaultRowCommitVersion), broadcast-joined on
    // the scheme-and-authority-free file path — file-count-sized, like any
    // file-level metadata join. LEFT join + raise-on-miss: a key-
    // normalization divergence must fail loudly, never drop rows.
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val fileMap = snap.files.map { f =>
      (fs.makeQualified(new Path(resolveFilePath(path, f.path))).toUri.getPath,
        f.baseRowId.get, f.defaultRowCommitVersion.getOrElse(-1L))
    }.toDF("__fkey", "__base_rid", "__dflt_ver")
    val normalized = base.withColumn("__fkey", fileKeyOf(col("__file")))
    val rowId = coalesce(
      (matId.map(col).toSeq :+ (col("__base_rid") + col("__row_idx")) :+
        fileKeyMissError(col("__file"))): _*)
    val rowVer = coalesce((matVer.map(col).toSeq :+
      when(col("__dflt_ver") >= 0, col("__dflt_ver"))): _*)
    normalized.join(broadcast(fileMap), Seq("__fkey"), "left")
      .withColumn("_row_id", rowId)
      .withColumn("_row_commit_version", rowVer)
      .drop((Seq("__fkey", "__file", "__row_idx", "__base_rid", "__dflt_ver") ++
        matId.toSeq ++ matVer.toSeq): _*)
  }

  /** Scheme-and-authority-free path of a scan's `_metadata.file_path` —
    * TEXT-identical to `fs.makeQualified(p).toUri.getPath` on the driver
    * side for every filesystem shape: `file:/p`, `file:///p`,
    * `hdfs://host:port/p`, `s3a://bucket/k` all reduce to the bare path.
    * The previous normalization stripped only the scheme and KEPT the URI
    * authority (`hdfs://host:port/p` → `/host:port/p`) while the driver
    * side dropped it — on any filesystem with an authority the inner
    * file-map joins silently matched nothing. (Distinct authorities
    * cannot collide post-strip within one table: a Delta table's files
    * live under a single root.)
    */
  private[io] def fileKeyOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "^[a-zA-Z][\\w+.-]*:(//[^/]*)?", "")

  /** Terminal `coalesce` branch for file-map joins: reached only when the
    * LEFT join missed, i.e. the scan-side key normalization diverged from
    * the driver-side one — raise with the offending path instead of
    * fabricating or dropping row identity.
    */
  private[io] def fileKeyMissError(file: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    raise_error(concat(lit("row-tracking file map missed scan file "), file,
      lit(" — file-key normalization diverged between scan and log sides")))
      .cast(LongType)

  /** `(version, commit timestamp)` per available commit JSON, ascending —
    * the in-commit clock when the table enables it (authoritative over the
    * wall-clock field), else `commitInfo.timestamp`, else file mtime.
    */
  private[graft] def commitTimestamps(spark: SparkSession,
      path: String): Seq[(Long, Long)] =
    commitInfos(spark, path).map { case (v, ts, _) => (v, ts) }

  /** `(version, commit timestamp, commitInfo)` per available commit JSON,
    * ascending — the [[commitTimestamps]] clock plus the commitInfo action
    * [[history]] reports. Reads each commit up to its commitInfo line.
    */
  private def commitInfos(spark: SparkSession,
      path: String): Seq[(Long, Long, Option[JsonNode])] = {
    val dir = new Path(path, "_delta_log")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir), s"$path is not a Delta table (no _delta_log directory)")
    listCommits(fs, dir).map { case (v, st) =>
      val ci = commitInfo(fs, dir, v)
      (v, ci.flatMap(DeltaActions.commitTimestamp).getOrElse(st.getModificationTime), ci)
    }
  }

  /** The latest version whose commit timestamp is at or before `tsMillis`
    * — Delta's timestamp time travel. A commit's timestamp is its
    * `commitInfo.timestamp` when recorded (this writer and delta-spark
    * both record one) falling back to the commit file's modification time
    * (the protocol's defined fallback); ties/inversions resolve to the
    * HIGHEST qualifying version, matching Delta's monotonicity adjustment.
    * Driver-side only — commit JSONs are KBs. Fails loudly when `tsMillis`
    * predates the earliest available commit (cleaned history cannot be
    * resolved by time) — never silently returns a later state.
    */
  def versionAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val commits = commitTimestamps(spark, path)
    require(commits.nonEmpty, s"$path has no commit JSONs to resolve a timestamp against")
    val qualifying = commits.filter(_._2 <= tsMillis)
    require(qualifying.nonEmpty,
      s"timestampAsOf $tsMillis predates the earliest available commit " +
        s"(version ${commits.head._1} at ${commits.head._2})")
    qualifying.map(_._1).max
  }

  /** Scan an explicit subset of a table's live files — the copy-on-write
    * seam [[DeltaMerge]] uses to rewrite ONLY touched files. With
    * `provenance = true` the result carries a `__file` column (the
    * qualified URI of the source file) so row → file attribution costs
    * nothing beyond the scan.
    *
    * Files carrying a deletion vector read through a second branch that
    * projects the parquet ROW INDEX and drops the positions the (driver-
    * loaded, broadcast) bitmap marks deleted — rows tombstoned without a
    * rewrite are invisible, exactly like any conforming Delta reader.
    * DV-free files stay on the plain fully-codegen'd scan; a table with no
    * DVs pays nothing.
    *
    * With `rowIndex = true` every row additionally carries `__file` and
    * `__row_idx` — its PHYSICAL position in its parquet file (already-
    * deleted positions never appear, since the DV branch filters them) —
    * the seam [[DeltaMerge.deleteWhereDv]] uses to build new deletion
    * bitmaps without rewriting data.
    *
    * With `dataSkipping = false` filters on data columns skip no file
    * (parquet still skips row groups): every file is listed, so the scan's
    * partitions are the full scan's whatever the filter.
    */
  private[io] def filesDf(spark: SparkSession, path: String, meta: Meta,
      files: Seq[LiveFile], provenance: Boolean,
      rowIndex: Boolean = false,
      extraPhysCols: Seq[StructField] = Nil,
      dataSkipping: Boolean = true): DataFrame = {
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    if (files.isEmpty) {
      var out = StructType(schema.fields ++ extraPhysCols)
      if (provenance || rowIndex) out = out.add("__file", "string")
      if (rowIndex) out = out.add("__row_idx", "long")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    }
    // Column mapping: the SCAN runs entirely under the physical names the
    // parquet files and the log use — partition schema, data schema,
    // partitionValues keys, and stats keys all line up with no translation
    // inside the index — and one aliasing projection on top restores the
    // logical names ([[logicalSelect]]). Mode `id` additionally stamps
    // `parquet.field.id` on every read-schema field and flips the session
    // flag, so the parquet reader resolves columns by FIELD ID (the mode's
    // authority — file-local column names are free to differ). Unmapped
    // tables take the same code path with phys == schema.
    val phys = physicalLayout(schema, meta.mappingMode)
    // id mode: the read flag rides the RELATION's options (overlaid onto
    // the per-query hadoop conf after session confs), so id-resolution is
    // scoped to exactly this scan — never leaked session-wide
    val scanOptions: Map[String, String] =
      if (meta.mappingMode == "id")
        Map(FieldIdParquetFileFormat.readFlag -> "true")
      else Map.empty
    val logToPhys = schema.fieldNames.zip(phys.fieldNames).toMap
    val physPartCols = meta.partitionCols.map(c => logToPhys.getOrElse(c, c))
    // tolerate either key convention in add.partitionValues (the spec says
    // physical names under mapping; normalize logical-keyed writers too)
    val normFiles =
      if (meta.mappingMode != "none")
        files.map(f => f.copy(partitionValues =
          f.partitionValues.map { case (k, v) => (logToPhys.getOrElse(k, k), v) }))
      else files

    def scanOf(subset: Seq[LiveFile], withRowIdx: Boolean): DataFrame = {
      val partitionSchema = StructType(physPartCols.map(c => phys(c)))
      // extraPhysCols (e.g. row tracking's materialized row-id columns)
      // are physical-only fields OUTSIDE the table schema: files that
      // lack them read as null, files that carry them resolve by name
      val dataSchema = StructType(
        phys.fields.filterNot(f => physPartCols.contains(f.name)) ++ extraPhysCols)

      // One scan relation over a LOG-BACKED FileIndex (the delta-core
      // seam): plan size is independent of partition count and layout,
      // partition pruning evaluates against the log's partitionValues
      // (INCLUDING bounds derived from data filters on generated-column
      // sources — a ts range prunes day=date(ts) partitions), and pushed
      // data filters skip whole FILES via add.stats min/max — a pruned
      // file is never opened.
      val genPrune =
        if (meta.mappingMode != "none") Map.empty[String, GenPrune]
        else GeneratedPruning.forPartitionCols(schema, meta.partitionCols,
          meta.configuration.get(GeneratedPruning.TimeZoneProp))
      val index = new DeltaLogFileIndex(spark, path, subset, partitionSchema,
        genPrune, dataSkipping)
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, partitionSchema, dataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        scanOptions)(spark)
      val base = spark.baseRelationToDataFrame(relation)
      val cols = logicalSelect(schema, phys) ++
        extraPhysCols.map(f => col(f.name)) ++
        (if (provenance || withRowIdx) Seq(col("_metadata.file_path").as("__file")) else Nil) ++
        (if (withRowIdx) Seq(col("_metadata.row_index").as("__row_idx")) else Nil)
      base.select(cols: _*)
    }

    val (dvFiles, cleanFiles) = normFiles.partition(_.dv.isDefined)
    if (dvFiles.isEmpty) return scanOf(cleanFiles, withRowIdx = rowIndex)

    // deleted-position bitmaps: loaded once on the driver (O(files) blob
    // reads, O(deleted) bits), broadcast, probed per scanned row of the
    // DV-bearing files ONLY. Keyed by scheme-free URI path — the same
    // normalization applied to `_metadata.file_path` in the probe.
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvMap: Map[String, DeletionVectors.RoaringArray] = dvFiles.map { f =>
      fs.makeQualified(new Path(resolveFilePath(path, f.path))).toUri.getPath ->
        DeletionVectors.load(fs, root, f.dv.get)
    }.toMap
    val bc = spark.sparkContext.broadcast(
      new graft.functions.DiffExpressions.DvTable(dvMap))
    // codegen'd position filter (graft.functions.DiffExpressions pattern):
    // the original boxed udf allocated a Hadoop Path per scanned row of
    // every DV-bearing file and broke whole-stage codegen in the read hot
    // path — the expression memoizes the per-file key normalization
    val shims = org.apache.spark.sql.GraftSqlShims
    val survives = shims.column(graft.functions.DiffExpressions.DvSurvivesExpr(
      shims.expression(col("__file")), shims.expression(col("__row_idx")), bc))
    val dvScan0 = scanOf(dvFiles, withRowIdx = true)
      .filter(survives)
    val dvScan =
      if (rowIndex) dvScan0
      else dvScan0.drop(
        (if (provenance) Seq("__row_idx") else Seq("__row_idx", "__file")): _*)
    val cleanScan =
      if (cleanFiles.isEmpty) None else Some(scanOf(cleanFiles, withRowIdx = rowIndex))
    cleanScan.map(_.unionByName(dvScan)).getOrElse(dvScan)
  }

  /** STREAMING read of an append-only Delta table: a FileStreamSource over
    * the data files with the schema taken from the LOG's metaData (never
    * inferred — reads survive schema evolution), leaning on Spark's
    * convention that underscore-prefixed paths (`_delta_log/`) are
    * invisible to file listing. Micro-batches surface files as they are
    * WRITTEN, which for a writer that writes-then-commits promptly is the
    * commit order; tables that rewrite files (compaction, DML) need the
    * poll-based [[changesSince]] instead — this is the ingest-tail shape,
    * not CDC.
    */
  def readStreamAppendOnly(spark: SparkSession, path: String): DataFrame = {
    val Snapshot(_, meta, liveFiles, _, _, _) = snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    require(meta.mappingMode != "id",
      s"readStreamAppendOnly($path): id-mapped tables resolve columns by " +
        "parquet field id, which the raw file stream cannot honor — use " +
        "batch reads, changesSince, or stream " +
        "format(\"graft.streaming.DeltaChangeSource\")")
    require(liveFiles.forall(_.dv.isEmpty),
      s"readStreamAppendOnly($path): the table carries deletion vectors — a raw " +
        "file stream would resurrect the deleted rows; stream the change tail " +
        "(format(\"graft.streaming.DeltaChangeSource\")), poll changeDiff " +
        "(exact insert/delete rows from the log), or enable " +
        "delta.enableChangeDataFeed and tail readChangeFeedStream")
    // Delta data files do NOT contain the partition columns — their values
    // live in each add's partitionValues, which a FileStreamSource never
    // sees. Streaming a partitioned table here would emit those columns as
    // all-NULL silently; refuse instead ([[changesSince]] reads partition
    // values from the log, and format("graft.streaming.DeltaChangeSource")
    // is the streaming alternative).
    require(meta.partitionCols.isEmpty,
      s"readStreamAppendOnly only supports unpartitioned tables; $path is " +
        s"partitioned by ${meta.partitionCols.mkString(", ")} and partition " +
        "values exist only in the log — use changesSince or stream " +
        "format(\"graft.streaming.DeltaChangeSource\") instead")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    if (meta.mappingMode == "name") {
      val phys = physicalSchema(schema)
      spark.readStream.schema(phys).parquet(path)
        .select(logicalSelect(schema, phys): _*)
    } else spark.readStream.schema(schema).parquet(path)
  }

  /** Rows ADDED between `fromVersion` (exclusive) and `toVersion`
    * (inclusive; default head) — the incremental-ingest surface that pairs
    * with [[graft.ext.Incremental]]: a consumer remembers its last
    * processed version ([[latestVersion]]) and each poll reads ONLY the
    * files new commits added, never rescanning the table. Exact for
    * append-only tables (the ingest shape); a log with removes in the
    * range means rewrites happened and callers should re-derive instead —
    * surfaced via a loud error rather than silently double-counting.
    */
  def changesSince(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val metaHead = snapshot(spark, path, toVersion).meta
    require(metaHead != null, s"$path has no metaData action in its _delta_log")
    val (adds, removes) = actionsInRange(spark, path, fromVersion, toVersion)
    require(removes.isEmpty,
      s"changesSince($fromVersion): the range contains ${removes.size} remove action(s) " +
        "(compaction or rewrite) — incremental ADD reads are only exact on " +
        "append-only ranges; use changeDiff (log-diffed insert/delete rows) or " +
        "enable delta.enableChangeDataFeed and use changeFeed")
    require(adds.forall(_.dv.isEmpty),
      s"changesSince($fromVersion): the range re-adds files with deletion vectors " +
        "(row-level deletes) — not an append-only range; use changeDiff " +
        "(log-diffed insert/delete rows) or enable delta.enableChangeDataFeed " +
        "and use changeFeed")
    // same scan construction as a full read (log-backed index, column
    // mapping, pushdown) — just over the range's adds instead of the live set
    filesDf(spark, path, metaHead, adds, provenance = false)
  }

  /** Row-level changes in `(fromVersion, toVersion]` derived FROM THE LOG
    * AND DATA FILES ALONE — the incremental surface for tables that never
    * enabled the change data feed. Each commit's add/remove actions
    * decompose into `(columns..., _change_type, _commit_version)` rows
    * (the [[changeFeed]] shape):
    *
    *   - a plain add → its visible rows as `insert`;
    *   - a re-add that GROWS a file's deletion vector (DV DELETE/UPDATE/
    *     MERGE) → rows at the newly-shadowed positions as `delete`;
    *   - a re-add that SHRINKS it (RESTORE) → re-exposed rows as `insert`;
    *   - a remove without re-add (copy-on-write rewrite, or a DV delete
    *     that shadowed a whole file) → its previously-visible rows as
    *     `delete`.
    *
    * Exact as a MULTISET DIFF: applying the result to the `fromVersion`
    * snapshot yields the `toVersion` snapshot. What it cannot recover is
    * update IDENTITY — an UPDATE surfaces as delete+insert, where CDF
    * records update_pre/postimage pairs — so when the table has CDF
    * enabled (`preferCdf`, default), the range is served by [[changeFeed]]
    * instead and this decomposition is only the fallback for ranges CDF
    * cannot cover (pre-enablement history).
    *
    * Cost shape: O(changed files) driver-side log/bitmap work, and the
    * PLAN is O(change types) ≤ 2 scan legs regardless of how many files
    * or commits the range touches: all of one type's slices ride one
    * [[filesDf]] scan over the distinct changed files, a single broadcast
    * [[graft.functions.DiffExpressions.SliceTable]] maps each scanned
    * `(file, row_idx)` to the commit versions at which that position
    * changed (a codegen'd expression — no boxed UDF), and an `explode`
    * stamps `_commit_version`. A range containing a full-table rewrite
    * still costs a full-table read, which is what that commit did. Files
    * removed in the range must still exist on disk (i.e. not yet
    * vacuumed), and the range's commit JSONs must still be listable
    * gap-free (a cleaned-up range CANNOT be decomposed — an `earliest`
    * bootstrap after checkpoint cleanup would silently omit the cleaned
    * commits' rows) — both refused loudly, naming the CDF remedy.
    */
  def changeDiff(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Option[Long] = None, preferCdf: Boolean = true): DataFrame = {
    val metaHead = snapshot(spark, path, toVersion).meta
    require(metaHead != null, s"$path has no metaData action in its _delta_log")
    if (preferCdf &&
        metaHead.configuration.get("delta.enableChangeDataFeed").contains("true"))
      try return changeFeed(spark, path, fromVersion, toVersion)
      catch { case _: IllegalArgumentException => () } // pre-enablement range → diff
    val schema = DataType.fromJson(metaHead.schemaJson).asInstanceOf[StructType]
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = commitsInRange(spark, path, "changeDiff", fromVersion, toVersion)
    // file state as of fromVersion (empty before the first commit); kept
    // current across EVERY action in the range — dataChange=false
    // relocations (OPTIMIZE) update it without emitting rows, so a later
    // DV delete on a compacted file still finds its prior vector
    val state = scala.collection.mutable.LinkedHashMap[String, LiveFile]()
    if (fromVersion >= 0)
      snapshot(spark, path, Some(fromVersion)).files.foreach(f => state(f.path) = f)

    def bits(f: LiveFile): Option[DeletionVectors.RoaringArray] =
      f.dv.map(d => DeletionVectors.load(fs, root, d))
    /** One slice REQUEST: rows of `file` at positions (∈ in) ∧ (∉ notIn)
      * changed at `version` with `changeType`. Collected per action, then
      * served GROUPED — one scan per change type — instead of one
      * DataFrame leg each.
      */
    case class SliceReq(file: LiveFile, version: Long, changeType: String,
        in: Option[DeletionVectors.RoaringArray],
        notIn: Option[DeletionVectors.RoaringArray])
    val slices = scala.collection.mutable.ArrayBuffer[SliceReq]()
    def slice(f: LiveFile, v: Long, changeType: String,
        inSet: Option[DeletionVectors.RoaringArray],
        notInSet: Option[DeletionVectors.RoaringArray]): Unit = {
      require(fs.exists(new Path(resolveFilePath(path, f.path))),
        s"changeDiff($fromVersion): version $v of $path changed ${f.path}, " +
          "which no longer exists on disk (vacuumed) — this range cannot be " +
          "served from the log; enable delta.enableChangeDataFeed so future " +
          "DML records change files, and re-derive consumers from a snapshot")
      slices += SliceReq(f.copy(dv = None), v, changeType, inSet, notInSet)
    }

    commits.foreach { case (v, actions) =>
      val adds = actions.collect { case n if n.has("add") =>
        (DeltaActions.parseAdd(n.get("add")), DeltaActions.dataChange(n.get("add"))) }
      val removes = actions.collect { case n if n.has("remove") =>
        (n.get("remove").get("path").asText(), DeltaActions.dataChange(n.get("remove"))) }
      val addPaths = adds.map(_._1.path).toSet
      adds.foreach { case (f, dataChange) =>
        if (dataChange) state.get(f.path) match {
          case Some(prior) => // re-add: emit only the deletion-vector DELTA
            if (f.dv != prior.dv) {
              if (f.dv.isDefined)
                slice(f, v, "delete", bits(f), bits(prior))
              if (prior.dv.isDefined) // RESTORE shrank the vector
                slice(f, v, "insert", bits(prior), bits(f))
            }
          case None =>
            slice(f, v, "insert", None, bits(f))
        }
      }
      removes.foreach { case (p, dataChange) =>
        if (dataChange && !addPaths.contains(p)) {
          val prior = state.getOrElse(p, throw new IllegalArgumentException(
            s"changeDiff($fromVersion): version $v of $path removes $p, which " +
              "the range's running state does not contain — the log cannot be " +
              "decomposed; enable delta.enableChangeDataFeed and use changeFeed"))
          slice(prior, v, "delete", None, bits(prior))
        }
      }
      // state update AFTER emission (priors above read pre-commit state)
      removes.foreach { case (p, _) => state.remove(p) }
      adds.foreach { case (f, _) => state(f.path) = f }
    }
    if (slices.isEmpty) {
      val out = schema.add("_change_type", "string").add("_commit_version", "long")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    }
    // Grouped service: ONE filesDf scan per change type over the type's
    // distinct files (same file re-sliced at several versions scans once),
    // one broadcast SliceTable, a codegen'd per-position version lookup,
    // and an explode — plan size O(2), independent of files and commits.
    def fileKey(f: LiveFile): String =
      fs.makeQualified(new Path(resolveFilePath(path, f.path))).toUri.getPath
    val frames = slices.groupBy(_.changeType).toSeq.sortBy(_._1).map {
      case (changeType, reqs) =>
        val files = reqs.map(r => r.file.path -> r.file).toMap.values.toSeq
        val table = new graft.functions.DiffExpressions.SliceTable(
          reqs.groupBy(r => fileKey(r.file)).map { case (k, rs) =>
            k -> rs.sortBy(_.version).map(r =>
              graft.functions.DiffExpressions.SliceEntry(
                r.version, r.in.orNull, r.notIn.orNull)).toArray
          })
        val bc = spark.sparkContext.broadcast(table)
        val shims = org.apache.spark.sql.GraftSqlShims
        val versionsOf = shims.column(
          graft.functions.DiffExpressions.SliceVersionsExpr(
            shims.expression(col("__file")), shims.expression(col("__row_idx")), bc))
        filesDf(spark, path, metaHead, files, provenance = false, rowIndex = true)
          .select(schema.fieldNames.map(col).toSeq :+
            explode(versionsOf).as("_commit_version"): _*)
          .withColumn("_change_type", lit(changeType))
          .select((schema.fieldNames.map(col).toSeq :+
            col("_change_type")) :+ col("_commit_version"): _*)
    }
    frames.reduce(_ unionByName _)
  }

  /** DESCRIBE DETAIL: one row summarizing the table's current state —
    * version, live file count and byte size, row count from the log's
    * add.stats (null when any live file lacks numRecords, never a guess),
    * partition columns (CSV), column-mapping mode, and the configuration
    * (CSV of k=v). Driver-side log math only; no data file is opened.
    */
  def tableInfo(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val Snapshot(version, meta, live, _, _, _) = snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    val counts = live.map(_.stats.flatMap(s =>
      scala.util.Try(DeltaActions.numRecords(s)).toOption.flatten))
    val numRecords: Option[Long] =
      if (counts.nonEmpty && counts.forall(_.isDefined)) Some(counts.flatten.sum)
      else if (live.isEmpty) Some(0L) else None
    Seq((
      version,
      live.size.toLong,
      live.map(_.size).sum,
      numRecords,
      meta.partitionCols.mkString(","),
      meta.mappingMode,
      meta.configuration.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    )).toDF("version", "num_files", "size_bytes", "num_records",
      "partition_columns", "column_mapping", "properties")
  }

  /** DESCRIBE TABLE (columns): one row per top-level column with every
    * schema-embedded writer obligation surfaced — type, nullability,
    * partition membership, `CURRENT_DEFAULT`, the `delta.identity.*`
    * triple, `delta.generationExpression`, and the mapped physical name —
    * so an operator can see what a write to this table OWES without
    * parsing schemaJson by hand. Log-only; no data file is opened.
    */
  def describeColumns(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val meta = snapshot(spark, path).meta
    require(meta != null, s"$path has no metaData action in its _delta_log")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    schema.fields.toSeq.map { f =>
      def str(k: String): Option[String] =
        if (f.metadata.contains(k)) Some(f.metadata.getString(k)) else None
      def lng(k: String): Option[Long] =
        if (f.metadata.contains(k)) Some(f.metadata.getLong(k)) else None
      val identity =
        if (f.metadata.contains("delta.identity.start"))
          Some(s"start=${f.metadata.getLong("delta.identity.start")}," +
            s"step=${f.metadata.getLong("delta.identity.step")}," +
            s"highWaterMark=${lng("delta.identity.highWaterMark")
              .map(_.toString).getOrElse("<none>")}," +
            s"allowExplicitInsert=${f.metadata.contains("delta.identity.allowExplicitInsert") &&
              f.metadata.getBoolean("delta.identity.allowExplicitInsert")}")
        else None
      (f.name, f.dataType.simpleString, f.nullable,
        meta.partitionCols.contains(f.name),
        str("CURRENT_DEFAULT"), identity,
        str("delta.generationExpression"),
        str("delta.columnMapping.physicalName"))
    }.toDF("column", "type", "nullable", "is_partition",
      "default", "identity", "generation_expression", "physical_name")
  }

  /** DESCRIBE HISTORY: one row per available commit JSON — (version,
    * timestamp, operation, operationParameters JSON, engineInfo), newest
    * first, timestamps from `commitInfo` with the file-mtime fallback
    * (the [[versionAtTimestamp]] convention). Driver-side: the log is
    * KBs. Commits compacted away by log cleanup are absent, like Delta's
    * own DESCRIBE HISTORY after retention.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val rows = commitInfos(spark, path).map { case (v, ts, ci) =>
      (v, ts,
        ci.flatMap(c => Option(c.get("operation")).map(_.asText())).getOrElse(""),
        ci.flatMap(c => Option(c.get("operationParameters")).map(_.toString)).getOrElse("{}"),
        ci.flatMap(c => Option(c.get("engineInfo")).map(_.asText())).getOrElse(""))
    }.sortBy(-_._1)
    rows.toDF("version", "timestamp", "operation", "operationParameters", "engineInfo")
  }

  /** CHANGE DATA FEED read: every row-level change committed in versions
    * `(fromVersion, toVersion]` as `(table columns..., _change_type,
    * _commit_version)` — `_change_type` ∈ insert / delete /
    * update_preimage / update_postimage. Commits carrying `cdc` actions
    * serve them EXCLUSIVELY (the protocol's rule: when present, the
    * `_change_data/` files are the authoritative change description and
    * the commit's add/remove pair must be ignored); commits without them
    * read their dataChange adds as inserts (the append shape); a commit
    * that REMOVED files but wrote no cdc actions cannot be decomposed
    * into row changes — fail loudly rather than fabricate (enable
    * `delta.enableChangeDataFeed` before running DML). The feed's
    * physical history is retention-bounded: VACUUM deletes aged
    * `_change_data/` files exactly like data tombstones, per Delta's own
    * contract. Name-mapped tables serve logical columns, as everywhere.
    *
    * ENABLEMENT BOUNDARY (deliberately RELAXED): Delta errors when the
    * requested range predates the version at which CDF was enabled; this
    * reader instead serves pre-enablement APPENDS exactly (their rows are
    * fully recorded in add files) and still fails loudly on any
    * pre-enablement commit it cannot decompose, and on a range whose
    * commits were cleaned up — the feed is never silently incomplete.
    */
  def changeFeed(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val meta = snapshot(spark, path, toVersion).meta
    require(meta != null, s"$path has no metaData action in its _delta_log")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    // id mode: the cdc files carry footer field ids (the DML verbs stage
    // them with [[DeltaWrite.stagePhysical]]'s id projection), so the
    // read resolves them the same way the data scan does — via a
    // read-scoped option, never a session flag
    val phys = physicalLayout(schema, meta.mappingMode)
    val root = new Path(path)
    val commits = commitsInRange(spark, path, "changeFeed", fromVersion, toVersion)
    val perVersion: Seq[DataFrame] = commits.flatMap { case (v, actions) =>
      val cdcPaths = actions.collect { case n if n.has("cdc") =>
        new Path(root, n.get("cdc").get("path").asText()).toString }
      val adds = DeltaActions.dataChanging(actions, "add").map(DeltaActions.parseAdd)
      val removed = DeltaActions.dataChanging(actions, "remove").size
      val changed: Option[DataFrame] =
        if (cdcPaths.nonEmpty) {
          // id mode needs the EXPLICIT physical schema (with field ids)
          // so the parquet reader resolves by id; the bare-name extras
          // (_change_type, _commit_version) match by name as usual
          val reader =
            if (meta.mappingMode == "id")
              spark.read.schema(StructType(phys.fields ++ Seq(
                org.apache.spark.sql.types.StructField("_change_type",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("_commit_version",
                  org.apache.spark.sql.types.LongType))))
                .option(FieldIdParquetFileFormat.readFlag, "true")
            else spark.read
          Some(reader.parquet(cdcPaths: _*)
            .select(logicalSelect(schema, phys) :+ col("_change_type"): _*))
        }
        else if (removed == 0 && adds.nonEmpty)
          Some(filesDf(spark, path, meta, adds, provenance = false)
            .withColumn("_change_type", lit("insert")))
        else if (removed == 0) None // property/metadata-only commit
        else throw new IllegalArgumentException(
          s"changeFeed: version $v of $path removed $removed file(s) without cdc " +
            "actions — the commit cannot be decomposed into row changes; enable " +
            "delta.enableChangeDataFeed before running DML")
      changed.map(_.withColumn("_commit_version", lit(v)))
    }
    if (perVersion.isEmpty) {
      val out = schema.add("_change_type", "string").add("_commit_version", "long")
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    } else perVersion.reduce(_ unionByName _)
  }

  /** STREAMING tail of the change data feed: a file stream over the
    * table's `_change_data/` directory, serving `(columns...,
    * _change_type, _commit_version)` as DML commits land — the
    * `_commit_version` is embedded in each change file at write time, so
    * no log lookup happens per batch and ordinary Structured Streaming
    * machinery (watermarks, stream-stream joins, exactly-once sinks)
    * composes on top. Contract: this surfaces CDC-EMITTED changes only —
    * rows written by plain appends never produce `_change_data` files
    * (the protocol derives those from add actions), so a consumer that
    * also ingests appends pairs this with [[readStreamAppendOnly]] or
    * the poll-based [[changeFeed]]. The table must have CDF enabled
    * before the DML whose changes should appear.
    */
  def readChangeFeedStream(spark: SparkSession, path: String): DataFrame = {
    val meta = snapshot(spark, path).meta
    require(meta != null, s"$path has no metaData action in its _delta_log")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    // id mode: the stream's explicit schema carries the field ids our DML
    // stages into every cdc footer, and a SOURCE-scoped option makes the
    // parquet source resolve by them — same mechanics as the batch
    // changeFeed, no session flag
    val phys = physicalLayout(schema, meta.mappingMode)
    val fileSchema = phys.add("_change_type", "string").add("_commit_version", "long")
    val reader = spark.readStream.schema(fileSchema)
    (if (meta.mappingMode == "id")
       reader.option(FieldIdParquetFileFormat.readFlag, "true")
     else reader)
      .parquet(new Path(path, "_change_data").toString)
      .select(logicalSelect(schema, phys) :+ col("_change_type") :+
        col("_commit_version"): _*)
  }

  /** Data-changing add/remove actions with version in (fromExclusive,
    * toInclusive]: the adds by path (last wins) and the removed paths.
    */
  private def actionsInRange(spark: SparkSession, path: String,
      fromExclusive: Long, toInclusive: Option[Long]): (Seq[LiveFile], Seq[String]) = {
    val actions = commitsInRange(spark, path, "changesSince", fromExclusive, toInclusive)
      .flatMap(_._2)
    // dataChange=false actions (OPTIMIZE/compaction rewrites) move rows
    // between files without changing them — transparent to incremental
    // readers: their adds carry no new data, their removes break no
    // exactness.
    val adds = scala.collection.mutable.LinkedHashMap[String, LiveFile]()
    DeltaActions.dataChanging(actions, "add").map(DeltaActions.parseAdd)
      .foreach(f => adds.put(f.path, f))
    (adds.values.toSeq,
      DeltaActions.dataChanging(actions, "remove").map(_.get("path").asText()))
  }

  /** The commits in `(fromVersion, toVersion]` (default: head), each with
    * its parsed actions, ascending — the one range read behind
    * [[changesSince]], [[changeDiff]] and [[changeFeed]]. The commit
    * JSONs must cover the range GAP-FREE: after checkpoint cleanup
    * ([[DeltaWrite.cleanupMetadata]]) deletes checkpoint-covered commits,
    * an `earliest` (fromVersion = -1) read would otherwise silently omit
    * the cleaned commits' rows. Every gap, not just the start, is refused
    * loudly, naming the `reader`. The head comes from the same listing
    * (a checkpoint or compacted range may be its only record).
    */
  private def commitsInRange(spark: SparkSession, path: String, reader: String,
      fromVersion: Long, toVersion: Option[Long]): Seq[(Long, Seq[JsonNode])] = {
    val dir = new Path(path, "_delta_log")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir), s"$path is not a Delta table (no _delta_log)")
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
    val listed = names.flatMap(commitVersion).toSet
    val range = math.max(fromVersion + 1, 0L) to
      math.min(toVersion.getOrElse(Long.MaxValue), listedHead(names))
    val cleaned = range.filterNot(listed)
    require(cleaned.isEmpty,
      s"$reader($fromVersion): commit JSONs for versions ${cleaned.mkString(", ")} " +
        s"of $path were cleaned up (checkpointed history) — the range cannot " +
        "be read from the log; re-derive consumers from a snapshot " +
        "(readDeltaTable) and read changes after its version")
    range.map(v => v -> readCommit(fs, dir, v))
  }

  /** Latest version number in the log (`-1` if the directory is empty).
    * The checkpoint version counts too — and so does the highest
    * compacted-range end ([[DeltaWrite.compactLog]]): once log cleanup
    * has dropped per-commit JSONs, those may be the only record of the
    * head — a writer ignoring them would re-issue an old version number
    * and corrupt the table.
    */
  def latestVersion(spark: SparkSession, path: String): Long = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path, "_delta_log")
    if (!fs.exists(dir)) return -1L
    listedHead(fs.listStatus(dir).toSeq.map(_.getPath.getName))
  }

  /** The newest version a `_delta_log` listing records: a commit, the end
    * of a compacted range, or a checkpoint (a checkpoint file lands only
    * after its version committed, so it never names a future version).
    */
  private def listedHead(names: Seq[String]): Long =
    names.iterator.flatMap(n => commitVersion(n)
      .orElse(compactedRange(n).map(_._2)).orElse(checkpointVersion(n)))
      .foldLeft(-1L)(math.max)

  /** The table as replayed at `version`: the last metaData and protocol,
    * the live files, the live [[Domains]], and every appId's `txn`
    * high-water mark as `(version, lastUpdated)` — the idempotence token
    * the streaming sinks consult. `meta` is null when the log holds no
    * metaData action yet. A writer takes its OCC read version from the
    * snapshot its actions are planned on, so the two can never disagree.
    */
  private[io] final case class Snapshot(version: Long, meta: Meta, files: Seq[LiveFile],
      protocol: Protocol, domains: Domains, txns: Map[String, (Long, Long)])

  /** The table at `versionAsOf` (default: the head), from ONE listing of
    * `_delta_log`: replay stops at the version that listing saw, never
    * later. A head snapshot is kept per table (the `DeltaLog.update`
    * design of delta-spark): the next lookup starts from it and replays
    * only the commit JSONs after it, so an operation's log cost grows with
    * the commits it has not seen, not with the table's history. A cached
    * snapshot is used only while the listing still shows its version's
    * anchor — the commit JSON or, once metadata cleanup deleted that, the
    * version's checkpoint file — with the same name, length and
    * modification time, a commit JSON's bytes still match (a table
    * deleted and recreated at the same path is never served stale), and
    * every commit JSON after it is present —
    * otherwise the replay is cold: the last checkpoint (one Spark job),
    * then compacted ranges and commit JSONs. Time travel to exactly the
    * cached version is served from it; older versions replay cold.
    */
  private[io] def snapshot(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None): Snapshot = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path, "_delta_log")
    require(fs.exists(dir), s"$path is not a Delta table (no _delta_log)")
    require(versionAsOf.forall(_ >= 0), s"versionAsOf must be >= 0")
    val listing = fs.listStatus(dir).toSeq
    val names = listing.map(_.getPath.getName)
    val commits = listing.flatMap(st => commitVersion(st.getPath.getName).map(_ -> st)).toMap
    // each version's anchor: its commit JSON, else its first checkpoint file
    val anchors = listing.sortBy(_.getPath.getName).reverse
      .flatMap(st => checkpointVersion(st.getPath.getName).map(_ -> st)).toMap ++ commits
    val target = versionAsOf.getOrElse(listedHead(names))
    val key = fs.makeQualified(dir).toString
    val entry = cache.synchronized(Option(cache.get(key)))
      .filter(c => anchors.get(c.snap.version).exists(c.intact(fs, _)))
    val snap = entry.filter(c => c.snap.version <= target &&
        (c.snap.version + 1 to target).forall(commits.contains)) match {
      case Some(c) if c.snap.version == target => c.snap
      case Some(c) =>
        val r = new Replay(c.snap)
        (c.snap.version + 1 to target).foreach(v => r.commit(fs, dir, commitPath(dir, v)))
        r.snapshot(target)
      case None => replayCold(spark, fs, dir, names, versionAsOf, target)
    }
    if (entry.forall(_.snap.version < snap.version))
      anchors.get(snap.version).foreach { st =>
        val name = st.getPath.getName
        val c = Cached(snap, name, st.getLen, st.getModificationTime,
          commitVersion(name).map(_ => digest(fs, st.getPath)))
        cache.synchronized(cache.put(key, c))
      }
    snap
  }

  /** A cached head snapshot and the identity of its version's anchor
    * file: name, length and modification time, plus the bytes' digest of
    * a commit JSON. A checkpoint anchor is never hashed — it is written
    * once and may be hundreds of MB, so reading it on every lookup would
    * cost what the cache saves.
    */
  private final case class Cached(snap: Snapshot, name: String, len: Long, mtime: Long,
      bytes: Option[Seq[Byte]]) {
    def intact(fs: FileSystem, st: FileStatus): Boolean =
      st.getPath.getName == name && st.getLen == len && st.getModificationTime == mtime &&
        bytes.forall(_ == digest(fs, st.getPath))
  }

  private def digest(fs: FileSystem, file: Path): Seq[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = fs.open(file)
    try {
      val buf = new Array[Byte](1 << 16)
      Iterator.continually(in.read(buf)).takeWhile(_ >= 0).foreach(md.update(buf, 0, _))
    } finally in.close()
    md.digest().toSeq
  }

  /** The tables whose head snapshot is kept, least recently used first —
    * shared by every session in the JVM, which is safe because each lookup
    * re-checks the entry against the filesystem.
    */
  private val CachedTables = 64
  private val cache = new java.util.LinkedHashMap[String, Cached](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Cached]): Boolean =
      size > CachedTables
  }

  /** Forget every cached snapshot, so the next lookup replays cold. */
  private[io] def clearSnapshotCache(): Unit = cache.synchronized(cache.clear())

  /** The replay fold: actions from commit JSONs, compacted ranges and
    * checkpoint rows, applied in log order onto a starting snapshot —
    * later actions win per file path, the last protocol and metaData win,
    * domains keep their latest configuration and txn keeps each appId's
    * highest version.
    */
  private final class Replay(from: Snapshot) {
    private var meta = from.meta
    private var protocol = from.protocol
    private val live = scala.collection.mutable.LinkedHashMap[String, LiveFile]()
    live ++= from.files.map(f => f.path -> f)
    private val domains = scala.collection.mutable.Map[String, String]() ++= from.domains
    private val txns = scala.collection.mutable.Map[String, (Long, Long)]() ++= from.txns

    private def setProtocol(p: Protocol, where: String): Unit = {
      checkProtocol(p.minReader, p.readerFeatures, where)
      protocol = p
    }
    // `name` resolves by physical name; `id` resolves by parquet FIELD ID
    // ([[physicalSchemaWithIds]]) — both read paths are implemented; only
    // data-rewriting writers refuse mode `id`
    private def setMeta(m: Meta, where: String): Unit = {
      require(Seq("none", "name", "id").contains(m.mappingMode),
        s"$where enables unknown column mapping '${m.mappingMode}'")
      meta = m
    }
    private def domain(name: String, config: String, removed: Boolean): Unit =
      if (removed) domains.remove(name) else domains.put(name, config)
    private def txn(appId: String, version: Long, lastUpdated: Long): Unit =
      if (txns.get(appId).forall(_._1 < version)) txns(appId) = (version, lastUpdated)

    /** Fold one commit JSON or compacted range. */
    def commit(fs: FileSystem, dir: Path, seg: Path): Unit =
      logLines(fs, seg).foreach { line =>
        val node = DeltaActions.parse(line)
        def strs(n: JsonNode, f: String): Seq[String] =
          Option(n.get(f)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        Option(node.get("protocol")).foreach { p =>
          setProtocol(Protocol(Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1),
            Option(p.get("minWriterVersion")).map(_.asInt()).getOrElse(2),
            strs(p, "readerFeatures"), strs(p, "writerFeatures")), s"$dir ${seg.getName}")
        }
        Option(node.get("metaData")).foreach { m =>
          val config = Option(m.get("configuration"))
            .map(_.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty[String, String])
          setMeta(Meta(m.get("schemaString").asText(), strs(m, "partitionColumns"), config,
            Option(m.get("id")).map(_.asText()).getOrElse("")), dir.toString)
        }
        Option(node.get("add")).map(DeltaActions.parseAdd).foreach(f => live.put(f.path, f))
        Option(node.get("remove")).foreach(r => live.remove(r.get("path").asText()))
        Option(node.get("domainMetadata")).foreach { d =>
          domain(d.get("domain").asText(),
            Option(d.get("configuration")).map(_.asText()).getOrElse(""),
            Option(d.get("removed")).exists(_.asBoolean(false)))
        }
        Option(node.get("txn")).filter(_.get("appId") != null).foreach { t =>
          txn(t.get("appId").asText(), t.get("version").asLong(),
            Option(t.get("lastUpdated")).map(_.asLong()).getOrElse(0L))
        }
      }

    /** Fold checkpoint rows read under [[CheckpointSchema]]; returns the
      * sidecar paths they reference (v2 checkpoints).
      */
    def checkpoint(rows: Seq[Row], where: String): Seq[String] = rows.flatMap { r =>
      def struct(c: String): Option[Row] = Option(r.getAs[Row](c))
      def opt[T](s: Row, f: String): Option[T] = Option(s.getAs[Any](f)).map(_.asInstanceOf[T])
      def strs(s: Row, f: String): Seq[String] =
        opt[scala.collection.Seq[String]](s, f).map(_.toSeq).getOrElse(Nil)
      struct("protocol").filter(_.getAs[Any]("minReaderVersion") != null).foreach { p =>
        setProtocol(Protocol(p.getAs[Int]("minReaderVersion"),
          opt[Int](p, "minWriterVersion").getOrElse(2),
          strs(p, "readerFeatures"), strs(p, "writerFeatures")), where)
      }
      struct("metaData").filter(_.getAs[String]("schemaString") != null).foreach { m =>
        setMeta(Meta(m.getAs[String]("schemaString"), strs(m, "partitionColumns"),
          opt[scala.collection.Map[String, String]](m, "configuration").map(_.toMap)
            .getOrElse(Map.empty), opt[String](m, "id").getOrElse("")), where)
      }
      struct("add").filter(_.getAs[String]("path") != null).foreach { a =>
        val dv = opt[Row](a, "deletionVector").map(d => DeletionVectors.Descriptor(
          d.getAs[String]("storageType"), d.getAs[String]("pathOrInlineDv"),
          opt[Long](d, "offset"), d.getAs[Long]("sizeInBytes"), d.getAs[Long]("cardinality")))
        val f = LiveFile(a.getAs[String]("path"),
          opt[scala.collection.Map[String, String]](a, "partitionValues").map(_.toMap)
            .getOrElse(Map.empty),
          size = opt[Long](a, "size").getOrElse(0L),
          modificationTime = opt[Long](a, "modificationTime").getOrElse(0L),
          stats = opt[String](a, "stats").filter(_.nonEmpty), dv = dv,
          baseRowId = opt[Long](a, "baseRowId"),
          defaultRowCommitVersion = opt[Long](a, "defaultRowCommitVersion"))
        live.put(f.path, f)
      }
      struct("domainMetadata").filter(_.getAs[String]("domain") != null).foreach { d =>
        domain(d.getAs[String]("domain"), opt[String](d, "configuration").getOrElse(""),
          opt[Boolean](d, "removed").getOrElse(false))
      }
      struct("txn").filter(_.getAs[String]("appId") != null).foreach { t =>
        txn(t.getAs[String]("appId"), t.getAs[Long]("version"),
          opt[Long](t, "lastUpdated").getOrElse(0L))
      }
      struct("sidecar").flatMap(s => opt[String](s, "path"))
    }

    def snapshot(version: Long): Snapshot =
      Snapshot(version, meta, live.values.toSeq, protocol, domains.toMap, txns.toMap)
  }

  /** Replay from scratch up to `cut`: the last checkpoint at or below it,
    * then the compacted ranges and commit JSONs after that checkpoint.
    */
  private def replayCold(spark: SparkSession, fs: FileSystem, dir: Path,
      listed: Seq[String], versionAsOf: Option[Long], cut: Long): Snapshot = {
    val replay = new Replay(Snapshot(-1L, null, Nil, Protocol(1, 2), Map.empty, Map.empty))
    // checkpoint fast path: _last_checkpoint names a parquet snapshot of
    // the log; only commits AFTER it need JSON replay. Skipped when time
    // traveling to a version before the checkpoint.
    val lastCp = readLastCheckpoint(fs, dir).filter(_.version <= cut)
    lastCp.foreach { cpRef =>
      // V2 spec checkpoints move the file actions into sidecar parquet
      // under _delta_log/_sidecars/; the top file keeps protocol/metaData
      // plus the sidecar references, and every sidecar loads in ONE scan
      val sidecarDir = new Path(dir, "_sidecars")
      val sidecars = replay.checkpoint(checkpointRows(spark, checkpointFiles(fs, dir, cpRef)),
        s"$dir checkpoint").map { p =>
          if (p.contains("://") || p.startsWith("/")) p else new Path(sidecarDir, p).toString
        }
      if (sidecars.nonEmpty)
        replay.checkpoint(checkpointRows(spark, sidecars), s"$dir checkpoint sidecars")
    }

    val base = lastCp.map(_.version).getOrElse(-1L)
    val versions = listed.flatMap(commitVersion).filter(v => v <= cut && v > base).sorted
    // LOG COMPACTION files (`<s>.<e>.compacted.json`, written by
    // [[DeltaWrite.compactLog]]): a usable one lies wholly inside the
    // replay window — never past the cut (its content is the range's END
    // state, so a mid-range time travel cannot use it) and never below
    // the checkpoint base.
    val compactedAll = listed.flatMap(compactedRange)
      .filter { case (s, e) => s > base && e <= cut }.sorted
    // The requested version must actually EXIST — "any commit <= cut" is
    // not enough (versionAsOf=99 on a 2-version table would silently
    // return the head otherwise; Delta raises a time-travel error).
    versionAsOf.foreach { v =>
      require(versions.contains(v) || lastCp.exists(_.version == v) ||
          compactedAll.exists(_._2 == v),
        s"cannot time travel to version $v: no commit ${f"$v%020d"}.json and no " +
          s"checkpoint or compacted range ending at that version in $dir")
    }
    // Build the replay SEGMENTS from base+1 to the highest reachable
    // version: at each step prefer the longest usable compacted span
    // (one file substitutes its whole range), else the single commit
    // JSON. Replay must be ANCHORED and GAP-FREE: a hole that neither a
    // JSON nor a compacted span covers means commits were cleaned — fail
    // instead of replaying truncated state.
    val jsonSet = versions.toSet
    val replayEnd = math.max(versions.lastOption.getOrElse(base),
      compactedAll.map(_._2).maxOption.getOrElse(base))
    var at = base + 1
    while (at <= replayEnd) {
      compactedAll.filter(_._1 == at).sortBy(-_._2).headOption match {
        case Some((s, e)) =>
          replay.commit(fs, dir, new Path(dir, f"$s%020d.$e%020d.compacted.json"))
          at = e + 1
        case None =>
          require(jsonSet.contains(at),
            s"cannot replay $dir: version $at has no commit JSON and no " +
              s"compacted range starting there" +
              (if (base >= 0) s" (usable checkpoint covers up to $base)"
               else "") + " — intermediate commits were cleaned")
          replay.commit(fs, dir, commitPath(dir, at))
          at += 1
      }
    }
    replay.snapshot(cut)
  }

  /** Refuse tables whose protocol demands read behavior this reader does
    * not implement — returning WRONG data (misresolved columns under
    * columnMapping, missed state under v2Checkpoint sidecars) is strictly
    * worse than failing loudly. Reader version 1/2 are fine (v2's column
    * mapping is additionally gated on the metaData configuration, where it
    * is actually switched on); version 3 is accepted only when every
    * declared readerFeature is either semantics-free for a name-resolving
    * full-file reader, or actually IMPLEMENTED — `deletionVectors` is
    * implemented ([[DeletionVectors]] decodes the bitmap and [[filesDf]]
    * filters deleted row indexes out of every read), and `columnMapping`
    * is implemented for mode `name` (physical-name scan + logical
    * re-alias; the per-metaData gate still refuses mode `id`),
    * `v2Checkpoint` is implemented (uuid-named checkpoint discovery, JSON
    * or parquet top file, sidecar file-action loading), and
    * `typeWidening` rides Spark's own parquet type promotion: every scan
    * reads under the LOG's (widened, latest) schema, and the vectorized
    * reader promotes narrow pre-widening files (int→long, float→double,
    * int→double, decimal precision) in place — an unsupported promotion
    * fails the scan loudly, never returns reinterpreted bytes.
    */
  private val harmlessReaderFeatures =
    Set("timestampNtz", "vacuumProtocolCheck", "deletionVectors", "columnMapping",
      "v2Checkpoint", "typeWidening", "typeWidening-preview")
  private def checkProtocol(minReader: Int, features: Seq[String], where: String): Unit = {
    require(minReader <= 3, s"$where requires Delta reader version $minReader; max supported is 3")
    if (minReader >= 3) {
      val unsupported = features.filterNot(harmlessReaderFeatures)
      require(unsupported.isEmpty,
        s"$where requires reader features ${unsupported.mkString(", ")} — " +
          "unsupported here; reading anyway would return wrong data")
    }
  }

  /** A `_last_checkpoint` pointer: version, plus `parts` when the
    * checkpoint is split into NNN.checkpoint.MMM.PPP.parquet slices.
    */
  private[io] final case class CheckpointRef(version: Long, parts: Option[Int])

  /** Resolve a checkpoint reference to its TOP file(s): single-file
    * NNN.checkpoint.parquet, a multi-part checkpoint (`parts` naming
    * NNN.checkpoint.MMM.PPP.parquet slices), or a V2 SPEC checkpoint
    * (NNN.checkpoint.<uuid>.{parquet,json} — the name is not derivable
    * from the version, so it is discovered by listing; any uuid file at
    * the version is a complete checkpoint, per the protocol). Shared by
    * log replay, txn recovery, and metadata cleanup so every consumer
    * understands all three naming forms.
    */
  private[io] def checkpointFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, cpRef: CheckpointRef): Seq[String] = cpRef.parts match {
    case Some(n) => (1 to n).map(i => new Path(dir,
      f"${cpRef.version}%020d.checkpoint.$i%010d.$n%010d.parquet").toString)
    case None =>
      val classic = new Path(dir, f"${cpRef.version}%020d.checkpoint.parquet")
      if (fs.exists(classic)) Seq(classic.toString)
      else {
        val prefix = f"${cpRef.version}%020d.checkpoint."
        val found = fs.listStatus(dir).iterator.map(_.getPath.getName)
          .filter(n => n.startsWith(prefix) &&
            (n.endsWith(".parquet") || n.endsWith(".json")))
          .toSeq.sorted
        require(found.nonEmpty,
          s"_last_checkpoint names version ${cpRef.version} but no " +
            s"checkpoint file matches $dir/$prefix*")
        Seq(new Path(dir, found.head).toString)
      }
  }

  private[io] def readLastCheckpoint(fs: FileSystem, dir: Path): Option[CheckpointRef] = {
    val p = new Path(dir, "_last_checkpoint")
    if (!fs.exists(p)) return None
    val node = DeltaActions.parse(logLines(fs, p).mkString("\n"))
    Option(node.get("version")).map(v => CheckpointRef(v.asLong(),
      Option(node.get("parts")).map(_.asInt()).filter(_ > 0)))
  }

  /** The checkpoint actions this reader folds, as a fixed schema: reading
    * under it needs no schema-inference job, and a column or field a
    * checkpoint lacks reads as null.
    */
  private val CheckpointSchema = StructType.fromDDL(
    "protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT, " +
      "readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>, " +
    "metaData STRUCT<id: STRING, schemaString: STRING, partitionColumns: ARRAY<STRING>, " +
      "configuration: MAP<STRING, STRING>>, " +
    "add STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>, size: BIGINT, " +
      "modificationTime: BIGINT, stats: STRING, deletionVector: STRUCT<storageType: STRING, " +
      "pathOrInlineDv: STRING, offset: BIGINT, sizeInBytes: BIGINT, cardinality: BIGINT>, " +
      "baseRowId: BIGINT, defaultRowCommitVersion: BIGINT>, " +
    "domainMetadata STRUCT<domain: STRING, configuration: STRING, removed: BOOLEAN>, " +
    "txn STRUCT<appId: STRING, version: BIGINT, lastUpdated: BIGINT>, " +
    "sidecar STRUCT<path: STRING>")

  /** Every action row of checkpoint files — the top file(s) in whichever
    * form they are stored (a V2 top file may be JSON) or v2 sidecars —
    * in ONE Spark job. The one place checkpoints are read. When a parquet
    * file's footer stores an action field under another type than
    * [[CheckpointSchema]] (a DV `offset` as INT32, an untyped empty
    * array), which would fail the fixed-schema job, each file is read
    * under its own footer schema instead and cast field by field into the
    * fixed one — decided on the driver, before any job runs.
    */
  private[io] def checkpointRows(spark: SparkSession, paths: Seq[String]): Seq[Row] = {
    def load(files: Seq[String], schema: Option[StructType]): DataFrame = {
      val reader = schema.fold(spark.read)(spark.read.schema)
      if (files.forall(_.endsWith(".json"))) reader.json(files: _*) else reader.parquet(files: _*)
    }
    def actions(df: DataFrame): Seq[Row] =
      df.filter(CheckpointSchema.fieldNames.map(c => col(c).isNotNull).reduce(_ || _))
        .collect().toSeq
    def conform(c: Column, have: Option[DataType], want: DataType): Column = (have, want) match {
      case (None, _) => lit(null).cast(want)
      case (Some(h: StructType), w: StructType) =>
        when(c.isNotNull, struct(w.fields.toSeq.map(f =>
          conform(c.getField(f.name), h.find(_.name == f.name).map(_.dataType), f.dataType)
            .as(f.name)): _*))
      case _ => c.cast(want)
    }
    def fits(have: DataType, want: DataType): Boolean = (have, want) match {
      case (h: StructType, w: StructType) =>
        w.fields.forall(f => h.find(_.name == f.name).forall(x => fits(x.dataType, f.dataType)))
      case (ArrayType(h, _), ArrayType(w, _)) => fits(h, w)
      case (MapType(hk, hv, _), MapType(wk, wv, _)) => fits(hk, wk) && fits(hv, wv)
      case _ => have == want
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val footers = paths.map(p => Option.when(!p.endsWith(".json")) {
      val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, new Path(p),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
        spark.sessionState.conf).convert(meta.getFileMetaData.getSchema)
    })
    if (footers.flatten.forall(fits(_, CheckpointSchema))) actions(load(paths, Some(CheckpointSchema)))
    else actions(paths.zip(footers).map { case (p, footer) =>
      val df = load(Seq(p), footer)
      df.select(CheckpointSchema.fields.toSeq.map(f => conform(col(f.name),
        df.schema.find(_.name == f.name).map(_.dataType), f.dataType).as(f.name)): _*)
    }.reduce(_ unionByName _))
  }

  /** The version of a commit file `NNN.json`, None for every other log
    * file — the one place the commit name pattern is matched.
    */
  private[io] def commitVersion(name: String): Option[Long] =
    if (name.length > 5 && name.endsWith(".json") && name.dropRight(5).forall(_.isDigit))
      Some(name.dropRight(5).toLong)
    else None

  private[io] def commitPath(dir: Path, version: Long): Path =
    new Path(dir, f"$version%020d.json")

  /** `(start, end)` of a log compaction file `<s>.<e>.compacted.json`. */
  private[io] def compactedRange(name: String): Option[(Long, Long)] =
    if (!name.endsWith(".compacted.json")) None
    else {
      val parts = name.stripSuffix(".compacted.json").split('.')
      Some((parts(0).toLong, parts(1).toLong))
    }

  /** The version of a checkpoint file in any of the three naming forms. */
  private[io] def checkpointVersion(name: String): Option[Long] =
    if (!name.contains(".checkpoint.")) None
    else name.split('.').headOption.filter(h => h.nonEmpty && h.forall(_.isDigit))
      .map(_.toLong)

  /** The commit files of a log as `(version, status)`, ascending. */
  private[io] def listCommits(fs: FileSystem, dir: Path): Seq[(Long, FileStatus)] =
    fs.listStatus(dir).toSeq
      .flatMap(st => commitVersion(st.getPath.getName).map(_ -> st)).sortBy(_._1)

  /** One log file's non-empty lines — a commit, a compacted range or
    * `_last_checkpoint`. The one place log bytes are read.
    */
  private[io] def logLines(fs: FileSystem, file: Path): Seq[String] = {
    val in = fs.open(file)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    content.split('\n').toSeq.filter(_.nonEmpty)
  }

  /** One commit's actions, parsed, in log order. */
  private[io] def readCommit(fs: FileSystem, dir: Path, version: Long): Seq[JsonNode] =
    logLines(fs, commitPath(dir, version)).map(DeltaActions.parse)

  /** A commit's `commitInfo` action, parsing only lines that can hold it. */
  private[io] def commitInfo(fs: FileSystem, dir: Path, version: Long): Option[JsonNode] =
    logLines(fs, commitPath(dir, version)).iterator
      .filter(_.contains("\"commitInfo\"")).map(DeltaActions.parse)
      .collectFirst { case n if n.has("commitInfo") => n.get("commitInfo") }
}
