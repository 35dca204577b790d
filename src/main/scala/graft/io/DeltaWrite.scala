package graft.io

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Checkpoint row for the `add` side — file-scoped (not nested in the
  * object, and not private: a private nested case class breaks the encoder's
  * generated-code accessor resolution).
  */
private[io] case class CheckpointDv(storageType: String, pathOrInlineDv: String,
    offset: Option[Long], sizeInBytes: Long, cardinality: Long)

private[io] case class CheckpointAdd(path: String, partitionValues: Map[String, String],
    size: Long, modificationTime: Long, dataChange: Boolean, stats: String,
    deletionVector: Option[CheckpointDv],
    baseRowId: Option[Long], defaultRowCommitVersion: Option[Long])

/** What a commit knows about itself for the optimistic-concurrency
  * conflict check ([[DeltaWrite.commitWithRetry]]): the files it removes,
  * whether concurrent data changes invalidate it, and the txn appId whose
  * concurrent advancement would spend its idempotence token.
  */
private[io] final case class ConflictGuard(
    ourRemoves: Set[String],
    allowConcurrentDataChange: Boolean,
    appId: Option[String])

private[io] object ConflictGuard {
  /** Blind append: reads only the metadata — concurrent data change never
    * conflicts; a metadata/protocol change (or a txn bump of OUR appId)
    * does. Blind appends always win the retry. */
  def blindAppend(appId: Option[String] = None): ConflictGuard =
    ConflictGuard(Set.empty, allowConcurrentDataChange = true, appId)
  /** Row-level DML / maintenance rewrite: tolerates concurrent appends and
    * DISJOINT removes (WriteSerializable); refuses when a winner removed a
    * file this commit also rewrites. */
  def disjointRewrite(removes: Set[String], appId: Option[String] = None): ConflictGuard =
    ConflictGuard(removes, allowConcurrentDataChange = true, appId)
  /** Overwrite / restore / schema or property change: the commit's content
    * IS the snapshot — any concurrent data or metadata change invalidates
    * it. */
  def exclusive(removes: Set[String] = Set.empty, appId: Option[String] = None): ConflictGuard =
    ConflictGuard(removes, allowConcurrentDataChange = false, appId)
}

/** Minimal single-writer Delta Lake COMMIT protocol — the write half of
  * [[DeltaRead]], against the same PUBLIC delta.io log format (no delta
  * jars in this zero-egress env). This is the reference's primary sink
  * (`df.write.format("delta").mode(mode).save(path)`, labelspark
  * client.py:146, modes validated at client.py:120-121), re-derived:
  *
  *   - DATA: the DataFrame writes to a hidden staging directory inside the
  *     table (so a crashed job leaves no half-visible files), then each
  *     part file moves into the table root under a fresh unique name —
  *     readers never see a file before the commit that adds it.
  *     `partitionBy` produces the standard hive layout; the partition
  *     columns are NOT in the data files (Delta layout), their values ride
  *     each add's `partitionValues`.
  *   - LOG: one `NNN.json` per commit — `commitInfo` (operation + mode),
  *     `metaData` (schemaString, partitionColumns; emitted on table
  *     creation or schema-changing overwrite), `protocol` on version 0,
  *     `add` per data file (with footer-derived numRecords/min/max stats —
  *     fuel for [[DeltaFileIndex]] skipping), `remove` tombstones for every
  *     previously-live file on overwrite. The commit json is written to a
  *     temp name and atomically RENAMED to its version — the single-writer
  *     guard: if the destination exists, a concurrent writer won the race
  *     and this commit fails instead of clobbering it.
  *   - CHECKPOINT: [[checkpoint]] snapshots the replayed state into
  *     `NNN.checkpoint.parquet` + `_last_checkpoint` so replay cost stays
  *     bounded as commits accumulate (readers then replay only the tail).
  *
  * Scale notes: the log work is driver-side and O(files touched), never
  * O(rows); the data write is an ordinary distributed parquet write. At
  * 100 TB the commit is exactly as cheap as at 100 MB — what grows is the
  * data job, which Spark already distributes.
  */
object DeltaWrite {

  /** Nullability- and metadata-normalized copy of a type, for schema
    * EQUALITY checks: `DataType.equalsStructurally` ignores field NAMES,
    * so a rename-only batch would silently pass an append guard and stage
    * files under the wrong parquet column names (null-filled forever on
    * read). Names must compare — at every nesting level; nullability and
    * field metadata (column-mapping ids, comments) must not.
    */
  private[io] def comparableType(dt: DataType): DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructField}
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, comparableType(f.dataType), nullable = true)))
      case at: ArrayType =>
        ArrayType(comparableType(at.elementType), containsNull = true)
      case mt: MapType => MapType(comparableType(mt.keyType),
        comparableType(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Positional, name-checking, nullability/metadata-insensitive schema
    * equality — the append/overwrite/merge-source validation contract.
    */
  private[io] def sameSchema(a: StructType, b: StructType): Boolean =
    comparableType(a) == comparableType(b)

  /** Write `df` to the Delta table at `path`. `mode` ∈ {append, overwrite}
    * (the reference's validated surface). Returns the committed version.
    *
    * `txn = Some((appId, version))` is an idempotence token: the commit
    * carries a `txn` action `{appId, version}` (the public protocol's
    * application-transaction marker), and [[lastTxnVersion]] reads the
    * high-water mark back — the exactly-once handshake streaming sinks
    * use to skip replayed epochs.
    *
    * `mergeSchema = true` appends with SCHEMA EVOLUTION (the q81
    * unionByName semantics at the storage layer): columns the batch adds
    * are APPENDED to the table schema via a new `metaData` action; columns
    * the batch lacks are simply absent from its files (the log-schema read
    * fills them with null, same as every Delta reader). Columns present in
    * both must keep structurally equal types — no silent widening/coercion
    * (an int batch against a long table is refused, not upcast; widen the
    * batch explicitly). Partitioning can never evolve.
    */
  def writeDeltaTable(df: DataFrame, path: String, mode: String,
      partitionBy: Seq[String] = Nil, txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Long =
    writeDeltaTableImpl(df, path, mode, partitionBy, txn, mergeSchema, None)

  /** Create (or write into) a COLUMN-MAPPED Delta table: a fresh table
    * gets column-mapping metadata minted for every field — sequential
    * `delta.columnMapping.id`s and `col-<uuid>` physical names at every
    * nesting level — with the protocol bumped to reader 2 / writer 5 and
    * `delta.columnMapping.mode` (`name` by default, or `id`) in the table
    * configuration; the data files stage under the PHYSICAL names — and,
    * for mode `id`, with the parquet FOOTER FIELD IDS that are that
    * mode's resolution authority — which is the whole point of mapping
    * (logical renames never touch files again). Writing into an existing
    * mapped table works through the plain [[writeDeltaTable]] too — the
    * writer detects the mode from the log and renames the batch to the
    * stored physical layout before staging.
    */
  def writeDeltaTableMapped(df: DataFrame, path: String, mode: String,
      partitionBy: Seq[String] = Nil, mappingMode: String = "name"): Long = {
    require(mappingMode == "name" || mappingMode == "id",
      s"mappingMode must be name or id, got $mappingMode")
    val (minted, maxId) = mintMappingMetadata(df.schema)
    writeDeltaTableImpl(df, path, mode, partitionBy, None, mergeSchema = false,
      Some(NewTable(minted, Map("delta.columnMapping.mode" -> mappingMode,
        "delta.columnMapping.maxColumnId" -> maxId.toString))))
  }

  /** Create a ROW-TRACKED Delta table (the public `rowTracking` writer
    * feature): the table opts in via `delta.enableRowTracking`, the
    * protocol declares writer feature `rowTracking` + `domainMetadata`,
    * and every subsequent commit — through the PLAIN [[writeDeltaTable]],
    * the DML verbs, and the maintenance passes — keeps row ids stable:
    *
    *  - appends claim a contiguous `baseRowId` range per file under the
    *    `delta.rowTracking` domain's high watermark (re-read per OCC
    *    attempt, so concurrent appends never collide), and stamp
    *    `defaultRowCommitVersion`;
    *  - DV DML ([[DvWrite]], [[DeltaMerge]] with deletion vectors)
    *    preserves ids by construction — physical positions never move —
    *    with the re-added file's `baseRowId` carried verbatim;
    *  - rewriting paths (copy-on-write DML, [[compact]]) MATERIALIZE the
    *    ids (and original commit versions) they carry forward into the
    *    physical columns named by the table configuration, which
    *    [[DeltaRead.readDeltaTableWithRowIds]] prefers over the fresh
    *    defaults.
    *
    * Fresh-table creation only (enabling on existing data would need a
    * backfill); append/overwrite the result through [[writeDeltaTable]].
    */
  def writeDeltaTableRowTracked(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Long = {
    require(DeltaRead.latestVersion(df.sparkSession, path) < 0,
      s"$path already exists — row tracking can only be enabled at table " +
        "creation (enabling later would need a baseRowId backfill of every " +
        "live file)")
    writeDeltaTableImpl(df, path, "overwrite", partitionBy, None, mergeSchema = false,
      Some(NewTable(df.schema,
        mintMaterializedNames() + ("delta.enableRowTracking" -> "true"))))
  }

  /** Create an IDENTITY-COLUMN Delta table (the public `identityColumns`
    * writer feature, `delta.identity.*` field metadata): `idCol` is
    * ASSIGNED here — gap-free multiples of `step` from `start`, in the
    * batch's partition-then-row order — and must not be supplied by the
    * caller. The schema records start/step/allowExplicitInsert and the
    * high watermark (the LAST issued value); the protocol declares writer
    * 7 + `identityColumns`. Subsequent plain [[writeDeltaTable]] appends
    * that OMIT the column get fresh values past the stored watermark and
    * republish it in the same commit; appends that SUPPLY it refuse
    * unless `allowExplicitInsert` (GENERATED ALWAYS vs BY DEFAULT), in
    * which case the watermark advances to cover the supplied values.
    * Identity-advancing commits conflict-check EXCLUSIVELY — two writers
    * generating values concurrently would issue the same ones, so the
    * loser refuses instead of silently duplicating (the single-sequencer
    * contract; delta-spark treats this as a metadata conflict too).
    */
  def writeDeltaTableIdentity(df: DataFrame, path: String, idCol: String,
      start: Long = 1L, step: Long = 1L, allowExplicitInsert: Boolean = false,
      partitionBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, MetadataBuilder}
    require(step != 0L, "identity step must be non-zero")
    require(!df.columns.contains(idCol),
      s"$idCol must not be supplied at creation — identity values are assigned")
    require(DeltaRead.latestVersion(df.sparkSession, path) < 0,
      s"$path already exists — identity columns can only be declared at " +
        "table creation here (adding one later would need a backfill)")
    val declared = StructField(idCol, LongType, nullable = false, new MetadataBuilder()
      .putLong("delta.identity.start", start)
      .putLong("delta.identity.step", step)
      .putBoolean("delta.identity.allowExplicitInsert", allowExplicitInsert).build())
    val (withId, marks) = mintIdentity(df, Seq(declared))
    // the watermark is the last ISSUED value — absent until one exists
    val md = withHighWaterMarks(StructType(Seq(declared)), marks).head.metadata
    val typed = withId.select(col(idCol).as(idCol, md) +: df.columns.map(col).toSeq: _*)
    writeDeltaTableImpl(typed, path, "overwrite", partitionBy, None,
      mergeSchema = false, Some(NewTable(typed.schema, Map.empty)))
  }

  /** A fresh table as its creating entry point describes it: the schema
    * its first `metaData` publishes (column-mapping or identity metadata
    * included) and the configuration it opts into. The version-0 protocol
    * derives from both ([[createProtocol]]).
    */
  private final case class NewTable(schema: StructType, configuration: Map[String, String])

  /** The version-0 protocol a [[NewTable]] needs. */
  private def createProtocol(t: NewTable): DeltaRead.Protocol =
    if (t.configuration.contains("delta.columnMapping.mode"))
      // column mapping requires reader 2 / writer 5 per the protocol
      DeltaRead.Protocol(2, 5)
    else if (t.configuration.get("delta.enableRowTracking").contains("true"))
      // rowTracking is a writer-only table feature (writer version 7);
      // domainMetadata carries its high watermark
      DeltaRead.Protocol(1, 7, Nil, Seq("domainMetadata", "rowTracking"))
    else if (t.schema.exists(_.metadata.contains("delta.identity.start")))
      // identityColumns is a writer-only table feature: readers see
      // plain bigint values; only writers owe the assignment contract
      DeltaRead.Protocol(1, 7, Nil, Seq("identityColumns"))
    else DeltaRead.Protocol(1, 2)

  /** The write every entry point shares: `create` describes the table a
    * fresh path becomes (None: the batch's own schema, no configuration);
    * an existing table keeps what its log says.
    */
  private def writeDeltaTableImpl(df0: DataFrame, path: String, mode: String,
      partitionBy: Seq[String], txn: Option[(String, Long)],
      mergeSchema: Boolean, create: Option[NewTable]): Long = {
    require(mode == "append" || mode == "overwrite",
      s"write_mode must be append or overwrite, got $mode")
    require(!create.exists(c => c.configuration.contains("delta.columnMapping.mode") &&
        c.configuration.contains("delta.enableRowTracking")),
      "row tracking and column mapping cannot both be enabled at creation here")
    val spark = df0.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val logDir = new Path(root, "_delta_log")

    // Existing table state (None for a fresh path): schema compatibility
    // for append, tombstones for overwrite. The OCC conflict window starts
    // at the version of the snapshot this commit's content derives from.
    val snap = if (fs.exists(logDir)) Some(DeltaRead.snapshot(spark, path)) else None
    val readVersion = snap.map(_.version).getOrElse(-1L)
    val existingFull = snap.filter(_.meta != null)
    // column DEFAULTs, then generated columns, resolve BEFORE schema
    // validation: a batch that omits a defaulted or generated column is
    // completed to the table schema here (defaults first — a generation
    // expression may legally reference a defaulted column)
    val dfDG = existingFull.map(e => applyGenerated(
        applyDefaults(df0, e.meta), e.meta, s"write to $path"))
      .getOrElse(df0)
    // IDENTITY columns (`delta.identity.*`): a batch that OMITS one gets
    // gap-free values assigned past the stored watermark; one that
    // SUPPLIES it refuses unless allowExplicitInsert, advancing the
    // watermark to cover the supplied values. `hwBumps` carries the new
    // last-issued value per column — a non-empty map forces a metaData
    // republish and an EXCLUSIVE conflict guard (two concurrent
    // identity-generating commits would issue the same values; the loser
    // must refuse, never retry with its already-staged data files).
    require(existingFull.isDefined ||
        create.exists(c => createProtocol(c).writerFeatures.contains("identityColumns")) ||
        !df0.schema.fields.exists(_.metadata.contains("delta.identity.start")),
      s"creating an identity table at $path requires writeDeltaTableIdentity — " +
        "raw delta.identity metadata would publish without the " +
        "identityColumns protocol feature")
    val identityFields: Seq[StructField] =
      existingFull.toSeq.flatMap(e => identityFieldsOf(e.meta))
    require(identityFields.isEmpty || !mergeSchema,
      s"mergeSchema on identity table $path is not supported — schema " +
        "evolution would republish the identity metadata from the batch side")
    val (supplied, omitted) = identityFields.partition(f => dfDG.columns.contains(f.name))
    val explicitBumps: Seq[(String, Long)] = supplied.flatMap { f =>
      require(f.metadata.contains("delta.identity.allowExplicitInsert") &&
          f.metadata.getBoolean("delta.identity.allowExplicitInsert"),
        s"write to $path supplies identity column ${f.name}, which is " +
          "GENERATED ALWAYS — omit it to have values assigned")
      import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
      val r = dfDG.agg(
        count(when(col(f.name).isNull, lit(1))).as("nulls"),
        max(col(f.name)).as("mx"), min(col(f.name)).as("mn")).collect()(0)
      require(r.getLong(0) == 0L,
        s"write to $path: identity column ${f.name} has null values")
      val step = f.metadata.getLong("delta.identity.step")
      val last = lastIssued(f)
      val extreme = if (r.isNullAt(1)) None
        else Some(if (step > 0) r.getLong(1) else r.getLong(2))
      extreme.filter(e => (step > 0 && e > last) || (step < 0 && e < last))
        .map(f.name -> _)
    }
    val (dfI, mintBumps) = mintIdentity(dfDG, omitted)
    val hwBumps: Map[String, Long] = mintBumps ++ explicitBumps
    // an assigned identity column lands at the end of the batch — restore
    // the table's column order so the schema gates below compare shapes
    val df = existingFull.filter(_ => identityFields.nonEmpty).map { e =>
      val old = DataType.fromJson(e.meta.schemaJson).asInstanceOf[StructType]
      import org.apache.spark.sql.functions.col
      val ordered = old.fieldNames.filter(dfI.columns.contains) ++
        dfI.columns.filterNot(old.fieldNames.contains)
      val out = dfI.select(ordered.map(col).toSeq: _*)
      // a schema-changing overwrite would republish metaData from the
      // batch schema and silently drop the identity metadata — refuse
      // (recreate the table to change its shape); appends hit the
      // standard schema gate below
      if (mode == "overwrite") {
        require(sameSchema(out.schema, old),
          s"overwrite of identity table $path changes the schema " +
            s"(${out.schema.simpleString} vs ${old.simpleString}) — recreate " +
            "the table instead; identity metadata cannot ride a batch schema")
        require(e.meta.partitionCols == partitionBy,
          s"overwrite of identity table $path changes partitioning — recreate")
      }
      out
    }.getOrElse(dfI)
    val existing: Option[(DeltaRead.Meta, Seq[DeltaRead.LiveFile])] =
      existingFull.map(t => (t.meta, t.files))
    existingFull.foreach { s =>
      checkWritable(s.meta, s.protocol, s"write to $path",
        removesData = mode == "overwrite", identityOk = true) }
    val version = readVersion + 1

    existing.foreach { case (meta, _) =>
      // mapped tables are writable in BOTH modes: the batch renames to the
      // stored physical layout below, and id mode additionally stages its
      // parquet footer field ids (the mode's resolution authority)
      require(Seq("none", "name", "id").contains(meta.mappingMode),
        s"$path enables column mapping '${meta.mappingMode}' — only 'none', " +
          "'name', and 'id' modes are writable here")
      if (meta.mappingMode != "none") {
        require(!mergeSchema,
          "mergeSchema is not supported on a column-mapped table — evolving " +
            "it would need fresh physical names/ids minted per new column")
        val oldLogical = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
        // mapped tables keep ONE schema across overwrites too: a changed
        // schema would silently drop the mapping metadata (the batch
        // carries none) while the files stay physical — recreate instead
        require(sameSchema(df.schema, oldLogical),
          s"batch schema ${df.schema.simpleString} does not match the mapped " +
            s"table's logical schema ${oldLogical.simpleString} — recreate the " +
            "table to change its schema")
      }
      val old = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      if (mode == "append") {
        if (mergeSchema) {
          // evolution contract: shared columns keep their type exactly;
          // batch-only columns append; table-only columns null-fill on read
          old.fields.filter(f => df.schema.fieldNames.contains(f.name)).foreach { f =>
            require(comparableType(df.schema(f.name).dataType) == comparableType(f.dataType),
              s"mergeSchema append changes the type of ${f.name}: table has " +
                s"${f.dataType.simpleString}, batch has " +
                s"${df.schema(f.name).dataType.simpleString} — widen the batch explicitly")
          }
        } else {
          require(sameSchema(df.schema, old),
            s"append schema ${df.schema.simpleString} does not match table schema " +
              s"${old.simpleString} — overwrite to change the schema, or " +
              "mergeSchema=true to evolve it")
        }
        require(meta.partitionCols == partitionBy,
          s"append partitioning $partitionBy does not match table partitioning " +
            s"${meta.partitionCols}")
      }
    }

    // CHECK constraints: the batch must satisfy every stored constraint
    // before anything stages
    existing.foreach { case (meta, _) =>
      enforceConstraints(df, meta, s"write to $path")
      require(meta.mappingMode != "none" ||
          !create.exists(_.configuration.contains("delta.columnMapping.mode")),
        s"$path already exists WITHOUT column mapping — enabling mapping on " +
          "an existing table would orphan its logical-name files")
    }

    // The table this batch writes into: the stored one, or the fresh one
    // its entry point describes. Its mapping mode, schema (mapping
    // metadata included) and configuration govern the rest.
    val created = create.getOrElse(NewTable(df.schema, Map.empty))
    val current: DeltaRead.Meta = existing.map(_._1).getOrElse(
      DeltaRead.Meta(created.schema.json, partitionBy, created.configuration))
    // row tracking: assignment is owed whenever the PROTOCOL supports the
    // feature (the spec's "supported" state); enablement
    // (delta.enableRowTracking) additionally obliges DML/maintenance to
    // PRESERVE ids. Every add this commit stages gets a fresh baseRowId
    // range under the domain-metadata high watermark (re-read per OCC
    // attempt — a concurrent winner may have advanced it).
    val rowTracked = current.configuration.get("delta.enableRowTracking").contains("true") ||
      existingFull.exists(_.protocol.writerFeatures.contains("rowTracking"))
    val snapshotWm = existingFull
      .map(s => DeltaRead.rowIdHighWaterMark(s.domains)).getOrElse(-1L)

    // The schema the table carries AFTER this commit: evolved appends
    // keep the old column order and append the batch's new columns. Any
    // column some live file LACKS must be nullable — the parquet reader
    // null-fills optional columns but refuses a required one that is
    // absent from the file — so batch-new columns (absent from old files)
    // and table columns the batch omits (absent from new files) both
    // widen to nullable. Mapped tables keep their metadata-bearing schema.
    val tableSchema: StructType = existing match {
      case Some((meta, _)) if mode == "append" && mergeSchema =>
        val old = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
        val keptOld = old.fields.map { f =>
          if (df.schema.fieldNames.contains(f.name)) f else f.copy(nullable = true)
        }
        val appended = df.schema.fields
          .filterNot(f => old.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        StructType(keptOld ++ appended)
      case Some((meta, _)) if meta.mappingMode != "none" =>
        DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      case Some(_) => df.schema
      case None => created.schema
    }
    val schemaChanged = existing.forall { case (meta, _) =>
      !sameSchema(tableSchema,
        DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]) ||
        // evolution must also publish nullability-only widening (a column
        // the batch omits flips required → optional, or the reader breaks)
        (mergeSchema && tableSchema.json != meta.schemaJson) ||
        meta.partitionCols != partitionBy
    }
    // generated date()/year() over TIMESTAMP: partition values depend on
    // the writer's session zone — record it so the reader can derive
    // pruning bounds (absent → derivation disabled, never wrong). Kept
    // verbatim when already recorded: live files were written under it.
    // A schema-changing overwrite CARRIES the existing configuration —
    // emitting {} would silently drop properties like
    // delta.enableChangeDataFeed.
    val published: DeltaRead.Meta =
      if (!schemaChanged) current
      else {
        require(mode == "overwrite" || existing.isEmpty || mergeSchema,
          "unreachable: append checked above")
        val genTz: Map[String, String] =
          if (GeneratedPruning.needsWriterZone(tableSchema) &&
              !current.configuration.contains(GeneratedPruning.TimeZoneProp))
            Map(GeneratedPruning.TimeZoneProp ->
              spark.sessionState.conf.sessionLocalTimeZone)
          else Map.empty
        DeltaRead.Meta(tableSchema.json, partitionBy, current.configuration ++ genTz,
          existing.map(e => carriedId(e._1)).getOrElse(UUID.randomUUID().toString))
      }

    // 1) data files: stage inside the table (same filesystem → rename is a
    // metadata op), then move under fresh names. The staging dir is
    // dot-prefixed: invisible to any reader listing the table. Mapped
    // tables stage under the PHYSICAL names (stats keys and partition
    // directories follow automatically).
    val adds = stageBatch(df, root, published)

    // 2) the commit
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    if (version == 0L) lines += DeltaActions.protocol(createProtocol(created))
    txn.foreach { case (appId, txnVersion) =>
      lines += DeltaActions.txn(appId, txnVersion, now)
    }
    if (schemaChanged)
      lines += DeltaActions.metaData(published.id, published.schemaJson,
        published.partitionCols, published.configuration, now)
    // identity watermark advance: same schema, new highWaterMark — one
    // metaData action republishing the STORED schema with bumped marks in
    // the same commit as the rows that consumed them (the spec's writer
    // obligation; a crash between data and mark would re-issue values)
    require(!(schemaChanged && hwBumps.nonEmpty),
      "unreachable: identity tables refuse schema-changing writes above")
    if (hwBumps.nonEmpty) existing.foreach { case (meta, _) =>
      lines += DeltaActions.identityMetaData(meta, hwBumps, now)
    }
    if (mode == "overwrite") existing.foreach { case (_, live) =>
      live.foreach(f => lines += DeltaActions.remove(f.path, now, dataChange = true, None))
    }
    // add actions: on a row-tracked table they render PER OCC ATTEMPT —
    // each add claims a contiguous baseRowId range above the high
    // watermark, and a retry must re-read the watermark a concurrent
    // winner may have advanced (its own domainMetadata action carries the
    // new mark)
    val addLines = renderAdds(spark, path, rowTracked, snapshotWm,
      readVersion + 1, adds, now, dataChange = true) _

    // OCC: a plain append is blind (retries past any concurrent data
    // change); overwrite, table creation, and schema-changing commits
    // depend on the whole snapshot and refuse concurrent activity.
    // identity-advancing appends also conflict-check exclusively: a
    // concurrent winner may have issued the same values into ITS files —
    // retrying with ours already staged would publish duplicates
    val guard =
      if (mode == "overwrite" || schemaChanged || version == 0L || hwBumps.nonEmpty)
        ConflictGuard.exclusive(
          existing.map(_._2.map(_.path).toSet).getOrElse(Set.empty), txn.map(_._1))
      else ConflictGuard.blindAppend(txn.map(_._1))
    commit(spark, path, readVersion, published, "WRITE", Seq("mode" -> mode), guard)(
      attempt => lines.toSeq ++ addLines(attempt))
  }

  /** `numRecords` from an add action's stats JSON — required for
    * baseRowId range assignment on row-tracked tables (this writer's
    * [[footerStats]] always records it).
    */
  private[graft] def numRecordsOf(stats: Option[String], where: String): Long =
    stats.flatMap(DeltaActions.numRecords).getOrElse(throw new IllegalStateException(
      s"$where: row tracking needs numRecords stats to assign baseRowIds"))

  /** Row-tracking state of a table: the materialized row-id / commit-
    * version column names its configuration pins (minted at creation).
    * None when the table does not enable row tracking.
    */
  private[io] final case class RowTracking(matId: String, matVer: String)
  private[io] def rowTrackingOf(meta: DeltaRead.Meta): Option[RowTracking] =
    if (!meta.configuration.get("delta.enableRowTracking").contains("true")) None
    else Some(RowTracking(
      meta.configuration.getOrElse(
        "delta.rowTracking.materializedRowIdColumnName",
        throw new IllegalStateException(
          "row tracking enabled without materializedRowIdColumnName")),
      meta.configuration.getOrElse(
        "delta.rowTracking.materializedRowCommitVersionColumnName",
        throw new IllegalStateException(
          "row tracking enabled without materializedRowCommitVersionColumnName"))))

  /** Freshly minted names of the materialized row-id / commit-version
    * columns rewriting commits preserve stable ids under (spec:
    * writer-chosen, stored in the table configuration, outside the table
    * schema).
    */
  private def mintMaterializedNames(): Map[String, String] = {
    val suffix = UUID.randomUUID().toString.take(8)
    Map("delta.rowTracking.materializedRowIdColumnName" -> s"_row_id_mat_$suffix",
      "delta.rowTracking.materializedRowCommitVersionColumnName" -> s"_row_ver_mat_$suffix")
  }

  private[io] def rowTrackingFields(rt: Option[RowTracking]): Seq[StructField] =
    rt.toSeq.flatMap(r => Seq(
      StructField(r.matId, org.apache.spark.sql.types.LongType, nullable = true),
      StructField(r.matVer, org.apache.spark.sql.types.LongType, nullable = true)))

  /** Attach the MATERIALIZED row-id / commit-version values to a rewrite
    * read: `df` must carry `__file` / `__row_idx` helper columns (and the
    * two materialized columns, null where the source file lacks them);
    * each row's stable id becomes `coalesce(materialized, baseRowId +
    * row_idx)` and its commit version `coalesce(materialized,
    * defaultRowCommitVersion)` — written PHYSICALLY into the staged file,
    * so the rewrite never moves a row's identity. Per-file metadata joins
    * broadcast, like every file-level map here.
    */
  private[io] def materializeRowIds(spark: SparkSession, path: String,
      rt: RowTracking, files: Seq[DeltaRead.LiveFile], df: DataFrame,
      keepHelpers: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fmap = files.map { f =>
      val base = f.baseRowId.getOrElse(throw new IllegalStateException(
        s"$path: live file ${f.path} has no baseRowId on a row-tracked table"))
      (fs.makeQualified(new Path(DeltaRead.resolveFilePath(path, f.path)))
        .toUri.getPath, base, f.defaultRowCommitVersion.getOrElse(-1L))
    }.toDF("__fkey", "__base_rid", "__dflt_ver")
    // LEFT join + raise-on-miss (see [[DeltaRead.fileKeyOf]]): an inner
    // join here silently DROPPED every row on a key mismatch — and DML
    // survivor sets flow through this join, so a miss rewrote touched
    // files to empty. A miss now fails the job, naming the file.
    df.withColumn("__fkey", DeltaRead.fileKeyOf(col("__file")))
      .join(broadcast(fmap), Seq("__fkey"), "left")
      .withColumn(rt.matId,
        coalesce(col(s"`${rt.matId}`"), col("__base_rid") + col("__row_idx"),
          DeltaRead.fileKeyMissError(col("__file"))))
      .withColumn(rt.matVer,
        coalesce(col(s"`${rt.matVer}`"), when(col("__dflt_ver") >= 0, col("__dflt_ver"))))
      .drop((if (keepHelpers) Seq("__fkey", "__base_rid", "__dflt_ver")
        else Seq("__fkey", "__file", "__row_idx", "__base_rid", "__dflt_ver")): _*)
  }

  /** A data file staged under the table root, ready for its `add`
    * action: table-relative path, partition values, size, footer stats.
    */
  private[io] final case class StagedFile(path: String,
      partitionValues: Map[String, String], size: Long, stats: Option[String])

  /** Per-OCC-attempt `add` rendering of freshly staged files. On a
    * row-tracked table each file claims a contiguous baseRowId range above
    * the high watermark — re-read on RETRY attempts, since a concurrent
    * winner advances it — and the commit closes with the domain-metadata
    * action carrying the new mark. Untracked adds carry no row-id fields.
    */
  private[io] def renderAdds(spark: SparkSession, path: String,
      tracked: Boolean, snapshotWm: Long, firstAttempt: Long,
      files: Seq[StagedFile], now: Long, dataChange: Boolean)(attempt: Long): Seq[String] = {
    def add(f: StagedFile, base: Option[Long]): String =
      DeltaActions.add(f.path, f.partitionValues, f.size, now, dataChange,
        f.stats, None, base, base.map(_ => attempt))
    if (!tracked) files.map(add(_, None))
    else {
      var next = (if (attempt == firstAttempt) snapshotWm
        else DeltaRead.rowIdHighWaterMark(DeltaRead.snapshot(spark, path).domains)) + 1
      val out = files.map { f =>
        val line = add(f, Some(next))
        next += numRecordsOf(f.stats, s"$path add ${f.path}")
        line
      }
      out :+ DeltaActions.rowTrackingDomain(next - 1)
    }
  }

  /** SET TBLPROPERTIES: commit a metaData action whose configuration is
    * the current one merged with `props` (schema and partitioning
    * unchanged — last metaData wins on replay, so this is how Delta
    * tables flip feature flags like `delta.enableChangeDataFeed` after
    * creation). Returns the committed version.
    */
  def setTableProperties(spark: SparkSession, path: String,
      props: Map[String, String]): Long = {
    require(props.nonEmpty, "props must be non-empty")
    val DeltaRead.Snapshot(readVersion, meta, _, _, _, _) = DeltaRead.snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    val now = System.currentTimeMillis()
    // the MERGED configuration governs this commit's own clock and
    // checkpoint interval — enabling delta.enableInCommitTimestamps
    // stamps the enablement commit itself
    val merged = meta.copy(configuration = meta.configuration ++ props)
    val tail = Seq(DeltaActions.metaData(carriedId(meta), meta.schemaJson,
      meta.partitionCols, merged.configuration, now))
    commit(spark, path, readVersion, merged, "SET TBLPROPERTIES",
      Seq("properties" -> props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString(",")), ConflictGuard.exclusive())(_ => tail)
  }

  /** THE commit step every commit path takes: per OCC attempt, render
    * `commitInfo` (`operation`, `params`, the in-commit clock of `meta`)
    * ahead of `actions(attempt)` and publish through [[commitWithRetry]]
    * under `guard`; then auto-checkpoint. `meta` is the table as this
    * commit publishes it — its configuration decides both the in-commit
    * clock and the checkpoint interval. Returns the committed version.
    */
  private[io] def commit(spark: SparkSession, path: String, readVersion: Long,
      meta: DeltaRead.Meta, operation: String, params: Seq[(String, Any)],
      guard: ConflictGuard)(actions: Long => Seq[String]): Long = {
    val committed = commitWithRetry(spark, path, readVersion, guard, { attempt =>
      // the clock re-derives per attempt: a retried commit's in-commit
      // timestamp must pass the winner it lost to
      val now = System.currentTimeMillis()
      val info = DeltaActions.commitInfo(inCommitTimestamp(spark, path, meta, now), now,
        operation, params)
      info +: actions(attempt)
    })
    maybeAutoCheckpoint(spark, path, committed, meta.configuration)
    committed
  }

  /** The commit of a writer that keeps its own state in a domain of the
    * table ([[graft.ext.AnnIndex]] keeps its trained state in one): on
    * top of `snap`, stage `rows` as data files partitioned like the
    * table, tombstone `removes`, re-add each `moves` file unchanged under
    * new partition values (readers take them from the log), and record
    * `domain` and `txn` — one atomic commit. With `create` (partition
    * columns and configuration) the commit makes the table `rows`
    * describe, declaring `domainMetadata`; a table `snap` holds is
    * replaced whole. Returns the committed version.
    */
  private[graft] def commitFiles(spark: SparkSession, path: String, operation: String,
      snap: Option[DeltaRead.Snapshot], rows: Option[DataFrame] = None,
      removes: Seq[DeltaRead.LiveFile] = Nil,
      moves: Seq[(DeltaRead.LiveFile, Map[String, String])] = Nil,
      domain: Option[(String, String)] = None, txn: Option[(String, Long)] = None,
      create: Option[(Seq[String], Map[String, String])] = None): Long = {
    import org.apache.spark.sql.functions.col
    val meta = create.fold(snap.get.meta) { case (partitionBy, conf) =>
      DeltaRead.Meta(rows.get.schema.json, partitionBy, conf,
        snap.fold(UUID.randomUUID().toString)(s => carriedId(s.meta)))
    }
    val gone = if (create.isDefined) snap.toSeq.flatMap(_.files) else removes
    // a moved file is re-added alone: an add of a live path replaces its
    // entry, and the conflict check still covers it as rewritten
    val rewritten = (gone ++ moves.map(_._1)).map(_.path).toSet
    snap.foreach(s => checkWritable(s.meta, s.protocol, s"$operation on $path",
      removesData = rewritten.nonEmpty))
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val adds = rows.toSeq.flatMap(r =>
      stageBatch(r.select(schema.fieldNames.map(c => col(s"`$c`")).toSeq: _*), new Path(path), meta))
    val now = System.currentTimeMillis()
    val lines = create.toSeq.flatMap(_ => Seq(
        DeltaActions.protocol(DeltaRead.Protocol(1, 7, Nil, Seq("domainMetadata"))),
        DeltaActions.metaData(meta.id, meta.schemaJson, meta.partitionCols,
          meta.configuration, now))) ++
      txn.map { case (appId, v) => DeltaActions.txn(appId, v, now) } ++
      gone.map(f => DeltaActions.remove(f.path, now, dataChange = true, f.dv)) ++
      moves.map { case (f, pv) => DeltaActions.add(f.path, pv, f.size, f.modificationTime,
        dataChange = true, f.stats, f.dv, f.baseRowId, f.defaultRowCommitVersion) } ++
      adds.map(f => DeltaActions.add(f.path, f.partitionValues, f.size, now,
        dataChange = true, f.stats, None, None, None)) ++
      domain.map { case (name, config) => DeltaActions.domainMetadata(name, config) }
    val guard =
      if (create.isDefined) ConflictGuard.exclusive(rewritten, txn.map(_._1))
      else ConflictGuard.disjointRewrite(rewritten, txn.map(_._1))
    commit(spark, path, snap.fold(-1L)(_.version), meta, operation, Nil, guard)(_ => lines)
  }

  /** Honor `delta.checkpointInterval` (the standard writer-side table
    * property): after a successful commit, write a classic checkpoint
    * when at least `interval` versions landed since the last checkpoint
    * (none yet → since version 0), so replay stays bounded WITHOUT
    * anyone running manual maintenance — the delta-spark convention.
    * GAP-based, not `version % k` — a modulo trigger lets maintenance
    * commits (compact, restore, SET TBLPROPERTIES, …) consume the
    * multiple-of-k slots so an interleaved workload skips checkpoints
    * indefinitely; the gap trigger fires on whichever commit crosses the
    * interval, and EVERY commit path reaches this through [[commit]]
    * (data, DML, and maintenance alike). A checkpoint is an optimization
    * on top of an already-published commit, so failures warn and never
    * fail the caller. The interval is read from the POST-commit
    * configuration (delta-spark's rule: the committed snapshot decides),
    * so a commit that changes the property is governed by its new value.
    */
  private def maybeAutoCheckpoint(spark: SparkSession, path: String,
      version: Long, config: Map[String, String]): Unit =
    config.get("delta.checkpointInterval")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0)
      .foreach { k =>
        val root = new Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val lastCp = DeltaRead.readLastCheckpoint(fs, new Path(root, "_delta_log"))
          .map(_.version).getOrElse(0L)
        if (version > 0 && version - lastCp >= k)
          try checkpoint(spark, path)
          catch {
            case e: Exception =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"auto-checkpoint at $path version $version failed", e)
          }
      }

  /** LOG COMPACTION (the public `<start>.<end>.compacted.json` layout):
    * aggregate the commit range's actions into one reconciled file so
    * replay between checkpoints reads O(compactions) files instead of
    * O(commits) — the bounded-replay story for tables taking thousands of
    * small commits between checkpoints. Reconciliation is exactly replay
    * semantics over the range in isolation:
    *
    *  - the LAST protocol / metaData action (when any);
    *  - the latest `txn` per appId (idempotence watermarks carry);
    *  - the latest `domainMetadata` per domain, removal tombstones kept;
    *  - per file path, the NET action: still-live adds carry their final
    *    state (DV, row-tracking fields) verbatim; files whose LAST action
    *    is a remove ALWAYS keep the remove tombstone — even when the add
    *    also happened inside the range. The range in isolation cannot
    *    tell a range-created file's remove from a PRE-range file's
    *    DV-re-add-then-COW remove, and dropping the latter resurrects
    *    pre-range state (LogCompactionSpec's DV+COW history pins this).
    *
    * Single-maintainer contract: compactLog lists then re-reads commit JSONs non-atomically, so a
    * CONCURRENT [[cleanupMetadata]] that deletes a listed JSON makes this
    * call fail loudly (exception, no output published) — run maintenance
    * verbs from one coordinator.
    *
    * Compaction is an OPTIMIZATION, not a commit: no version is consumed,
    * the original JSONs stay (cleanup remains checkpoint-keyed — foreign
    * readers are not required to understand compacted files), and the
    * file publishes atomically (temp + rename). A cold
    * [[DeltaRead.snapshot]] substitutes the largest non-overlapping
    * compacted coverage for the per-commit JSONs when replaying. Returns
    * the written path.
    *
    * With no explicit range: compact everything after the last
    * checkpoint (or from version 0) up to the head.
    */
  def compactLog(spark: SparkSession, path: String,
      startVersion: Long = -1L, endVersion: Long = -1L): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path, "_delta_log")
    require(fs.exists(dir), s"$path is not a Delta table (no _delta_log)")
    val jsons = DeltaRead.listCommits(fs, dir).map(_._1)
    val start = if (startVersion >= 0) startVersion else jsons.headOption.getOrElse(
      throw new IllegalArgumentException(s"$path has no commit JSONs to compact"))
    val end = if (endVersion >= 0) endVersion else jsons.last
    require(start < end, s"compaction range [$start, $end] must span >= 2 commits")
    val range = start to end
    require(range.forall(jsons.contains),
      s"compactLog($start, $end): missing commit JSONs " +
        s"${range.filterNot(jsons.contains).mkString(", ")} in $dir")

    var protoLine: String = null
    var metaLine: String = null
    val txns = scala.collection.mutable.LinkedHashMap[String, String]()
    val domains = scala.collection.mutable.LinkedHashMap[String, String]()
    // per path: Left(add line) when the last action is an add, Right
    // (remove line) when it is a remove. The tombstone is ALWAYS kept —
    // the range in isolation cannot distinguish a remove of a range-
    // created file (tombstone harmless at replay) from a remove of a
    // PRE-range file whose DV re-add happened inside the range (dropping
    // that tombstone resurrects the pre-range state — a wrong answer this
    // spec's DV-then-COW history caught).
    val files = scala.collection.mutable.LinkedHashMap[String, Either[String, String]]()
    range.foreach { v =>
      DeltaRead.logLines(fs, DeltaRead.commitPath(dir, v)).foreach { line =>
        val node = DeltaActions.parse(line)
        if (node.has("protocol")) protoLine = line
        if (node.has("metaData")) metaLine = line
        if (node.has("txn")) txns(node.get("txn").get("appId").asText()) = line
        if (node.has("domainMetadata"))
          domains(node.get("domainMetadata").get("domain").asText()) = line
        if (node.has("add"))
          files(node.get("add").get("path").asText()) = Left(DeltaActions.render(node))
        if (node.has("remove"))
          files(node.get("remove").get("path").asText()) = Right(DeltaActions.render(node))
      }
    }
    val lines = Option(protoLine).toSeq ++ Option(metaLine).toSeq ++
      txns.values ++ domains.values ++
      files.values.collect { case Right(l) => l } ++
      files.values.collect { case Left(l) => l }
    val out = new Path(dir, f"$start%020d.$end%020d.compacted.json")
    val tmp = new Path(dir, s".${out.getName}.${UUID.randomUUID()}.tmp")
    val os = fs.create(tmp, true)
    try lines.foreach(l => os.write((l + "\n").getBytes("UTF-8")))
    finally os.close()
    require(fs.rename(tmp, out) || fs.exists(out),
      s"could not publish $out")
    out.toString
  }

  /** Enable row tracking ON AN EXISTING table — the backfill op every
    * real table acquires the feature through (creation-time enablement is
    * [[writeDeltaTableRowTracked]]). One metadata-only commit:
    *
    *  1. protocol upgrade to writer version 7 with `rowTracking` +
    *     `domainMetadata` declared — existing features preserved, and a
    *     legacy (< 7) writer version's IMPLIED features enumerated, as
    *     the spec requires when crossing into table-features territory;
    *  2. configuration gains `delta.enableRowTracking` and freshly minted
    *     materialized-column names (kept when already present — a
    *     half-enabled table keeps its names);
    *  3. every live file missing a `baseRowId` is RE-ADDED with a
    *     contiguous freshly assigned range (`dataChange = false` — no
    *     data changes, identity attaches) and `defaultRowCommitVersion`
    *     = this commit, sized by its `numRecords` stats (refused loudly
    *     when absent — ranges cannot be guessed);
    *  4. the `delta.rowTracking` domain records the new high watermark.
    *
    * After this, [[DeltaRead.readDeltaTableWithRowIds]] serves stable ids
    * for the whole table instead of refusing the unbackfilled state.
    * Returns the committed version, or -1 when already fully enabled.
    */
  def enableRowTracking(spark: SparkSession, path: String): Long = {
    val snap = DeltaRead.snapshot(spark, path)
    require(snap.meta != null, s"$path has no metaData action in its _delta_log")
    checkWritable(snap.meta, snap.protocol, s"enableRowTracking of $path",
      identityOk = true,
      removesData = false)
    val alreadyOn =
      snap.meta.configuration.get("delta.enableRowTracking").contains("true")
    val toBackfill = snap.files.filter(_.baseRowId.isEmpty)
    if (alreadyOn && toBackfill.isEmpty) return -1L

    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val newProto = withWriterFeatures(snap.protocol, Seq("domainMetadata", "rowTracking"))
    if (newProto != snap.protocol) lines += DeltaActions.protocol(newProto)

    // configuration: mint materialized-column names unless already pinned
    val merged = mintMaterializedNames() ++
      snap.meta.configuration + ("delta.enableRowTracking" -> "true")
    if (merged != snap.meta.configuration)
      lines += DeltaActions.metaData(carriedId(snap.meta), snap.meta.schemaJson,
        snap.meta.partitionCols, merged, now)

    // re-add unbackfilled files with contiguous ranges above the watermark;
    // rendered per OCC attempt — defaultRowCommitVersion stamps the
    // version that actually publishes
    def backfillLines(attempt: Long): Seq[String] = {
      var next = DeltaRead.rowIdHighWaterMark(snap.domains) + 1
      val out = toBackfill.map { f =>
        val line = DeltaActions.add(f.path, f.partitionValues, f.size,
          f.modificationTime, dataChange = false, f.stats, f.dv, Some(next), Some(attempt))
        next += numRecordsOf(f.stats, s"enableRowTracking($path) backfill of ${f.path}")
        line
      }
      out :+ DeltaActions.rowTrackingDomain(next - 1)
    }
    // exclusive: the assigned ranges and backfill set ARE the snapshot —
    // any concurrent commit invalidates both
    commit(spark, path, snap.version, snap.meta.copy(configuration = merged),
      "ENABLE ROW TRACKING", Seq("backfilledFiles" -> toBackfill.size),
      ConflictGuard.exclusive())(attempt => lines.toSeq ++ backfillLines(attempt))
  }

  /** ADD CONSTRAINT `name` CHECK (`exprSql`): stored as
    * `delta.constraints.<name>` in the table configuration (the public
    * Delta layout for CHECK constraints) — every later write and DML
    * commit validates its staged rows against ALL stored constraints in
    * one aggregate pass and refuses the whole commit on any violation.
    * The expression must already HOLD on the current table (checked here)
    * — adding a constraint the data violates would make the table
    * unwritable-but-wrong. SQL CHECK null semantics: a NULL predicate is
    * unknown, not a violation.
    */
  def addCheckConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be alphanumeric/underscore, got '$name'")
    val current = DeltaRead.readDeltaTable(spark, path)
    val bad = current.filter(!coalesce(expr(exprSql), lit(true))).limit(1).count()
    require(bad == 0L,
      s"cannot add CHECK constraint $name ($exprSql): existing rows violate it")
    setTableProperties(spark, path, Map(s"delta.constraints.$name" -> exprSql))
  }

  /** Writer features whose semantics this engine actually HONORS when
    * committing: appendOnly and CHECK constraints are enforced,
    * changeDataFeed is emitted by every DML verb, name-mode columnMapping
    * stages physically, widened types stage wide, deletion vectors read
    * through and materialize away on rewrite, row tracking mints fresh
    * baseRowId ranges on every commit (rewrites preserve ids via
    * materialized columns), domain metadata replays and carries through
    * checkpoints, and the rest carry no writer-side obligation for this
    * engine's commit shapes. Anything NOT here (identityColumns,
    * icebergCompat*, ...) imposes invariants a commit from this writer would silently
    * break — refuse instead.
    */
  private val honoredWriterFeatures = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "columnMapping", "typeWidening", "typeWidening-preview",
    "deletionVectors", "timestampNtz", "vacuumProtocolCheck", "v2Checkpoint",
    "generatedColumns", "inCommitTimestamp", "rowTracking", "domainMetadata",
    "allowColumnDefaults", "identityColumns")

  /** Refuse commits whose table demands WRITER semantics this engine does
    * not honor — the write-side mirror of [[DeltaRead]]'s reader-protocol
    * gate. Checks, in protocol order: writer version ceiling, undeclared/
    * unknown writer features, `delta.appendOnly` (data-changing removes
    * refused; dataChange=false maintenance rewrites are allowed, per the
    * spec), and
    * schema-embedded obligations this writer cannot compute — column
    * invariants (`delta.invariants`), generation expressions
    * (`delta.generationExpression`), identity columns (`delta.identity.*`).
    * The features `invariants`/`generatedColumns` are in the honored set
    * because MOST tables declare them without using them (legacy writer
    * versions imply them); the schema scan here is what actually gates.
    */
  private[io] def checkWritable(meta: DeltaRead.Meta, proto: DeltaRead.Protocol,
      where: String, removesData: Boolean, identityOk: Boolean = false): Unit = {
    require(proto.minWriter <= 7,
      s"$where requires Delta writer version ${proto.minWriter}; max supported is 7")
    val unknown = proto.writerFeatures.filterNot(honoredWriterFeatures)
    require(unknown.isEmpty,
      s"$where requires writer features ${unknown.mkString(", ")} — committing " +
        "without honoring them would break another writer's invariants")
    require(!(meta.configuration.get("delta.enableRowTracking").contains("true")
        && meta.mappingMode != "none"),
      s"$where: row tracking on a column-mapped table is not writable here " +
        "(materialized row-id columns would need mapped physical names)")
    if (removesData)
      require(!meta.configuration.get("delta.appendOnly").contains("true"),
        s"$where: the table is delta.appendOnly — removing or rewriting data " +
          "is forbidden by its own configuration")
    // row tracking (`delta.enableRowTracking`) is HONORED, not refused:
    // appends mint fresh baseRowId ranges under the domain-metadata high
    // watermark, DV DML preserves ids by construction (positions never
    // move), and every rewriting path (COW DML, OPTIMIZE/compaction)
    // MATERIALIZES the ids it carries forward — see [[rowTrackingOf]]
    // generated columns (`delta.generationExpression`) are HONORED, not
    // refused: [[applyGenerated]] computes omitted columns and validates
    // supplied ones on every staging path
    // identity columns (`delta.identity.*`) are HONORED on value-minting
    // and row-preserving paths (identityOk=true: append/overwrite writes
    // and MERGE's unmatched inserts assign + advance the watermark under
    // the exclusive guard; compact/zorder/DELETE/UPDATE carry existing
    // values verbatim, with UPDATE refusing identity SET targets at the
    // verb; RESTORE rolls the DATA back but preserves the high watermark
    // so values never re-issue — delta-spark's rule).
    val refused = Seq("delta.invariants" -> "column invariants") ++
      (if (identityOk) Nil
       else Seq("delta.identity." -> ("identity columns — this verb could " +
         "mint or roll back identity values outside the assignment contract; " +
         "route inserts through writeDeltaTable")))
    refused.foreach { case (key, what) =>
      require(!meta.schemaJson.contains(key),
        s"$where: the table schema declares $what ($key), which this writer " +
          "cannot honor here — a commit could silently violate the contract")
    }
  }

  /** Generated columns — the writer half of `delta.generationExpression`
    * field metadata (the public spec's generated-columns feature, most
    * commonly a derived partition column like `date(ts)`): a batch that
    * OMITS the column gets it computed from the expression; a batch that
    * SUPPLIES it is validated row-by-row (null-safe equality against the
    * recomputed value) and refused on any mismatch — the spec's writer
    * obligation, which also catches DML that updates a dependency while
    * leaving the generated value stale. Expressions are compiled with
    * Spark's `expr`, so the check is one codegen'd pass, no UDFs.
    */
  private[io] def applyGenerated(df: DataFrame, meta: DeltaRead.Meta,
      where: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    if (!meta.schemaJson.contains("delta.generationExpression")) return df
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val gens = schema.fields
      .filter(_.metadata.contains("delta.generationExpression"))
    var out = df
    gens.foreach { f =>
      val g = f.metadata.getString("delta.generationExpression")
      val genCol = expr(g).cast(f.dataType)
      if (!out.columns.contains(f.name))
        out = out.withColumn(f.name, genCol)
      else {
        val bad = out.filter(!(col(f.name) <=> genCol)).limit(1).count()
        require(bad == 0L,
          s"$where: generated column ${f.name} = $g — the batch supplies " +
            "values that do not match the generation expression; omit the " +
            "column to have it computed, or fix the values")
      }
    }
    // computed columns appended at the end → restore the table's order,
    // KEEPING batch-only columns after it: a mergeSchema=true append may
    // legitimately carry new columns that schema evolution (which runs
    // after this) will add to the table — dropping them here would
    // silently defeat the evolution
    if (gens.exists(f => !df.columns.contains(f.name))) {
      val ordered = schema.fieldNames.filter(out.columns.contains) ++
        out.columns.filterNot(schema.fieldNames.contains)
      out.select(ordered.map(col).toSeq: _*)
    } else out
  }

  /** Column DEFAULT values — the writer half of the public Delta
    * `allowColumnDefaults` feature (`CURRENT_DEFAULT` field metadata): a
    * batch that OMITS a defaulted column gets the default computed in (one
    * constant-folded expression, no UDFs); a batch that SUPPLIES it keeps
    * its values verbatim — defaults fill, they never validate (unlike
    * [[applyGenerated]], which owes the spec a row-by-row check). Runs on
    * the write path only: DML rewrites carry every column by construction,
    * so there is nothing to fill there. The Delta spec has no
    * EXISTS_DEFAULT — a default never backfills rows written before it was
    * set, which is why [[setColumnDefault]] refuses columns absent from
    * live data's schema history rather than inventing reads.
    */
  private[io] def applyDefaults(df: DataFrame, meta: DeltaRead.Meta): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    if (!meta.schemaJson.contains("CURRENT_DEFAULT")) return df
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val defs = schema.fields.filter(f =>
      f.metadata.contains("CURRENT_DEFAULT") && !df.columns.contains(f.name))
    if (defs.isEmpty) return df
    var out = df
    defs.foreach { f =>
      out = out.withColumn(f.name,
        expr(f.metadata.getString("CURRENT_DEFAULT")).cast(f.dataType))
    }
    // filled columns appended at the end → restore the table's order,
    // keeping batch-only columns after it (the applyGenerated convention)
    val ordered = schema.fieldNames.filter(out.columns.contains) ++
      out.columns.filterNot(schema.fieldNames.contains)
    out.select(ordered.map(col).toSeq: _*)
  }

  /** Identity-column fields of a table schema (`delta.identity.start`
    * metadata), with the last-issued value each would continue from.
    */
  private[io] def identityFieldsOf(meta: DeltaRead.Meta): Seq[StructField] =
    if (!meta.schemaJson.contains("delta.identity.")) Nil
    else DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      .fields.filter(_.metadata.contains("delta.identity.start")).toSeq

  /** The last value an identity column issued: its high watermark, or
    * `start - step` before the first.
    */
  private def lastIssued(f: StructField): Long =
    if (f.metadata.contains("delta.identity.highWaterMark"))
      f.metadata.getLong("delta.identity.highWaterMark")
    else f.metadata.getLong("delta.identity.start") - f.metadata.getLong("delta.identity.step")

  /** The one identity-minting fold — appends, MERGE's unmatched inserts
    * and [[writeDeltaTableIdentity]]'s first batch: each of `fields` (all
    * omitted by `df`) gets gap-free values past its last issued one
    * ([[assignIdentityValues]]). Returns the batch with the columns
    * appended and the new high watermark of every column that issued a
    * value.
    */
  private[io] def mintIdentity(df: DataFrame,
      fields: Seq[StructField]): (DataFrame, Map[String, Long]) =
    fields.foldLeft((df, Map.empty[String, Long])) { case ((cur, marks), f) =>
      val step = f.metadata.getLong("delta.identity.step")
      val (withId, n) = assignIdentityValues(cur, f.name, lastIssued(f), step)
      (withId, if (n == 0) marks else marks + (f.name -> (lastIssued(f) + step * n)))
    }

  /** `schema` with each named identity column's high watermark set. */
  private[io] def withHighWaterMarks(schema: StructType,
      marks: Map[String, Long]): StructType =
    StructType(schema.fields.map { f =>
      marks.get(f.name).fold(f)(hw => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.identity.highWaterMark", hw).build()))
    })

  /** Identity assignment: append `name` holding gap-free values
    * `lastIssued + step, lastIssued + 2·step, …` in the batch's
    * partition-then-row order. `zipWithIndex` is the one legitimate RDD
    * drop-down here — a global gap-free sequence is inherently a
    * count-partials-then-offset pass (Spark's windowless row_number would
    * single-partition the batch); the batch localCheckpoints first so the
    * count job and the map job see the same rows in the same order.
    * Returns the frame and the batch row count (the new watermark is
    * `lastIssued + step·n`).
    */
  private def assignIdentityValues(df: DataFrame, name: String,
      lastIssued: Long, step: Long): (DataFrame, Long) = {
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    val snapped = df.localCheckpoint()
    val n = snapped.count()
    val out = spark.createDataFrame(
      snapped.rdd.zipWithIndex().map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (lastIssued + step * (i + 1)))
      },
      StructType(snapped.schema.fields :+
        StructField(name, LongType, nullable = false)))
    (out, n)
  }

  /** The `inCommitTimestamp` of the NEXT commit's commitInfo when the
    * table enables `delta.enableInCommitTimestamps` —
    * strictly monotone past the last commit's in-commit clock
    * (`max(wallclock, prev + 1)`, the protocol's rule, which is what makes
    * timestamp time travel immune to wall-clock skew between writers).
    * None when the feature is off. Re-derive PER OCC ATTEMPT: a retried
    * commit must clock past the winner it lost to, not its own first try.
    */
  private def inCommitTimestamp(spark: SparkSession, path: String,
      meta: DeltaRead.Meta, now: Long): Option[Long] = {
    if (!meta.configuration.get("delta.enableInCommitTimestamps").contains("true"))
      return None
    val dir = new Path(new Path(path), "_delta_log")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // last commit's in-commit clock (its wall-clock timestamp as the
    // pre-enablement fallback); 0 when the JSON tail was cleaned or no
    // log exists yet (a clone's version 0) — the wall clock then
    // dominates, which stays monotone
    val prev = (if (fs.exists(dir)) DeltaRead.listCommits(fs, dir).lastOption else None)
      .flatMap { case (v, _) => DeltaRead.commitInfo(fs, dir, v) }
      .flatMap(DeltaActions.commitTimestamp).getOrElse(0L)
    Some(math.max(now, prev + 1))
  }

  /** Validate a batch against the table's stored CHECK constraints — one
    * aggregate pass counting violations of every constraint at once; any
    * violation refuses the commit before a single file is staged.
    */
  private[io] def enforceConstraints(df: DataFrame, meta: DeltaRead.Meta,
      where: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    val constraints = meta.configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (k.stripPrefix("delta.constraints."), v)
    }.sortBy(_._1)
    if (constraints.isEmpty) return
    val aggs = constraints.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(s"__c_$n") }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    constraints.zipWithIndex.foreach { case ((n, e), i) =>
      require(row.isNullAt(i) || row.getLong(i) == 0L,
        s"$where: CHECK constraint $n ($e) violated by ${row.getLong(i)} row(s) " +
          "— the commit was refused before staging")
    }
  }

  /** RESTORE TABLE TO VERSION: roll the live set back to `toVersion`'s —
    * as a NEW commit (adds for files the target version had and the head
    * lost, removes for files the head gained), so nothing is erased:
    * the botched commits stay in history and time travel over them keeps
    * working, exactly like Delta's own RESTORE. The metaData also resets
    * when the schema/configuration changed since. Returns the committed
    * version, or -1 when the head already equals the target (no-op).
    * Restored files must still exist physically — a VACUUM that already
    * collected them fails the next read loudly, not this commit (the
    * log-only operation cannot cheaply verify remote existence).
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val DeltaRead.Snapshot(readVersion, metaNow, liveNow, protoNow, _, _) =
      DeltaRead.snapshot(spark, path)
    require(metaNow != null, s"$path has no metaData action in its _delta_log")
    checkWritable(metaNow, protoNow, s"restore of $path", removesData = true,
      identityOk = true) // watermark preserved below, never rolled back
    val DeltaRead.Snapshot(_, metaThen0, liveThen, _, _, _) =
      DeltaRead.snapshot(spark, path, Some(toVersion))
    require(metaThen0 != null, s"$path had no metaData at version $toVersion")
    // IDENTITY watermark preservation (delta-spark's RESTORE rule): the
    // DATA rolls back, the HIGH WATERMARK does not — republishing the
    // historical mark would re-issue values already handed out between
    // toVersion and now, breaking the never-reuse contract for every
    // consumer that saw them. Keep, per identity column, the mark
    // furthest along its step direction.
    val metaThen: DeltaRead.Meta = {
      val idNow = identityFieldsOf(metaNow)
      if (idNow.isEmpty) metaThen0
      else {
        val hwKey = "delta.identity.highWaterMark"
        val marksNow = idNow.filter(_.metadata.contains(hwKey))
          .map(f => f.name -> f.metadata.getLong(hwKey)).toMap
        val thenSchema = DataType.fromJson(metaThen0.schemaJson).asInstanceOf[StructType]
        val keep = thenSchema.fields.flatMap(f => marksNow.get(f.name).map { hwNow =>
          val step = f.metadata.getLong("delta.identity.step")
          f.name -> (if (!f.metadata.contains(hwKey)) hwNow
            else if (step > 0) math.max(f.metadata.getLong(hwKey), hwNow)
            else math.min(f.metadata.getLong(hwKey), hwNow))
        }).toMap
        metaThen0.copy(schemaJson = withHighWaterMarks(thenSchema, keep).json)
      }
    }
    val nowByPath = liveNow.map(f => f.path -> f).toMap
    val thenByPath = liveThen.map(f => f.path -> f).toMap
    // a file can be live in BOTH versions with a DIFFERENT deletion-vector
    // state (a later DV delete re-added the same path with a bitmap):
    // path-only diffing would keep the CURRENT vector and leave restored
    // rows invisible — re-add such files with their target-version state
    // (the add overwrites the live entry at replay; no remove needed)
    val toAdd = liveThen.filter(f =>
      nowByPath.get(f.path).forall(cur => cur.dv != f.dv))
    val toRemove = liveNow.filterNot(f => thenByPath.contains(f.path))
    val metaChanged = metaNow != metaThen
    if (toAdd.isEmpty && toRemove.isEmpty && !metaChanged) return -1L
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    if (metaChanged)
      // the CURRENT id, not the historical one: the GUID identifies the
      // table across its whole life — a legacy log whose early commits
      // minted per-commit ids must not flip back on restore
      lines += DeltaActions.metaData(carriedId(metaNow), metaThen.schemaJson,
        metaThen.partitionCols, metaThen.configuration, now)
    toRemove.foreach(f => lines += DeltaActions.remove(f.path, now, dataChange = true, None))
    // a resurrected file carries its historical DV verbatim — the blob
    // still resolves against this table's root (VACUUM spares live DVs)
    toAdd.foreach { f =>
      lines += DeltaActions.add(f.path, f.partitionValues, f.size, f.modificationTime,
        dataChange = true, f.stats, f.dv, f.baseRowId, f.defaultRowCommitVersion)
    }
    commit(spark, path, readVersion, if (metaChanged) metaThen else metaNow, "RESTORE",
      Seq("version" -> toVersion), ConflictGuard.exclusive(toRemove.map(_.path).toSet))(
      _ => lines.toSeq)
  }

  /** SHALLOW CLONE: create a NEW Delta table at `dest` whose version-0
    * commit references the SOURCE table's current data files by ABSOLUTE
    * path — zero bytes copy, the clone materializes instantly at any
    * corpus size. This is the dataset-branching shape a training-data
    * pipeline uses to experiment: the clone has its own independent log,
    * so appends, DML, constraints, and properties on it never touch the
    * source, and the clone's VACUUM cannot delete source files (it only
    * lists under its own root). Schema, partitioning, configuration, and
    * per-file stats all carry over, so pruning and skipping work on the
    * clone unchanged. The trade is the usual clone contract: the source
    * must not VACUUM away files the clone still references. Sources
    * carrying deletion vectors are refused (their DV blobs resolve
    * relative to the SOURCE root, which the clone's reader does not
    * know).
    */
  def cloneShallow(spark: SparkSession, src: String, dest: String): Long = {
    val snap = DeltaRead.snapshot(spark, src)
    val (meta, live, proto) = (snap.meta, snap.files, snap.protocol)
    require(meta != null, s"$src has no metaData action in its _delta_log")
    val srcRoot = new Path(src)
    val destRoot = new Path(dest)
    val fs = destRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(destRoot, "_delta_log")),
      s"$dest is already a Delta table — clone only creates fresh tables")
    val srcQualified = fs.makeQualified(srcRoot).toUri.getPath
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    // the SOURCE's replayed protocol, features included — a clone that
    // re-derived (reader, writer) from the mapping mode would drop
    // declared features (typeWidening, deletionVectors) from its only
    // protocol record
    lines += DeltaActions.protocol(proto)
    lines += DeltaActions.metaData(UUID.randomUUID().toString, meta.schemaJson,
      meta.partitionCols, meta.configuration, now)
    // live domain metadata carries into the clone's v0: dropping the
    // delta.rowTracking watermark would make the clone's first append
    // mint ids that COLLIDE with the cloned files' ranges
    snap.domains.toSeq.sortBy(_._1).foreach { case (dom, cfg) =>
      lines += DeltaActions.domainMetadata(dom, cfg)
    }
    live.foreach { f =>
      // a source file that is itself absolute (clone-of-a-clone: the
      // source's v0 references ITS source absolutely) carries over
      // verbatim — prefixing again would double-qualify the path
      val abs =
        if (f.path.startsWith("/") || f.path.contains("://")) f.path
        else s"$srcQualified/${f.path}"
      // uuid-relative DV blobs resolve against the table root, which for
      // the clone is WRONG — rewrite them to absolute `p` form pointing
      // into the source (inline `i` and already-absolute `p` carry over)
      val portable = f.dv.map { d =>
        if (d.storageType == "u")
          d.copy(storageType = "p", pathOrInlineDv = fs.makeQualified(
            DeletionVectors.resolvedPath(srcRoot, d)).toUri.getPath)
        else d
      }
      lines += DeltaActions.add(abs, f.partitionValues, f.size, f.modificationTime,
        dataChange = true, f.stats, portable, f.baseRowId, f.defaultRowCommitVersion)
    }
    // a fresh table: a concurrent creator of `dest` wins version 0 and
    // this commit refuses through the conflict check
    commit(spark, dest, -1L, meta, "CLONE", Seq("source" -> src),
      ConflictGuard.exclusive())(_ => lines.toSeq)
  }

  /** ALTER COLUMN TYPE (widening only): commit a metaData action whose
    * schema carries the widened type — existing files stay narrow and
    * promote at scan time (Spark's parquet type promotion; see
    * [[DeltaRead]]'s typeWidening note), future appends write the wide
    * type. Only promotions the scan provably handles are allowed
    * (byte/short/int → wider integral, float → double); anything else —
    * especially NARROWING, which would reinterpret data — is refused.
    * The same commit upgrades the protocol to carry the `typeWidening`
    * reader feature so conforming foreign readers know to promote.
    */
  def widenColumnType(spark: SparkSession, path: String, column: String,
      to: DataType): Long = {
    import org.apache.spark.sql.types._
    val DeltaRead.Snapshot(readVersion, meta, _, proto, _, _) = DeltaRead.snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    require(meta.mappingMode == "none",
      "widenColumnType on a column-mapped table is not supported here")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val idx = schema.fieldNames.indexOf(column)
    require(idx >= 0, s"$column is not a column of the table (${schema.fieldNames.mkString(", ")})")
    val from = schema(idx).dataType
    val rank: Map[DataType, Int] = Map(ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    val ok = (from, to) match {
      case (f, t) if rank.contains(f) && rank.contains(t) => rank(f) < rank(t)
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(ok, s"cannot widen $column from ${from.simpleString} to ${to.simpleString} — " +
      "only byte/short/int → wider integral and float → double promote losslessly at scan time")
    val widened = StructType(schema.fields.updated(idx,
      schema(idx).copy(dataType = to)))
    // MERGE the feature into the replayed protocol — overwriting it would
    // silently drop features a prior commit (or a foreign writer) declared
    val newProto = DeltaRead.Protocol(
      math.max(3, proto.minReader), math.max(7, proto.minWriter),
      (proto.readerFeatures :+ "typeWidening").distinct,
      (proto.writerFeatures :+ "typeWidening").distinct)
    commitSchemaChange(spark, path, readVersion, meta, Some(newProto), widened,
      meta.configuration, "CHANGE COLUMN",
      Seq("column" -> column, "type" -> to.simpleString))
  }

  /** ALTER COLUMN SET DEFAULT: record `default` as the column's
    * `CURRENT_DEFAULT` (the public Delta Column Default Values feature)
    * and upgrade the protocol to declare `allowColumnDefaults` — future
    * appends that omit the column get the default computed in
    * ([[applyDefaults]]); rows already written are untouched (the spec has
    * no EXISTS_DEFAULT, which is also why Delta forbids ADD COLUMN with a
    * default — only existing columns may acquire one). The expression must
    * be CONSTANT (the spec's writer obligation): it is resolved against an
    * empty row and evaluated once here, so a column reference or an
    * unresolvable function refuses loudly at set time, not at some later
    * writer's append. Returns the committed version.
    */
  def setColumnDefault(spark: SparkSession, path: String, column: String,
      default: String): Long = {
    import org.apache.spark.sql.functions.expr
    val DeltaRead.Snapshot(readVersion, meta, _, proto, _, _) = DeltaRead.snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val idx = schema.fieldNames.indexOf(column)
    require(idx >= 0,
      s"$column is not a column of the table (${schema.fieldNames.mkString(", ")})")
    require(!schema(idx).metadata.contains("delta.generationExpression"),
      s"$column is a generated column — its value is always computed from " +
        "the generation expression; a default would never apply")
    // constant-expression gate: resolve against ZERO columns (range(1)
    // would leak an `id` attribute a non-constant expression could bind
    // to), evaluate once, and require the cast to the column's type to
    // survive
    val probe = try {
      spark.range(1).drop("id")
        .select(expr(default).cast(schema(idx).dataType)).collect()
    } catch {
      case e: Exception => throw new IllegalArgumentException(
        s"DEFAULT expression '$default' for $column is not a constant " +
          s"expression evaluable as ${schema(idx).dataType.simpleString}: " +
          e.getMessage, e)
    }
    require(probe.length == 1, s"DEFAULT expression '$default' did not evaluate")
    val newMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(schema(idx).metadata)
      .putString("CURRENT_DEFAULT", default).build()
    val updated = StructType(schema.fields.updated(idx,
      schema(idx).copy(metadata = newMeta)))
    commitSchemaChange(spark, path, readVersion, meta,
      Some(withWriterFeatures(proto, Seq("allowColumnDefaults"))).filter(_ != proto),
      updated, meta.configuration, "ALTER COLUMN",
      Seq("column" -> column, "default" -> default))
  }

  /** ALTER COLUMN DROP DEFAULT: remove the column's `CURRENT_DEFAULT`.
    * Future appends that omit the column refuse on schema mismatch again;
    * rows already served a default keep their values (they were filled
    * physically at write time). The protocol keeps `allowColumnDefaults` —
    * features never retract.
    */
  def dropColumnDefault(spark: SparkSession, path: String,
      column: String): Long = {
    val DeltaRead.Snapshot(readVersion, meta, _, _, _, _) = DeltaRead.snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val idx = schema.fieldNames.indexOf(column)
    require(idx >= 0,
      s"$column is not a column of the table (${schema.fieldNames.mkString(", ")})")
    require(schema(idx).metadata.contains("CURRENT_DEFAULT"),
      s"$column has no DEFAULT to drop")
    val newMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(schema(idx).metadata).remove("CURRENT_DEFAULT").build()
    val updated = StructType(schema.fields.updated(idx,
      schema(idx).copy(metadata = newMeta)))
    commitSchemaChange(spark, path, readVersion, meta, None, updated,
      meta.configuration, "ALTER COLUMN",
      Seq("column" -> column, "dropDefault" -> "true"))
  }

  /** CONVERT TO DELTA — adopt an existing parquet directory IN PLACE:
    * one v0 commit whose `add` actions reference the existing files
    * verbatim (no byte moves, no rewrite — at 100 TB that is the entire
    * point of conversion). Schema comes from Spark's parquet resolution
    * over the directory, so hive-style `k=v` partition directories are
    * discovered, typed, and recorded as `partitionColumns`; per-file
    * stats come from the footers ([[footerStats]]: numRecords + top-level
    * min/max/nullCount), so file skipping works from the first read. The
    * footer pass is DISTRIBUTED (mapPartitions over the file list) — at
    * the million-file scale this op exists for, serial driver footer
    * round-trips would take hours; only the per-file stats strings return
    * to the driver, which must render the add lines regardless.
    * Refuses if a `_delta_log` already exists, if no parquet files are
    * found, or if files disagree on the partition key sequence. The
    * caller owns quiescence: a writer adding raw files DURING conversion
    * loses them (delta-spark's own caveat). Returns the committed
    * version (0).
    */
  def convertToDelta(spark: SparkSession, path: String): Long = {
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"$path does not exist")
    require(!fs.exists(new Path(root, "_delta_log")),
      s"$path is already a Delta table")
    val schema = spark.read.parquet(path).schema
    // exclude dot-dirs (staging leftovers, hidden metadata) — no reader
    // lists them, so the table must not either. Sizes come FROM the
    // listing: a per-file getFileStatus here would be a second serial
    // driver pass over a potentially million-file table.
    val files = listParquetWithSize(fs, root).filterNot { case (p, _) =>
      relativize(root, p).split('/').exists(_.startsWith(".")) }
    require(files.nonEmpty, s"$path holds no parquet files to convert")
    val withParts: Seq[(String, Seq[(String, String)], Long)] = files.map { case (p, size) =>
      val rel = relativize(root, p)
      val pv = rel.split('/').dropRight(1).toSeq.collect {
        case s if s.contains('=') =>
          val Array(k, raw) = s.split("=", 2)
          // hive-layout dir names are percent-ESCAPED (space → %20, etc.);
          // the log records the actual VALUE — storing the escaped string
          // would silently mis-serve every read of that partition column
          val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(raw)
          require(v != "__HIVE_DEFAULT_PARTITION__",
            s"$path: null partition values ($s) are not convertible here — " +
              "rewrite the partition or convert without them")
          k -> v
      }
      (rel, pv, size)
    }
    val keySeqs = withParts.map(_._2.map(_._1)).distinct
    require(keySeqs.size == 1,
      s"files disagree on the partition key sequence: ${keySeqs.mkString(" vs ")}")
    val partitionCols = keySeqs.head
    val now = System.currentTimeMillis()
    // Footer reads run EXECUTOR-side: at the op's own design point — adopting
    // a 100 TB table in place — the file list is O(10^6) and each footer is a
    // blocking round-trip; a driver loop serializes hours of I/O before the
    // single commit (delta-spark distributes exactly this step). Only the
    // (rel → stats-JSON) strings come back — a few hundred bytes per file,
    // the same order as the add lines the driver must render anyway.
    val statsByRel: Map[String, Option[String]] = {
      val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
      val rootStr = root.toString
      val rels = withParts.map(_._1)
      val slices = math.max(1, math.min(rels.size,
        spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(rels, slices).mapPartitions { it =>
        val c = serConf.value
        it.map(rel => rel -> footerStats(c, new Path(rootStr, rel)))
      }.collect().toMap
    }
    val lines =
      DeltaActions.protocol(DeltaRead.Protocol(1, 2)) +:
      DeltaActions.metaData(UUID.randomUUID().toString, schema.json, partitionCols,
        Map.empty, now) +:
      withParts.map { case (rel, pv, size) =>
        DeltaActions.add(encodeFilePath(rel), pv.toMap, size, now, dataChange = true,
          statsByRel(rel), None, None, None)
      }
    commit(spark, path, -1L, DeltaRead.Meta(schema.json, partitionCols), "CONVERT",
      Seq("numFiles" -> files.size.toString), ConflictGuard.exclusive())(_ => lines)
  }

  /** ALTER TABLE ADD COLUMN — schema evolution as ONE metadata-only
    * commit: the field appends NULLABLE (live files lack it; the parquet
    * reader null-fills optional columns, a required one would break every
    * existing file) and, on a mapped table, minted with a fresh column-
    * mapping id + `col-<uuid>` physical name (bumping
    * `delta.columnMapping.maxColumnId`) — the proper evolution verb where
    * mergeSchema appends are refused, and the indirection that guarantees
    * a later re-add of a dropped name can never resurrect old values.
    * Subsequent appends must CARRY the column (the schema gate is exact;
    * unmapped tables may alternatively evolve via mergeSchema). No
    * default rides along — the Delta spec forbids ADD COLUMN with a
    * default precisely because there is no EXISTS_DEFAULT backfill; set
    * one afterwards with [[setColumnDefault]] for future inserts.
    * Struct-bearing types on mapped tables refuse (nested fields would
    * each need minted ids). Returns the committed version.
    */
  def addColumn(spark: SparkSession, path: String, column: String,
      dataType: DataType): Long = {
    val DeltaRead.Snapshot(readVersion, meta, _, proto, _, _) = DeltaRead.snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    require(!schema.fieldNames.contains(column),
      s"ADD COLUMN $column: already exists")
    def hasStruct(dt: DataType): Boolean = dt match {
      case _: StructType => true
      case at: org.apache.spark.sql.types.ArrayType => hasStruct(at.elementType)
      case mt: org.apache.spark.sql.types.MapType =>
        hasStruct(mt.keyType) || hasStruct(mt.valueType)
      case _ => false
    }
    val (field, config) = meta.mappingMode match {
      case "none" =>
        (StructField(column, dataType, nullable = true), meta.configuration)
      case _ =>
        require(!hasStruct(dataType),
          s"ADD COLUMN $column: struct-bearing types on a mapped table " +
            "would need mapping ids minted per nested field — add leaf " +
            "types, or recreate the table")
        val maxId = meta.configuration
          .get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("delta.columnMapping.id", maxId + 1)
          .putString("delta.columnMapping.physicalName", s"col-${UUID.randomUUID()}")
          .build()
        (StructField(column, dataType, nullable = true, md),
          meta.configuration +
            ("delta.columnMapping.maxColumnId" -> (maxId + 1).toString))
    }
    commitSchemaChange(spark, path, readVersion, meta, None,
      StructType(schema.fields :+ field), config, "ADD COLUMN",
      Seq("column" -> column, "type" -> dataType.simpleString))
  }

  /** ALTER TABLE RENAME COLUMN — the verb column mapping exists for: on a
    * mapped table the files store PHYSICAL names (or footer ids), so a
    * logical rename is ONE metadata-only commit — no file is read or
    * rewritten, and every staged add keeps resolving through the
    * unchanged `delta.columnMapping.physicalName`. Time travel serves
    * each version under its own schema. Refused on unmapped tables (their
    * files store logical names — a rename would silently null the column
    * on every read), on partition columns (the partitionColumns list and
    * existing add.partitionValues would diverge), and on columns a CHECK
    * constraint or generation expression references by name (the stored
    * SQL text would dangle). Identity/default metadata rides the renamed
    * field — both are field-local. Returns the committed version.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Long = {
    val DeltaRead.Snapshot(readVersion, meta, _, proto, _, _) = DeltaRead.snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    require(meta.mappingMode != "none",
      s"RENAME COLUMN on $path requires column mapping — unmapped files " +
        "store logical names, so a metadata rename would null the column " +
        "on every read; recreate the table mapped (writeDeltaTableMapped)")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val idx = schema.fieldNames.indexOf(from)
    require(idx >= 0,
      s"$from is not a column of the table (${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.contains(to),
      s"RENAME COLUMN $from -> $to: $to already exists")
    require(!meta.partitionCols.contains(from),
      s"RENAME COLUMN $from: partition columns cannot rename here (the " +
        "partitionColumns list and existing partitionValues would diverge)")
    checkNotReferenced(meta, schema, from, "RENAME COLUMN")
    val updated = StructType(schema.fields.updated(idx,
      schema(idx).copy(name = to)))
    commitSchemaChange(spark, path, readVersion, meta, None, updated,
      meta.configuration, "RENAME COLUMN", Seq("from" -> from, "to" -> to))
  }

  /** ALTER TABLE DROP COLUMN — metadata-only on a mapped table: the field
    * leaves the logical schema, the physical column stays in the files
    * (readers with an explicit schema never materialize it) and is
    * reclaimed lazily as rewrites (OPTIMIZE, COW DML) restage touched
    * files without it. Same refusals as [[renameColumn]] plus: the last
    * column cannot drop. A later ADD of the same logical name would mint
    * a FRESH physical name/id, so old values can never resurrect —
    * that is the whole point of the mapping indirection (mergeSchema is
    * refused on mapped tables today, so no re-add path exists here).
    */
  def dropColumn(spark: SparkSession, path: String, column: String): Long = {
    val DeltaRead.Snapshot(readVersion, meta, _, proto, _, _) = DeltaRead.snapshot(spark, path)
    require(meta != null, s"$path has no metaData action in its _delta_log")
    require(meta.mappingMode != "none",
      s"DROP COLUMN on $path requires column mapping — unmapped tables " +
        "would need every file rewritten; recreate the table mapped")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(column),
      s"$column is not a column of the table (${schema.fieldNames.mkString(", ")})")
    require(schema.fields.length > 1,
      s"DROP COLUMN $column would leave the table with no columns")
    require(!meta.partitionCols.contains(column),
      s"DROP COLUMN $column: partition columns cannot drop (live files are " +
        "laid out by them)")
    checkNotReferenced(meta, schema, column, "DROP COLUMN")
    val updated = StructType(schema.fields.filterNot(_.name == column))
    commitSchemaChange(spark, path, readVersion, meta, None, updated,
      meta.configuration, "DROP COLUMN", Seq("column" -> column))
  }

  /** Refuse a rename/drop whose target is referenced BY NAME in stored
    * SQL text — CHECK constraints (`delta.constraints.*` configuration)
    * or another column's generation expression — where the schema edit
    * would leave the text dangling. Word-boundary match: conservative
    * (a same-named string literal also refuses), never unsafe.
    */
  private def checkNotReferenced(meta: DeltaRead.Meta, schema: StructType,
      column: String, what: String): Unit = {
    val word = java.util.regex.Pattern.compile(
      "\\b" + java.util.regex.Pattern.quote(column) + "\\b")
    meta.configuration.foreach { case (k, v) =>
      if (k.startsWith("delta.constraints."))
        require(!word.matcher(v).find(),
          s"$what $column: CHECK constraint ${k.stripPrefix("delta.constraints.")} " +
            s"references it ($v) — drop the constraint first")
    }
    schema.fields.filter(_.name != column).foreach { f =>
      if (f.metadata.contains("delta.generationExpression")) {
        val g = f.metadata.getString("delta.generationExpression")
        require(!word.matcher(g).find(),
          s"$what $column: generated column ${f.name} = $g references it")
      }
    }
  }

  /** Shared commit shape for metadata-only schema edits: one commit
    * carrying `protocol` when the edit upgrades it (always a MERGE into
    * the replayed record, never an overwrite — dropping a foreign writer's
    * declared features would break its invariants) and the new schema
    * under the table's partitioning and `configuration`.
    */
  private def commitSchemaChange(spark: SparkSession, path: String,
      readVersion: Long, meta: DeltaRead.Meta, protocol: Option[DeltaRead.Protocol],
      updated: StructType, configuration: Map[String, String],
      operation: String, params: Seq[(String, Any)]): Long = {
    val now = System.currentTimeMillis()
    val tail = protocol.map(DeltaActions.protocol).toSeq :+ DeltaActions.metaData(
      carriedId(meta), updated.json, meta.partitionCols, configuration, now)
    commit(spark, path, readVersion,
      meta.copy(schemaJson = updated.json, configuration = configuration), operation,
      params, ConflictGuard.exclusive())(_ => tail)
  }

  /** `proto` upgraded to writer version 7 declaring `extra`. Crossing to
    * writer v7 must enumerate the legacy versions' implied features
    * alongside the new ones (spec: a table-features protocol lists
    * EVERYTHING it requires); a v7 protocol keeps its own list.
    */
  private def withWriterFeatures(proto: DeltaRead.Protocol,
      extra: Seq[String]): DeltaRead.Protocol = {
    val implied = Seq(
      2 -> Seq("appendOnly", "invariants"), 3 -> Seq("checkConstraints"),
      4 -> Seq("changeDataFeed", "generatedColumns"), 5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))
      .filter(_._1 <= proto.minWriter).flatMap(_._2)
    val base = if (proto.minWriter >= 7) proto.writerFeatures else implied
    proto.copy(minWriter = 7, writerFeatures = (base ++ extra).distinct)
  }

  /** Stage change-data files under `_change_data/` (the CDF layout: an
    * underscore directory no table reader lists; only `cdc` actions
    * reference it). Unpartitioned on purpose — change batches are read
    * whole by version, never pruned by partition. Returns (relative path,
    * size) per staged file.
    */
  private[io] def stageCdcFiles(df: DataFrame, root: Path): Seq[(String, Long)] =
    stageAndMove(df, root, ".staging-cdc-", Nil)(
      _ => s"_change_data/cdc-${UUID.randomUUID()}.snappy.parquet")
      .map { case (fresh, st) => (fresh, st.getLen) }

  /** The DATA-file read schema for a raw compaction rewrite: the
    * non-partition fields, under PHYSICAL names on a name-mapped table
    * (the files store those; logical names would silently null out).
    */
  private def compactReadSchema(meta: DeltaRead.Meta): StructType = {
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    // id mode reads AND stages by field id: the raw-byte rewrite carries
    // `parquet.field.id` metadata through the read schema, so Spark both
    // resolves source columns by footer id (the caller flips the read
    // flag) and emits ids into the staged footers
    val phys = DeltaRead.physicalLayout(schema, meta.mappingMode)
    val l2p = schema.fieldNames.zip(phys.fieldNames).toMap
    val physPartCols = meta.partitionCols.map(c => l2p.getOrElse(c, c))
    StructType(phys.fields.filterNot(f => physPartCols.contains(f.name)))
  }

  /** A raw-file reader for a maintenance rewrite: when `schema` carries
    * field ids (id mode), source columns resolve by footer field id via a
    * READ-SCOPED option — never a session flag (which would leak
    * id-resolution into unrelated parquet reads on the same session).
    */
  private def rawReader(spark: SparkSession,
      schema: StructType): org.apache.spark.sql.DataFrameReader = {
    val r = spark.read.schema(schema)
    if (FieldIdParquetFileFormat.hasIds(schema))
      r.option(FieldIdParquetFileFormat.readFlag, "true")
    else r
  }

  /** A staging writer that emits `parquet.field.id` footer metadata when
    * the batch schema carries it (id-mapped staging, [[stagePhysical]]) —
    * via [[FieldIdParquetFileFormat]]'s job-conf override, so the
    * session's write flag is never touched. Plain parquet otherwise.
    */
  private[io] def stagedWriter(
      df: DataFrame): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.mode("overwrite").format(
      if (FieldIdParquetFileFormat.hasIds(df.schema)) FieldIdParquetFileFormat.name
      else "parquet")

  /** OPTIMIZE ZORDER BY (colX, colY): rewrite every partition's live data
    * files clustered on the interleaved quantile ranks of the two columns
    * — afterwards each output file covers a tight rectangle of
    * (colX, colY) space, so the footer min/max stats the commit records
    * become genuinely selective and [[DeltaFileIndex]] skips whole files
    * for point/range predicates on EITHER column. Ranks are equi-depth
    * ([[ZOrder.rankBounds]] — one mergeable-sketch quantile pass over the
    * live data, skew-proof per the ZOrder.rank16 lesson). Committed like
    * OPTIMIZE: remove+add with `dataChange=false`, invisible to
    * incremental/tail readers, time travel intact. Unlike bin-packing,
    * ALL of a partition's DV-free files rewrite (reclustering is the
    * point); `colX`/`colY` are logical names (mapped tables resolve them
    * to the physical layout internally). Returns the committed version,
    * or -1 when nothing qualifies.
    */
  def compactZOrder(spark: SparkSession, path: String, colX: String,
      colY: String, targetBytes: Long = 128L * 1024 * 1024,
      bins: Int = 256): Long =
    compactZOrderN(spark, path, Seq(colX, colY), targetBytes, bins)

  /** [[compactZOrder]] on k columns (2–4 is the practical range: each
    * added dimension costs every existing one selectivity — extents grow
    * toward nFiles^(-1/k) per dim — but a third predicate column that
    * previously pruned NOTHING now skips like the first two). Same
    * commit shape, one shared quantile pass, bits-per-dimension sized to
    * `bins` so the interleave always fits a Long.
    */
  def compactZOrderN(spark: SparkSession, path: String, zCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      bins: Int = 256): Long = {
    import org.apache.spark.sql.functions.col
    require(targetBytes > 0, s"need targetBytes > 0, got $targetBytes")
    require(zCols.size >= 2, s"z-order needs at least 2 columns, got ${zCols.size}")
    require(zCols.distinct.size == zCols.size, s"duplicate z-order column in $zCols")
    val snap = DeltaRead.snapshot(spark, path)
    val meta = snap.meta
    require(meta != null, s"$path has no metaData action")
    checkWritable(meta, snap.protocol, s"compactZOrder of $path", removesData = false,
      identityOk = true)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    zCols.foreach { c =>
      require(!meta.partitionCols.contains(c),
        "z-order columns must be data columns (partition values carry no footer stats)")
      require(schema.fieldNames.contains(c),
        s"$c is not a column of the table (${schema.fieldNames.mkString(", ")})")
    }
    val dataSchema = compactReadSchema(meta)
    val phys = if (meta.mappingMode != "none")
      DeltaRead.physicalSchema(schema) else schema
    val l2p = schema.fieldNames.zip(phys.fieldNames).toMap
    val pCols = zCols.map(l2p)

    // unlike bin-packing, ALL of a partition's files rewrite (reclustering
    // is the point)
    val groups = snap.files.groupBy(_.partitionValues)
      .filter { case (_, files) =>
        files.size >= 2 || files.map(_.size).sum > targetBytes ||
          files.exists(_.dv.isDefined) }
    if (groups.isEmpty) return -1L

    // ONE global quantile pass over everything being reclustered — per-
    // partition bounds would make the same value land in different bins
    // across partitions for no skipping benefit
    val allPaths = groups.values.flatten
      .map(f => DeltaRead.resolveFilePath(path, f.path)).toSeq
    val qNames = pCols.indices.map(i => s"q$i")
    val allBounds = ZOrder.rankBoundsN(
      rawReader(spark, dataSchema).parquet(allPaths: _*)
        .select(pCols.zip(qNames).map { case (pc, n) =>
          col(s"`$pc`").as(n) }: _*),
      qNames, bins)
    val binNames = pCols.indices.map(i => s"__b$i")
    rewriteGroups(spark, path, snap, groups, targetBytes,
      Seq("zOrderBy" -> zCols.mkString(","), "targetBytes" -> targetBytes)) { (rows, nOut) =>
      val binned = pCols.zip(allBounds).zip(binNames).foldLeft(rows) {
        case (cur, ((pc, b), name)) =>
          cur.withColumn(name, ZOrder.binScaled(col(s"`$pc`"), b, bins))
      }
      binned
        .withColumn("__z", ZOrder.interleaveBitsN(binNames.map(col),
          ZOrder.bitsFor(bins)))
        .repartitionByRange(nOut, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop(binNames :+ "__z": _*)
    }
  }

  /** The OPTIMIZE rewrite shared by bin-packing ([[compact]]) and
    * z-ordering ([[compactZOrderN]]), which differ only in `arrange` — how
    * a partition group's rows lay out over its `nOut` ≈ bytes/targetBytes
    * output files. Per group: plain files read raw under the physical
    * layout; files carrying a deletion vector read through the log-backed
    * DV-filtering scan (logical columns, renamed back to the physical
    * layout), so the rewrite materializes their deletes away and the new
    * file drops the descriptor; on a row-tracked table every carried row's
    * stable id and original commit version MATERIALIZE into the
    * configured physical columns — a rewrite never moves a row's
    * identity. The swap commits as remove+add with `dataChange=false`
    * under the disjoint-rewrite guard.
    */
  private def rewriteGroups(spark: SparkSession, path: String,
      snap: DeltaRead.Snapshot, groups: Map[Map[String, String], Seq[DeltaRead.LiveFile]],
      targetBytes: Long, params: Seq[(String, Any)])(
      arrange: (DataFrame, Int) => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val meta = snap.meta
    val rt = rowTrackingOf(meta)
    val matFields = rowTrackingFields(rt)
    val tracked = rt.isDefined || snap.protocol.writerFeatures.contains("rowTracking")
    // the rewrite is a raw byte shuffle: on a name-mapped table the files
    // store PHYSICAL column names, so the read schema must be physical too
    // (a logical-name read would silently null every column)
    val dataSchema = compactReadSchema(meta)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val logicalData = StructType(
      schema.fields.filterNot(f => meta.partitionCols.contains(f.name)))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val now = System.currentTimeMillis()

    val staged = groups.toSeq.flatMap { case (pv, files) =>
      // dir layout from the pv's OWN keys (physical on mapped tables);
      // cosmetic either way — add.partitionValues is what readers use
      val dirSegs = pv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      val nOut = math.max(1,
        math.ceil(files.map(_.size).sum.toDouble / targetBytes).toInt)
      val (dvFiles, plainFiles) = files.partition(_.dv.isDefined)
      val plainDf =
        if (plainFiles.isEmpty) None
        else {
          val raw = rawReader(spark, StructType(dataSchema.fields ++ matFields))
            .parquet(plainFiles.map(f => DeltaRead.resolveFilePath(path, f.path)): _*)
          Some(rt.fold(raw)(r => materializeRowIds(spark, path, r, plainFiles,
            raw.withColumn("__file", col("_metadata.file_path"))
              .withColumn("__row_idx", col("_metadata.row_index")))))
        }
      val dvDf =
        if (dvFiles.isEmpty) None
        else {
          val scanned = DeltaRead.filesDf(spark, path, meta, dvFiles,
            provenance = false, rowIndex = rt.isDefined, extraPhysCols = matFields)
          val shaped = scanned.select(
            DeltaRead.physicalSelect(logicalData, dataSchema) ++
              matFields.map(f => col(s"`${f.name}`")) ++
              (if (rt.isDefined) Seq(col("__file"), col("__row_idx")) else Nil): _*)
          Some(rt.fold(shaped)(r =>
            materializeRowIds(spark, path, r, dvFiles, shaped)))
        }
      val arranged = arrange((plainDf.toSeq ++ dvDf).reduce(_ unionByName _), nOut)
      stageAndMove(arranged, root, ".opt-staging-", Nil)(
        _ => (dirSegs :+ s"part-${UUID.randomUUID()}.snappy.parquet").mkString("/"))
        .map { case (fresh, st) =>
          StagedFile(encodeFilePath(fresh), pv, st.getLen, footerStats(conf, st.getPath)) }
    }
    val rewritten = groups.values.flatten.toSeq
    val removes = rewritten.map(f => DeltaActions.remove(f.path, now, dataChange = false, None))
    val addLines = renderAdds(spark, path, tracked,
      DeltaRead.rowIdHighWaterMark(snap.domains), snap.version + 1,
      staged, now, dataChange = false) _
    commit(spark, path, snap.version, meta, "OPTIMIZE", params,
      ConflictGuard.disjointRewrite(rewritten.map(_.path).toSet))(
      attempt => addLines(attempt) ++ removes)
  }

  /** Rename a logical-name batch to the table's physical layout for
    * staging, `extra` columns riding along after the table's; unmapped
    * tables stage the batch as it is. Mode `name` stages under the
    * physical names; mode `id` ADDITIONALLY carries `parquet.field.id`
    * metadata on every field (via [[DeltaRead.physicalSchemaWithIds]]),
    * which [[stagedWriter]] turns into footer field ids — the mode's
    * resolution authority: a conforming id-mode reader never looks at the
    * column names at all.
    */
  private[io] def stagePhysical(df: DataFrame, meta: DeltaRead.Meta,
      extra: org.apache.spark.sql.Column*): DataFrame =
    if (meta.mappingMode == "none") df
    else {
      val ms = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
      df.select(DeltaRead.physicalSelect(ms,
        DeltaRead.physicalLayout(ms, meta.mappingMode)) ++ extra: _*)
    }

  /** Stage a logical-name batch as data files of the table `meta`
    * describes — the one staging path of writes and DML: the batch and
    * its partition columns rename to the physical layout
    * ([[stagePhysical]]), then [[stageDataFiles]] writes and publishes.
    */
  private[io] def stageBatch(df: DataFrame, root: Path,
      meta: DeltaRead.Meta): Seq[StagedFile] = {
    val ms = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val l2p = ms.fieldNames.zip(DeltaRead.physicalSchema(ms).fieldNames).toMap
    stageDataFiles(stagePhysical(df, meta), root,
      meta.partitionCols.map(c => l2p.getOrElse(c, c)))
  }

  /** Mint column-mapping metadata for a fresh name-mapped table: every
    * StructField at every nesting depth (including through arrays and
    * maps) gains a sequential `delta.columnMapping.id` and a
    * `col-<uuid>` `delta.columnMapping.physicalName` — assigned exactly
    * once for the table's lifetime, which is what makes later logical
    * renames metadata-only. Returns the metadata-bearing logical schema
    * and the max assigned id (for `delta.columnMapping.maxColumnId`).
    */
  private def mintMappingMetadata(schema: StructType): (StructType, Int) = {
    import org.apache.spark.sql.types.{ArrayType, MapType, MetadataBuilder, StructField}
    var id = 0
    def renameType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(field))
      case at: ArrayType => at.copy(elementType = renameType(at.elementType))
      case mt: MapType =>
        mt.copy(keyType = renameType(mt.keyType), valueType = renameType(mt.valueType))
      case other => other
    }
    def field(f: StructField): StructField = {
      id += 1
      val md = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", id.toLong)
        .putString("delta.columnMapping.physicalName", s"col-${UUID.randomUUID()}")
        .build()
      f.copy(dataType = renameType(f.dataType), metadata = md)
    }
    (StructType(schema.fields.map(field)), id)
  }

  /** Atomic commit publish: tmp file + atomic put-if-absent to `NNN.json`.
    * An existing destination means a concurrent writer committed this
    * version first — the guard fails THIS commit instead of clobbering,
    * and [[commitWithRetry]] turns that failure into the protocol's
    * conflict-checked retry. On a local filesystem the put-if-absent is a
    * hard link (O_EXCL semantics): exists-then-rename would be a TOCTOU
    * race, because POSIX rename silently REPLACES an existing destination.
    */
  private[io] def publishCommit(fs: org.apache.hadoop.fs.FileSystem,
      logDir: Path, version: Long, lines: Seq[String]): Unit = {
    fs.mkdirs(logDir)
    val dest = new Path(logDir, f"$version%020d.json")
    val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}.json")
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    val scheme = fs.getUri.getScheme
    val committed =
      if (scheme == null || scheme == "file") {
        val t = java.nio.file.Paths.get(tmp.toUri.getPath)
        val d = java.nio.file.Paths.get(dest.toUri.getPath)
        try { java.nio.file.Files.createLink(d, t); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !fs.exists(dest) && fs.rename(tmp, dest)
    if (scheme == null || scheme == "file") fs.delete(tmp, false)
    if (!committed) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"commit $version already exists in $logDir — concurrent writer won")
    }
  }

  /** OPTIMISTIC CONCURRENCY (the delta.io OCC contract, WriteSerializable
    * isolation — Delta's default): publish at `firstAttempt`; on losing the
    * version race, read every commit a concurrent writer landed since,
    * conflict-check each against this commit's [[ConflictGuard]], and
    * either RETRY at the new head (the work is provably disjoint) or
    * refuse with the conflict spelled out. `mkLines` is called per attempt
    * so content that depends on the final version (CDC files embed
    * `_commit_version`) can re-derive. Returns the version that actually
    * committed.
    *
    * Conflict semantics per winning commit, in the order Delta's own
    * checker applies them:
    *   - a `protocol` or `metaData` action refuses ALWAYS (this commit
    *     validated its batch against the snapshot's schema, constraints,
    *     and properties — all possibly stale now);
    *   - a `txn` action advancing OUR appId refuses (the idempotence token
    *     may already be spent — replaying it could double-apply);
    *   - a `remove` of a file this commit also removes refuses (concurrent
    *     delete/rewrite of the same file — one of the rewrites would be
    *     silently lost);
    *   - any other data change refuses only for snapshot-`exclusive`
    *     commits (overwrite/restore: their content IS the snapshot).
    *     Blind appends and disjoint rewrites proceed — that is the
    *     WriteSerializable relaxation: a concurrent append commits even
    *     when its rows would have matched an in-flight DELETE's predicate
    *     (serial order: delete first, then append).
    */
  private[io] def commitWithRetry(spark: SparkSession, path: String,
      readVersion: Long, guard: ConflictGuard,
      mkLines: Long => Seq[String], maxRetries: Int = 20): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, "_delta_log")
    // EVERY commit past the snapshot this commit's content derives from is
    // a winner to conflict-check — including ones that landed between the
    // snapshot replay and the first publish attempt (their version never
    // collides with ours, so the rename race alone would miss them).
    var checked = readVersion
    var tries = 0
    while (tries <= maxRetries) {
      val head = DeltaRead.latestVersion(spark, path)
      ((checked + 1) to head).foreach(v => checkWinner(fs, logDir, v, guard))
      checked = math.max(checked, head)
      try {
        val attempt = head + 1
        publishCommit(fs, logDir, attempt, mkLines(attempt))
        return attempt
      } catch {
        case race: java.util.ConcurrentModificationException =>
          tries += 1
          if (tries > maxRetries) throw race
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Conflict-check one winning commit against our [[ConflictGuard]] —
    * throws ConcurrentModificationException on true conflict, returns
    * silently when this commit may retry on top of it.
    */
  private def checkWinner(fs: org.apache.hadoop.fs.FileSystem, logDir: Path,
      version: Long, guard: ConflictGuard): Unit = {
    def refuse(why: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"commit conflict with concurrent version $version in $logDir: $why")
    if (!fs.exists(DeltaRead.commitPath(logDir, version)))
      refuse("the winning commit JSON is no longer readable")
    DeltaRead.readCommit(fs, logDir, version).foreach { node =>
      if (node.has("protocol"))
        refuse("a concurrent writer upgraded the table protocol")
      if (node.has("metaData"))
        refuse("a concurrent writer changed the table metadata " +
          "(schema, partitioning, or properties)")
      Option(node.get("txn")).foreach { t =>
        if (guard.appId.exists(a => Option(t.get("appId")).exists(_.asText() == a)))
          refuse(s"a concurrent writer advanced txn appId ${guard.appId.get} — " +
            "this commit's idempotence token may already be spent")
      }
      Option(node.get("remove")).foreach { r =>
        val rp = r.get("path").asText()
        if (guard.ourRemoves.contains(rp))
          refuse(s"a concurrent writer already removed $rp, which this commit " +
            "also rewrites — one rewrite would be silently lost")
        if (!guard.allowConcurrentDataChange && DeltaActions.dataChange(r))
          refuse("a concurrent writer removed data under this commit's snapshot")
      }
      Option(node.get("add")).foreach { a =>
        if (!guard.allowConcurrentDataChange && DeltaActions.dataChange(a))
          refuse("a concurrent writer added data that this snapshot-exclusive " +
            "commit (overwrite/restore) would silently drop")
      }
    }
  }

  /** Snapshot the current table state into `NNN.checkpoint.parquet` +
    * `_last_checkpoint`, bounding future replay to commits after `NNN`.
    * The checkpoint carries metaData, protocol (the REPLAYED protocol,
    * features included — the checkpoint may become the only protocol
    * record once the JSON tail is cleaned, so deriving one from the
    * mapping mode would silently downgrade a typeWidening/DV table),
    * and every live add with its partitionValues/size/stats/deletion
    * vector — exactly what [[DeltaRead]]'s fast path consumes.
    */
  def checkpoint(spark: SparkSession, path: String): Long =
    checkpoint(spark, path, parts = 1)

  /** Multi-part variant: the snapshot writes as `parts` parallel slices
    * (`NNN.checkpoint.MMM.PPP.parquet`, the protocol's multi-part naming,
    * `_last_checkpoint` carrying `parts`). A single coalesced file is the
    * right shape up to ~100k live files; past that the one-task write
    * becomes the bottleneck and slices let every core participate —
    * readers load all slices in one scan either way.
    */
  def checkpoint(spark: SparkSession, path: String, parts: Int): Long = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val snap = checkpointState(spark, path)
    val version = snap.version
    val logDir = new Path(new Path(path), "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = actionRows(addRows(spark, snap.files), stateRows(spark, snap),
      domainRows(spark, snap))
    // empty partitions write no file — the slice count is what landed
    val n = publishSlices(fs, new Path(path), rows, parts) { (i, n) =>
      if (parts == 1) new Path(logDir, f"$version%020d.checkpoint.parquet")
      else new Path(logDir, f"$version%020d.checkpoint.$i%010d.$n%010d.parquet")
    }.size
    publishLastCheckpoint(fs, logDir, version, snap.files.size + 2 + snap.txns.size,
      if (parts == 1) None else Some(n))
    version
  }

  /** V2 SPEC checkpoint: the snapshot's FILE ACTIONS move into sidecar
    * parquet under `_delta_log/_sidecars/<uuid>.parquet` (written as
    * `sidecarParts` parallel slices) and a uuid-named TOP file
    * (`NNN.checkpoint.<uuid>.parquet`) keeps protocol, metaData, txn
    * high-water marks, the `checkpointMetadata` action, and one `sidecar`
    * reference per slice. This is the million-file regime's shape — the
    * ecosystem's successor to multi-part naming: sidecars parallelize
    * BOTH the write and later reads, and an engine can reuse unchanged
    * sidecars across checkpoints. Classic ([[checkpoint]]) stays the
    * default for interop with readers that predate the `v2Checkpoint`
    * feature; [[DeltaRead]]'s fast path consumes either. Returns the
    * checkpointed version.
    */
  def checkpointV2(spark: SparkSession, path: String, sidecarParts: Int = 1): Long = {
    require(sidecarParts >= 1, s"sidecarParts must be >= 1, got $sidecarParts")
    val snap = checkpointState(spark, path)
    val version = snap.version
    val root = new Path(path)
    val logDir = new Path(root, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1) sidecars: every live add (same row shape the classic checkpoint
    // embeds), sliced for parallel write, one uuid-named file per slice
    val sidecarDir = new Path(logDir, "_sidecars")
    fs.mkdirs(sidecarDir)
    val sidecars = publishSlices(fs, root, addRows(spark, snap.files), sidecarParts) {
      (_, _) => new Path(sidecarDir, s"${UUID.randomUUID()}.parquet")
    }.map { dest =>
      val st = fs.getFileStatus(dest)
      (dest.getName, st.getLen, st.getModificationTime)
    }

    // 2) the top file: the metaData+protocol row, one row per txn
    // high-water mark, one row per sidecar reference, the
    // checkpointMetadata action and the live domains
    val scRows = sidecars.toDF("__p", "__s", "__m").select(
      struct(col("__p").as("path"), col("__s").as("sizeInBytes"),
        col("__m").as("modificationTime")).as("sidecar"))
    val cpmRow = Seq(version).toDF("__v")
      .select(struct(col("__v").as("version")).as("checkpointMetadata"))
    publishSlices(fs, root, actionRows(stateRows(spark, snap), scRows, cpmRow,
      domainRows(spark, snap)), 1) { (_, _) =>
      new Path(logDir, f"$version%020d.checkpoint.${UUID.randomUUID()}.parquet")
    }

    // 3) the pointer: no `parts` — readers discover the uuid name by
    // prefix listing (the v2 discovery rule)
    publishLastCheckpoint(fs, logDir, version, 1 + snap.txns.size + sidecars.size, None)
    version
  }

  /** What every checkpoint snapshots: the head snapshot, txn high-water
    * marks included — they must survive the checkpoint: once a later
    * cleanup drops pre-checkpoint JSON commits, its txn rows are the only
    * record the idempotent streaming sink can consult (spec: checkpoints
    * carry txn actions).
    */
  private def checkpointState(spark: SparkSession, path: String): DeltaRead.Snapshot = {
    val snap = DeltaRead.snapshot(spark, path)
    require(snap.version >= 0, s"$path has no commits to checkpoint")
    require(snap.meta != null, s"$path has no metaData action")
    snap
  }

  /** Checkpoint row sets as one frame; a row is null in every action
    * column it does not carry.
    */
  private def actionRows(rows: DataFrame*): DataFrame =
    rows.reduce(_.unionByName(_, allowMissingColumns = true))

  /** One `add` row per live file — classic checkpoints embed these, v2
    * checkpoints move them into sidecars.
    */
  private def addRows(spark: SparkSession, live: Seq[DeltaRead.LiveFile]): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct}
    import spark.implicits._
    live.map(f => CheckpointAdd(f.path, f.partitionValues,
      f.size, f.modificationTime, dataChange = false, f.stats.orNull,
      f.dv.map(d => CheckpointDv(d.storageType, d.pathOrInlineDv, d.offset,
        d.sizeInBytes, d.cardinality)),
      f.baseRowId, f.defaultRowCommitVersion)).toDF()
      .select(struct(col("path"), col("partitionValues"), col("size"),
        col("modificationTime"), col("dataChange"), col("stats"),
        col("deletionVector"), col("baseRowId"),
        col("defaultRowCommitVersion")).as("add"))
  }

  /** The metaData+protocol row — the REPLAYED protocol, features included
    * (the checkpoint may become the only protocol record once the JSON tail
    * is cleaned, so deriving one from the mapping mode would silently
    * downgrade a typeWidening/DV table) — and one `txn` row per
    * high-water mark.
    */
  private def stateRows(spark: SparkSession, snap: DeltaRead.Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (meta, proto) = (snap.meta, snap.protocol)
    def featArr(fs0: Seq[String]) =
      if (fs0.isEmpty) lit(null).cast("array<string>") else typedlit(fs0)
    val metaRow = Seq(1).toDF("__one").select(
      struct(lit(carriedId(meta)).as("id"),
        lit(meta.schemaJson).as("schemaString"),
        typedlit(meta.partitionCols).as("partitionColumns"),
        typedlit(meta.configuration).as("configuration")).as("metaData"),
      struct(lit(proto.minReader).as("minReaderVersion"),
        lit(proto.minWriter).as("minWriterVersion"),
        featArr(proto.readerFeatures).as("readerFeatures"),
        featArr(proto.writerFeatures).as("writerFeatures")).as("protocol"))
    val txnRows = snap.txns.toSeq.map { case (a, (v, lu)) => (a, v, lu) }
      .toDF("__a", "__v", "__lu")
      .select(struct(col("__a").as("appId"), col("__v").as("version"),
        col("__lu").as("lastUpdated")).as("txn"))
    actionRows(metaRow, txnRows)
  }

  /** Live domain metadata (row tracking's high watermark and any domain
    * another writer recorded) must survive the checkpoint: once cleanup
    * drops the JSON tail, these rows are its only record.
    */
  private def domainRows(spark: SparkSession, snap: DeltaRead.Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    import spark.implicits._
    snap.domains.toSeq.toDF("__d", "__c").select(
      struct(col("__d").as("domain"), col("__c").as("configuration"),
        lit(false).as("removed")).as("domainMetadata"))
  }

  /** Write `rows` as up to `parts` parquet slices into a staging dir under
    * the table root and rename slice `i` of the `n` that landed to
    * `dest(i, n)` (1-based). Returns the published paths.
    */
  private def publishSlices(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      rows: DataFrame, parts: Int)(dest: (Int, Int) => Path): Seq[Path] = {
    val staging = new Path(root, s".cp-staging-${UUID.randomUUID()}")
    (if (parts == 1) rows.coalesce(1) else rows.repartition(parts))
      .write.mode("overwrite").parquet(staging.toString)
    val staged = listParquet(fs, staging)
    val out = staged.zipWithIndex.map { case (p, i) =>
      val d = dest(i + 1, staged.size)
      fs.delete(d, false)
      require(fs.rename(p, d), s"failed to publish checkpoint file $d")
      d
    }
    fs.delete(staging, true)
    out
  }

  /** Point `_last_checkpoint` at `version` (temp + rename). */
  private def publishLastCheckpoint(fs: org.apache.hadoop.fs.FileSystem, logDir: Path,
      version: Long, size: Long, parts: Option[Int]): Unit = {
    val lc = new Path(logDir, "_last_checkpoint")
    val tmp = new Path(logDir, s".tmp-lc-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write((s"""{"version":$version,"size":$size""" +
      parts.map(n => s""","parts":$n""").getOrElse("") + "}").getBytes("UTF-8"))
    finally out.close()
    fs.delete(lc, false)
    require(fs.rename(tmp, lc), s"failed to update $lc")
  }

  /** The high-water `txn` version committed for `appId`, -1 when none —
    * the read half of the exactly-once streaming handshake: a sink whose
    * epoch id is <= this has already committed and must skip the replay.
    */
  def lastTxnVersion(spark: SparkSession, path: String, appId: String): Long = {
    val log = new Path(path, "_delta_log")
    if (!log.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(log)) -1L
    else DeltaRead.snapshot(spark, path).txns.get(appId).map(_._1).getOrElse(-1L)
  }

  /** OPTIMIZE: bin-pack each partition's small live files (< `targetBytes`)
    * into ~`targetBytes` outputs and commit the swap as remove+add with
    * `dataChange=false` — readers see identical rows before and after, and
    * streams tailing the log know no data changed. Only partitions holding
    * at least `minFiles` small files rewrite; returns the committed
    * version, or -1 when nothing qualified.
    *
    * Scale: each partition's rewrite is one distributed coalesce job over
    * just its small files (never the whole table); the log work is
    * O(files touched). Time travel to pre-OPTIMIZE versions still works —
    * the old files stay on disk until [[vacuum]] passes their retention.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024, minFiles: Int = 2): Long = {
    require(targetBytes > 0 && minFiles >= 2,
      s"need targetBytes > 0 and minFiles >= 2, got $targetBytes/$minFiles")
    val snap = DeltaRead.snapshot(spark, path)
    require(snap.meta != null, s"$path has no metaData action")
    // dataChange=false: allowed even on delta.appendOnly tables (the spec's
    // carve-out for maintenance rewrites)
    checkWritable(snap.meta, snap.protocol, s"compact of $path", removesData = false,
      identityOk = true)
    // Files carrying a deletion vector ALWAYS rewrite (any size): the
    // rewrite materializes the deletes away — the seam that lets
    // checkpoint/clone/streaming compose with externally-written DVs.
    // DV-free files bin-pack by the size rule.
    val groups = snap.files.groupBy(_.partitionValues)
      .map { case (pv, files) =>
        val smalls = files.filter(f => f.size < targetBytes && f.dv.isEmpty)
        val dvs = files.filter(_.dv.isDefined)
        (pv, if (smalls.size >= minFiles || dvs.nonEmpty) smalls ++ dvs else Nil)
      }
      .filter(_._2.nonEmpty)
    if (groups.isEmpty) return -1L
    rewriteGroups(spark, path, snap, groups, targetBytes,
      Seq("targetBytes" -> targetBytes))(_ coalesce _)
  }

  /** Metadata cleanup (Delta's log retention): delete commit JSONs — and
    * superseded checkpoint files — whose version is covered by the LAST
    * checkpoint and whose modification time is older than `retentionMs`.
    * Replay correctness is untouched: the checkpoint is a complete
    * snapshot at its version and [[DeltaRead.snapshot]] anchors on it,
    * so only commits the fast path already skips are removed. The trades
    * are Delta's own: time travel to a cleaned version fails loudly
    * (never returns wrong data) and [[DeltaRead.versionAtTimestamp]]
    * cannot resolve instants before the earliest surviving commit. txn
    * high-water marks survive — the checkpoint carries them. Returns the
    * deleted file names.
    */
  def cleanupMetadata(spark: SparkSession, path: String,
      retentionMs: Long = 30L * 24 * 3600 * 1000): Seq[String] = {
    require(retentionMs >= 0, s"retentionMs must be >= 0, got $retentionMs")
    val conf = spark.sparkContext.hadoopConfiguration
    val logDir = new Path(new Path(path), "_delta_log")
    val fs = logDir.getFileSystem(conf)
    require(fs.exists(logDir), s"$path is not a Delta table (no _delta_log)")
    val lastCp = DeltaRead.readLastCheckpoint(fs, logDir)
      .getOrElse(return Nil) // nothing to anchor replay on — delete nothing
    val cutoff = System.currentTimeMillis() - retentionMs
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    fs.listStatus(logDir).foreach { st =>
      val n = st.getPath.getName
      // a superseded checkpoint is strictly older than the one
      // _last_checkpoint names (any of the three naming forms); a
      // compacted range ([[compactLog]]) is expendable once the
      // checkpoint covers its END — replay never consults it again
      val expendable =
        DeltaRead.commitVersion(n).exists(_ <= lastCp.version) ||
          DeltaRead.checkpointVersion(n).exists(_ < lastCp.version) ||
          DeltaRead.compactedRange(n).exists(_._2 <= lastCp.version)
      if (expendable && st.getModificationTime < cutoff) {
        if (fs.delete(st.getPath, false)) deleted += n
      }
    }
    // v2 sidecars: prune aged files the LAST checkpoint's top file does
    // not reference (slices of superseded checkpoints; the spec lets a
    // writer reuse unchanged sidecars, so reachability — not age alone —
    // is the keep criterion)
    val scDir = new Path(logDir, "_sidecars")
    if (fs.exists(scDir)) {
      val referenced = DeltaRead.checkpointRows(spark,
          DeltaRead.checkpointFiles(fs, logDir, lastCp))
        .flatMap(r => Option(r.getAs[Row]("sidecar")))
        .flatMap(sc => Option(sc.getAs[String]("path"))).map(new Path(_).getName).toSet
      fs.listStatus(scDir).foreach { st =>
        val n = st.getPath.getName
        if (!referenced.contains(n) && st.getModificationTime < cutoff) {
          if (fs.delete(st.getPath, false)) deleted += s"_sidecars/$n"
        }
      }
    }
    deleted.toSeq
  }

  /** VACUUM: physically delete data files that are no longer referenced by
    * the CURRENT snapshot and whose modification time is older than
    * `retentionMs` — tombstoned by overwrite/OPTIMIZE, or orphaned by a
    * crashed write. Time travel to versions needing a deleted file stops
    * working (the Delta trade); the default 7-day retention keeps recent
    * versions replayable. Returns the table-relative paths it deleted.
    * Never touches `_delta_log` or in-flight dot-prefixed staging dirs.
    */
  def vacuum(spark: SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    require(retentionMs >= 0, s"retentionMs must be >= 0, got $retentionMs")
    val live = DeltaRead.snapshot(spark, path).files
    val liveSet = live.map(_.path).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val cutoff = System.currentTimeMillis() - retentionMs
    // deletion-vector blobs referenced by the CURRENT snapshot must
    // survive; orphaned ones (their file was rewritten/compacted) age out
    // exactly like data tombstones
    val liveDv: Set[String] = live.flatMap(_.dv)
      .filter(d => d.storageType == "u" || d.storageType == "p")
      .map(d => fs.makeQualified(DeletionVectors.resolvedPath(root, d)).toUri.getPath)
      .toSet
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    // plain listStatus walk — fs.listFiles(root, recursive) resolves block
    // locations per file (the r14 CONVERT lesson); names + mtimes suffice
    val all = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
    def walk(d: Path): Unit = fs.listStatus(d).foreach { s =>
      if (s.isDirectory) walk(s.getPath) else all += s
    }
    walk(root)
    val it = all.iterator
    while (it.hasNext) {
      val st = it.next()
      val rel = relativize(root, st.getPath)
      val segs = rel.split('/')
      val skip = segs.head == "_delta_log" || segs.exists(_.startsWith("."))
      val aged = st.getModificationTime < cutoff
      if (!skip && aged && rel.endsWith(".parquet") && !liveSet.contains(rel)) {
        if (fs.delete(st.getPath, false)) deleted += rel
      } else if (!skip && aged && st.getPath.getName.startsWith("deletion_vector_") &&
          rel.endsWith(".bin") &&
          !liveDv.contains(fs.makeQualified(st.getPath).toUri.getPath)) {
        if (fs.delete(st.getPath, false)) deleted += rel
      }
    }
    deleted.toSeq
  }

  /** Distributed write of `df` into a dot-prefixed staging dir inside the
    * table, then per-file rename to a fresh unique name under the table
    * root (hive layout when `partitionBy` is set). Returns one
    * [[StagedFile]] per published file. Shared by WRITE and MERGE/DELETE
    * commits — readers never see a file before the commit that adds it.
    */
  private[io] def stageDataFiles(df: DataFrame, root: Path,
      partitionBy: Seq[String]): Seq[StagedFile] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val moved = stageAndMove(df, root, ".staging-", partitionBy) { rel =>
      (rel.split('/').dropRight(1) :+ s"part-${UUID.randomUUID()}.snappy.parquet").mkString("/")
    }
    val stats = perFile(moved)(m => footerStats(conf, m._2.getPath))
    moved.zip(stats).map { case ((fresh, st), stat) =>
      // partition dir names are percent-ESCAPED by Spark's writer; the
      // log's partitionValues record the TRUE value (storing the escaped
      // string would mis-serve every read of the column), and the log's
      // path is [[encodeFilePath]]'d so the reader's percent-decode lands
      // back on the on-disk name
      val pv = fresh.split('/').dropRight(1).collect { case s if s.contains('=') =>
        val Array(k, v) = s.split("=", 2)
        k -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(v)
      }.toMap
      StagedFile(encodeFilePath(fresh), pv, st.getLen, stat)
    }
  }

  /** Write `df` (hive-partitioned by `partitionBy`) into a fresh staging
    * dir `<prefix><uuid>` under `root` — dot-prefixed, so no reader lists
    * it — then move each part file to `root/<name(rel)>`, `rel` being its
    * path inside the staging dir, and drop the staging dir. Returns each
    * moved file's table-relative name and status.
    */
  private def stageAndMove(df: DataFrame, root: Path, prefix: String,
      partitionBy: Seq[String])(name: String => String)
      : Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new Path(root, s"$prefix${UUID.randomUUID()}")
    val writer = stagedWriter(df)
    if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
    writer.save(staging.toString)
    val moves = listParquet(fs, staging).map(p => (p, name(relativize(staging, p))))
    perFile(moves.map(m => new Path(root, m._2).getParent).distinct)(fs.mkdirs)
    val out = perFile(moves) { case (p, fresh) =>
      val dest = new Path(root, fresh)
      require(fs.rename(p, dest), s"failed to move $p to $dest")
      (fresh, fs.getFileStatus(dest))
    }
    fs.delete(staging, true)
    out
  }

  /** `f` over `files` on 8 driver threads, results in input order:
    * per-file filesystem calls (renames, statuses, footer reads) cost
    * latency, not CPU, and a partitioned write publishes a file per
    * partition — one at a time they dominate a many-cell commit. A write
    * of at most 8 files (every unpartitioned write at local[8] and
    * below) stays on the calling thread: no pool to start.
    */
  private def perFile[A, B](files: Seq[A])(f: A => B): Seq[B] =
    if (files.size <= 8) files.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try files.map(x => pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(x) })).map { task =>
        try task.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
      finally pool.shutdownNow()
    }

  /** The LOG form of an on-disk relative path. The protocol's reader rule
    * ([[DeltaRead.resolveFilePath]]) percent-decodes any stored path
    * containing '%', so an on-disk name that itself contains '%' (Spark's
    * escaped partition dirs: `p=C%3AD` for value `C:D`) must be stored
    * RE-ENCODED or the decode resolves to a file that does not exist.
    * '+' is co-encoded because URLDecoder turns a bare '+' into a space
    * once any decode triggers. Paths without '%' store raw (status quo —
    * the decode never fires on them).
    */
  private[io] def encodeFilePath(rel: String): String =
    if (rel.contains('%')) rel.replace("%", "%25").replace("+", "%2B") else rel

  private[io] def listParquet(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Path] =
    listParquetWithSize(fs, dir).map(_._1)

  /** Recursive parquet listing KEEPING each file's size — the listing
    * already carries it, so callers that need sizes (CONVERT: one per add
    * action) must not re-issue a per-file getFileStatus round-trip: at
    * the million-file scale that is a second serial driver pass as slow
    * as the footer loop it sat next to. Deliberately a plain
    * `listStatus` walk, NOT `fs.listFiles(dir, recursive)`: the latter
    * returns LocatedFileStatus and resolves BLOCK LOCATIONS per file —
    * measured 6.2s vs 0.08s for a 1500-file dir on the local FS
    * (ConvertProbe, r14), and block locations are useless to every
    * caller here.
    */
  private[io] def listParquetWithSize(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[(Path, Long)] = {
    def walk(d: Path): Seq[(Path, Long)] =
      fs.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq((st.getPath, st.getLen))
        else Nil
      }
    walk(dir)
  }

  private[io] def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/") + "/"
    val full = p.toUri.getPath
    require(full.startsWith(b), s"$p is not under $base")
    full.stripPrefix(b)
  }

  /** The table's stable GUID for a REPUBLISHED `metaData` action. The
    * Delta spec treats `metaData.id` as the table identity — delta-spark
    * embeds it in streaming offsets (reservoirId) and FAILS when it
    * changes — so watermark bumps, schema evolution, property changes,
    * checkpoints, RESTORE and widening must all carry the stored id
    * verbatim. Minting is reserved for creation, CONVERT and clone (a
    * clone IS a new table). Falls back to a mint only when the stored
    * log predates id recording.
    */
  private[io] def carriedId(meta: DeltaRead.Meta): String =
    if (meta == null || meta.id == null || meta.id.isEmpty)
      UUID.randomUUID().toString
    else meta.id

  /** Per-file `add.stats` JSON from the parquet FOOTER (no data read;
    * pure in (conf, path) so it runs wherever the file list lives —
    * driver-side for the handful of files a single write emits,
    * executor-side under [[convertToDelta]]'s distributed footer pass):
    * numRecords always; min/max for top-level primitive
    * columns whose row-group statistics are present and comparable.
    * Conservative by construction — a column with missing or undecodable
    * stats is simply omitted, and [[DeltaFileIndex]] treats absent bounds
    * as unskippable.
    */
  private[io] def footerStats(conf: org.apache.hadoop.conf.Configuration,
      file: Path): Option[String] = {
    try {
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, file, org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      val blocks = footer.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      val mins = scala.collection.mutable.LinkedHashMap[String, Any]()
      val maxs = scala.collection.mutable.LinkedHashMap[String, Any]()
      val nulls = scala.collection.mutable.LinkedHashMap[String, Long]()
      if (blocks.nonEmpty) {
        val cols = blocks.head.getColumns.asScala.toSeq
          .filter(_.getPath.size() == 1) // top-level only
        cols.foreach { c0 =>
          val name = c0.getPath.toDotString
          val perBlock = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == name).orNull)
          val stats = perBlock.map(c => if (c == null) null else c.getStatistics)
          if (!stats.contains(null) && stats.forall(s => !s.isEmpty)) {
            nulls.put(name, stats.map(_.getNumNulls).sum)
            if (stats.forall(s => s.hasNonNullValue)) {
              val typ = c0.getPrimitiveType
              def decode(v: AnyRef): Option[Any] = v match {
                case i: java.lang.Integer => Some(i.intValue())
                case l: java.lang.Long => Some(l.longValue())
                case d: java.lang.Double => Some(d.doubleValue())
                case f: java.lang.Float => Some(f.floatValue())
                case b: org.apache.parquet.io.api.Binary
                    if typ.getLogicalTypeAnnotation != null &&
                      typ.getLogicalTypeAnnotation.toString == "STRING" =>
                  Some(b.toStringUsingUTF8)
                case _ => None
              }
              val dmins = stats.map(s => decode(s.genericGetMin().asInstanceOf[AnyRef]))
              val dmaxs = stats.map(s => decode(s.genericGetMax().asInstanceOf[AnyRef]))
              if (dmins.forall(_.isDefined) && dmaxs.forall(_.isDefined)) {
                mins.put(name, dmins.flatten.min(anyOrd))
                maxs.put(name, dmaxs.flatten.max(anyOrd))
              }
            }
          }
        }
      }
      def jv(v: Any): String = v match {
        case s: String => DeltaActions.str(s)
        case other => other.toString
      }
      def obj(m: scala.collection.Map[String, Any]): String =
        m.map { case (k, v) => s"${DeltaActions.str(k)}:${jv(v)}" }
          .mkString("{", ",", "}")
      Some(s"""{"numRecords":$numRecords,"minValues":${obj(mins)},""" +
        s""""maxValues":${obj(maxs)},"nullCount":${obj(nulls)}}""")
    } catch { case _: Throwable => None }
  }

  /** Cross-type ordering for footer stat values (within one column all
    * values share a runtime type).
    */
  private val anyOrd: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: Float, y: Float) => java.lang.Float.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => 0
    }
  }
}
