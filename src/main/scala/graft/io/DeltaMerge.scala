package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Row-level Delta DML — MERGE (upsert) and DELETE — as copy-on-write
  * commits over [[DeltaWrite]]'s log protocol. This is the reference's
  * update-in-place shape (labelspark update_metadata.py:25-51 and
  * client.py:350-474 both re-key exported rows and push changed values
  * back into the Delta store written at client.py:146), re-expressed as
  * the public delta.io commit pattern: rewrite ONLY the files holding
  * matched rows, tombstone them, and add the rewritten files plus any
  * inserts in ONE atomic commit (readers see pre- or post-merge state,
  * never between; time travel to pre-merge versions keeps working).
  *
  * Scale shape:
  *   - Touched-file discovery is one provenance scan semi-joined to the
  *     source KEYS (AQE broadcasts a small source side); only distinct
  *     file paths reach the driver — O(files), never O(rows).
  *   - The rewrite reads only the touched files through the log-backed
  *     file index; a merge touching 10 files out of a million rewrites
  *     10, and for [[deleteWhere]] the predicate pushes into the scan so
  *     add.stats min/max skip provably-unmatched files before any I/O.
  *   - Log work is driver-side and O(files touched) (the Delta contract).
  */
object DeltaMerge {

  /** MERGE `source` INTO the Delta table at `path` ON equality of
    * `keyCols` — `WHEN MATCHED THEN UPDATE SET *` (or `DELETE` when
    * `whenMatched = "delete"`), `WHEN NOT MATCHED THEN INSERT *` unless
    * `insertUnmatched = false`. Returns the committed version, or -1
    * when the merge would be a no-op (nothing matched, nothing to
    * insert).
    *
    * The source must have at most one row per key (the Delta MERGE
    * cardinality guard: a key matching two source rows would update
    * nondeterministically — refused loudly, checked with one aggregate
    * over the source side only).
    *
    * With `useDeletionVectors = true` the matched rows' positions are
    * shadowed by deletion vectors instead of rewriting their files:
    * updated rows and inserts append as new files, touched files stay
    * byte-identical — commit cost O(changed rows), the right shape when
    * a merge touches a sliver of a huge table ([[deleteWhereDv]]'s
    * trade-offs and protocol upgrade apply).
    */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], whenMatched: String = "update",
      insertUnmatched: Boolean = true,
      txn: Option[(String, Long)] = None,
      useDeletionVectors: Boolean = false): Long = {
    require(whenMatched == "update" || whenMatched == "delete",
      s"whenMatched must be update or delete, got $whenMatched")
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val snap = DeltaRead.snapshot(spark, path)
    val DeltaRead.Snapshot(_, meta, live, proto, _, _) = snap
    require(meta != null, s"$path has no metaData action in its _delta_log")
    DeltaWrite.checkWritable(meta, proto, s"DML on $path", removesData = true,
      identityOk = true) // minting handled below: assignment + hw bump + exclusive OCC
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key $k is not a column of the table (${schema.fieldNames.mkString(", ")})"))
    keyCols.foreach(k => require(source.columns.contains(k),
      s"merge key $k is not a column of the source"))
    // IDENTITY columns: the source must OMIT them — matched updates carry
    // the target's stored value, unmatched inserts mint past the high
    // watermark ([[DeltaWrite.mintIdentity]]'s gap-free contract)
    // and the bumped mark rides the same commit. A source-supplied
    // identity value would either clobber a matched row's engine-assigned
    // value or mint outside the contract — refused, like GENERATED ALWAYS.
    val identityFields = DeltaWrite.identityFieldsOf(meta)
    identityFields.foreach { f =>
      require(!source.columns.contains(f.name),
        s"merge into $path supplies identity column ${f.name}, which is " +
          "engine-assigned — omit it; matched rows keep their values, " +
          "inserts mint past the high watermark")
      require(!keyCols.contains(f.name),
        s"merge into $path keyed on identity column ${f.name} requires the " +
          "source to supply it — key on a natural column instead")
    }
    val identityNames = identityFields.map(_.name).toSet
    // the schema the SOURCE must match: the table minus engine-assigned cols
    val sourceSchema = StructType(schema.fields.filterNot(f =>
      identityNames.contains(f.name)))
    // column DEFAULTs fill the source for INSERT-ONLY merges (the SQL
    // INSERT-with-omitted-columns semantics); an UPDATE SET * merge keeps
    // the full-schema refusal — filling there would silently clobber
    // matched rows' stored values with the default
    val source0 =
      if (whenMatched == "delete" && insertUnmatched)
        DeltaWrite.applyDefaults(source, meta)
      else source
    val needFullSource = whenMatched == "update" || insertUnmatched
    if (needFullSource)
      require(DeltaWrite.sameSchema(source0.schema, sourceSchema),
        s"merge source schema ${source0.schema.simpleString} must match table " +
          s"schema ${sourceSchema.simpleString} (UPDATE SET * / INSERT * " +
          "semantics; identity columns omitted)")

    // The source plan is referenced by the cardinality check, srcKeys, the
    // update join, the insert anti-join, and two CDC branches — up to ~6
    // re-derivations of what may itself be a join/aggregate (the q97
    // pathology). Materialize it ONCE; every consumer below reads the
    // checkpointed blocks.
    val source1 = source0.localCheckpoint()

    val dup = source1.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count()
    require(dup == 0L,
      "merge source has more than one row for some key — the update would be " +
        "nondeterministic (Delta MERGE cardinality violation)")

    val srcKeys = source1.select(keyCols.map(col): _*).distinct()
    if (useDeletionVectors)
      return mergeDv(spark, path, snap, source1, srcKeys, keyCols,
        whenMatched, insertUnmatched, txn, schema)
    val touched = touchedFiles(spark, path, meta, live,
      prov => prov.join(srcKeys, keyCols, "left_semi"))

    // Matched keys necessarily live in touched files, so both the update
    // join and the not-matched anti-join run against the TOUCHED subset —
    // the untouched 99% of the table is never read again.
    val rt = DeltaWrite.rowTrackingOf(meta)
    val base = baseWithRowIds(spark, path, meta, touched, rt)
    val nonKey = schema.fieldNames.filterNot(n =>
      keyCols.contains(n) || identityNames.contains(n)).toSeq
    // row tracking: carried rows keep id + original version; UPDATED rows
    // keep their id but null the version (modified by this commit);
    // INSERTED rows are fresh on both (defaults apply)
    val rtUpdated = rt.toSeq.flatMap(r => Seq(col(s"`${r.matId}`"),
      when(col("__m").isNotNull, lit(null).cast("long"))
        .otherwise(col(s"`${r.matVer}`")).as(r.matVer)))
    val rtFresh = rt.toSeq.flatMap(r => Seq(
      lit(null).cast("long").as(r.matId), lit(null).cast("long").as(r.matVer)))
    val survivors = whenMatched match {
      case "delete" =>
        base.join(srcKeys.withColumn("__m", lit(true)), keyCols, "left_outer")
          .filter(col("__m").isNull)
          .select(schema.fieldNames.map(col).toSeq ++ matCols(rt): _*)
      case "update" =>
        val marked = source1.select(
          (keyCols.map(col) ++ nonKey.map(c => col(c).as(s"__s_$c")) :+
            lit(true).as("__m")): _*)
        base.join(marked, keyCols, "left_outer")
          .select(schema.fieldNames.map { n =>
            // identity columns CARRY the target's stored value — the
            // source omits them by the gate above
            if (keyCols.contains(n) || identityNames.contains(n)) col(n)
            else when(col("__m").isNotNull, col(s"__s_$n")).otherwise(col(n)).as(n)
          }.toSeq ++ rtUpdated: _*)
    }
    // unmatched inserts derive ONCE (newData and the CDC branch both
    // consume them); on an identity table they get gap-free values
    // assigned past the stored watermark — hwBumps then forces the
    // metaData republish and the exclusive conflict guard below
    val (insertRows, hwBumps): (Option[DataFrame], Map[String, Long]) =
      if (!insertUnmatched) (None, Map.empty)
      else {
        val (withIds, bumps) = DeltaWrite.mintIdentity(source1
          .join(base.select(keyCols.map(col): _*), keyCols, "left_anti"), identityFields)
        (Some(withIds), bumps)
      }
    val newData = insertRows match {
      case Some(ins) => survivors.unionByName(
        ins.select(schema.fieldNames.map(col).toSeq ++ rtFresh: _*))
      case None => survivors
    }

    if (touched.isEmpty && !insertUnmatched) return -1L
    // CDF: matched rows emit pre/post images (or delete), inserts emit
    // insert rows — derived from the same touched subset and source
    val cdc =
      if (!cdfEnabled(meta)) None
      else {
        val fieldCols = schema.fieldNames.map(col).toSeq
        val matchedPre = base.join(srcKeys, keyCols, "left_semi")
          .select(fieldCols :+ lit(
            if (whenMatched == "delete") "delete" else "update_preimage")
            .as("_change_type"): _*)
        // one post-image PER MATCHED TARGET ROW (duplicate-key targets
        // update every copy), so join the per-row base keys — a semi-join
        // on the source would collapse them to one per key. Identity
        // columns ride from the TARGET side (the source omits them).
        val matchedPost =
          if (whenMatched == "update")
            Some(base.select((keyCols ++ identityNames.toSeq).map(col): _*)
              .join(source1, keyCols, "inner")
              .select(fieldCols :+ lit("update_postimage").as("_change_type"): _*))
          else None
        val inserts = insertRows.map(
          _.select(fieldCols :+ lit("insert").as("_change_type"): _*))
        Some((Seq(matchedPre) ++ matchedPost ++ inserts).reduce(_ unionByName _))
      }
    commitDml(spark, path, snap, touched.map(DvPlan(_, None)),
      deletionVectors = false, Some(newData), "MERGE",
      Seq("predicate" -> keyCols.mkString(","), "matchedAction" -> whenMatched),
      cdc, txn, hwBumps)
  }

  /** Read `touched` with STABLE ROW IDS attached when the table is
    * row-tracked: logical columns plus the two materialized physical
    * columns, each row's column values resolved to its stable id
    * (`coalesce(materialized, baseRowId + position)`) and original
    * commit version — the inputs a copy-on-write rewrite must carry
    * forward so DML never moves a row's identity. Plain scan otherwise.
    */
  private def baseWithRowIds(spark: SparkSession, path: String,
      meta: DeltaRead.Meta, touched: Seq[DeltaRead.LiveFile],
      rt: Option[DeltaWrite.RowTracking]): DataFrame = rt match {
    case None => DeltaRead.filesDf(spark, path, meta, touched, provenance = false)
    case Some(r) =>
      val scanned = DeltaRead.filesDf(spark, path, meta, touched,
        provenance = false, rowIndex = true,
        extraPhysCols = DeltaWrite.rowTrackingFields(rt))
      DeltaWrite.materializeRowIds(spark, path, r, touched, scanned)
  }

  /** The materialized-column Columns to append to a rewrite's output —
    * empty when untracked.
    */
  private def matCols(rt: Option[DeltaWrite.RowTracking]): Seq[Column] =
    rt.toSeq.flatMap(r => Seq(col(s"`${r.matId}`"), col(s"`${r.matVer}`")))

  /** Whether the table opted into the change data feed
    * (`delta.enableChangeDataFeed = true` — set at create or via
    * [[DeltaWrite.setTableProperties]]). DML on a CDF table pays one
    * extra pass over the touched subset to materialize the change rows.
    */
  private def cdfEnabled(meta: DeltaRead.Meta): Boolean =
    meta.configuration.get("delta.enableChangeDataFeed").contains("true")

  /** DELETE FROM the Delta table at `path` WHERE `condition`: rewrite the
    * files holding matching rows without them, tombstone the originals,
    * one commit. The condition pushes into the discovery scan, so file
    * stats (and partition values) skip files that provably hold no match
    * — those are neither read nor rewritten. Returns the committed
    * version, or -1 when no row matched.
    */
  def deleteWhere(spark: SparkSession, path: String, condition: Column): Long = {
    val snap = DeltaRead.snapshot(spark, path)
    val DeltaRead.Snapshot(_, meta, live, proto, _, _) = snap
    require(meta != null, s"$path has no metaData action in its _delta_log")
    // deletes only REMOVE rows: identity values carry in survivors
    // verbatim and the watermark stands (values are never reused)
    DeltaWrite.checkWritable(meta, proto, s"DML on $path", removesData = true,
      identityOk = true)
    val touched = touchedFiles(spark, path, meta, live, _.filter(condition))
    if (touched.isEmpty) return -1L
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val rt = DeltaWrite.rowTrackingOf(meta)
    val base = baseWithRowIds(spark, path, meta, touched, rt)
    val hit = coalesce(condition, lit(false))
    val fieldCols = schema.fieldNames.map(col).toSeq
    // row tracking: kept rows carry their stable id AND original commit
    // version (a delete does not modify the rows it keeps)
    val survivors = base.filter(!hit).select(fieldCols ++ matCols(rt): _*)
    val cdc =
      if (cdfEnabled(meta))
        Some(base.filter(hit).select(fieldCols :+ lit("delete").as("_change_type"): _*))
      else None
    commitDml(spark, path, snap, touched.map(DvPlan(_, None)),
      deletionVectors = false, Some(survivors), "DELETE",
      Seq("predicate" -> condition.toString), cdc, None, Map.empty)
  }

  /** DELETE FROM the Delta table at `path` WHERE `condition` by DELETION
    * VECTOR — the protocol's O(deleted rows) delete: instead of rewriting
    * every touched file without its matches ([[deleteWhere]]'s
    * copy-on-write), each touched file is re-added UNCHANGED with a
    * bitmap marking the deleted row positions, all bitmaps packed into
    * one new `deletion_vector_<uuid>.bin`. Deleting 0.1% of a 100 TB
    * table writes kilobytes, not terabytes. Trade-offs vs copy-on-write:
    * reads of touched files pay the (broadcast bitmap) position filter
    * until [[DeltaWrite.compact]] materializes the deletes away, and the
    * table's protocol is upgraded to (3, 7) + `deletionVectors` on first
    * use — foreign readers must support the feature.
    *
    * Scale shape: the predicate pushes into the discovery scan (stats /
    * partition skipping applies), and per-file bitmaps are built,
    * compressed, AND WRITTEN into vector files on executors (one pass,
    * sorted within file; vector files rotate past `maxVectorFileBytes`)
    * — the driver receives only (path, descriptor, cardinality) rows, so
    * its memory is O(touched files) no matter how many rows a wide
    * delete shadows. A file already carrying a vector gets the union
    * (streamed merge of two sorted sets, never materialized); a file
    * whose every remaining row matched is REMOVED outright rather than
    * re-added fully shadowed. Returns the committed version, or -1 when
    * no row matched.
    */
  def deleteWhereDv(spark: SparkSession, path: String, condition: Column,
      maxVectorFileBytes: Long = DvWrite.DefaultMaxVectorFileBytes): Long = {
    val snap = DeltaRead.snapshot(spark, path)
    val DeltaRead.Snapshot(_, meta, live, proto, _, _) = snap
    require(meta != null, s"$path has no metaData action in its _delta_log")
    // deletes only REMOVE rows: identity values carry in survivors
    // verbatim and the watermark stands (values are never reused)
    DeltaWrite.checkWritable(meta, proto, s"DML on $path", removesData = true,
      identityOk = true)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val scan = DeltaRead.filesDf(spark, path, meta, live, provenance = true,
      rowIndex = true)
    val hit = coalesce(condition, lit(false))
    // without CDF the bitmap build is the hits' only consumer — one scan;
    // with CDF the pre-images read them again, so materialize the matched
    // rows (O(deleted rows)) once instead of re-deriving the table scan
    val hits =
      if (cdfEnabled(meta)) scan.filter(hit).localCheckpoint()
      else scan.filter(hit)
    val planned = buildDvPlans(spark, fs, root, live, hits, maxVectorFileBytes)
    if (planned.isEmpty) return -1L
    val cdc =
      if (!cdfEnabled(meta)) None
      else Some(hits.select(
        schema.fieldNames.map(col).toSeq :+ lit("delete").as("_change_type"): _*))
    commitDml(spark, path, snap, planned,
      deletionVectors = true, None, "DELETE",
      Seq("predicate" -> condition.toString), cdc, None, Map.empty)
  }

  /** UPDATE ... SET ... WHERE by DELETION VECTOR: the matched rows'
    * positions are shadowed in their (unchanged) files and the updated
    * versions append as NEW files — cost O(changed rows), where
    * [[updateWhere]] rewrites every row of every touched file. Same
    * trade-offs and protocol upgrade as [[deleteWhereDv]]. Returns the
    * committed version, or -1 when nothing matched.
    */
  def updateWhereDv(spark: SparkSession, path: String, condition: Column,
      set: Map[String, Column]): Long = {
    require(set.nonEmpty, "set must map at least one column")
    val snap = DeltaRead.snapshot(spark, path)
    val DeltaRead.Snapshot(_, meta, live, proto, _, _) = snap
    require(meta != null, s"$path has no metaData action in its _delta_log")
    // UPDATE carries identity values verbatim — but a SET targeting the
    // identity column itself would mint values outside the contract
    DeltaWrite.checkWritable(meta, proto, s"DML on $path", removesData = true,
      identityOk = true)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"SET column $k is not a column of the table (${schema.fieldNames.mkString(", ")})"))
    set.keys.foreach(k => require(
      !schema(k).metadata.contains("delta.identity.start"),
      s"SET targets identity column $k — identity values are engine-assigned " +
        "and never updated"))
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val rt = DeltaWrite.rowTrackingOf(meta)
    val scan = DeltaRead.filesDf(spark, path, meta, live, provenance = true,
      rowIndex = true, extraPhysCols = DeltaWrite.rowTrackingFields(rt))
    val hit = coalesce(condition, lit(false))
    // the matched rows feed the bitmap build, the staged replacements,
    // and (under CDF) both images — materialize them once (O(changed
    // rows), this verb's contract) so the table is scanned exactly once.
    // Row tracking: each hit resolves its stable id BEFORE shadowing, so
    // the re-appended updated row can carry it materialized.
    val hits = rt.fold(scan.filter(hit))(r => DeltaWrite.materializeRowIds(
        spark, path, r, live, scan.filter(hit), keepHelpers = true))
      .localCheckpoint()
    val planned = buildDvPlans(spark, fs, root, live, hits)
    if (planned.isEmpty) return -1L
    def updatedCols = schema.fieldNames.map { n =>
      set.get(n) match {
        case Some(e) => e.cast(schema(n).dataType).as(n)
        case None => col(n)
      }
    }.toSeq
    // updated rows KEEP their stable id (materialized) and null the
    // commit version — this commit modifies them, the fresh default applies
    val rtKeepId = rt.toSeq.flatMap(r => Seq(col(s"`${r.matId}`"),
      lit(null).cast("long").as(r.matVer)))
    val newRows = hits.select(updatedCols ++ rtKeepId: _*)
    val cdc =
      if (!cdfEnabled(meta)) None
      else {
        val fieldCols = schema.fieldNames.map(col).toSeq
        Some(hits
          .select(fieldCols :+ lit("update_preimage").as("_change_type"): _*)
          .unionByName(newRows
            .select(fieldCols :+ lit("update_postimage").as("_change_type"): _*)))
      }
    commitDml(spark, path, snap, planned,
      deletionVectors = true, Some(newRows), "UPDATE",
      Seq("predicate" -> condition.toString), cdc, None, Map.empty)
  }

  /** [[merge]] with `useDeletionVectors = true`: matched positions are
    * discovered on ONE row-index scan semi-joined to the source keys; the
    * matched rows (bounded by |source| — the merge cardinality guard
    * caps one match per source key) are materialized once, and every
    * downstream consumer — the bitmap build, the matched/insert key
    * split, the CDC pre-images — derives from that small checkpoint. The
    * table is scanned exactly once, where the copy-on-write path reads
    * its touched subset three times.
    */
  private def mergeDv(spark: SparkSession, path: String, snap: DeltaRead.Snapshot,
      source1: DataFrame, srcKeys: DataFrame, keyCols: Seq[String],
      whenMatched: String, insertUnmatched: Boolean,
      txn: Option[(String, Long)], schema: StructType): Long = {
    val DeltaRead.Snapshot(_, meta, live, _, _, _) = snap
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rt = DeltaWrite.rowTrackingOf(meta)
    val rowScan = DeltaRead.filesDf(spark, path, meta, live, provenance = true,
      rowIndex = true, extraPhysCols = DeltaWrite.rowTrackingFields(rt))
    // checkpoint only what downstream needs: keys + position without CDF
    // (the scan then prunes every other column), full rows when the CDC
    // pre-images will read them. Row tracking resolves each matched row's
    // stable id here, before its position is shadowed.
    val matchedAll0 = rowScan.join(srcKeys, keyCols, "left_semi")
    val matchedAll = rt.fold(matchedAll0)(r => DeltaWrite.materializeRowIds(
      spark, path, r, live, matchedAll0, keepHelpers = true))
    // identity columns must survive the pruned checkpoint: matched
    // updates re-append with the TARGET's stored value (source omits it)
    val identityNames = DeltaWrite.identityFieldsOf(meta).map(_.name)
      .filterNot(keyCols.contains)
    val matched =
      (if (cdfEnabled(meta)) matchedAll
       else matchedAll.select(
         (keyCols ++ identityNames).map(col) ++
           Seq(col("__file"), col("__row_idx")) ++
           rt.toSeq.map(r => col(s"`${r.matId}`")): _*))
        .localCheckpoint()
    val planned = buildDvPlans(spark, fs, root, live, matched)
    if (planned.isEmpty && !insertUnmatched) return -1L
    // a source key matched iff it appears among the matched rows — the
    // key set is tiny (≤ |source|), so both joins below broadcast it
    val matchedKeys = matched.select(keyCols.map(col): _*).distinct()
    val fieldCols = schema.fieldNames.map(col).toSeq
    // UPDATE must re-append one row PER MATCHED TARGET ROW, not per source
    // key: a duplicate-key target row shadows BOTH positions, and the
    // copy-on-write path updates both (multiplicity preserved — upstream
    // Delta MERGE semantics). Joining the per-row matched keys (NOT
    // distinct) to the source (≤1 row/key by the cardinality guard)
    // yields exactly one updated row per shadowed position.
    val rtKeepId = rt.toSeq.flatMap(r => Seq(col(s"`${r.matId}`"),
      lit(null).cast("long").as(r.matVer)))
    val rtFresh = rt.toSeq.flatMap(r => Seq(
      lit(null).cast("long").as(r.matId), lit(null).cast("long").as(r.matVer)))
    val matchedSrc =
      if (whenMatched == "update")
        Some(matched.select((keyCols ++ identityNames).map(col) ++
            rt.toSeq.map(r => col(s"`${r.matId}`")): _*)
          .join(source1, keyCols, "inner").select(fieldCols ++ rtKeepId: _*))
      else None
    // unmatched inserts: identity values mint past the watermark exactly
    // as on the COW path — hwBumps then rides commitDvDml's metaData
    // republish under the exclusive guard
    val (inserts, hwBumps): (Option[DataFrame], Map[String, Long]) =
      if (!insertUnmatched) (None, Map.empty)
      else {
        val (withIds, bumps) = DeltaWrite.mintIdentity(
          source1.join(matchedKeys, keyCols, "left_anti"), DeltaWrite.identityFieldsOf(meta))
        (Some(withIds.select(fieldCols ++ rtFresh: _*)), bumps)
      }
    val newRows = (matchedSrc.toSeq ++ inserts).reduceOption(_ unionByName _)
    val cdc =
      if (!cdfEnabled(meta)) None
      else {
        val matchedPre = matched
          .select(fieldCols :+ lit(
            if (whenMatched == "delete") "delete" else "update_preimage")
            .as("_change_type"): _*)
        val matchedPost = matchedSrc.map(
          _.select(fieldCols :+ lit("update_postimage").as("_change_type"): _*))
        val insertRows = inserts.map(
          _.select(fieldCols :+ lit("insert").as("_change_type"): _*))
        Some((Seq(matchedPre) ++ matchedPost ++ insertRows).reduce(_ unionByName _))
      }
    commitDml(spark, path, snap, planned,
      deletionVectors = true, newRows, "MERGE",
      Seq("predicate" -> keyCols.mkString(","), "matchedAction" -> whenMatched),
      cdc, txn, hwBumps)
  }

  // ------------------------------------------------------- DV DML internals

  /** One touched file's fate in a DML commit: with a `descriptor` (a
    * vector ALREADY WRITTEN to a vector file, covering the union of its
    * existing DV with the newly shadowed positions) the file is re-added
    * under it; with None it is removed outright — every remaining row
    * shadowed, or rewritten by copy-on-write.
    */
  private final case class DvPlan(file: DeltaRead.LiveFile,
      descriptor: Option[DeletionVectors.Descriptor])

  /** Attribute a scan's qualified URI to a live file (basename-keyed, as
    * in touchedFiles; the endsWith re-check only disambiguates the
    * practically-impossible basename collision).
    */
  private def liveByUri(byBase: Map[String, Seq[DeltaRead.LiveFile]],
      uri: String): DeltaRead.LiveFile = {
    val base = uri.substring(uri.lastIndexOf('/') + 1)
    val cands = byBase.getOrElse(base, Nil).filter { f =>
      val needle =
        if (f.path.startsWith("/") || f.path.contains("://")) f.path
        else "/" + f.path
      uri.endsWith(needle)
    }
    require(cands.size == 1, s"cannot attribute scanned file $uri to a live file")
    cands.head
  }

  /** Build AND WRITE per-file deletion vectors for `hits` (a DataFrame
    * carrying `__file` and `__row_idx`) entirely on executors: partition
    * by file, sort by (file, position), stream each file's run through
    * the roaring serializer, union in the file's pre-existing vector
    * (loaded executor-side; the scan never serves already-deleted
    * positions, so the sets are disjoint), and append the result to a
    * task-local [[DvWrite.VectorFileWriter]] — many vectors per file,
    * rotated past a size bound. Only (path, descriptor, cardinality)
    * rows reach the driver, so driver memory is O(touched files), never
    * O(deleted rows): the one driver-memory cliff the DML path had.
    * A file whose every remaining row is shadowed skips the vector write
    * (descriptor None → removed outright); vector files from failed task
    * attempts are unreferenced and age out via VACUUM.
    */
  private def buildDvPlans(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      root: Path, live: Seq[DeltaRead.LiveFile], hits: DataFrame,
      maxVectorFileBytes: Long = DvWrite.DefaultMaxVectorFileBytes): Seq[DvPlan] = {
    import spark.implicits._
    def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val byBase = live.groupBy(f => basename(f.path))
    val byBaseBc = spark.sparkContext.broadcast(byBase)
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(spark.sparkContext.hadoopConfiguration))
    val rootStr = root.toString
    // one vector file per non-empty task: bound the task count by the
    // table's file count so a small delete stays a handful of blobs while
    // a wide one still fans out to full parallelism
    val numParts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, live.size))
    val perFile: Array[(String, Option[DeletionVectors.Descriptor])] = hits
      .select(col("__file"), col("__row_idx"))
      .repartition(numParts, col("__file"))
      .sortWithinPartitions(col("__file"), col("__row_idx"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val tableRoot = new Path(rootStr)
        lazy val taskFs = tableRoot.getFileSystem(confBc.value.value)
        lazy val writer = new DvWrite.VectorFileWriter(taskFs, tableRoot,
          maxVectorFileBytes)
        val rows = it.buffered
        val planned = new Iterator[(String, Option[DeletionVectors.Descriptor])] {
          def hasNext: Boolean = rows.hasNext
          def next(): (String, Option[DeletionVectors.Descriptor]) = {
            val uri = rows.head._1
            var n = 0L
            val idxs: Iterator[Long] = new Iterator[Long] {
              def hasNext: Boolean = rows.hasNext && rows.head._1 == uri
              def next(): Long = { n += 1; rows.next()._2 }
            }
            val lf = liveByUri(byBaseBc.value, uri)
            val (data, card) = lf.dv match {
              case None => (DvWrite.serializeData(idxs), n)
              case Some(old) =>
                val oldBits = DeletionVectors.load(taskFs, tableRoot, old)
                (DvWrite.serializeData(
                  DvWrite.mergeSorted(oldBits.values, idxs)), old.cardinality + n)
            }
            val numRecords = lf.stats.flatMap(DeltaActions.numRecords)
            // fully shadowed → no vector: the commit removes the file
            val desc =
              if (numRecords.contains(card)) None
              else Some(writer.append(data, card))
            (uri, desc)
          }
        }
        // close the task's vector file once its runs are drained
        new Iterator[(String, Option[DeletionVectors.Descriptor])] {
          def hasNext: Boolean = {
            val h = planned.hasNext
            if (!h) writer.close()
            h
          }
          def next(): (String, Option[DeletionVectors.Descriptor]) = planned.next()
        }
      }.collect()
    perFile.toSeq.map { case (uri, desc) => DvPlan(liveByUri(byBase, uri), desc) }
  }

  /** The upgraded protocol when the replayed one lacks `deletionVectors`
    * — MERGED into the replayed record (never overwritten), with the
    * legacy versions' implied features made explicit, per the
    * table-features upgrade rule.
    */
  private def dvProtocolUpgrade(proto: DeltaRead.Protocol,
      where: String): Option[DeltaRead.Protocol] = {
    val hasFeature = proto.minReader >= 3 &&
      proto.readerFeatures.contains("deletionVectors") &&
      proto.writerFeatures.contains("deletionVectors")
    if (hasFeature) None
    else {
      require(proto.writerFeatures.nonEmpty || proto.minWriter <= 5,
        s"$where: cannot upgrade legacy writer version ${proto.minWriter} " +
          "to table features — it implies features this writer does not honor")
      val impliedW =
        if (proto.writerFeatures.nonEmpty) Nil
        else Seq("appendOnly" -> 2, "invariants" -> 2, "checkConstraints" -> 3,
          "changeDataFeed" -> 4, "generatedColumns" -> 4, "columnMapping" -> 5)
          .collect { case (feat, v) if proto.minWriter >= v => feat }
      val impliedR =
        if (proto.readerFeatures.nonEmpty) Nil
        else if (proto.minReader >= 2) Seq("columnMapping")
        else Nil
      Some(DeltaRead.Protocol(
        math.max(3, proto.minReader), math.max(7, proto.minWriter),
        (proto.readerFeatures ++ impliedR :+ "deletionVectors").distinct,
        (proto.writerFeatures ++ impliedW :+ "deletionVectors").distinct))
    }
  }

  /** Stage `rows` as fresh table data files under the table's physical
    * layout — the staging step of every DML verb that writes new rows.
    * CHECK constraints hold for post-DML rows too, and applyGenerated is
    * pure validation here (DML rows carry every column; a stale generated
    * value after an update refuses loudly). The DML logic runs on LOGICAL
    * names (filesDf serves them); mapped tables (both modes — id staging
    * embeds the footer field ids) rename back before staging.
    */
  private def stageForTable(rows: DataFrame, meta: DeltaRead.Meta, root: Path,
      where: String): Seq[DeltaWrite.StagedFile] = {
    DeltaWrite.enforceConstraints(rows, meta, where)
    DeltaWrite.applyGenerated(rows, meta, where)
    DeltaWrite.stageBatch(rows, root, meta)
  }

  /** Publish a DML commit, atomically: stage `newRows` (partitioned like
    * the table), tombstone every planned file, re-add the partially
    * shadowed ones under their vector, add the staged files, and stage
    * cdc. Copy-on-write plans every touched file as removed outright, so
    * it re-adds nothing; with `deletionVectors` the vectors were already
    * written (executor-side) by [[buildDvPlans]], the tombstones carry the
    * vector each file had, and the protocol upgrades on the table's first
    * vector.
    */
  private def commitDml(spark: SparkSession, path: String, snap: DeltaRead.Snapshot,
      planned: Seq[DvPlan],
      deletionVectors: Boolean, newRows: Option[DataFrame], operation: String,
      params: Seq[(String, Any)], cdcData: Option[DataFrame],
      txn: Option[(String, Long)], hwBumps: Map[String, Long]): Long = {
    val DeltaRead.Snapshot(readVersion, meta, _, proto, domains, _) = snap
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val where = s"$operation on $path"
    val adds = newRows.toSeq.flatMap(stageForTable(_, meta, root, where))
    val protocol =
      if (deletionVectors) dvProtocolUpgrade(proto, where) else None
    val tracked = DeltaWrite.rowTrackingOf(meta).isDefined ||
      proto.writerFeatures.contains("rowTracking")
    // change-data files: the changed rows (+ _change_type +
    // _commit_version, so a file stream over _change_data/ needs no log
    // lookup) staged under _change_data/, committed as cdc actions
    // (dataChange=false — CDF readers use them INSTEAD of the add/remove
    // pair for this commit). Staged inside mkLines because the rows embed
    // the final commit version: an OCC retry at a new version restages
    // them (cheap — only the changed rows) and drops the orphaned attempt.
    var cdcStaged: Seq[(String, Long)] = Seq.empty
    def mkLines(version: Long): Seq[String] = {
      cdcStaged.foreach { case (rel, _) => fs.delete(new Path(root, rel), false) }
      cdcStaged = cdcData.toSeq.flatMap { c =>
        DeltaWrite.stageCdcFiles(DeltaWrite.stagePhysical(c, meta, col("_change_type"))
          .withColumn("_commit_version", lit(version)), root)
      }
      val now = System.currentTimeMillis()
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      protocol.foreach(lines += DeltaActions.protocol(_))
      if (hwBumps.nonEmpty)
        lines += DeltaActions.identityMetaData(meta, hwBumps, now)
      txn.foreach { case (appId, txnVersion) =>
        lines += DeltaActions.txn(appId, txnVersion, now)
      }
      // only DV tombstones carry the file's vector; readers key a
      // tombstone by path alone
      planned.foreach { p =>
        lines += DeltaActions.remove(p.file.path, now, dataChange = true,
          if (deletionVectors) p.file.dv else None)
      }
      planned.foreach {
        case DvPlan(f, Some(d)) =>
          lines += DeltaActions.add(f.path, f.partitionValues, f.size, f.modificationTime,
            dataChange = true, f.stats, Some(d), f.baseRowId, f.defaultRowCommitVersion)
        case _ =>
      }
      lines ++= DeltaWrite.renderAdds(spark, path, tracked,
        DeltaRead.rowIdHighWaterMark(domains), readVersion + 1,
        adds, now, dataChange = true)(version)
      cdcStaged.foreach { case (rel, size) => lines += DeltaActions.cdc(rel, size) }
      lines.toSeq
    }
    // OCC: row-level DML tolerates concurrent appends and disjoint
    // rewrites (WriteSerializable); a winner touching any of OUR files
    // refuses — one of the two rewrites would otherwise be lost. An
    // identity-minting merge (hwBumps non-empty) conflict-checks
    // EXCLUSIVELY, like identity-advancing appends: a concurrent minting
    // commit would issue the same values — the loser refuses.
    val removed = planned.map(_.file.path).toSet
    val guard =
      if (hwBumps.nonEmpty) ConflictGuard.exclusive(removed, txn.map(_._1))
      else ConflictGuard.disjointRewrite(removed, txn.map(_._1))
    DeltaWrite.commit(spark, path, readVersion, meta, operation,
      if (deletionVectors) params :+ ("deletionVectors" -> true) else params, guard)(mkLines)
  }

  /** UPDATE the Delta table at `path` SET `set` WHERE `condition` — the
    * expression-based UPDATE between [[merge]]'s row-replacement and
    * [[deleteWhere]]'s removal: each `set` entry maps a column to an
    * expression over the CURRENT row (so `cents -> col("cents") + 1000`
    * works), applied only where `condition` holds; every other row in a
    * touched file carries over verbatim. Copy-on-write like the others —
    * the condition pushes into the discovery scan (stats/partition
    * skipping applies), only files holding matches rewrite, one atomic
    * commit. Set expressions cast to the column's declared type, so the
    * staged parquet can never drift from the table schema. Returns the
    * committed version, or -1 when no row matched.
    */
  def updateWhere(spark: SparkSession, path: String, condition: Column,
      set: Map[String, Column]): Long = {
    require(set.nonEmpty, "set must map at least one column")
    val snap = DeltaRead.snapshot(spark, path)
    val DeltaRead.Snapshot(_, meta, live, proto, _, _) = snap
    require(meta != null, s"$path has no metaData action in its _delta_log")
    // UPDATE carries identity values verbatim — but a SET targeting the
    // identity column itself would mint values outside the contract
    DeltaWrite.checkWritable(meta, proto, s"DML on $path", removesData = true,
      identityOk = true)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"SET column $k is not a column of the table (${schema.fieldNames.mkString(", ")})"))
    set.keys.foreach(k => require(
      !schema(k).metadata.contains("delta.identity.start"),
      s"SET targets identity column $k — identity values are engine-assigned " +
        "and never updated"))
    // updating a partition column is fine: the rewrite stages with
    // partitionBy over the NEW values, so moved rows land in (and log
    // partitionValues for) their new partition directories
    val touched = touchedFiles(spark, path, meta, live, _.filter(condition))
    if (touched.isEmpty) return -1L
    val hit = coalesce(condition, lit(false)) // NULL predicate = no match (SQL)
    val rt = DeltaWrite.rowTrackingOf(meta)
    val base = baseWithRowIds(spark, path, meta, touched, rt)
    def updatedCols = schema.fieldNames.map { n =>
      set.get(n) match {
        case Some(e) => e.cast(schema(n).dataType).as(n)
        case None => col(n)
      }
    }.toSeq
    // row tracking: every row keeps its stable id; UPDATED rows null out
    // the materialized commit version (they are modified by THIS commit,
    // so the fresh default applies), carried rows keep their original
    val rtCols = rt.toSeq.flatMap(r => Seq(col(s"`${r.matId}`"),
      when(hit, lit(null).cast("long")).otherwise(col(s"`${r.matVer}`"))
        .as(r.matVer)))
    val rewritten = base.select(schema.fieldNames.map { n =>
      set.get(n) match {
        case Some(e) => when(hit, e.cast(schema(n).dataType)).otherwise(col(n)).as(n)
        case None => col(n)
      }
    }.toSeq ++ rtCols: _*)
    val cdc =
      if (cdfEnabled(meta)) {
        val fieldCols = schema.fieldNames.map(col).toSeq
        Some(base.filter(hit)
          .select(fieldCols :+ lit("update_preimage").as("_change_type"): _*)
          .unionByName(base.filter(hit).select(updatedCols: _*)
            .withColumn("_change_type", lit("update_postimage"))))
      } else None
    commitDml(spark, path, snap, touched.map(DvPlan(_, None)),
      deletionVectors = false, Some(rewritten), "UPDATE",
      Seq("predicate" -> condition.toString), cdc, None, Map.empty)
  }

  /** The live files whose rows survive `hit` applied to a provenance scan
    * — distinct `__file` values only reach the driver (O(files touched),
    * never O(rows)).
    */
  private def touchedFiles(spark: SparkSession, path: String,
      meta: DeltaRead.Meta, live: Seq[DeltaRead.LiveFile],
      hit: DataFrame => DataFrame): Seq[DeltaRead.LiveFile] = {
    val prov = DeltaRead.filesDf(spark, path, meta, live, provenance = true)
    val abs = hit(prov).select(col("__file")).distinct()
      .collect().map(_.getString(0))
    // `__file` is the scan's qualified URI; live paths are log-relative —
    // or ABSOLUTE for clone-referenced files. Part names embed a UUID, so
    // matching on the BASENAME is exact within one table; the endsWith
    // re-check below only disambiguates the (practically impossible)
    // basename collision. Keyed lookup keeps this O(|touched| + |live|) —
    // a naive abs×live suffix scan is 10¹⁰+ compares at a million files.
    def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val byBase: Map[String, Seq[DeltaRead.LiveFile]] = live.groupBy(f => basename(f.path))
    val hitPaths: Set[String] = abs.iterator.flatMap { a =>
      byBase.getOrElse(basename(a), Nil).filter { f =>
        val needle =
          if (f.path.startsWith("/") || f.path.contains("://")) f.path
          else "/" + f.path
        a.endsWith(needle)
      }.map(_.path)
    }.toSet
    live.filter(f => hitPaths.contains(f.path))
  }
}
