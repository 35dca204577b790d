package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-level Delta DML — MERGE (upsert), UPDATE and DELETE — as single
  * atomic commits over [[DeltaWrite]]'s log protocol. This is the
  * reference's update-in-place shape (labelspark update_metadata.py:25-51
  * and client.py:350-474 both re-key exported rows and push changed
  * values back into the Delta store written at client.py:146),
  * re-expressed as the public delta.io commit pattern: readers see the
  * pre- or post-DML state, never between, and time travel to earlier
  * versions keeps working.
  *
  * Each public verb only DESCRIBES itself as a [[Dml]]: (a) how a row
  * matches — a predicate, or a semi-join on the source keys; (b) what a
  * matched row becomes — a `SET` projection, the source row, or nothing (a
  * delete); (c) for MERGE, the unmatched source rows to insert. One
  * executor per storage mode runs every verb:
  *   - copy-on-write ([[copyOnWrite]]): rewrite ONLY the files holding
  *     matched rows through one projection, tombstone them, add the
  *     rewritten files plus any inserts;
  *   - deletion vectors ([[withDeletionVectors]]): shadow the matched
  *     rows' positions in their unchanged files and append the
  *     replacement rows and inserts as new files — cost O(changed rows).
  * Change-data-feed rows come from one place ([[changes]]): a matched row
  * is the pre-image, its replacement the post-image (no replacement: a
  * delete), an inserted row an insert.
  *
  * Scale shape:
  *   - MERGE materializes its source once; the same job counts its rows
  *     and the bytes its values hold. A source within Spark's
  *     `spark.sql.autoBroadcastJoinThreshold` is SMALL: its keys reach the
  *     driver in one shuffle-free job, the cardinality check runs there
  *     (with `groupBy`'s key equality), and the keys filter the match scan
  *     as one IN list, so finding the matched rows needs no join: for a
  *     single integral, string, date, timestamp or decimal key the
  *     log-backed file index skips every file whose add.stats min/max hold
  *     none of them before any I/O; any other key is listed as key tuples,
  *     which match exactly and skip no file. A LARGER source keeps the aggregate check and a semi-join; a
  *     threshold of -1 always takes this path. Where the cutover sits for
  *     real traffic is unmeasured: no benchmark merges a large source.
  *   - Predicate verbs push their condition into the same scan (stats and
  *     partition skipping).
  *   - The matched rows run in ONE job that also observes the files they
  *     sit in and, with a key list, the keys they matched; only those
  *     distinct values reach the driver — O(files touched + source keys),
  *     never O(rows) — and the insert split is a filter on them.
  *   - The rewrite reads only the touched files through the log-backed
  *     file index; a merge touching 10 files out of a million rewrites 10.
  *     Its joins to the source are the planner's, so the staged files are
  *     laid out the same on both source paths.
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
    * nondeterministically — refused loudly, checked on the source side
    * only: on the driver for a small source, else with one aggregate).
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
    val (snap, schema) = writable(spark, path)
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
    val identityNames = DeltaWrite.identityFieldsOf(snap.meta).map(_.name).toSet
    identityNames.foreach { n =>
      require(!source.columns.contains(n),
        s"merge into $path supplies identity column $n, which is " +
          "engine-assigned — omit it; matched rows keep their values, " +
          "inserts mint past the high watermark")
      require(!keyCols.contains(n),
        s"merge into $path keyed on identity column $n requires the " +
          "source to supply it — key on a natural column instead")
    }
    // the schema the SOURCE must match: the table minus engine-assigned cols
    val sourceSchema = StructType(schema.fields.filterNot(f =>
      identityNames.contains(f.name)))
    // column DEFAULTs fill the source for INSERT-ONLY merges (the SQL
    // INSERT-with-omitted-columns semantics); an UPDATE SET * merge keeps
    // the full-schema refusal — filling there would silently clobber
    // matched rows' stored values with the default
    val source0 =
      if (whenMatched == "delete" && insertUnmatched)
        DeltaWrite.applyDefaults(source, snap.meta)
      else source
    if (whenMatched == "update" || insertUnmatched)
      require(DeltaWrite.sameSchema(source0.schema, sourceSchema),
        s"merge source schema ${source0.schema.simpleString} must match table " +
          s"schema ${sourceSchema.simpleString} (UPDATE SET * / INSERT * " +
          "semantics; identity columns omitted)")

    // The source feeds the cardinality check, file discovery, the rewrite
    // join, the insert split and the CDC rows — materialize it ONCE; the
    // same job measures it: 8 bytes a row plus the bytes its values hold.
    val sized = new Observation()
    val source1 = source0.observe(sized, (count(lit(1)) * 8L + coalesce(sum(source0.schema.fields
      .map(f => bytesOf(col(s"`${f.name}`"), f.dataType)).reduce(_ + _)), lit(0L))).as("b"))
      .localCheckpoint()
    // A source within Spark's broadcast threshold whose keys have the
    // table's types is small: its keys come to the driver in one
    // shuffle-free job, the cardinality check runs there, and they filter
    // the match scan as an IN list — a single key's skips files by
    // add.stats before any I/O — so finding the matched rows needs no
    // join. A larger source keeps the aggregate check and a semi-join.
    val small = keyCols.forall(k => source0.schema(k).dataType == schema(k).dataType) &&
      sized.get("b").asInstanceOf[Long] <= spark.sessionState.conf.autoBroadcastJoinThreshold
    val keyRows = if (small) source1.select(keyCols.map(col): _*).collect().toSeq else Nil
    val dup = if (small) keyRows.size - keyRows.map(_.toSeq.map(groupKey)).distinct.size
      else source1.groupBy(keyCols.map(col): _*).count().filter(col("count") > 1).limit(1).count()
    require(dup == 0L, "merge source has more than one row for some key — the update would be " +
      "nondeterministic (Delta MERGE cardinality violation)")
    // a NULL key matches nothing
    val keyList = Option.when(small)(keyIn(schema, keyCols, keyRows.filterNot(_.anyNull)))

    // UPDATE SET *: every column but the keys and the identity columns
    // (which carry the target's stored value) takes the source's
    val set =
      if (whenMatched == "delete") None
      else Some(schema.fieldNames.filterNot(n => keyCols.contains(n) ||
        identityNames.contains(n)).map(n => n -> col(s"__s_$n")).toMap)
    val dml = Dml(path, snap, schema, "MERGE",
      Seq("predicate" -> keyCols.mkString(","), "matchedAction" -> whenMatched),
      None, keyCols, Some(source1), set, insertUnmatched, txn, keyList)
    if (useDeletionVectors) withDeletionVectors(spark, dml) else copyOnWrite(spark, dml)
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
    * staged parquet can never drift from the table schema. Updating a
    * partition column is fine: the rewrite stages with partitionBy over
    * the NEW values, so moved rows land in (and log partitionValues for)
    * their new partition directories. Returns the committed version, or
    * -1 when no row matched.
    */
  def updateWhere(spark: SparkSession, path: String, condition: Column,
      set: Map[String, Column]): Long =
    copyOnWrite(spark, predicateDml(spark, path, "UPDATE", condition, Some(set)))

  /** UPDATE ... SET ... WHERE by DELETION VECTOR: the matched rows'
    * positions are shadowed in their (unchanged) files and the updated
    * versions append as NEW files — cost O(changed rows), where
    * [[updateWhere]] rewrites every row of every touched file. Same
    * trade-offs and protocol upgrade as [[deleteWhereDv]]. Returns the
    * committed version, or -1 when nothing matched.
    */
  def updateWhereDv(spark: SparkSession, path: String, condition: Column,
      set: Map[String, Column]): Long =
    withDeletionVectors(spark, predicateDml(spark, path, "UPDATE", condition, Some(set)))

  /** DELETE FROM the Delta table at `path` WHERE `condition`: rewrite the
    * files holding matching rows without them, tombstone the originals,
    * one commit. The condition pushes into the discovery scan, so file
    * stats (and partition values) skip files that provably hold no match
    * — those are neither read nor rewritten. Returns the committed
    * version, or -1 when no row matched.
    */
  def deleteWhere(spark: SparkSession, path: String, condition: Column): Long =
    copyOnWrite(spark, predicateDml(spark, path, "DELETE", condition, None))

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
      maxVectorFileBytes: Long = DvWrite.DefaultMaxVectorFileBytes): Long =
    withDeletionVectors(spark, predicateDml(spark, path, "DELETE", condition, None),
      maxVectorFileBytes)

  // ------------------------------------------------------- the verb

  /** The table at `path` as every DML verb plans on it: the head
    * snapshot (its version is the commit's OCC read version) and the
    * logical schema, after the writability check. DML only removes or
    * replaces rows, so identity values carry over verbatim and the
    * watermark stands; MERGE's inserts mint their own values (assignment
    * + watermark bump + exclusive OCC, in [[Dml.inserts]]).
    */
  private def writable(spark: SparkSession, path: String): (DeltaRead.Snapshot, StructType) = {
    val snap = DeltaRead.snapshot(spark, path)
    require(snap.meta != null, s"$path has no metaData action in its _delta_log")
    DeltaWrite.checkWritable(snap.meta, snap.protocol, s"DML on $path", removesData = true,
      identityOk = true)
    (snap, DataType.fromJson(snap.meta.schemaJson).asInstanceOf[StructType])
  }

  /** The [[Dml]] of a predicate verb: UPDATE when `set` is given, DELETE
    * otherwise. SET expressions cast to their column's declared type; a
    * SET targeting an identity column would mint values outside the
    * identity contract, so it is refused.
    */
  private def predicateDml(spark: SparkSession, path: String, operation: String,
      condition: Column, set: Option[Map[String, Column]]): Dml = {
    set.foreach(s => require(s.nonEmpty, "set must map at least one column"))
    val (snap, schema) = writable(spark, path)
    val cast = set.map(_.map { case (k, e) =>
      require(schema.fieldNames.contains(k),
        s"SET column $k is not a column of the table (${schema.fieldNames.mkString(", ")})")
      require(!schema(k).metadata.contains("delta.identity.start"),
        s"SET targets identity column $k — identity values are engine-assigned " +
          "and never updated")
      k -> e.cast(schema(k).dataType)
    })
    Dml(path, snap, schema, operation, Seq("predicate" -> condition.toString),
      Some(condition), Nil, None, cast, insert = false, None)
  }

  /** One DML verb, independent of storage mode:
    *   - (a) how a row matches: `where` (a predicate over the row) or,
    *     without it, a semi-join of the row's `keys` to the `source` (at
    *     most one row per key, materialized) — or, for a small source,
    *     `keyList`, its keys as an IN list;
    *   - (b) what a matched row becomes: `set` maps columns to their new
    *     value over the row beside its source row ([[joined]] — a keyed
    *     verb reads the source's column `c` as `__s_c`); every other
    *     column keeps its value. None deletes the row;
    *   - (c) `insert`: MERGE's source rows that matched nothing are
    *     inserted.
    */
  private final case class Dml(path: String, snap: DeltaRead.Snapshot, schema: StructType,
      operation: String, params: Seq[(String, Any)], where: Option[Column],
      keys: Seq[String], source: Option[DataFrame], set: Option[Map[String, Column]],
      insert: Boolean, txn: Option[(String, Long)], keyList: Option[Column] = None) {
    def meta: DeltaRead.Meta = snap.meta
    val rt: Option[DeltaWrite.RowTracking] = DeltaWrite.rowTrackingOf(meta)
    def fieldCols: Seq[Column] = schema.fieldNames.map(col).toSeq
    /** Whether the table opted into the change data feed
      * (`delta.enableChangeDataFeed = true` — set at create or via
      * [[DeltaWrite.setTableProperties]]). DML on a CDF table pays one
      * extra pass over the matched rows to materialize the change rows.
      */
    val cdf: Boolean = meta.configuration.get("delta.enableChangeDataFeed").contains("true")

    /** (a) The matched rows of `rows`. */
    def matching(rows: DataFrame): DataFrame = where.orElse(keyList)
      .fold(rows.join(source.get.select(keys.map(col): _*), keys, "left_semi"))(rows.filter)

    /** (a) Whether a row of [[joined]] matched (a NULL predicate is no
      * match, as in SQL).
      */
    def hit: Column = where.fold(col("__m").isNotNull)(c => coalesce(c, lit(false)))

    /** `rows` beside what (b) reads: a keyed verb joins each row to its
      * source row (`__m` marks the match; `how` = left_outer keeps the
      * unmatched rows), a predicate verb reads the row alone.
      */
    def joined(rows: DataFrame, how: String): DataFrame = source.fold(rows)(s =>
      rows.join(s.select(keys.map(col) ++ schema.fieldNames.filter(n => set.exists(_.contains(n)))
        .map(n => col(n).as(s"__s_$n")) :+ lit(true).as("__m"): _*), keys, how))

    /** (b) As one projection of [[joined]] rows: a matched row takes `set`
      * and, under row tracking, keeps its stable id but nulls its
      * materialized commit version (this commit modifies it, so the fresh
      * default applies). With `onlyIf`, rows where it is false carry over
      * unchanged — ids AND original versions.
      */
    def becomes(onlyIf: Option[Column]): Seq[Column] = {
      def pick(updated: Column, kept: Column): Column =
        onlyIf.fold(updated)(h => when(h, updated).otherwise(kept))
      schema.fieldNames.map(n => set.flatMap(_.get(n)).fold(col(n))(e => pick(e, col(n)).as(n))) ++
        rt.toSeq.flatMap(r => Seq(col(s"`${r.matId}`"),
          pick(lit(null).cast("long"), col(s"`${r.matVer}`")).as(r.matVer)))
    }

    /** (c) The source rows whose key is not among the keys of `rows`
      * (holding every matched row) — or, once the matched keys were
      * observed (`seen`), not among them — as table rows: on an identity
      * table they get gap-free values assigned past the stored watermark
      * — the returned bumps then force the metaData republish and the
      * exclusive conflict guard in [[commitDml]]. Under row tracking
      * inserted rows are fresh on both materialized columns.
      */
    def inserts(rows: DataFrame, seen: Option[Seq[Row]]): (Option[DataFrame], Map[String, Long]) =
      if (!insert) (None, Map.empty)
      else {
        val rest = seen.fold(source.get.join(rows.select(keys.map(col): _*), keys, "left_anti"))(
          t => source.get.filter(!coalesce(keyIn(schema, keys, t), lit(false))))
        val (withIds, bumps) = DeltaWrite.mintIdentity(rest, DeltaWrite.identityFieldsOf(meta))
        (Some(withIds.select(fieldCols ++ rt.toSeq.flatMap(r => Seq(
          lit(null).cast("long").as(r.matId), lit(null).cast("long").as(r.matVer))): _*)), bumps)
      }
  }

  /** The change rows of a DML commit on a CDF table, from the three parts
    * of its verb: each `matched` row is a pre-image, and its `replaced`
    * row the post-image — or, when the verb replaces nothing, a delete;
    * each `inserted` row is an insert.
    */
  private def changes(d: Dml, matched: DataFrame, replaced: Option[DataFrame],
      inserted: Option[DataFrame]): Option[DataFrame] =
    if (!d.cdf) None
    else {
      def tagged(rows: DataFrame, kind: String): DataFrame =
        rows.select(d.fieldCols :+ lit(kind).as("_change_type"): _*)
      Some((Seq(tagged(matched, if (replaced.isEmpty) "delete" else "update_preimage")) ++
        replaced.map(tagged(_, "update_postimage")) ++ inserted.map(tagged(_, "insert")))
        .reduce(_ unionByName _))
    }

  // ------------------------------------------------------- the executors

  /** Run `d` copy-on-write: find the files holding matched rows
    * ([[observed]], nothing materialized), rewrite those files through ONE
    * projection ([[Dml.becomes]] over every row, matched rows dropped by a
    * delete), add the inserts, commit. Matched keys necessarily live in
    * touched files, so the replacement join and the insert split run
    * against the TOUCHED subset — the untouched 99% of the table is never
    * read again. The rewrite and the post-images join the source as the
    * planner chooses on both source paths, so a key list lays out no data
    * file differently; it only finds the pre-images without a join.
    */
  private def copyOnWrite(spark: SparkSession, d: Dml): Long = {
    val (_, touched, seen) = observed(d, d.matching(DeltaRead.filesDf(spark, d.path, d.meta,
      d.snap.files, provenance = true)), materialize = false)
    if (touched.isEmpty && !d.insert) return -1L
    val base = baseWithRowIds(spark, d.path, d.meta, touched, d.rt)
    val rows = d.joined(base, "left_outer")
    val kept = if (d.set.isEmpty) rows.filter(!d.hit) else rows
    val (inserted, hwBumps) = d.inserts(base, seen)
    val matched = rows.filter(d.hit)
    val newData = (kept.select(d.becomes(Some(d.hit)): _*) +: inserted.toSeq)
      .reduce(_ unionByName _)
    commitDml(spark, d, touched.map(DvPlan(_, None)), deletionVectors = false,
      Some(newData), changes(d, d.keyList.fold(matched)(base.filter),
        d.set.map(_ => matched.select(d.becomes(None): _*)), inserted), hwBumps)
  }

  /** Run `d` by deletion vector: ONE row-index scan finds the matched
    * rows, beside their source rows when they are replaced,
    * [[buildDvPlans]] shadows their positions, the replacement rows and
    * inserts append as new files, commit. When the matched rows feed more
    * than the bitmap build — replacements, the insert split, CDC images —
    * they are materialized once ([[observed]], O(changed rows), this
    * mode's contract), so the table is scanned exactly once. A keyed
    * verb's scan lists every live file even with a key list (parquet
    * still skips row groups): the replacement and change files follow its
    * partitions, which are then the semi-join's. Row tracking resolves
    * each replaced row's stable id here, before its position is shadowed,
    * so the re-appended row carries it materialized.
    */
  private def withDeletionVectors(spark: SparkSession, d: Dml,
      maxVectorFileBytes: Long = DvWrite.DefaultMaxVectorFileBytes): Long = {
    val live = d.snap.files
    val root = new Path(d.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hits = d.matching(DeltaRead.filesDf(spark, d.path, d.meta, live, provenance = true,
      rowIndex = true, extraPhysCols = DeltaWrite.rowTrackingFields(d.rt),
      dataSkipping = d.where.isDefined))
    val found = d.set.fold(hits)(_ => d.joined(hits, "inner"))
    val resolved = d.rt.filter(_ => d.set.isDefined).fold(found)(r =>
      DeltaWrite.materializeRowIds(spark, d.path, r, live, found, keepHelpers = true))
    // without CDF a keyed verb drops every table column but the keys and
    // the identity columns (a matched row re-appends with the TARGET's
    // values): the bitmaps, replacements and insert split read only
    // those, the positions, stable ids and source values
    val pruned = if (d.cdf || d.where.isDefined) resolved
      else resolved.drop(d.schema.fieldNames.filterNot((d.keys ++
        DeltaWrite.identityFieldsOf(d.meta).map(_.name)).contains): _*)
    val (matched, _, seen) =
      if (d.cdf || d.set.isDefined || d.insert) observed(d, pruned, materialize = true)
      else (pruned, Nil, None)
    val planned = buildDvPlans(spark, fs, root, live, matched, maxVectorFileBytes)
    if (planned.isEmpty && !d.insert) return -1L
    // one replacement PER MATCHED TARGET ROW, not per source key: a
    // duplicate-key target row shadows BOTH positions, and the
    // copy-on-write path updates both (multiplicity preserved — upstream
    // Delta MERGE semantics); the source holds ≤1 row per key
    val replaced = d.set.map(_ => matched.select(d.becomes(None): _*))
    val (inserted, hwBumps) = d.inserts(matched, seen)
    commitDml(spark, d, planned, deletionVectors = true,
      (replaced.toSeq ++ inserted).reduceOption(_ unionByName _),
      changes(d, matched, replaced, inserted), hwBumps)
  }

  /** Run `hits` — the matched rows — in ONE job that observes the live
    * files they sit in and, with a key list, the keys they matched: only
    * distinct values reach the driver, O(files touched + source keys),
    * never O(rows). With `materialize` the same job checkpoints the rows
    * (O(changed rows)) for the readers after it.
    */
  private def observed(d: Dml, hits: DataFrame, materialize: Boolean)
      : (DataFrame, Seq[DeltaRead.LiveFile], Option[Seq[Row]]) = {
    val obs = new Observation()
    val watched = hits.observe(obs, collect_set(col("__file")).as("f"), d.keyList.map(_ =>
      collect_set(struct(d.keys.map(col): _*)).as("k")).toSeq: _*)
    val out = if (materialize) watched.localCheckpoint()
      else { watched.write.format("noop").mode("overwrite").save(); hits }
    val live = byBasename(d.snap.files)
    val hit = obs.get("f").asInstanceOf[scala.collection.Seq[String]].map(liveByUri(live, _)).toSet
    (out, d.snap.files.filter(hit),
      d.keyList.map(_ => obs.get("k").asInstanceOf[scala.collection.Seq[Row]].toSeq))
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

  /** Live files keyed by basename, for [[liveByUri]]. */
  private def byBasename(live: Seq[DeltaRead.LiveFile]): Map[String, Seq[DeltaRead.LiveFile]] =
    live.groupBy(f => f.path.substring(f.path.lastIndexOf('/') + 1))

  /** Attribute a scan's `__file` — the qualified URI — to a live file.
    * Live paths are log-relative, or ABSOLUTE for clone-referenced files.
    * Part names embed a UUID, so matching on the BASENAME is exact within
    * one table; the endsWith re-check only disambiguates the
    * (practically impossible) basename collision. Keyed lookup keeps
    * attribution O(|touched| + |live|) — a naive abs×live suffix scan is
    * 10¹⁰+ compares at a million files.
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

  /** Whether a row's `keys` are one of `tuples`, with the join's
    * equality: one key column whose literals compare as the join does
    * ([[listable]]) is listed as it is; any other key is listed as a
    * struct, compared by Spark's ordering (NaN equals NaN, -0.0 equals
    * 0.0, binary by content). NULL when a listed single key is NULL.
    */
  private def keyIn(schema: StructType, keys: Seq[String], tuples: Seq[Row]): Column = keys match {
    case Seq(k) if listable(schema(k)) => inSet(col(k), schema(k).dataType, tuples.map(_.get(0)))
    case _ => inSet(struct(keys.map(col): _*), StructType(keys.map(schema(_))), tuples)
  }

  /** `c` IN `values` (of type `t`) as one InSet: a thousand-key list is
    * one expression to analyze, not a thousand literals.
    */
  private def inSet(c: Column, t: DataType, values: Seq[Any]): Column = GraftSqlShims.column(
    InSet(GraftSqlShims.expression(c), values.map(Literal.create(_, t).value).toSet))

  /** Key columns whose IN-list literals compare as the join's keys do —
    * not floats (-0.0 and NaN compare apart), not binary (by reference).
    */
  private def listable(f: StructField): Boolean = f.dataType.isInstanceOf[DecimalType] ||
    Seq(ByteType, ShortType, IntegerType, LongType, StringType, DateType, TimestampType)
      .contains(f.dataType)

  /** The bytes a value of type `t` holds: fixed widths as Spark sizes
    * them, strings and binaries by their length, a nested value by the
    * length of its JSON text (a number's digits count, so it errs large).
    */
  private def bytesOf(c: Column, t: DataType): Column = t match {
    case _: StringType | BinaryType => coalesce(octet_length(c).cast("long"), lit(0L))
    case _: ArrayType | _: MapType | _: StructType => bytesOf(to_json(c), StringType)
    case _ => lit(t.defaultSize.toLong)
  }

  /** A key value under `groupBy`'s equality, for the driver-side
    * cardinality check: NULL equals NULL, NaN equals NaN (the canonical
    * bits), -0.0 equals 0.0 (adding 0.0 turns -0.0 into 0.0), binary by
    * content.
    */
  private def groupKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
    case f: Float => java.lang.Float.floatToIntBits(f + 0.0f)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(groupKey)
    case o => o
  }

  // ------------------------------------------------------- DV internals

  /** One touched file's fate in a DML commit: with a `descriptor` (a
    * vector ALREADY WRITTEN to a vector file, covering the union of its
    * existing DV with the newly shadowed positions) the file is re-added
    * under it; with None it is removed outright — every remaining row
    * shadowed, or rewritten by copy-on-write.
    */
  private final case class DvPlan(file: DeltaRead.LiveFile,
      descriptor: Option[DeletionVectors.Descriptor])

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
      maxVectorFileBytes: Long): Seq[DvPlan] = {
    import spark.implicits._
    val byBase = byBasename(live)
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

  // ------------------------------------------------------- the commit

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

  /** Publish `d`'s commit, atomically: stage `newRows` (partitioned like
    * the table), tombstone every planned file, re-add the partially
    * shadowed ones under their vector, add the staged files, and stage
    * cdc. Copy-on-write plans every touched file as removed outright, so
    * it re-adds nothing; with `deletionVectors` the vectors were already
    * written (executor-side) by [[buildDvPlans]], the tombstones carry the
    * vector each file had, and the protocol upgrades on the table's first
    * vector.
    */
  private def commitDml(spark: SparkSession, d: Dml, planned: Seq[DvPlan],
      deletionVectors: Boolean, newRows: Option[DataFrame], cdcData: Option[DataFrame],
      hwBumps: Map[String, Long]): Long = {
    val DeltaRead.Snapshot(readVersion, meta, _, proto, domains, _) = d.snap
    val root = new Path(d.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val where = s"${d.operation} on ${d.path}"
    val adds = newRows.toSeq.flatMap(stageForTable(_, meta, root, where))
    val protocol =
      if (deletionVectors) dvProtocolUpgrade(proto, where) else None
    val tracked = d.rt.isDefined || proto.writerFeatures.contains("rowTracking")
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
      d.txn.foreach { case (appId, txnVersion) =>
        lines += DeltaActions.txn(appId, txnVersion, now)
      }
      // only DV tombstones carry the file's vector; readers key a
      // tombstone by path alone
      planned.foreach { p =>
        lines += DeltaActions.remove(p.file.path, now, dataChange = true,
          if (deletionVectors) p.file.dv else None)
      }
      planned.foreach {
        case DvPlan(f, Some(dv)) =>
          lines += DeltaActions.add(f.path, f.partitionValues, f.size, f.modificationTime,
            dataChange = true, f.stats, Some(dv), f.baseRowId, f.defaultRowCommitVersion)
        case _ =>
      }
      lines ++= DeltaWrite.renderAdds(spark, d.path, tracked,
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
      if (hwBumps.nonEmpty) ConflictGuard.exclusive(removed, d.txn.map(_._1))
      else ConflictGuard.disjointRewrite(removed, d.txn.map(_._1))
    DeltaWrite.commit(spark, d.path, readVersion, meta, d.operation,
      if (deletionVectors) d.params :+ ("deletionVectors" -> true) else d.params, guard)(mkLines)
  }
}
