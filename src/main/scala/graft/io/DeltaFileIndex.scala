package graft.io

import scala.collection.Searching.{Found, InsertionPoint}
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.JsonNode

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, BoundReference, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, IsNotNull, LessThan, LessThanOrEqual, Literal, Or, Predicate,
  StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] backed entirely by a replayed Delta log — the idiomatic
  * Spark integration point (the same seam delta-core plugs into): the scan
  * planner hands `listFiles` its pushed partition AND data filters, so
  *
  *   - partition pruning evaluates the filters against each file's
  *     log-declared `partitionValues` (no directory listing, no dependence
  *     on hive-style paths), and
  *   - DATA SKIPPING evaluates comparison filters against each file's
  *     `add.stats` min/max (numRecords/minValues/maxValues, the statistics
  *     Delta writers embed per file) — a pruned file is never OPENED,
  *     which on object storage beats parquet row-group skipping (that
  *     still pays a GET per footer).
  *
  * Unsupported filter shapes keep the file (skipping is an optimization,
  * never a correctness decision); missing stats keep the file.
  */
/** GENERATED-COLUMN partition pruning: when a partition column is
  * declared `delta.generationExpression` over a data column through a
  * MONOTONE transform, a pushed data filter on the SOURCE column derives
  * a partition-value bound — `ts >= T` prunes `day = date(ts)` partitions
  * below `date(T)` without the query ever mentioning `day`. This is the
  * optimization that makes date-partitioned 100 TB tables answer
  * time-range queries from a handful of partitions; without it the
  * time predicate only helps at the (already-open) file-stats level.
  *
  * Recognized (all monotone non-decreasing, so `src ⊙ L` maps to
  * `part ⊙' f(L)` conservatively): `date(x)` / `CAST(x AS DATE)` on
  * timestamp or date sources, `year(x)`, and prefix
  * `substring(x, 1, n)`. Anything else derives nothing (pruning is an
  * optimization, never a correctness decision). Disabled on mapped
  * tables (generation expressions name logical columns; the scan runs
  * physical names).
  */
private[io] final case class GenPrune(srcCol: String,
    toPart: Any => Option[Any])

private[io] object GeneratedPruning {
  private val DateOf =
    """(?i)\s*(?:date\s*\(\s*`?(\w+)`?\s*\)|cast\s*\(\s*`?(\w+)`?\s+as\s+date\s*\))\s*""".r
  private val YearOf = """(?i)\s*year\s*\(\s*`?(\w+)`?\s*\)\s*""".r
  private val PrefixOf =
    """(?i)\s*substr(?:ing)?\s*\(\s*`?(\w+)`?\s*,\s*1\s*,\s*(\d+)\s*\)\s*""".r

  /** The table property recording the session timezone under which a
    * table's generated TIMESTAMP-source partition values were computed.
    * Written at table creation; without it, timestamp-source derivation
    * is DISABLED (the reader's zone proves nothing about the writer's,
    * and deriving under the wrong zone prunes files that hold matching
    * rows — a wrong answer, not a missed optimization). DateType and
    * string-prefix sources are zone-free and always derive.
    */
  val TimeZoneProp = "graft.generation.timeZone"

  /** True when the schema declares a date()/year() generation expression
    * over a TIMESTAMP source — the shapes whose partition values depend
    * on the session timezone at write time, so creation must record it
    * under [[TimeZoneProp]] for the reader to derive pruning bounds.
    */
  def needsWriterZone(schema: StructType): Boolean =
    schema.fields.exists { f =>
      f.metadata.contains("delta.generationExpression") &&
        (f.metadata.getString("delta.generationExpression") match {
          case DateOf(c1, c2) =>
            schema.find(_.name == Option(c1).getOrElse(c2))
              .exists(_.dataType == TimestampType)
          case YearOf(src) =>
            schema.find(_.name == src).exists(_.dataType == TimestampType)
          case _ => false
        })
    }

  def forPartitionCols(schema: StructType, partCols: Seq[String],
      writerZone: Option[String]): Map[String, GenPrune] = {
    val zoneOpt = writerZone.flatMap(z =>
      scala.util.Try(java.time.ZoneId.of(z)).toOption)
    def srcType(c: String): Option[DataType] =
      schema.find(_.name == c).map(_.dataType)
    def microsToLocalDate(zone: java.time.ZoneId)(
        micros: Long): java.time.LocalDate =
      java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L).atZone(zone).toLocalDate
    partCols.flatMap { pc =>
      schema.find(_.name == pc)
        .filter(_.metadata.contains("delta.generationExpression"))
        .flatMap { f =>
          f.metadata.getString("delta.generationExpression") match {
            case DateOf(c1, c2) =>
              val src = Option(c1).getOrElse(c2)
              srcType(src) match {
                // TIMESTAMP sources need the WRITER's zone (recorded at
                // creation) — derived nothing without it
                case Some(TimestampType) => zoneOpt.map(z =>
                  pc -> GenPrune(src, {
                    case micros: Long =>
                      Some(microsToLocalDate(z)(micros).toEpochDay.toInt)
                    case _ => None
                  }))
                case Some(DateType) => Some(pc -> GenPrune(src, {
                  case days: Int => Some(days)
                  case _ => None
                }))
                case _ => None
              }
            case YearOf(src) =>
              srcType(src) match {
                case Some(TimestampType) => zoneOpt.map(z =>
                  pc -> GenPrune(src, {
                    case micros: Long =>
                      Some(microsToLocalDate(z)(micros).getYear)
                    case _ => None
                  }))
                case Some(DateType) => Some(pc -> GenPrune(src, {
                  case days: Int =>
                    Some(java.time.LocalDate.ofEpochDay(days.toLong).getYear)
                  case _ => None
                }))
                case _ => None
              }
            case PrefixOf(src, len) =>
              srcType(src).collect {
                case StringType => pc -> GenPrune(src, {
                  // code-POINT prefix (substringSQL), matching the
                  // substring() generation expression — a UTF-16 take(n)
                  // diverges on supplementary characters and would prune
                  // files holding matching rows
                  case s: UTF8String => Some(s.substringSQL(1, len.toInt))
                  case _ => None
                })
              }
            case _ => None
          }
        }
    }.toMap
  }
}

private[io] class DeltaLogFileIndex(
    spark: SparkSession,
    tablePath: String,
    files: Seq[DeltaRead.LiveFile],
    override val partitionSchema: StructType,
    genPrune: Map[String, GenPrune] = Map.empty,
    dataSkipping: Boolean = true) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = {
    val s = files.map(_.size).sum
    if (s > 0) s else files.size.toLong * 134217728L
  }

  override def inputFiles: Array[String] =
    files.map(f => DeltaRead.resolveFilePath(tablePath, f.path)).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partValues: Map[Map[String, String], InternalRow] =
      files.map(_.partitionValues).distinct
        .map(pv => pv -> partitionRow(pv)).toMap

    val partPred: InternalRow => Boolean =
      if (partitionFilters.isEmpty) _ => true
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(_.name == a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }
        val p = Predicate.createInterpreted(bound)
        row => p.eval(row)
      }

    // each filter compiles once per listing, each file's stats parse once
    val skipping = if (dataSkipping) dataFilters else Nil
    val tests = skipping.map(mayMatch)
    files
      .filter(f => partPred(partValues(f.partitionValues)))
      .filter(f => tests.isEmpty || f.stats.map(DeltaActions.parse).forall(st => tests.forall(_(st))))
      .filter(f => skipping.forall(genMayMatch(partValues(f.partitionValues), _)))
      .groupBy(_.partitionValues)
      .map { case (pv, fs) =>
        PartitionDirectory(partValues(pv), fs.map(fileStatus).toArray)
      }.toSeq
  }

  /** Generated-column pruning test: false ONLY when a data filter on a
    * generation SOURCE column proves the file's partition value cannot
    * hold a matching row (monotone transforms — see [[GeneratedPruning]]).
    * `src > L` and `src >= L` both require `part >= f(L)` (the transform
    * collapses values, so the boundary partition may still hold matches);
    * mirrored for `<`/`<=`; equality requires `part == f(L)`.
    */
  private def genMayMatch(partRow: InternalRow, filter: Expression): Boolean = {
    if (genPrune.isEmpty) return true
    def partVal(pc: String): Option[Any] = {
      val i = partitionSchema.indexWhere(_.name == pc)
      if (i < 0 || partRow.isNullAt(i)) None
      else Some(partRow.get(i, partitionSchema(i).dataType))
    }
    def cmpAny(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Int, y: Int) => Some(Integer.compare(x, y))
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: UTF8String, y: UTF8String) => Some(x.compareTo(y))
      case _ => None
    }
    /** cmp(partValue, f(L)) for the entry keyed by the filter's source. */
    def bound(src: String, lit: Any): Option[Int] = for {
      (pc, gp) <- genPrune.find(_._2.srcCol == src)
      fl <- gp.toPart(lit)
      pv <- partVal(pc)
      c <- cmpAny(pv, fl)
    } yield c
    filter match {
      case EqualTo(a: AttributeReference, Literal(v, _)) if v != null =>
        bound(a.name, v).forall(_ == 0)
      case EqualTo(l: Literal, a: AttributeReference) =>
        genMayMatch(partRow, EqualTo(a, l))
      case GreaterThan(a: AttributeReference, Literal(v, _)) if v != null =>
        bound(a.name, v).forall(_ >= 0)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
        bound(a.name, v).forall(_ >= 0)
      case LessThan(a: AttributeReference, Literal(v, _)) if v != null =>
        bound(a.name, v).forall(_ <= 0)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
        bound(a.name, v).forall(_ <= 0)
      case GreaterThan(l: Literal, a: AttributeReference) =>
        genMayMatch(partRow, LessThan(a, l))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        genMayMatch(partRow, LessThanOrEqual(a, l))
      case LessThan(l: Literal, a: AttributeReference) =>
        genMayMatch(partRow, GreaterThan(a, l))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        genMayMatch(partRow, GreaterThanOrEqual(a, l))
      case And(l, r) => genMayMatch(partRow, l) && genMayMatch(partRow, r)
      case _ => true
    }
  }

  private lazy val fs =
    new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The parquet reader locates footers by LENGTH, so size must be real:
    * the log's `add.size` is authoritative when present (true in any
    * writer-produced log); a missing/zero size stats the file once.
    */
  private def fileStatus(f: DeltaRead.LiveFile): FileStatus = {
    val p = new Path(DeltaRead.resolveFilePath(tablePath, f.path))
    if (f.size > 0L)
      new FileStatus(f.size, false, 1, 134217728L, f.modificationTime, p)
    else fs.getFileStatus(p)
  }

  /** Conservative file-level skip test over a file's parsed `add.stats`:
    * false ONLY when the stats PROVE no row can match `filter`. Built once
    * per listing, so an IN list sorts once and each file costs one binary
    * search.
    */
  private def mayMatch(filter: Expression): JsonNode => Boolean = filter match {
    case EqualTo(a: AttributeReference, Literal(v, _)) if v != null => anyWithin(a, Seq(v))
    case EqualTo(l: Literal, a: AttributeReference) => mayMatch(EqualTo(a, l))
    case LessThan(a: AttributeReference, Literal(v, _)) if v != null =>
      st => stat(st, "minValues", a.name).flatMap(cmp(_, v, a.dataType)).forall(_ < 0)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
      st => stat(st, "minValues", a.name).flatMap(cmp(_, v, a.dataType)).forall(_ <= 0)
    case GreaterThan(a: AttributeReference, Literal(v, _)) if v != null =>
      st => stat(st, "maxValues", a.name).flatMap(cmp(_, v, a.dataType)).forall(_ > 0)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
      st => stat(st, "maxValues", a.name).flatMap(cmp(_, v, a.dataType)).forall(_ >= 0)
    case IsNotNull(a: AttributeReference) => st =>
      val allNull = for {
        nc <- stat(st, "nullCount", a.name); n <- Option(st.get("numRecords"))
      } yield nc.toLong >= n.asLong() && n.asLong() > 0
      !allNull.getOrElse(false)
    // IN-list: skip only when EVERY value falls outside [min, max] — the
    // file-level form of MERGE's key lists and the repair-scan `isin`
    // filters; a null literal matches nothing but proves nothing
    case In(a: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
      val values = list.map(_.asInstanceOf[Literal].value)
      if (values.contains(null)) _ => true else anyWithin(a, values)
    case InSet(a: AttributeReference, set) => anyWithin(a, set.filter(_ != null).toSeq)
    case Or(l, r) =>
      val (ml, mr) = (mayMatch(l), mayMatch(r))
      st => ml(st) || mr(st)
    case StartsWith(a: AttributeReference, Literal(v, StringType)) if v != null =>
      // every p-prefixed string lies in [p, p-with-last-char-incremented):
      // skip when the file's max < p or its min >= that upper bound
      val p = v.toString
      val pIncr = if (p.nonEmpty && p.last != Char.MaxValue)
        Some(p.init + (p.last + 1).toChar) else None
      st => (for {
        lo <- stat(st, "minValues", a.name); hi <- stat(st, "maxValues", a.name)
      } yield hi.compareTo(p) >= 0 && pIncr.forall(q => lo.compareTo(q) < 0)).getOrElse(true)
    case And(l, r) =>
      val (ml, mr) = (mayMatch(l), mayMatch(r))
      st => ml(st) && mr(st)
    case _ => _ => true
  }

  private def stat(stats: JsonNode, kind: String, c: String): Option[String] =
    Option(stats.get(kind)).flatMap(n => Option(n.get(c))).map(_.asText())

  /** Numbers compare as doubles (-0.0 equal to 0.0, as SQL equality has
    * it), strings as strings; any other type proves nothing.
    */
  private val NumOrder: Ordering[Double] = (x, y) => if (x == y) 0 else java.lang.Double.compare(x, y)

  private def cmp(a: String, b: Any, tpe: DataType): Option[Int] = tpe match {
    case _: NumericType => Try(NumOrder.compare(a.toDouble, b.toString.toDouble)).toOption
    case _: StringType => Some(a.compareTo(b.toString))
    case _ => None
  }

  /** Whether some of `values` may lie in a file's [min, max] of `a`: the
    * values sort once, and each file looks up the first one at or above
    * its min. Unparseable values or stats keep the file.
    */
  private def anyWithin(a: AttributeReference, values: Seq[Any]): JsonNode => Boolean = {
    def within[T](parse: String => T, sorted: IndexedSeq[T])(implicit o: Ordering[T]): JsonNode => Boolean =
      st => (for {
        lo <- stat(st, "minValues", a.name).flatMap(s => Try(parse(s)).toOption)
        hi <- stat(st, "maxValues", a.name).flatMap(s => Try(parse(s)).toOption)
      } yield sorted.search(lo) match {
        case Found(_) => true
        case InsertionPoint(i) => i < sorted.length && o.lteq(sorted(i), hi)
      }).getOrElse(true)
    a.dataType match {
      case _: NumericType => Try(values.map(_.toString.toDouble)).toOption
        .fold[JsonNode => Boolean](_ => true)(vs => within(_.toDouble, vs.toIndexedSeq.sorted(NumOrder))(NumOrder))
      case _: StringType => within(identity, values.map(_.toString).toIndexedSeq.sorted)
      case _ => _ => true
    }
  }

  /** Delta partitionValues are strings; convert to the partition schema's
    * types the way hive-partition parsing would.
    */
  private def partitionRow(pv: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { field =>
      val raw = pv.get(field.name).orNull
      if (raw == null) null
      else field.dataType match {
        case StringType => UTF8String.fromString(raw)
        case IntegerType => raw.toInt
        case LongType => raw.toLong
        case ShortType => raw.toShort
        case ByteType => raw.toByte
        case DoubleType => raw.toDouble
        case FloatType => raw.toFloat
        case BooleanType => raw.toBoolean
        case DateType =>
          java.time.LocalDate.parse(raw).toEpochDay.toInt
        case TimestampType =>
          java.sql.Timestamp.valueOf(raw).getTime * 1000L
        case d: DecimalType =>
          org.apache.spark.sql.types.Decimal(BigDecimal(raw), d.precision, d.scale)
        case other =>
          throw new IllegalArgumentException(
            s"unsupported partition type $other for column ${field.name}")
      }
    })
}
