package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.{Bench, SparkEntry}
import Main.{OpResult, check}

/** One op = one query over the synthetic star schema, materialized through
  * the noop sink. The queries are a fixed, evenly spaced sample of the set
  * `Bench` times (the registry minus `Bench`'s skip list): every run times
  * the same queries, so a run's median does not hinge on which queries its
  * window happened to reach. Setup runs the sample three times over
  * (codegen, footer caches and the JIT warm up there); the timed loop then
  * runs it in seeded order, one fresh permutation per pass, and stops only
  * after a multiple of four passes, so every query has the same weight in a
  * run and at least four samples. Every execution observes its row count and
  * an order-independent hash of its rows, which must equal the first
  * execution's.
  */
final class QueryMix(spark: SparkSession, seed: Long, work: String) extends Workload {
  val ScaleFactor = 0.01
  val Sampled = 6

  /** `Bench.skip` is private to Bench; read it rather than copy it, so the
    * mix follows the bench's own set.
    */
  private def benchSkip: Set[String] = {
    val f = Bench.getClass.getDeclaredField("skip")
    f.setAccessible(true)
    f.get(Bench).asInstanceOf[Set[String]]
  }

  val names: IndexedSeq[String] = {
    val all = (SparkEntry.queries.keySet -- benchSkip).toIndexedSeq.sorted
    (0 until Sampled).map(k => all(k * all.size / Sampled))
  }
  private val dir = s"$work/query_mix"
  private var counts: Map[String, Long] = _
  private var rng: SplittableRandom = _
  private val order = mutable.ArrayBuffer[String]()
  private val seen = mutable.Map[String, (Long, Long)]()
  private val inputRows = mutable.Map[String, Long]()

  def prepare(): Unit = {
    counts = Gen.starSchema(spark, seed, ScaleFactor, dir)
    rng = new SplittableRandom(seed ^ 0x9e3779b9L)
  }

  def warmup(): Unit = (1 to 3).foreach(_ => names.foreach(run))

  override def cycle: Int = 4 * Sampled

  def op(i: Int): OpResult = {
    while (order.size <= i) {
      val perm = names.toArray
      Gen.shuffle(rng, perm)
      order ++= perm
    }
    OpResult(order(i), run(order(i)))
  }

  /** Hashable form of a column: maps have no hash in Spark SQL. */
  private def hashable(c: String, df: DataFrame) = df.schema(c).dataType match {
    case _: MapType | _: StructType | _: ArrayType => to_json(col(s"`$c`"))
    case _ => col(s"`$c`")
  }

  /** Runs and checks one query; returns the input rows it read. */
  private def run(name: String): Long = {
    val df = Trace.span(s"queries:$name")(SparkEntry.queries(name)(spark, dir))
    val obs = Observation(s"$name-${java.util.UUID.randomUUID()}")
    val h = if (df.columns.isEmpty) lit(0L)
      else pmod(xxhash64(df.columns.toIndexedSeq.map(hashable(_, df)): _*), lit(2147483647L))
    Trace.span(s"queries:$name")(df.observe(obs, count(lit(1)).as("n"), coalesce(sum(h), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save())
    val got = (obs.get("n").asInstanceOf[Long], obs.get("h").asInstanceOf[Long])
    seen.get(name) match {
      case Some(prev) => check(prev == got, s"$name result (rows, hash) $got != earlier $prev")
      case None => seen(name) = got
    }
    inputRows.getOrElseUpdate(name, scannedRows(df))
  }

  /** Rows of the star-schema tables the query's plan reads. */
  private def scannedRows(df: DataFrame): Long = {
    val paths = df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.map(_.getName)
        case _ => Nil
      }
    }.flatten
    paths.flatMap(p => counts.get(p.stripSuffix(".parquet"))).sum
  }
}
