package graft

import java.nio.file.{Files, Path}
import java.util.{Comparator, Properties}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The set-up every main shares (Bench, BenchOne, ExplainOne, Verify and the
  * `tools` mains): one session shape, one cpu count, one scratch root, and
  * one meter of Spark work that the mains and the suite's cost pins read.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with `cpus` shuffle partitions, the UTC session
    * time zone, the graft extensions, no UI and WARN logging.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One process-wide scratch root, deleted on JVM exit — mains and
    * queries that need disk (bench fixtures, ScaleRun's indexes and tables,
    * the in-query Delta tables of q94/q106+) carve subdirs here instead of
    * leaking a fresh createTempDirectory per iteration/run.
    */
  private lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("graft_tmp")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (Files.exists(root))
        Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
    }))
    root
  }
  private val tmpSeq = new AtomicInteger(0)

  /** A fresh directory `<prefix>_<n>` under the scratch root. */
  def tmp(prefix: String): String =
    Files.createDirectory(tmpRoot.resolve(prefix + "_" + tmpSeq.incrementAndGet())).toString

  /** The Spark work of a block of code: its jobs and how many of them
    * failed, their tasks, the records and bytes their scans read and the
    * bytes their shuffles wrote.
    */
  final case class Cost(jobs: Int, failedJobs: Int, tasks: Long,
      inputRecords: Long, inputBytes: Long, shuffleBytes: Long)

  private val meterSeq = new AtomicInteger(0)

  /** `f`'s result and the [[Cost]] of the Spark jobs it starts from this
    * thread. `f` runs under a fresh job group, which Spark hands on to the
    * threads that run a query's broadcasts and subqueries and to threads
    * created inside `f`; a job that another thread starts is not counted.
    * The counts are read once the listener bus has drained, so every event
    * of `f`'s jobs is in them. The thread's job group is cleared afterwards,
    * so meters do not nest.
    */
  def meter[T](spark: SparkSession)(f: => T): (T, Cost) = {
    val sc = spark.sparkContext
    val m = new Meter(s"graft-meter-${meterSeq.incrementAndGet()}")
    sc.addSparkListener(m)
    sc.setJobGroup(m.group, "graft meter")
    try {
      val out = f
      ListenerDrain.drain(sc)
      (out, m.cost)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(m) }
  }

  /** Counts the jobs of one job group and the tasks of the stages they
    * submit.
    */
  private final class Meter(val group: String) extends SparkListener {
    private val jobIds, stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val failed = new AtomicInteger(0)
    private val tasks, records, input, shuffle = new AtomicLong(0L)
    private def ours(p: Properties): Boolean =
      p != null && p.getProperty("spark.jobGroup.id") == group

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (ours(e.properties)) jobIds.add(e.jobId)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobIds.contains(e.jobId) && e.jobResult != JobSucceeded) failed.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) stageIds.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(e.stageId)) {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          records.addAndGet(m.inputMetrics.recordsRead)
          input.addAndGet(m.inputMetrics.bytesRead)
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }

    def cost: Cost = Cost(jobIds.size, failed.get, tasks.get, records.get, input.get, shuffle.get)
  }
}
