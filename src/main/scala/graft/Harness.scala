package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** The set-up every main shares (Bench, BenchOne, ExplainOne, Verify and the
  * `tools` mains): one session shape, one cpu count, one scratch root.
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
}
