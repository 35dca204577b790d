package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a closed loop of operations driven by a
  * single client thread. `prepare` builds the inputs and standing state
  * from the seed, `op` runs and checks one unit of work. A failed check
  * throws.
  */
trait Workload {
  /** Build the generated inputs and standing tables. */
  def prepare(): Unit
  /** Untimed warm-up after prepare: JIT, codegen, file footers. */
  def warmup(): Unit
  /** Run and check the i-th operation. */
  def op(i: Int): Main.OpResult
  /** Ops per cycle: a run stops only after a whole number of cycles, so
    * each kind of op in a cycle has the same weight in every run.
    */
  def cycle: Int = 1
}

object Main {
  /** `kind` labels the op in the log (the query name in query_mix), `rows`
    * is the input rows the op completed, `notes` carry phase times and
    * counters the op measured itself (phase medians go to the detail line,
    * counters to the traced run's per-layer report).
    */
  final case class OpResult(kind: String, rows: Long,
      notes: Map[String, Double] = Map.empty)

  final class CheckFailed(msg: String) extends RuntimeException(msg)

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, traces: String, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), req("traces"), req("cores").toInt)
  }

  val Workloads = Seq("connector", "curation", "lakehouse", "query_mix")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = Stats.uptimeS()

    val w: Workload = a.workload match {
      case "connector" => new Connector(spark, a.seed, a.work)
      case "curation" => new CurationLoad(spark, a.seed, a.work)
      case "lakehouse" => new Lakehouse(spark, a.seed, a.work)
      case "query_mix" => new QueryMix(spark, a.seed, a.work)
    }
    w.prepare()
    val prepS = Stats.uptimeS() - bootS
    w.warmup()
    // process start to the first timed op
    val setupS = Stats.uptimeS()
    System.err.println(f"[perfbench] boot $bootS%.2fs prepare $prepS%.2fs warmup ${setupS - bootS - prepS}%.2fs")

    val report =
      if (!a.trace) Report.endToEnd(a.workload, Loop.run(w, a.seconds, alternate = false), setupS)
      else {
        // traced and untraced ops alternate, so both see the same warm-up
        // state; the untraced ones give the reference op_s_p50
        val tracer = Trace.install(spark)
        val loop = Loop.run(w, a.seconds, alternate = true)
        val events = tracer.collect()
        Trace.write(events.spans, s"${a.traces}/${a.workload}-seed${a.seed}.jsonl")
        Report.perLayer(a.workload, loop, events, a.cores)
      }
    spark.stop()
    println(report.detail)
    println(report.line)
    if (!report.correct) sys.exit(1)
  }
}

/** The closed loop: one client thread issues the next op when the previous
  * one returns, until `seconds` have passed since the first op started and
  * the last cycle of ops is complete. An op started before the deadline
  * runs to its end, so a run holds at least one cycle; a traced run holds
  * at least two ops (one traced, one untraced).
  */
object Loop {
  final case class Done(i: Int, kind: String, startNs: Long, endNs: Long,
      rows: Long, notes: Map[String, Double], traced: Boolean)
  final case class Result(ops: Seq[Done], failures: Seq[String])

  /** With `alternate`, ops run traced in the pattern untraced, traced,
    * traced, untraced (repeating), so a traced run has at least one of each.
    */
  def run(w: Workload, seconds: Double, alternate: Boolean): Result = {
    val ops = Seq.newBuilder[Done]
    val failures = Seq.newBuilder[String]
    val t0 = System.nanoTime()
    val limit = t0 + (seconds * 1e9).toLong
    var i = 0
    val minOps = if (alternate) 2 else 1
    while (System.nanoTime() < limit || i < minOps || i % w.cycle != 0) {
      val s = System.nanoTime()
      try {
        val traced = alternate && (i + 1) / 2 % 2 == 1
        val r = if (traced) Trace.during(Trace.op(i)(w.op(i))) else w.op(i)
        val e = System.nanoTime()
        ops += Done(i, r.kind, s, e, r.rows, r.notes, traced)
        System.err.println(f"[perfbench] op $i ${r.kind} ${(e - s) / 1e9}%.3fs")
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $i failed: $e")
          failures += s"op $i: ${e.getMessage}"
      }
      i += 1
    }
    Result(ops.result(), failures.result())
  }
}
