package graft.perfbench

/** Turns loop results and trace events into the benchmark's output: a
  * detail line (every metric with unit and sample count) and the result
  * line the contract reads, printed last.
  */
object Report {
  final case class Metric(name: String, value: Double, unit: String, n: Int)
  final case class Out(detail: String, line: String, correct: Boolean)

  /** The end-to-end metrics of the result line (BENCHMARK.json `end_to_end`). */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_s_p50", "rows_per_s", "peak_rss_mb")

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `all` goes to the detail line; the result line carries the metrics
    * named in `resultNames`, in that order.
    */
  private def out(workload: String, loop: Loop.Result, all: Seq[Metric],
      resultNames: Seq[String]): Out = {
    val failed = loop.failures.size
    val attempted = loop.ops.size + failed
    val correct = failed == 0 && attempted > 0
    val result = resultNames.map(k => all.find(_.name == k).getOrElse(
      throw new IllegalStateException(s"$workload did not produce metric $k")))
    val ms = result.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    val detail = all.map(m =>
      s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}, \"n\": ${m.n}}")
    Out(
      s"""{"workload": ${str(workload)}, "detail": {${detail.mkString(", ")}}}""",
      s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}}""",
      correct)
  }

  def durations(ops: Seq[Loop.Done]): Seq[Double] = ops.map(d => (d.endNs - d.startNs) / 1e9)

  private def windowS(ops: Seq[Loop.Done]): Double =
    (ops.map(_.endNs).max - ops.map(_.startNs).min) / 1e9

  /** Every end-to-end metric the workload defines. */
  def endToEnd(workload: String, loop: Loop.Result, setupS: Double): Out = {
    val ops = loop.ops
    val n = ops.size
    val attempted = n + loop.failures.size
    val ms = Seq.newBuilder[Metric]
    ms += Metric("setup_s", setupS, "s", 1)
    if (n > 0) {
      val d = durations(ops)
      val win = windowS(ops)
      ms += Metric("op_s_p50", Stats.median(d), "s", n)
      ms += Metric("rows_per_s", ops.map(_.rows).sum / win, "rows/s", n)
      // a p90 needs ten samples beyond it
      if (n >= 100) ms += Metric("op_s_p90", Stats.quantile(d, 0.9), "s", n)
      if (workload == "query_mix") ms += Metric("queries_per_s", n / win, "1/s", n)
      // phases an op times itself (lakehouse: its upsert and its reads)
      Seq("write_s", "read_s").foreach { k =>
        val xs = ops.flatMap(_.notes.get(k))
        if (xs.nonEmpty) ms += Metric(k + "_p50", Stats.median(xs), "s", xs.size)
      }
    }
    ms += Metric("peak_rss_mb", Stats.peakRssMb(), "MiB", 1)
    ms += Metric("error_rate", loop.failures.size.toDouble / math.max(attempted, 1), "ratio", attempted)
    val all = ms.result()
    if (n == 0) out(workload, loop, all, Nil) else out(workload, loop, all, EndToEnd)
  }

  /** Per-layer metrics of the traced ops, plus the tracing overhead
    * against the untraced ops of the same run.
    */
  def perLayer(workload: String, loop: Loop.Result, ev: Events.All, cores: Int): Out = {
    val (t, p) = loop.ops.partition(_.traced)
    val overhead =
      if (p.isEmpty || t.isEmpty) Seq(Metric("trace.overhead_ratio", 0.0, "ratio", 0))
      else {
        val (pm, tm) = (Stats.median(durations(p)), Stats.median(durations(t)))
        Seq(Metric("trace.op_s_p50_untraced", pm, "s", p.size),
          Metric("trace.op_s_p50_traced", tm, "s", t.size),
          Metric("trace.overhead_ratio", tm / pm - 1.0, "ratio", t.size))
      }
    out(workload, loop, Layers.metrics(t, ev, cores) ++ overhead, Layers.Names)
  }
}
