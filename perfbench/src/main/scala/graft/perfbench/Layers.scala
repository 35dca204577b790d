package graft.perfbench

import Report.Metric

/** Per-layer metrics of a traced loop. Every value is per op (a sum over
  * the traced ops divided by their count) unless it is a ratio. A layer a
  * workload never enters reports 0, which is how the trace shows which
  * layers each workload loads.
  */
object Layers {
  /** The per-layer metrics of the result line (BENCHMARK.json `per_layer`). */
  val Names: Seq[String] = Seq(
    "plan.analysis_s", "plan.optimize_s", "plan.physical_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.idle_s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.core_util", "exec.straggler_ratio",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records", "shuffle.exchanges",
    "spill.bytes", "scan.files", "scan.bytes",
    "sources.json_infer_s", "sources.json_scans",
    "flatten.silver_s", "flatten.title_discovery_s", "flatten.jobs",
    "payload.build_s", "payload.dedupe_shuffle_bytes", "payload.ndjson_s", "payload.ndjson_per_row",
    "sink.transport_s", "sink.wait_s", "sink.batches", "sink.bytes",
    "dedup.s", "dedup.cand_pairs", "dedup.verified_pairs", "dedup.precision", "dedup.kept",
    "curate.s", "curate.jobs",
    "classifier.train_s", "classifier.score_s", "classifier.exchanges",
    "delta.snapshot_s", "delta.merge_s", "delta.files_rewritten", "delta.write_amp",
    "delta.scan_prune_ratio", "delta.cdf_s", "delta.checkpoint_s", "delta.compact_bytes",
    "delta.live_files", "delta.space_amp",
    "spans.core_flatten", "spans.io_batched_sink", "spans.ext", "spans.io_delta",
    "share.plan_idle",
    "trace.overhead_ratio")

  def metrics(ops: Seq[Loop.Done], ev: Events.All, cores: Int): Seq[Metric] = {
    val nOps = math.max(ops.size, 1)
    val n = ops.size
    val okOps = ops.map(_.i).toSet
    // spans of ops that completed; a failed op's spans are not measured
    val spans = ev.spans.filter(s => okOps.contains(s.op))
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = ev.jobs.filter(j => byId.contains(j.span))
    val jobOfStage = jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val tasks = ev.tasks.filter(t => jobOfStage.contains(t.stage))
    val stages = ev.stages.filter(s => jobOfStage.contains(s.id))
    val execSpan = jobs.filter(_.execId >= 0).map(j => j.execId -> j.span).toMap
    val spanOfQuery = ev.queries.flatMap(q =>
      ev.execOfQuery.get(q.queryId).flatMap(execSpan.get).map(q.queryId -> _)).toMap
    val queries = ev.queries.filter(q => spanOfQuery.contains(q.queryId))

    def inside(sel: Trace.Span => Boolean): Long => Boolean = {
      val memo = scala.collection.mutable.Map[Long, Boolean]()
      def up(id: Long): Boolean = memo.getOrElseUpdate(id,
        byId.get(id).exists(s => sel(s) || up(s.parent)))
      up
    }
    def layer(l: String): Long => Boolean = inside(_.layer == l)
    def named(nm: String): Long => Boolean = inside(_.name == nm)
    def spanS(sel: Trace.Span => Boolean) = spans.filter(sel).map(_.durS).sum
    def jobsIn(in: Long => Boolean) = jobs.filter(j => in(j.span))
    def tasksIn(in: Long => Boolean) = {
      val st = jobsIn(in).flatMap(_.stages).toSet
      tasks.filter(t => st.contains(t.stage))
    }
    def queriesIn(in: Long => Boolean) = queries.filter(q => in(spanOfQuery(q.queryId)))
    def note(k: String) = ops.flatMap(_.notes.get(k)).sum
    def per(v: Double): Double = v / nOps

    // per-op scheduling: wall minus the union of the op's task intervals
    val opSpans = spans.filter(_.name == "op")
    val stageById = stages.map(s => s.id -> s).toMap
    val perOp = opSpans.map { o =>
      val in = inside(_.id == o.id)
      val ts = tasksIn(in)
      val busyMs = Stats.unionLength(ts.map(t => (t.launchMs, t.finishMs)))
      val idle = math.max(0.0, o.durS - busyMs / 1e3)
      val planS = queriesIn(in).map(q => q.analysisMs + q.optimizeMs + q.physicalMs).sum / 1e3
      val longest = ts.map(_.stage).distinct.flatMap(stageById.get)
        .sortBy(s => -(s.completeMs - s.submitMs)).headOption
      val straggler = longest.map { s =>
        val rt = ts.filter(_.stage == s.id).map(_.runMs.toDouble)
        if (rt.isEmpty || Stats.median(rt) <= 0) 1.0 else rt.max / Stats.median(rt)
      }.getOrElse(1.0)
      (o.durS, idle, planS, straggler)
    }
    val wallSum = perOp.map(_._1).sum

    val sinkSends = spans.filter(_.name == "io.batched_sink:send")
    val sinkWait = spans.filter(_.name == "core.payload:createDataRowsFromTable").map { c =>
      val sends = sinkSends.filter(_.parent == c.id).sortBy(_.startNs)
      sends.foldLeft((c.startNs, 0L)) { case ((prevEnd, acc), s) =>
        (s.endNs, acc + (s.startNs - prevEnd))
      }._2 / 1e9
    }.sum
    def selfS(nm: String) = spans.filter(_.name == nm).map { s =>
      s.durS - spans.filter(_.parent == s.id).map(_.durS).sum
    }.sum
    // jobs of the export and silver spans that read the label input
    val labelScans = jobsIn(inside(s => s.layer == "io.sources" || s.layer == "core.flatten"))
      .count { j => tasks.exists(t => j.stages.contains(t.stage) && t.inputBytes > 0) }
    val cand = note("cand_pairs")
    val srcBytes = note("source_bytes")
    val liveFiles = note("pruned_live_files")
    // a table-size counter is a level, not a flow: mean over the ops that saw it
    def level(k: String) = {
      val xs = ops.flatMap(_.notes.get(k))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }

    Seq(
      Metric("plan.analysis_s", per(queries.map(_.analysisMs).sum / 1e3), "s", n),
      Metric("plan.optimize_s", per(queries.map(_.optimizeMs).sum / 1e3), "s", n),
      Metric("plan.physical_s", per(queries.map(_.physicalMs).sum / 1e3), "s", n),
      Metric("sched.jobs", per(jobs.size), "count", n),
      Metric("sched.stages", per(stages.size), "count", n),
      Metric("sched.tasks", per(tasks.size), "count", n),
      Metric("sched.idle_s", per(perOp.map(_._2).sum), "s", n),
      Metric("exec.task_s", per(tasks.map(_.runMs).sum / 1e3), "s", n),
      Metric("exec.cpu_s", per(tasks.map(_.cpuNs).sum / 1e9), "s", n),
      Metric("exec.gc_s", per(tasks.map(_.gcMs).sum / 1e3), "s", n),
      Metric("exec.core_util",
        if (wallSum > 0) tasks.map(_.runMs).sum / 1e3 / (wallSum * cores) else 0.0, "ratio", n),
      Metric("exec.straggler_ratio", per(perOp.map(_._4).sum), "ratio", n),
      Metric("shuffle.write_bytes", per((tasks.map(_.shuffleWriteBytes).sum).toDouble), "bytes", n),
      Metric("shuffle.read_bytes", per((tasks.map(_.shuffleReadBytes).sum).toDouble), "bytes", n),
      Metric("shuffle.records", per((tasks.map(_.shuffleWriteRecords).sum).toDouble), "count", n),
      Metric("shuffle.exchanges", per(queries.map(_.exchanges).sum), "count", n),
      Metric("spill.bytes", per((tasks.map(_.spillBytes).sum).toDouble), "bytes", n),
      Metric("scan.files", per((queries.map(_.scanFiles).sum).toDouble), "count", n),
      Metric("scan.bytes", per((tasks.map(_.inputBytes).sum).toDouble), "bytes", n),
      Metric("sources.json_infer_s", per(spanS(_.layer == "io.sources")), "s", n),
      Metric("sources.json_scans", per(labelScans), "count", n),
      Metric("flatten.silver_s", per(spanS(_.layer == "core.flatten")), "s", n),
      Metric("flatten.title_discovery_s", per(spanS(_.name == "core.flatten:bronzeToSilver")), "s", n),
      Metric("flatten.jobs", per(jobsIn(layer("core.flatten")).size), "count", n),
      Metric("payload.build_s", per(selfS("core.payload:createDataRowsFromTable")), "s", n),
      Metric("payload.dedupe_shuffle_bytes",
        per((tasksIn(named("core.payload:createDataRowsFromTable")).map(_.shuffleWriteBytes).sum).toDouble), "bytes", n),
      Metric("payload.ndjson_s", per(spanS(_.name == "core.payload:ndjson")), "s", n),
      Metric("payload.ndjson_per_row",
        if (note("import_rows") > 0) note("ndjson_records") / note("import_rows") else 0.0, "ratio", n),
      Metric("sink.transport_s", per(sinkSends.map(_.durS).sum), "s", n),
      Metric("sink.wait_s", per(sinkWait), "s", n),
      Metric("sink.batches", per(sinkSends.size), "count", n),
      Metric("sink.bytes", per(note("sink_bytes")), "bytes", n),
      Metric("dedup.s", per(spanS(_.layer == "ext.dedup")), "s", n),
      Metric("dedup.cand_pairs", per(cand), "count", n),
      Metric("dedup.verified_pairs", per(note("verified_pairs")), "count", n),
      Metric("dedup.precision", if (cand > 0) note("verified_pairs") / cand else 0.0, "ratio", n),
      Metric("dedup.kept", per(note("kept")), "count", n),
      Metric("curate.s", per(spanS(_.layer == "ext.curation")), "s", n),
      Metric("curate.jobs", per(jobsIn(layer("ext.curation")).size), "count", n),
      Metric("classifier.train_s", per(spanS(_.name == "ext.classifier:train")), "s", n),
      Metric("classifier.score_s", per(spanS(_.name == "ext.classifier:score")), "s", n),
      Metric("classifier.exchanges", per(queriesIn(layer("ext.classifier")).map(_.exchanges).sum), "count", n),
      Metric("delta.snapshot_s", per(spanS(_.name == "io.delta:readDeltaTable")), "s", n),
      Metric("delta.merge_s", per(spanS(_.name == "io.delta:merge")), "s", n),
      Metric("delta.files_rewritten", per(note("files_rewritten")), "count", n),
      Metric("delta.write_amp", if (srcBytes > 0) note("bytes_written") / srcBytes else 0.0, "ratio", n),
      Metric("delta.scan_prune_ratio",
        if (liveFiles > 0) note("pruned_files_scanned") / liveFiles else 0.0, "ratio", n),
      Metric("delta.cdf_s", per(spanS(_.name == "io.delta:changeFeed")), "s", n),
      Metric("delta.checkpoint_s", per(spanS(_.name == "io.delta:checkpoint")), "s", n),
      Metric("delta.compact_bytes", per(note("compact_bytes")), "bytes", n),
      Metric("delta.live_files", level("live_files"), "count", n),
      Metric("delta.space_amp",
        if (note("live_bytes") > 0) note("disk_bytes") / note("live_bytes") else 0.0, "ratio", n),
      Metric("spans.core_flatten", per(spans.count(_.layer == "core.flatten")), "count", n),
      Metric("spans.io_batched_sink", per(spans.count(_.layer == "io.batched_sink")), "count", n),
      Metric("spans.ext", per(spans.count(_.layer.startsWith("ext."))), "count", n),
      Metric("spans.io_delta", per(spans.count(_.layer == "io.delta")), "count", n),
      Metric("share.plan_idle",
        if (wallSum > 0) (perOp.map(_._2).sum + perOp.map(_._3).sum) / wallSum else 0.0, "ratio", n))
  }
}
