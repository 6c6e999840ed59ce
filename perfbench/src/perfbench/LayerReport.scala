package perfbench

import org.apache.spark.SparkContext

/** Per-layer metrics of a traced run, every one reported (0 where the
  * workload does not reach the layer). Times are per-op medians of span
  * durations; engine figures and layer CPU / shuffle are per-op means. */
object LayerReport {
  val AnalysisOps = Seq("flat_profile", "flat_profile_proc", "load_imbalance", "time_profile",
    "idle_time", "callers_profile", "comm_matrix", "message_histogram", "match_messages",
    "critical_path", "detect_pattern")

  /** Time metrics read straight off one span name each. */
  val SpanTimes: Seq[String] = Seq("ingest.write", "enrich.match", "cct.build", "cct.rollup") ++
    AnalysisOps.map("analysis." + _) ++
    Seq("streaming.completed_calls", "streaming.comm_match", "scale.exact", "scale.shingle",
      "scale.minhash", "scale.lsh_candidates", "scale.verify", "scale.components",
      "scale.jaccard", "scale.simhash", "scale.ann_brute", "scale.ann_ivf")

  /** Counters recorded at layer boundaries: (metric, unit). */
  val Counters = Seq("ingest.events" -> "count", "ingest.bytes_read" -> "bytes",
    "ingest.bytes_written" -> "bytes", "enrich.matched_ratio" -> "ratio", "cct.nodes" -> "count",
    "analysis.rows_out" -> "count",
    "analysis.matched_message_ratio" -> "ratio", "scale.lsh_candidates" -> "count",
    "scale.lsh_precision" -> "ratio", "scale.near_dup_recall" -> "ratio",
    "scale.ivf_recall_at_5" -> "ratio")

  val Layers = Seq("ingest", "enrich", "cct", "analysis", "streaming", "scale")

  def apply(tracer: Tracer, listener: SpanListener, sc: SparkContext, ctx: Ctx, nOps: Int,
            codegenS: Seq[Double], setup: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val figs = listener.snapshot(sc)
    def fig(id: Int): StageSums = figs.getOrElse(id, new StageSums)
    val spans = tracer.spans.filter(_.op >= 0).toSeq
    val perOp = math.max(1, nOps).toDouble

    /** Median over the ops that reach `name` of that op's summed value. */
    def perOpMedian(name: String)(v: Span => Double): Double =
      Main.median(spans.filter(_.name == name).groupBy(_.op).values.map(_.map(v).sum).toSeq)
    def layerSum(layer: String)(v: StageSums => Double): Double =
      spans.filter(_.name.startsWith(layer + ".")).map(s => v(fig(s.id))).sum / perOp
    def counter(name: String): Double =
      ctx.counters.get(name).map(xs => Main.median(xs.toSeq)).getOrElse(0.0)
    val mb = 1048576.0

    val out = Seq.newBuilder[(String, Double, String)]
    // the OTF2 read runs the decode and the dense-id pass; stages that do
    // not decode are the sort and zipWithIndex of the dense ids
    out += (("ingest.read_s", perOpMedian("ingest.read")(s =>
      s.seconds - fig(s.id).nonDecodeStageMs / 1000.0), "s"))
    out += (("ingest.dense_ids_s", perOpMedian("ingest.read")(s =>
      fig(s.id).nonDecodeStageMs / 1000.0), "s"))
    SpanTimes.foreach(n => out += ((n + "_s", perOpMedian(n)(_.seconds), "s")))
    Counters.foreach { case (n, u) => out += ((n, counter(n), u)) }
    Layers.foreach { l =>
      out += ((s"$l.cpu_s", layerSum(l)(_.cpuNs / 1e9), "s"))
      out += ((s"$l.shuffle_mb", layerSum(l)(_.shuffleWriteBytes / mb), "MB"))
    }
    out += (("enrich.spill_mb", layerSum("enrich")(_.spillBytes / mb), "MB"))

    val engine = new StageSums
    spans.foreach(s => engine.add(fig(s.id)))
    out += (("engine.jobs", engine.jobs / perOp, "count"))
    out += (("engine.stages", engine.stages / perOp, "count"))
    out += (("engine.tasks", engine.tasks / perOp, "count"))
    out += (("engine.cpu_s", engine.cpuNs / 1e9 / perOp, "s"))
    out += (("engine.gc_s", engine.gcMs / 1000.0 / perOp, "s"))
    out += (("engine.scheduler_delay_s", engine.schedDelayMs / 1000.0 / perOp, "s"))
    out += (("engine.codegen_compile_s", codegenS.sum / perOp, "s"))
    out += (("engine.shuffle_write_mb", engine.shuffleWriteBytes / mb / perOp, "MB"))
    out += (("engine.spill_mb", engine.spillBytes / mb / perOp, "MB"))
    out += (("engine.cached_mb", counter("engine.cached_mb"), "MB"))

    setup.foreach { case (n, v) => out += ((n, v, "s")) }
    val cov = coverage(tracer)
    out += (("trace.layer_coverage_min", if (cov.isEmpty) 0.0 else cov.map(_._2).min, "ratio"))
    out.result()
  }

  /** Lowest share of a traced op's wall time its layer spans may leave
    * uncovered: below this the layer figures do not account for the op. */
  val MinCoverage = 0.9

  /** Each traced op's root span with the share of its wall time that its
    * layer spans cover. */
  def coverage(tracer: Tracer): Seq[(Span, Double)] =
    tracer.spans.filter(s => s.op >= 0 && s.name.startsWith("op.")).toSeq.map { r =>
      r -> (if (r.endNs == r.startNs) 1.0 else 1 - tracer.selfSeconds(r) / r.seconds)
    }
}
