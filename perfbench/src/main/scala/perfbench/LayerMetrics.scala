package perfbench

/** Per-layer metrics of one traced chain.
  *
  * A layer's `self_s` is the summed self time of its spans
  * ([[SelfTime.selfNs]]); `pipelines.self_s` is the root span's, i.e.
  * the chain's time outside every layer call (glue and the final
  * collect). These add up to the traced chain's wall time.
  * `pipelines.driver_s` is a different cut of the same wall: the time
  * in which no Spark job was running. Jobs belong to the layer of the
  * span they were submitted under. The traced chain forces each layer
  * call's output inside the call's span ([[Tracer]]), so a layer's
  * jobs run under its own span. */
final case class LayerMetrics(spans: Seq[Span], jobs: Seq[JobStats], tracedS: Double,
    chainS: Double, keepFrac: Double, genesPerProbe: Double, evictedBlocks: Long) {
  import LayerMetrics._

  private val self = SelfTime.selfNs(spans)
  private val byId = spans.map(s => s.id -> s).toMap
  private val root = spans.find(_.parent == 0L)
  private def layerOf(j: JobStats): String =
    byId.get(j.span).map(_.layer).filterNot(_ == "pipelines").getOrElse("pipelines")

  private def selfS(layer: String): Double =
    spans.filter(_.layer == layer).map(s => self(s.id)).sum / 1e9

  private val wallNs = root.map(r => r.endNs - r.startNs).getOrElse(0L)

  /** Time of the root span not covered by any job, in seconds. */
  private val driverS: Double = root.map { r =>
    val jobsIn = jobs.filter(_.endMs >= 0).map(j =>
      (j.startMs * 1000000L, j.endMs * 1000000L))
    (wallNs - SelfTime.unionLength(jobsIn.map { case (a, b) =>
      (math.max(a, r.startNs), math.min(b, r.endNs)) })) / 1e9
  }.getOrElse(0.0)

  /** Set when the layer spans leave more than 5% of the traced wall
    * unattributed. The root span's self time is the chain's time
    * outside every layer call; it grows when a call has no span, or
    * when a call's work runs later under the root (an output not
    * forced in its span). */
  def accountingError: Option[String] = {
    val unattributed = root.map(r => self(r.id)).getOrElse(0.0)
    if (wallNs > 0 && unattributed <= 0.05 * wallNs) None
    else Some(f"layer spans leave ${unattributed / 1e9}%.3f s of a ${wallNs / 1e9}%.3f s " +
      "traced chain outside every layer call")
  }

  def values: Seq[(String, Double, String)] = {
    def jobTotals(js: Seq[JobStats]) = Seq(
      ("jobs", js.size.toDouble, "count"),
      ("task_s", js.map(_.runMs).sum / 1e3, "s"),
      ("shuffle_mb", js.map(_.shuffleReadBytes).sum / 1e6, "MB"))
    val jobsByLayer = jobs.groupBy(layerOf).withDefaultValue(Nil)
    val perLayer = Layers.flatMap { l =>
      val selfMetric = if (l == "model") "model.checkpoint_s" else s"$l.self_s"
      val extra = l match {
        case "filters" => Seq(("filters.keep_frac", keepFrac, "frac"))
        case "dedup" => Seq(("dedup.genes_per_probe", genesPerProbe, "ratio"))
        case "model" => Seq(("model.evicted_blocks", evictedBlocks.toDouble, "count"))
        case _ => Nil
      }
      val totals =
        if (l == "sources") Nil
        else jobTotals(jobsByLayer(l)).map { case (n, v, u) => (s"$l.$n", v, u) }
      (selfMetric, selfS(l), "s") +: (extra ++ totals)
    }
    val tasks = jobs.map(_.tasks).sum
    val runMs = jobs.map(_.runMs).sum.toDouble
    def frac(x: Double, of: Double) = if (of > 0) x / of else 0.0
    val engine = Seq(
      ("engine.jobs", jobs.size.toDouble, "count"),
      ("engine.tasks", tasks.toDouble, "count"),
      ("engine.sched_delay_s", jobs.map(_.schedDelayMs).sum / 1e3, "s"),
      ("engine.deser_s", jobs.map(_.deserMs).sum / 1e3, "s"),
      ("engine.task_s", runMs / 1e3, "s"),
      ("engine.cpu_frac", frac(jobs.map(_.cpuNs).sum / 1e6, runMs), "frac"),
      ("engine.shuffle_mb", jobs.map(_.shuffleReadBytes).sum / 1e6, "MB"),
      ("engine.fetch_wait_s", jobs.map(_.fetchWaitMs).sum / 1e3, "s"),
      ("engine.shuffle_write_s", jobs.map(_.shuffleWriteNs).sum / 1e9, "s"),
      ("engine.spill_mb", jobs.map(_.spillBytes).sum / 1e6, "MB"),
      ("engine.gc_frac", frac(jobs.map(_.gcMs).sum.toDouble, runMs), "frac"),
      ("engine.task_retry_frac", frac(jobs.map(_.retried).sum.toDouble, tasks.toDouble), "frac"))
    perLayer ++ Seq(
      ("pipelines.self_s", root.map(r => self(r.id) / 1e9).getOrElse(0.0), "s"),
      ("pipelines.driver_s", driverS, "s")) ++
      engine :+ ("trace_overhead_frac", frac(tracedS - chainS, chainS), "frac")
  }
}

object LayerMetrics {
  /** The program's layers the traced chains call into, by span prefix. */
  val Layers = Seq("sources", "qc", "filters", "dedup", "setops", "normalize", "batch",
    "diffexpr", "meta", "model")
}
