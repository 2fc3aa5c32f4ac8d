package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, name: String, a: Long, b: Long) =
    Span(id, parent, trace = 1L, name, a, b)

  test("nested spans: self time is the duration minus what the children cover") {
    val spans = Seq(
      span(1, 0, "pipelines.chain", 0, 10),
      span(2, 1, "filters.a", 1, 4),
      span(3, 1, "model.b", 5, 9),
      span(4, 3, "batch.c", 6, 7))
    val self = SelfTime.selfNs(spans)
    assert(self == Map(1L -> 3.0, 2L -> 3.0, 3L -> 3.0, 4L -> 1.0))
    assert(self.values.sum == 10.0)
  }

  test("concurrent siblings share the instants they overlap") {
    val spans = Seq(
      span(1, 0, "pipelines.chain", 0, 10),
      span(2, 1, "model.a", 0, 6),
      span(3, 1, "model.b", 2, 8))
    val self = SelfTime.selfNs(spans)
    assert(self == Map(1L -> 2.0, 2L -> 4.0, 3L -> 4.0))
    assert(self.values.sum == 10.0)
  }

  test("interval union and subtraction") {
    assert(SelfTime.unionLength(Seq((0L, 2L), (1L, 3L), (5L, 6L), (4L, 4L))) == 4L)
    assert(SelfTime.subtract(0, 10, Seq((2L, 3L), (2L, 4L), (8L, 12L))) ==
      Seq((0L, 2L), (4L, 8L)))
  }

  test("layer metrics: self times by layer, driver time outside jobs") {
    val ms = 1000000L
    val spans = Seq(
      span(1, 0, "pipelines.chain", 0, 10000 * ms),
      span(2, 1, "qc.rle", 1000 * ms, 4000 * ms),
      span(3, 1, "model.stageCheckpoint", 5000 * ms, 9000 * ms))
    val job = new JobStats(0, span = 3, startMs = 6000)
    job.endMs = 8000
    job.runMs = 1500
    val m = LayerMetrics(spans, Seq(job), tracedS = 10.0, chainS = 8.0, keepFrac = 0.5,
      genesPerProbe = 0.0, evictedBlocks = 2).values.map(v => v._1 -> v._2).toMap
    assert(m("qc.self_s") == 3.0 && m("model.checkpoint_s") == 4.0 && m("pipelines.self_s") == 3.0)
    assert(m("pipelines.driver_s") == 8.0)
    assert(m("model.jobs") == 1.0 && m("model.task_s") == 1.5 && m("qc.jobs") == 0.0)
    assert(m("trace_overhead_frac") == 0.25)
  }

  test("accounting: fails when the root span keeps more than 5% of the wall") {
    def metrics(spans: Seq[Span]) = LayerMetrics(spans, Nil, tracedS = 1.0, chainS = 1.0,
      keepFrac = 0.0, genesPerProbe = 0.0, evictedBlocks = 0)
    val covered = Seq(
      span(1, 0, "pipelines.chain", 0, 100),
      span(2, 1, "sources.a", 0, 60),
      span(3, 1, "diffexpr.b", 58, 97))
    assert(metrics(covered).accountingError.isEmpty)
    val gap = Seq(
      span(1, 0, "pipelines.chain", 0, 100),
      span(2, 1, "sources.a", 0, 60),
      span(3, 1, "diffexpr.b", 70, 97))
    assert(metrics(gap).accountingError.isDefined)
  }
}
