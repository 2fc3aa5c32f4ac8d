package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into a layer. `layer` is the name's prefix before the
  * first dot (`filters.removeOutliers` → `filters`). Times are epoch
  * nanoseconds, so they line up with Spark's job event times. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the traced pass. A span sets the Spark
  * local property [[Recorder.Key]] to its id, so every job submitted
  * inside it (also from threads it starts, which inherit local
  * properties) is attributed to it. */
final class Recorder(sc: SparkContext, val trace: Long) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  // inheritable, like Spark's local properties: threads a span's body
  // starts (the program's overlap pool) continue that span
  private val current = new InheritableThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def now(): Long = System.nanoTime() + clockOffsetNs

  def span[T](name: String)(body: => T): T = {
    val parent = current.get
    val id = ids.incrementAndGet()
    val prevProp = sc.getLocalProperty(Recorder.Key)
    sc.setLocalProperty(Recorder.Key, id.toString)
    current.set(id)
    val start = now()
    try body
    finally {
      val end = now()
      spans.synchronized(spans += Span(id, parent, trace, name, start, end))
      current.set(parent)
      sc.setLocalProperty(Recorder.Key, prevProp)
    }
  }

  def result: Seq[Span] = spans.synchronized(spans.toList).sortBy(_.startNs)
}

object Recorder {
  val Key = "perfbench.span"
}

/** Interval arithmetic over spans and jobs. */
object SelfTime {

  /** Total length of the union of `[a, b)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** `[a, b)` minus the union of `holes`, as disjoint pieces. */
  def subtract(a: Long, b: Long, holes: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var cursor = a
    holes.map { case (x, y) => (math.max(x, a), math.min(y, b)) }
      .filter(h => h._2 > h._1).sortBy(_._1).foreach { case (x, y) =>
        if (x > cursor) out += ((cursor, x))
        cursor = math.max(cursor, y)
      }
    if (b > cursor) out += ((cursor, b))
    out.toSeq
  }

  /** Self time per span id, in nanoseconds: the span's interval minus
    * the part its child spans cover. Where spans run concurrently (the
    * overlap pool), an instant that lies in the self time of k spans
    * counts 1/k to each, so the self times of a trace add up to the
    * length of the union of its spans. */
  def selfNs(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    val pieces = spans.flatMap { s =>
      val holes = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      subtract(s.startNs, s.endNs, holes).map { case (a, b) => (s.id, a, b) }
    }
    // sweep: +1 at a piece start, -1 at its end; ends sort first
    val events = pieces.flatMap { case (id, a, b) => Seq((a, 1, id), (b, -1, id)) }
      .sortBy { case (t, d, _) => (t, d) }
    val self = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    val active = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    var last = 0L
    events.foreach { case (t, d, id) =>
      if (active.nonEmpty && t > last) {
        val share = (t - last).toDouble / active.valuesIterator.sum
        active.foreach { case (k, n) => self(k) += share * n }
      }
      last = t
      val n = active(id) + d
      if (n == 0) active.remove(id) else active(id) = n
    }
    spans.map(s => s.id -> self(s.id)).toMap
  }
}

/** Job-level totals for one traced job. */
final class JobStats(val id: Int, val span: Long, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var retried = 0L
  var runMs = 0L
  var cpuNs = 0L
  var deserMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var shuffleWriteNs = 0L
  var spillBytes = 0L
}

/** Listener behind both kinds of run. Always: RDD block storage (bytes
  * held now, the peak since [[resetStorage]], blocks removed). While
  * [[tracing]]: per-job task totals and the span each job ran under. */
final class EngineListener extends SparkListener {
  @volatile var tracing = false
  private val blocks = mutable.HashMap.empty[String, Long]
  private var stored = 0L
  private var peak = 0L
  private var removed = 0L
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = info.memSize + info.diskSize
      val prev = blocks.getOrElse(key, 0L)
      if (info.storageLevel.isValid && size > 0) {
        blocks(key) = size
        stored += size - prev
      } else if (blocks.remove(key).isDefined) {
        stored -= prev
        removed += 1
      }
      peak = math.max(peak, stored)
    }
  }

  // unpersisting removes an RDD's blocks without a block update per
  // block, so the bookkeeping drops them here
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.split('/')(1).startsWith(prefix)).toList.foreach { k =>
      stored -= blocks.remove(k).getOrElse(0L)
      removed += 1
    }
  }

  def storedBytes: Long = synchronized(stored)
  def peakBytes: Long = synchronized(peak)
  def removedBlocks: Long = synchronized(removed)
  def resetStorage(): Unit = synchronized { peak = stored; removed = 0L }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Key)))
      .map(_.toLong).getOrElse(0L)
    val j = new JobStats(e.jobId, span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val info = e.taskInfo
      j.tasks += 1
      if (info.attemptNumber > 0 || info.failed || info.killed) j.retried += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.deserMs += m.executorDeserializeTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  /** Jobs recorded since the last call, forgetting them. */
  def takeJobs(): Seq[JobStats] = synchronized {
    val out = jobs.values.toList
    jobs.clear(); stageJob.clear()
    out
  }
}
