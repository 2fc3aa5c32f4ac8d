package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** The pipeline benchmark: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (timed as `setup_s`): start a `local[4]` session, generate
  * the workload's inputs from the seed, run warm-up chains. Then run
  * untraced chains through `graft.Pipelines` for `--seconds`, each from
  * the TSV inputs to the collected table, with the query caches cleared
  * before each. With `--trace 1`, one more chain runs recomposed from
  * the operator calls with a span around each call. Every chain's
  * output is checked. The last stdout line is the JSON result. */
object Main {
  val Cpus = 4
  val WarmupChains = 1
  val Generations = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}; known: ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val code = try { run(wl, seed, seconds, trace, work); 0 }
      finally SparkSession.getDefaultSession.foreach(_.stop())
    sys.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Hash of a result table: rows sorted, doubles rounded to 6
    * significant digits so float summation order cannot change it. */
  def hash(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case d: Double if java.lang.Double.isFinite(d) =>
        new java.math.BigDecimal(d).round(new java.math.MathContext(6)).toString
      case null => "null"
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(cell).mkString("\t")).sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Problems with one chain's output; empty when it passes. */
  def check(wl: Workload, rows: Array[Row]): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    if (rows.isEmpty) problems += "empty output"
    val fields = rows.headOption.map(_.schema.fields.toSeq).getOrElse(Nil)
    val numeric = fields.filter(f => f.dataType == org.apache.spark.sql.types.DoubleType).map(_.name)
    wl.pCols.filterNot(c => fields.exists(_.name == c)).foreach(c => problems += s"missing column $c")
    rows.foreach { r =>
      numeric.foreach { c =>
        val v = r.getAs[Any](c)
        if (v == null || !java.lang.Double.isFinite(v.asInstanceOf[Double]))
          problems += s"non-finite $c"
      }
      wl.pCols.filter(c => fields.exists(_.name == c)).foreach { c =>
        val v = r.getAs[Double](c)
        if (!(v >= 0.0 && v <= 1.0)) problems += s"$c out of [0,1]"
      }
    }
    problems.distinct.take(5).toSeq
  }

  def recall(wl: Workload, rows: Array[Row], planted: Set[String]): Double =
    wl.called(rows).count(planted).toDouble / planted.size

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** Start the next chain from the same state: the query caches
    * cleared, and a collection run with a pause after it, so Spark's
    * cleaner removes the previous chain's shuffle files and broadcasts
    * now rather than during the next chain. */
  private def clearCaches(spark: SparkSession, listener: EngineListener): Unit = {
    graft.SparkEntry.clearQueryCaches()
    System.gc()
    Thread.sleep(500)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    listener.resetStorage()
  }

  /** The `--trace 0` metrics, by name, value and unit. */
  def endToEndMetrics(setupS: Double, chainS: Double, peakMb: Double, okFrac: Double,
      recall: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("chain_s", chainS, "s"),
    ("peak_storage_mb", peakMb, "MB"),
    ("chain_ok_frac", okFrac, "frac"),
    ("de_recall", recall, "frac"))

  def run(wl: Workload, seed: Long, seconds: Double, trace: Boolean, work: File): Unit = {
    deleteTree(work)
    work.mkdirs()
    val setupStart = System.nanoTime()
    val spark = session(work)
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = secs(setupStart)

    // generation is repeated and its median kept; the last copy is used
    val genTimes = (1 to Generations).map { i =>
      val t = System.nanoTime()
      wl.generate(new File(work, s"inputs$i"), seed)
      secs(t)
    }
    val in = wl.generate(new File(work, "inputs"), seed)
    (1 to Generations).foreach(i => deleteTree(new File(work, s"inputs$i")))

    val hashes = mutable.ArrayBuffer.empty[String]
    val problems = mutable.ArrayBuffer.empty[String]
    val recalls = mutable.ArrayBuffer.empty[Double]
    var failed = 0

    /** One checked chain; false when it failed or its output is wrong. */
    def checked(label: String)(body: => Array[Row]): Boolean = {
      val rows = try Some(body) catch {
        case e: Exception => problems += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"; None
      }
      rows.forall { r =>
        val p = check(wl, r)
        p.foreach(x => problems += s"$label: $x")
        hashes += hash(r)
        recalls += recall(wl, r, in.planted)
        p.isEmpty
      } && rows.isDefined
    }

    val warmT = System.nanoTime()
    (1 to WarmupChains).foreach { i =>
      clearCaches(spark, listener)
      val t = System.nanoTime()
      if (!checked(s"warm-up $i")(wl.run(spark, in))) failed += 1
      System.err.println(f"[perfbench] warm-up $i: ${secs(t)}%.3f s")
    }
    val warmupS = secs(warmT)
    val setupS = sessionS + median(genTimes) + warmupS

    val chainS = mutable.ArrayBuffer.empty[Double]
    val peakMb = mutable.ArrayBuffer.empty[Double]
    val measureStart = System.nanoTime()
    while (chainS.isEmpty || secs(measureStart) < seconds) {
      clearCaches(spark, listener)
      val t = System.nanoTime()
      val ok = checked(s"chain ${chainS.length + 1}")(wl.run(spark, in))
      chainS += secs(t)
      System.err.println(f"[perfbench] chain ${chainS.length}: ${chainS.last}%.3f s")
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      peakMb += listener.peakBytes / 1e6
      if (!ok) failed += 1
    }
    val attempted = chainS.length + WarmupChains

    val layer: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        clearCaches(spark, listener)
        val rec = new Recorder(spark.sparkContext, trace = 1L)
        val tracer = new Tracer(rec)
        listener.tracing = true
        val t = System.nanoTime()
        val ok = checked("traced")(rec.span("pipelines.chain")(wl.traced(spark, in, tracer)))
        val tracedS = secs(t)
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        listener.tracing = false
        val jobs = listener.takeJobs()
        val evicted = listener.removedBlocks
        val (keepFrac, genesPerProbe) = tracer.ratios()
        tracer.release()
        val spans = rec.result
        val m = LayerMetrics(spans, jobs, tracedS, median(chainS.toSeq), keepFrac,
          genesPerProbe, evicted)
        if (!ok) failed += 1
        m.accountingError.foreach(e => problems += e)
        TraceFile.write(new File(work, s"trace-${wl.name}-$seed.json"), spans, jobs)
        m.values
      }
    val allAttempted = attempted + (if (trace) 1 else 0)

    if (hashes.distinct.size > 1) {
      problems += s"output hash differs between chains: ${hashes.mkString(", ")}"
      failed = math.max(failed, 1)
    }
    if (recalls.distinct.size > 1) problems += s"de_recall differs between chains: ${recalls.distinct}"

    val endToEnd = endToEndMetrics(setupS, median(chainS.toSeq), median(peakMb.toSeq),
      (allAttempted - failed).toDouble / allAttempted, recalls.headOption.getOrElse(0.0))

    println(f"[perfbench] workload=${wl.name} seed=$seed input_cells=${in.cells} " +
      f"input_bytes=${in.bytes} session_s=$sessionS%.3f gen_s=${median(genTimes)}%.3f " +
      f"warmup_s=$warmupS%.3f")
    println(s"[perfbench] chain_s samples=${chainS.length} " +
      chainS.map(x => f"$x%.3f").mkString("[", ", ", "]") +
      s" hashes=${hashes.mkString(",")}")
    problems.foreach(p => println(s"[perfbench] CHECK FAILED $p"))
    (endToEnd ++ layer).foreach { case (n, v, u) => println(f"[perfbench] $n%-28s $v%14.6f $u") }
    val reported = if (trace) layer else endToEnd
    println(Json.result(problems.isEmpty && failed == 0, allAttempted, failed, reported))
    deleteTree(new File(work, "inputs"))
  }
}

/** The result line. */
object Json {
  private def num(v: Double): String =
    if (java.lang.Double.isFinite(v)) java.lang.Double.toString(v) else "null"

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
}

/** Spans and job totals of the traced chain, written when the run ends. */
object TraceFile {
  def write(f: File, spans: Seq[Span], jobs: Seq[JobStats]): Unit = {
    val sb = new StringBuilder("{\"spans\": [\n")
    sb ++= spans.map(s => s"""{"id": ${s.id}, "parent": ${s.parent}, "trace": ${s.trace}, """ +
      s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""").mkString(",\n")
    sb ++= "\n], \"jobs\": [\n"
    sb ++= jobs.map(j => s"""{"id": ${j.id}, "span": ${j.span}, "start_ms": ${j.startMs}, """ +
      s""""end_ms": ${j.endMs}, "tasks": ${j.tasks}, "run_ms": ${j.runMs}, """ +
      s""""shuffle_read_bytes": ${j.shuffleReadBytes}}""").mkString(",\n")
    sb ++= "\n]}\n"
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
  }
}
