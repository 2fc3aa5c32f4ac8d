package perfbench

import java.io.File

import graft.Pipelines
import graft.perfbench.Pool
import graft.model.{ExpressionMatrix, Workspace}
import graft.operators._
import graft.sources.MatrixIO
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The traced pass's side of one chain: a span around every layer
  * call, each call's lazily built output forced inside its own span,
  * and row counts around the filter and dedup calls. */
final class Tracer(rec: Recorder) {
  private val forced = mutable.ArrayBuffer.empty[DataFrame]
  private val filters = mutable.ArrayBuffer.empty[(DataFrame, DataFrame)]
  private val dedups = mutable.ArrayBuffer.empty[(DataFrame, DataFrame)]

  def span[T](name: String)(body: => T): T = rec.span(name)(body)

  /** Persist and count `df`, so its plan runs here, once; later calls
    * read the persisted rows. */
  def force(df: DataFrame): Unit = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    forced.synchronized(forced += df)
    df.count()
  }

  /** A span around a call that returns a lazily built plan. The output
    * is forced inside the span, so the span holds the call's work and
    * not only the building of its plan. */
  def eager(name: String)(body: => DataFrame): DataFrame =
    span(name) { val df = body; force(df); df }

  def eagerM(name: String)(body: => ExpressionMatrix): ExpressionMatrix =
    span(name) { val m = body; force(m.df); m }

  def filter(in: ExpressionMatrix, out: ExpressionMatrix): ExpressionMatrix = {
    filters.synchronized(filters += ((in.df, out.df))); out
  }
  def dedup(in: ExpressionMatrix, out: ExpressionMatrix): ExpressionMatrix = {
    dedups.synchronized(dedups += ((in.df.select(in.geneCol).distinct(), out.df.select(out.geneCol).distinct())))
    out
  }

  /** (filters.keep_frac, dedup.genes_per_probe); 0 where the layer was
    * not called. Counted after the traced chain has been timed. */
  def ratios(): (Double, Double) = {
    def ratio(pairs: Seq[(DataFrame, DataFrame)]): Double = {
      val (in, out) = pairs.map { case (a, b) => (a.count(), b.count()) }
        .foldLeft((0L, 0L)) { case ((x, y), (a, b)) => (x + a, y + b) }
      if (in == 0) 0.0 else out.toDouble / in
    }
    (ratio(filters.toSeq), ratio(dedups.toSeq))
  }

  /** Drop the forced outputs' blocks. */
  def release(): Unit = forced.foreach(_.unpersist(blocking = true))
}

/** One benchmark workload: its seeded inputs, the chain a user runs
  * (through `graft.Pipelines`, untraced), the same chain recomposed
  * from the operator calls `Pipelines` makes with a span around each
  * call (traced, see [[Tracer]]), and how its output is checked. */
trait Workload {
  def name: String
  def generate(dir: File, seed: Long): Gen.Inputs
  def run(spark: SparkSession, in: Gen.Inputs): Array[Row]
  def traced(spark: SparkSession, in: Gen.Inputs, t: Tracer): Array[Row]
  /** Output columns that are probabilities. */
  def pCols: Seq[String]
  /** Genes the output calls significant. */
  def called(rows: Array[Row]): Set[String]
}

object Workloads {
  val all: Seq[Workload] = Seq(ClosedPlatformDE, RnaseqMeta)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  private[perfbench] def tsv(spark: SparkSession, f: File): DataFrame =
    spark.read.option("sep", "\t").option("header", "true").csv(f.getPath)

  private[perfbench] def matrix(spark: SparkSession, in: Gen.Inputs, p: String): ExpressionMatrix =
    MatrixIO.readTsvMatrix(spark, new File(in.dir, s"$p.tsv").getPath)

  /** Benjamini-Hochberg on the driver, for tables that carry only raw p. */
  def bh(ps: Array[Double]): Array[Double] = {
    val n = ps.length
    val order = ps.indices.sortBy(ps(_)).toArray
    val adj = new Array[Double](n)
    var running = 1.0
    (n - 1 to 0 by -1).foreach { k =>
      val i = order(k)
      running = math.min(running, ps(i) * n / (k + 1))
      adj(i) = running
    }
    adj
  }

  def calledByPbh(rows: Array[Row]): Set[String] =
    rows.filter(r => r.getAs[Double]("p_bh") < 0.05).map(_.getAs[String]("gene_id")).toSet
}

import Workloads._

/** Three microarray platforms through QC and the closed-platform DE
  * chain (E1). */
object ClosedPlatformDE extends Workload {
  val name = "closed_platform_de"
  val Platforms = 3
  val Probes = 1500
  val Samples = 16
  val RemlIters = 5

  def generate(dir: File, seed: Long): Gen.Inputs =
    Gen.closedPlatform(dir, seed, Platforms, Probes, Samples)

  private final case class Side(annot: DataFrame, flat: DataFrame, outliers: DataFrame,
      groups: DataFrame)
  private def side(spark: SparkSession, in: Gen.Inputs): Side = Side(
    tsv(spark, new File(in.dir, "annot.tsv")), tsv(spark, new File(in.dir, "flat.tsv")),
    tsv(spark, new File(in.dir, "outliers.tsv")),
    tsv(spark, new File(in.dir, "samples.tsv")).select("sample_id", "group"))

  def run(spark: SparkSession, in: Gen.Inputs): Array[Row] = {
    val s = side(spark, in)
    val datasets = in.platforms.map(p => p -> matrix(spark, in, p))
    datasets.foreach { case (_, m) =>
      QC.sampleSummary(m).collect()
      QC.rle(m).collect()
    }
    Pipelines.closedPlatformDE(datasets, s.annot, s.flat, s.outliers, s.groups,
      "A", "B", remlIters = RemlIters).collect()
  }

  def traced(spark: SparkSession, in: Gen.Inputs, t: Tracer): Array[Row] = {
    val s = t.span("sources.readTsv") {
      val s = side(spark, in)
      Seq(s.annot, s.flat, s.outliers, s.groups).foreach(t.force)
      s
    }
    val datasets = in.platforms.map(p =>
      p -> t.eagerM("sources.readTsvMatrix")(matrix(spark, in, p)))
    datasets.foreach { case (_, m) =>
      t.span("qc.sampleSummary")(QC.sampleSummary(m).collect())
      t.span("qc.rle")(QC.rle(m).collect())
    }
    // Pipelines.closedPlatformDE, call for call
    val perDataset = datasets.map { case (name, probes) =>
      val noOutliers = t.filter(probes,
        t.eagerM("filters.removeOutliers")(Filters.removeOutliers(probes, s.outliers)))
      val cleaned = t.filter(noOutliers,
        t.eagerM("filters.keepReliableProbes")(Filters.keepReliableProbes(noOutliers, s.flat, "probe")))
      name -> t.dedup(cleaned,
        t.eagerM("dedup.maxVarianceDedup")(Dedup.maxVarianceDedup(cleaned, s.annot, "probe", "gene_id")))
    }
    val boundLazy = t.eager("setops.bindDatasets")(SetOps.bindDatasets(perDataset))
    val bound = ExpressionMatrix(t.span("model.stageCheckpoint")(Workspace.stageCheckpoint(
      boundLazy.select("gene_id", "sample_id", "value", "dataset"), "bind_closed")))
    val combated = t.eagerM("batch.combat")(Batch.combat(
      ExpressionMatrix(bound.df.select("gene_id", "sample_id", "value")),
      bound.df.select(col("sample_id"), col("dataset").as("batch")).distinct()))
    val adjusted = ExpressionMatrix(t.span("model.stageCheckpoint")(
      Workspace.stageCheckpoint(combated.canonical.df, "comb_closed")))
    val topSd = t.filter(adjusted,
      t.eagerM("filters.topFracBySdNonZero")(Filters.topFracBySdNonZero(adjusted, 0.6)))
    val filtered = ExpressionMatrix(t.span("model.stageCheckpoint")(
      Workspace.stageCheckpoint(topSd.canonical.df, "comb_closed_filtered")))
    val weights = t.eager("diffexpr.arrayWeightsReml")(DiffExpr.arrayWeightsReml(
      filtered, s.groups, maxIter = RemlIters, tol = 1e-8))
    val stats = t.eager("diffexpr.groupStatsWeighted")(
      DiffExpr.groupStatsWeighted(filtered, s.groups, weights))
    val de = t.eager("diffexpr.moderatedT")(DiffExpr.moderatedT(stats, "group", "A", "B"))
    // the final collect is the last call's materialization
    t.span("diffexpr.topTable")(DiffExpr.topTable(de.withColumnRenamed("p_mod", "p")).collect())
  }

  val pCols = Seq("p", "p_bh")
  def called(rows: Array[Row]): Set[String] = calledByPbh(rows)
}

/** One RNA-seq study, normalised the way the open-platform chain does
  * it (E2's front end: special counters, outlier and all-zero genes
  * dropped, CQN-lite), meta-analysed with microarray platforms through
  * the meta-analysis chain (E3). */
object RnaseqMeta extends Workload {
  val name = "rnaseq_meta"
  val Arrays = 2
  val Genes = 2500
  val ArraySamples = 16
  val RnaSamples = 24

  def generate(dir: File, seed: Long): Gen.Inputs =
    Gen.rnaseqMeta(dir, seed, Arrays, Genes, ArraySamples, RnaSamples)

  private def side(spark: SparkSession, in: Gen.Inputs) =
    (tsv(spark, new File(in.dir, "outliers.tsv")),
      tsv(spark, new File(in.dir, "samples.tsv")).select("sample_id", "group"))

  def run(spark: SparkSession, in: Gen.Inputs): Array[Row] = {
    val (outliers, groups) = side(spark, in)
    val cleaned = Filters.removeOutliers(
      Filters.dropSpecialCounters(matrix(spark, in, "counts")), outliers)
    val (nonzero, _) = Filters.partitionZeroCounts(cleaned)
    val rna = Normalize.cqnLite(ExpressionMatrix(
      Workspace.stageCheckpoint(nonzero.canonical.df, "counts_clean")))
    Pipelines.metaAnalysis(("RNA" -> rna) +: in.platforms.map(p => p -> matrix(spark, in, p)),
      groups, "A", "B").collect()
  }

  def traced(spark: SparkSession, in: Gen.Inputs, t: Tracer): Array[Row] = {
    val (outliers, groups) = t.span("sources.readTsv") {
      val (o, g) = side(spark, in)
      t.force(o); t.force(g)
      (o, g)
    }
    val raw = t.eagerM("sources.readTsvMatrix")(matrix(spark, in, "counts"))
    val noSpecial = t.filter(raw,
      t.eagerM("filters.dropSpecialCounters")(Filters.dropSpecialCounters(raw)))
    val cleaned = t.filter(noSpecial,
      t.eagerM("filters.removeOutliers")(Filters.removeOutliers(noSpecial, outliers)))
    val nonzero0 = t.filter(cleaned, t.span("filters.partitionZeroCounts") {
      val (nz, _) = Filters.partitionZeroCounts(cleaned)
      t.force(nz.df)
      nz
    })
    val nonzero = ExpressionMatrix(t.span("model.stageCheckpoint")(
      Workspace.stageCheckpoint(nonzero0.canonical.df, "counts_clean")))
    val rna = t.eagerM("normalize.cqnLite")(Normalize.cqnLite(nonzero))
    val platforms0 = ("RNA" -> rna) +: in.platforms.map(p =>
      p -> t.eagerM("sources.readTsvMatrix")(matrix(spark, in, p)))
    // Pipelines.metaAnalysis, call for call
    val platforms = Pool.inParallel(platforms0) { case (name, m) =>
      name -> ExpressionMatrix(t.span("model.stageCheckpoint")(
        Workspace.stageCheckpoint(m.canonical.df, s"meta_platform_$name")))
    }
    val iccPairs = t.eager("meta.iccMulti")(Meta.iccMulti(platforms)).select("gene_id", "icc")
    val meanIcc = t.eager("meta.meanIcc")(Meta.meanIcc(iccPairs)).filter(col("mean_icc") >= 0)
    val topTables = Pool.inParallel(platforms) { case (name, m) =>
      val stats = t.eager("diffexpr.groupStats")(DiffExpr.groupStats(m, groups))
      val de = t.eager("diffexpr.moderatedT")(DiffExpr.moderatedT(stats, "group", "A", "B"))
      name -> t.eager("diffexpr.topTable")(DiffExpr.topTable(de.withColumnRenamed("p_mod", "p")))
    }
    t.span("meta.fromTopTables")(Pipelines.metaAnalysisFromTopTables(topTables, meanIcc).collect())
  }

  val pCols = Seq("p_comb")
  def called(rows: Array[Row]): Set[String] = {
    val adj = bh(rows.map(_.getAs[Double]("p_comb")))
    rows.indices.filter(i => adj(i) < 0.05).map(i => rows(i).getAs[String]("gene_id")).toSet
  }
}
