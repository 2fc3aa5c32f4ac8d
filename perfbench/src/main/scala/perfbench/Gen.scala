package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded generator for the benchmark's inputs: wide gene × sample TSV
  * matrices in the reference's on-disk shape (first column the row id,
  * one column per sample), plus the small relations the chains join
  * against (probe annotation, reliable-probe list, outlier list,
  * sample sheet) and the planted DE genes the output is checked
  * against. Every byte is a function of (workload, seed) only. */
object Gen {

  /** What one generation wrote. */
  final case class Inputs(dir: File, platforms: Seq[String], planted: Set[String],
      cells: Long, bytes: Long)

  /** One stream per (seed, workload, part), so adding a part never
    * shifts another part's numbers. */
  private def rng(seed: Long, workload: String, part: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ workload.hashCode.toLong * 7919L ^ part)

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the stream easy to reason about
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  private final class Tsv(f: File) {
    private val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.US_ASCII), 1 << 16)
    def row(cells: Iterable[String]): Unit = { w.write(cells.mkString("\t")); w.write('\n') }
    def text(s: String): Unit = w.write(s)
    def close(): Unit = w.close()
  }

  /** Fixed 4-decimal rendering without String.format's cost. */
  private def fixed4(v: Double): String = {
    val n = math.round(v * 10000.0)
    val a = math.abs(n)
    val frac = (a % 10000).toString
    (if (n < 0) "-" else "") + (a / 10000) + "." + ("0000".substring(frac.length) + frac)
  }

  private def writeMatrix(f: File, idCol: String, ids: Seq[String],
      samples: Seq[String])(value: (Int, Int) => String): Unit = {
    val out = new Tsv(f)
    try {
      out.row(idCol +: samples)
      val sb = new java.lang.StringBuilder(samples.length * 10)
      ids.indices.foreach { i =>
        sb.setLength(0)
        sb.append(ids(i))
        samples.indices.foreach { j => sb.append('\t').append(value(i, j)) }
        sb.append('\n')
        out.text(sb.toString)
      }
    } finally out.close()
  }

  private def writeTable(f: File, header: Seq[String], rows: Seq[Seq[String]]): Unit = {
    val out = new Tsv(f)
    try { out.row(header); rows.foreach(out.row) } finally out.close()
  }

  private def pick(r: SplittableRandom, n: Int, k: Int): IndexedSeq[Int] = {
    // partial Fisher-Yates: k distinct indices of 0 until n, in draw order
    val a = Array.tabulate(n)(identity)
    (0 until k).map { i =>
      val j = i + r.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
      a(i)
    }
  }

  private def sampleIds(prefix: String, n: Int): IndexedSeq[String] =
    (1 to n).map(i => f"${prefix}_s$i%03d")

  /** Group of sample j: alternating, so every batch is balanced. */
  private def group(j: Int): String = if (j % 2 == 0) "A" else "B"

  private def summarize(dir: File, platforms: Seq[String], planted: Set[String],
      cells: Long): Inputs =
    Inputs(dir, platforms, planted, cells, dir.listFiles().map(_.length).sum)

  /** Closed platforms: `platforms` microarrays, each with its own probe
    * namespace mapping many-to-one onto a shared gene universe (a core
    * of 85% that every platform covers, plus half of the rest), a
    * per-platform batch shift, one
    * planted outlier sample per platform and `deFrac` planted DE genes
    * in the core (every probe of a planted gene carries the effect). */
  def closedPlatform(dir: File, seed: Long, platforms: Int, probes: Int,
      samples: Int, deFrac: Double = 0.10): Inputs = {
    val wl = "closed_platform_de"
    dir.mkdirs()
    val genes = (probes * 0.65).toInt
    val geneIds = (0 until genes).map(g => f"ENSG$g%07d")
    val g0 = rng(seed, wl, 0)
    val baseline = Array.fill(genes)(4.0 + 8.0 * g0.nextDouble())
    val noiseSd = Array.fill(genes)(0.2 + 0.4 * g0.nextDouble())
    // a core of genes every platform covers; DE genes are planted there,
    // so each is testable after the datasets are bound on common genes
    val order = pick(g0, genes, genes)
    val core = order.take((genes * 0.85).toInt)
    val rest = order.drop(core.length)
    val plantedIdx = core.take((genes * deFrac).toInt)
    val effect = new Array[Double](genes)
    plantedIdx.foreach { g =>
      effect(g) = (if (g0.nextBoolean()) 1.0 else -1.0) * (1.5 + g0.nextDouble())
    }
    val names = (1 to platforms).map(p => f"GPL$p%02d")
    val annot = Seq.newBuilder[Seq[String]]
    val flat = Seq.newBuilder[Seq[String]]
    val outliers = Seq.newBuilder[Seq[String]]
    val sheet = Seq.newBuilder[Seq[String]]
    var cells = 0L
    names.zipWithIndex.foreach { case (plat, p) =>
      val r = rng(seed, wl, 1 + p)
      val covered = core ++ pick(r, rest.length, rest.length / 2).map(rest)
      // every covered gene gets one probe, the rest map onto covered genes
      val probeGene = Array.tabulate(probes)(i =>
        if (i < covered.length) covered(i) else covered(r.nextInt(covered.length)))
      val probeIds = (0 until probes).map(i => f"${plat}_p$i%06d")
      val probeOffset = Array.fill(probes)(0.5 * gauss(r))
      val sids = sampleIds(plat, samples)
      val shift = 0.5 * p + gauss(r)
      val outlier = r.nextInt(samples)
      probeIds.indices.foreach { i =>
        annot += Seq(probeIds(i), geneIds(probeGene(i)))
        if (r.nextDouble() < 0.97) flat += Seq(probeIds(i))
      }
      outliers += Seq(sids(outlier))
      sids.indices.foreach(j => sheet += Seq(sids(j), group(j), plat))
      val sampleShift = Array.fill(samples)(0.1 * gauss(r))
      writeMatrix(new File(dir, s"$plat.tsv"), "probe", probeIds, sids) { (i, j) =>
        val g = probeGene(i)
        val de = if (group(j) == "A") effect(g) else 0.0
        val sd = if (j == outlier) 3.0 else noiseSd(g)
        val bump = if (j == outlier) 2.5 else 0.0
        fixed4(baseline(g) + probeOffset(i) + shift + sampleShift(j) + de + bump + sd * gauss(r))
      }
      cells += probes.toLong * samples
    }
    writeTable(new File(dir, "annot.tsv"), Seq("probe", "gene_id"), annot.result())
    writeTable(new File(dir, "flat.tsv"), Seq("probe"), flat.result())
    writeTable(new File(dir, "outliers.tsv"), Seq("sample_id"), outliers.result())
    writeTable(new File(dir, "samples.tsv"), Seq("sample_id", "group", "batch"), sheet.result())
    val planted = plantedIdx.map(geneIds).sorted
    writeTable(new File(dir, "planted.tsv"), Seq("gene_id"), planted.map(Seq(_)))
    summarize(dir, names, planted.toSet, cells)
  }

  /** One RNA-seq study plus `arrays` gene-level microarray platforms,
    * for the meta-analysis. All share the gene universe, three latent
    * gene programmes (so integrative correlations between platforms
    * are positive) and `deFrac` planted DE genes. The arrays each cover
    * 90% of the genes and carry a platform shift. The RNA-seq counts
    * have per-sample library sizes, a block of all-zero genes, the
    * HTSeq `__` summary counters and one planted outlier sample. */
  def rnaseqMeta(dir: File, seed: Long, arrays: Int, genes: Int, arraySamples: Int,
      rnaSamples: Int, deFrac: Double = 0.10): Inputs = {
    val wl = "rnaseq_meta"
    dir.mkdirs()
    val g0 = rng(seed, wl, 0)
    val geneIds = (0 until genes).map(g => f"ENSG$g%07d")
    val level = Array.fill(genes)(3.0 + 8.0 * g0.nextDouble())
    val loadings = Array.fill(genes, 3)(gauss(g0))
    val zero = pick(g0, genes, genes / 50).toSet
    val plantedIdx = pick(g0, genes, (genes * deFrac).toInt).filterNot(zero)
    val effect = new Array[Double](genes)
    plantedIdx.foreach { g =>
      effect(g) = (if (g0.nextBoolean()) 1.0 else -1.0) * (2.5 + g0.nextDouble())
    }
    def latent(g: Int, f: Array[Double]): Double = {
      val l = loadings(g)
      0.5 * (l(0) * f(0) + l(1) * f(1) + l(2) * f(2))
    }
    val sheet = Seq.newBuilder[Seq[String]]

    val names = (1 to arrays).map(p => f"GPL$p%02d")
    names.zipWithIndex.foreach { case (plat, p) =>
      val r = rng(seed, wl, 1 + p)
      val covered = pick(r, genes, (genes * 0.9).toInt).sorted
      val sids = sampleIds(plat, arraySamples)
      val factors = Array.fill(arraySamples, 3)(gauss(r))
      val shift = gauss(r)
      sids.indices.foreach(j => sheet += Seq(sids(j), group(j), plat))
      writeMatrix(new File(dir, s"$plat.tsv"), "gene_id", covered.map(geneIds), sids) { (i, j) =>
        val g = covered(i)
        val de = if (group(j) == "A") effect(g) else 0.0
        fixed4(level(g) + shift + latent(g, factors(j)) + de + 0.3 * gauss(r))
      }
    }

    val r = rng(seed, wl, 100)
    val sids = sampleIds("RNA", rnaSamples)
    val factors = Array.fill(rnaSamples, 3)(gauss(r))
    val lib = Array.fill(rnaSamples)(0.7 + 0.6 * r.nextDouble())
    val outlier = r.nextInt(rnaSamples)
    val specials = Seq("__no_feature", "__ambiguous", "__too_low_aQual",
      "__not_aligned", "__alignment_not_unique")
    sids.indices.foreach(j => sheet += Seq(sids(j), group(j), "RNA"))
    writeMatrix(new File(dir, "counts.tsv"), "gene_id", geneIds ++ specials, sids) { (i, j) =>
      if (i >= genes) (1000 + r.nextInt(100000)).toString
      else if (zero(i)) "0"
      else {
        val de = if (group(j) == "A") effect(i) else 0.0
        val out = if (j == outlier) 2.0 * gauss(r) else 0.0
        val lambda = lib(j) * math.pow(2.0,
          level(i) + latent(i, factors(j)) + de + out + 0.2 * gauss(r))
        // Poisson draw: normal approximation above 30, inversion below
        val c =
          if (lambda > 30) math.max(0L, math.round(lambda + math.sqrt(lambda) * gauss(r)))
          else {
            var k = 0L; var p = math.exp(-lambda); var s = p; val u = r.nextDouble()
            while (u > s && k < 200) { k += 1; p *= lambda / k; s += p }
            k
          }
        c.toString
      }
    }
    writeTable(new File(dir, "outliers.tsv"), Seq("sample_id"), Seq(Seq(sids(outlier))))
    writeTable(new File(dir, "samples.tsv"), Seq("sample_id", "group", "batch"), sheet.result())
    val planted = plantedIdx.map(geneIds).sorted
    writeTable(new File(dir, "planted.tsv"), Seq("gene_id"), planted.map(Seq(_)))
    summarize(dir, names, planted.toSet,
      (genes * 0.9).toLong * arraySamples * arrays + (genes + specials.length).toLong * rnaSamples)
  }
}
