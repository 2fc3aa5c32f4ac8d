package graft

import graft.model.ExpressionMatrix
import graft.operators.{DiffExpr, Meta}
import org.apache.spark.sql.functions._

class IccSpec extends SparkSpec {
  import spark.implicits._

  private def pearson(a: Seq[Double], b: Seq[Double]): Double = {
    val n = a.size
    val ma = a.sum / n; val mb = b.sum / n
    val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
    val va = a.map(x => (x - ma) * (x - ma)).sum
    val vb = b.map(y => (y - mb) * (y - mb)).sum
    cov / math.sqrt(va * vb)
  }

  test("Meta.icc matches the direct correlation-of-correlation-vectors definition") {
    // deterministic values, 4 genes x 5 samples per platform
    def value(p: Int, g: Int, s: Int): Double =
      g * 2.0 + math.sin(g * 3 + s * 7 + p).abs * 5 + (g * s % 4) * 0.7 + p * 0.3
    val genes = (1 to 4).map(g => s"g$g")
    val rows = for (p <- Seq(1, 2); g <- 1 to 4; s <- 1 to 5)
      yield (p, s"g$g", s"p$p-s$s", value(p, g, s))
    val m1 = ExpressionMatrix(rows.filter(_._1 == 1).map(r => (r._2, r._3, r._4))
      .toDF("gene_id", "sample_id", "value"))
    val m2 = ExpressionMatrix(rows.filter(_._1 == 2).map(r => (r._2, r._3, r._4))
      .toDF("gene_id", "sample_id", "value"))

    // direct (reference-shaped) computation: per platform, each gene's
    // correlation vector against every other gene; ICC = Pearson of the
    // two vectors across the *other* genes
    def geneVec(p: Int, g: Int): Seq[Double] = (1 to 5).map(s => value(p, g, s))
    def corrVec(p: Int, g: Int): Seq[Double] =
      (1 to 4).filter(_ != g).map(o => pearson(geneVec(p, g), geneVec(p, o)))
    val expected = (1 to 4).map(g => s"g$g" -> pearson(corrVec(1, g), corrVec(2, g))).toMap

    val got = Meta.icc(m1, m2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expected.keySet)
    for ((g, e) <- expected)
      assert(math.abs(got(g) - e) < 1e-9, s"$g: got ${got(g)} expected $e")
  }

  test("groupStatsWeighted: unit weights reproduce groupStats; downweighting shrinks evidence") {
    val rows = for (g <- 1 to 10; s <- 1 to 6) yield {
      val grp = if (s <= 3) "A" else "B"
      val noise = if (s == 6) ((g * 17) % 13 - 6) * 2.0 else ((g * 7 + s) % 5 - 2) * 0.1
      (s"g$g", s"s$s", 5.0 + g * 0.1 + (if (grp == "A") 1.0 else 0.0) + noise, grp)
    }
    val m = ExpressionMatrix(rows.map(r => (r._1, r._2, r._3)).toDF("gene_id", "sample_id", "value"))
    val groups = rows.map(r => (r._2, r._4)).distinct.toDF("sample_id", "group")
    val unit = groups.select(col("sample_id"), lit(1.0).as("weight"))
    val plain = DiffExpr.groupStats(m, groups)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2).toDouble, r.getDouble(3), r.getDouble(4))).toMap
    val weighted = DiffExpr.groupStatsWeighted(m, groups, unit)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    for ((k, (n, mean, v)) <- plain) {
      assert(math.abs(weighted(k)._1 - n) < 1e-9)
      assert(math.abs(weighted(k)._2 - mean) < 1e-9)
      assert(math.abs(weighted(k)._3 - v) < 1e-9)
    }
    // downweight the noisy array s6: group B's variance must drop and
    // its effective n must fall below the unweighted count
    val w = (1 to 6).map(s => (s"s$s", if (s == 6) 0.1 else 1.0)).toDF("sample_id", "weight")
    val dw = DiffExpr.groupStatsWeighted(m, groups, w)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(4))).toMap
    val avgVarB = plain.collect { case ((g, "B"), (_, _, v)) => v }.sum / 10
    val avgVarBw = dw.collect { case ((g, "B"), (_, v)) => v }.sum / 10
    assert(avgVarBw < avgVarB, s"weighted B variance $avgVarBw !< $avgVarB")
    assert(dw.forall { case ((_, grp), (n, _)) => grp != "B" || n < 3.0 })
  }

  test("arrayWeightsReml matches direct numerical REML maximisation on a fixture") {
    // 40 genes x 10 arrays (groups A: s01-05, B: s06-10); s10 is ~3x
    // noisier. Deterministic but decorrelated noise (sin-hash):
    // lattice noise (mod arithmetic) is rank-deficient across arrays
    // and sends the heteroscedastic REML to a degenerate boundary
    // optimum; and a 6-array/4-df layout makes the fixed point
    // converge pathologically slowly (hundreds of sweeps) where 10
    // arrays converge in ~30.
    def noise(g: Int, s: Int): Double = {
      val x = math.sin(g * 12.9898 + s * 78.233) * 43758.5453
      (x - math.floor(x)) * 2.0 - 1.0
    }
    def value(g: Int, s: Int): Double = {
      val grp = if (s <= 5) 1.0 else 0.0
      val scale = if (s == 10) 3.0 else 1.0
      5.0 + g * 0.1 + grp + noise(g, s) * scale
    }
    val genes = 1 to 40
    val arrays = 1 to 10
    val rows = for (g <- genes; s <- arrays) yield (s"g$g", f"s$s%02d", value(g, s))
    val m = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))
    val groups = arrays.map(s => (f"s$s%02d", if (s <= 5) "A" else "B")).toDF("sample_id", "group")
    // priorN = 0: pure (unpenalised) REML, to compare against the
    // numeric maximiser of the unpenalised restricted likelihood; the
    // production default priorN = 10 is limma's prior.n squeeze
    val got = DiffExpr.arrayWeightsReml(m, groups, priorN = 0.0).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the limma-default prior squeezes the same fit toward equality:
    // noisy array's weight rises toward 1, clean arrays' fall toward 1
    val gotP = DiffExpr.arrayWeightsReml(m, groups).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotP("s10") > got("s10") && gotP("s10") < 0.7,
      s"prior should shrink toward 1: ${gotP("s10")} vs ${got("s10")}")

    // independent reference: -2 * restricted log-likelihood, profiled
    // over the per-gene sigma^2:
    //   sum_g [ sum_j log v_j + sum_c log S_c + (n-p) log(r_g/(n-p)) ]
    // minimised by cyclic golden-section over each log v_j
    def negRll(v: Map[Int, Double]): Double = {
      val w = v.map { case (s, x) => s -> 1.0 / x }
      genes.map { g =>
        val cells = Seq(1 to 5, 6 to 10)
        val logDetX = cells.map(c => math.log(c.map(w).sum)).sum
        val r = cells.map { c =>
          val sw = c.map(w).sum
          val mu = c.map(s => w(s) * value(g, s)).sum / sw
          c.map(s => w(s) * (value(g, s) - mu) * (value(g, s) - mu)).sum
        }.sum
        arrays.map(s => math.log(v(s))).sum + logDetX + (10 - 2) * math.log(r / (10 - 2))
      }.sum
    }
    var v = arrays.map(_ -> 1.0).toMap
    val phi = (math.sqrt(5.0) - 1) / 2
    for (_ <- 1 to 15; j <- arrays) {
      var (lo, hi) = (-5.0, 5.0)
      while (hi - lo > 1e-7) {
        val x1 = hi - phi * (hi - lo); val x2 = lo + phi * (hi - lo)
        val f1 = negRll(v + (j -> math.exp(x1)))
        val f2 = negRll(v + (j -> math.exp(x2)))
        if (f1 < f2) hi = x2 else lo = x1
      }
      v = v + (j -> math.exp((lo + hi) / 2))
    }
    val wOpt0 = arrays.map(s => s -> 1.0 / v(s)).toMap
    val wMean = wOpt0.values.sum / wOpt0.size
    val wOpt = wOpt0.map { case (s, x) => s -> x / wMean }
    for (s <- arrays)
      assert(math.abs(got(f"s$s%02d") - wOpt(s)) < 0.03,
        s"s$s: reml ${got(f"s$s%02d")} vs numeric ${wOpt(s)} (all: $got vs $wOpt)")
    assert(got("s10") < 0.5, s"noisy array weight not shrunk: $got")
  }

  test("duplicateCorrelationReml equals the hand-computed balanced ANOVA-REML per gene") {
    // 30 genes x 6 units x 2 reps; units 1-3 group A, 4-6 B; unit
    // effect amplitude 0.8, replicate noise amplitude 0.3
    def unitEff(g: Int, u: Int): Double = (((g * 13 + u * 7) % 9) - 4) / 4.0 * 0.8
    def repNoise(g: Int, u: Int, r: Int): Double = (((g * 5 + u * 11 + r * 3) % 7) - 3) / 3.0 * 0.3
    def value(g: Int, u: Int, r: Int): Double =
      2.0 + g * 0.05 + (if (u <= 3) 1.0 else 0.0) + unitEff(g, u) + repNoise(g, u, r)
    val rows = for (g <- 1 to 30; u <- 1 to 6; r <- 1 to 2)
      yield (s"g$g", s"u$u-r$r", value(g, u, r), s"u$u", r, if (u <= 3) "A" else "B")
    val m = ExpressionMatrix(rows.map(t => (t._1, t._2, t._3)).toDF("gene_id", "sample_id", "value"))
    val reps = rows.map(t => (t._2, t._4, t._5)).distinct.toDF("sample_id", "unit", "rep")
    val groups = rows.map(t => (t._2, t._6)).distinct.toDF("sample_id", "group")
    val (perGene, consensus) = DiffExpr.duplicateCorrelationReml(m, reps, groups)
    val got = perGene.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    for (g <- 1 to 30) {
      val cells = Map("A" -> (1 to 3), "B" -> (4 to 6))
      val e = (for ((_, us) <- cells.toSeq; u <- us; r <- 1 to 2) yield {
        val mu = (for (u2 <- cells.find(_._2.contains(u)).get._2; r2 <- 1 to 2)
          yield value(g, u2, r2)).sum / 6.0
        (u, value(g, u, r) - mu)
      })
      val byUnit = e.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val ssw = byUnit.values.map(es => {
        val m0 = es.sum / es.size; es.map(x => (x - m0) * (x - m0)).sum
      }).sum
      val ssb = byUnit.values.map(es => {
        val m0 = es.sum / es.size; es.size * m0 * m0
      }).sum
      val msw = ssw / (12 - 6)
      val msb = ssb / (6 - 2)
      val su2 = (msb - msw) / 2.0
      val expected = math.max(-0.999, math.min(0.999, su2 / (su2 + msw)))
      if (msw > 0)
        assert(math.abs(got(s"g$g") - expected) < 1e-9,
          s"g$g: got ${got(s"g$g")} expected $expected")
    }
    assert(consensus > 0.5, s"unit effects present but consensus=$consensus")
  }

  test("icc gramian tiling: 1-row tiles reproduce the single-pass result exactly") {
    val rows = for (g <- 1 to 40; s <- 1 to 9) yield
      (s"g$g", s"s$s", ((g * 13 + s * 7) % 23).toDouble + (if (s % 2 == 0) g * 0.1 else 0.0))
    val m1 = ExpressionMatrix(rows.toDF("gene_id", "sample_id", "value"))
    val m2 = ExpressionMatrix(rows.map(r => (r._1, r._2, r._3 * 1.1 + ((r._1.length * 3) % 5)))
      .toDF("gene_id", "sample_id", "value"))
    def run(): Map[String, Double] = Meta.icc(m1, m2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val single = run()
    spark.conf.set("spark.graft.icc.tileBytes", "64")   // 8 doubles -> 1-row tiles at 9 cols
    val tiled = try run() finally spark.conf.unset("spark.graft.icc.tileBytes")
    assert(single.keySet == tiled.keySet && single.nonEmpty)
    for (k <- single.keySet)
      assert(java.lang.Double.compare(single(k), tiled(k)) == 0,
        s"$k: ${single(k)} vs ${tiled(k)}")
  }

  test("groupStatsGlsObs equals dense-matrix GLS (V inverse by elimination)") {
    // 8 samples, 2 groups, blocks nested in groups (sizes 2/2 in A,
    // 3/1 in B — UNBALANCED, where the design-effect approximation
    // diverges), per-observation weights varying by gene
    val rho = 0.45
    val units = Map("s1" -> "u1", "s2" -> "u1", "s3" -> "u2", "s4" -> "u2",
      "s5" -> "u3", "s6" -> "u3", "s7" -> "u3", "s8" -> "u4")
    val grp = (i: Int) => if (i <= 4) "A" else "B"
    val samples = (1 to 8).map(i => s"s$i")
    val rows = for (g <- 1 to 12; i <- 1 to 8) yield {
      val w = 0.5 + ((g * 7 + i * 3) % 5) * 0.3
      val y = 10.0 + g * 0.1 + (if (grp(i) == "A") 1.2 else 0.0) +
        ((g * 11 + i * 5) % 7 - 3) * 0.4
      (s"g$g", s"s$i", y, w)
    }
    val spark0 = spark
    import spark0.implicits._
    val vw = rows.toDF("gene_id", "sample_id", "value", "weight")
    val groups = samples.map(s => (s, grp(s.drop(1).toInt))).toDF("sample_id", "group")
    val reps = units.toSeq.map { case (s, u) => (s, u, 1) }.toDF("sample_id", "unit", "rep")
    val got = graft.operators.DiffExpr.groupStatsGlsObs(vw, groups, reps, rho)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getLong(3), r.getDouble(4), Option(r.get(5)).map(_.asInstanceOf[Double])))
      .toMap

    def invert(a: Array[Array[Double]]): Array[Array[Double]] = {
      val n = a.length
      val m = Array.tabulate(n, 2 * n)((i, j) => if (j < n) a(i)(j) else if (j - n == i) 1.0 else 0.0)
      for (col <- 0 until n) {
        val piv = (col until n).maxBy(r => math.abs(m(r)(col)))
        val t = m(piv); m(piv) = m(col); m(col) = t
        val p = m(col)(col)
        for (j <- 0 until 2 * n) m(col)(j) /= p
        for (r <- 0 until n if r != col) {
          val f = m(r)(col)
          for (j <- 0 until 2 * n) m(r)(j) -= f * m(col)(j)
        }
      }
      Array.tabulate(n, n)((i, j) => m(i)(j + n))
    }
    for (g <- 1 to 12) {
      val w = samples.map(s => rows.find(r => r._1 == s"g$g" && r._2 == s).get._4).toArray
      val y = samples.map(s => rows.find(r => r._1 == s"g$g" && r._2 == s).get._3).toArray
      val v = Array.tabulate(8, 8) { (i, j) =>
        val r = if (i == j) 1.0 else if (units(samples(i)) == units(samples(j))) rho else 0.0
        r / math.sqrt(w(i) * w(j))
      }
      val vi = invert(v)
      val x = Array.tabulate(8, 2)((i, c) => if ((grp(i + 1) == "A") == (c == 0)) 1.0 else 0.0)
      val xtvx = Array.tabulate(2, 2)((a, b) =>
        (for (i <- 0 until 8; j <- 0 until 8) yield x(i)(a) * vi(i)(j) * x(j)(b)).sum)
      val xtvy = Array.tabulate(2)(a =>
        (for (i <- 0 until 8; j <- 0 until 8) yield x(i)(a) * vi(i)(j) * y(j)).sum)
      assert(math.abs(xtvx(0)(1)) < 1e-9, "nested blocks => diagonal information")
      val beta = Array(xtvy(0) / xtvx(0)(0), xtvy(1) / xtvx(1)(1))
      val ytvy = (for (i <- 0 until 8; j <- 0 until 8) yield y(i) * vi(i)(j) * y(j)).sum
      val rss = ytvy - beta(0) * xtvy(0) - beta(1) * xtvy(1)
      val (nA, nObsA, meanA, varA) = got((s"g$g", "A"))
      val (nB, nObsB, meanB, varB) = got((s"g$g", "B"))
      assert(math.abs(nA - xtvx(0)(0)) < 1e-9 && math.abs(nB - xtvx(1)(1)) < 1e-9,
        s"g$g info: ($nA, $nB) vs (${xtvx(0)(0)}, ${xtvx(1)(1)})")
      assert(math.abs(meanA - beta(0)) < 1e-9 && math.abs(meanB - beta(1)) < 1e-9,
        s"g$g beta: ($meanA, $meanB) vs (${beta(0)}, ${beta(1)})")
      assert(nObsA == 4L && nObsB == 4L)
      val rssOp = (nObsA - 1) * varA.get + (nObsB - 1) * varB.get
      assert(math.abs(rssOp - rss) < 1e-9, s"g$g rss: $rssOp vs $rss")
    }
  }

  test("weightedStouffer: finite z for p = 1e-20, infinite z for p = 0") {
    // qnorm(1 - 1e-20/2) rounds to qnorm(1) = +Inf; the combined z must
    // instead use the finite quantile qnorm(1 - 5e-21) = 9.33604484923406.
    // Expected z_comb = (sqrt(2)*9.33604484923406 + sqrt(1.5)*qnorm(0.9))
    // / sqrt(2.5 + 1.875), computed at 50 digits.
    val df = Seq(("tiny", 0.5, 1e-20, 2.0), ("tiny", 0.5, 0.2, 1.5),
        ("zero", 0.5, 0.0, 2.0), ("zero", 0.5, 0.2, 1.5))
      .toDF("gene_id", "icc", "p", "log2fc")
    val z = Meta.weightedStouffer(df).collect()
      .map(r => r.getAs[String]("gene_id") -> r.getAs[Double]("z_comb")).toMap
    assert(math.abs(z("tiny") - 7.0627181811145038) < 1e-9, s"z_comb = ${z("tiny")}")
    // p = 0 exactly is an infinite z, as R's qnorm(1) is
    assert(z("zero") == Double.PositiveInfinity)
  }
}
