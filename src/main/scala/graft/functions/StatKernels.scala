package graft.functions

import org.apache.commons.math3.distribution.{ChiSquaredDistribution, FDistribution, NormalDistribution, TDistribution}
import org.apache.commons.math3.special.Gamma

/** Deterministic scalar statistical kernels backed by commons-math3
  * (shipped with Spark MLlib). These are the engine equivalents of the
  * R quantile/distribution calls used throughout the reference:
  *   - qnorm/pnorm — `Meta_analysis.R:82-84,1226` (p↔z conversion)
  *   - qchisq      — `Meta_analysis.R:805-806` (QQ plots, Cochran Q)
  *   - pt          — limma moderated-t p-values (`DiffExpression_closedPlatform.R:546`)
  *   - pf          — eBayes F-moments
  *
  * All methods are pure static functions so they can be invoked from
  * codegen via `StaticInvoke` (see [[StatFunctions]]).
  */
object StatKernels {
  private val stdNormal = new NormalDistribution(null, 0.0, 1.0)

  /** Standard normal quantile (R qnorm). Below p = 1e-10 the
    * commons-math form erfInv(2p − 1) loses p to the rounding of
    * 2p − 1 (it returns −∞ from p ≈ 5.6e-17), so the lower tail uses
    * Acklam's rational approximation refined by one Halley step. */
  def qnorm(p: Double): Double =
    if (p.isNaN) Double.NaN
    else if (p <= 0.0) Double.NegativeInfinity
    else if (p >= 1.0) Double.PositiveInfinity
    else if (p < QnormLowerTail) qnormLowerTail(p)
    else stdNormal.inverseCumulativeProbability(p)

  private val QnormLowerTail = 1e-10

  private def qnormLowerTail(p: Double): Double = {
    val q = math.sqrt(-2.0 * math.log(p))
    val x = (((((-7.784894002430293e-03 * q - 3.223964580411365e-01) * q
      - 2.400758277161838e+00) * q - 2.549732539343734e+00) * q
      + 4.374664141464968e+00) * q + 2.938163982698783e+00) /
      ((((7.784695709041462e-03 * q + 3.224671290700398e-01) * q
        + 2.445134137142996e+00) * q + 3.754408661907416e+00) * q + 1.0)
    // Acklam is good to 1.15e-9 relative; one Halley step on
    // pnorm(x) = p takes it to double precision. exp(x²/2) overflows
    // only for subnormal p, where the unrefined x is kept.
    val u = (pnorm(x) - p) * math.sqrt(2.0 * math.Pi) * math.exp(x * x / 2.0)
    val refined = x - u / (1.0 + x * u / 2.0)
    if (refined.isNaN || refined.isInfinite) x else refined
  }

  /** Standard normal CDF (R pnorm). */
  def pnorm(z: Double): Double =
    if (z.isNaN) Double.NaN else stdNormal.cumulativeProbability(z)

  /** Two-sided p-value from a z score: pnorm(-|z|) * 2
    * (`Meta_analysis.R:1226`). */
  def zToTwoSidedP(z: Double): Double =
    if (z.isNaN) Double.NaN else 2.0 * stdNormal.cumulativeProbability(-math.abs(z))

  /** Chi-squared quantile (R qchisq). */
  def qchisq(p: Double, df: Double): Double =
    if (p.isNaN || df.isNaN || df <= 0) Double.NaN
    else new ChiSquaredDistribution(null, df).inverseCumulativeProbability(p)

  /** Chi-squared upper-tail probability. */
  def pchisqUpper(x: Double, df: Double): Double =
    if (x.isNaN || df <= 0) Double.NaN
    else if (x <= 0) 1.0
    else 1.0 - new ChiSquaredDistribution(null, df).cumulativeProbability(x)

  /** Student-t CDF (R pt). */
  def pt(t: Double, df: Double): Double =
    if (t.isNaN || df <= 0) Double.NaN
    else new TDistribution(null, df).cumulativeProbability(t)

  /** Two-sided p-value from a t statistic. */
  def tToTwoSidedP(t: Double, df: Double): Double =
    if (t.isNaN || df <= 0) Double.NaN
    else 2.0 * new TDistribution(null, df).cumulativeProbability(-math.abs(t))

  /** F distribution CDF. */
  def pf(x: Double, df1: Double, df2: Double): Double =
    if (x.isNaN || df1 <= 0 || df2 <= 0) Double.NaN
    else new FDistribution(null, df1, df2).cumulativeProbability(x)

  /** Hypergeometric upper tail P(X >= x), X ~ Hyper(N=nUni, K=kSig,
    * n=termSize) — topGO classic Fisher (`Meta_analysis.R:1359-1392`).
    *
    * Engine-invariant by construction: only +, *, / on exact-integer
    * doubles (every product < 2^53), so any IEEE-754 engine replaying
    * the same walk — e.g. the DuckDB recursive CTE in the q49 oracle —
    * reproduces it bit-for-bit. No lgamma/exp, whose libm variance
    * across builds broke the previous oracle at the rounding boundary.
    *
    * Shape: anchor the pmf recurrence at the mode (weight 1), walk up
    * then down the support accumulating unnormalized weights, return
    * tail/total. Weights only decay away from the mode, so no overflow;
    * far-tail underflow to 0 is IEEE-deterministic and identical on
    * both engines. */
  def hyperTail(nUni: Double, kSig: Double, termSize: Double, overlap: Double): Double = {
    val N = nUni.toLong; val K = kSig.toLong; val n = termSize.toLong; val x = overlap.toLong
    val lo = math.max(0L, n + K - N)
    val hi = math.min(n, K)
    if (hi < lo) return Double.NaN
    val m = math.min(math.max(((n + 1L) * (K + 1L)) / (N + 2L), lo), hi)
    var total = 1.0
    var tail = if (m >= x) 1.0 else 0.0
    var w = 1.0
    var i = m
    while (i < hi) {
      w = w * ((K - i) * (n - i)) / ((i + 1L) * (N - K - n + i + 1L))
      i += 1
      total += w
      if (i >= x) tail += w
    }
    w = 1.0
    i = m
    while (i > lo) {
      w = w * (i * (N - K - n + i)) / ((K - i + 1L) * (n - i + 1L))
      i -= 1
      total += w
      if (i >= x) tail += w
    }
    tail / total
  }

  /** Piecewise-linear interpolation (R `approx(..., rule = 2)`):
    * binary search for the bracketing knots, linear blend inside the
    * span, end values held outside. `xs` strictly increasing. Called
    * from [[Interp1]]'s generated code — keep the arithmetic in this
    * exact form; the DuckDB oracles replay it term for term. */
  def interp1(x: Double, xs: Array[Double], ys: Array[Double]): Double = {
    val n = xs.length
    if (n == 1 || x <= xs(0)) return ys(0)
    if (x >= xs(n - 1)) return ys(n - 1)
    var lo = 0
    var hi = n - 1
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) <= x) lo = mid else hi = mid
    }
    ys(lo) + (ys(hi) - ys(lo)) * (x - xs(lo)) / (xs(hi) - xs(lo))
  }

  def digamma(x: Double): Double = Gamma.digamma(x)
  def trigamma(x: Double): Double = Gamma.trigamma(x)

  /** Inverse of trigamma by Newton iteration (limma's trigammaInverse),
    * needed for eBayes d0 estimation (Smyth 2004 §6). */
  def trigammaInverse(x: Double): Double = {
    if (x.isNaN) return Double.NaN
    if (x > 1e7) return 1.0 / math.sqrt(x)
    if (x < 1e-6) return 1.0 / x
    var y = 0.5 + 1.0 / x
    var i = 0
    while (i < 50) {
      val tri = Gamma.trigamma(y)
      val dif = tri * (1.0 - tri / x) / tetragamma(y)
      y += dif
      if (-dif / y < 1e-8) i = 50 else i += 1
    }
    y
  }

  /** psi'''? no — psi_2, derivative of trigamma, via central difference. */
  private def tetragamma(y: Double): Double = {
    val h = 1e-4 * math.max(1.0, math.abs(y))
    (Gamma.trigamma(y + h) - Gamma.trigamma(y - h)) / (2.0 * h)
  }
}
