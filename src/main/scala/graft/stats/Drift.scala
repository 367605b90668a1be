package graft.stats

import org.apache.datasketches.kll.KllDoublesSketch

/** Distribution-drift measures computed from two KLL sketches — the
  * engine's scale-out extension of the reference's observed-vs-declared
  * comparison (`wider?`, db_types/common.clj:20-115): instead of only
  * range-fit, we compare whole distributions without a second data pass.
  */
object Drift {

  /** Smoothing floor of a bin's mass, so empty bins don't blow up PSI. */
  private val Eps = 1e-6

  /** Equi-probable bins of the reference sketch in [[psi]]. */
  private val PsiBins = 10

  /** Quantile probes per sketch in [[ks]]. */
  private val KsProbes = 100

  /** Population Stability Index over [[PsiBins]] equi-probable bins of
    * the reference sketch, eps-smoothed.
    * Rule of thumb: <0.1 stable, 0.1-0.25 moderate, >0.25 drifted.
    */
  def psi(reference: KllDoublesSketch, observed: KllDoublesSketch): Double = {
    if (reference.isEmpty || observed.isEmpty) return 0.0
    // bin edges = reference quantiles at i/bins
    val edges = (1 until PsiBins).map(i => reference.getQuantile(i.toDouble / PsiBins)).toArray
    val p = massByBins(reference, edges)
    val q = massByBins(observed, edges)
    var s = 0.0
    var i = 0
    while (i < p.length) {
      val pi = math.max(p(i), Eps)
      val qi = math.max(q(i), Eps)
      s += (pi - qi) * math.log(pi / qi)
      i += 1
    }
    s
  }

  /** PSI over two aligned count histograms (e.g. [[TokenHistAgg]]
    * vectors) — the categorical-distribution twin of [[psi]]. Counts are
    * normalized to masses with eps smoothing; empty histograms -> 0.
    */
  def psiCounts(reference: Array[Long], observed: Array[Long]): Double = {
    require(reference.length == observed.length)
    val rn = reference.sum.toDouble
    val on = observed.sum.toDouble
    if (rn == 0 || on == 0) return 0.0
    var s = 0.0
    var i = 0
    while (i < reference.length) {
      val pi = math.max(reference(i) / rn, Eps)
      val qi = math.max(observed(i) / on, Eps)
      s += (pi - qi) * math.log(pi / qi)
      i += 1
    }
    s
  }

  /** Kolmogorov-Smirnov statistic over two aligned count histograms —
    * the exact categorical twin of [[psiCounts]] (and of the
    * sketch-based [[ks]]): max |CDF_a - CDF_b| over the shared bin
    * grid. Deterministic (no sketch randomization), so it can be graded
    * exactly; the distributed shape is q53's bins-sized cumulative
    * window. Empty histograms -> 0.
    */
  def ksCounts(reference: Array[Long], observed: Array[Long]): Double = {
    require(reference.length == observed.length)
    val rn = reference.sum.toDouble
    val on = observed.sum.toDouble
    if (rn == 0 || on == 0) return 0.0
    var best = 0.0
    var ca = 0L
    var cb = 0L
    var i = 0
    while (i < reference.length) {
      ca += reference(i)
      cb += observed(i)
      val d = math.abs(ca / rn - cb / on)
      if (d > best) best = d
      i += 1
    }
    best
  }

  /** Kolmogorov-Smirnov statistic: max |CDF_a - CDF_b| probed at both
    * sketches' quantile grids.
    */
  def ks(a: KllDoublesSketch, b: KllDoublesSketch): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val points =
      (0 to KsProbes).map(i => a.getQuantile(i.toDouble / KsProbes)) ++
      (0 to KsProbes).map(i => b.getQuantile(i.toDouble / KsProbes))
    points.map(x => math.abs(cdf(a, x) - cdf(b, x))).max
  }

  private def cdf(s: KllDoublesSketch, x: Double): Double = s.getRank(x)

  /** Probability mass per bin given ascending inner edges (n-1 edges -> n bins). */
  private def massByBins(s: KllDoublesSketch, edges: Array[Double]): Array[Double] = {
    val cum = edges.map(e => s.getRank(e))
    val out = new Array[Double](edges.length + 1)
    var prev = 0.0
    var i = 0
    while (i < cum.length) {
      out(i) = math.max(0.0, cum(i) - prev)
      prev = cum(i)
      i += 1
    }
    out(edges.length) = math.max(0.0, 1.0 - prev)
    out
  }
}
