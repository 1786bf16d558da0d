package graft.functions

/** Deng et al. (2020) Fe3+/Fe2+ model (reference
  * `Fe_redox/Fe3Fe2_models.py:419-761`): Gibbs polynomial + a 4th-order
  * Birch-Murnaghan EOS volume solve per pressure-grid point, thermal
  * pressure coefficient, trapezoid integral of dV over P, Margules
  * activities, and the outer per-row Fe3Fe2 fixed point. Parameters are the
  * "12.5molpc" fit from Deng's published code.
  *
  * dVdP depends only on (T, P): memoised per executor in two [[Memo]]s
  * so the EOS work collapses to distinct-condition cardinality. The
  * composition side runs on the per-schema cation plan
  * ([[Fe3Fe2Iterative.CationPlan]]): a row computes its cation base and
  * Margules sum as a few array loops, with no Map, tuple or boxed key
  * (the dVdP key is a [[DVdPKey]] of primitives); the Map signature is an
  * adapter over the same kernel.
  */
object Deng2020 {

  /** The two EOS memos' [[MemoStats]], named `deng.vol` and `deng.dvdp`
    * (round-7 bench: a 42 s cold outlier on `q_fe3fe2_deng2020` was
    * undiagnosable because the EOS memo fill was invisible). Counting
    * follows the [[MemoStats]] rule: local-mode counts exact; on remote
    * executors the solver closures of [[Fe3Fe2Iterative.udf]] republish
    * the captured stats per task ([[ensureMetrics]]), so counts are
    * present there but approximate at task boundaries. When never
    * attached, the hot path pays one volatile null-check per memo. */
  final case class CacheMetrics(vol: MemoStats, dvdp: MemoStats) {
    def volHits: Counter = vol.hits
    def volMisses: Counter = vol.misses
    def volFillNanos: Counter = vol.fillNanos
    def dvdpHits: Counter = dvdp.hits
    def dvdpMisses: Counter = dvdp.misses
    def dvdpFillNanos: Counter = dvdp.fillNanos
  }

  def attachMetrics(spark: org.apache.spark.sql.SparkSession): CacheMetrics = {
    val m = CacheMetrics(MemoStats.attach(spark, "deng.vol"),
      MemoStats.attach(spark, "deng.dvdp"))
    volCache.attach(m.vol)
    dVdPCache.attach(m.dvdp)
    m
  }

  def currentMetrics: Option[CacheMetrics] =
    for (v <- volCache.attached; d <- dVdPCache.attached)
      yield CacheMetrics(v, d)

  /** Executor-side republish of a closure-captured instance
    * ([[Memo.publish]]). */
  private[graft] def ensureMetrics(m: CacheMetrics): Unit = {
    volCache.publish(m.vol)
    dVdPCache.publish(m.dvdp)
  }

  val R = 8.31446261815324
  val Avogadro = 6.02214076e23
  private val tRef = 3000.0
  private val a3ToCm3 = 1e-24

  /** EOS + thermal-pressure parameter sets keyed by melt-Fe content
    * (`Fe3Fe2_models.py:462-504`, the un-rounded values from Deng's
    * published code). Tuples: (eosFe2, eosFe3, thermFe2, thermFe3,
    * formulaUnits); eos = (V_0, K_0, Kprime_0, Kprime_prime_0),
    * therm = (a, b, c). */
  private val paramSets: Map[String,
      ((Double, Double, Double, Double), (Double, Double, Double, Double),
       (Double, Double, Double), (Double, Double, Double), Double)] = Map(
    "12.5molpc" -> (
      (1180.114014, 26.94713861, 2.802531871, 0.012313472),
      (1204.763652, 23.19530062, 3.216089358, 0.009340183),
      (35.79397483, 71.10313668, 36.59545225),
      (34.52616394, 68.64429623, 35.27069116), 2.0),
    "25molpc" -> (
      (1192.011066, 23.95435759, 3.32104996, -0.008912497),
      (1256.727179, 16.12613905, 4.584011905, -0.177152954),
      (31.34712676, 62.48520005, 32.4675829),
      (30.38414264, 59.10950152, 29.64971394), 4.0))

  /** Birch-Murnaghan 4th order, Katsura & Tange (2019) eq. 27
    * (`EOSs/birch_murnaghan.py:6-42`); returns pressure in K_0's units. */
  def birchMurnaghan4(v: Double, p: (Double, Double, Double, Double)): Double = {
    val (v0, k0, kp, kpp) = p
    val x = v0 / v
    val part1 = 1.5 * k0 * (math.pow(x, 7.0 / 3.0) - math.pow(x, 5.0 / 3.0))
    val part2 = 1.0 + 0.75 * (kp - 4.0) * (math.pow(x, 2.0 / 3.0) - 1.0)
    val part3 = (9.0 * kp * kp - 63.0 * kp + 9.0 * k0 * kpp + 143.0) / 24.0
    val part4 = math.pow(math.pow(x, 2.0 / 3.0) - 1.0, 2.0)
    part1 * (part2 + part3 * part4)
  }

  private def thermalPressureCoeff(v: Double, v0: Double,
                                   t: (Double, Double, Double)): Double = {
    val (a, b, c) = t
    (a - b * (v / v0) + c * math.pow(v / v0, 2.0)) / 1000.0
  }

  /** Volume (cm3 per mole Fe) at (T, P) for the Fe2/Fe3 endmember: EOS +
    * thermal-pressure term solved for V (`Fe3Fe2_models.py:624-671`). */
  def volume(tK: Double, pBar: Double, fe3: Boolean,
             meltFe: String = "12.5molpc"): Double = {
    val (eosFe2, eosFe3, thermFe2, thermFe3, formulaUnits) = paramSets(meltFe)
    val eos = if (fe3) eosFe3 else eosFe2
    val therm = if (fe3) thermFe3 else thermFe2
    val pGPa = pBar / 1e4
    def f(v: Double): Double =
      birchMurnaghan4(v, eos) +
        thermalPressureCoeff(v, eos._1, therm) * (tK - tRef) - pGPa
    val vInit = eos._1 - 6.0 * pGPa
    val s = Solver.secant(f, vInit, vInit * 1.01, tol = 1e-10)
    // divergence fallback: 60 fixed bisection steps on the old Brent
    // bracket — deterministic, so the DuckDB oracle ([[graft.DengSql]])
    // mirrors both solver paths exactly (NaN when unbracketed)
    val vSol =
      if (s.isFinite && s > 0 && math.abs(f(s)) < 1e-8) s
      else {
        val lo0 = eos._1 * 0.3
        val hi0 = eos._1 * 2.0
        if (!(f(lo0) > 0.0) || !(f(hi0) < 0.0)) Double.NaN
        else {
          var lo = lo0
          var hi = hi0
          var it = 0
          while (it < 60) {
            val mid = (lo + hi) * 0.5
            if (f(mid) > 0.0) lo = mid else hi = mid
            it += 1
          }
          (lo + hi) * 0.5
        }
      }
    vSol / formulaUnits * Avogadro * a3ToCm3
  }

  /** Volume at integration-grid points, cached per (T, P, endmember): the
    * grid is a fixed 500-bar lattice and the driver tables carry ~250
    * distinct temperatures, so across rows the same solves recur
    * constantly (~10k distinct entries at sf0.1 vs ~200 fresh EOS solves
    * per row without the cache). */
  private[graft] val volCache =
    new Memo[(Double, Double, Boolean, String), java.lang.Double](500000)

  private def volumeCached(tK: Double, p: Double, fe3: Boolean,
                           meltFe: String): Double =
    volCache.getOrFill((tK, p, fe3, meltFe))(volume(tK, p, fe3, meltFe))
      .doubleValue

  /** dVdP memo key: T, the integration grid's point count and the
    * parameter set, in primitive fields. Doubles compare with `==`: a NaN
    * T never hits, and 0.0 and -0.0 share a key. */
  private[graft] final case class DVdPKey(tK: Double, nGrid: Int,
                                          meltFe: String)

  private[graft] val dVdPCache = new Memo[DVdPKey, java.lang.Double](100000)

  private val gridStep = 5e2

  /** Points of the 500-bar lattice 1, 501, ... below pBar + step, counted
    * by the same float walk that builds the lattice in [[dVdP]]'s fill. */
  private def gridLength(pBar: Double): Int = {
    val end = pBar + gridStep
    var n = 0
    var p = 1.0
    while (p < end) { n += 1; p += gridStep }
    n
  }

  /** trapezoid integral of dV (m3) over P (Pa) from 1 bar to P_bar with a
    * 500-bar grid (`Fe3Fe2_models.py:702-733`). */
  def dVdP(tK: Double, pBar: Double, meltFe: String = "12.5molpc"): Double = {
    // Key by the GRID LENGTH, not the raw pressure: the trapezoid runs
    // over the fixed 500-bar lattice points below pBar+step, so every
    // pBar mapping to the same point count yields the bit-identical
    // integral. Keying by raw pBar made the distinct-key count the
    // table's continuous-pressure cardinality (~600k at sf0.1), which
    // blew the 100k cap and turned the cache into clear-all thrash —
    // the round-7 "42 s cold" outlier, measured by the fill metrics as
    // 2.3M misses / 92 s of fill. Grid lengths number ~dozens, so the
    // key space is now bounded by |T| x |lengths| regardless of scale.
    val nGrid = gridLength(pBar)
    dVdPCache.getOrFill(DVdPKey(tK, nGrid, meltFe)) {
      val grid = new Array[Double](nGrid)
      var p = 1.0
      var i = 0
      while (i < nGrid) { grid(i) = p; p += gridStep; i += 1 }
      val dv = grid.map(p => (volumeCached(tK, p, fe3 = true, meltFe) -
        volumeCached(tK, p, fe3 = false, meltFe)) * 1e-6)
      var integral = 0.0
      i = 1
      while (i < grid.length) {
        integral += 0.5 * (dv(i) + dv(i - 1)) * (grid(i) - grid(i - 1)) * 1e5
        i += 1
      }
      integral
    }.doubleValue
  }

  /** Gibbs free energy at reference P (`Fe3Fe2_models.py:599-612`). */
  def gibbs0(tK: Double): Double =
    -331035.9211346371 - 190.3795512883899 * tK +
      14.785873706952849 * tK * math.log(tK) -
      0.0016487959655627517 * tK * tK + 9348044.389346942 / tK +
      10773.299613088355 * math.sqrt(tK)

  private val margules = Map("Mg" -> 68629.0, "Si" -> 4601.0, "Al" -> 40923.0,
    "Ca" -> -58109.0, "Na" -> 0.0, "K" -> -59584.0, "P" -> 0.0, "Ti" -> 0.0)
  private val feMargules = -14210.0
  // the Margules sum's terms as [[CatBase]] slots and coefficients, in
  // `margules`' iteration order: summed in that order from 0.0, the sum
  // keeps the bits of `margules.map(..).sum`
  private val (margulesSlots, margulesCoefs) = margules.toArray.map {
    case (n, m) => (Fe3Fe2Iterative.CationPlan.slotNames.indexOf(n), m)
  }.unzip

  private def margulesSum(b: Fe3Fe2Iterative.CatBase): Double = {
    var sum = 0.0
    var i = 0
    while (i < margulesSlots.length) {
      sum += b(margulesSlots(i)) * margulesCoefs(i)
      i += 1
    }
    sum
  }

  /** Full deng2020 (`Fe3Fe2_models.py:565-597`) on a mol-fraction Map:
    * an adapter over the [[Fe3Fe2Iterative.CatBase]] kernel. */
  def fe3Fe2(mol: Map[String, Double], tK: Double, pBar: Double,
             fO2: Double, meltFe: String = "12.5molpc"): Double =
    fe3Fe2Base(Fe3Fe2Iterative.catBase(mol), tK, pBar, fO2, meltFe)

  /** Per-row fixed point on eq. 3: dVdP/gibbs0 hoisted per (T,P) and the
    * non-Fe Margules sum per row (r-invariant — see
    * [[Fe3Fe2Iterative.CatBase]]); each trial is pure scalar math. */
  private[graft] def fe3Fe2Base(b: Fe3Fe2Iterative.CatBase, tK: Double,
                                pBar: Double, fO2: Double,
                                meltFe: String): Double = {
    val g0 = gibbs0(tK)
    val vdp = dVdP(tK, pBar, meltFe)
    val sumMargules = margulesSum(b)
    val gTerm = -(g0 + vdp) / (R * tK)
    val lnfO2Quarter = math.log(fO2) / 4.0
    def g(r: Double): Double = {
      val lnA = (sumMargules + b.feMinusFe3(r) * feMargules) / (R * tK)
      math.exp(gTerm - lnA + lnfO2Quarter) - r
    }
    val s = Solver.secant(g, 0.3, 0.31, tol = 1e-10)
    if (s.isFinite && s > 0.0 && math.abs(g(s)) < 1e-8) s
    else {
      // g is strictly decreasing in r (feMinusFe3 decreasing x negative
      // Margules coefficient): 60 fixed bisection steps replace the Brent
      // fallback so the DuckDB oracle mirrors both paths
      if (!(g(1e-8) > 0.0) || !(g(100.0) < 0.0)) Double.NaN
      else {
        var lo = 1e-8
        var hi = 100.0
        var it = 0
        while (it < 60) {
          val mid = (lo + hi) * 0.5
          if (g(mid) > 0.0) lo = mid else hi = mid
          it += 1
        }
        (lo + hi) * 0.5
      }
    }
  }
}
