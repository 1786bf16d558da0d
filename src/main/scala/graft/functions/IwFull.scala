package graft.functions

/** Full Iron-Wustite buffer after Hirschmann (2021) (reference
  * `fO2/IW.py`): Gibbs polynomials (Hidayat 2015 / Dinsdale 1991) with the
  * bcc magnetic correction, Vinet-EOS pressure terms (100-point trapezoid
  * VdP), min-Gibbs Fe-polymorph selection, and the wustite FeO-FeO1.5
  * solid-solution equilibrium solved by bisection per (T,P) (the reference
  * float32-coerces its result; we keep doubles).
  *
  * One rule, as for QFM: the expensive sub-solve is memoised on its own
  * key and the per-row assembly is computed. Here the sub-solve is the
  * 100-point Vinet grid, keyed on (phase, P) ([[vdpGrid]]); the Gibbs
  * sums, the polymorph minimum and the wustite bisection run per row.
  */
object IwFull {

  val R = 8.31446261815324

  // Gibbs0 polynomial: a + bT + cTlnT + dlnT + eT^2 + fT^3 + g/T + hT^7 + iT^-9
  // (`fO2/data/IW_G0_params.csv`; keyed (phase, lowT/highT @ 1811 K))
  private type G0 = (Double, Double, Double, Double, Double, Double, Double, Double, Double)
  private val g0Low: Map[String, G0] = Map(
    "Fe_fcc" -> (-236.7, 132.416, -24.6643, 0, -0.0038, -5.89e-08, 77359.0, 0, 0),
    "Fe_bcc-alpha" -> (1225.7, 124.134, -23.5143, 0, -0.004398, -5.89e-08, 77359.0, 0, 0),
    "Fe_HCP" -> (-2480.08, 136.725, -24.6643, 0, -0.00375752, -5.89e-08, 77358.5, 0, 0),
    "Fe_bcc-delta" -> (5970.7, 124.134, -23.5143, 0, -0.00439752, -5.89e-08, 77358.5, 0, 0),
    "Fe_liquid" -> (13265.87, 117.57557, -23.5143, 0, -0.00439752, -5.89e-08, 77358.5, -3.68e-21, 0),
    "FeO" -> (-285203.5, 274.2455, -49.19444, 574.4469, -0.004678477, 0, 297568.8, 0, 0),
    "FeO1.5" -> (-523138.0, 73.37019, -26.96809, 25471.09, -0.008836071, 0, 1498519.0, 0, 0),
    "O2" -> (-13137.52, 25.32003, -33.627, 0, -0.00119159, 1.356e-08, 525809.556, 0, 0))
  private val g0High: Map[String, G0] = Map(
    "Fe_fcc" -> (-27097.396, 300.253, -46.0, 0, 0, 0, 0, 0, -2.79e+31),
    "Fe_bcc-alpha" -> (-25383.581, 299.313, -46.0, 0, 0, 0, 0, 0, 2.30e+31),
    "Fe_HCP" -> (-29340.78, 304.562, -46.0, 0, 0, 0, 0, 0, 2.79e+31),
    "Fe_bcc-delta" -> (-20638.581, 299.313, -46.0, 0, 0, 0, 0, 0, 2.30e+31),
    "Fe_liquid" -> (-10838.83, 291.302, -46.0, 0, 0, 0, 0, 0, 0),
    "FeO" -> (-285203.5, 274.2455, -49.19444, 574.4469, -0.004678477, 0, 297568.8, 0, 0),
    "FeO1.5" -> (-523138.0, 73.37019, -26.96809, 25471.09, -0.008836071, 0, 1498519.0, 0, 0),
    "O2" -> (-13137.52, 25.32003, -33.627, 0, -0.00119159, 1.36e-08, 525809.556, 0, 0))
  // O2 below 1000 K (`fO2/IW.py:30-43`)
  private val g0O2LowT: G0 =
    (-6961.7445, -51.0057, -22.271, 0, -1.01977e-2, 1.32369e-8, -7629.7484, 0, 0)

  // Vinet EOS params: V_0, K_0, Kprime_0, alpha0, delta0, kappa
  private type EosP = (Double, Double, Double, Double, Double, Double)
  private val eos: Map[String, EosP] = Map(
    "FeO" -> (12.256, 149.0, 3.83, 4.5e-5, 4.25, 1.4),
    "FeO1.5" -> (16.372, 149.0, 3.83, 4.5e-5, 4.25, 1.4),
    "Fe_fcc" -> (6.82, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_bcc-alpha" -> (7.092, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_HCP" -> (6.753, 163.4, 5.38, 5.8e-05, 5.1, 1.4),
    "Fe_bcc-delta" -> (7.092, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_liquid" -> (6.88, 148.0, 5.8, 9e-5, 5.1, 1.4))

  private val q00 = -5.94e4; private val q10 = 4.27e4
  private val fePolymorphs = Seq("Fe_fcc", "Fe_bcc-alpha", "Fe_HCP",
    "Fe_bcc-delta", "Fe_liquid")

  private def gibbs0(tK: Double, p: G0): Double = {
    val (a, b, c, d, e, f, g, h, i) = p
    a + b * tK + c * tK * math.log(tK) + d * math.log(tK) + e * tK * tK +
      f * tK * tK * tK + g / tK + h * math.pow(tK, 7) + i * math.pow(tK, -9)
  }

  private def g0Params(phase: String, tK: Double): G0 = {
    if (phase == "O2" && tK < 1000.0) g0O2LowT
    else if (tK > 1811.0) g0High(phase)
    else g0Low(phase)
  }

  /** bcc-alpha magnetic Gibbs correction (`fO2/IW.py:130-157`). */
  private def gibbsFeMagnetic(tK: Double): Double = {
    val tc = 1043.0; val pf = 0.4; val beta = 2.22; val a = 1.55828482
    val tau = tK / tc
    val gm =
      if (tK < tc) {
        val term1 = (79.0 / tau) / (140.0 * pf)
        val term2 = (474.0 / 497.0) * (1.0 / pf - 1.0) *
          (math.pow(tau, 3) / 6.0 + math.pow(tau, 9) / 135.0 +
            math.pow(tau, 15) / 600.0)
        1.0 - (1.0 / a) * (term1 + term2)
      } else
        (-1.0 / a) * (math.pow(tau, -5) / 10.0 + math.pow(tau, -15) / 315.0 +
          1.0 / 1500.0)
    gm * (R * tK * math.log(beta + 1.0))
  }

  // ---- Vinet EOS (`EOSs/vinet.py`) --------------------------------------

  private def vinetP(v: Double, v0: Double, k0: Double, kp0: Double): Double = {
    val x = math.pow(v / v0, 1.0 / 3.0)
    3.0 * k0 / (x * x) * (1.0 - x) * math.exp(1.5 * (kp0 - 1.0) * (1.0 - x))
  }

  /** Room-T volume at pressure `pGPa`: Vinet inversion by 60 fixed
    * bisection steps on [0.3 v0, 1.5 v0] — vinetP is strictly decreasing
    * in V, so the root is unique. Deterministic straight-line IEEE
    * arithmetic with no convergence branches, so the DuckDB oracle
    * ([[graft.IwSql]]) replicates the solve exactly (the earlier seeded
    * secant chained each grid point's start on the previous solution —
    * fast, but a data-dependent path no SQL rendering could follow).
    * Unbracketed inputs return v0, mirroring the old Brent fallback. */
  private def vinetVRoom(pGPa: Double, p: EosP): Double = {
    val (v0, k0, kp0, _, _, _) = p
    def f(v: Double): Double = vinetP(v, v0, k0, kp0) - pGPa
    if (!(f(v0 * 0.3) > 0.0) || !(f(v0 * 1.5) < 0.0)) return v0
    var lo = v0 * 0.3
    var hi = v0 * 1.5
    var it = 0
    while (it < 60) {
      val mid = (lo + hi) * 0.5
      if (f(mid) > 0.0) lo = mid else hi = mid
      it += 1
    }
    (lo + hi) * 0.5
  }

  /** The T-independent part of the 100-point V(P) integration grid for one
    * phase: room-T volumes and thermal-expansion coefficients at each grid
    * pressure. Cached per (phase, target pressure): the thermal factor
    * exp(alpha (T - 298.15)) is the ONLY T-dependence of the Vinet volume,
    * so across the many (T, P) conditions sharing a pressure the expensive
    * EOS inversions happen once (at sf0.1 each pressure recurs across ~250
    * temperatures). */
  // Memo, not raw get/put: computeIfAbsent pays each grid once per
  // executor (plain get/put lets every cold-executor task invert the same
  // 100-point Vinet grid concurrently before the first put lands), and
  // the bound evicts PARTIALLY on breach instead of clear-all — the grid
  // key genuinely depends on continuous pGPa (the 100-point lattice
  // stretches to the target pressure), so unlike deng2020's dVdP there is
  // no discrete re-key; when distinct pressures outgrow the cap at scale
  // the hit rate degrades gracefully and the evictions are counted
  // ([[attachMetrics]]).
  private def vdpGrid(phase: String, pGPa: Double): (Array[Double], Array[Double]) =
    // Bound must exceed the working set (7 phases x ~10k distinct pressures
    // in the driver tables = 70k entries, ~110 MB) or the cache degrades.
    gridCache.getOrFill((phase, pGPa)) {
    val p = eos(phase)
    val (v0, _, _, alpha0, delta0, kappa) = p
    val n = 100
    val step = (pGPa - 1e-4) / (n - 1)
    val vRoom = new Array[Double](n)
    val alpha = new Array[Double](n)
    var i = 0
    while (i < n) {
      val pi = 1e-4 + i * step
      val v = vinetVRoom(pi, p)
      vRoom(i) = v
      alpha(i) = alpha0 * math.exp((-delta0 / kappa) *
        (1.0 - math.pow(v / v0, kappa)))
      i += 1
    }
    (vRoom, alpha)
    }

  private val gridCache =
    new Memo[(String, Double), (Array[Double], Array[Double])](200000)

  /** 100-point trapezoid of V dP from 1 bar to P (J/mol). */
  private def vinetVdP(pGPa: Double, tK: Double, phase: String): Double = {
    if (pGPa <= 1e-4) return 0.0
    val (vRoom, alpha) = vdpGrid(phase, pGPa)
    val n = vRoom.length
    val step = (pGPa - 1e-4) / (n - 1)
    val dT = tK - 298.15
    var integral = 0.0
    var prev = vRoom(0) * math.exp(alpha(0) * dT)
    var i = 1
    while (i < n) {
      val vi = vRoom(i) * math.exp(alpha(i) * dT)
      integral += 0.5 * (vi + prev) * step
      prev = vi
      i += 1
    }
    integral * 1000.0
  }

  // ---- assembly (`fO2/IW.py:159-471`) -----------------------------------

  private def gibbsPhase(phase: String, tK: Double, pBar: Double): Double = {
    var g = gibbs0(tK, g0Params(phase, tK))
    if (phase == "Fe_bcc-alpha") g += gibbsFeMagnetic(tK)
    if (pBar > 1.0 && phase != "O2") g += vinetVdP(pBar / 1e4, tK, phase)
    g
  }

  private def gammaFeO(x: Double): Double =
    (q00 + 2.0 * q10 * (1.0 - x)) * x * x
  private def gammaFeO1p5(x: Double): Double =
    (1.0 - x) * (1.0 - x) * (q00 + q10 - 2.0 * q10 * x)

  /** Export hit/miss/fill/eviction counters for the grid memo (called
    * by Verify/Bench after session build). */
  def attachMetrics(spark: org.apache.spark.sql.SparkSession): Seq[MemoStats] = {
    val g = MemoStats.attach(spark, "iw.gridCache")
    gridCache.attach(g)
    Seq(g)
  }

  /** Absolute fO2 (bar) at IW + logshift (`fO2/IW.py:383-471`),
    * suppress_Fe_liquid = false (the reference default). */
  def fO2(tK: Double, pBar: Double, logshift: Double = 0.0): Double =
    fO2Base(tK, pBar) * math.pow(10.0, logshift)

  private def fO2Base(tK: Double, pBar: Double): Double = {
    val gFeO = gibbsPhase("FeO", tK, pBar)
    val gFeO1p5 = gibbsPhase("FeO1.5", tK, pBar)
    val gO2 = gibbsPhase("O2", tK, pBar)
    val gFe = fePolymorphs.map(ph => gibbsPhase(ph, tK, pBar)).min
    val dGFeOFeO1p5 = gFeO1p5 - gFeO - gO2 / 4.0
    val dGFeWustite = 3.0 * gFeO - 2.0 * gFeO1p5 - gFe
    // wustite solid-solution equilibrium (eq. 14, half stoichiometry)
    def eqFn(x: Double): Double = {
      val part1 = 0.5 * dGFeWustite +
        R * tK * math.log(math.pow(1.0 - x, 1.5) / x)
      part1 + 1.5 * gammaFeO(x) - gammaFeO1p5(x)
    }
    // 60 fixed bisection steps: eqFn is strictly decreasing in x (the
    // ln((1-x)^1.5/x) term) and always bracketed (+inf at 0+, -inf at 1-);
    // deterministic for the DuckDB oracle, unbracketed mirror of the old
    // catch -> 1e-6
    val x = {
      if (!(eqFn(1e-6) > 0.0) || !(eqFn(1.0 - 1e-6) < 0.0)) 1e-6
      else {
        var lo = 1e-6
        var hi = 1.0 - 1e-6
        var it = 0
        while (it < 60) {
          val mid = (lo + hi) * 0.5
          if (eqFn(mid) > 0.0) lo = mid else hi = mid
          it += 1
        }
        (lo + hi) * 0.5
      }
    }
    val muO2 = 4.0 * (dGFeOFeO1p5 + R * tK * math.log(x / (1.0 - x)) +
      gammaFeO1p5(x) - gammaFeO(x))
    math.exp(muO2 / (R * tK))
  }

  import org.apache.spark.sql.{functions => F, DataFrame}

  val fO2Udf = F.udf((tK: Double, pBar: Double, shift: Double) =>
    fO2(tK, pBar, shift))

  /** Attach an IW-buffer `fO2` column: [[fO2Udf]] per row. The Vinet
    * grids inside are memoised per (phase, P); the assembly over them is
    * computed per row. */
  def withIw(df: DataFrame, tCol: String, pCol: String,
             logshift: Double = 0.0, as: String = "fO2"): DataFrame =
    df.withColumn(as, fO2Udf(F.col(tCol), F.col(pCol), F.lit(logshift)))
}
