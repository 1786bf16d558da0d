package graft.functions

import graft.chem.Elements
import graft.functions.IaconoMarziano.Comp

/** MafiCH H2O-CO2 solubility model of Allison et al. (2022) (reference
  * `volatile_solubility/volatile_solubility_models/allison2022.py`) with
  * the Holloway & Blank (1994) fugacity EOS (`EOSs/CO2_H2O.py`): modified
  * Redlich-Kwong below 4 kbar, Saxena & Fei corresponding-states correction
  * above (CO2 only).
  *
  * Parity traps preserved: cation fractions rounded to 3 decimals (the
  * published spreadsheet does, `allison2022.py:399-401`), the alkali-basalt
  * formula weight 36.594 per 1 oxygen, and the MRK cubic-root selection
  * branches of `_REDKW`.
  */
object Allison {

  // ---- Holloway & Blank fugacity ----------------------------------------

  /** RK compressibility/fugacity routine after Edmister (1968)
    * (`EOSs/CO2_H2O.py:76-149`). Returns ln(fugacity coefficient). */
  private def redkw(bp: Double, a2bIn: Double): Double = {
    val th = 1.0 / 3.0
    val a2b = if (a2bIn < 1e-10) 0.001 else a2bIn
    val rr = -a2b * bp * bp
    val qq = bp * (a2b - bp - 1.0)
    val xn = qq * th + rr - 0.074074
    val xm = qq - th
    val xnn = xn * xn / 4.0
    val xmm = xm * xm * xm / 27.0
    val arg = xnn + xmm
    var fp = 1.0
    if (arg > 0) {
      val x = math.sqrt(arg)
      val xn2 = -xn / 2.0
      val iXmm = xn2 + x
      val xmmC = math.signum(iXmm) * math.pow(math.abs(iXmm), th)
      val iXnn = xn2 - x
      val xnnC = math.signum(iXnn) * math.pow(math.abs(iXnn), th)
      val z = xmmC + xnnC + th
      val zbp = math.max(z - bp, 0.000001)
      val bpz = 1.0 + bp / z
      fp = z - 1.0 - math.log(zbp) - a2b * math.log(bpz)
      if (fp < -37 || fp > 37) fp = 0.000001
    } else if (arg < 0) {
      var cosphi = math.sqrt(-xnn / xmm)
      if (xn > 0) cosphi = -cosphi
      val tanphi = math.sqrt(1.0 - cosphi * cosphi) / cosphi
      val phi = math.atan(tanphi) * th
      val fac = 2.0 * math.sqrt(-xm * th)
      val r1 = math.cos(phi)
      val r2 = math.cos(phi + 2.0944)
      val r3 = math.cos(phi + 4.18879)
      var rh = if (r1 > r2) r1 else r2
      if (r3 > rh) rh = r3
      val z = rh * fac + th
      val zbp = math.max(z - bp, 0.000001)
      val bpz = 1.0 + bp / z
      fp = z - 1.0 - math.log(zbp) - a2b * math.log(bpz)
      if (fp < -37 || fp > 37) fp = 0.000001
    }
    fp
  }

  /** Pure-gas MRK ln fugacity (`EOSs/CO2_H2O.py:40-74`). */
  private def rkcalc(tK: Double, pBar: Double, co2Species: Boolean): Double = {
    val r = 82.05736
    val pbln = math.log(pBar)
    val tC = tK - 273.15
    val rxt = r * tK
    val rt = r * math.pow(tK, 1.5) * 0.000001
    val pAtmos = pBar / 1.013
    val (asum0, bsum0) =
      if (co2Species) {
        val aco2m = 73.03 - 0.0714 * tC + 2.157e-05 * tC * tC
        (aco2m / (29.7 * rt), 29.7)
      } else {
        val ah2om = 115.98 - 0.0016295 * tK - 1.4984e-05 * tK * tK
        (ah2om / (14.5 * rt), 14.5)
      }
    val bsum = pAtmos * bsum0 / rxt
    redkw(bsum, asum0) + pbln
  }

  /** Saxena & Fei (1987) ln(F(P)/F(4000 bar)) for CO2 above 4 kbar
    * (`EOSs/CO2_H2O.py:150-184`). */
  private def saxena(tK: Double, pBar: Double): Double = {
    val po = 4000.0
    val tr = tK / 304.2
    val pc = 73.9
    val a = 2.0614 - 2.2351 / (tr * tr) - 0.39411 * math.log(tr)
    val b = 0.055125 / tr + 0.039344 / (tr * tr)
    val c = -1.8935e-06 / tr - 1.1092e-05 / (tr * tr) - 2.1892e-05 / (tr * tr * tr)
    val d = 5.0527e-11 / tr - 6.3033e-21 / (tr * tr * tr)
    a * math.log(pBar / po) + (b / pc) * (pBar - po) +
      (c / (2.0 * pc * pc)) * (pBar * pBar - po * po) +
      (d / (3.0 * pc * pc * pc)) * (pBar * pBar * pBar - po * po * po)
  }

  /** CO2/H2O fugacity (bar) (`EOSs/CO2_H2O.py:17-37`). */
  def fugacity(tK: Double, pBar: Double, co2Species: Boolean): Double = {
    val pureg =
      if (co2Species && pBar > 4000.0)
        rkcalc(tK, 4000.0, co2Species = true) + saxena(tK, pBar)
      else rkcalc(tK, pBar, co2Species)
    math.exp(pureg)
  }

  // ---- solubility -------------------------------------------------------

  private val R = 8.31446261815324
  private[graft] val Ra = R * 10.0 // cm3.bar.K-1.mol-1
  private[graft] val fw = 36.594 // alkali basalt formula weight per 1 oxygen
  private[graft] val p0 = 1e3

  /** Fixed 60-step bisection for a DECREASING objective with
    * q(lo) > 0 > q(hi): deterministic straight-line IEEE arithmetic with no
    * convergence branches, rendered op-for-op by the DuckDB oracle
    * ([[graft.AllisonSql]]) — the same dual-compilation discipline as
    * [[IaconoMarziano.h2oSaturation]]. Final interval width is
    * (hi-lo)/2^60 ≈ 1.3e-14 bar, below the 4-decimal output rounding. */
  private def bisect60(q: Double => Double, lo0: Double, hi0: Double): Double = {
    var lo = lo0; var hi = hi0; var it = 0
    while (it < 60) {
      val mid = (lo + hi) * 0.5
      if (q(mid) > 0.0) lo = mid else hi = mid
      it += 1
    }
    (lo + hi) * 0.5
  }

  /** H2O solubility, eq. 8: H2O = (fH2O/104.98)^(1/1.83). */
  def h2oSolubility(tK: Double, pBar: Double, xFluid: Double = 1.0): Double = {
    if (pBar <= 0 || xFluid <= 0) return 0.0
    val fH2O = fugacity(tK, pBar, co2Species = false) * xFluid
    math.pow(fH2O / 104.98, 1.0 / 1.83)
  }

  /** Allison cation fractions: the 8-oxide subcomposition, all Fe as FeO,
    * rounded to 3 decimals (`allison2022.py:386-401`). */
  private[functions] def cationFractions(c: Comp): Map[String, Double] = {
    val els = Seq("SiO2", "TiO2", "Al2O3", "FeO", "MgO", "CaO", "Na2O", "K2O")
    val terms = els.map { ox =>
      Elements.cationName(ox) ->
        c(ox) / Elements.chemicalWeight(ox).get * Elements.cationAmount(ox)
    }
    val tot = terms.map(_._2).sum
    terms.map { case (n, v) => n -> math.rint(v / tot * 1000.0) / 1000.0 }.toMap
  }

  private def deltaV(cat: Map[String, Double]): Double = {
    def x(n: String): Double = cat.getOrElse(n, 0.0)
    val naK = x("Na") / (x("Na") + x("K"))
    -3350.65 + 2625.385 * x("Ti") + 3105.426 * x("Al") + 47.0037 * naK +
      3375.552 * (x("Si") + x("Na")) + 3795.115 * x("K") + 3628.018 * x("Fe") +
      3323.32 * (x("Mg") + x("Ca"))
  }

  private def lnK0(cat: Map[String, Double]): Double = {
    def x(n: String): Double = cat.getOrElse(n, 0.0)
    val naK = x("Na") / (x("Na") + x("K"))
    -128.365 + 122.644 * (x("Fe") + x("Na") + x("Ca")) +
      92.263 * (x("Ti") + x("Al")) + 114.098 * x("Si") + 111.549 * x("Mg") +
      138.855 * x("K") + 2.239 * naK
  }

  /** CO2 solubility with the composition terms precomputed — lnK0/deltaV
    * are per-sample constants, hoisted out of the mixed-saturation Newton
    * loop's trial evaluations. */
  private def co2SolubilityK(lk0: Double, dv: Double, tK: Double,
                             pBar: Double, xFluid: Double): Double = {
    if (pBar <= 0 || 1.0 - xFluid <= 0) return 0.0
    val ra = R * 10.0
    val fCO2Pure = fugacity(tK, pBar, co2Species = true)
    val fCO2 = fCO2Pure * (1.0 - xFluid)
    val pCO2 =
      if (xFluid > 0) {
        // invert fugacity->P: fugacity ~ P, so seed a secant at fCO2 —
        // ~5 evals instead of a [1e-50, 15 kbar] Brent per objective call
        // (this sits inside the mixed-saturation Newton loop)
        def fn(p: Double): Double = fCO2 - fugacity(tK, p, co2Species = true)
        val s = Solver.secant(fn, math.max(fCO2, 1.0),
          math.max(fCO2 * 0.9, 0.5))
        if (s.isFinite && s > 0 && math.abs(fn(s)) < 1e-7 * math.max(1.0, fCO2)) s
        else
          // an unbracketed root fails Solver.brent's `require`: NaN row
          try Solver.brent(fn, 1e-50, 1.5e4)
          catch { case _: IllegalArgumentException => return Double.NaN }
      } else pBar
    val k = math.exp(lk0) * math.exp(-dv * (pCO2 - p0) / (ra * tK))
    val kf = k * fCO2
    val xCO3 = kf / (1.0 - kf)
    44.01 * xCO3 / (44.01 * xCO3 + (1.0 - xCO3) * fw) * 100.0
  }

  /** CO2 solubility (wt.%), eq. 5 (`allison2022.py:273-337`). */
  def co2Solubility(c: Comp, tK: Double, pBar: Double,
                    xFluid: Double = 0.0): Double = {
    val cat = cationFractions(c)
    co2SolubilityK(lnK0(cat), deltaV(cat), tK, pBar, xFluid)
  }

  /** H2O saturation pressure: invert the fugacity EOS against
    * fH2O = 104.98 H2O^1.83 (`allison2022.py:133-170`). fH2O(P) is strictly
    * increasing, so the reference's bracketed root_scalar on [1e-50, 1.5e4]
    * finds the unique root — replicated as a fixed 60-step bisection (same
    * bracket) for the DuckDB oracle twin. */
  def h2oSaturation(c: Comp, tK: Double, xFluid: Double = 1.0): Double = {
    val h2o = c("H2O")
    if (h2o == 0.0) return 0.0
    val fH2OPure = 104.98 * math.pow(h2o, 1.83) / xFluid
    def q(p: Double): Double = fH2OPure - fugacity(tK, p, co2Species = false)
    if (!(q(1e-50) > 0.0) || !(q(1.5e4) < 0.0)) return Double.NaN // unbracketed
    bisect60(q, 1e-50, 1.5e4)
  }

  /** CO2 saturation pressure (`allison2022.py:210-270`): the root of
    * K_fugacity(p) - K_solubility(p) on the reference bracket, as a fixed
    * 60-step bisection. */
  def co2Saturation(c: Comp, tK: Double, xFluid: Double = 0.0): Double = {
    val co2 = c("CO2")
    if (co2 == 0.0) return 0.0
    val cat = cationFractions(c)
    val dv = deltaV(cat); val lk0 = lnK0(cat)
    val xCO3 = co2 * (1.0 / 44.01) / ((100.0 / fw) - (co2 / fw))
    val kfTarget = xCO3 / (1.0 + xCO3)
    def q(p: Double): Double =
      kfTarget / fugacity(tK, p, co2Species = true) -
        math.exp(lk0) * math.exp(-dv * (p - p0) / (Ra * tK))
    if (!(q(1e-50) > 0.0) || !(q(1.5e4) < 0.0)) return Double.NaN // unbracketed
    val pCO2 = bisect60(q, 1e-50, 1.5e4)
    if (xFluid <= 0) pCO2
    else {
      val fCO2Pure = fugacity(tK, pCO2, co2Species = true) / (1.0 - xFluid)
      def q2(p: Double): Double = fCO2Pure - fugacity(tK, p, co2Species = true)
      if (!(q2(1e-50) > 0.0) || !(q2(1.5e4) < 0.0)) return Double.NaN
      bisect60(q2, 1e-50, 1.5e4)
    }
  }

  /** Mixed-fluid saturation (P_sat, x_fluid) (`allison2022.py:409-531`).
    *
    * The reference solves the 2-D system {H2O_sol(P,x) = H2O_obs,
    * CO2_sol(P,x) = CO2_obs} with MINPACK. The system decouples exactly:
    * eq. 8 inverts to x(P) = fH2Ostar / fH2O_pure(P) with fH2Ostar = 104.98
    * H2O_obs^1.83, and the CO2 law pins Kf = K(p_CO2) f(p_CO2) to the value
    * that makes the FORWARD solubility formula (`allison2022.py:330-335`)
    * return CO2_obs: Kf = CO2 FW / (4401 - 44.01 CO2 + 2 FW CO2). (The
    * pure-species saturation solve uses a slightly different target,
    * `allison2022.py:246-248`, which drops the 2 FW CO2 term — an
    * approximation the reference itself does not use inside the mixed
    * objective, so the mixed CO2 partial pressure is NOT the pure-species
    * root; conflating them costs ~1e-3 relative on P_sat.) That leaves a
    * single monotone equation fCO2(P)(1 - x(P)) = fCO2(p_CO2mix): fCO2 is
    * increasing and x(P) decreasing, so one fixed 60-step bisection finds
    * the root the reference's fsolve hunts, and the straight-line
    * arithmetic renders op-for-op in the DuckDB oracle.
    *
    * The solved P always exceeds pH2Osat (the objective is negative
    * there), so x lands strictly inside (0,1) and the reference's
    * post-solve boundary substitutions (x<=0 -> pCO2sat, x>=1 -> pH2Osat)
    * cannot trigger on a converged interior root. */
  def mixedSaturation(c: Comp, tK: Double): (Double, Double) = {
    // pure-species roots only matter on the single-volatile edges; the
    // decoupled main path below never reads them, so computing them
    // eagerly would double the fugacity-chain work of every mixed row
    if (c("H2O") <= 0.0) return (co2Saturation(c, tK), 0.0)
    if (c("CO2") <= 0.0) return (h2oSaturation(c, tK), 1.0)
    val fstar = 104.98 * math.pow(c("H2O"), 1.83)
    val cat = cationFractions(c)
    val dv = deltaV(cat); val lk0 = lnK0(cat)
    val co2Obs = c("CO2")
    // exact inverse of the forward eq. 5 conversion for the mixed system
    val kfTarget = co2Obs * fw /
      (4401.0 - 44.01 * co2Obs + 2.0 * fw * co2Obs)
    def qc(p: Double): Double =
      kfTarget / fugacity(tK, p, co2Species = true) -
        math.exp(lk0) * math.exp(-dv * (p - p0) / (Ra * tK))
    if (!(qc(1e-50) > 0.0) || !(qc(1.5e4) < 0.0))
      return (Double.NaN, Double.NaN)
    val pCO2Mix = bisect60(qc, 1e-50, 1.5e4)
    val fCO2Target = fugacity(tK, pCO2Mix, co2Species = true)
    def q(p: Double): Double =
      fCO2Target - fugacity(tK, p, co2Species = true) *
        (1.0 - fstar / fugacity(tK, p, co2Species = false))
    if (!(q(1e-15) > 0.0) || !(q(1.5e4) < 0.0))
      return (Double.NaN, Double.NaN) // unbracketed (incl. pCO2sat = NaN)
    val p = bisect60(q, 1e-15, 1.5e4)
    (p, fstar / fugacity(tK, p, co2Species = false))
  }
}
