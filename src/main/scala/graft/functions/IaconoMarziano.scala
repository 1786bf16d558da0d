package graft.functions

import graft.chem.Elements

/** H2O-CO2 solubility and saturation-pressure model of Iacono-Marziano et
  * al. (2012) (reference `volatile_solubility/volatile_solubility_models/
  * iaconomarziano2012.py`), "hydrous_webapp" parameterisation, ideal
  * fugacity/activity.
  *
  * All solves are row-local: H2O solubility needs an inner fixed point
  * (H2O appears on both sides via NBO/O, `:196-205`), saturation bracketed
  * root finds per species (`:239-246, 411-418`), mixed saturation a 2-D
  * solve on (P, x_fluid) (`:477-481` — reference uses MINPACK hybr; here a
  * damped 2-D Newton with the same fixed point, difference documented).
  * Failures return NaN, mirroring the reference's per-sample NaN fallback
  * (`core/MagmaFrames/melt.py:410-413`).
  */
object IaconoMarziano {

  // H2O eq. 13 coefficients, hydrous_webapp (`iaconomarziano2012.py:104-110`)
  val h2oA = 0.52096846; val h2oB = 2.11575907
  val h2oBB = -3.24443335; val h2oC = -0.02238884
  // CO2 eq. 12 coefficients, hydrous (`:128-137`)
  val co2DH2O = -16.4; val co2DAI = 4.4; val co2DFM = -17.1; val co2DNK = 22.8
  val co2A = 1.0; val co2B = 17.3; val co2BB = -6.0; val co2C = 0.12

  /** Oxide wt.% composition keyed by element name; H2O replaceable. */
  final case class Comp(names: Array[String], wt: Array[Double]) {
    def updated(element: String, v: Double): Comp = {
      val i = names.indexOf(element)
      val w2 = wt.clone(); w2(i) = v
      Comp(names, w2)
    }
    def apply(element: String): Double = {
      val i = names.indexOf(element)
      if (i < 0) 0.0 else wt(i)
    }
  }

  object Comp {
    /** Molar weights per schema, cached by the CONTENT of the names array,
      * so the weight lookups happen once per schema instead of once per
      * solver trial (this sat at the top of the sf0.1 bench profile). Not
      * by its identity: a names array captured in a UDF closure is
      * deserialised again for every task, and an identity key added one
      * entry per task that was never removed. Plain get-then-put — CHM.get
      * is lock-free, and racing puts compute the same value. */
    private val weightsCache = new java.util.concurrent.ConcurrentHashMap[
      Seq[String], Array[Double]]()

    def weightsFor(names: Array[String]): Array[Double] = {
      val key = scala.collection.immutable.ArraySeq.unsafeWrapArray(names)
      val hit = weightsCache.get(key)
      if (hit != null) hit
      else {
        val w = names.map(n => Elements.chemicalWeight(n).get)
        weightsCache.putIfAbsent(key, w)
        w
      }
    }

    /** Spec hook: distinct schemas cached. */
    private[graft] def weightsCacheSize: Int = weightsCache.size
  }

  /** Per-sample invariants of the IM solubility laws, precomputed so the
    * nested solves (H2O fixed point x saturation bracket x mixed 2-D
    * Newton) run on pure double arithmetic with zero allocation. Exploits
    * NBO/O's scale invariance (a mole-weighted ratio, so normalisation
    * cancels): the dissolved-H2O trial value only shifts the accumulators
    * by its own mole count.
    *
    * Mirrors `iaconomarziano2012.py:565-606` (NBO/O) and `:297-375` (CO2
    * compositional terms) computed per trial in the reference. */
  final case class Prep(nbo0: Double, o0: Double, tot0: Double,
                        molAl: Double, molCaNaK: Double, molFM0: Double,
                        molNK: Double, wH2O: Double) {
    @inline def nboO(hMol: Double): Double = (nbo0 + 2.0 * hMol) / (o0 + hMol)
  }

  def prepare(c: Comp): Prep = {
    val ws = Comp.weightsFor(c.names)
    def mol(name: String): Double = {
      val i = c.names.indexOf(name)
      if (i < 0) 0.0 else c.wt(i) / ws(i)
    }
    var tot0 = 0.0
    var i = 0
    while (i < c.names.length) {
      if (c.names(i) != "H2O") tot0 += c.wt(i) / ws(i)
      i += 1
    }
    val fe2O3 = mol("Fe2O3")
    val nbo0 = 2.0 * (mol("K2O") + mol("Na2O") + mol("CaO") + mol("MgO") +
      mol("FeO") + 2.0 * fe2O3 - mol("Al2O3"))
    val o0 = 2.0 * mol("SiO2") + 2.0 * mol("TiO2") + 3.0 * mol("Al2O3") +
      mol("MgO") + mol("FeO") + 2.0 * fe2O3 + mol("CaO") + mol("Na2O") +
      mol("K2O")
    Prep(nbo0, o0, tot0,
      molAl = mol("Al2O3"),
      molCaNaK = mol("CaO") + mol("Na2O") + mol("K2O"),
      molFM0 = mol("FeO") + mol("MgO") + 2.0 * fe2O3,
      molNK = mol("Na2O") + mol("K2O"),
      wH2O = Elements.chemicalWeight("H2O").get)
  }

  /** NBO/O after Marrochi & Toplis: all Fe as FeO, hydrous terms included
    * (`iaconomarziano2012.py:565-606`). */
  def nboO(mol: Map[String, Double]): Double = {
    def x(e: String): Double = mol.getOrElse(e, 0.0)
    val fe2O3 = x("Fe2O3")
    var nbo = 2.0 * (x("K2O") + x("Na2O") + x("CaO") + x("MgO") + x("FeO") +
      2.0 * fe2O3 - x("Al2O3"))
    var o = 2.0 * x("SiO2") + 2.0 * x("TiO2") + 3.0 * x("Al2O3") + x("MgO") +
      x("FeO") + 2.0 * fe2O3 + x("CaO") + x("Na2O") + x("K2O")
    nbo += 2.0 * x("H2O")
    o += x("H2O")
    nbo / o
  }

  /** Eq. 13 closed form at a FIXED dissolved-H2O mole count (`:231-247`). */
  @inline private def h2oSolubilityAt(prep: Prep, hMol: Double, xFluid: Double,
                                      pBar: Double, tK: Double): Double = {
    val pH2O = xFluid * pBar
    math.exp(h2oA * math.log(pH2O) + h2oB * prep.nboO(hMol) + h2oBB +
      h2oC * pBar / tK)
  }

  /** Dissolved H2O: inner fixed point because the hydrous parameterisation
    * feeds H2O back into NBO/O — secant from x0=1, x1=2 (`:196-205`).
    * The divergence fallback is 60 fixed bisection steps on the same
    * bracket (f(0+) < 0 < f(high)): deterministic straight-line IEEE
    * arithmetic with no convergence branches, so both the secant path and
    * the fallback render op-for-op in the DuckDB oracle
    * ([[graft.SolubilitySql]]) — the earlier Brent fallback's
    * data-dependent branch paths could not. */
  def h2oSolubility(prep: Prep, xFluid: Double, pBar: Double, tK: Double): Double = {
    if (pBar <= 0 || xFluid <= 0) return 0.0
    def f(h: Double): Double =
      h - h2oSolubilityAt(prep, h / prep.wH2O, xFluid, pBar, tK)
    val s = Solver.secant(f, 1.0, 2.0)
    // secant can diverge far from the root at bracket-endpoint pressures
    if (s.isFinite && s >= 0.0 && math.abs(f(s)) < 1e-6) return s
    if (!(f(1e-12) < 0.0) || !(f(1e4) > 0.0)) return Double.NaN // unbracketed
    var lo = 1e-12
    var hi = 1e4
    var it = 0
    while (it < 60) {
      val mid = (lo + hi) * 0.5
      if (f(mid) < 0.0) lo = mid else hi = mid
      it += 1
    }
    (lo + hi) * 0.5
  }

  def h2oSolubility(c: Comp, xFluid: Double, pBar: Double, tK: Double): Double =
    h2oSolubility(prepare(c), xFluid, pBar, tK)

  /** Dissolved CO2 (wt.%), eq. 12 (`:297-375`): dissolved H2O first, then
    * the carbonate term. All compositional terms are mole fractions of the
    * hydrous total, reconstructed from the anhydrous accumulators. */
  def co2Solubility(prep: Prep, xFluid: Double, pBar: Double, tK: Double): Double = {
    if (pBar <= 0 || 1.0 - xFluid <= 0) return 0.0
    val hMol = h2oSolubility(prep, xFluid, pBar, tK) / prep.wH2O
    val tot = prep.tot0 + hMol
    val pCO2 = (1.0 - xFluid) * pBar
    val xAI = prep.molAl / prep.molCaNaK // fraction ratio = mole ratio
    val xFM = prep.molFM0 / tot
    val xNK = prep.molNK / tot
    val xH2O = hMol / tot
    val co3ppm = math.exp(xH2O * co2DH2O + xAI * co2DAI + xFM * co2DFM +
      xNK * co2DNK + co2A * math.log(pCO2) + co2B * prep.nboO(hMol) + co2BB +
      co2C * pBar / tK)
    co3ppm / 1e4
  }

  def co2Solubility(c: Comp, xFluid: Double, pBar: Double, tK: Double): Double =
    co2Solubility(prepare(c), xFluid, pBar, tK)

  /** H2O saturation pressure (`:205-246`). At saturation the dissolved
    * H2O equals the observed H2O, so the inner NBO/O fixed point closes:
    * NBO/O is a per-row constant and the pressure is the unique root of a
    * monotone 1-D equation — the same root the reference's nested
    * brentq-over-secant formulation finds, but without the inner solve.
    * 60 fixed bisection steps on the reference bracket: deterministic
    * straight-line IEEE arithmetic, rendered op-for-op by the DuckDB
    * oracle ([[graft.SaturationSql]]). */
  def h2oSaturation(c: Comp, tK: Double, xFluid: Double = 1.0): Double = {
    val h2o = c("H2O")
    if (h2o == 0.0) return 0.0
    val prep = prepare(c)
    val hMol = h2o / prep.wH2O
    def q(p: Double): Double = h2o - h2oSolubilityAt(prep, hMol, xFluid, p, tK)
    if (!(q(1e-15) > 0.0) || !(q(1.5e4) < 0.0)) return Double.NaN // unbracketed
    var lo = 1e-15
    var hi = 1.5e4
    var it = 0
    while (it < 60) {
      val mid = (lo + hi) * 0.5
      if (q(mid) > 0.0) lo = mid else hi = mid
      it += 1
    }
    (lo + hi) * 0.5
  }

  /** CO2 saturation pressure (`:377-430`). At xFluid = 0 the dissolved H2O
    * is exactly 0, so the carbonate law closes over per-row constants and
    * the pressure is again a monotone 1-D root — 60 fixed bisection steps
    * on the reference bracket (see [[h2oSaturation]]). */
  def co2Saturation(c: Comp, tK: Double, xFluid: Double = 0.0): Double = {
    val co2 = c("CO2")
    if (co2 == 0.0) return 0.0
    val prep = prepare(c)
    def q(p: Double): Double = co2 - co2Solubility(prep, xFluid, p, tK)
    if (!(q(1e-10) > 0.0) || !(q(1e5) < 0.0)) return Double.NaN // unbracketed
    var lo = 1e-10
    var hi = 1e5
    var it = 0
    while (it < 60) {
      val mid = (lo + hi) * 0.5
      if (q(mid) > 0.0) lo = mid else hi = mid
      it += 1
    }
    (lo + hi) * 0.5
  }

  /** Mixed-fluid saturation (P_sat, x_fluid) (`:434-562`). At the mixed
    * solution the dissolved amounts equal the observed ones, so BOTH laws
    * close over per-row constants and each inverts for its species'
    * partial pressure in closed form given the total pressure:
    * u(P) = exp((ln h2o - B nbo - BB - C P/T)/A) and
    * v(P) = exp(ln(co2e4) - terms - C2 P/T). P is then the fixed point
    * P = u(P) + v(P) — a contraction at magmatic conditions
    * (|d(u+v)/dP| << 1) — run for 60 fixed Picard rounds with NO branches,
    * so the DuckDB twin computes bit-identical values even on non-physical
    * rows where the iteration diverges to inf/NaN. Same solution as the
    * reference's 2-D MINPACK solve (which hunts the identical root). */
  def mixedSaturation(c: Comp, tK: Double): (Double, Double) = {
    val pH2O = h2oSaturation(c, tK)
    val pCO2 = co2Saturation(c, tK)
    if (c("H2O") <= 0.0) return (pCO2, 0.0)
    if (c("CO2") <= 0.0) return (pH2O, 1.0)
    val prep = prepare(c)
    val h2oObs = c("H2O"); val co2Obs = c("CO2")
    val hMol = h2oObs / prep.wH2O
    val nbo = prep.nboO(hMol)
    val tot = prep.tot0 + hMol
    val xAI = prep.molAl / prep.molCaNaK
    val xFM = prep.molFM0 / tot
    val xNK = prep.molNK / tot
    val xH2O = hMol / tot
    // ln(u) = (ln h2o - B nbo - BB - C P/T)/A  (eq. 13 inverted for pH2O)
    val k1 = math.log(h2oObs) - h2oB * nbo - h2oBB
    // ln(v) = ln(co2 ppm) - comp terms - B2 nbo - BB2 - C2 P/T (eq. 12)
    val k2 = math.log(co2Obs * 1e4) - xH2O * co2DH2O - xAI * co2DAI -
      xFM * co2DFM - xNK * co2DNK - co2B * nbo - co2BB
    var u = 0.0; var v = 0.0; var p = 0.0
    var it = 0
    while (it < 60) {
      u = math.exp((k1 - h2oC * p / tK) / h2oA)
      v = math.exp(k2 - co2C * p / tK)
      p = u + v
      it += 1
    }
    (p, u / p)
  }
}
