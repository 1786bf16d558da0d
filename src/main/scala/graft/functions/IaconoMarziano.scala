package graft.functions

import graft.chem.Elements
import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression
import graft.models.CompCtx

/** H2O-CO2 solubility and saturation-pressure model of Iacono-Marziano et
  * al. (2012) (reference `volatile_solubility/volatile_solubility_models/
  * iaconomarziano2012.py`), "hydrous_webapp" parameterisation, ideal
  * fugacity/activity.
  *
  * Every law is written once, as an expression tree over the
  * composition's oxide columns; queries run the trees as columns and the
  * scalar functions evaluate the same trees. All solves are row-local
  * [[Loop]]s: dissolved H2O is an inner fixed point (H2O appears on both
  * sides via NBO/O, `:196-205`), saturation a bisection per species
  * (`:239-246, 411-418`), mixed saturation a Picard fixed point on P (the
  * reference's 2-D MINPACK solve on (P, x_fluid), `:477-481`, hunts the
  * same root). Failures give NaN, mirroring the reference's per-sample
  * NaN fallback (`core/MagmaFrames/melt.py:410-413`). Every transcendental
  * runs inside a loop, with `java.lang.Math`, so the columns and the
  * scalar functions give the same bits.
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

  private val wH2O = Lit(Elements.chemicalWeight("H2O").get)

  // ---- the laws as expression trees ---------------------------------------

  /** The per-row constants of NBO/O after Marrochi & Toplis, all Fe as FeO
    * (`iaconomarziano2012.py:565-606`): `_tot0` the anhydrous mole total,
    * `_nbo0`/`_o0` the anhydrous NBO and O. NBO/O is a mole ratio, so a
    * dissolved-H2O trial only adds its own mole count (`nboO`). */
  def consts(m: CompCtx): Seq[(String, E)] = {
    val x = m.mol _
    val fe3 = Lit(2.0) * x("Fe2O3")
    Seq("_tot0" -> sumAll(Lit(0.0) +: m.elements.filter(_ != "H2O").map(x)),
      "_nbo0" -> Lit(2.0) * (x("K2O") + x("Na2O") + x("CaO") + x("MgO") +
        x("FeO") + fe3 - x("Al2O3")),
      "_o0" -> (Lit(2.0) * x("SiO2") + Lit(2.0) * x("TiO2") + Lit(3.0) * x("Al2O3") +
        x("MgO") + x("FeO") + fe3 + x("CaO") + x("Na2O") + x("K2O")))
  }

  /** NBO/O with `hm` moles of dissolved H2O. */
  private def nboO(hm: E): E = (C("_nbo0") + Lit(2.0) * hm) / (C("_o0") + hm)

  /** Eq. 13 (`:231-247`): dissolved H2O at ln(pH2O) `lnp`, NBO/O `nbo` and
    * the pressure term `ct` = C P / T. */
  private def h2oLaw(lnp: E, nbo: E, ct: E): E =
    exp(Lit(h2oA) * lnp + Lit(h2oB) * nbo + Lit(h2oBB) + ct)

  /** The compositional terms of eq. 12 at `h` wt.% dissolved H2O, as
    * mole fractions of the hydrous total (the fraction ratio xAI is a
    * mole ratio); reads [[consts]]. */
  private def co2Terms(m: CompCtx, h: E): Seq[(String, E)] = {
    val x = m.mol _
    Seq("_hm" -> h / wH2O, "_tot" -> (C("_tot0") + C("_hm")),
      "_xai" -> x("Al2O3") / (x("CaO") + x("Na2O") + x("K2O")),
      "_xfm" -> (x("FeO") + x("MgO") + Lit(2.0) * x("Fe2O3")) / C("_tot"),
      "_xnk" -> (x("Na2O") + x("K2O")) / C("_tot"),
      "_xh" -> C("_hm") / C("_tot"), "_nbo" -> nboO(C("_hm")))
  }

  /** Eq. 12 (`:297-375`): dissolved CO2 (wt.%) at CO2 partial pressure
    * `pco2`, total pressure `p` and temperature `t`; reads [[co2Terms]]. */
  private def co2Law(pco2: E, p: E, t: E): E =
    exp(C("_xh") * Lit(co2DH2O) + C("_xai") * Lit(co2DAI) + C("_xfm") * Lit(co2DFM) +
      C("_xnk") * Lit(co2DNK) + Lit(co2A) * ln(pco2) + Lit(co2B) * C("_nbo") +
      Lit(co2BB) + Lit(co2C) * p / t) / Lit(1e4)

  /** Dissolved H2O and CO2 (wt.%): the `stages` that solve them, each a
    * list of named definitions that reads the composition, x_fluid,
    * pressure, temperature and the stages before it, then the two values,
    * which read the stages. */
  final case class Dissolved(stages: Seq[Seq[(String, E)]], h2o: E, co2: E)

  /** Dissolved H2O and CO2 at fluid fraction `x`, pressure `p` (bar) and
    * temperature `t` (K). Dissolved H2O is the inner fixed point: a
    * secant from (1, 2) (`_imHsec`, `:196-205`), accepted when finite,
    * non-negative and within 1e-6; otherwise 60 halvings of [1e-12, 1e4]
    * where that brackets the root, else NaN (the secant can diverge at
    * bracket-endpoint pressures). A loop holds no loop, so the secant and
    * the bisection that reads it are stages of their own, after the
    * per-row constants. 0 when `p` or `x` is not positive. Dissolved CO2
    * is closed form over the solved H2O; 0 when `p` or 1 - `x` is not
    * positive. */
  def solubility(m: CompCtx, x: E, p: E, t: E): Dissolved = {
    val pt = Seq("_lnp" -> ln(x * p), "_ct" -> Lit(h2oC) * p / t)
    def f(h: E): E = h - h2oLaw(C("_lnp"), nboO(h / wH2O), C("_ct"))
    val hs = C("_imHsec")
    val accepted = abs(hs) < Lit(Double.PositiveInfinity) && hs >= Lit(0.0) &&
      abs(C("_fs")) < Lit(1e-6)
    val zero = p <= Lit(0.0) || x <= Lit(0.0)
    Dissolved(Seq(consts(m),
        Seq("_imHsec" -> secant(pt, (Lit(1.0), f(Lit(1.0))), (Lit(2.0), f(Lit(2.0))), f)),
        Seq("_imH2O" -> bisect(pt ++ Seq("_fs" -> f(hs), "_flo" -> f(Lit(1e-12)),
            "_fhi" -> f(Lit(1e4))), 1e-12, 1e4, h => -f(h),
          NotC(zero) && NotC(accepted) && C("_flo") < Lit(0.0) && C("_fhi") > Lit(0.0),
          If(zero, Lit(0.0), If(accepted, hs, Lit(Double.NaN)))))),
      C("_imH2O"),
      closed(co2Terms(m, C("_imH2O")), If(p <= Lit(0.0) || Lit(1.0) - x <= Lit(0.0),
        Lit(0.0), co2Law((Lit(1.0) - x) * p, p, t))))
  }

  /** H2O saturation pressure (bar) at fluid fraction `x` (`:205-246`). At
    * saturation the dissolved H2O equals the observed H2O, so the inner
    * NBO/O fixed point closes: NBO/O is a per-row constant and the
    * pressure the root of a monotone 1-D equation — the root the
    * reference's nested brentq-over-secant formulation finds, without the
    * inner solve — found by 60 halvings of the reference bracket. 0
    * without H2O; NaN when the bracket holds no root. */
  def h2oSaturationE(m: CompCtx, t: E, x: E = Lit(1.0)): E = {
    val h2o = m.wt("H2O")
    def q(p: E): E = h2o - h2oLaw(ln(x * p), C("_nbo"), Lit(h2oC) * p / t)
    bisect(consts(m) ++ Seq("_nbo" -> nboO(h2o / wH2O),
        "_qlo" -> q(Lit(1e-15)), "_qhi" -> q(Lit(1.5e4))), 1e-15, 1.5e4, q,
      NotC(h2o === Lit(0.0)) && C("_qlo") > Lit(0.0) && C("_qhi") < Lit(0.0),
      If(h2o === Lit(0.0), Lit(0.0), Lit(Double.NaN)))
  }

  /** CO2 saturation pressure (bar) (`:377-430`). In a pure CO2 fluid the
    * dissolved H2O is exactly 0, so the carbonate law closes over per-row
    * constants and the pressure is again a monotone 1-D root, found as in
    * [[h2oSaturationE]]. */
  def co2SaturationE(m: CompCtx, t: E): E = {
    val co2 = m.wt("CO2")
    def q(p: E): E = co2 - co2Law((Lit(1.0) - Lit(0.0)) * p, p, t)
    bisect(consts(m) ++ co2Terms(m, Lit(0.0)) ++
        Seq("_qlo" -> q(Lit(1e-10)), "_qhi" -> q(Lit(1e5))), 1e-10, 1e5, q,
      NotC(co2 === Lit(0.0)) && C("_qlo") > Lit(0.0) && C("_qhi") < Lit(0.0),
      If(co2 === Lit(0.0), Lit(0.0), Lit(Double.NaN)))
  }

  /** Mixed-fluid saturation (P_sat, x_fluid) (`:434-562`). At the mixed
    * solution the dissolved amounts equal the observed ones, so BOTH laws
    * close over per-row constants and each inverts for its species'
    * partial pressure in closed form given the total pressure:
    * u(P) = exp((ln h2o - B nbo - BB - C P/T)/A) and
    * v(P) = exp(ln(co2e4) - terms - C2 P/T). P is the fixed point
    * P = u(P) + v(P) — a contraction at magmatic conditions
    * (|d(u+v)/dP| << 1) — run for 60 Picard rounds from 0 with no
    * convergence exit. Without H2O it is the CO2 saturation at
    * x_fluid = 0, without CO2 the H2O saturation at 1. The two outputs
    * are two loops with one step: each runs only where its value is
    * used. */
  def mixedSaturationE(m: CompCtx, t: E): (E, E) = {
    val (h2o, co2) = (m.wt("H2O"), m.wt("CO2"))
    val (u, p) = (C("_u"), C("_p"))
    def picard(result: E): Loop = Loop(consts(m) ++ co2Terms(m, h2o) ++ Seq(
        "_k1" -> (ln(h2o) - Lit(h2oB) * C("_nbo") - Lit(h2oBB)),
        "_k2" -> (ln(co2 * Lit(1e4)) - C("_xh") * Lit(co2DH2O) - C("_xai") * Lit(co2DAI) -
          C("_xfm") * Lit(co2DFM) - C("_xnk") * Lit(co2DNK) - Lit(co2B) * C("_nbo") -
          Lit(co2BB))),
      Seq("_u" -> Lit(0.0), "_v" -> Lit(0.0), "_p" -> Lit(0.0)),
      Seq("_u" -> exp((C("_k1") - Lit(h2oC) * p / t) / Lit(h2oA)),
        "_v" -> exp(C("_k2") - Lit(co2C) * p / t), "_p" -> (u + C("_v"))),
      NotC(h2o <= Lit(0.0)) && NotC(co2 <= Lit(0.0)), 60, result)
    (If(h2o <= Lit(0.0), co2SaturationE(m, t),
        If(co2 <= Lit(0.0), h2oSaturationE(m, t), picard(p))),
      If(h2o <= Lit(0.0), Lit(0.0), If(co2 <= Lit(0.0), Lit(1.0), picard(u / p))))
  }

  // ---- scalar entry points: the trees above, evaluated --------------------

  private val (tIn, pIn, xIn) = (C("T_K"), C("P_bar"), C("xfl"))

  /** `value` after the solver `stages` that `trees` builds over `c`'s
    * elements and the inputs T_K, P_bar and xfl, evaluated at `c` and
    * those three inputs; `tree` names the tree. */
  private def run(tree: String, c: Comp, tK: Double, pBar: Double, xFluid: Double)(
      trees: CompCtx => (Seq[Seq[(String, E)]], E)): Double =
    LoopExpression.scalar(s"IaconoMarziano.$tree", c.names.toSeq ++ Seq("T_K", "P_bar", "xfl"))(
      trees(CompCtx(c.names.toVector)))(c.wt ++ Array(tK, pBar, xFluid))

  private def solved(tree: String, c: Comp, xFluid: Double, pBar: Double, tK: Double,
                     value: Dissolved => E): Double = run(tree, c, tK, pBar, xFluid) { m =>
    val d = solubility(m, xIn, pIn, tIn)
    (d.stages, value(d))
  }

  def h2oSolubility(c: Comp, xFluid: Double, pBar: Double, tK: Double): Double =
    solved("h2oSolubility", c, xFluid, pBar, tK, _.h2o)

  def co2Solubility(c: Comp, xFluid: Double, pBar: Double, tK: Double): Double =
    solved("co2Solubility", c, xFluid, pBar, tK, _.co2)

  def h2oSaturation(c: Comp, tK: Double, xFluid: Double = 1.0): Double =
    run("h2oSaturation", c, tK, 0.0, xFluid)(m => (Nil, h2oSaturationE(m, tIn, xIn)))

  def co2Saturation(c: Comp, tK: Double): Double =
    run("co2Saturation", c, tK, 0.0, 0.0)(m => (Nil, co2SaturationE(m, tIn)))

  def mixedSaturation(c: Comp, tK: Double): (Double, Double) = {
    def at(out: String, value: ((E, E)) => E) = run(s"mixedSaturation $out", c, tK, 0.0, 0.0)(
      m => (Nil, value(mixedSaturationE(m, tIn))))
    (at("p", _._1), at("x", _._2))
  }
}
