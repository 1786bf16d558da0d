package graft.functions

import graft.chem.Elements
import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression
import graft.models.CompCtx

/** H2O-CO2 solubility model of Shishkina et al. (2014) (reference
  * `volatile_solubility/volatile_solubility_models/shishkina2014.py`),
  * "pi_star" CO2 parameterisation. Simpler than Iacono-Marziano: H2O
  * solubility is closed-form in anhydrous cation fractions (no inner fixed
  * point), and the mixed-fluid saturation decouples into per-species
  * partial pressures. Every law is written once as an expression tree
  * over the composition's oxide columns (the `*E` builders); the scalar
  * functions evaluate the same trees. */
object Shishkina {

  import IaconoMarziano.Comp

  /** (cation, wt / W * nCations) of every anhydrous oxide, in input
    * order. */
  private def terms(m: CompCtx): Seq[(String, E)] =
    m.elements.filter(ox => ox != "H2O" && ox != "CO2").map { ox =>
      Elements.cationName(ox) ->
        C(ox) / Lit(Elements.chemicalWeight(ox).get) * Lit(Elements.cationAmount(ox))
    }

  private def total(m: CompCtx): E = sumAll(terms(m).map(_._2))

  /** Anhydrous cation fraction of `cation` over the cation total `tot`. */
  private def frac(m: CompCtx, tot: E)(cation: String): E =
    terms(m).filter(_._1 == cation).map(_._2) match {
      case Seq() => Lit(0.0)
      case ts    => sumAll(ts) / tot
    }

  /** The two compositional scalars the laws depend on. */
  private def alkali(m: CompCtx, tot: E): E = frac(m, tot)("Na") + frac(m, tot)("K")

  private def piStar(m: CompCtx, tot: E): E = {
    val x = frac(m, tot) _
    (x("Ca") + Lit(0.8) * x("K") + Lit(0.7) * x("Na") + Lit(0.4) * x("Mg") +
      Lit(0.4) * x("Fe")) / (x("Si") + x("Al"))
  }

  /** Eq. 9 at alkali sum `b` and H2O fugacity `f` (MPa); f*f*f, not pow. */
  private def solB(b: E, f: E): E = {
    val a = Lit(3.36e-7) * (f * f * f) - Lit(2.33e-4) * f * f + Lit(0.0711) * f -
      Lit(1.1309)
    val cc = Lit(-1.2e-5) * f * f + Lit(0.0196) * f + Lit(1.1297)
    a * b + cc
  }

  /** H2O solubility (wt.%), eq. 9 (`shishkina2014.py:117-166`). */
  def h2oSolubilityE(m: CompCtx, xFluid: E, pBar: E): E =
    solB(alkali(m, total(m)), xFluid * pBar / Lit(10.0))

  /** CO2 solubility (wt.%), eq. 13 with the pi* compositional parameter
    * (`shishkina2014.py:221-292`). */
  def co2SolubilityE(m: CompCtx, xFluid: E, pBar: E): E =
    If(xFluid === Lit(1.0), Lit(0.0),
      exp(Lit(1.150) * ln((Lit(1.0) - xFluid) * pBar / Lit(10.0)) +
        Lit(6.71) * piStar(m, total(m)) + Lit(-1.345)) / Lit(1e4))

  /** H2O saturation pressure (bar): the solubility law is a cubic in the
    * H2O partial pressure, and its root is found by [[E.bisect]] on the
    * reference's brentq bracket. 1.5e4/2^60 bar is far below machine
    * epsilon of any root in range. 0 without H2O; NaN below the 0-bar
    * solubility or when the bracket holds no root. */
  def h2oSaturationE(m: CompCtx, xFluid: E = Lit(1.0)): E = {
    val (h2o, b) = (m.wt("H2O"), C("_b"))
    def g(p: E): E = h2o - solB(b, xFluid * p / Lit(10.0))
    bisect(Seq("_tot" -> total(m), "_b" -> alkali(m, C("_tot")),
        "_sol0" -> solB(b, xFluid * Lit(0.0) / Lit(10.0)), "_ghi" -> g(Lit(1.5e4))),
      1e-15, 1.5e4, g,
      NotC(h2o === Lit(0.0)) && NotC(h2o < C("_sol0")) && NotC(C("_ghi") > Lit(0.0)),
      If(h2o === Lit(0.0), Lit(0.0), Lit(Double.NaN)))
  }

  /** Partial CO2 pressure (bar) holding the CO2 wt.% — eq. 13 inverts in
    * closed form (pure power law in fCO2). */
  def co2SaturationE(m: CompCtx): E = {
    val co2 = m.wt("CO2")
    If(co2 === Lit(0.0), Lit(0.0),
      exp((ln(co2 * Lit(1e4)) + Lit(1.345) - Lit(6.71) * piStar(m, total(m))) /
        Lit(1.150)) * Lit(10.0))
  }

  /** Mixed-fluid saturation (P_sat, x_fluid) (`shishkina2014.py:300-420`).
    * Both Shishkina laws depend on their species' PARTIAL pressure only, so
    * the reference's 2-D root solve decouples exactly: invert each law for
    * its partial pressure, then P = pH2O + pCO2 and x_fluid = pH2O / P.
    * Both outputs read the one H2O loop (`Cse` hoists it, so it runs once
    * per row). */
  def mixedSaturationE(m: CompCtx): (E, E) = {
    val (ph, pc) = (h2oSaturationE(m), co2SaturationE(m))
    val (h2o, co2) = (m.wt("H2O"), m.wt("CO2"))
    def finite(x: E): Cond = abs(x) < Lit(Double.PositiveInfinity)
    def mixed(x: E): E = If(NotC(finite(ph) && finite(pc)), Lit(Double.NaN), x)
    (If(h2o <= Lit(0.0), pc, If(co2 <= Lit(0.0), ph, mixed(ph + pc))),
      If(h2o <= Lit(0.0), Lit(0.0), If(co2 <= Lit(0.0), Lit(1.0), mixed(ph / (ph + pc)))))
  }

  // ---- scalar entry points: the trees above, evaluated ------------------

  private val (xIn, pIn) = (C("xfl"), C("P_bar"))

  /** The tree `e` builds over `c`'s elements and the inputs xfl and P_bar,
    * evaluated at `c` and those two inputs; `tree` names the tree. */
  private def eval(tree: String, c: Comp, xFluid: Double, pBar: Double)(e: CompCtx => E): Double =
    LoopExpression.scalar(s"Shishkina.$tree", c.names.toSeq ++ Seq("xfl", "P_bar"))(
      (Nil, e(CompCtx(c.names.toVector))))(c.wt ++ Array(xFluid, pBar))

  def h2oSolubility(c: Comp, xFluid: Double, pBar: Double): Double =
    eval("h2oSolubility", c, xFluid, pBar)(h2oSolubilityE(_, xIn, pIn))

  def co2Solubility(c: Comp, xFluid: Double, pBar: Double): Double =
    eval("co2Solubility", c, xFluid, pBar)(co2SolubilityE(_, xIn, pIn))

  def h2oSaturation(c: Comp, xFluid: Double = 1.0): Double =
    eval("h2oSaturation", c, xFluid, 0.0)(h2oSaturationE(_, xIn))

  def co2Saturation(c: Comp, xFluid: Double = 0.0): Double =
    eval("co2Saturation", c, 0.0, 0.0)(co2SaturationE) / (1.0 - xFluid)

  def mixedSaturation(c: Comp): (Double, Double) =
    (eval("mixedSaturation p", c, 0.0, 0.0)(mixedSaturationE(_)._1),
      eval("mixedSaturation x", c, 0.0, 0.0)(mixedSaturationE(_)._2))
}
