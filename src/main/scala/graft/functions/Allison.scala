package graft.functions

import graft.chem.Elements
import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression
import graft.functions.IaconoMarziano.{Comp, Dissolved}
import graft.models.CompCtx

/** MafiCH H2O-CO2 solubility model of Allison et al. (2022) (reference
  * `volatile_solubility/volatile_solubility_models/allison2022.py`) with
  * the Holloway & Blank (1994) fugacity EOS (`EOSs/CO2_H2O.py`): modified
  * Redlich-Kwong below 4 kbar, Saxena & Fei corresponding-states correction
  * above (CO2 only).
  *
  * Every law is written once, as an expression tree over the
  * composition's oxide columns; queries run the trees as columns and the
  * scalar functions evaluate the same trees. The fugacity is a chain of
  * named steps ([[fugacitySteps]]), so a tree holds one copy of each step. All
  * solves are row-local [[Loop]]s: saturation a 60-step bisection of the
  * reference bracket per species, dissolved CO2 in a mixed fluid a secant
  * with a Brent fallback (the fugacity inverted for the CO2 partial
  * pressure). Every transcendental runs inside a loop, with
  * `java.lang.Math`, so the columns and the scalar functions give the same
  * bits.
  *
  * Parity traps preserved: cation fractions rounded to 3 decimals (the
  * published spreadsheet does, `allison2022.py:399-401`), the alkali-basalt
  * formula weight 36.594 per 1 oxygen, and the MRK cubic-root selection
  * branches of `_REDKW`.
  */
object Allison {

  private val R = 8.31446261815324
  private val Ra = R * 10.0 // cm3.bar.K-1.mol-1
  private val fw = 36.594 // alkali basalt formula weight per 1 oxygen
  private val p0 = 1e3
  private val th = 1.0 / 3.0

  private def neg(x: E): E = x * Lit(-1.0) // Java's -x but for NaN; E's 0 - x is +0.0 at 0

  // ---- Holloway & Blank fugacity ----------------------------------------

  /** The temperature terms of the EOS at `t` K, per-row constants: the
    * MRK a/b terms of both species (`EOSs/CO2_H2O.py:40-74`, a clamped as
    * `_REDKW` does) and the Saxena & Fei coefficients (`:150-184`). */
  def eosLets(t: E): Seq[(String, E)] = {
    val (tc, tr) = (C("_tc"), C("_tr"))
    def clamped(a: E): E = If(a < Lit(1e-10), Lit(0.001), a)
    Seq("_rxt" -> Lit(82.05736) * t,
      "_rt" -> Lit(82.05736) * pow(t, Lit(1.5)) * Lit(0.000001),
      "_tc" -> (t - Lit(273.15)),
      "_ah" -> clamped((Lit(115.98) - Lit(0.0016295) * t - Lit(1.4984e-05) * t * t) /
        (Lit(14.5) * C("_rt"))),
      "_ac" -> clamped((Lit(73.03) - Lit(0.0714) * tc + Lit(2.157e-05) * tc * tc) /
        (Lit(29.7) * C("_rt"))),
      "_tr" -> t / Lit(304.2),
      "_sxa" -> (Lit(2.0614) - Lit(2.2351) / (tr * tr) - Lit(0.39411) * ln(tr)),
      "_sxb" -> (Lit(0.055125) / tr + Lit(0.039344) / (tr * tr)) / Lit(73.9),
      "_sxc" -> (Lit(-1.8935e-06) / tr - Lit(1.1092e-05) / (tr * tr) -
        Lit(2.1892e-05) / (tr * tr * tr)) / Lit(2.0 * 73.9 * 73.9),
      "_sxd" -> (Lit(5.0527e-11) / tr - Lit(6.3033e-21) / (tr * tr * tr)) /
        Lit(3.0 * 73.9 * 73.9 * 73.9))
  }

  /** CO2 or H2O fugacity (bar) at `p` bar (`EOSs/CO2_H2O.py:17-149`) over
    * [[eosLets]]: the steps, each named `_<step>_<tag>`, and the value.
    * Both MRK cubic-root branches are computed and the one `arg`'s sign
    * picks is kept; `signum` and `max` are the `If`s that give Java's
    * values, NaN included. */
  def fugacitySteps(p: E, co2: Boolean, tag: String): (Seq[(String, E)], E) = {
    def n(s: String): String = s"_${s}_$tag"
    def v(s: String): E = C(n(s))
    val (a2b, b0) = if (co2) (C("_ac"), 29.7) else (C("_ah"), 14.5)
    val pc = if (co2) v("pc") else p
    def cbrt(x: E): E = If(x > Lit(0.0), Lit(1.0), If(x < Lit(0.0), Lit(-1.0), x)) *
      pow(abs(x), Lit(th))
    val (ag, bp, z) = (v("ag"), v("bp"), v("z"))
    def trig(x: E): E = If(ag < Lit(0.0), x, Lit(0.0))
    val steps = (if (co2) Seq(n("pc") -> If(p > Lit(4000.0), Lit(4000.0), p)) else Nil) ++ Seq(
      n("bp") -> pc / Lit(1.013) * Lit(b0) / C("_rxt"),
      n("qq") -> bp * (a2b - bp - Lit(1.0)),
      n("xn") -> (v("qq") * Lit(th) + neg(a2b) * bp * bp - Lit(0.074074)),
      n("xm") -> (v("qq") - Lit(th)),
      n("xnn") -> v("xn") * v("xn") / Lit(4.0),
      n("xmm") -> v("xm") * v("xm") * v("xm") / Lit(27.0),
      n("ag") -> (v("xnn") + v("xmm")),
      // arg > 0: one real root
      n("sq") -> sqrt(ag),
      n("x2") -> neg(v("xn")) / Lit(2.0),
      n("i1") -> (v("x2") + v("sq")),
      n("i2") -> (v("x2") - v("sq")),
      // arg < 0: three real roots, the largest kept (its transcendentals
      // only where arg < 0)
      n("cz") -> neg(v("xnn")) / v("xmm"),
      n("c0") -> sqrt(v("cz")),
      n("cp") -> If(v("xn") > Lit(0.0), neg(v("c0")), v("c0")),
      n("om") -> (Lit(1.0) - v("cp") * v("cp")),
      n("ph") -> trig(atan(sqrt(v("om")) / v("cp")) * Lit(th)),
      n("r1") -> trig(cos(v("ph"))),
      n("r2") -> trig(cos(v("ph") + Lit(2.0944))),
      n("r3") -> trig(cos(v("ph") + Lit(4.18879))),
      n("rh") -> If(v("r1") > v("r2"), v("r1"), v("r2")),
      n("z") -> If(ag > Lit(0.0), cbrt(v("i1")) + cbrt(v("i2")) + Lit(th),
        If(v("r3") > v("rh"), v("r3"), v("rh")) * (Lit(2.0) * sqrt(neg(v("xm")) * Lit(th))) +
          Lit(th)),
      n("zb") -> (z - bp),
      n("zbp") -> If(v("zb") < Lit(0.000001), Lit(0.000001), v("zb")),
      n("bpz") -> (Lit(1.0) + bp / z),
      n("f0") -> (z - Lit(1.0) - ln(v("zbp")) - a2b * ln(v("bpz"))),
      n("fp") -> If(ag > Lit(0.0) || ag < Lit(0.0),
        If(v("f0") < Lit(-37.0) || v("f0") > Lit(37.0), Lit(0.000001), v("f0")), Lit(1.0)),
      n("rk") -> (v("fp") + ln(pc)),
      n("f") -> exp(if (!co2) v("rk") else If(p > Lit(4000.0),
        v("rk") + (C("_sxa") * ln(p / Lit(4000.0)) + C("_sxb") * (p - Lit(4000.0)) +
          C("_sxc") * (p * p - Lit(4000.0 * 4000.0)) +
          C("_sxd") * (p * p * p - Lit(4000.0 * 4000.0 * 4000.0))), v("rk"))))
    (steps, v("f"))
  }

  // ---- solubility -------------------------------------------------------

  private val oxides = Seq("SiO2", "TiO2", "Al2O3", "FeO", "MgO", "CaO", "Na2O", "K2O")

  /** The carbonate law's composition terms as per-row constants `_lk0`
    * and `_dv`, from the 8-oxide cation fractions, all Fe as FeO, rounded
    * to 3 decimals (`allison2022.py:386-401`). */
  private def carbonateLets(m: CompCtx): Seq[(String, E)] = {
    val terms = oxides.map(ox =>
      Elements.cationName(ox) -> m.mol(ox) * Lit(Elements.cationAmount(ox)))
    def x(cat: String): E = C(s"_x$cat")
    Seq("_ctot" -> sumAll(Lit(0.0) +: terms.map(_._2))) ++
      terms.map { case (cat, e) =>
        s"_x$cat" -> rint(e / C("_ctot") * Lit(1000.0)) / Lit(1000.0) } ++
      Seq("_nak" -> x("Na") / (x("Na") + x("K")),
        "_dv" -> (Lit(-3350.65) + Lit(2625.385) * x("Ti") + Lit(3105.426) * x("Al") +
          Lit(47.0037) * C("_nak") + Lit(3375.552) * (x("Si") + x("Na")) +
          Lit(3795.115) * x("K") + Lit(3628.018) * x("Fe") + Lit(3323.32) * (x("Mg") + x("Ca"))),
        "_lk0" -> (Lit(-128.365) + Lit(122.644) * (x("Fe") + x("Na") + x("Ca")) +
          Lit(92.263) * (x("Ti") + x("Al")) + Lit(114.098) * x("Si") + Lit(111.549) * x("Mg") +
          Lit(138.855) * x("K") + Lit(2.239) * C("_nak")))
  }

  /** K of the carbonate law at CO2 pressure `p` (eq. 5). */
  private def kSol(p: E, t: E): E =
    exp(C("_lk0")) * exp(neg(C("_dv")) * (p - Lit(p0)) / (Lit(Ra) * t))

  /** A decreasing objective of pressure `q(p, tag)`, as steps (with
    * fugacity chains tagged `tag`) and value, halved 60 times on
    * [lo, hi]; NaN unless q(lo) > 0 > q(hi) or where `valid` fails. */
  private def halve(lets: Seq[(String, E)], lo: Double, hi: Double,
                    q: (E, String) => (Seq[(String, E)], E), valid: Cond,
                    invalid: E = Lit(Double.NaN)): Loop = {
    val ((sl, ql), (sh, qh)) = (q(Lit(lo), "l"), q(Lit(hi), "h"))
    bisect(lets ++ sl ++ sh ++ Seq("_qlo" -> ql, "_qhi" -> qh), lo, hi, q(_, "m")._2,
      valid && C("_qlo") > Lit(0.0) && C("_qhi") < Lit(0.0), invalid, q(_, "m")._1)
  }

  /** `_kft / fCO2(p) - K(p)`: the CO2 law's objective for the Kf target. */
  private def carbonateGap(t: E)(p: E, tag: String): (Seq[(String, E)], E) = {
    val (s, f) = fugacitySteps(p, co2 = true, tag)
    (s, C("_kft") / f - kSol(p, t))
  }

  /** `target - fCO2(p)`. */
  private def fugacityGap(target: E)(p: E, tag: String): (Seq[(String, E)], E) = {
    val (s, f) = fugacitySteps(p, co2 = true, tag)
    (s, target - f)
  }

  /** Dissolved H2O (wt.%) at fluid fraction `x`, pressure `p` (bar) and
    * temperature `t` (K), eq. 8: (x fH2O / 104.98)^(1/1.83); 0 when `p`
    * or `x` is not positive. */
  def h2oSolubilityE(x: E, p: E, t: E): E = {
    val (s, f) = fugacitySteps(p, co2 = false, "p")
    closed(eosLets(t) ++ s, If(p <= Lit(0.0) || x <= Lit(0.0), Lit(0.0),
      pow(f * x / Lit(104.98), Lit(1.0 / 1.83))))
  }

  /** Dissolved H2O and CO2 (wt.%) at fluid fraction `x`, pressure `p`
    * (bar) and temperature `t` (K) (`allison2022.py:172-337`): H2O by
    * [[h2oSolubilityE]], CO2 by eq. 5 at the CO2 partial pressure that gives the
    * fugacity x fCO2(p): found by a secant seeded at that fugacity
    * (`_alSec`), accepted when finite, positive and within 1e-7, else by
    * Brent on [1e-50, 1.5e4] (`_alPco2`), NaN when that brackets no root;
    * `p` itself at x = 0. 0 when `p` or 1 - `x` is not positive. */
  def solubility(m: CompCtx, x: E, p: E, t: E): Dissolved = {
    val eos = eosLets(t)
    val (fco2, s) = (C("_alFco2"), C("_alSec"))
    val gap = fugacityGap(fco2) _
    val (sp, fp) = fugacitySteps(p, co2 = true, "p")
    val (s0, s1) = (C("_s0"), C("_s1"))
    val ((sa, fa), (sb, fb)) = (gap(s0, "a"), gap(s1, "b"))
    val seeds = Seq("_s0" -> If(fco2 < Lit(1.0), Lit(1.0), fco2),
      "_s1" -> If(fco2 * Lit(0.9) < Lit(0.5), Lit(0.5), fco2 * Lit(0.9)))
    val ((ss, fs), (sl, fl), (sh, fh)) = (gap(s, "s"), gap(Lit(1e-50), "l"), gap(Lit(1.5e4), "h"))
    val accepted = abs(s) < Lit(Double.PositiveInfinity) && s > Lit(0.0) &&
      abs(C("_fs")) < Lit(1e-7) * If(Lit(1.0) >= fco2, Lit(1.0), fco2)
    val zero = p <= Lit(0.0) || Lit(1.0) - x <= Lit(0.0)
    val (k, xc) = (C("_k"), C("_xc"))
    Dissolved(Seq(
        Seq("_alFco2" -> closed(eos ++ sp, fp * (Lit(1.0) - x))),
        Seq("_alSec" -> secant(eos ++ seeds ++ sa ++ sb, (s0, fa), (s1, fb), gap(_, "c")._2,
          temps = gap(_, "c")._1)),
        Seq("_alPco2" -> brent(eos ++ ss ++ Seq("_fs" -> fs) ++ sl ++ sh ++
            Seq("_fl" -> fl, "_fh" -> fh), (Lit(1e-50), C("_fl")), (Lit(1.5e4), C("_fh")),
          gap(_, "b")._2, x > Lit(0.0) && NotC(zero) && NotC(accepted),
          If(x > Lit(0.0), s, p), gap(_, "b")._1))),
      h2oSolubilityE(x, p, t),
      closed(carbonateLets(m) ++ Seq("_k" -> kSol(C("_alPco2"), t), "_kf" -> k * fco2,
          "_xc" -> C("_kf") / (Lit(1.0) - C("_kf"))),
        If(zero, Lit(0.0), Lit(44.01) * xc / (Lit(44.01) * xc + (Lit(1.0) - xc) * Lit(fw)) *
          Lit(100.0))))
  }

  /** H2O saturation pressure (bar) at fluid fraction `x`: fH2O(P) =
    * 104.98 H2O^1.83 / x inverted by 60 halvings of the reference bracket
    * [1e-50, 1.5e4] (`allison2022.py:133-170`; fH2O(P) is increasing, so
    * the root is unique). 0 without H2O; NaN when the bracket holds no
    * root. Only the rows where `only` holds solve. */
  def h2oSaturationE(m: CompCtx, t: E, x: E = Lit(1.0), only: Option[Cond] = None): E = {
    val h2o = m.wt("H2O")
    halve(eosLets(t) ++ Seq("_fst" -> Lit(104.98) * pow(h2o, Lit(1.83)) / x), 1e-50, 1.5e4,
      (p, tag) => {
        val (s, f) = fugacitySteps(p, co2 = false, tag)
        (s, C("_fst") - f)
      }, (NotC(h2o === Lit(0.0)) +: only.toSeq).reduce(_ && _),
      If(h2o === Lit(0.0), Lit(0.0), Lit(Double.NaN)))
  }

  /** The Kf target of the pure-CO2 saturation (`allison2022.py:246-248`). */
  private def pureTarget(co2: E): Seq[(String, E)] =
    Seq("_xc3" -> co2 * Lit(1.0 / 44.01) / (Lit(100.0 / fw) - co2 / Lit(fw)),
      "_kft" -> C("_xc3") / (Lit(1.0) + C("_xc3")))

  /** CO2 saturation pressure (bar) (`allison2022.py:210-270`): the root of
    * Kf(p) - K(p) on the reference bracket, by 60 halvings. 0 without
    * CO2; NaN when the bracket holds no root. Only the rows where `only`
    * holds solve. */
  def co2SaturationE(m: CompCtx, t: E, only: Option[Cond] = None): E = {
    val co2 = m.wt("CO2")
    halve(eosLets(t) ++ carbonateLets(m) ++ pureTarget(co2), 1e-50, 1.5e4, carbonateGap(t),
      (NotC(co2 === Lit(0.0)) +: only.toSeq).reduce(_ && _),
      If(co2 === Lit(0.0), Lit(0.0), Lit(Double.NaN)))
  }

  /** Mixed-fluid saturation: the `stages` that solve it, each a list of
    * named definitions over the composition, temperature and the stages
    * before it, then P_sat and x_fluid, which read the stages. */
  final case class Mixed(stages: Seq[Seq[(String, E)]], p: E, x: E)

  /** Mixed-fluid saturation (P_sat, x_fluid) (`allison2022.py:409-531`).
    * The reference's 2-D MINPACK solve decouples exactly: eq. 8 inverts to
    * x(P) = 104.98 H2O^1.83 / fH2O(P), and the CO2 law pins Kf =
    * K(p_CO2) f(p_CO2) to the value that makes the forward solubility
    * (`:330-335`) return the CO2: CO2 FW / (4401 - 44.01 CO2 + 2 FW CO2),
    * not the pure-species target (`:246-248`, which drops 2 FW CO2 and
    * would cost ~1e-3 relative on P_sat). What is left, fCO2(P)(1 - x(P))
    * = fCO2(p_CO2), is monotone in P. Stages: p_CO2 (`_alPmix`), then P
    * (`_alPsat`), each 60 halvings; x is closed form over P, strictly
    * inside (0, 1) at a converged root. Without H2O it is the CO2
    * saturation at x = 0, without CO2 the H2O saturation at 1; those two
    * loops solve only the rows that read them. */
  def mixedSaturationE(m: CompCtx, t: E): Mixed = {
    val (h2o, co2) = (m.wt("H2O"), m.wt("CO2"))
    val both = NotC(h2o <= Lit(0.0)) && NotC(co2 <= Lit(0.0))
    val (eos, ps) = (eosLets(t), C("_alPsat"))
    val fst = Seq("_fst" -> Lit(104.98) * pow(h2o, Lit(1.83)))
    val (st, ft) = fugacitySteps(C("_alPmix"), co2 = true, "t")
    val (sx, fx) = fugacitySteps(ps, co2 = false, "x")
    Mixed(Seq(
        Seq("_alPmix" -> halve(eos ++ carbonateLets(m) ++ Seq("_kft" -> co2 * Lit(fw) /
          (Lit(4401.0) - Lit(44.01) * co2 + Lit(2.0 * fw) * co2)), 1e-50, 1.5e4,
          carbonateGap(t), both)),
        Seq("_alPsat" -> halve(eos ++ fst ++ st ++ Seq("_ftg" -> ft), 1e-15, 1.5e4, (p, tag) => {
          val (sc, fc) = fugacitySteps(p, co2 = true, tag + "c")
          val (sh, fh) = fugacitySteps(p, co2 = false, tag + "h")
          (sc ++ sh, C("_ftg") - fc * (Lit(1.0) - C("_fst") / fh))
        }, both))),
      If(h2o <= Lit(0.0), co2SaturationE(m, t, Some(h2o <= Lit(0.0))),
        If(co2 <= Lit(0.0), h2oSaturationE(m, t, only = Some(co2 <= Lit(0.0))), ps)),
      If(h2o <= Lit(0.0), Lit(0.0), If(co2 <= Lit(0.0), Lit(1.0),
        closed(eos ++ fst ++ sx, C("_fst") / fx))))
  }

  // ---- scalar entry points: the trees above, evaluated --------------------

  private val (tIn, pIn, xIn) = (C("T_K"), C("P_bar"), C("xfl"))

  private val none = Comp(Array.empty, Array.empty)

  /** `value` after the solver `stages` that `trees` builds over `c`'s
    * elements and the inputs T_K, P_bar and xfl, evaluated at `c` and
    * `in` (those three inputs); `tree` names the tree. */
  private def run(tree: String, c: Comp, in: Double*)(
      trees: CompCtx => (Seq[Seq[(String, E)]], E)): Double =
    LoopExpression.scalar(s"Allison.$tree", c.names.toSeq ++ Seq("T_K", "P_bar", "xfl"))(
      trees(CompCtx(c.names.toVector)))(c.wt ++ in)

  /** CO2/H2O fugacity (bar) (`EOSs/CO2_H2O.py:17-37`). */
  def fugacity(tK: Double, pBar: Double, co2Species: Boolean): Double =
    run(s"fugacity $co2Species", none, tK, pBar, 0.0) { _ =>
      val (s, f) = fugacitySteps(pIn, co2Species, "p")
      (Nil, closed(eosLets(tIn) ++ s, f))
    }

  /** H2O solubility (wt.%), eq. 8. */
  def h2oSolubility(tK: Double, pBar: Double, xFluid: Double = 1.0): Double =
    run("h2oSolubility", none, tK, pBar, xFluid)(_ => (Nil, h2oSolubilityE(xIn, pIn, tIn)))

  /** CO2 solubility (wt.%), eq. 5 (`allison2022.py:273-337`). */
  def co2Solubility(c: Comp, tK: Double, pBar: Double, xFluid: Double = 0.0): Double =
    run("co2Solubility", c, tK, pBar, xFluid) { m =>
      val d = solubility(m, xIn, pIn, tIn)
      (d.stages, d.co2)
    }

  def h2oSaturation(c: Comp, tK: Double, xFluid: Double = 1.0): Double =
    run("h2oSaturation", c, tK, 0.0, xFluid)(m => (Nil, h2oSaturationE(m, tIn, xIn)))

  /** CO2 saturation pressure; with `xFluid` > 0, the total pressure whose
    * CO2 fugacity, times 1 - `xFluid`, is the pure-CO2 one. */
  def co2Saturation(c: Comp, tK: Double, xFluid: Double = 0.0): Double = {
    val p = run("co2Saturation", c, tK, 0.0, 0.0)(m => (Nil, co2SaturationE(m, tIn)))
    if (xFluid <= 0 || c("CO2") == 0.0) p
    else run("co2SaturationAt", none, tK, p, xFluid) { _ =>
      val (s, f) = fugacitySteps(pIn, co2 = true, "s")
      (Nil, halve(eosLets(tIn) ++ s ++ Seq("_fpu" -> f / (Lit(1.0) - xIn)),
        1e-50, 1.5e4, fugacityGap(C("_fpu")), xIn > Lit(0.0)))
    }
  }

  def mixedSaturation(c: Comp, tK: Double): (Double, Double) = {
    def at(out: String, value: Mixed => E) = run(s"mixedSaturation $out", c, tK, 0.0, 0.0) {
      m => val s = mixedSaturationE(m, tIn); (s.stages, value(s)) }
    (at("p", _.p), at("x", _.x))
  }
}
