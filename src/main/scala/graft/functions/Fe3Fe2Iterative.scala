package graft.functions

import graft.chem.Elements
import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression

/** Iterative Fe3+/Fe2+ models (reference `Fe_redox/Fe3Fe2_models.py`):
  * activities depend on the Fe speciation itself, so each row solves a
  * fixed point Fe3Fe2 = f(Fe3Fe2) (the reference calls per-row
  * `scipy.optimize.fsolve` from 0.3; here bisection on the reference's
  * bracket). Row-local — no cross-row state, one narrow stage.
  */
object Fe3Fe2Iterative {

  val R = 8.31446261815324

  // ---- cation bases: per-row lets every model tree reads --------------

  /** The cations with a base fraction. */
  private val slots = Seq("Si", "Ti", "Al", "Mg", "Ca", "Na", "K", "P")

  private def sum0(xs: Seq[E]): E = E.sumAll(Lit(0.0) +: xs)

  /** Cation terms x * cationAmount of the oxides in `order`, by cation. */
  private def terms(order: Seq[String], x: String => E): Seq[(String, E)] =
    order.map(ox => Elements.cationName(ox) -> x(ox) * Lit(Elements.cationAmount(ox)))

  /** The fraction `_<prefix><Cation>` of each cation of `cats` over the
    * total `tot`, 0.0 when the composition has none; each sum a left fold
    * from 0.0 in `order`. */
  private def fractions(ts: Seq[(String, E)], cats: Seq[String], prefix: String,
                        tot: E): Seq[(String, E)] =
    cats.map { c =>
      s"_$prefix$c" -> (ts.filter(_._1 == c).map(_._2) match {
        case Seq() => Lit(0.0)
        case xs    => sum0(xs) / tot
      })
    }

  /** The split cation base as loop lets: the composition with FeO and
    * Fe2O3 taken out of the sums, where splitting FeO at a ratio r into
    * FeO + Fe2O3 conserves the cation count (`melt.py:225-274` with
    * wtpc=False, then `cations()`), so only the Fe2+/Fe3+ pair depends on r.
    * `_tot` the cation total, `_<Cation>` each cation's fraction, `_fet`
    * FeO's share. `order` is the summation order of the oxides other than
    * FeO and Fe2O3 (the iteration order of the composition's Map), `x` an
    * oxide's mol fraction. */
  private def splitLets(order: Seq[String], x: String => E,
                        hasFeO: Boolean): Seq[(String, E)] = {
    val ts = terms(order, x)
    Seq("_feo" -> (if (hasFeO) x("FeO") else Lit(0.0)),
      "_tot" -> (sum0(ts.map(_._2)) + C("_feo"))) ++
      fractions(ts, slots, "", C("_tot")) :+ ("_fet" -> C("_feo") / C("_tot"))
  }

  /** The plain cation base as loop lets (`moles.cations()`, all Fe as
    * Fe2+): `_ptot` the cation total and `_p<Cation>` each cation's
    * fraction, Fe included; sums in `order`, as in [[splitLets]]. */
  private def plainLets(order: Seq[String], x: String => E): Seq[(String, E)] = {
    val ts = terms(order, x)
    ("_ptot" -> sum0(ts.map(_._2))) +: fractions(ts, slots :+ "Fe", "p", C("_ptot"))
  }

  private def molOf(ox: String): E = C(ox) / Lit(Elements.chemicalWeight(ox).get)

  /** The mol sum of oxide wt.% columns `els`, in schema order. */
  private def molSum(els: Seq[String]): (String, E) = "_sum" -> sum0(els.map(molOf))

  /** Split base of oxide wt.% columns `els`: mol fractions normalised by
    * the mol sum in schema order. */
  def wtBase(els: Seq[String]): Seq[(String, E)] =
    molSum(els) +: splitLets((els.zip(els.indices).toMap - "FeO" - "Fe2O3").keys.toSeq,
      ox => molOf(ox) / C("_sum"), els.contains("FeO"))

  /** Plain base of oxide wt.% columns `els`. */
  def wtPlainBase(els: Seq[String]): Seq[(String, E)] =
    molSum(els) +: plainLets(els.zip(els.indices).toMap.keys.toSeq, ox => molOf(ox) / C("_sum"))

  /** Split base of a mol-fraction Map's keys, in the Map's own order (the
    * values are used as they are). */
  private[graft] def molBase(mol: Map[String, Double]): Seq[(String, E)] =
    splitLets((mol - "FeO" - "Fe2O3").keys.toSeq, C(_), mol.contains("FeO"))

  // ---- O'Neill 2006 and Armstrong 2019: fixed points written as Loops ---

  /** Solve r = f(r) by [[E.bisect]] on g(r) = f(r) - r over the
    * reference's fsolve-equivalent bracket [1e-8, 100]. Both models' f are
    * strictly decreasing in r (the Fe2-Fe3 redistribution term enters with
    * a negative derivative), so the root is unique; 60 halvings reach
    * ~1e-15 relative. NaN when g does not change sign on the bracket. */
  private def fixedPoint(lets: Seq[(String, E)], f: E => E): Loop = {
    def g(r: E): E = f(r) - r
    bisect(lets ++ Seq("_glo" -> g(Lit(1e-8)), "_ghi" -> g(Lit(100.0))),
      1e-8, 100.0, g, C("_glo") > Lit(0.0) && C("_ghi") < Lit(0.0))
  }

  /** cat("Fe") - cat("Fe3") at trial r: fe(r) - (feTot - fe(r)),
    * fe(r) = feTot / (1 + r). */
  private[graft] def feMinusFe3(r: E): E = {
    val fe = C("_fet") / (Lit(1.0) + r)
    fe - (C("_fet") - fe)
  }

  /** O'Neill et al. (2006) eq. 10 (`Fe3Fe2_models.py:840-871`): the cation
    * polynomial and pressure term are per-row constants; only the
    * Fe2+-Fe3+ difference varies per trial. `base` is [[wtBase]] or a
    * Map's split base. */
  def oneill2006Loop(base: Seq[(String, E)], tK: E, pBar: E, fO2: E): Loop = {
    val (t, pg) = (C("_tk"), C("_pg"))
    fixedPoint(base ++ Seq("_tk" -> tK, "_pg" -> pBar / Lit(1e4),
        "_cp" -> (Lit(-28144.0) + Lit(3905.0) * C("_Mg") - Lit(13359.0) * C("_Ca") -
          Lit(14858.0) * C("_Na") - Lit(9805.0) * C("_K") + Lit(10906.0) * C("_Al") +
          Lit(110971.0) * C("_P")),
        "_p2" -> (Lit(13.95) +
          (Lit(33122.0) / t - Lit(5.24)) * (pow(Lit(1.0) + Lit(0.241) * pg, Lit(0.75)) - Lit(1.0)) -
          (Lit(39156.0) / t - Lit(6.17)) * (pow(Lit(1.0) + Lit(0.132) * pg, Lit(0.75)) - Lit(1.0))),
        "_lf" -> log10(fO2)),
      r => pow(Lit(10.0),
        (C("_lf") - (C("_cp") - Lit(11952.0) * feMinusFe3(r)) / t - C("_p2")) / Lit(4.0)))
  }

  /** Armstrong et al. (2019) Supplementary eq. S12
    * (`Fe3Fe2_models.py:1030-1155`): Gibbs0 + Tait-like VdP of the FeO/
    * FeO1.5 partial molar volumes + Jayasuriya Margules activities.
    * Everything but the Fe2+-Fe3+ Margules term is per-row constant; the
    * Tait shape constants (a, b, c per phase) are T/P-independent and
    * computed here. */
  def armstrong2019Loop(base: Seq[(String, E)], tK: E, pBar: E, fO2: E): Loop = {
    val (t, pg) = (C("_tk"), C("_pg"))
    def vdp(k0: Double, kp0: Double, v0: E): E = {
      val kpp0 = -kp0 / k0
      val a = (1.0 + kp0) / (1.0 + kp0 + k0 * kpp0)
      val bb = kp0 / k0 - kpp0 / (1.0 + kp0)
      val cc = (1.0 + kp0 + k0 * kpp0) / (kp0 * kp0 + kp0 - k0 * kpp0)
      val part1 = Lit(a) * (Lit(1.0) - pow(Lit(1.0) + Lit(bb) * pg, Lit(1.0 - cc)))
      pg * v0 * (Lit(1.0 - a) + part1 / (Lit(bb * (cc - 1.0)) * pg))
    }
    val dVdP = vdp(12.6, 1.3, Lit(21070.0) + Lit(4.54) * (t - Lit(1673.0))) -
      vdp(37.0, 8.0, Lit(13650.0) + Lit(2.92) * (t - Lit(1673.0)))
    val gibbs0 = -(Lit(16201.0) / t - Lit(8.031)) * (Lit(R) * t)
    fixedPoint(base ++ Seq("_tk" -> tK, "_pg" -> pBar / Lit(1e4),
        "_sm" -> (Lit(-2248.0) * C("_Mg") + Lit(7690.0) * C("_Ca") +
          Lit(8553.0) * C("_Na") + Lit(5644.0) * C("_K") + Lit(-6278.0) * C("_Al")),
        "_lq" -> ln(fO2) / Lit(4.0),
        "_gt" -> (gibbs0 + dVdP) / (Lit(R) * t)),
      r => exp(C("_lq") - C("_gt") +
        (C("_sm") / t + Lit(6880.0) * (feMinusFe3(r) / t))))
  }

  /** The loop of an iterative model written as a tree, if it is one. */
  val loops: Map[String, (Seq[(String, E)], E, E, E) => Loop] =
    Map("oneill2006" -> oneill2006Loop, "armstrong2019" -> armstrong2019Loop)

  private def mapModel(model: String, mol: Map[String, Double], tK: Double,
                       pBar: Double, fO2: Double): Double =
    LoopExpression.scalar(s"Fe3Fe2Iterative.$model", mol.keys.toSeq ++ Seq("T_K", "P_bar", "fO2"))(
      (Nil, loops(model)(molBase(mol), C("T_K"), C("P_bar"), C("fO2"))))(
      (mol.values ++ Seq(tK, pBar, fO2)).toArray)

  def oneill2006(mol: Map[String, Double], tK: Double, pBar: Double,
                 fO2: Double): Double = mapModel("oneill2006", mol, tK, pBar, fO2)

  def armstrong2019(mol: Map[String, Double], tK: Double, pBar: Double,
                    fO2: Double): Double = mapModel("armstrong2019", mol, tK, pBar, fO2)

  /** Plain cation fractions with Fe as total Fe2+ (no Fe3 split) — the
    * reference's `moles.cations()` used by hirschmann2022
    * (`Fe3Fe2_models.py:1304-1307`). */
  private[graft] def plainCations(mol: Map[String, Double]): Map[String, Double] = {
    val terms = mol.toSeq.map { case (ox, x) =>
      Elements.cationName(ox) -> x * Elements.cationAmount(ox)
    }
    val tot = terms.iterator.map(_._2).sum
    terms.groupBy(_._1).map { case (c, vs) => c -> vs.iterator.map(_._2).sum / tot }
  }

  /** Hirschmann (2022) eq. 21 with the deng2020 EOS-integral dVdP instead
    * of the armstrong2019 analytic volumes (the reference's
    * `dVdP_method="deng2020"` variant, `Fe3Fe2_models.py:1325-1330`).
    * Closed-form in Fe3Fe2 — no fixed point — over the dVdP tree
    * ([[Deng2020.dVdP]]). */
  def hirschmann2022DengVdP(mol: Map[String, Double], tK: Double,
                            pBar: Double, fO2: Double): Double = {
    val (a, b, c, dCp, t0) = (0.1917, -1.961, 4158.1, 33.25, 1673.15)
    val cats = plainCations(mol)
    def x(n: String): Double = cats.getOrElse(n, 0.0)
    // a left fold from 0.0, as Scala's `sum` over a List
    val compositional = 0.0 + x("Si") * -520.46 + x("Ti") * -185.37 +
      x("Mg") * 494.39 + x("Ca") * 1838.34 + x("Na") * 2888.48 + x("K") * 3473.68 +
      x("P") * -4473.6 + -1245.09 * x("Si") * x("Al") + -1156.86 * x("Si") * x("Mg")
    val dVdP = Deng2020.dVdP(tK, pBar)
    val part1 = a * math.log10(fO2) + b + c / tK
    val part2 = -dCp / (R * math.log(10.0)) *
      (1.0 - t0 / tK - math.log(tK / t0))
    val part3 = -dVdP / (R * math.log(10.0) * tK)
    val part4 = compositional / tK
    math.pow(10.0, part1 + part2 + part3 + part4)
  }

  /** Sun (2024) eq. 9 with the deng2020 EOS-integral Gamma — the
    * reference's DEFAULT `dV="deng"` variant
    * (`Fe_redox/Fe3Fe2_models.py:1494-1534`) — over the plain cation base
    * `plain` ([[wtPlainBase]]): the [[Deng2020.dVdPStages]], then the
    * value, closed form in Fe3Fe2 (total-Fe cations, no split). The
    * expression-AST [[graft.models.Fe3Fe2.sun2024]] uses Sun's closed-form
    * parameterised Gamma instead (the published approximation; deviates by
    * up to ~8% in Fe3Fe2 at 1 GPa). */
  def sun2024DengStages(plain: Seq[(String, E)], t: E, p: E,
                        fO2: E): (Seq[Seq[(String, E)]], E) = {
    val (a0, a1, a2, a3) = (2.1479, -230.2593, -1.8557e-4, 34.3293)
    val (a4, a5, a6, a7, a8) = (1.4138, -17.3040, -10.1820, -6.7463, -7.3886)
    val (a9, a10, a11, a12, h) = (-14.5430, -9.9776, -16.1506, -37.5572, 2.1410)
    def x(c: String): E = C(s"_p$c")
    val fe = x("Fe")
    val gamma = C("_dgV") / (Lit(R) * t)
    val omega = Lit(a1) + Lit(a2) * pow(t, Lit(1.5)) + Lit(a3) * ln(t)
    val phi = Lit(a4) * ln(fe) + Lit(a5) * sqrt(fe) + Lit(a6) * pow(x("Si"), Lit(3.0)) +
      Lit(a7) * x("Al") + Lit(a8) * x("Ti") + Lit(a9) * x("Ca") + Lit(a10) * x("Mg") +
      (Lit(a11) + Lit(a12) * fe) * (x("Na") + x("K"))
    (Deng2020.dVdPStages(t, p), closed(plain, pow(Lit(10.0),
      (log10(fO2) - omega - phi - Lit(h) * gamma) / (Lit(4.0) + Lit(a0) * sqrt(fe)))))
  }

  def sun2024DengVdP(mol: Map[String, Double], tK: Double, pBar: Double,
                     fO2: Double): Double = {
    LoopExpression.scalar("Fe3Fe2Iterative.sun2024", mol.keys.toSeq ++ Seq("T_K", "P_bar", "fO2"))(
      sun2024DengStages(plainLets(mol.keys.toSeq, C(_)), C("T_K"), C("P_bar"), C("fO2")))(
      (mol.values ++ Seq(tK, pBar, fO2)).toArray)
  }

  /** The stages and value of a Deng-EOS model (`deng2020`, `sun2024`; the
    * others are [[loops]]) over oxide wt.% columns `els`. */
  val dengModels: Map[String, (Seq[String], E, E, E) => (Seq[Seq[(String, E)]], E)] = Map(
    "deng2020" -> ((els, t, p, fO2) => Deng2020.fe3Fe2Stages(wtBase(els), t, p, fO2)),
    "sun2024" -> ((els, t, p, fO2) => sun2024DengStages(wtPlainBase(els), t, p, fO2)))
}
