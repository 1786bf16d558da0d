package graft.functions

import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression

/** Deng et al. (2020) Fe3+/Fe2+ model (reference
  * `Fe_redox/Fe3Fe2_models.py:419-761`): Gibbs polynomial + a 4th-order
  * Birch-Murnaghan EOS volume solve per pressure-lattice point, thermal
  * pressure coefficient, trapezoid integral of dV over P, Margules
  * activities, and the outer per-row Fe3Fe2 fixed point, written once as
  * trees. Parameters are the "12.5molpc" (default) or "25molpc" fit from
  * Deng's published code.
  *
  * dVdP depends on T and the length of the 500-bar lattice below P alone:
  * the length is a stage of its own ([[lengthE]]) and dVdP one flattened
  * loop over the lattice ([[dVdPE]]), memoised per JVM ([[Loop.memo]]),
  * so a JVM integrates once per distinct (T, length). Queries, the API
  * columns and the scalar functions all compute these trees. */
object Deng2020 {

  /** The loop memo's [[MemoStats]] under the names of the memos it
    * replaced: `dvdp*` count its lookups (Deng's dVdP and QFM's
    * transitions alike), `vol*` stay zero, since the volumes are solved
    * inside the memoised dVdP loop. Counting follows the [[MemoStats]]
    * rule: local-mode counts exact; on remote executors the loop columns
    * republish the stats captured when they were built, so counts are
    * present there but approximate at task boundaries. */
  final case class CacheMetrics(dvdp: MemoStats) {
    private val none = new Counter
    def volHits: Counter = none
    def volMisses: Counter = none
    def volFillNanos: Counter = none
    def dvdpHits: Counter = dvdp.hits
    def dvdpMisses: Counter = dvdp.misses
    def dvdpFillNanos: Counter = dvdp.fillNanos
  }

  /** Fresh stats on the loop memo ([[LoopExpression.attachMetrics]]). */
  def attachMetrics(spark: org.apache.spark.sql.SparkSession): CacheMetrics =
    CacheMetrics(LoopExpression.attachMetrics(spark))

  val R = 8.31446261815324
  val Avogadro = 6.02214076e23
  private val tRef = 3000.0
  private val a3ToCm3 = 1e-24

  /** One endmember's EOS (V_0, K_0, Kprime_0, Kprime_prime_0) and
    * thermal-pressure (a, b, c) parameters. */
  private final case class Endmember(v0: Double, k0: Double, kp: Double, kpp: Double,
                                     a: Double, b: Double, c: Double) {
    /** Birch-Murnaghan 4th order, Katsura & Tange (2019) eq. 27
      * (`EOSs/birch_murnaghan.py:6-42`), plus the thermal pressure at
      * `dt` = T - 3000 K, less `pg`: the volume solves' objective (GPa). */
    def f(v: E, dt: E, pg: E): E = {
      val x = Lit(v0) / v
      val part1 = Lit(1.5 * k0) * (pow(x, Lit(7.0 / 3.0)) - pow(x, Lit(5.0 / 3.0)))
      val part2 = Lit(1.0) + Lit(0.75 * (kp - 4.0)) * (pow(x, Lit(2.0 / 3.0)) - Lit(1.0))
      val part3 = (9.0 * kp * kp - 63.0 * kp + 9.0 * k0 * kpp + 143.0) / 24.0
      val part4 = pow(pow(x, Lit(2.0 / 3.0)) - Lit(1.0), Lit(2.0))
      val therm = (Lit(a) - Lit(b) * (v / Lit(v0)) + Lit(c) * pow(v / Lit(v0), Lit(2.0))) /
        Lit(1000.0)
      part1 * (part2 + Lit(part3) * part4) + therm * dt - pg
    }
  }

  /** The parameter sets keyed by melt-Fe content (`Fe3Fe2_models.py:462-504`,
    * the un-rounded values from Deng's published code): (Fe2, Fe3,
    * formula units). */
  private val paramSets: Map[String, (Endmember, Endmember, Double)] = Map(
    "12.5molpc" -> (
      Endmember(1180.114014, 26.94713861, 2.802531871, 0.012313472,
        35.79397483, 71.10313668, 36.59545225),
      Endmember(1204.763652, 23.19530062, 3.216089358, 0.009340183,
        34.52616394, 68.64429623, 35.27069116), 2.0),
    "25molpc" -> (
      Endmember(1192.011066, 23.95435759, 3.32104996, -0.008912497,
        31.34712676, 62.48520005, 32.4675829),
      Endmember(1256.727179, 16.12613905, 4.584011905, -0.177152954,
        30.38414264, 59.10950152, 29.64971394), 4.0))

  private def lets(t: E, p: E): Seq[(String, E)] =
    Seq("_dt" -> (t - Lit(tRef)), "_pg" -> p / Lit(1e4))

  /** The volume solve's first half at `t` K, `p` bar (`Fe3Fe2_models.py:
    * 624-671`): a secant from V_0 - 6 P and 1.01 times that. */
  private def secantV(m: Endmember, t: E, p: E): Loop = {
    def f(v: E): E = m.f(v, C("_dt"), C("_pg"))
    val vi = C("_vi")
    secant(lets(t, p) :+ ("_vi" -> (Lit(m.v0) - Lit(6.0) * C("_pg"))),
      (vi, f(vi)), (vi * Lit(1.01), f(vi * Lit(1.01))), f)
  }

  /** The second half: the secant root `s` when finite, positive and within
    * 1e-8, else 60 halvings of [0.3 V_0, 2 V_0]; NaN when those do not
    * bracket the root. */
  private def bisectV(m: Endmember, t: E, p: E, s: E): Loop = {
    def f(v: E): E = m.f(v, C("_dt"), C("_pg"))
    val (lo, hi) = (m.v0 * 0.3, m.v0 * 2.0)
    val accepted = abs(s) < Lit(Double.PositiveInfinity) && s > Lit(0.0) &&
      abs(C("_fs")) < Lit(1e-8)
    bisect(lets(t, p) ++ Seq("_fs" -> f(s), "_flo" -> f(Lit(lo)), "_fhi" -> f(Lit(hi))),
      lo, hi, f, NotC(accepted) && C("_flo") > Lit(0.0) && C("_fhi") < Lit(0.0),
      If(accepted, s, Lit(Double.NaN)))
  }

  /** cm3 per mole Fe of a solved volume. */
  private def cm3(v: E, formulaUnits: Double): E =
    v / Lit(formulaUnits) * Lit(Avogadro) * Lit(a3ToCm3)

  private val gridStep = 5e2

  /** Lattice points the trapezoid can take: 4000 reach 2 Mbar. */
  private val maxPoints = 4000

  /** Points of the 500-bar lattice 1, 501, ... below `p` + 500 bar, by the
    * float walk that builds the lattice; NaN past [[maxPoints]]. */
  private def lengthE(p: E): Loop = Loop(Seq("_end" -> (p + Lit(gridStep))),
    Seq("_n" -> Lit(0.0), "_p" -> Lit(1.0)),
    Seq("_n" -> (C("_n") + Lit(1.0)), "_p" -> (C("_p") + Lit(gridStep))),
    C("_p") < C("_end"), maxPoints, If(C("_p") < C("_end"), Lit(Double.NaN), C("_n")))

  /** Trapezoid integral of dV (m3) over P (Pa) at `t` K over the first `n`
    * points of the 500-bar lattice (`Fe3Fe2_models.py:702-733`): at each
    * point the Fe3 and then the Fe2 volume, each a secant then its
    * bisection fallback. Memoised: it reads T and `n` alone. */
  private def dVdPE(t: E, n: E, meltFe: String): Loop = {
    val (fe2, fe3, units) = paramSets(meltFe)
    grid(Nil, n, 1.0, gridStep, maxPoints, 1e5, Seq(
        (x, _) => secantV(fe3, t, x), (x, r) => bisectV(fe3, t, x, r(0)),
        (x, _) => secantV(fe2, t, x), (x, r) => bisectV(fe2, t, x, r(2))),
      (_, r) => (cm3(r(1), units) - cm3(r(3), units)) * Lit(1e-6)).memoised
  }

  /** dVdP at `t`, `p` as stages: the lattice length `_dgN`, then dVdP
    * `_dgV`. */
  def dVdPStages(t: E, p: E, meltFe: String = "12.5molpc"): Seq[Seq[(String, E)]] =
    Seq(Seq("_dgN" -> lengthE(p)), Seq("_dgV" -> dVdPE(t, C("_dgN"), meltFe)))

  private val (tIn, pIn) = (C("T_K"), C("P_bar"))

  /** Volume (cm3 per mole Fe) at (T, P) for the Fe2/Fe3 endmember: EOS +
    * thermal-pressure term solved for V (`Fe3Fe2_models.py:624-671`). */
  def volume(tK: Double, pBar: Double, fe3: Boolean,
             meltFe: String = "12.5molpc"): Double =
    LoopExpression.scalar(s"Deng2020.volume $fe3 $meltFe", Seq("T_K", "P_bar")) {
      val (fe2m, fe3m, units) = paramSets(meltFe)
      val m = if (fe3) fe3m else fe2m
      (Seq(Seq("_dvS" -> secantV(m, tIn, pIn)), Seq("_dvB" -> bisectV(m, tIn, pIn, C("_dvS")))),
        cm3(C("_dvB"), units))
    }(Array(tK, pBar))

  /** trapezoid integral of dV (m3) over P (Pa) from 1 bar to P_bar with a
    * 500-bar grid (`Fe3Fe2_models.py:702-733`). */
  def dVdP(tK: Double, pBar: Double, meltFe: String = "12.5molpc"): Double =
    LoopExpression.scalar(s"Deng2020.dVdP $meltFe", Seq("T_K", "P_bar"))(
      (dVdPStages(tIn, pIn, meltFe), C("_dgV")))(Array(tK, pBar))

  /** Gibbs free energy at reference P (`Fe3Fe2_models.py:599-612`). */
  private def gibbs0E(t: E): E =
    Lit(-331035.9211346371) - Lit(190.3795512883899) * t +
      Lit(14.785873706952849) * t * ln(t) - Lit(0.0016487959655627517) * t * t +
      Lit(9348044.389346942) / t + Lit(10773.299613088355) * sqrt(t)

  /** Gibbs free energy at reference P (`Fe3Fe2_models.py:599-612`). */
  def gibbs0(tK: Double): Double =
    LoopExpression.scalar("Deng2020.gibbs0", Seq("T_K"))((Nil, closed(Nil, gibbs0E(tIn))))(Array(tK))

  // the Margules coefficients, summed in this Map's iteration order
  private val margules = Map("Mg" -> 68629.0, "Si" -> 4601.0, "Al" -> 40923.0,
    "Ca" -> -58109.0, "Na" -> 0.0, "K" -> -59584.0, "P" -> 0.0, "Ti" -> 0.0)
  private val feMargules = -14210.0

  /** Full deng2020 (`Fe3Fe2_models.py:565-597`) over the split cation base
    * `base` ([[Fe3Fe2Iterative.wtBase]]): the [[dVdPStages]], then the
    * per-row fixed point on eq. 3 as two more stages, a secant from (0.3,
    * 0.31) (`_dgS`) and, unless it gives a finite positive root within
    * 1e-8, 60 halvings of [1e-8, 100] (`_dgR`, NaN where that brackets no
    * root); the value reads the last. */
  def fe3Fe2Stages(base: Seq[(String, E)], t: E, p: E, fO2: E,
                   meltFe: String = "12.5molpc"): (Seq[Seq[(String, E)]], E) = {
    val rt = Lit(R) * t
    val consts = base ++ Seq(
      "_dgG" -> (gibbs0E(t) + C("_dgV")) * Lit(-1.0) / rt,
      "_dgM" -> sumAll(Lit(0.0) +: margules.toSeq.map { case (n, m) => C(s"_$n") * Lit(m) }),
      "_dgQ" -> ln(fO2) / Lit(4.0))
    def g(r: E): E = exp(C("_dgG") -
      (C("_dgM") + Fe3Fe2Iterative.feMinusFe3(r) * Lit(feMargules)) / rt + C("_dgQ")) - r
    val s = C("_dgS")
    val accepted = abs(s) < Lit(Double.PositiveInfinity) && s > Lit(0.0) &&
      abs(C("_fs")) < Lit(1e-8)
    // the bracket is only evaluated where the secant's root is rejected
    def bracket(x: Double): E = If(accepted, Lit(0.0), g(Lit(x)))
    (dVdPStages(t, p, meltFe) ++ Seq(
      Seq("_dgS" -> secant(consts, (Lit(0.3), g(Lit(0.3))), (Lit(0.31), g(Lit(0.31))), g)),
      Seq("_dgR" -> bisect(consts ++ Seq("_fs" -> g(s), "_glo" -> bracket(1e-8),
          "_ghi" -> bracket(100.0)), 1e-8, 100.0, g,
        NotC(accepted) && C("_glo") > Lit(0.0) && C("_ghi") < Lit(0.0),
        If(accepted, s, Lit(Double.NaN))))), C("_dgR"))
  }

  /** Full deng2020 (`Fe3Fe2_models.py:565-597`) on a mol-fraction Map. */
  def fe3Fe2(mol: Map[String, Double], tK: Double, pBar: Double,
             fO2: Double, meltFe: String = "12.5molpc"): Double = {
    LoopExpression.scalar(s"Deng2020.fe3Fe2 $meltFe", mol.keys.toSeq ++ Seq("T_K", "P_bar", "fO2"))(
      fe3Fe2Stages(Fe3Fe2Iterative.molBase(mol), tIn, pIn, C("fO2"), meltFe))(
      (mol.values ++ Seq(tK, pBar, fO2)).toArray)
  }
}
