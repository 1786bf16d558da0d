package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression

/** Full Iron-Wustite buffer after Hirschmann (2021) (reference
  * `fO2/IW.py`): Gibbs polynomials (Hidayat 2015 / Dinsdale 1991) with the
  * bcc magnetic correction, Vinet-EOS pressure terms (100-point trapezoid
  * VdP), min-Gibbs Fe-polymorph selection, and the wustite FeO-FeO1.5
  * solid-solution equilibrium solved by bisection per (T, P) (the
  * reference float32-coerces its result; we keep doubles), written once as
  * trees.
  *
  * One rule, as for QFM: the expensive sub-solve is memoised on its own
  * key and the per-row assembly is computed. Here the sub-solve is each
  * phase's 100-point Vinet grid, a vector loop over P ([[grid]]) in the
  * loop memo ([[Loop.memo]]); the Gibbs sums, the VdP folds over the grids,
  * the polymorph minimum and the wustite bisection are one per-row loop
  * ([[fO2E]]) that holds the seven grid loops. Queries, the [[withIw]]
  * column and the scalar [[fO2]] all compute this tree. */
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

  private val (tIn, pIn) = (C("T_K"), C("P_bar"))

  private def gibbs0(t: E, p: G0): E = {
    val (a, b, c, d, e, f, g, h, i) = p
    Lit(a) + Lit(b) * t + Lit(c) * t * ln(t) + Lit(d) * ln(t) + Lit(e) * t * t +
      Lit(f) * t * t * t + Lit(g) / t + Lit(h) * pow(t, Lit(7.0)) + Lit(i) * pow(t, Lit(-9.0))
  }

  /** [[gibbs0]] with the low/high-T parameters, and O2's below 1000 K. */
  private def gibbs0At(phase: String, t: E): E = {
    val byT = If(t > Lit(1811.0), gibbs0(t, g0High(phase)), gibbs0(t, g0Low(phase)))
    if (phase == "O2") If(t < Lit(1000.0), gibbs0(t, g0O2LowT), byT) else byT
  }

  /** bcc-alpha magnetic Gibbs correction (`fO2/IW.py:130-157`): tc = 1043,
    * pf = 0.4, beta = 2.22, a = 1.55828482. */
  private def gibbsFeMagnetic(t: E): E = {
    val (pf, a) = (0.4, 1.55828482)
    val tau = t / Lit(1043.0)
    val term1 = (Lit(79.0) / tau) / Lit(140.0 * pf)
    val term2 = Lit((474.0 / 497.0) * (1.0 / pf - 1.0)) * (pow(tau, Lit(3.0)) / Lit(6.0) +
      pow(tau, Lit(9.0)) / Lit(135.0) + pow(tau, Lit(15.0)) / Lit(600.0))
    val gm = If(t < Lit(1043.0), Lit(1.0) - Lit(1.0 / a) * (term1 + term2),
      Lit(-1.0 / a) * (pow(tau, Lit(-5.0)) / Lit(10.0) + pow(tau, Lit(-15.0)) / Lit(315.0) +
        Lit(1.0 / 1500.0)))
    gm * (Lit(R) * t * Lit(math.log(2.22 + 1.0)))
  }

  // ---- Vinet EOS (`EOSs/vinet.py`) --------------------------------------

  /** vinetP (GPa) less `p` at the volume whose (V/V0)^(1/3) is `x`. */
  private def vinetP(x: E, p: E, e: EosP): E = {
    val (_, k0, kp0, _, _, _) = e
    Lit(3.0 * k0) / (x * x) * (Lit(1.0) - x) * exp(Lit(1.5 * (kp0 - 1.0)) * (Lit(1.0) - x)) - p
  }

  /** (V/V0)^(1/3) at the volume `v`. */
  private def cbrt(v: E, e: EosP): E = pow(v / Lit(e._1), Lit(1.0 / 3.0))

  private val points = 100

  /** The T-independent part of one phase's 100-point V(P) grid at P_bar:
    * at each grid pressure p_i = 1e-4 + i (P - 1e-4) / 99 GPa, the room-T
    * volume (60 halvings of [0.3 v0, 1.5 v0], where vinetP decreases, so
    * the root is unique; v0 when those do not bracket it) and the
    * thermal-expansion coefficient at it: the first 100 values, then the
    * next 100. The thermal factor exp(alpha (T - 298.15)) is the volume's
    * only T-dependence, so the grid is memoised on P alone: across the
    * many temperatures that share a pressure, the inversions run once. */
  private def grid(phase: String): Loop = {
    val e @ (v0, _, _, alpha0, delta0, kappa) = eos(phase)
    val (lo, hi) = (v0 * 0.3, v0 * 1.5)
    val pi = C("_pi")
    val b = bisect(Seq("_pg" -> pIn / Lit(1e4), "_st" -> (C("_pg") - Lit(1e-4)) / Lit(points - 1.0),
        "_pi" -> (Lit(1e-4) + C(Loop.index) * C("_st")), "_xlo" -> cbrt(Lit(lo), e),
        "_xhi" -> cbrt(Lit(hi), e), "_flo" -> vinetP(C("_xlo"), pi, e),
        "_fhi" -> vinetP(C("_xhi"), pi, e)),
      lo, hi, _ => vinetP(C("_x"), pi, e), C("_flo") > Lit(0.0) && C("_fhi") < Lit(0.0), Lit(v0),
      m => Seq("_x" -> cbrt(m, e)))
    val alpha = Lit(alpha0) * exp(Lit(-delta0 / kappa) *
      (Lit(1.0) - pow(b.result / Lit(v0), Lit(kappa))))
    b.copy(result = Vec(List(b.result, alpha)), memo = true, width = points)
  }

  /** 100-point trapezoid of V dP (J/mol) from 1 bar to P over the phase's
    * [[grid]], at `dT` = T - 298.15 and the panel width `st` (GPa). */
  private def vinetVdP(phase: String, dT: E, st: E): E = {
    val (g, k) = (grid(phase), C("_k"))
    Trapz("_k", points, At(g, k) * exp(At(g, Lit(points.toDouble) + k) * dT), st) * Lit(1000.0)
  }

  // ---- assembly (`fO2/IW.py:159-471`) -----------------------------------

  /** The Gibbs energy of `phase` at T and P as lets: the pressure-free
    * part, then (bar O2) the Vinet VdP above 1 bar, none at or below 1e-4
    * GPa; the grid is looked up only where the VdP is computed. */
  private def gibbsPhase(phase: String, name: String): Seq[(String, E)] = {
    val g0 = gibbs0At(phase, tIn)
    val g = if (phase == "Fe_bcc-alpha") g0 + gibbsFeMagnetic(tIn) else g0
    if (phase == "O2") Seq(name -> g)
    else Seq(s"${name}Base" -> g, name -> If(pIn > Lit(1.0), C(s"${name}Base") +
      If(C("_pg") <= Lit(1e-4), Lit(0.0), vinetVdP(phase, C("_dT"), C("_st"))), C(s"${name}Base")))
  }

  private def gammaFeO(x: E): E = (Lit(q00) + Lit(2.0 * q10) * (Lit(1.0) - x)) * x * x
  private def gammaFeO1p5(x: E): E =
    (Lit(1.0) - x) * (Lit(1.0) - x) * (Lit(q00 + q10) - Lit(2.0 * q10) * x)

  /** `Seq.min`'s choice between `x` and `y`, in the total order of
    * `java.lang.Double.compare`: NaN above every number, -0.0 below 0.0. */
  private def min(x: E, y: E): E = {
    val plusZeroOverMinus = x === Lit(0.0) && Lit(1.0) / x > Lit(0.0) && Lit(1.0) / y < Lit(0.0)
    If(NotC(y === y) || x < y || x === y && NotC(plusZeroOverMinus), x, y)
  }

  /** Base fO2 (bar) at IW over the columns T_K and P_bar
    * (`fO2/IW.py:383-471`), suppress_Fe_liquid = false (the reference
    * default): the wustite equilibrium (eq. 14, half stoichiometry) by 60
    * halvings of [1e-6, 1 - 1e-6], where it decreases in x (the
    * ln((1-x)^1.5/x) term); 1e-6 where they do not bracket it, as the
    * reference's failed solve gave. */
  val fO2E: Loop = {
    val (t, g) = (tIn, (n: String) => C(s"_g$n"))
    val fe = fePolymorphs.indices.map(i => s"Fe$i")
    val gibbs = Seq("_dT" -> (t - Lit(298.15)), "_pg" -> pIn / Lit(1e4),
        "_st" -> (C("_pg") - Lit(1e-4)) / Lit(points - 1.0)) ++
      Seq("FeO" -> "FeO", "FeO1.5" -> "FeO15", "O2" -> "O2").flatMap { case (ph, n) =>
        gibbsPhase(ph, s"_g$n") } ++
      fePolymorphs.zip(fe).flatMap { case (ph, n) => gibbsPhase(ph, s"_g$n") } ++
      fe.indices.tail.map(i => s"_gFeMin$i" ->
        min(if (i == 1) g(fe.head) else g(s"FeMin${i - 1}"), g(fe(i))))
    val dG15 = g("FeO15") - g("FeO") - g("O2") / Lit(4.0)
    val dGw = Lit(3.0) * g("FeO") - Lit(2.0) * g("FeO15") - g(s"FeMin${fe.size - 1}")
    def eqFn(x: E): E = Lit(0.5) * C("_dGw") + Lit(R) * t * ln(pow(Lit(1.0) - x, Lit(1.5)) / x) +
      Lit(1.5) * gammaFeO(x) - gammaFeO1p5(x)
    val (lo, hi) = (1e-6, 1.0 - 1e-6)
    val b = bisect(gibbs ++ Seq("_dG15" -> dG15, "_dGw" -> dGw,
        "_flo" -> eqFn(Lit(lo)), "_fhi" -> eqFn(Lit(hi))), lo, hi, eqFn,
      C("_flo") > Lit(0.0) && C("_fhi") < Lit(0.0), Lit(1e-6))
    val x = b.result
    val muO2 = Lit(4.0) * (C("_dG15") + Lit(R) * t * ln(x / (Lit(1.0) - x)) +
      gammaFeO1p5(x) - gammaFeO(x))
    b.copy(result = exp(muO2 / (Lit(R) * t)))
  }

  /** The loop memo counts IW's grid solves: its stats are attached once,
    * by [[Deng2020.attachMetrics]] or [[LoopExpression.attachMetrics]]. */
  def attachMetrics(spark: org.apache.spark.sql.SparkSession): Seq[MemoStats] = Nil

  /** Absolute fO2 (bar) at IW + logshift (`fO2/IW.py:383-471`). */
  def fO2(tK: Double, pBar: Double, logshift: Double = 0.0): Double =
    LoopExpression.scalar("IwFull.fO2", Seq("T_K", "P_bar"))((Nil, fO2E))(Array(tK, pBar)) *
      math.pow(10.0, logshift)

  /** fO2 of the columns `t` and `p` at IW + logshift. */
  def column(t: Column, p: Column, logshift: Double = 0.0): Column =
    LoopExpression.column(fO2E, Map("T_K" -> t, "P_bar" -> p)) * lit(math.pow(10.0, logshift))

  /** Attach an IW-buffer `fO2` column: the [[column]] per row. Its Vinet
    * grids are memoised per (phase, P) in the loop memo; the assembly over
    * them is computed per row. */
  def withIw(df: DataFrame, tCol: String, pCol: String,
             logshift: Double = 0.0, as: String = "fO2"): DataFrame =
    df.withColumn(as, column(col(tCol), col(pCol), logshift))
}
