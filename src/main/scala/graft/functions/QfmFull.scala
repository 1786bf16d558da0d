package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression

/** Full QFM oxygen-fugacity buffer with EOS pressure terms
  * (reference `fO2/QFM.py:187-239`): O'Neill (1987) 1-bar polynomial +
  * Tait-EOS VdP of quartz/magnetite/fayalite with Landau excess energy and
  * phase transitions (qtz->coe->stish, fay->ring), written once as trees
  * (Holland & Powell 2011 data, `EOSs/tait.py`, `EOSs/tools.py`,
  * `EOSs/parameters.py`).
  *
  * The three transition pressures depend on T alone: each is a bisection
  * over T ([[transitions]]), memoised per JVM ([[Loop.memo]]), so a JVM
  * solves each once per distinct temperature. The buffer at P is closed
  * form over (T, P, the three transitions) ([[buffer]]), computed per
  * row: the expensive sub-solve is memoised on its own key, as IW's Vinet
  * grids are on (phase, P) ([[IwFull]]). Queries, the [[withQfm]] column
  * and the scalar functions all compute these trees. */
object QfmFull {

  val R = 8.31446261815324

  private final case class Phase(
      h: Double, s: Double, v0: Double, n: Double, a0: Double, K0: Double,
      dKdP: Double, dKdP2: Double,
      cpA: Double = 0, cpB: Double = 0, cpC: Double = 0, cpD: Double = 0,
      smax: Double = 0, vmax: Double = 0, tc0: Double = 0) {
    // the T-independent Tait constants (`EOSs/tait.py:6-59`)
    private val theta = 10636.0 / (s / n + 6.44)
    private val u0 = theta / 298.15
    private val xi0 = u0 * u0 * math.exp(u0) / math.pow(math.exp(u0) - 1.0, 2.0)
    private val a = (1.0 + dKdP) / (1.0 + dKdP + K0 * dKdP2)
    private val b = dKdP / K0 - dKdP2 / (1.0 + dKdP)
    private val c = (1.0 + dKdP + K0 * dKdP2) / (dKdP * dKdP + dKdP - K0 * dKdP2)

    /** The thermal pressure P_th at `t`. */
    def pth(t: E): E = Lit(a0 * K0 * theta / xi0) *
      (Lit(1.0) / (exp(Lit(theta) / t) - Lit(1.0)) - Lit(1.0 / (math.exp(u0) - 1.0)))

    /** sign(x) |x|^e, with `Math.signum`'s zero and NaN. */
    private def signedPow(x: E): E =
      If(x > Lit(0.0), Lit(1.0), If(x < Lit(0.0), Lit(-1.0), x)) * pow(abs(x), Lit(1.0 - c))

    /** The pressure-free part of the Tait VdP, given P_th. */
    def part1(pth: E): E = signedPow(Lit(1.0) - Lit(b) * pth)

    /** Tait VdP (kJ) at `pk` kbar (Holland & Powell 2011 eqs. 3/11/13),
      * given P_th and [[part1]]. */
    def vdp(pk: E, pth: E, part1: E): E =
      pk * Lit(v0) * (Lit(1.0 - a) + Lit(a) * (part1 - signedPow(Lit(1.0) + Lit(b) * (pk - pth))) /
        (Lit(b * (c - 1.0)) * pk))

    /** [[vdp]] with its temperature terms computed in place. */
    def vdpAt(pk: E, t: E): E = { val p = pth(t); vdp(pk, p, part1(p)) }

    /** Enthalpy and entropy integrals of Cp from 298.15 K to `t`
      * (`EOSs/tools.py:215-271`) in the pressure-free Gibbs energy. */
    def g0(t: E): E = {
      def ih(x: E): E = Lit(cpA) * x + Lit(0.5 * cpB) * x * x - Lit(cpC) / x + Lit(2.0 * cpD) * sqrt(x)
      def is(x: E): E = Lit(cpA) * ln(x) + Lit(cpB) * x - Lit(cpC / 2.0) / (x * x) -
        Lit(2.0 * cpD) / sqrt(x)
      val ref = Lit(298.15)
      Lit(h) + (ih(t) - ih(ref)) - t * (Lit(s / 1e3) + (is(t) - is(ref)))
    }

    /** Landau excess Gibbs energy, Anenberg formulation
      * (`EOSs/tools.py:7-66`), at `pk` kbar with volume term `vm`. */
    def landau(pk: E, t: E, vm: Double = vmax): E = {
      val q20 = math.sqrt(1.0 - 298.15 / tc0)
      val tc = Lit(tc0) + pk * Lit(vm) / Lit(smax)
      val q2 = If(t > tc, Lit(0.0), sqrt((tc - t) / Lit(tc0)))
      Lit(smax) * (Lit(tc0) * (Lit(q20) + (q2 * q2 * q2 - Lit(q20 * q20 * q20)) / Lit(3.0)) -
        tc * q2 - t * (Lit(q20) - q2)) + pk * Lit(vm) * Lit(q20)
    }
  }

  private val quartz = Phase(h = -910.710, s = 41.43, v0 = 2.269, n = 3,
    a0 = 0, K0 = 730, dKdP = 6, dKdP2 = -8.2e-3,
    cpA = 9.29e-2, cpB = -6.42e-7, cpC = -714.9, cpD = -0.7161,
    smax = 4.95 / 1e3, vmax = 1.188e-1, tc0 = 847)
  private val coesite = Phase(h = -906.990, s = 39.60, v0 = 2.064, n = 3,
    a0 = 1.23e-5, K0 = 979, dKdP = 4.19, dKdP2 = -4.3e-3,
    cpA = 1.078e-1, cpB = -3.279e-6, cpC = -190.3, cpD = -1.0416)
  private val stishovite = Phase(h = -876.720, s = 24.0, v0 = 1.401, n = 3,
    a0 = 1.58e-5, K0 = 3090, dKdP = 4.6, dKdP2 = -1.50e-3,
    cpA = 6.81e-2, cpB = 6.010e-6, cpC = -1978.2, cpD = -8.21e-2)
  private val fayalite = Phase(h = -1477.510, s = 151.0, v0 = 4.631, n = 7,
    a0 = 2.82e-5, K0 = 1256, dKdP = 4.68, dKdP2 = -3.7e-3,
    cpA = 2.011e-1, cpB = 1.733e-5, cpC = -1960.6, cpD = -9.009e-1)
  private val ringwoodite = Phase(h = -1477.510, s = 140.0, v0 = 4.203, n = 7,
    a0 = 2.22e-5, K0 = 1977, dKdP = 4.92, dKdP2 = -2.5e-3,
    cpA = 1.668e-1, cpB = 4.2610e-5, cpC = -1705.4, cpD = -5.414e-1)
  private val magnetite = Phase(h = -1114.510, s = 146.9, v0 = 4.452, n = 7,
    a0 = 3.71e-5, K0 = 1857, dKdP = 4.05, dKdP2 = -2.2e-3,
    smax = 35.0, vmax = 0.0, tc0 = 848)

  /** The pressure (kbar) where `p2` takes over from `p1` at `t`: 60
    * halvings of [1e-3, 500] kbar on their Gibbs difference, which is
    * monotone in P (the downstream polymorph is denser), so the root is
    * unique (the reference runs fsolve from 8 kbar, `fO2/QFM.py:45-63`).
    * Memoised: it reads T alone. */
  private def transition(p1: Phase, p2: Phase, t: E): Loop = {
    def gibbs(ph: Phase, tag: String, pk: E): E = {
      val g = C(s"_g0$tag") + ph.vdp(pk, C(s"_pth$tag"), C(s"_p1$tag"))
      if (ph == quartz) g + ph.landau(pk, t) else g
    }
    def lets(ph: Phase, tag: String): Seq[(String, E)] = Seq(s"_pth$tag" -> ph.pth(t),
      s"_p1$tag" -> ph.part1(C(s"_pth$tag")), s"_g0$tag" -> ph.g0(t))
    // g > 0 moves lo up: the difference is negative below the root
    bisect(lets(p1, "a") ++ lets(p2, "b"), 1e-3, 500.0,
      pk => Lit(0.0) - (gibbs(p1, "a", pk) - gibbs(p2, "b", pk)), Lit(0.0) < Lit(1.0)).memoised
  }

  private val (tIn, pIn) = (C("T_K"), C("P_bar"))
  private val names = Seq("_qfmQC", "_qfmCS", "_qfmFR")

  /** The three transition pressures (kbar) at `t`: quartz->coesite,
    * coesite->stishovite, fayalite->ringwoodite. */
  private def transitions(t: E): Seq[(String, Loop)] = names.zip(Seq(transition(quartz, coesite, t),
    transition(coesite, stishovite, t), transition(fayalite, ringwoodite, t)))

  /** Base fO2 (bar) at `t` K and `p` bar over the [[transitions]] columns
    * (`fO2/QFM.py:12-102`): the buffer phases' VdP with polymorph
    * transitions on top of O'Neill's 1-bar mu, less the 1-bar EOS terms. */
  private def buffer(t: E, p: E): Loop = {
    val Seq(qc, cs, fr) = names.map(C(_))
    // Math.min(pk, x) for a transition x, which is never NaN or zero
    def min(pk: E, x: E): E = If(x < pk, x, pk)
    val pk = C("_pk")
    def tait(ph: Phase, tag: String, at: E): E = ph.vdp(at, C(s"_pth$tag"), C(s"_p1$tag"))
    def landauP(at: E): E = quartz.landau(at, t) - C("_ld0")
    val mu1 = Lit(1.0 / 1e3)
    closed(Seq("q" -> quartz, "f" -> fayalite, "m" -> magnetite).flatMap { case (tag, ph) =>
        Seq(s"_pth$tag" -> ph.pth(t), s"_p1$tag" -> ph.part1(C(s"_pth$tag"))) } ++ Seq(
        "_ld0" -> quartz.landau(Lit(0.0), t, vm = 0.0),
        "_mu0" -> (Lit(-587474.0) + Lit(1584.427) * t - Lit(203.3164) * t * ln(t) +
          Lit(0.092710) * t * t),
        "_mu1" -> Lit(1e3) * (Lit(3.0) * (tait(quartz, "q", mu1) + landauP(mu1)) +
          Lit(2.0) * tait(magnetite, "m", mu1) - Lit(3.0) * tait(fayalite, "f", mu1)),
        "_pk" -> p / Lit(1e3),
        "_s0" -> (tait(quartz, "q", min(pk, qc)) + landauP(min(pk, qc))),
        "_s1" -> If(pk > qc,
          C("_s0") + (coesite.vdpAt(min(pk, cs), t) - coesite.vdpAt(qc, t)), C("_s0")),
        "_sio2" -> If(pk > qc && pk > cs,
          C("_s1") + (stishovite.vdpAt(pk, t) - stishovite.vdpAt(cs, t)), C("_s1")),
        "_f0" -> tait(fayalite, "f", min(pk, fr)),
        "_fe2sio4" -> If(pk > fr,
          C("_f0") + (ringwoodite.vdpAt(pk, t) - ringwoodite.vdpAt(fr, t)), C("_f0")),
        "_mup" -> Lit(1e3) * (Lit(3.0) * C("_sio2") + Lit(2.0) * tait(magnetite, "m", pk) -
          Lit(3.0) * C("_fe2sio4"))),
      exp((C("_mu0") + (C("_mup") - C("_mu1"))) / (Lit(R) * t)))
  }

  /** fO2 (bar) at QFM over the columns T_K and P_bar as solver stages:
    * the transitions, then `_qfm`. */
  def fO2Stages: Seq[Seq[(String, E)]] = Seq(transitions(tIn), Seq("_qfm" -> buffer(tIn, pIn)))

  /** `value` after the [[transitions]] at T_K, P_bar; `tree` names it. */
  private def scalar(tree: String, tK: Double, pBar: Double)(value: => E): Double =
    LoopExpression.scalar(s"QfmFull.$tree", Seq("T_K", "P_bar"))(
      (Seq(transitions(tIn)), value))(Array(tK, pBar))

  /** Phase-transition pressures (kbar) at T: quartz→coesite,
    * coesite→stishovite, fayalite→ringwoodite. */
  def transitionPressures(tK: Double): (Double, Double, Double) = {
    val Seq(a, b, c) = names.map(n => scalar(n, tK, 0.0)(C(n)))
    (a, b, c)
  }

  /** The loop memo counts QFM's transition solves: its stats are attached
    * once, by [[Deng2020.attachMetrics]] or
    * [[LoopExpression.attachMetrics]]. */
  def attachMetrics(spark: org.apache.spark.sql.SparkSession): Seq[MemoStats] = Nil

  /** Absolute fO2 (bar) at QFM + logshift, T (K), P (bar)
    * (`fO2/QFM.py:187-239`). */
  def fO2(tK: Double, pBar: Double, logshift: Double = 0.0): Double =
    scalar("fO2", tK, pBar)(buffer(tIn, pIn)) * math.pow(10.0, logshift)

  /** fO2 of the columns `t` and `p` at QFM + logshift: the buffer loop
    * over the three transition loops. */
  def column(t: Column, p: Column, logshift: Double = 0.0): Column = {
    val in = Map("T_K" -> t, "P_bar" -> p)
    LoopExpression.column(buffer(tIn, pIn),
      in ++ transitions(tIn).map { case (n, l) => n -> LoopExpression.column(l, in) }) *
      lit(math.pow(10.0, logshift))
  }

  /** Attach an `fO2` column: the [[column]] per row. Its transition
    * solves are memoised per T in the loop memo; the buffer over them is
    * closed form per row. */
  def withQfm(df: DataFrame, tCol: String, pCol: String,
              logshift: Double = 0.0, as: String = "fO2"): DataFrame =
    df.withColumn(as, column(col(tCol), col(pCol), logshift))
}
