package graft.functions

/** Mineral equations of state for the QFM buffer's pressure term
  * (reference `EOSs/tait.py`, `EOSs/tools.py`, `EOSs/parameters.py` —
  * data from Holland & Powell 2011). Scalar math executed inside UDFs.
  * Temperature-only terms live in per-(phase, T) objects ([[Tait]],
  * [[PhaseAtT]]) so a solver that fixes T computes them once. */
object Eos {

  final case class Phase(
      h: Double, s: Double, v0: Double, n: Double, a0: Double, K0: Double,
      dKdP: Double, dKdP2: Double,
      cpA: Double = 0, cpB: Double = 0, cpC: Double = 0, cpD: Double = 0,
      smax: Double = 0, vmax: Double = 0, tc0: Double = 0)

  val phases: Map[String, Phase] = Map(
    "fayalite" -> Phase(h = -1477.510, s = 151.0, v0 = 4.631, n = 7,
      a0 = 2.82e-5, K0 = 1256, dKdP = 4.68, dKdP2 = -3.7e-3,
      cpA = 2.011e-1, cpB = 1.733e-5, cpC = -1960.6, cpD = -9.009e-1),
    "ringwoodite" -> Phase(h = -1477.510, s = 140.0, v0 = 4.203, n = 7,
      a0 = 2.22e-5, K0 = 1977, dKdP = 4.92, dKdP2 = -2.5e-3,
      cpA = 1.668e-1, cpB = 4.2610e-5, cpC = -1705.4, cpD = -5.414e-1),
    "quartz" -> Phase(h = -910.710, s = 41.43, v0 = 2.269, n = 3,
      a0 = 0, K0 = 730, dKdP = 6, dKdP2 = -8.2e-3,
      cpA = 9.29e-2, cpB = -6.42e-7, cpC = -714.9, cpD = -0.7161,
      smax = 4.95 / 1e3, vmax = 1.188e-1, tc0 = 847),
    "coesite" -> Phase(h = -906.990, s = 39.60, v0 = 2.064, n = 3,
      a0 = 1.23e-5, K0 = 979, dKdP = 4.19, dKdP2 = -4.3e-3,
      cpA = 1.078e-1, cpB = -3.279e-6, cpC = -190.3, cpD = -1.0416),
    "stishovite" -> Phase(h = -876.720, s = 24.0, v0 = 1.401, n = 3,
      a0 = 1.58e-5, K0 = 3090, dKdP = 4.6, dKdP2 = -1.50e-3,
      cpA = 6.81e-2, cpB = 6.010e-6, cpC = -1978.2, cpD = -8.21e-2),
    "magnetite" -> Phase(h = -1114.510, s = 146.9, v0 = 4.452, n = 7,
      a0 = 3.71e-5, K0 = 1857, dKdP = 4.05, dKdP2 = -2.2e-3,
      smax = 35.0, vmax = 0.0, tc0 = 848))

  private def signedPow(x: Double, e: Double): Double =
    math.signum(x) * math.pow(math.abs(x), e)

  /** Tait EOS pressure contribution to Gibbs energy (kJ) of one phase at
    * one temperature, Holland & Powell (2011) eqs. 3/11/13
    * (`EOSs/tait.py:6-59`). Every term that does not depend on pressure
    * (θ, ξ0, the thermal pressure P_th and `part1`) is computed once here;
    * [[vdp]] is the per-pressure rest. The one implementation of the Tait
    * arithmetic: [[taitVdP]], [[PhaseAtT]] and the QFM per-T plan all
    * evaluate through it. */
  final class Tait(p: Phase, tK: Double, tref: Double = 298.15) {
    private val theta = 10636.0 / (p.s / p.n + 6.44)
    private val u0 = theta / tref
    private val u = theta / tK
    private val xi0 = u0 * u0 * math.exp(u0) / math.pow(math.exp(u0) - 1.0, 2.0)
    private val a = (1.0 + p.dKdP) / (1.0 + p.dKdP + p.K0 * p.dKdP2)
    private val b = p.dKdP / p.K0 - p.dKdP2 / (1.0 + p.dKdP)
    private val c = (1.0 + p.dKdP + p.K0 * p.dKdP2) /
      (p.dKdP * p.dKdP + p.dKdP - p.K0 * p.dKdP2)
    private val pth = p.a0 * p.K0 * theta / xi0 *
      (1.0 / (math.exp(u) - 1.0) - 1.0 / (math.exp(u0) - 1.0))
    private val part1 = signedPow(1.0 - b * pth, 1.0 - c)

    def vdp(pkbar: Double): Double = {
      val pv0 = pkbar * p.v0
      val part2 = signedPow(1.0 + b * (pkbar - pth), 1.0 - c)
      val part3 = b * (c - 1.0) * pkbar
      pv0 * (1.0 - a + a * (part1 - part2) / part3)
    }
  }

  /** [[Tait]] of a phase by name, at one (P, T). */
  def taitVdP(phase: String, pkbar: Double, tK: Double,
              tref: Double = 298.15): Double =
    new Tait(phases(phase), tK, tref).vdp(pkbar)

  /** Landau excess Gibbs energy, Anenberg formulation
    * (`EOSs/tools.py:7-66`). */
  def landau(p: Phase, pkbar: Double, tK: Double, vmax: Double): Double = {
    val q20 = math.sqrt(1.0 - 298.15 / p.tc0)
    val tc = p.tc0 + pkbar * vmax / p.smax
    val q2 = if (tK > tc) 0.0 else math.sqrt((tc - tK) / p.tc0)
    p.smax * (p.tc0 * (q20 + (q2 * q2 * q2 - q20 * q20 * q20) / 3.0) -
      tc * q2 - tK * (q20 - q2)) + pkbar * vmax * q20
  }

  /** Enthalpy integral Cp dT from Tref to T (`EOSs/tools.py:215-242`). */
  def enthalpy(p: Phase, tK: Double, tref: Double = 298.15): Double = {
    def integral(t: Double): Double =
      p.cpA * t + 0.5 * p.cpB * t * t - p.cpC / t + 2.0 * p.cpD * math.sqrt(t)
    integral(tK) - integral(tref)
  }

  /** Entropy integral (Cp/T) dT (`EOSs/tools.py:244-271`). */
  def entropy(p: Phase, tK: Double, tref: Double = 298.15): Double = {
    def integral(t: Double): Double =
      p.cpA * math.log(t) + p.cpB * t - p.cpC / 2.0 / (t * t) -
        2.0 * p.cpD / math.sqrt(t)
    integral(tK) - integral(tref)
  }

  /** One phase at one temperature: its Tait terms, its pressure-free Gibbs
    * energy and, for quartz and magnetite, the Landau excess. */
  final class PhaseAtT(name: String, tK: Double) {
    private val p = phases(name)
    val tait = new Tait(p, tK)
    private val hasLandau = name == "quartz" || name == "magnetite"
    private val g0 =
      p.h + enthalpy(p, tK) - tK * (p.s / 1e3 + entropy(p, tK))
    /** landau(p, 0, T, vmax = 0): the pressure-free Landau part. */
    private val landau0 = landau(p, 0.0, tK, 0.0)

    /** Pressure-dependent part of the Landau excess energy
      * (`EOSs/tools.py:69-100`). */
    def landauPDependent(pkbar: Double): Double =
      landau(p, pkbar, tK, p.vmax) - landau0

    /** Gibbs free energy at (P, T) (`EOSs/tools.py:167-209`). */
    def gibbs(pkbar: Double): Double = {
      var g = g0
      g += tait.vdp(pkbar)
      if (hasLandau) g += landau(p, pkbar, tK, p.vmax)
      g
    }
  }

  /** Gibbs free energy of transition phase1 -> phase2 at (P,T)
    * (`EOSs/tools.py:167-209`). */
  def phaseTransition(pkbar: Double, tK: Double,
                      phase1: String, phase2: String): Double =
    new PhaseAtT(phase1, tK).gibbs(pkbar) - new PhaseAtT(phase2, tK).gibbs(pkbar)
}
