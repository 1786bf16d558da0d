package graft.models

import graft.expr._
import graft.expr.E._

/** Oxygen-fugacity buffer models, closed-form subset (reference `fO2/`).
  * Each takes T_K / P_bar expressions and a log-unit shift and returns
  * absolute fO2 (bar) as a single expression. The EOS-based pressure terms of
  * QFM/IW (Tait/Vinet integrals + phase-transition root finds) live in
  * [[graft.functions.QfmFull]] and [[graft.functions.IwFull]].
  */
object Fo2Buffers {

  /** CODATA gas constant (scipy.constants.R, used throughout the reference). */
  val R = 8.31446261815324

  /** QFM at 1 bar, O'Neill (1987) (`fO2/QFM.py:133-184`):
    * muO2 = -587474 + 1584.427 T - 203.3164 T lnT + 0.092710 T^2. */
  def qfm1bar(tK: E, logshift: Double = 0.0): E = {
    val mu = Lit(-587474.0) + Lit(1584.427) * tK -
      Lit(203.3164) * tK * ln(tK) + Lit(0.092710) * tK * tK
    exp(mu / (Lit(R) * tK)) * Lit(math.pow(10, logshift))
  }

  /** log10(fO2) at QFM 1 bar — convenient for delta-QFM expressions. */
  def log10Qfm1bar(tK: E): E = {
    val mu = Lit(-587474.0) + Lit(1584.427) * tK -
      Lit(203.3164) * tK * ln(tK) + Lit(0.092710) * tK * tK
    mu / (Lit(R) * tK) / Lit(math.log(10.0))
  }

  /** NNO, Campbell et al. (2009) high-pressure fit (`fO2/NNO.py:9-29`). */
  def nno(tK: E, pBar: E, logshift: Double = 0.0): E = {
    val p = pBar / Lit(1e4)
    val part1 = Lit(8.699) + Lit(1.642e-2) * p - Lit(3e-4) * p * p +
      Lit(2.7e-6) * p * p * p - Lit(1e-8) * p * p * p * p
    val part2 = (Lit(-24205.0) + Lit(444.73) * p - Lit(5.929e-1) * p * p +
      Lit(1.53e-3) * p * p * p) / tK
    pow(Lit(10.0), part1 + part2) * Lit(math.pow(10, logshift))
  }

  /** NNO at 1 bar, O'Neill & Pownceby (1993) eq. 6 (`fO2/NNO.py:32-53`). */
  def nno1bar(tK: E, logshift: Double = 0.0): E = {
    val mu = Lit(-478967.0) + Lit(248.514) * tK - Lit(9.7961) * ln(tK)
    exp(mu / (Lit(R) * tK)) * Lit(math.pow(10, logshift))
  }

  /** NNO, Frost (1991) (`fO2/NNO.py:56-68`). */
  def nnoFrost(tK: E, pBar: E, logshift: Double = 0.0): E = {
    val lg = Lit(-24930.0) / tK + Lit(9.36) +
      Lit(4.6e-2) * (pBar - Lit(1.0)) / tK
    pow(Lit(10.0), lg) * Lit(math.pow(10, logshift))
  }

  /** Ru-RuO2, Armstrong et al. (2019/2020) (`fO2/RuRuO2.py:1-23`). */
  def ruRuO2(tK: E, pBar: E, logshift: Double = 0.0): E = {
    val p = pBar / Lit(1e4)
    val lg = (Lit(7.782) - Lit(9.96e-3) * p + Lit(1.932e-3) * p * p -
      Lit(3.76e-5) * p * p * p) +
      (Lit(-13763.0) + Lit(592.0) * p - Lit(3.955) * p * p) / tK +
      (Lit(-1.05e6) - Lit(4622.0) * p) / (tK * tK)
    pow(Lit(10.0), lg) * Lit(math.pow(10, logshift))
  }

  /** IW, Campbell et al. (2009) (`fO2/IW.py:474-493`). */
  def iwCampbell(tK: E, pBar: E, logshift: Double = 0.0): E = {
    val p = pBar * Lit(1e5) / Lit(1e9)
    val part1 = Lit(6.54106) + Lit(1.23e-3) * p
    val part2 = (Lit(-28164.0) + Lit(546.32) * p - Lit(1.1341) * p * p +
      Lit(1.93e-3) * p * p * p) / tK
    pow(Lit(10.0), part1 + part2) * Lit(math.pow(10, logshift))
  }

  /** Fe-FeO(0.94), O'Neill (1988) + Huebner (1971) pressure term
    * (`fO2/IW.py:496-511`). */
  def feFeO94OneillHuebner(tK: E, pBar: E, logshift: Double = 0.0): E = {
    val p = pBar * Lit(1e5) / Lit(1e9)
    val lg = Lit(-28777.89) / tK + Lit(14.0572) -
      Lit(2.039) * log10(tK) + Lit(550.0) * (p - Lit(1e-4)) / tK
    pow(Lit(10.0), lg) * Lit(math.pow(10, logshift))
  }

  /** IW blend, Zhang et al. (2017) (`fO2/IW.py:514-552`): below 5 GPa an
    * interpolation between O'Neill-Huebner and Campbell, above pure
    * Campbell. A piecewise expression — no physical row split needed. */
  def iwZhang(tK: E, pBar: E, logshift: Double = 0.0): E = {
    val w = Lit(0.2) * pBar / Lit(1e4)
    val low = pow(Lit(10.0),
      log10(feFeO94OneillHuebner(tK, pBar, logshift)) * (Lit(1.0) - w) +
        w * log10(iwCampbell(tK, pBar, logshift)))
    If(pBar < Lit(5e4), low, iwCampbell(tK, pBar, logshift))
  }

  /** IW at 1 bar, O'Neill (1993), three temperature branches
    * (`fO2/IW.py:560-577`). */
  def iwOneill1993(tK: E, logshift: Double = 0.0): E = {
    val mu = If(tK < Lit(1042.0),
      Lit(-605568.0) + Lit(1366.42) * tK - Lit(182.7955) * ln(tK) * tK +
        Lit(0.10359) * tK * tK,
      If(tK <= Lit(1184.0),
        Lit(-519113.0) + Lit(59.129) * tK + Lit(8.9276) * ln(tK) * tK,
        Lit(-550915.0) + Lit(269.106) * tK - Lit(16.9484) * ln(tK) * tK))
    exp(mu / (Lit(R) * tK)) * Lit(math.pow(10, logshift))
  }

  /** Every buffer reachable through `Melt.withFO2` — the closed-form
    * expressions above plus the two full-EOS solvers ("qfm" / "iw"), which
    * dispatch at the DataFrame level ([[graft.functions.QfmFull.withQfm]] /
    * [[graft.functions.IwFull.withIw]]). Mirrors the reference's by-name
    * buffer resolution (`fO2/fO2_calculate.py:11-25`). */
  val allBuffers: Set[String] = Set("qfm", "iw", "qfm_1bar", "nno",
    "nno_1bar", "nno_frost", "ruruo2", "iw_campbell", "iw_zhang",
    "iw_oneill1993", "fefeo_oneill_huebner")

  /** Name → expression for the closed-form buffers (absolute fO2 in bar,
    * dfO2 shift applied). "qfm"/"iw" are NOT here — they dispatch at the
    * DataFrame level, as the columns of `QfmFull.withQfm`/`IwFull.withIw`. */
  def dispatch(name: String, tK: E, pBar: E, logshift: Double): E =
    name match {
      case "qfm_1bar" => qfm1bar(tK, logshift)
      case "nno" => nno(tK, pBar, logshift)
      case "nno_1bar" => nno1bar(tK, logshift)
      case "nno_frost" => nnoFrost(tK, pBar, logshift)
      case "ruruo2" => ruRuO2(tK, pBar, logshift)
      case "iw_campbell" => iwCampbell(tK, pBar, logshift)
      case "iw_zhang" => iwZhang(tK, pBar, logshift)
      case "iw_oneill1993" => iwOneill1993(tK, logshift)
      case "fefeo_oneill_huebner" => feFeO94OneillHuebner(tK, pBar, logshift)
      case other =>
        throw new IllegalArgumentException(s"unknown fO2 buffer $other")
    }
}
