package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** Numerical-layer tests: root finders, EOS, full QFM, saturation solves. */
class SolverSpec extends AnyFunSuite {

  test("brent finds roots of standard functions") {
    assert(math.abs(Solver.brent(x => x * x - 2.0, 0.0, 2.0) -
      math.sqrt(2.0)) < 1e-10)
    assert(math.abs(Solver.brent(math.cos, 1.0, 2.0) - math.Pi / 2) < 1e-10)
  }

  test("secant converges from nearby guesses") {
    assert(math.abs(Solver.secant(x => x * x * x - 8.0, 1.0, 2.5) - 2.0) < 1e-8)
  }

  test("QFM full equals the O'Neill 1-bar polynomial at P = 1 bar") {
    for (t <- Seq(1200.0, 1400.0, 1600.0)) {
      val full = QfmFull.fO2(t, 1.0)
      val mu = -587474.0 + 1584.427 * t - 203.3164 * t * math.log(t) +
        0.092710 * t * t
      val oneBar = math.exp(mu / (QfmFull.R * t))
      assert(math.abs(full / oneBar - 1.0) < 1e-9, s"T=$t")
    }
  }

  test("QFM pressure term raises fO2 and transitions are ordered") {
    val t = 1400.0
    val f1 = math.log10(QfmFull.fO2(t, 1.0))
    val f10k = math.log10(QfmFull.fO2(t, 1e4)) // 1 GPa
    val f50k = math.log10(QfmFull.fO2(t, 5e4)) // 5 GPa
    assert(f10k > f1 && f50k > f10k, s"$f1 $f10k $f50k")
    // ~0.5-0.7 log units per GPa is the published QFM slope
    assert(f10k - f1 > 0.3 && f10k - f1 < 1.2, s"slope ${f10k - f1}")
    val (qtzCoe, coeStish, fayRing) = QfmFull.transitionPressures(t)
    assert(qtzCoe > 20 && qtzCoe < 45, s"qtz-coe $qtzCoe kbar") // ~30 kbar
    assert(coeStish > qtzCoe, s"coe-stish $coeStish")
    assert(fayRing > 30 && fayRing < 100, s"fay-ring $fayRing")
  }

  val basalt = IaconoMarziano.Comp(
    Array("SiO2", "TiO2", "Al2O3", "FeO", "MnO", "MgO", "CaO", "Na2O", "K2O",
      "P2O5", "H2O", "CO2"),
    Array(48.5, 1.2, 15.3, 9.0, 0.17, 7.8, 11.0, 2.6, 0.7, 0.25, 2.0, 0.05))

  test("H2O solubility increases with pressure") {
    val t = 1473.15
    val sols = Seq(200.0, 1000.0, 3000.0).map(p =>
      IaconoMarziano.h2oSolubility(basalt, 1.0, p, t))
    assert(sols == sols.sorted && sols.head > 0, sols.toString)
    // basaltic melts hold a few wt.% H2O at kbar pressures
    assert(sols(1) > 1.0 && sols(1) < 10.0, sols.toString)
  }

  test("saturation pressure is the inverse of solubility (self-consistency)") {
    val t = 1473.15
    val pSat = IaconoMarziano.h2oSaturation(basalt, t)
    assert(pSat > 0 && pSat.isFinite, pSat.toString)
    val back = IaconoMarziano.h2oSolubility(basalt, 1.0, pSat, t)
    assert(math.abs(back - basalt("H2O")) < 1e-6, s"$back vs 2.0")
    val pSatC = IaconoMarziano.co2Saturation(basalt, t)
    val backC = IaconoMarziano.co2Solubility(basalt, 0.0, pSatC, t)
    assert(math.abs(backC - basalt("CO2")) < 1e-6, s"$backC vs 0.05")
  }

  test("mixed saturation reproduces both volatiles at (P_sat, x_fluid)") {
    val t = 1473.15
    val (p, xfl) = IaconoMarziano.mixedSaturation(basalt, t)
    assert(p.isFinite && p > 0 && xfl > 0 && xfl < 1, s"P=$p X=$xfl")
    // mixed-fluid saturation must sit above each pure-species pressure
    assert(p > IaconoMarziano.h2oSaturation(basalt, t), "P > P_h2o")
    assert(p > IaconoMarziano.co2Saturation(basalt, t), "P > P_co2")
    val h = IaconoMarziano.h2oSolubility(basalt, xfl, p, t)
    val co = IaconoMarziano.co2Solubility(basalt, xfl, p, t)
    assert(math.abs(h - basalt("H2O")) < 1e-5, s"H2O $h")
    assert(math.abs(co - basalt("CO2")) < 1e-5, s"CO2 $co")
  }

  test("iterative Fe3Fe2 models satisfy their fixed point and fO2 trend") {
    val mol = Map("SiO2" -> 0.52, "TiO2" -> 0.012, "Al2O3" -> 0.095,
      "FeO" -> 0.082, "MnO" -> 0.0015, "MgO" -> 0.13, "CaO" -> 0.125,
      "Na2O" -> 0.027, "K2O" -> 0.005, "P2O5" -> 0.0012, "H2O" -> 0.07,
      "CO2" -> 0.0008)
    val t = 1473.15; val p = 2000.0
    val fO2 = { // QFM
      val mu = -587474.0 + 1584.427 * t - 203.3164 * t * math.log(t) +
        0.092710 * t * t
      math.exp(mu / (8.31446261815324 * t))
    }
    for ((name, f) <- Seq(
      "oneill2006" -> (Fe3Fe2Iterative.oneill2006 _),
      "armstrong2019" -> (Fe3Fe2Iterative.armstrong2019 _),
      "deng2020" -> ((m: Map[String, Double], t: Double, p: Double,
        f: Double) => Deng2020.fe3Fe2(m, t, p, f)))) {
      val r = f(mol, t, p, fO2)
      assert(r > 0.02 && r < 1.0, s"$name: $r")
      val rOxidised = f(mol, t, p, fO2 * 100.0)
      assert(rOxidised > r, s"$name oxidised $rOxidised !> $r")
    }
  }

  test("full IW buffer sits ~3.5 log units below QFM and rises with P") {
    val t = 1400.0
    val iw = math.log10(IwFull.fO2(t, 1.0))
    val qfm = math.log10(QfmFull.fO2(t, 1.0))
    assert(qfm - iw > 2.5 && qfm - iw < 5.0, s"QFM-IW = ${qfm - iw}")
    // close to the O'Neill 1993 1-bar IW parameterisation
    val muOneill = -550915.0 + 269.106 * t - 16.9484 * math.log(t) * t
    val iwOneill = muOneill / (8.31446261815324 * t) / math.log(10.0)
    assert(math.abs(iw - iwOneill) < 0.5, s"iw=$iw oneill=$iwOneill")
    val iwHighP = math.log10(IwFull.fO2(t, 5e4))
    assert(iwHighP > iw, s"$iwHighP !> $iw")
  }

  test("Allison fugacity EOS behaves like an ideal gas at low P") {
    for (co2 <- Seq(true, false)) {
      val f = Allison.fugacity(1473.15, 1.0, co2)
      assert(math.abs(f / 1.0 - 1.0) < 0.05, s"co2=$co2 f=$f")
    }
    // fugacity coefficient near 1 at moderate P and high T
    val f2k = Allison.fugacity(1473.15, 2000.0, co2Species = false)
    assert(f2k > 1000.0 && f2k < 4000.0, f2k.toString)
  }

  test("Allison CO2 solubility: an unbracketed fugacity inversion is a " +
      "NaN row, not an exception") {
    // above 15 kbar the mixed-fluid fCO2 lies past Brent's bracket, and
    // the secant seeded at fCO2 (in bar) overflows the EOS
    val (t, p, x) = (1473.15, 1e5, 0.01)
    val fCO2 = Allison.fugacity(t, p, co2Species = true) * (1.0 - x)
    def fn(q: Double) = fCO2 - Allison.fugacity(t, q, co2Species = true)
    assert(!Solver.secant(fn, math.max(fCO2, 1.0),
      math.max(fCO2 * 0.9, 0.5)).isFinite)
    intercept[IllegalArgumentException](Solver.brent(fn, 1e-50, 1.5e4))
    assert(Allison.co2Solubility(basalt, t, p, x).isNaN)
  }

  test("Allison saturation inverts solubility") {
    val t = 1473.15
    val pSat = Allison.h2oSaturation(basalt, t)
    assert(pSat.isFinite && pSat > 0, pSat.toString)
    val back = Allison.h2oSolubility(t, pSat)
    assert(math.abs(back - basalt("H2O")) < 1e-6, s"$back")
    val pSatC = Allison.co2Saturation(basalt, t)
    val backC = Allison.co2Solubility(basalt, t, pSatC)
    // the reference's XCO3<->wt% conversions are not exact inverses
    // (saturation uses FW for the CO2 mole term, solubility uses 44.01)
    assert(math.abs(backC - basalt("CO2")) / basalt("CO2") < 1e-2, s"$backC")
    val (p, xfl) = Allison.mixedSaturation(basalt, t)
    assert(p.isFinite && p > pSat && p > pSatC && xfl > 0 && xfl < 1,
      s"P=$p X=$xfl")
  }

  test("B-spline evaluation matches Bezier identities on clamped knots") {
    import graft.models.ErrorModels
    // sun2024 HP spline is a single cubic Bezier span (4+4 clamped knots)
    val (t, c) = ErrorModels.fe3fe2SplineHP("sun2024")
    val a = t(3); val b = t(4)
    assert(math.abs(ErrorModels.splev(a, t, c) - c(0)) < 1e-12)
    assert(math.abs(ErrorModels.splev(b, t, c) - c(3)) < 1e-12)
    val mid = (a + b) / 2
    val bezierMid = (c(0) + 3 * c(1) + 3 * c(2) + c(3)) / 8.0
    assert(math.abs(ErrorModels.splev(mid, t, c) - bezierMid) < 1e-12)
    // error curve positive over the physical range
    for (x <- Seq(0.05, 0.2, 0.5, 1.0)) {
      assert(ErrorModels.fe3fe2Error("sun2024", x, 1.0) > 0)
      assert(ErrorModels.fe3fe2Error("sun2024", x, 5000.0) > 0)
    }
  }

  test("zero-volatile edge cases") {
    val dry = basalt.updated("H2O", 0.0)
    assert(IaconoMarziano.h2oSaturation(dry, 1473.15) == 0.0)
    val noC = basalt.updated("CO2", 0.0)
    val (p, xfl) = IaconoMarziano.mixedSaturation(noC, 1473.15)
    assert(xfl == 1.0 && math.abs(p -
      IaconoMarziano.h2oSaturation(noC, 1473.15)) < 1e-9)
  }
}
