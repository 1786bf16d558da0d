package graft

import graft.chem.Elements
import graft.functions.{Deng2020, Solver}

/** Frozen reference for the solver-kernel law ([[SolverKernelSpec]],
  * [[IwSpec]]): the Map-based cation arithmetic, the iterative Fe3Fe2
  * models and the QFM base fO2 exactly as they were before the per-schema
  * and per-T plans replaced them, and the IW buffer as it was before its
  * tree. Do not edit this to follow the engine; the law asserts
  * the engine reproduces these doubles bit for bit. Memoisation here is
  * plain and local (it only saves recomputing identical values). */
object SolverKernelFrozen {

  val R = 8.31446261815324

  /** `Comp.molNorm`: normalised mol fractions as a Map. */
  def molNorm(names: Array[String], wt: Array[Double]): Map[String, Double] = {
    val ws = names.map(n => Elements.chemicalWeight(n).get)
    var sum = 0.0
    val mol = new Array[Double](names.length)
    var i = 0
    while (i < names.length) { mol(i) = wt(i) / ws(i); sum += mol(i); i += 1 }
    names.zip(mol.map(_ / sum)).toMap
  }

  final case class CatBase(cat: Map[String, Double], feTot: Double) {
    def fe(r: Double): Double = feTot / (1.0 + r)
    def fe3(r: Double): Double = feTot - fe(r)
    def feMinusFe3(r: Double): Double = fe(r) - fe3(r)
    def apply(n: String): Double = cat.getOrElse(n, 0.0)
  }

  def catBase(mol: Map[String, Double]): CatBase = {
    val feo = mol.getOrElse("FeO", 0.0)
    val terms = (mol - "FeO" - "Fe2O3").toSeq.map { case (ox, x) =>
      Elements.cationName(ox) -> x * Elements.cationAmount(ox)
    }
    val tot = terms.iterator.map(_._2).sum + feo
    CatBase(
      terms.groupBy(_._1).map { case (c, vs) => c -> vs.iterator.map(_._2).sum / tot },
      feo / tot)
  }

  def plainCations(mol: Map[String, Double]): Map[String, Double] = {
    val terms = mol.toSeq.map { case (ox, x) =>
      Elements.cationName(ox) -> x * Elements.cationAmount(ox)
    }
    val tot = terms.iterator.map(_._2).sum
    terms.groupBy(_._1).map { case (c, vs) => c -> vs.iterator.map(_._2).sum / tot }
  }

  private def fixedPoint(f: Double => Double): Double = {
    def g(r: Double): Double = f(r) - r
    val lo0 = 1e-8
    val hi0 = 100.0
    if (!(g(lo0) > 0.0) || !(g(hi0) < 0.0)) return Double.NaN
    var lo = lo0
    var hi = hi0
    var it = 0
    while (it < 60) {
      val mid = (lo + hi) * 0.5
      if (g(mid) > 0.0) lo = mid else hi = mid
      it += 1
    }
    (lo + hi) * 0.5
  }

  def oneill2006(mol: Map[String, Double], tK: Double, pBar: Double,
                 fO2: Double): Double = {
    val b = catBase(mol)
    val pGPa = pBar / 1e4
    val catPoly = -28144.0 + 3905.0 * b("Mg") - 13359.0 * b("Ca") -
      14858.0 * b("Na") - 9805.0 * b("K") + 10906.0 * b("Al") +
      110971.0 * b("P")
    val part2 = 13.95 +
      (33122.0 / tK - 5.24) * (math.pow(1.0 + 0.241 * pGPa, 0.75) - 1.0) -
      (39156.0 / tK - 6.17) * (math.pow(1.0 + 0.132 * pGPa, 0.75) - 1.0)
    val log10fO2 = math.log10(fO2)
    fixedPoint { r =>
      val part1 = (catPoly - 11952.0 * b.feMinusFe3(r)) / tK
      math.pow(10.0, (log10fO2 - part1 - part2) / 4.0)
    }
  }

  def armstrong2019(mol: Map[String, Double], tK: Double, pBar: Double,
                    fO2: Double): Double = {
    val b = catBase(mol)
    val gibbs0 = -(16201.0 / tK - 8.031) * (R * tK)
    def vdp(phase: String): Double = {
      val (k0, kp0) = phase match {
        case "Fe2" => (37.0, 8.0)
        case "Fe3" => (12.6, 1.3)
      }
      val kpp0 = -kp0 / k0
      val v0 = phase match {
        case "Fe2" => 13650.0 + 2.92 * (tK - 1673.0)
        case "Fe3" => 21070.0 + 4.54 * (tK - 1673.0)
      }
      val pGPa = pBar / 1e4
      val a = (1.0 + kp0) / (1.0 + kp0 + k0 * kpp0)
      val bb = kp0 / k0 - kpp0 / (1.0 + kp0)
      val cc = (1.0 + kp0 + k0 * kpp0) / (kp0 * kp0 + kp0 - k0 * kpp0)
      val part1 = a * (1.0 - math.pow(1.0 + bb * pGPa, 1.0 - cc))
      val part2 = bb * (cc - 1.0) * pGPa
      pGPa * v0 * (1.0 - a + part1 / part2)
    }
    val dVdP = vdp("Fe3") - vdp("Fe2")
    val sumMargules = -2248.0 * b("Mg") + 7690.0 * b("Ca") + 8553.0 * b("Na") +
      5644.0 * b("K") + -6278.0 * b("Al")
    val lnfO2Quarter = math.log(fO2) / 4.0
    val gTerm = (gibbs0 + dVdP) / (R * tK)
    fixedPoint { r =>
      val lnAFe3AFe2 = sumMargules / tK + 6880.0 * (b.feMinusFe3(r) / tK)
      math.exp(lnfO2Quarter - gTerm + lnAFe3AFe2)
    }
  }

  def sun2024DengVdP(mol: Map[String, Double], tK: Double, pBar: Double,
                     fO2: Double): Double = {
    val a0 = 2.1479; val a1 = -230.2593; val a2 = -1.8557e-4; val a3 = 34.3293
    val a4 = 1.4138; val a5 = -17.3040; val a6 = -10.1820; val a7 = -6.7463
    val a8 = -7.3886; val a9 = -14.5430; val a10 = -9.9776; val a11 = -16.1506
    val a12 = -37.5572; val h = 2.1410
    val cats = plainCations(mol)
    def cat(n: String): Double = cats.getOrElse(n, 0.0)
    val gamma = dVdP(tK, pBar) / (R * tK)
    val omega = a1 + a2 * math.pow(tK, 1.5) + a3 * math.log(tK)
    val fe = cat("Fe")
    val phi = a4 * math.log(fe) + a5 * math.sqrt(fe) +
      a6 * math.pow(cat("Si"), 3.0) + a7 * cat("Al") + a8 * cat("Ti") +
      a9 * cat("Ca") + a10 * cat("Mg") +
      (a11 + a12 * fe) * (cat("Na") + cat("K"))
    math.pow(10.0,
      (math.log10(fO2) - omega - phi - h * gamma) / (4.0 + a0 * math.sqrt(fe)))
  }

  def hirschmann2022DengVdP(mol: Map[String, Double], tK: Double,
                            pBar: Double, fO2: Double): Double = {
    val (a, b, c, dCp, t0) = (0.1917, -1.961, 4158.1, 33.25, 1673.15)
    val cats = plainCations(mol)
    def cat(n: String): Double = cats.getOrElse(n, 0.0)
    val compositional =
      Seq("Si" -> -520.46, "Ti" -> -185.37, "Mg" -> 494.39, "Ca" -> 1838.34,
        "Na" -> 2888.48, "K" -> 3473.68, "P" -> -4473.6)
        .map { case (n, y) => cat(n) * y }.sum +
        -1245.09 * cat("Si") * cat("Al") + -1156.86 * cat("Si") * cat("Mg")
    val dVdP = this.dVdP(tK, pBar)
    val part1 = a * math.log10(fO2) + b + c / tK
    val part2 = -dCp / (R * math.log(10.0)) *
      (1.0 - t0 / tK - math.log(tK / t0))
    val part3 = -dVdP / (R * math.log(10.0) * tK)
    val part4 = compositional / tK
    math.pow(10.0, part1 + part2 + part3 + part4)
  }

  private val dVdPMemo =
    new java.util.concurrent.ConcurrentHashMap[(Double, Double, String), java.lang.Double]()

  /** Deng's dVdP with the tuple key and Iterator walks; the EOS volume
    * solve itself ([[Deng2020.volume]]) is shared, not frozen. */
  def dVdP(tK: Double, pBar: Double, meltFe: String = "12.5molpc"): Double = {
    val step = 5e2
    val nGrid = Iterator.iterate(1.0)(_ + step)
      .takeWhile(_ < pBar + step).size
    dVdPMemo.computeIfAbsent((tK, nGrid.toDouble, meltFe), { _ =>
      val grid = Iterator.iterate(1.0)(_ + step).take(nGrid).toArray
      val dv = grid.map(p => (Deng2020.volume(tK, p, fe3 = true, meltFe) -
        Deng2020.volume(tK, p, fe3 = false, meltFe)) * 1e-6)
      var integral = 0.0
      var i = 1
      while (i < grid.length) {
        integral += 0.5 * (dv(i) + dv(i - 1)) * (grid(i) - grid(i - 1)) * 1e5
        i += 1
      }
      java.lang.Double.valueOf(integral)
    }).doubleValue
  }

  private val margules = Map("Mg" -> 68629.0, "Si" -> 4601.0, "Al" -> 40923.0,
    "Ca" -> -58109.0, "Na" -> 0.0, "K" -> -59584.0, "P" -> 0.0, "Ti" -> 0.0)
  private val feMargules = -14210.0

  def deng2020(mol: Map[String, Double], tK: Double, pBar: Double,
               fO2: Double, meltFe: String = "12.5molpc"): Double = {
    val g0 = Deng2020.gibbs0(tK)
    val vdp = dVdP(tK, pBar, meltFe)
    val b = catBase(mol)
    val sumMargules = margules.map { case (n, m) => b(n) * m }.sum
    val gTerm = -(g0 + vdp) / (R * tK)
    val lnfO2Quarter = math.log(fO2) / 4.0
    def g(r: Double): Double = {
      val lnA = (sumMargules + b.feMinusFe3(r) * feMargules) / (R * tK)
      math.exp(gTerm - lnA + lnfO2Quarter) - r
    }
    val s = Solver.secant(g, 0.3, 0.31, tol = 1e-10)
    if (s.isFinite && s > 0.0 && math.abs(g(s)) < 1e-8) s
    else {
      if (!(g(1e-8) > 0.0) || !(g(100.0) < 0.0)) Double.NaN
      else {
        var lo = 1e-8
        var hi = 100.0
        var it = 0
        while (it < 60) {
          val mid = (lo + hi) * 0.5
          if (g(mid) > 0.0) lo = mid else hi = mid
          it += 1
        }
        (lo + hi) * 0.5
      }
    }
  }

  // ---- QFM with EOS pressure terms (string-keyed Eos, per row) ----

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

  def taitVdP(phase: String, pkbar: Double, tK: Double,
              tref: Double = 298.15): Double = {
    val p = phases(phase)
    val theta = 10636.0 / (p.s / p.n + 6.44)
    val u0 = theta / tref
    val u = theta / tK
    val xi0 = u0 * u0 * math.exp(u0) / math.pow(math.exp(u0) - 1.0, 2.0)
    val a = (1.0 + p.dKdP) / (1.0 + p.dKdP + p.K0 * p.dKdP2)
    val b = p.dKdP / p.K0 - p.dKdP2 / (1.0 + p.dKdP)
    val c = (1.0 + p.dKdP + p.K0 * p.dKdP2) /
      (p.dKdP * p.dKdP + p.dKdP - p.K0 * p.dKdP2)
    val pth = p.a0 * p.K0 * theta / xi0 *
      (1.0 / (math.exp(u) - 1.0) - 1.0 / (math.exp(u0) - 1.0))
    val pv0 = pkbar * p.v0
    def signedPow(x: Double, e: Double): Double =
      math.signum(x) * math.pow(math.abs(x), e)
    val part1 = signedPow(1.0 - b * pth, 1.0 - c)
    val part2 = signedPow(1.0 + b * (pkbar - pth), 1.0 - c)
    val part3 = b * (c - 1.0) * pkbar
    pv0 * (1.0 - a + a * (part1 - part2) / part3)
  }

  def landau(phase: String, pkbar: Double, tK: Double,
             vmaxOverride: Option[Double] = None): Double = {
    val p = phases(phase)
    val vmax = vmaxOverride.getOrElse(p.vmax)
    val q20 = math.sqrt(1.0 - 298.15 / p.tc0)
    val tc = p.tc0 + pkbar * vmax / p.smax
    val q2 = if (tK > tc) 0.0 else math.sqrt((tc - tK) / p.tc0)
    p.smax * (p.tc0 * (q20 + (q2 * q2 * q2 - q20 * q20 * q20) / 3.0) -
      tc * q2 - tK * (q20 - q2)) + pkbar * vmax * q20
  }

  def landauPDependent(phase: String, pkbar: Double, tK: Double): Double =
    landau(phase, pkbar, tK) - landau(phase, 0.0, tK, vmaxOverride = Some(0.0))

  def enthalpy(phase: String, tK: Double, tref: Double = 298.15): Double = {
    val p = phases(phase)
    def integral(t: Double): Double =
      p.cpA * t + 0.5 * p.cpB * t * t - p.cpC / t + 2.0 * p.cpD * math.sqrt(t)
    integral(tK) - integral(tref)
  }

  def entropy(phase: String, tK: Double, tref: Double = 298.15): Double = {
    val p = phases(phase)
    def integral(t: Double): Double =
      p.cpA * math.log(t) + p.cpB * t - p.cpC / 2.0 / (t * t) -
        2.0 * p.cpD / math.sqrt(t)
    integral(tK) - integral(tref)
  }

  def phaseTransition(pkbar: Double, tK: Double,
                      phase1: String, phase2: String): Double = {
    def gibbs(phase: String): Double = {
      val p = phases(phase)
      var g = p.h + enthalpy(phase, tK) - tK * (p.s / 1e3 + entropy(phase, tK))
      g += taitVdP(phase, pkbar, tK)
      if (phase == "quartz" || phase == "magnetite") g += landau(phase, pkbar, tK)
      g
    }
    gibbs(phase1) - gibbs(phase2)
  }

  private def muO2OneBar(tK: Double): Double =
    -587474.0 + 1584.427 * tK - 203.3164 * tK * math.log(tK) +
      0.092710 * tK * tK

  private def vdpNoTransitions(tK: Double, pBar: Double): (Double, Double, Double) = {
    val pkbar = pBar / 1e3
    val qtz = taitVdP("quartz", pkbar, tK) + landauPDependent("quartz", pkbar, tK)
    val fay = taitVdP("fayalite", pkbar, tK)
    val mt = taitVdP("magnetite", pkbar, tK)
    (qtz, mt, fay)
  }

  private val transitionMemo =
    new java.util.concurrent.ConcurrentHashMap[Double, (Double, Double, Double)]()

  def transitionPressures(tK: Double): (Double, Double, Double) =
    transitionMemo.computeIfAbsent(tK, { _ =>
      def solve(p1: String, p2: String): Double = {
        var lo = 1e-3
        var hi = 500.0
        var it = 0
        while (it < 60) {
          val mid = (lo + hi) * 0.5
          if (phaseTransition(mid, tK, p1, p2) < 0.0) lo = mid else hi = mid
          it += 1
        }
        (lo + hi) * 0.5
      }
      (solve("quartz", "coesite"), solve("coesite", "stishovite"),
        solve("fayalite", "ringwoodite"))
    })

  def vdpWithTransitions(tK: Double, pBar: Double): (Double, Double, Double) = {
    val pkbar = pBar / 1e3
    val (pQtzCoe, pCoeStish, pFayRing) = transitionPressures(tK)
    var vdpSiO2 = taitVdP("quartz", math.min(pkbar, pQtzCoe), tK) +
      landauPDependent("quartz", math.min(pkbar, pQtzCoe), tK)
    if (pkbar > pQtzCoe) {
      vdpSiO2 += taitVdP("coesite", math.min(pkbar, pCoeStish), tK) -
        taitVdP("coesite", pQtzCoe, tK)
      if (pkbar > pCoeStish)
        vdpSiO2 += taitVdP("stishovite", pkbar, tK) -
          taitVdP("stishovite", pCoeStish, tK)
    }
    var vdpFe2SiO4 = taitVdP("fayalite", math.min(pkbar, pFayRing), tK)
    if (pkbar > pFayRing)
      vdpFe2SiO4 += taitVdP("ringwoodite", pkbar, tK) -
        taitVdP("ringwoodite", pFayRing, tK)
    val vdpMt = taitVdP("magnetite", pkbar, tK)
    (vdpSiO2, vdpMt, vdpFe2SiO4)
  }

  def fO2Base(tK: Double, pBar: Double): Double = {
    val (q, m, f) = vdpWithTransitions(tK, pBar)
    val muP = 1e3 * (3.0 * q + 2.0 * m - 3.0 * f)
    val (q1, m1, f1) = vdpNoTransitions(tK, 1.0)
    val mu1barEos = 1e3 * (3.0 * q1 + 2.0 * m1 - 3.0 * f1)
    val mu = muO2OneBar(tK) + (muP - mu1barEos)
    math.exp(mu / (R * tK))
  }

  // ---- IW with Vinet EOS pressure terms (Scala arithmetic, per row) ----

  private type G0 = (Double, Double, Double, Double, Double, Double, Double, Double, Double)
  private val iwG0Low: Map[String, G0] = Map(
    "Fe_fcc" -> (-236.7, 132.416, -24.6643, 0, -0.0038, -5.89e-08, 77359.0, 0, 0),
    "Fe_bcc-alpha" -> (1225.7, 124.134, -23.5143, 0, -0.004398, -5.89e-08, 77359.0, 0, 0),
    "Fe_HCP" -> (-2480.08, 136.725, -24.6643, 0, -0.00375752, -5.89e-08, 77358.5, 0, 0),
    "Fe_bcc-delta" -> (5970.7, 124.134, -23.5143, 0, -0.00439752, -5.89e-08, 77358.5, 0, 0),
    "Fe_liquid" -> (13265.87, 117.57557, -23.5143, 0, -0.00439752, -5.89e-08, 77358.5, -3.68e-21, 0),
    "FeO" -> (-285203.5, 274.2455, -49.19444, 574.4469, -0.004678477, 0, 297568.8, 0, 0),
    "FeO1.5" -> (-523138.0, 73.37019, -26.96809, 25471.09, -0.008836071, 0, 1498519.0, 0, 0),
    "O2" -> (-13137.52, 25.32003, -33.627, 0, -0.00119159, 1.356e-08, 525809.556, 0, 0))
  private val iwG0High: Map[String, G0] = Map(
    "Fe_fcc" -> (-27097.396, 300.253, -46.0, 0, 0, 0, 0, 0, -2.79e+31),
    "Fe_bcc-alpha" -> (-25383.581, 299.313, -46.0, 0, 0, 0, 0, 0, 2.30e+31),
    "Fe_HCP" -> (-29340.78, 304.562, -46.0, 0, 0, 0, 0, 0, 2.79e+31),
    "Fe_bcc-delta" -> (-20638.581, 299.313, -46.0, 0, 0, 0, 0, 0, 2.30e+31),
    "Fe_liquid" -> (-10838.83, 291.302, -46.0, 0, 0, 0, 0, 0, 0),
    "FeO" -> (-285203.5, 274.2455, -49.19444, 574.4469, -0.004678477, 0, 297568.8, 0, 0),
    "FeO1.5" -> (-523138.0, 73.37019, -26.96809, 25471.09, -0.008836071, 0, 1498519.0, 0, 0),
    "O2" -> (-13137.52, 25.32003, -33.627, 0, -0.00119159, 1.36e-08, 525809.556, 0, 0))
  private val iwG0O2LowT: G0 =
    (-6961.7445, -51.0057, -22.271, 0, -1.01977e-2, 1.32369e-8, -7629.7484, 0, 0)

  private type EosP = (Double, Double, Double, Double, Double, Double)
  private val iwEos: Map[String, EosP] = Map(
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

  private def gibbs0(tK: Double, p: G0): Double = {
    val (a, b, c, d, e, f, g, h, i) = p
    a + b * tK + c * tK * math.log(tK) + d * math.log(tK) + e * tK * tK +
      f * tK * tK * tK + g / tK + h * math.pow(tK, 7) + i * math.pow(tK, -9)
  }

  private def g0Params(phase: String, tK: Double): G0 = {
    if (phase == "O2" && tK < 1000.0) iwG0O2LowT
    else if (tK > 1811.0) iwG0High(phase)
    else iwG0Low(phase)
  }

  private def gibbsFeMagnetic(tK: Double): Double = {
    val tc = 1043.0; val pf = 0.4; val beta = 2.22; val a = 1.55828482
    val tau = tK / tc
    val gm =
      if (tK < tc) {
        val term1 = (79.0 / tau) / (140.0 * pf)
        val term2 = (474.0 / 497.0) * (1.0 / pf - 1.0) *
          (math.pow(tau, 3) / 6.0 + math.pow(tau, 9) / 135.0 +
            math.pow(tau, 15) / 600.0)
        1.0 - (1.0 / a) * (term1 + term2)
      } else
        (-1.0 / a) * (math.pow(tau, -5) / 10.0 + math.pow(tau, -15) / 315.0 +
          1.0 / 1500.0)
    gm * (R * tK * math.log(beta + 1.0))
  }

  private def vinetP(v: Double, v0: Double, k0: Double, kp0: Double): Double = {
    val x = math.pow(v / v0, 1.0 / 3.0)
    3.0 * k0 / (x * x) * (1.0 - x) * math.exp(1.5 * (kp0 - 1.0) * (1.0 - x))
  }

  private def vinetVRoom(pGPa: Double, p: EosP): Double = {
    val (v0, k0, kp0, _, _, _) = p
    def f(v: Double): Double = vinetP(v, v0, k0, kp0) - pGPa
    if (!(f(v0 * 0.3) > 0.0) || !(f(v0 * 1.5) < 0.0)) return v0
    var lo = v0 * 0.3
    var hi = v0 * 1.5
    var it = 0
    while (it < 60) {
      val mid = (lo + hi) * 0.5
      if (f(mid) > 0.0) lo = mid else hi = mid
      it += 1
    }
    (lo + hi) * 0.5
  }

  private val iwGrids =
    new java.util.concurrent.ConcurrentHashMap[(String, Double), (Array[Double], Array[Double])]()

  private def vdpGrid(phase: String, pGPa: Double): (Array[Double], Array[Double]) =
    iwGrids.computeIfAbsent((phase, pGPa), _ => {
      val p = iwEos(phase)
      val (v0, _, _, alpha0, delta0, kappa) = p
      val n = 100
      val step = (pGPa - 1e-4) / (n - 1)
      val vRoom = new Array[Double](n)
      val alpha = new Array[Double](n)
      var i = 0
      while (i < n) {
        val pi = 1e-4 + i * step
        val v = vinetVRoom(pi, p)
        vRoom(i) = v
        alpha(i) = alpha0 * math.exp((-delta0 / kappa) *
          (1.0 - math.pow(v / v0, kappa)))
        i += 1
      }
      (vRoom, alpha)
    })

  private def vinetVdP(pGPa: Double, tK: Double, phase: String): Double = {
    if (pGPa <= 1e-4) return 0.0
    val (vRoom, alpha) = vdpGrid(phase, pGPa)
    val n = vRoom.length
    val step = (pGPa - 1e-4) / (n - 1)
    val dT = tK - 298.15
    var integral = 0.0
    var prev = vRoom(0) * math.exp(alpha(0) * dT)
    var i = 1
    while (i < n) {
      val vi = vRoom(i) * math.exp(alpha(i) * dT)
      integral += 0.5 * (vi + prev) * step
      prev = vi
      i += 1
    }
    integral * 1000.0
  }

  private def gibbsPhase(phase: String, tK: Double, pBar: Double): Double = {
    var g = gibbs0(tK, g0Params(phase, tK))
    if (phase == "Fe_bcc-alpha") g += gibbsFeMagnetic(tK)
    if (pBar > 1.0 && phase != "O2") g += vinetVdP(pBar / 1e4, tK, phase)
    g
  }

  private def gammaFeO(x: Double): Double =
    (q00 + 2.0 * q10 * (1.0 - x)) * x * x
  private def gammaFeO1p5(x: Double): Double =
    (1.0 - x) * (1.0 - x) * (q00 + q10 - 2.0 * q10 * x)

  /** `IwFull.fO2` with no log shift: the IW buffer's absolute fO2 (bar). */
  def iwFO2(tK: Double, pBar: Double): Double = {
    val gFeO = gibbsPhase("FeO", tK, pBar)
    val gFeO1p5 = gibbsPhase("FeO1.5", tK, pBar)
    val gO2 = gibbsPhase("O2", tK, pBar)
    val gFe = fePolymorphs.map(ph => gibbsPhase(ph, tK, pBar)).min
    val dGFeOFeO1p5 = gFeO1p5 - gFeO - gO2 / 4.0
    val dGFeWustite = 3.0 * gFeO - 2.0 * gFeO1p5 - gFe
    def eqFn(x: Double): Double = {
      val part1 = 0.5 * dGFeWustite +
        R * tK * math.log(math.pow(1.0 - x, 1.5) / x)
      part1 + 1.5 * gammaFeO(x) - gammaFeO1p5(x)
    }
    val x = {
      if (!(eqFn(1e-6) > 0.0) || !(eqFn(1.0 - 1e-6) < 0.0)) 1e-6
      else {
        var lo = 1e-6
        var hi = 1.0 - 1e-6
        var it = 0
        while (it < 60) {
          val mid = (lo + hi) * 0.5
          if (eqFn(mid) > 0.0) lo = mid else hi = mid
          it += 1
        }
        (lo + hi) * 0.5
      }
    }
    val muO2 = 4.0 * (dGFeOFeO1p5 + R * tK * math.log(x / (1.0 - x)) +
      gammaFeO1p5(x) - gammaFeO(x))
    math.exp(muO2 / (R * tK))
  }
}
