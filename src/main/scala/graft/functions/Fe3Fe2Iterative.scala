package graft.functions

import graft.chem.Elements
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{udf => sparkUdf}

/** Iterative Fe3+/Fe2+ models (reference `Fe_redox/Fe3Fe2_models.py`):
  * activities depend on the Fe speciation itself, so each row solves a
  * fixed point Fe3Fe2 = f(Fe3Fe2) (the reference calls per-row
  * `scipy.optimize.fsolve` from 0.3; here damped secant with a bracketed
  * fallback). Row-local — no cross-row state, one narrow stage.
  */
object Fe3Fe2Iterative {

  val R = 8.31446261815324

  /** Cation fractions of one composition at the cations the models read.
    * From [[CationPlan.split]], `feTot` is FeO's share of the cations
    * (`melt.py:225-274` with wtpc=False, then `cations()`, split at ratio
    * r): splitting FeO into FeO + Fe2O3 CONSERVES the cation count (each
    * Fe is one cation on either side), so the denominator and every non-Fe
    * fraction are constant across the fixed-point trials and only the
    * Fe2+/Fe3+ pair redistributes `feTot` by 1/(1+r). From
    * [[CationPlan.plain]], `feTot` is the plain Fe fraction (all Fe as
    * Fe2+, no split). */
  private[graft] final class CatBase(val si: Double, val ti: Double,
      val al: Double, val mg: Double, val ca: Double, val na: Double,
      val k: Double, val p: Double, val feTot: Double) {
    @inline def fe(r: Double): Double = feTot / (1.0 + r)
    @inline def fe3(r: Double): Double = feTot - fe(r)
    /** cat("Fe") - cat("Fe3") at trial r. */
    @inline def feMinusFe3(r: Double): Double = fe(r) - fe3(r)
    /** Fraction by slot, in [[CationPlan.slotNames]] order. */
    def apply(slot: Int): Double = (slot: @annotation.switch) match {
      case 0 => si; case 1 => ti; case 2 => al; case 3 => mg
      case 4 => ca; case 5 => na; case 6 => k; case 7 => p
    }
  }

  /** Everything the cation arithmetic derives from the oxide NAMES alone,
    * built once per schema: molar weights, the FeO index, cation amounts
    * and names, and the summation order. A row is then a few loops of
    * double arithmetic over its weight array, with no Map or tuple.
    *
    * Sums run in the iteration order of the composition's mol Map, each a
    * left fold from 0.0 (as Scala's `toSeq`/`groupBy`/`sum` over that Map
    * run), which keeps the models' results bit-identical to the Map-based
    * arithmetic (`SolverKernelSpec`): `order` is an immutable Map with the
    * same keys, built the same way as that mol Map, whose values index
    * the weight array. Serializable so a UDF closure captures the plan
    * itself: no executor-side cache keyed by a deserialised array. */
  private[graft] final class CationPlan private (weights: Array[Double],
      normalise: Boolean, order: Map[String, Int]) extends Serializable {
    private val feo = order.getOrElse("FeO", -1)
    private val split = new CationPlan.Terms(order - "FeO" - "Fe2O3", weights)
    private val plain = new CationPlan.Terms(order, weights)

    /** The mol sum in schema order, which normalises wt.% to mol
      * fractions (1.0 for a plan over mol fractions). */
    private def molSum(wt: Array[Double]): Double =
      if (!normalise) 1.0
      else {
        var s = 0.0
        var i = 0
        while (i < weights.length) { s += wt(i) / weights(i); i += 1 }
        s
      }

    private def base(t: CationPlan.Terms, wt: Array[Double], sum: Double,
                     tot: Double, feTot: Double): CatBase = {
      def c(slot: Int) = t.cat(wt, sum, tot, slot)
      new CatBase(c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7), feTot)
    }

    /** [[CatBase]] with FeO/Fe2O3 taken out of the sums (the r-split). */
    def split(wt: Array[Double]): CatBase = {
      val sum = molSum(wt)
      val feoX = if (feo < 0) 0.0 else wt(feo) / weights(feo) / sum
      val tot = split.sum(wt, sum) + feoX
      base(split, wt, sum, tot, feoX / tot)
    }

    /** [[CatBase]] of the plain cations (`moles.cations()`). */
    def plain(wt: Array[Double]): CatBase = {
      val sum = molSum(wt)
      val tot = plain.sum(wt, sum)
      base(plain, wt, sum, tot, plain.cat(wt, sum, tot, CationPlan.fe))
    }

    /** Every plain cation fraction by name. */
    def plainMap(wt: Array[Double]): Map[String, Double] = {
      val sum = molSum(wt)
      val tot = plain.sum(wt, sum)
      plain.groups.map { case (c, g) => c -> plain.groupSum(wt, sum, g) / tot }
    }
  }

  private[graft] object CationPlan {
    /** Cations with a [[CatBase]] slot, then Fe (a plain base's `feTot`). */
    val slotNames: Array[String] =
      Array("Si", "Ti", "Al", "Mg", "Ca", "Na", "K", "P", "Fe")
    private val fe = 8

    /** Plan of a wt.% schema (normalised mol fractions). The order Map is
      * built the way the schema's mol Map was: `names.zip(..).toMap`. */
    def of(names: Array[String]): CationPlan = new CationPlan(
      IaconoMarziano.Comp.weightsFor(names), normalise = true,
      names.zip(names.indices).toMap)

    /** Plan and value array of a mol-fraction Map, in the Map's own order
      * (used as is: unit weights, no renormalisation). */
    def ofMol(mol: Map[String, Double]): (CationPlan, Array[Double]) = {
      val names = mol.keys.toArray
      val index = names.zipWithIndex.toMap
      (new CationPlan(Array.fill(names.length)(1.0), normalise = false,
        mol.transform((n, _) => index(n))), names.map(mol))
    }

    /** Cation terms x * cationAmount in `order`'s iteration order, grouped
      * by cation name (group members keep that order); x is the mol
      * fraction wt / weight / sum. */
    private[CationPlan] final class Terms(order: Map[String, Int],
        w: Array[Double]) extends Serializable {
      private val (ix, amount, cation) = {
        val t = order.toArray
        (t.map(_._2), t.map(o => Elements.cationAmount(o._1)),
          t.map(o => Elements.cationName(o._1)))
      }
      val groups: Map[String, Array[Int]] =
        cation.indices.toArray.groupBy(cation(_))
      private val slots: Array[Array[Int]] =
        slotNames.map(groups.getOrElse(_, Array.emptyIntArray))

      @inline private def term(wt: Array[Double], sum: Double, j: Int): Double =
        wt(ix(j)) / w(ix(j)) / sum * amount(j)

      def sum(wt: Array[Double], s: Double): Double = {
        var acc = 0.0
        var j = 0
        while (j < ix.length) { acc += term(wt, s, j); j += 1 }
        acc
      }

      def groupSum(wt: Array[Double], s: Double, g: Array[Int]): Double = {
        var acc = 0.0
        var j = 0
        while (j < g.length) { acc += term(wt, s, g(j)); j += 1 }
        acc
      }

      /** Fraction of slot's cation; 0.0 when the schema has none. */
      def cat(wt: Array[Double], s: Double, tot: Double, slot: Int): Double = {
        val g = slots(slot)
        if (g.length == 0) 0.0 else groupSum(wt, s, g) / tot
      }
    }
  }

  /** The split cation base of a mol-fraction Map (adapter over
    * [[CationPlan.split]]). */
  private[graft] def catBase(mol: Map[String, Double]): CatBase = {
    val (plan, x) = CationPlan.ofMol(mol)
    plan.split(x)
  }

  /** O'Neill et al. (2006) eq. 10 (`Fe3Fe2_models.py:840-871`): the cation
    * polynomial and pressure term are per-row constants; only the
    * Fe2+-Fe3+ difference varies per trial. */
  def oneill2006(mol: Map[String, Double], tK: Double, pBar: Double,
                 fO2: Double): Double = oneill2006Base(catBase(mol), tK, pBar, fO2)

  private[graft] def oneill2006Base(b: CatBase, tK: Double, pBar: Double,
                                fO2: Double): Double = {
    val pGPa = pBar / 1e4
    val catPoly = -28144.0 + 3905.0 * b.mg - 13359.0 * b.ca -
      14858.0 * b.na - 9805.0 * b.k + 10906.0 * b.al + 110971.0 * b.p
    val part2 = 13.95 +
      (33122.0 / tK - 5.24) * (math.pow(1.0 + 0.241 * pGPa, 0.75) - 1.0) -
      (39156.0 / tK - 6.17) * (math.pow(1.0 + 0.132 * pGPa, 0.75) - 1.0)
    val log10fO2 = math.log10(fO2)
    fixedPoint { r =>
      val part1 = (catPoly - 11952.0 * b.feMinusFe3(r)) / tK
      math.pow(10.0, (log10fO2 - part1 - part2) / 4.0)
    }
  }

  /** Armstrong et al. (2019) Supplementary eq. S12
    * (`Fe3Fe2_models.py:1030-1155`): Gibbs0 + Tait-like VdP of the FeO/
    * FeO1.5 partial molar volumes + Jayasuriya Margules activities.
    * Everything but the Fe2+-Fe3+ Margules term is per-row constant. */
  def armstrong2019(mol: Map[String, Double], tK: Double, pBar: Double,
                    fO2: Double): Double =
    armstrong2019Base(catBase(mol), tK, pBar, fO2)

  private[graft] def armstrong2019Base(b: CatBase, tK: Double, pBar: Double,
                                   fO2: Double): Double = {
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
    val sumMargules = -2248.0 * b.mg + 7690.0 * b.ca + 8553.0 * b.na +
      5644.0 * b.k + -6278.0 * b.al
    val lnfO2Quarter = math.log(fO2) / 4.0
    val gTerm = (gibbs0 + dVdP) / (R * tK)
    fixedPoint { r =>
      val lnAFe3AFe2 = sumMargules / tK + 6880.0 * (b.feMinusFe3(r) / tK)
      math.exp(lnfO2Quarter - gTerm + lnAFe3AFe2)
    }
  }

  /** Plain cation fractions with Fe as total Fe2+ (no Fe3 split) — the
    * reference's `moles.cations()` used by hirschmann2022
    * (`Fe3Fe2_models.py:1304-1307`). */
  private[graft] def plainCations(mol: Map[String, Double]): Map[String, Double] = {
    val (plan, x) = CationPlan.ofMol(mol)
    plan.plainMap(x)
  }

  private def plainBase(mol: Map[String, Double]): CatBase = {
    val (plan, x) = CationPlan.ofMol(mol)
    plan.plain(x)
  }

  /** Hirschmann (2022) eq. 21 with the deng2020 EOS-integral dVdP instead
    * of the armstrong2019 analytic volumes (the reference's
    * `dVdP_method="deng2020"` variant, `Fe3Fe2_models.py:1325-1330`).
    * Closed-form in Fe3Fe2 — no fixed point — but needs the numeric Deng
    * volume integral, so it lives here rather than in the expression AST. */
  def hirschmann2022DengVdP(mol: Map[String, Double], tK: Double,
                            pBar: Double, fO2: Double): Double = {
    val (a, b, c, dCp, t0) = (0.1917, -1.961, 4158.1, 33.25, 1673.15)
    val x = plainBase(mol)
    // a left fold from 0.0, as Scala's `sum` over a List
    val compositional = 0.0 + x.si * -520.46 + x.ti * -185.37 +
      x.mg * 494.39 + x.ca * 1838.34 + x.na * 2888.48 + x.k * 3473.68 +
      x.p * -4473.6 + -1245.09 * x.si * x.al + -1156.86 * x.si * x.mg
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
    * (`Fe_redox/Fe3Fe2_models.py:1494-1534`). The expression-AST
    * [[graft.models.Fe3Fe2.sun2024]] uses Sun's closed-form parameterised
    * Gamma instead (the published approximation; deviates by up to ~8% in
    * Fe3Fe2 at 1 GPa), which keeps the hot path codegen'd + oracle-able.
    * Closed-form in Fe3Fe2 (total-Fe cations, no split). */
  def sun2024DengVdP(mol: Map[String, Double], tK: Double, pBar: Double,
                     fO2: Double): Double =
    sun2024DengVdPBase(plainBase(mol), tK, pBar, fO2)

  private[graft] def sun2024DengVdPBase(b: CatBase, tK: Double, pBar: Double,
                                    fO2: Double): Double = {
    val a0 = 2.1479; val a1 = -230.2593; val a2 = -1.8557e-4; val a3 = 34.3293
    val a4 = 1.4138; val a5 = -17.3040; val a6 = -10.1820; val a7 = -6.7463
    val a8 = -7.3886; val a9 = -14.5430; val a10 = -9.9776; val a11 = -16.1506
    val a12 = -37.5572; val h = 2.1410
    val gamma = Deng2020.dVdP(tK, pBar) / (R * tK)
    val omega = a1 + a2 * math.pow(tK, 1.5) + a3 * math.log(tK)
    val fe = b.feTot
    val phi = a4 * math.log(fe) + a5 * math.sqrt(fe) +
      a6 * math.pow(b.si, 3.0) + a7 * b.al + a8 * b.ti +
      a9 * b.ca + a10 * b.mg + (a11 + a12 * fe) * (b.na + b.k)
    math.pow(10.0,
      (math.log10(fO2) - omega - phi - h * gamma) / (4.0 + a0 * math.sqrt(fe)))
  }

  /** The one Spark UDF over the iterative Fe3Fe2 models (`oneill2006`,
    * `armstrong2019`, `deng2020`, `sun2024`):
    * `(array(wt.% in els order), T_K, P_bar, fO2) => Fe3Fe2`. The closure
    * captures the schema's [[CationPlan]], built here once, so a row does
    * only its own arithmetic. The Deng-backed models also capture any
    * attached Deng memo stats and republish them per task
    * ([[Deng2020.ensureMetrics]]). */
  def udf(els: Array[String], model: String): UserDefinedFunction = {
    val plan = CationPlan.of(els)
    val mm = Deng2020.currentMetrics.orNull
    def publish(): Unit = if (mm != null) Deng2020.ensureMetrics(mm)
    val f: (Seq[Double], Double, Double, Double) => Double = model match {
      case "oneill2006" =>
        (wt, t, p, fo2) => oneill2006Base(plan.split(wt.toArray), t, p, fo2)
      case "armstrong2019" =>
        (wt, t, p, fo2) => armstrong2019Base(plan.split(wt.toArray), t, p, fo2)
      case "deng2020" => (wt, t, p, fo2) => {
        publish()
        Deng2020.fe3Fe2Base(plan.split(wt.toArray), t, p, fo2, "12.5molpc")
      }
      case "sun2024" => (wt, t, p, fo2) => {
        publish()
        sun2024DengVdPBase(plan.plain(wt.toArray), t, p, fo2)
      }
      case other =>
        throw new IllegalArgumentException(s"iterative Fe3Fe2 model $other")
    }
    sparkUdf(f)
  }

  /** Solve r = f(r) by 60 fixed bisection steps on g(r) = f(r) - r over
    * the reference's fsolve-equivalent bracket. Both callers' f are
    * strictly decreasing in r (the Fe2-Fe3 redistribution term enters with
    * a negative derivative), so g is strictly decreasing and the root is
    * unique; 60 steps reach ~1e-15 relative — far inside the golden parity
    * tolerances. Deterministic straight-line IEEE arithmetic with no
    * convergence branches, so the DuckDB oracle's recursive-CTE twin
    * ([[graft.Fe3Fe2IterSql]]) computes bit-identical ratios (the earlier
    * secant-then-brent hybrid had data-dependent branch paths no SQL
    * rendering could follow). */
  private def fixedPoint(f: Double => Double): Double = {
    def g(r: Double): Double = f(r) - r
    val lo0 = 1e-8
    val hi0 = 100.0
    if (!(g(lo0) > 0.0) || !(g(hi0) < 0.0)) return Double.NaN // unbracketed
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
}
