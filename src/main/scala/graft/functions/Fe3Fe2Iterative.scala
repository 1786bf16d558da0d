package graft.functions

import graft.chem.Elements
import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{udf => sparkUdf}

/** Iterative Fe3+/Fe2+ models (reference `Fe_redox/Fe3Fe2_models.py`):
  * activities depend on the Fe speciation itself, so each row solves a
  * fixed point Fe3Fe2 = f(Fe3Fe2) (the reference calls per-row
  * `scipy.optimize.fsolve` from 0.3; here bisection on the reference's
  * bracket). Row-local — no cross-row state, one narrow stage.
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

  // ---- O'Neill 2006 and Armstrong 2019: fixed points written as Loops ---

  /** The split cation base ([[CationPlan.split]]) as loop lets, with the
    * same sums in the same order: `_tot` the cation total, `_<Cation>`
    * the fraction of each [[CationPlan.slotNames]] cation (0.0 when the
    * composition has none), `_fet` FeO's share. `order` is the summation
    * order of the oxides other than FeO and Fe2O3, `x` an oxide's mol
    * fraction. */
  private def splitLets(order: Seq[String], x: String => E,
                        hasFeO: Boolean): Seq[(String, E)] = {
    val terms = order.map(ox =>
      Elements.cationName(ox) -> x(ox) * Lit(Elements.cationAmount(ox)))
    def sum0(xs: Seq[E]): E = E.sumAll(Lit(0.0) +: xs)
    Seq("_feo" -> (if (hasFeO) x("FeO") else Lit(0.0)),
      "_tot" -> (sum0(terms.map(_._2)) + C("_feo"))) ++
      CationPlan.slotNames.take(8).map { c =>
        s"_$c" -> (terms.filter(_._1 == c).map(_._2) match {
          case Seq() => Lit(0.0)
          case ts    => sum0(ts) / C("_tot")
        })
      } :+ ("_fet" -> C("_feo") / C("_tot"))
  }

  /** Split base of oxide wt.% columns `els` ([[CationPlan.of]]): mol
    * fractions normalised by the mol sum in schema order. */
  def wtBase(els: Seq[String]): Seq[(String, E)] = {
    def mol(ox: String): E = C(ox) / Lit(Elements.chemicalWeight(ox).get)
    ("_sum" -> E.sumAll(Lit(0.0) +: els.map(mol))) +:
      splitLets((els.zip(els.indices).toMap - "FeO" - "Fe2O3").keys.toSeq,
        ox => mol(ox) / C("_sum"), els.contains("FeO"))
  }

  /** Split base of a mol-fraction Map's keys, in the Map's own order
    * ([[CationPlan.ofMol]]: the values are used as they are). */
  private def molBase(mol: Map[String, Double]): Seq[(String, E)] =
    splitLets((mol - "FeO" - "Fe2O3").keys.toSeq, C(_), mol.contains("FeO"))

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
  private def feMinusFe3(r: E): E = {
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
    LoopExpression.eval(loops(model)(molBase(mol), C("T_K"), C("P_bar"), C("fO2")),
      mol.toSeq ++ Seq("T_K" -> tK, "P_bar" -> pBar, "fO2" -> fO2): _*)

  def oneill2006(mol: Map[String, Double], tK: Double, pBar: Double,
                 fO2: Double): Double = mapModel("oneill2006", mol, tK, pBar, fO2)

  def armstrong2019(mol: Map[String, Double], tK: Double, pBar: Double,
                    fO2: Double): Double = mapModel("armstrong2019", mol, tK, pBar, fO2)

  /** `(wt.% in els order, T_K, P_bar, fO2) => Fe3Fe2` of a loop model,
    * compiled once. */
  def evaluator(els: Array[String], model: String): Array[Double] => Double =
    LoopExpression.evaluator(loops(model)(wtBase(els), C("T_K"), C("P_bar"), C("fO2")),
      els.toSeq ++ Seq("T_K", "P_bar", "fO2"))

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

  /** The one Spark UDF over the Deng-EOS Fe3Fe2 models (`deng2020`,
    * `sun2024`; the others are [[loops]]):
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
}
