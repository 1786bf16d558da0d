package graft

import graft.chem.Elements
import graft.expr.E
import graft.functions.Allison

/** DuckDB oracle rendering of `q_saturation_allison`.
  *
  * [[graft.functions.Allison.mixedSaturation]] decouples the reference's
  * 2-D MINPACK solve into three monotone 1-D roots, each a fixed 60-step
  * bisection over deterministic straight-line IEEE arithmetic:
  *
  *   1. pH2Osat:  fH2Ostar = fugacity_H2O(P)            (co2 <= 0 edge)
  *   2. pCO2:     Kf(p) = K_target  (pure target for the h2o <= 0 edge;
  *                mixed exact-inverse target for the coupled solve)
  *   3. P_sat:    fCO2(P)(1 - x(P)) = fCO2(pCO2mix)
  *
  * This file replicates that arithmetic operation-for-operation, including
  * the Holloway & Blank MRK fugacity routine (`EOSs/CO2_H2O.py:40-149`)
  * with its cubic-root/trigonometric branches and clamps, and the Saxena
  * correction above 4 kbar — the same dual-compilation discipline as
  * [[IwSql]] / [[QfmSql]]. NaN-comparison divergences between Java
  * (NaN > x is false) and DuckDB (NaN compares greater) are closed with
  * explicit `isnan` guards at every comparison whose operand can be NaN;
  * `sqrt` arguments are guarded because DuckDB raises on negative inputs
  * where java.lang.Math returns NaN.
  *
  * STRUCTURE: the MRK chain is ~20 data-dependent steps with fan-out >= 2
  * (`bp_` feeds 4 downstream aliases, `ag_` feeds 5, ...). Rendered as
  * lateral column aliases in a single SELECT, DuckDB's binder substitutes
  * each alias reference by its full expression tree, so the chain explodes
  * to ~2^20 nodes and one chain alone takes minutes to BIND (measured
  * 143 s; six chains + recursion never returned — it zeroed round 5's
  * correctness run). Each chain is therefore emitted as a stack of nested
  * one-level subqueries (`nest`): every alias is computed exactly once per
  * level and referenced by column, which binds and runs in milliseconds.
  * Levels are dependency-ranked ([[fugLevels]]); parallel chains at the
  * same pressure stage are merged level-wise ([[merge]]) so g0's six
  * bracket-endpoint evaluations still cost only ~23 nested SELECTs.
  *
  * Two further DuckDB traps closed here:
  *   - its optimizer MERGES adjacent projections by textual substitution
  *     (no CSE), which undoes the nesting and re-explodes the tree the
  *     moment a downstream consumer needs the chain columns — so every
  *     multi-consumer CTE (`inp`, `g0`, `g1`, `mx`) is declared
  *     `AS MATERIALIZED`, an optimization fence (recursive terms are
  *     never projection-merged, so the in-loop chains need no fence);
  *   - the bisection CTEs join back on a synthetic `rid_`
  *     (row_number), not `sample_id`: the engine computes per ROW, so a
  *     duplicated sample_id (present in the sf0.001 melt) must not fan
  *     out through the key-joins.
  */
object AllisonSql {

  private def lit(v: Double): String = E.formatDouble(v)

  private val TH = lit(1.0 / 3.0)

  /** sqrt mirroring java.lang.Math: negative argument -> NaN (DuckDB
    * raises). `a` must be a simple alias reference. */
  private def sqrtSafe(a: String): String =
    s"(CASE WHEN $a < 0.0e0 THEN 'NaN'::DOUBLE ELSE " +
      s"sqrt(CASE WHEN $a < 0.0e0 THEN 0.0e0 ELSE $a END) END)"

  /** signum(v) * |v|^(1/3) after `Allison.redkw` (cube root of a cubic
    * discriminant term). `v` must be a simple alias reference. */
  private def signCbrt(v: String): String =
    s"((CASE WHEN $v > 0.0e0 THEN 1.0e0 WHEN $v < 0.0e0 THEN -1.0e0 " +
      s"ELSE $v END) * pow(abs($v), $TH))"

  /** Wrap `base` (a parenthesised relation) in one nested subquery per
    * level, each adding its aliases via `SELECT *`. Linear bind cost. */
  private def nest(base: String, levels: Seq[String]): String =
    levels.filter(_.nonEmpty).zipWithIndex.foldLeft(base) {
      case (inner, (lvl, i)) => s"(SELECT *, $lvl FROM $inner nl$i)"
    }

  /** Merge parallel chains level-wise: level k of the result carries the
    * level-k aliases of every chain (chains never cross-reference). */
  private def merge(chains: Seq[Seq[String]]): Seq[String] = {
    val n = chains.map(_.length).max
    (0 until n).map { i =>
      chains.flatMap(c => if (i < c.length && c(i).nonEmpty) Some(c(i)) else None)
        .mkString(", ")
    }
  }

  /** Dependency-ranked levels computing `Allison.fugacity(T_K, p, species)`
    * into alias `f_$t`. Requires T-only aliases `rxt_`, `asmc_`/`asmh_`,
    * and (CO2) `sxa_`,`sxb2_`,`sxc2_`,`sxd2_` in scope. `p` must be a
    * simple column/alias reference. */
  private def fugLevels(t: String, p: String, co2: Boolean): Seq[String] = {
    val asum = if (co2) "asmc_" else "asmh_"
    val b0 = if (co2) "29.7e0" else "14.5e0"
    // CO2 above 4 kbar: MRK evaluated at 4000 bar + Saxena ln(F(P)/F(4kb)).
    // The isnan guard keeps a NaN pressure on the NaN path (DuckDB would
    // otherwise send NaN > 4000 into the capped branch; the result is NaN
    // either way via saxena(NaN), but the guard keeps pc_ honest).
    val pc = if (co2) s"pc_$t" else p
    val l1 =
      (if (co2)
        s"CASE WHEN ($p > 4000.0e0) AND (NOT isnan($p)) THEN 4000.0e0 " +
          s"ELSE $p END AS pc_$t, " +
          s"((((sxa_ * ln($p / 4000.0e0)) + (sxb2_ * ($p - 4000.0e0))) + " +
          s"(sxc2_ * (($p * $p) - ${lit(4000.0 * 4000.0)}))) + " +
          s"(sxd2_ * ((($p * $p) * $p) - ${lit(4000.0 * 4000.0 * 4000.0)}))) AS sax_$t, "
      else "") +
        s"CASE WHEN $asum < 1.0e-10 THEN 0.001e0 ELSE $asum END AS ab_$t"
    val saxAdd =
      if (co2)
        s" + (CASE WHEN ($p > 4000.0e0) AND (NOT isnan($p)) THEN sax_$t ELSE 0.0e0 END)"
      else ""
    Seq(
      l1,
      s"((($pc / 1.013e0) * $b0) / rxt_) AS bp_$t",
      s"(((-ab_$t) * bp_$t) * bp_$t) AS rr_$t, " +
        s"(bp_$t * ((ab_$t - bp_$t) - 1.0e0)) AS qq_$t",
      s"(((qq_$t * $TH) + rr_$t) - 0.074074e0) AS xn_$t, " +
        s"(qq_$t - $TH) AS xm_$t",
      s"((xn_$t * xn_$t) / 4.0e0) AS xnn_$t, " +
        s"(((xm_$t * xm_$t) * xm_$t) / 27.0e0) AS xmm_$t, " +
        s"((-xn_$t) / 2.0e0) AS x2_$t",
      s"(xnn_$t + xmm_$t) AS ag_$t",
      s"${sqrtSafe(s"ag_$t")} AS sq_$t, " +
        s"(CASE WHEN ag_$t < 0.0e0 THEN ((-xnn_$t) / xmm_$t) ELSE 0.0e0 END) AS cz_$t, " +
        s"(CASE WHEN ag_$t < 0.0e0 THEN ((-xm_$t) * $TH) ELSE 0.0e0 END) AS mt_$t",
      s"(x2_$t + sq_$t) AS i1_$t, (x2_$t - sq_$t) AS i2_$t, " +
        s"${sqrtSafe(s"cz_$t")} AS c0_$t, " +
        s"(2.0e0 * ${sqrtSafe(s"mt_$t")}) AS fa_$t",
      s"(((${signCbrt(s"i1_$t")} + ${signCbrt(s"i2_$t")}) + $TH)) AS z1_$t, " +
        s"(CASE WHEN xn_$t > 0.0e0 THEN (-c0_$t) ELSE c0_$t END) AS cp_$t",
      s"(1.0e0 - (cp_$t * cp_$t)) AS om_$t",
      s"(${sqrtSafe(s"om_$t")} / cp_$t) AS tp_$t",
      s"(atan(tp_$t) * $TH) AS ph_$t",
      s"cos(ph_$t) AS r1_$t, cos(ph_$t + 2.0944e0) AS r2_$t, " +
        s"cos(ph_$t + 4.18879e0) AS r3_$t",
      s"(CASE WHEN r1_$t > r2_$t THEN r1_$t ELSE r2_$t END) AS rj_$t",
      s"(CASE WHEN r3_$t > rj_$t THEN r3_$t ELSE rj_$t END) AS rh_$t",
      s"(CASE WHEN ag_$t > 0.0e0 THEN z1_$t WHEN ag_$t < 0.0e0 " +
        s"THEN ((rh_$t * fa_$t) + $TH) ELSE 1.0e0 END) AS z_$t",
      s"greatest((z_$t - bp_$t), 0.000001e0) AS zb_$t, " +
        s"(1.0e0 + (bp_$t / z_$t)) AS bz_$t",
      s"(((z_$t - 1.0e0) - ln(zb_$t)) - (ab_$t * ln(bz_$t))) AS f0_$t",
      s"(CASE WHEN (f0_$t < -37.0e0) OR ((f0_$t > 37.0e0) AND (NOT isnan(f0_$t))) " +
        s"THEN 0.000001e0 ELSE f0_$t END) AS f1_$t",
      s"(CASE WHEN ((ag_$t > 0.0e0) AND (NOT isnan(ag_$t))) OR (ag_$t < 0.0e0) " +
        s"THEN f1_$t ELSE 1.0e0 END) AS fp_$t",
      s"exp((fp_$t + ln($pc))$saxAdd) AS f_$t")
  }

  /** K_solubility(p) = exp(lnK0) exp(-deltaV (p - P0) / (Ra T)); per-row
    * aliases ek0 (exp lnK0), dv, rat_ (Ra T) in scope. */
  private def ksol(p: String): String =
    s"(ek0 * exp(((-dv) * ($p - ${lit(1e3)})) / rat_))"

  /** Fixed 60-step bisection as a recursive CTE; `levels` compute the
    * fugacity aliases over `mid` (nested, one level per subquery) and
    * `qExpr` is the decreasing objective evaluated at the final level. */
  private def bisect(name: String, seedFrom: String, seedCond: String,
                     lo: String, hi: String, carry: Seq[String],
                     levels: Seq[String], qExpr: String): String = {
    val cs = carry.mkString(", ")
    val base = s"""(SELECT rid_, it, lo, hi, $cs, """ +
      s"((lo + hi) * 0.5e0) AS mid FROM $name WHERE it < 60)"
    val body = nest(base, levels :+ s"($qExpr) AS qm_")
    s"""$name AS (
       |  SELECT rid_, 0 AS it, $lo AS lo, $hi AS hi, $cs
       |  FROM $seedFrom WHERE $seedCond
       |  UNION ALL
       |  SELECT rid_, it + 1,
       |    CASE WHEN (qm_ > 0.0e0) AND (NOT isnan(qm_)) THEN mid ELSE lo END,
       |    CASE WHEN (qm_ > 0.0e0) AND (NOT isnan(qm_)) THEN hi ELSE mid END,
       |    $cs
       |  FROM $body t),
       |${name}_roots AS (SELECT rid_, ((lo + hi) * 0.5e0) AS root
       |  FROM $name WHERE it = 60)""".stripMargin.replace("\n", " ")
  }

  val sql: String = {
    val oxides = Seq("SiO2", "TiO2", "Al2O3", "FeO", "MgO", "CaO", "Na2O", "K2O")
    // mole cation accumulators in Allison._cation_fractions order
    val terms = oxides.map { ox =>
      Elements.cationName(ox).toLowerCase ->
        s"((\"$ox\" / ${lit(Elements.chemicalWeight(ox).get)}) * ${lit(Elements.cationAmount(ox))})"
    }
    // alias prefix ct_, NOT t_: DuckDB resolves identifiers
    // case-insensitively, so a potassium alias t_k would capture the
    // temperature column "T_K" and poison every cation fraction.
    val termAliases = terms.map { case (n, e) => s"$e AS ct_$n" }.mkString(", ")
    val totExpr = terms.map { case (n, _) => s"ct_$n" }
      .reduce((l, r) => s"($l + $r)")
    // rounded to 3 decimals with numpy/pandas half-even semantics
    // (`allison2022.py:399-401`): math.rint == DuckDB round_even
    val catAliases = terms.map { case (n, _) =>
      s"(round_even(((ct_$n / tot_) * 1000.0e0), 0) / 1000.0e0) AS x_$n"
    }.mkString(", ")
    val dv =
      s"""((((((((${lit(-3350.65)} + (${lit(2625.385)} * x_ti)) +
         | (${lit(3105.426)} * x_al)) + (${lit(47.0037)} * nak_)) +
         | (${lit(3375.552)} * (x_si + x_na))) + (${lit(3795.115)} * x_k)) +
         | (${lit(3628.018)} * x_fe)) + (${lit(3323.32)} * (x_mg + x_ca))))"""
        .stripMargin.replace("\n", " ")
    val lk0 =
      s"""(((((((${lit(-128.365)} + (${lit(122.644)} * ((x_fe + x_na) + x_ca))) +
         | (${lit(92.263)} * (x_ti + x_al))) + (${lit(114.098)} * x_si)) +
         | (${lit(111.549)} * x_mg)) + (${lit(138.855)} * x_k)) +
         | (${lit(2.239)} * nak_)))""".stripMargin.replace("\n", " ")
    val fw = lit(Allison.fw)
    // inp: T-only and composition-only aliases, split into dependency
    // levels (shallow — the lateral chain here is depth 3 and bind-safe,
    // but levels keep the whole file on one discipline).
    val inpBase = s"""(SELECT rid_, "sample_id", "T_K", "H2O" AS h2o, "CO2" AS co2,
       | ("T_K" - 273.15e0) AS tc_,
       | (${lit(82.05736)} * "T_K") AS rxt_,
       | ("T_K" / 304.2e0) AS tr_,
       | $termAliases,
       | (${lit(Allison.Ra)} * "T_K") AS rat_
       | FROM m)""".stripMargin.replace("\n", " ")
    val inpLevels = Seq(
      s"""((${lit(82.05736)} * pow("T_K", 1.5e0)) * 0.000001e0) AS rt_,
         | $totExpr AS tot_,
         | ((2.0614e0 - (2.2351e0 / (tr_ * tr_))) - (0.39411e0 * ln(tr_))) AS sxa_,
         | (((0.055125e0 / tr_) + (0.039344e0 / (tr_ * tr_))) / 73.9e0) AS sxb2_,
         | ((((${lit(-1.8935e-6)} / tr_) - (1.1092e-05 / (tr_ * tr_))) -
         |   (2.1892e-05 / ((tr_ * tr_) * tr_))) /
         |   ((2.0e0 * 73.9e0) * 73.9e0)) AS sxc2_,
         | (((5.0527e-11 / tr_) - (6.3033e-21 / ((tr_ * tr_) * tr_))) /
         |   (((3.0e0 * 73.9e0) * 73.9e0) * 73.9e0)) AS sxd2_,
         | (104.98e0 * pow(h2o, 1.83e0)) AS fstar,
         | ((co2 * (1.0e0 / 44.01e0)) / ((100.0e0 / $fw) - (co2 / $fw))) AS xc3_,
         | ((co2 * $fw) / ((4401.0e0 - (44.01e0 * co2)) +
         |   ((2.0e0 * $fw) * co2))) AS kftm""".stripMargin.replace("\n", " "),
      s"""(((73.03e0 - (0.0714e0 * tc_)) + ((2.157e-05 * tc_) * tc_)) /
         | (29.7e0 * rt_)) AS asmc_,
         | (((115.98e0 - (0.0016295e0 * "T_K")) -
         |   ((1.4984e-05 * "T_K") * "T_K")) / (14.5e0 * rt_)) AS asmh_,
         | $catAliases,
         | (xc3_ / (1.0e0 + xc3_)) AS kftp""".stripMargin.replace("\n", " "),
      s"(x_na / (x_na + x_k)) AS nak_",
      s"$dv AS dv, $lk0 AS lk0",
      s"exp(lk0) AS ek0")
    val inp = s"inp AS MATERIALIZED (SELECT * FROM ${nest(inpBase, inpLevels)} t)"
    // bracket-endpoint fugacities (per-row: T varies); h2o chain divides by
    // xFluid = 1.0 in the engine — exact identity, omitted here. Six
    // parallel chains merged level-wise: still ~23 nested SELECTs total.
    val endChains = merge(Seq(
      fugLevels("h1", lit(1e-50), co2 = false),
      fugLevels("h2", lit(1e-15), co2 = false),
      fugLevels("h3", lit(1.5e4), co2 = false),
      fugLevels("c1", lit(1e-50), co2 = true),
      fugLevels("c2", lit(1e-15), co2 = true),
      fugLevels("c3", lit(1.5e4), co2 = true))) ++ Seq(
      s"${ksol(lit(1e-50))} AS ksl_, ${ksol(lit(1.5e4))} AS ksh_",
      s"(fstar - f_h1) AS qhl, (fstar - f_h3) AS qhh, " +
        s"((kftp / f_c1) - ksl_) AS qcl, ((kftp / f_c3) - ksh_) AS qch, " +
        s"((kftm / f_c1) - ksl_) AS qml, ((kftm / f_c3) - ksh_) AS qmh")
    val g0 = s"g0 AS MATERIALIZED (SELECT * FROM ${nest("(SELECT * FROM inp)", endChains)} t)"
    val hB = "(((qhl > 0.0e0) AND (NOT isnan(qhl))) AND (qhh < 0.0e0))"
    val cB = "(((qcl > 0.0e0) AND (NOT isnan(qcl))) AND (qch < 0.0e0))"
    val mB = "(((qml > 0.0e0) AND (NOT isnan(qml))) AND (qmh < 0.0e0))"
    val oB = "(((qol > 0.0e0) AND (NOT isnan(qol))) AND (qoh < 0.0e0))"
    val saxCarry = Seq("sxa_", "sxb2_", "sxc2_", "sxd2_")
    val hbCte = bisect("hb", "g0", s"h2o <> 0.0e0 AND $hB",
      lit(1e-50), lit(1.5e4), Seq("rxt_", "asmh_", "fstar"),
      fugLevels("b", "mid", co2 = false), "fstar - f_b")
    val cbCte = bisect("cb", "g0", s"co2 <> 0.0e0 AND $cB",
      lit(1e-50), lit(1.5e4),
      Seq("rxt_", "asmc_", "kftp", "ek0", "dv", "rat_") ++ saxCarry,
      fugLevels("d", "mid", co2 = true), s"(kftp / f_d) - ${ksol("mid")}")
    val cmCte = bisect("cm", "g0", s"h2o > 0.0e0 AND co2 > 0.0e0 AND $mB",
      lit(1e-50), lit(1.5e4),
      Seq("rxt_", "asmc_", "kftm", "ek0", "dv", "rat_") ++ saxCarry,
      fugLevels("e", "mid", co2 = true), s"(kftm / f_e) - ${ksol("mid")}")
    // fCO2 target from the mixed partial-pressure root, then the outer
    // coupled objective's bracket values (reusing g0's endpoint chains)
    val g1base =
      s"""(SELECT g0.*, cmr.root AS cr2
         | FROM g0 LEFT JOIN cm_roots cmr USING (rid_))"""
        .stripMargin.replace("\n", " ")
    val g1 = s"g1 AS MATERIALIZED (SELECT * FROM ${nest(g1base,
      fugLevels("ft", "cr2", co2 = true) :+
        ("(f_ft - (f_c2 * (1.0e0 - (fstar / f_h2)))) AS qol, " +
          "(f_ft - (f_c3 * (1.0e0 - (fstar / f_h3)))) AS qoh"))} t)"
    val mbCte = bisect("mb", "g1",
      s"h2o > 0.0e0 AND co2 > 0.0e0 AND $mB AND $oB",
      lit(1e-15), lit(1.5e4),
      Seq("rxt_", "asmc_", "asmh_", "fstar", "f_ft") ++ saxCarry,
      merge(Seq(fugLevels("mc", "mid", co2 = true),
        fugLevels("mh", "mid", co2 = false))),
      "f_ft - (f_mc * (1.0e0 - (fstar / f_mh)))")
    // x_fluid = fstar / fugacity_H2O(P_sat)
    val mxBase =
      s"""(SELECT rid_, root, rxt_, asmh_, fstar
         | FROM mb_roots JOIN g1 USING (rid_))"""
        .stripMargin.replace("\n", " ")
    val mx = s"""mx AS MATERIALIZED (SELECT rid_, root AS mroot, xv FROM ${nest(mxBase,
      fugLevels("x", "root", co2 = false) :+ s"(fstar / f_x) AS xv")} t)"""
    val hval =
      s"""CASE WHEN h2o = 0.0e0 THEN 0.0e0
         | WHEN NOT $hB THEN 'NaN'::DOUBLE ELSE hbr.root END"""
        .stripMargin.replace("\n", " ")
    val cval =
      s"""CASE WHEN co2 = 0.0e0 THEN 0.0e0
         | WHEN NOT $cB THEN 'NaN'::DOUBLE ELSE cbr.root END"""
        .stripMargin.replace("\n", " ")
    val pval =
      s"""CASE WHEN h2o <= 0.0e0 THEN ($cval)
         | WHEN co2 <= 0.0e0 THEN ($hval)
         | WHEN NOT $mB THEN 'NaN'::DOUBLE
         | WHEN NOT $oB THEN 'NaN'::DOUBLE
         | ELSE mx.mroot END""".stripMargin.replace("\n", " ")
    val xval =
      s"""CASE WHEN h2o <= 0.0e0 THEN 0.0e0
         | WHEN co2 <= 0.0e0 THEN 1.0e0
         | WHEN NOT $mB THEN 'NaN'::DOUBLE
         | WHEN NOT $oB THEN 'NaN'::DOUBLE
         | ELSE mx.xv END""".stripMargin.replace("\n", " ")
    s"""WITH RECURSIVE
       | m AS (SELECT row_number() OVER () AS rid_, ${Tables.meltCols} FROM lineitem),
       | $inp,
       | $g0,
       | $hbCte,
       | $cbCte,
       | $cmCte,
       | $g1,
       | $mbCte,
       | $mx
       | SELECT g1."sample_id",
       |   round($pval, 4) AS "P_sat_bar",
       |   round($xval, 6) AS "X_fluid"
       | FROM g1 LEFT JOIN hb_roots hbr USING (rid_)
       |   LEFT JOIN cb_roots cbr USING (rid_)
       |   LEFT JOIN mx USING (rid_)
       | ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
  }
}
