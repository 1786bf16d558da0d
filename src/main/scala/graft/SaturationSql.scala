package graft

import graft.chem.Elements
import graft.expr.E
import graft.functions.{IaconoMarziano => IM}

/** DuckDB oracle renderings of the Iacono-Marziano saturation queries
  * (`q_saturation_h2o`, `q_saturation_co2`, `q_saturation_mixed`).
  *
  * The engine closes the inner fixed point at saturation (dissolved ==
  * observed, `functions/IaconoMarziano.{h2o,co2,mixed}Saturation`), leaving
  * 60-step bisections on monotone 1-D pressure equations for the pure
  * species and a branch-free 60-round Picard fixed point P = u(P) + v(P)
  * for the mixed fluid. All three are deterministic straight-line IEEE
  * arithmetic, replicated here operation-for-operation as recursive CTEs —
  * the same dual-compilation discipline as [[SolubilitySql]].
  */
object SaturationSql {

  private def lit(v: Double): String = E.formatDouble(v)

  private def mole(ox: String): String =
    s"(\"$ox\" / ${lit(Elements.chemicalWeight(ox).get)})"

  private val WH = lit(Elements.chemicalWeight("H2O").get)

  private val meltCols = Tables.meltSource.cols
    .map { case (n, e) => s"${E.toSql(e)} AS \"$n\"" }.mkString(", ")

  /** prepare(): anhydrous mole accumulators in melt-schema order (Fe2O3
    * terms vanish; +0.0 is bitwise identity). */
  private val tot0 = Tables.meltElements.filter(_ != "H2O").map(mole)
    .reduce((l, r) => s"($l + $r)")
  private val nbo0 =
    s"(2.0e0 * ((((((${mole("K2O")} + ${mole("Na2O")}) + ${mole("CaO")}) + " +
      s"${mole("MgO")}) + ${mole("FeO")}) - ${mole("Al2O3")})))"
  private val o0 =
    s"((((((((2.0e0 * ${mole("SiO2")}) + (2.0e0 * ${mole("TiO2")})) + " +
      s"(3.0e0 * ${mole("Al2O3")})) + ${mole("MgO")}) + ${mole("FeO")}) + " +
      s"${mole("CaO")}) + ${mole("Na2O")}) + ${mole("K2O")})"

  /** Shared 60-step bisection as a recursive CTE: seeds rows passing
    * `seedCond`, halves on qSql(mid) > 0 (root above mid). */
  private def bisection(name: String, lo: String, hi: String,
                        qSql: String => String, seedCond: String,
                        carry: String): String =
    s"""$name AS (
       |   SELECT "sample_id", 0 AS it, $lo AS lo, $hi AS hi, $carry
       |   FROM g0 WHERE $seedCond
       |   UNION ALL
       |   SELECT "sample_id", it + 1,
       |     CASE WHEN qm > 0.0e0 THEN mid ELSE lo END,
       |     CASE WHEN qm > 0.0e0 THEN hi ELSE mid END, $carry
       |   FROM (SELECT "sample_id", it, lo, hi, $carry,
       |           ((lo + hi) * 0.5e0) AS mid, ${qSql("mid")} AS qm
       |         FROM $name WHERE it < 60) t),
       | ${name}_roots AS (SELECT DISTINCT "sample_id",
       |   ((lo + hi) * 0.5e0) AS root FROM $name WHERE it = 60)""".stripMargin

  // ---- H2O saturation ----------------------------------------------------
  // q(p) = h2o - exp(A ln(1.0*p) + (B nbo) + BB + (C p)/T); nbo closed at
  // the observed dissolved H2O. Scala computes pH2O = 1.0 * p == p bitwise.
  private def qH2o(p: String): String =
    s"""(h2o - exp((((${lit(IM.h2oA)} * ln($p)) + bn) + (${lit(IM.h2oBB)})) +
       | ((${lit(IM.h2oC)} * $p) / "T_K")))""".stripMargin.replace("\n", " ")

  private val h2oInp =
    s"""inp AS (SELECT "sample_id", "T_K", "H2O" AS h2o, "CO2" AS co2,
       |   $tot0 AS tot0, $nbo0 AS nbo0, $o0 AS o0,
       |   ("H2O" / $WH) AS hm,
       |   ((nbo0 + (2.0e0 * hm)) / (o0 + hm)) AS nboh,
       |   (${lit(IM.h2oB)} * nboh) AS bn
       |   FROM m)""".stripMargin
  private val h2oG0 =
    s"""g0 AS (SELECT *, ${qH2o("1.0e-15")} AS qlo, ${qH2o("1.5e4")} AS qhi
       | FROM inp)""".stripMargin.replace("\n", " ")
  private val h2oBracket =
    "isfinite(qlo) AND (qlo > 0.0e0) AND (qhi < 0.0e0)"
  private val h2oVal =
    s"""CASE WHEN h2o = 0.0e0 THEN 0.0e0
       |     WHEN NOT ($h2oBracket) THEN 'NaN'::DOUBLE
       |     ELSE hb.root END""".stripMargin.replace("\n", " ")

  val h2o: String =
    (s"""WITH RECURSIVE
        | m AS (SELECT $meltCols FROM lineitem),
        | $h2oInp,
        | $h2oG0,
        | ${bisection("hb", "1.0e-15", "1.5e4", qH2o, s"h2o <> 0.0e0 AND ($h2oBracket)", "\"T_K\", h2o, bn")}
        | SELECT g0."sample_id", round($h2oVal, 4) AS "P_sat_bar"
        | FROM g0 LEFT JOIN hb_roots hb USING ("sample_id")
        | ORDER BY "sample_id"""").stripMargin.replace("\n", " ")

  // ---- CO2 saturation ----------------------------------------------------
  // At xFluid = 0 the dissolved H2O is exactly 0: tot = tot0, xH2O = 0
  // (its -0.0 term is additive identity), nbo = nbo0/o0, pCO2 = p.
  private def qCo2(p: String): String =
    s"""(co2 - (exp((((((((xai * ${lit(IM.co2DAI)}) + (xfm * (${lit(IM.co2DFM)}))) +
       | (xnk * ${lit(IM.co2DNK)})) + (${lit(IM.co2A)} * ln($p))) + bn2) +
       | (${lit(IM.co2BB)})) + ((${lit(IM.co2C)} * $p) / "T_K"))) / 10000.0e0))"""
      .stripMargin.replace("\n", " ")

  private val co2Inp =
    s"""inp AS (SELECT "sample_id", "T_K", "H2O" AS h2o, "CO2" AS co2,
       |   $tot0 AS tot0, $nbo0 AS nbo0, $o0 AS o0,
       |   (${mole("Al2O3")} / ((${mole("CaO")} + ${mole("Na2O")}) + ${mole("K2O")})) AS xai,
       |   ((${mole("FeO")} + ${mole("MgO")}) / tot0) AS xfm,
       |   ((${mole("Na2O")} + ${mole("K2O")}) / tot0) AS xnk,
       |   (${lit(IM.co2B)} * ((nbo0 + (2.0e0 * 0.0e0)) / (o0 + 0.0e0))) AS bn2
       |   FROM m)""".stripMargin
  private val co2G0 =
    s"""g0 AS (SELECT *, ${qCo2("1.0e-10")} AS qlo, ${qCo2("1.0e5")} AS qhi
       | FROM inp)""".stripMargin.replace("\n", " ")
  private val co2Bracket =
    "isfinite(qlo) AND (qlo > 0.0e0) AND (qhi < 0.0e0)"
  private val co2Val =
    s"""CASE WHEN co2 = 0.0e0 THEN 0.0e0
       |     WHEN NOT ($co2Bracket) THEN 'NaN'::DOUBLE
       |     ELSE cb.root END""".stripMargin.replace("\n", " ")

  val co2: String =
    (s"""WITH RECURSIVE
        | m AS (SELECT $meltCols FROM lineitem),
        | $co2Inp,
        | $co2G0,
        | ${bisection("cb", "1.0e-10", "1.0e5", qCo2, s"co2 <> 0.0e0 AND ($co2Bracket)", "\"T_K\", co2, xai, xfm, xnk, bn2")}
        | SELECT g0."sample_id", round($co2Val, 4) AS "P_sat_bar"
        | FROM g0 LEFT JOIN cb_roots cb USING ("sample_id")
        | ORDER BY "sample_id"""").stripMargin.replace("\n", " ")

  // ---- mixed saturation --------------------------------------------------
  // Branch-free Picard: u = exp((k1 - C P/T)/A), v = exp(k2 - C2 P/T),
  // P' = u + v, 60 rounds from P = 0 (IaconoMarziano.mixedSaturation).
  val mixed: String = {
    // both pure-species chains are needed for the h2o<=0 / co2<=0 edges;
    // their inp/g0 columns are merged into one prep CTE
    val inp =
      s"""inp AS (SELECT "sample_id", "T_K", "H2O" AS h2o, "CO2" AS co2,
         |   $tot0 AS tot0, $nbo0 AS nbo0, $o0 AS o0,
         |   ("H2O" / $WH) AS hm,
         |   ((nbo0 + (2.0e0 * hm)) / (o0 + hm)) AS nboh,
         |   (${lit(IM.h2oB)} * nboh) AS bn,
         |   (${mole("Al2O3")} / ((${mole("CaO")} + ${mole("Na2O")}) + ${mole("K2O")})) AS xai0,
         |   ((${mole("FeO")} + ${mole("MgO")}) / tot0) AS xfm,
         |   ((${mole("Na2O")} + ${mole("K2O")}) / tot0) AS xnk,
         |   (${lit(IM.co2B)} * ((nbo0 + (2.0e0 * 0.0e0)) / (o0 + 0.0e0))) AS bn2,
         |   (tot0 + hm) AS tot,
         |   ((ln(h2o) - (${lit(IM.h2oB)} * nboh)) - (${lit(IM.h2oBB)})) AS k1,
         |   ((((((ln((co2 * 1.0e4)) - ((hm / tot) * (${lit(IM.co2DH2O)}))) -
         |     (xai0 * ${lit(IM.co2DAI)})) - ((xfm0m) * (${lit(IM.co2DFM)}))) -
         |     ((xnk0m) * ${lit(IM.co2DNK)})) - (${lit(IM.co2B)} * nboh)) -
         |     (${lit(IM.co2BB)})) AS k2
         |   FROM m)""".stripMargin
        // mixed k2 uses the HYDROUS total for xFM/xNK (prep.molFM0/tot)
        .replace("(xfm0m)", s"((${mole("FeO")} + ${mole("MgO")}) / tot)")
        .replace("(xnk0m)", s"((${mole("Na2O")} + ${mole("K2O")}) / tot)")
    val g0 =
      s"""g0 AS (SELECT *, ${qH2o("1.0e-15")} AS qlo, ${qH2o("1.5e4")} AS qhi,
         | ${qCo2("1.0e-10")} AS qlo2, ${qCo2("1.0e5")} AS qhi2 FROM inp)"""
        .stripMargin.replace("\n", " ")
        // the co2 kernel references xai/qlo-style names; in the merged CTE
        // the co2-side columns are xai0/qlo2/qhi2
        .replace("(xai *", "(xai0 *")
    val h2oBracketM = "isfinite(qlo) AND (qlo > 0.0e0) AND (qhi < 0.0e0)"
    val co2BracketM = "isfinite(qlo2) AND (qlo2 > 0.0e0) AND (qhi2 < 0.0e0)"
    val hVal =
      s"""CASE WHEN h2o = 0.0e0 THEN 0.0e0
         |     WHEN NOT ($h2oBracketM) THEN 'NaN'::DOUBLE
         |     ELSE hb.root END""".stripMargin.replace("\n", " ")
    val cVal =
      s"""CASE WHEN co2 = 0.0e0 THEN 0.0e0
         |     WHEN NOT ($co2BracketM) THEN 'NaN'::DOUBLE
         |     ELSE cb.root END""".stripMargin.replace("\n", " ")
    val qCo2M: String => String = p => qCo2(p).replace("(xai *", "(xai0 *")
    s"""WITH RECURSIVE
       | m AS (SELECT $meltCols FROM lineitem),
       | $inp,
       | $g0,
       | ${bisection("hb", "1.0e-15", "1.5e4", qH2o, s"h2o <> 0.0e0 AND ($h2oBracketM)", "\"T_K\", h2o, bn")},
       | ${bisection("cb", "1.0e-10", "1.0e5", qCo2M, s"co2 <> 0.0e0 AND ($co2BracketM)", "\"T_K\", co2, xai0, xfm, xnk, bn2")},
       | pic AS (
       |   SELECT "sample_id", 0 AS it, 0.0e0 AS u, 0.0e0 AS v, 0.0e0 AS p,
       |     "T_K", k1, k2
       |   FROM g0 WHERE h2o > 0.0e0 AND co2 > 0.0e0
       |   UNION ALL
       |   SELECT "sample_id", it + 1,
       |     exp(((k1 - ((${lit(IM.h2oC)} * p) / "T_K")) / ${lit(IM.h2oA)})) AS u2,
       |     exp((k2 - ((${lit(IM.co2C)} * p) / "T_K"))) AS v2,
       |     (u2 + v2) AS p2, "T_K", k1, k2
       |   FROM pic WHERE it < 60),
       | pic_fin AS (SELECT DISTINCT "sample_id", u, p FROM pic WHERE it = 60)
       | SELECT g0."sample_id",
       |   round(CASE WHEN h2o <= 0.0e0 THEN ($cVal)
       |              WHEN co2 <= 0.0e0 THEN ($hVal)
       |              ELSE pf.p END, 4) AS "P_sat_bar",
       |   round(CASE WHEN h2o <= 0.0e0 THEN 0.0e0
       |              WHEN co2 <= 0.0e0 THEN 1.0e0
       |              ELSE (pf.u / pf.p) END, 6) AS "X_fluid"
       | FROM g0 LEFT JOIN hb_roots hb USING ("sample_id")
       |   LEFT JOIN cb_roots cb USING ("sample_id")
       |   LEFT JOIN pic_fin pf USING ("sample_id")
       | ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
  }
}
