package graft

import graft.chem.Elements
import graft.expr.{C, E}
import graft.models.Fo2Buffers

/** DuckDB oracle renderings of the Deng (2020) EOS-integral Fe3+/Fe2+
  * queries (`q_fe3fe2_deng2020`, `q_fe3fe2_sun2024_deng`).
  *
  * The dVdP term integrates the Fe2/Fe3 partial-molar-volume difference
  * over a FIXED 500-bar lattice, with each volume a Birch-Murnaghan-4 +
  * thermal-pressure root (`functions/Deng2020`). Volumes are solved per
  * DISTINCT T x lattice point x endmember (the SQL mirror of the engine's
  * volCache — ~11k solves), with the engine's secant replicated as a
  * recursive CTE and its bisection fallback as a second recursion; the
  * trapezoid then folds per DISTINCT (T, P). deng2020's outer fixed point
  * runs the same secant + bisection-fallback per row; sun2024 (dV=deng)
  * is closed-form on top of the shared dVdP. Same dual-compilation
  * discipline as [[IwSql]].
  */
object DengSql {

  private def lit(v: Double): String = E.formatDouble(v)
  private val R = lit(graft.functions.Deng2020.R)

  // 12.5molpc parameter set (Deng2020.paramSets)
  private val eosFe2 = (1180.114014, 26.94713861, 2.802531871, 0.012313472)
  private val eosFe3 = (1204.763652, 23.19530062, 3.216089358, 0.009340183)
  private val thermFe2 = (35.79397483, 71.10313668, 36.59545225)
  private val thermFe3 = (34.52616394, 68.64429623, 35.27069116)

  private def part3(e: (Double, Double, Double, Double)): Double = {
    val (_, k0, kp, kpp) = e
    (9.0 * kp * kp - 63.0 * kp + 9.0 * k0 * kpp + 143.0) / 24.0
  }

  /** f(v) = BM4(v) + thermCoeff(v) (T - 3000) - pGPa over the carried
    * param columns (ev0, ek0, ekp, p3, ta, tb, tc2, pg); fresh lateral
    * alias names per call site. */
  private def fDef(v: String, tag: String): (String, String) = {
    val xx = s"x_$tag"
    val p23 = s"q_$tag"
    val defs = s"(ev0 / $v) AS $xx, pow($xx, ${lit(2.0 / 3.0)}) AS $p23"
    val bm = s"(((1.5e0 * ek0) * (pow($xx, ${lit(7.0 / 3.0)}) - pow($xx, ${lit(5.0 / 3.0)}))) * " +
      s"((1.0e0 + ((0.75e0 * (ekp - 4.0e0)) * ($p23 - 1.0e0))) + " +
      s"(p3 * pow(($p23 - 1.0e0), 2.0e0))))"
    val th = s"(((ta - (tb * ($v / ev0))) + (tc2 * pow(($v / ev0), 2.0e0))) / 1000.0e0)"
    (defs, s"(($bm + ($th * (\"T_K\" - 3000.0e0))) - pg)")
  }

  /** Cation-fraction helpers. Cation fractions are scale-invariant in the
    * input moles, so these compute them from wt/W directly; against the
    * engine's map-order sums that differs by <= 1 ulp, far below the
    * round(6) output grid. */
  private def cmole(ox: String): String =
    s"((\"$ox\" / ${lit(Elements.chemicalWeight(ox).get)}) * ${lit(Elements.cationAmount(ox))})"
  private val tot: String = Tables.meltElements.map(cmole).reduce((l, r) => s"($l + $r)")
  private def oxideOf(cation: String): String =
    Tables.meltElements.find(ox => Elements.cationName(ox) == cation).get
  private def frac(cation: String): String = s"(${cmole(oxideOf(cation))} / ctot)"

  private val qfmSql: String = E.toSql(Fo2Buffers.qfm1bar(C("T_K")))

  /** Shared prefix: melts, lattice-volume solves, per-(T,P) dVdP. */
  private val prefix: String = {
    def row(fe3: Boolean): String = {
      val e = if (fe3) eosFe3 else eosFe2
      val t = if (fe3) thermFe3 else thermFe2
      s"(${fe3.toString}, ${lit(e._1)}, ${lit(e._2)}, ${lit(e._3)}, " +
        s"${lit(part3(e))}, ${lit(t._1)}, ${lit(t._2)}, ${lit(t._3)})"
    }
    val params = s"${row(fe3 = false)}, ${row(fe3 = true)}"
    val vcarry = "\"T_K\", pk, fe3, ev0, ek0, ekp, p3, ta, tb, tc2, pg"
    val (dA, fA) = fDef("va", "a0")
    val (dB, fB) = fDef("vb", "b0")
    val (dC, fC) = fDef("c2", "c1")
    val (dLo, fLo) = fDef("(ev0 * 0.3e0)", "lo")
    val (dHi, fHi) = fDef("(ev0 * 2.0e0)", "hi")
    val (dM, fM) = fDef("vmid", "m1")
    s"""m AS (SELECT ${Tables.meltCols} FROM lineitem),
       | lat AS (SELECT (1.0e0 + (500.0e0 * k)) AS pk FROM range(0, 22) t(k)),
       | vg0 AS (SELECT ts."T_K", l.pk, pr.fe3, pr.ev0, pr.ek0, pr.ekp,
       |     pr.p3, pr.ta, pr.tb, pr.tc2, (l.pk / 1.0e4) AS pg,
       |     (pr.ev0 - (6.0e0 * ((l.pk / 1.0e4)))) AS va,
       |     ((pr.ev0 - (6.0e0 * ((l.pk / 1.0e4)))) * 1.01e0) AS vb
       |   FROM (SELECT DISTINCT "T_K" FROM m) ts CROSS JOIN lat l
       |   CROSS JOIN (SELECT * FROM (VALUES $params)
       |     p(fe3, ev0, ek0, ekp, p3, ta, tb, tc2)) pr),
       | vsec AS (
       |   SELECT $vcarry, 0 AS n, va AS a, fa0 AS fa, vb AS b, fb0 AS fb
       |   FROM (SELECT *, $dA, $fA AS fa0, $dB, $fB AS fb0 FROM vg0) s0
       |   UNION ALL
       |   SELECT $vcarry, n + 1, b, fb, c2, fc2
       |   FROM (SELECT $vcarry, n, a, fa, b, fb,
       |           (b - ((fb * (b - a)) / (fb - fa))) AS c2, $dC, $fC AS fc2
       |         FROM vsec WHERE abs(fb) > 1.0e-10 AND (NOT isnan(fb))
       |           AND n < 100 AND (fb - fa) <> 0.0e0) st),
       | vfin AS (SELECT "T_K", pk, fe3, b, fb FROM vsec
       |   QUALIFY row_number() OVER (PARTITION BY "T_K", pk, fe3 ORDER BY n DESC) = 1),
       | vacc AS (SELECT "T_K", pk, fe3, b,
       |   (isfinite(b) AND (b > 0.0e0) AND (abs(fb) < 1.0e-8)) AS ok FROM vfin),
       | vbr AS (SELECT *, $dLo, $fLo AS flo, $dHi, $fHi AS fhi FROM vg0),
       | vbis AS (
       |   SELECT $vcarry, 0 AS it, (ev0 * 0.3e0) AS lo, (ev0 * 2.0e0) AS hi
       |   FROM vbr JOIN vacc USING ("T_K", pk, fe3)
       |   WHERE (NOT vacc.ok) AND isfinite(flo) AND (flo > 0.0e0) AND (fhi < 0.0e0)
       |   UNION ALL
       |   SELECT $vcarry, it + 1,
       |     CASE WHEN fvm > 0.0e0 THEN vmid ELSE lo END,
       |     CASE WHEN fvm > 0.0e0 THEN hi ELSE vmid END
       |   FROM (SELECT $vcarry, it, lo, hi, ((lo + hi) * 0.5e0) AS vmid,
       |           $dM, $fM AS fvm
       |         FROM vbis WHERE it < 60) bt),
       | vroots AS (SELECT "T_K", pk, fe3, ((lo + hi) * 0.5e0) AS root
       |   FROM vbis WHERE it = 60),
       | vvol AS (SELECT b."T_K", b.pk, b.fe3,
       |   (((CASE WHEN a.ok THEN a.b
       |           WHEN NOT (isfinite(b.flo) AND (b.flo > 0.0e0) AND (b.fhi < 0.0e0))
       |             THEN 'NaN'::DOUBLE
       |           ELSE r.root END) / 2.0e0) * 6.02214076e23) * 1.0e-24 AS vol
       |   FROM vbr b JOIN vacc a USING ("T_K", pk, fe3)
       |   LEFT JOIN vroots r USING ("T_K", pk, fe3)),
       | dvt AS (SELECT "T_K", pk,
       |   ((max(CASE WHEN fe3 THEN vol END) -
       |     max(CASE WHEN NOT fe3 THEN vol END)) * 1.0e-6) AS dv
       |   FROM vvol GROUP BY 1, 2),
       | tpp AS (SELECT DISTINCT "T_K", "P_bar" FROM m),
       | vdp AS (SELECT "T_K", "P_bar",
       |   coalesce(list_sum(list_transform(range(2, len(dvl) + 1), k ->
       |     (((0.5e0 * (dvl[CAST(k AS INTEGER)] + dvl[CAST((k - 1) AS INTEGER)])) *
       |       500.0e0) * 1.0e5))), 0.0e0) AS vdp
       |   FROM (SELECT t."T_K", t."P_bar", list(d.dv ORDER BY d.pk) AS dvl
       |         FROM tpp t JOIN dvt d ON d."T_K" = t."T_K"
       |           AND d.pk < (t."P_bar" + 500.0e0)
       |         GROUP BY 1, 2) g)""".stripMargin
  }

  /** Deng (2020) gibbs0(T) (`Fe3Fe2_models.py:599-612`). */
  private val g0Sql: String =
    """((((((-331035.9211346371e0) - (190.3795512883899e0 * "T_K")) +
      | ((14.785873706952849e0 * "T_K") * ln("T_K"))) -
      | ((0.0016487959655627517e0 * "T_K") * "T_K")) +
      | (9348044.389346942e0 / "T_K")) +
      | (10773.299613088355e0 * sqrt("T_K")))""".stripMargin.replace("\n", " ")

  private def feM(r: String): String =
    s"((fet / (1.0e0 + $r)) - (fet - (fet / (1.0e0 + $r))))"

  /** q_fe3fe2_deng2020: per-row secant + bisection-fallback fixed point on
    * eq. 3 over the shared dVdP. */
  val deng2020: String = {
    val gR = (r: String) =>
      s"(exp(((gt - ((sm + (${feM(r)} * (-14210.0e0))) / rt)) + lnq)) - $r)"
    s"""WITH RECURSIVE
       |$prefix,
       | inp AS (SELECT m."sample_id", m."T_K", $tot AS ctot,
       |   (${cmole("FeO")} / ctot) AS fet,
       |   (((((${frac("Mg")} * 68629.0e0) + (${frac("Si")} * 4601.0e0)) +
       |     (${frac("Al")} * 40923.0e0)) + (${frac("Ca")} * (-58109.0e0))) +
       |     (${frac("K")} * (-59584.0e0))) AS sm,
       |   (${lit(graft.functions.Deng2020.R)} * m."T_K") AS rt,
       |   ((-(($g0Sql + v.vdp))) / rt) AS gt,
       |   (ln($qfmSql) / 4.0e0) AS lnq
       |   FROM m JOIN vdp v USING ("T_K", "P_bar")),
       | rsec AS (
       |   SELECT "sample_id", fet, sm, rt, gt, lnq, 0 AS n,
       |     0.3e0 AS a, ${gR("0.3e0")} AS fa, 0.31e0 AS b, ${gR("0.31e0")} AS fb
       |   FROM inp
       |   UNION ALL
       |   SELECT "sample_id", fet, sm, rt, gt, lnq, n + 1, b, fb, c2, fc2
       |   FROM (SELECT "sample_id", fet, sm, rt, gt, lnq, n, a, fa, b, fb,
       |           (b - ((fb * (b - a)) / (fb - fa))) AS c2, ${gR("c2")} AS fc2
       |         FROM rsec WHERE abs(fb) > 1.0e-10 AND (NOT isnan(fb))
       |           AND n < 100 AND (fb - fa) <> 0.0e0) st),
       | rfin AS (SELECT "sample_id", b, fb FROM rsec
       |   QUALIFY row_number() OVER (PARTITION BY "sample_id" ORDER BY n DESC) = 1),
       | racc AS (SELECT "sample_id", b,
       |   (isfinite(b) AND (b > 0.0e0) AND (abs(fb) < 1.0e-8)) AS ok FROM rfin),
       | rbr AS (SELECT "sample_id", fet, sm, rt, gt, lnq,
       |   ${gR("1.0e-8")} AS glo, ${gR("100.0e0")} AS ghi FROM inp),
       | rbis AS (
       |   SELECT b."sample_id", fet, sm, rt, gt, lnq, 0 AS it,
       |     1.0e-8 AS lo, 100.0e0 AS hi
       |   FROM rbr b JOIN racc a USING ("sample_id")
       |   WHERE (NOT a.ok) AND isfinite(glo) AND (glo > 0.0e0) AND (ghi < 0.0e0)
       |   UNION ALL
       |   SELECT "sample_id", fet, sm, rt, gt, lnq, it + 1,
       |     CASE WHEN gm > 0.0e0 THEN rmid ELSE lo END,
       |     CASE WHEN gm > 0.0e0 THEN hi ELSE rmid END
       |   FROM (SELECT "sample_id", fet, sm, rt, gt, lnq, it, lo, hi,
       |           ((lo + hi) * 0.5e0) AS rmid, ${gR("rmid")} AS gm
       |         FROM rbis WHERE it < 60) bt),
       | rroots AS (SELECT DISTINCT "sample_id", ((lo + hi) * 0.5e0) AS root
       |   FROM rbis WHERE it = 60)
       | SELECT b."sample_id",
       |   round(CASE WHEN a.ok THEN a.b
       |              WHEN NOT (isfinite(b.glo) AND (b.glo > 0.0e0) AND
       |                        (b.ghi < 0.0e0)) THEN 'NaN'::DOUBLE
       |              ELSE r.root END, 6) AS "Fe3Fe2"
       | FROM rbr b JOIN racc a USING ("sample_id")
       | LEFT JOIN rroots r USING ("sample_id")
       | ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
  }

  /** q_fe3fe2_sun2024_deng: Sun (2024) eq. 9 with the EOS-integral Gamma —
    * closed-form over the shared dVdP (`Fe3Fe2Iterative.sun2024DengVdP`). */
  val sun2024: String = {
    val phi = s"((((((((1.4138e0 * ln(fe)) + ((-17.304e0) * sqrt(fe))) + " +
      s"((-10.182e0) * pow(csi, 3.0e0))) + ((-6.7463e0) * cal)) + " +
      s"((-7.3886e0) * cti)) + ((-14.543e0) * cca)) + " +
      s"((-9.9776e0) * cmg)) + (((-16.1506e0) + ((-37.5572e0) * fe)) * (cna + ck)))"
    val omega = s"(((-230.2593e0) + ((-1.8557e-4) * pow(\"T_K\", 1.5e0))) + " +
      s"(34.3293e0 * ln(\"T_K\")))"
    s"""WITH RECURSIVE
       |$prefix,
       | inp AS (SELECT m."sample_id", m."T_K", $tot AS ctot,
       |   (${cmole("FeO")} / ctot) AS fe,
       |   ${frac("Si")} AS csi, ${frac("Al")} AS cal, ${frac("Ti")} AS cti,
       |   ${frac("Ca")} AS cca, ${frac("Mg")} AS cmg, ${frac("Na")} AS cna,
       |   ${frac("K")} AS ck,
       |   (v.vdp / (${lit(graft.functions.Deng2020.R)} * m."T_K")) AS gamma
       |   FROM m JOIN vdp v USING ("T_K", "P_bar"))
       | SELECT "sample_id",
       |   round(pow(10.0e0, ((((log10($qfmSql) - $omega) - $phi) -
       |     (2.141e0 * gamma)) / (4.0e0 + (2.1479e0 * sqrt(fe))))), 6) AS "Fe3Fe2"
       | FROM inp ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
  }
}
