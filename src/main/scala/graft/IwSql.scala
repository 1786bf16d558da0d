package graft

import graft.expr.E
import graft.functions.IwFull

/** DuckDB oracle rendering of `q_fo2_iw_full`: the full Iron-Wustite
  * buffer after Hirschmann (2021) (`functions/IwFull`) — Gibbs polynomials
  * with the bcc magnetic correction, Vinet-EOS pressure terms (100-point
  * trapezoid VdP with a 60-step bisection volume inversion per grid
  * point), min-Gibbs Fe-polymorph selection, and the wustite FeO-FeO1.5
  * equilibrium (60-step bisection).
  *
  * Decomposition mirrors the engine's cache keying: the Vinet volume grid
  * depends on (phase, P) only — solved once per DISTINCT P over an
  * (i = 0..99) grid point table with the bisection UNROLLED into 60 chained
  * projections (DuckDB inlines single-reference CTEs, so the chain
  * pipelines); the trapezoid applies the T-dependent thermal factor per
  * DISTINCT (T, P) via an ordered list fold. The only deliberate
  * non-bit-mirror is the trapezoid term summation (list_sum vs the Scala
  * running sum — reassociation error ~1e-14 relative against a round(6)
  * output grid on log10 fO2). Everything else computes the engine's
  * operations in the engine's order: every T-independent constant comes
  * from the same Scala arithmetic, baked as an e-notation literal.
  */
object IwSql {

  private def lit(v: Double): String = E.formatDouble(v)
  private val third = lit(1.0 / 3.0)
  private val R = lit(IwFull.R)

  // EOS params (V_0, K_0, Kprime_0, alpha0, delta0, kappa) — IwFull.eos
  private val eos: Seq[(String, (Double, Double, Double, Double, Double, Double))] = Seq(
    "FeO" -> (12.256, 149.0, 3.83, 4.5e-5, 4.25, 1.4),
    "FeO1.5" -> (16.372, 149.0, 3.83, 4.5e-5, 4.25, 1.4),
    "Fe_fcc" -> (6.82, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_bcc-alpha" -> (7.092, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_HCP" -> (6.753, 163.4, 5.38, 5.8e-05, 5.1, 1.4),
    "Fe_bcc-delta" -> (7.092, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_liquid" -> (6.88, 148.0, 5.8, 9e-5, 5.1, 1.4))

  // Gibbs0 polynomial params (a,b,c,d,e,f,g,h,i) — IwFull.g0Low/g0High
  private type G0 = (Double, Double, Double, Double, Double, Double, Double, Double, Double)
  private val g0Low: Map[String, G0] = Map(
    "Fe_fcc" -> (-236.7, 132.416, -24.6643, 0, -0.0038, -5.89e-08, 77359.0, 0, 0),
    "Fe_bcc-alpha" -> (1225.7, 124.134, -23.5143, 0, -0.004398, -5.89e-08, 77359.0, 0, 0),
    "Fe_HCP" -> (-2480.08, 136.725, -24.6643, 0, -0.00375752, -5.89e-08, 77358.5, 0, 0),
    "Fe_bcc-delta" -> (5970.7, 124.134, -23.5143, 0, -0.00439752, -5.89e-08, 77358.5, 0, 0),
    "Fe_liquid" -> (13265.87, 117.57557, -23.5143, 0, -0.00439752, -5.89e-08, 77358.5, -3.68e-21, 0),
    "FeO" -> (-285203.5, 274.2455, -49.19444, 574.4469, -0.004678477, 0, 297568.8, 0, 0),
    "FeO1.5" -> (-523138.0, 73.37019, -26.96809, 25471.09, -0.008836071, 0, 1498519.0, 0, 0),
    "O2" -> (-13137.52, 25.32003, -33.627, 0, -0.00119159, 1.356e-08, 525809.556, 0, 0))
  private val g0High: Map[String, G0] = Map(
    "Fe_fcc" -> (-27097.396, 300.253, -46.0, 0, 0, 0, 0, 0, -2.79e+31),
    "Fe_bcc-alpha" -> (-25383.581, 299.313, -46.0, 0, 0, 0, 0, 0, 2.30e+31),
    "Fe_HCP" -> (-29340.78, 304.562, -46.0, 0, 0, 0, 0, 0, 2.79e+31),
    "Fe_bcc-delta" -> (-20638.581, 299.313, -46.0, 0, 0, 0, 0, 0, 2.30e+31),
    "Fe_liquid" -> (-10838.83, 291.302, -46.0, 0, 0, 0, 0, 0, 0),
    "FeO" -> (-285203.5, 274.2455, -49.19444, 574.4469, -0.004678477, 0, 297568.8, 0, 0),
    "FeO1.5" -> (-523138.0, 73.37019, -26.96809, 25471.09, -0.008836071, 0, 1498519.0, 0, 0),
    "O2" -> (-13137.52, 25.32003, -33.627, 0, -0.00119159, 1.36e-08, 525809.556, 0, 0))
  private val g0O2LowT: G0 =
    (-6961.7445, -51.0057, -22.271, 0, -1.01977e-2, 1.32369e-8, -7629.7484, 0, 0)

  private val q00 = -5.94e4
  private val q10 = 4.27e4
  private val fePolymorphs = Seq("Fe_fcc", "Fe_bcc-alpha", "Fe_HCP",
    "Fe_bcc-delta", "Fe_liquid")

  /** gibbs0 polynomial over "T_K" (IwFull.gibbs0's op order). */
  private def poly(p: G0): String = {
    val (a, b, c, d, e, f, g, h, i) = p
    s"((((((((${lit(a)} + (${lit(b)} * \"T_K\")) + ((${lit(c)} * \"T_K\") * ln(\"T_K\"))) + " +
      s"(${lit(d)} * ln(\"T_K\"))) + ((${lit(e)} * \"T_K\") * \"T_K\")) + " +
      s"(((${lit(f)} * \"T_K\") * \"T_K\") * \"T_K\")) + (${lit(g)} / \"T_K\")) + " +
      s"(${lit(h)} * pow(\"T_K\", 7.0e0))) + (${lit(i)} * pow(\"T_K\", -9.0e0)))"
  }

  /** gibbs0 with the low/high-T (and O2 low-T) parameter dispatch. */
  private def gibbs0(phase: String): String = {
    val base = s"(CASE WHEN \"T_K\" > 1811.0e0 THEN ${poly(g0High(phase))} " +
      s"ELSE ${poly(g0Low(phase))} END)"
    if (phase == "O2")
      s"(CASE WHEN \"T_K\" < 1000.0e0 THEN ${poly(g0O2LowT)} ELSE $base END)"
    else base
  }

  /** bcc-alpha magnetic correction (IwFull.gibbsFeMagnetic): tc = 1043,
    * pf = 0.4, beta = 2.22, a = 1.55828482. */
  private val magnetic: String = {
    val a = "1.55828482e0"
    val tau = "(\"T_K\" / 1043.0e0)"
    val t1 = s"((79.0e0 / $tau) / (140.0e0 * 0.4e0))"
    val t2 = s"(((474.0e0 / 497.0e0) * ((1.0e0 / 0.4e0) - 1.0e0)) * " +
      s"(((pow($tau, 3.0e0) / 6.0e0) + (pow($tau, 9.0e0) / 135.0e0)) + " +
      s"(pow($tau, 15.0e0) / 600.0e0)))"
    val gmLow = s"(1.0e0 - ((1.0e0 / $a) * ($t1 + $t2)))"
    val gmHigh = s"(((-1.0e0) / $a) * (((pow($tau, -5.0e0) / 10.0e0) + " +
      s"(pow($tau, -15.0e0) / 315.0e0)) + (1.0e0 / 1500.0e0)))"
    s"((CASE WHEN \"T_K\" < 1043.0e0 THEN $gmLow ELSE $gmHigh END) * " +
      s"(($R * \"T_K\") * ln((2.22e0 + 1.0e0))))"
  }

  /** vinetP(v) - pi with a caller-chosen alias prefix for the x lateral. */
  private def fVinet(v: String, tag: String): (String, String) = {
    val xDef = s"pow(($v / v0), $third) AS x_$tag"
    val fx = s"(((((3.0e0 * k0) / (x_$tag * x_$tag)) * (1.0e0 - x_$tag)) * " +
      s"exp(((1.5e0 * (kp0 - 1.0e0)) * (1.0e0 - x_$tag)))) - pi)"
    (xDef, fx)
  }

  private def gammaFeO(x: String): String =
    s"((((${lit(q00)}) + ((2.0e0 * ${lit(q10)}) * (1.0e0 - $x))) * $x) * $x)"
  private def gammaFeO1p5(x: String): String =
    s"((((1.0e0 - $x) * (1.0e0 - $x)) * (((${lit(q00)}) + ${lit(q10)}) - " +
      s"((2.0e0 * ${lit(q10)}) * $x))))"

  /** Wustite equilibrium residual (IwFull.fO2's eqFn), referencing dgw. */
  private def eqFn(x: String): String = {
    val part1 = s"(((0.5e0 * dgw)) + (($R * \"T_K\") * " +
      s"ln((pow((1.0e0 - $x), 1.5e0) / $x))))"
    s"(($part1 + (1.5e0 * ${gammaFeO(x)})) - ${gammaFeO1p5(x)})"
  }

  val sql: String = {
    val phRows = eos.map { case (n, (v0, k0, kp0, a0, d0, kp)) =>
      s"('$n', ${lit(v0)}, ${lit(k0)}, ${lit(kp0)}, ${lit(a0)}, ${lit(d0)}, ${lit(kp)})"
    }.mkString(", ")
    val (xlo, flo) = fVinet("(v0 * 0.3e0)", "lo")
    val (xhi, fhi) = fVinet("(v0 * 1.5e0)", "hi")
    // 60 unrolled bisection stages over the grid-point table. DuckDB gives
    // INPUT COLUMNS precedence over lateral aliases, so the per-stage
    // mid/f live in an inner subquery under fresh names and the outer
    // SELECT prunes back to the carried columns.
    val stages = (1 to 60).map { k =>
      val (xm, fm) = fVinet(s"mid$k", s"s$k")
      s"""b$k AS (SELECT "P_bar", phn, i, pi, v0, k0, kp0, a0, d0, kp, ok,
         | CASE WHEN fm$k > 0.0e0 THEN mid$k ELSE lo END AS lo,
         | CASE WHEN fm$k > 0.0e0 THEN hi ELSE mid$k END AS hi
         | FROM (SELECT "P_bar", phn, i, pi, v0, k0, kp0, a0, d0, kp, ok,
         |   lo, hi, ((lo + hi) * 0.5e0) AS mid$k, $xm, $fm AS fm$k
         |   FROM b${k - 1}) t$k)""".stripMargin.replace("\n", " ")
    }.mkString(",\n ")
    // per-phase VdP integral for one (T, P): thermal factor + trapezoid
    val vList = "list_transform(pts, s -> (s.vr * exp((s.al * (\"T_K\" - 298.15e0)))))"
    val terms = s"list_transform(range(2, 101), k -> " +
      s"((0.5e0 * (vs[CAST(k AS INTEGER)] + vs[CAST((k - 1) AS INTEGER)])) * step))"
    // Gibbs per phase at (T, P): gibbs0 (+magnetic for bcc-alpha)
    // (+VdP*1000 when P > 1 bar)
    def gPhase(phase: String): String = {
      val g0 = if (phase == "Fe_bcc-alpha") s"(${gibbs0(phase)} + $magnetic)"
        else gibbs0(phase)
      if (phase == "O2") g0
      else s"($g0 + (CASE WHEN \"P_bar\" > 1.0e0 THEN vdp_${col(phase)} ELSE 0.0e0 END))"
    }
    def col(phase: String): String = phase.replace("Fe_", "").replace("-", "_")
      .replace(".", "_").toLowerCase
    val vdpCols = eos.map { case (n, _) =>
      s"max(CASE WHEN phn = '$n' THEN vdp END) AS vdp_${col(n)}"
    }.mkString(", ")
    val gFe = s"least(${fePolymorphs.map(gPhase).mkString(", ")})"
    // wustite bisection: 60 unrolled stages over distinct (T, P) — same
    // inner-subquery shape as the Vinet stages (alias-precedence trap)
    val wStages = (1 to 60).map { k =>
      s"""w$k AS (SELECT "T_K", "P_bar", dgw, dg15, wok,
         | CASE WHEN wf$k > 0.0e0 THEN wmid$k ELSE wlo END AS wlo,
         | CASE WHEN wf$k > 0.0e0 THEN whi ELSE wmid$k END AS whi
         | FROM (SELECT "T_K", "P_bar", dgw, dg15, wok, wlo, whi,
         |   ((wlo + whi) * 0.5e0) AS wmid$k, ${eqFn(s"wmid$k")} AS wf$k
         |   FROM w${k - 1}) u$k)""".stripMargin.replace("\n", " ")
    }.mkString(",\n ")
    s"""WITH m AS (SELECT ${Tables.meltCols} FROM lineitem),
       | ps AS (SELECT DISTINCT "P_bar" FROM m),
       | ph AS (SELECT * FROM (VALUES $phRows) t(phn, v0, k0, kp0, a0, d0, kp)),
       | b0 AS (SELECT p."P_bar", ph.*, r.i,
       |   (("P_bar" / 1.0e4) - 1.0e-4) / 99.0e0 AS step,
       |   (1.0e-4 + (r.i * step)) AS pi,
       |   $xlo, $xhi, ($flo > 0.0e0 AND $fhi < 0.0e0) AS ok,
       |   (v0 * 0.3e0) AS lo, (v0 * 1.5e0) AS hi
       |   FROM ps p CROSS JOIN ph CROSS JOIN range(0, 100) r(i)),
       | $stages,
       | vg AS (SELECT "P_bar", phn, i,
       |   (CASE WHEN ok THEN ((lo + hi) * 0.5e0) ELSE v0 END) AS vroom,
       |   (a0 * exp((((-d0) / kp) * (1.0e0 - pow((vroom / v0), kp))))) AS alpha
       |   FROM b60),
       | gl AS (SELECT "P_bar", phn,
       |   list(struct_pack(vr := vroom, al := alpha) ORDER BY i) AS pts
       |   FROM vg GROUP BY 1, 2),
       | tps AS (SELECT DISTINCT "T_K", "P_bar" FROM m),
       | tp AS (SELECT "T_K", "P_bar", phn,
       |   (("P_bar" / 1.0e4) - 1.0e-4) / 99.0e0 AS step,
       |   $vList AS vs,
       |   (list_sum($terms) * 1000.0e0) AS vdp
       |   FROM tps JOIN gl USING ("P_bar")),
       | tpw AS (SELECT "T_K", "P_bar", $vdpCols FROM tp GROUP BY 1, 2),
       | gb AS (SELECT "T_K", "P_bar",
       |   ${gPhase("FeO")} AS g_feo, ${gPhase("FeO1.5")} AS g_feo15,
       |   ${gPhase("O2")} AS g_o2, $gFe AS g_fe
       |   FROM tpw),
       | w0 AS (SELECT "T_K", "P_bar",
       |   ((g_feo15 - g_feo) - (g_o2 / 4.0e0)) AS dg15,
       |   (((3.0e0 * g_feo) - (2.0e0 * g_feo15)) - g_fe) AS dgw,
       |   (${eqFn("1.0e-6")} > 0.0e0 AND ${eqFn("(1.0e0 - 1.0e-6)")} < 0.0e0) AS wok,
       |   1.0e-6 AS wlo, (1.0e0 - 1.0e-6) AS whi
       |   FROM w0pre),
       | $wStages,
       | fin AS (SELECT "T_K", "P_bar",
       |   (CASE WHEN wok THEN ((wlo + whi) * 0.5e0) ELSE 1.0e-6 END) AS x,
       |   (4.0e0 * (((dg15 + (($R * "T_K") * ln((x / (1.0e0 - x))))) +
       |     ${gammaFeO1p5("x")}) - ${gammaFeO("x")})) AS mu
       |   FROM w60)
       | SELECT m."sample_id",
       |   round(log10(exp((mu / ($R * m."T_K")))), 6) AS "log10_fO2"
       | FROM m JOIN fin USING ("T_K", "P_bar")
       | ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
      .replace("FROM w0pre", "FROM gb")
  }
}
