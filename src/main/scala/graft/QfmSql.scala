package graft

import graft.expr.E
import graft.functions.{Eos, QfmFull}

/** DuckDB oracle rendering of `q_fo2_qfm_full`: the full QFM buffer with
  * Tait-EOS VdP, Landau excess energy and polymorph transitions
  * (`functions/QfmFull` / `functions/Eos`).
  *
  * The phase-transition pressures depend on temperature only and the
  * engine solves them with 60 fixed bisection steps (memoised per T); the
  * oracle mirrors that exactly — a recursive CTE over DISTINCT T x the
  * three transitions, replicating the Gibbs-difference arithmetic
  * operation-for-operation — then evaluates the same Tait/Landau VdP and
  * mu assembly per row. Every T-independent constant (Tait a/b/c, theta,
  * xi0, Cp integrals at Tref, ...) is computed by the SAME Scala
  * arithmetic at render time and baked as an e-notation literal, so both
  * engines run identical IEEE operations.
  */
object QfmSql {

  private def lit(v: Double): String = E.formatDouble(v)

  /** T-independent Tait/thermal constants of one phase, computed with the
    * exact operation order of `Eos.taitVdP` / `Eos.enthalpy` /
    * `Eos.entropy`. */
  private final case class Ph(tag: String, name: String) {
    val p: Eos.Phase = Eos.phases(name)
    val theta: Double = 10636.0 / (p.s / p.n + 6.44)
    val u0: Double = theta / 298.15
    val xi0: Double =
      u0 * u0 * math.exp(u0) / math.pow(math.exp(u0) - 1.0, 2.0)
    val a: Double = (1.0 + p.dKdP) / (1.0 + p.dKdP + p.K0 * p.dKdP2)
    val b: Double = p.dKdP / p.K0 - p.dKdP2 / (1.0 + p.dKdP)
    val c: Double = (1.0 + p.dKdP + p.K0 * p.dKdP2) /
      (p.dKdP * p.dKdP + p.dKdP - p.K0 * p.dKdP2)
    val pref: Double = p.a0 * p.K0 * theta / xi0
    val inv0: Double = 1.0 / (math.exp(u0) - 1.0)
    val e: Double = 1.0 - c
    val bc1: Double = b * (c - 1.0)
    private def ih(t: Double): Double =
      p.cpA * t + 0.5 * p.cpB * t * t - p.cpC / t + 2.0 * p.cpD * math.sqrt(t)
    private def is(t: Double): Double =
      p.cpA * math.log(t) + p.cpB * t - p.cpC / 2.0 / (t * t) -
        2.0 * p.cpD / math.sqrt(t)
    val ihRef: Double = ih(298.15)
    val isRef: Double = is(298.15)
    val s1e3: Double = p.s / 1e3

    /** pth(T): SQL over the "T_K" column (per-T CTE). */
    def pthSql: String =
      s"(${lit(pref)} * ((1.0e0 / (exp((${lit(theta)} / \"T_K\")) - 1.0e0)) - ${lit(inv0)}))"
    /** signedPow(1 - b pth, 1 - c): per-T column, given the pth column. */
    def sp1Sql: String = {
      val x = s"(1.0e0 - (${lit(b)} * pth_$tag))"
      s"(sign($x) * pow(abs($x), ${lit(e)}))"
    }
    /** Gibbs constant part h + Cp integrals: per-T column. */
    def gcSql: String = {
      val ihT = s"((((${lit(p.cpA)} * \"T_K\") + (((0.5e0 * ${lit(p.cpB)}) * \"T_K\") * \"T_K\")) - " +
        s"(${lit(p.cpC)} / \"T_K\")) + ((2.0e0 * ${lit(p.cpD)}) * sqrt(\"T_K\")))"
      val isT = s"((((${lit(p.cpA)} * ln(\"T_K\")) + (${lit(p.cpB)} * \"T_K\")) - " +
        s"(((${lit(p.cpC)} / 2.0e0)) / (\"T_K\" * \"T_K\"))) - ((2.0e0 * ${lit(p.cpD)}) / sqrt(\"T_K\")))"
      s"((${lit(p.h)} + ($ihT - ${lit(ihRef)})) - " +
        s"(\"T_K\" * (${lit(s1e3)} + ($isT - ${lit(isRef)}))))"
    }
    /** taitVdP at pressure expression `pe` (kbar), referencing the per-T
      * columns pth_<tag> and sp1_<tag>. */
    def tait(pe: String): String = {
      val xx = s"(1.0e0 + (${lit(b)} * ($pe - pth_$tag)))"
      val part2 = s"(sign($xx) * pow(abs($xx), ${lit(e)}))"
      val part3 = s"(${lit(bc1)} * $pe)"
      s"(($pe * ${lit(p.v0)}) * ((1.0e0 - ${lit(a)}) + " +
        s"((${lit(a)} * (sp1_$tag - $part2)) / $part3)))"
    }
  }

  private val q = Ph("q", "quartz")
  private val co = Ph("c", "coesite")
  private val st = Ph("s", "stishovite")
  private val fa = Ph("f", "fayalite")
  private val ri = Ph("r", "ringwoodite")
  private val mt = Ph("m", "magnetite")
  private val allPh = Seq(q, co, st, fa, ri, mt)

  /** Landau excess of quartz at pressure `pe` (kbar) (`Eos.landau`). */
  private def landauQ(pe: String): String = {
    val pp = q.p
    val q20 = math.sqrt(1.0 - 298.15 / pp.tc0)
    val q203 = q20 * q20 * q20
    val tc = s"(${lit(pp.tc0)} + (($pe * ${lit(pp.vmax)}) / ${lit(pp.smax)}))"
    val q2 = s"(CASE WHEN \"T_K\" > $tc THEN 0.0e0 ELSE sqrt(($tc - \"T_K\") / ${lit(pp.tc0)}) END)"
    val inner = s"(((${lit(pp.tc0)} * (${lit(q20)} + (((($q2 * $q2) * $q2) - ${lit(q203)}) / 3.0e0))) - " +
      s"($tc * $q2)) - (\"T_K\" * (${lit(q20)} - $q2)))"
    s"((${lit(pp.smax)} * $inner) + (($pe * ${lit(pp.vmax)}) * ${lit(q20)}))"
  }

  /** landau(quartz, 0, T, vmax = 0): per-T constant (`landauPDependent`'s
    * subtrahend); tc = tc0 + 0*0/smax = tc0, + 0*0*q20 = +0.0. */
  private def landauQ0: String = {
    val pp = q.p
    val q20 = math.sqrt(1.0 - 298.15 / pp.tc0)
    val q203 = q20 * q20 * q20
    val tc = lit(pp.tc0)
    val q2 = s"(CASE WHEN \"T_K\" > $tc THEN 0.0e0 ELSE sqrt(($tc - \"T_K\") / ${lit(pp.tc0)}) END)"
    val inner = s"(((${lit(pp.tc0)} * (${lit(q20)} + (((($q2 * $q2) * $q2) - ${lit(q203)}) / 3.0e0))) - " +
      s"($tc * $q2)) - (\"T_K\" * (${lit(q20)} - $q2)))"
    s"((${lit(pp.smax)} * $inner) + 0.0e0)"
  }

  /** landauPDependent(quartz, pe, T) given the per-T column lnd0_q. */
  private def lpdQ(pe: String): String = s"(${landauQ(pe)} - lnd0_q)"

  val sql: String = {
    val R = lit(QfmFull.R)
    val tCols = allPh.map(ph => s"${ph.pthSql} AS pth_${ph.tag}").mkString(", ") +
      ", " + allPh.map(ph => s"${ph.sp1Sql} AS sp1_${ph.tag}").mkString(", ") +
      ", " + Seq(q, co, st, fa, ri).map(ph => s"${ph.gcSql} AS gc_${ph.tag}").mkString(", ") +
      s", $landauQ0 AS lnd0_q"
    val carry = "\"T_K\", " +
      allPh.map(ph => s"pth_${ph.tag}").mkString(", ") + ", " +
      allPh.map(ph => s"sp1_${ph.tag}").mkString(", ") + ", " +
      Seq(q, co, st, fa, ri).map(ph => s"gc_${ph.tag}").mkString(", ")
    // transition Gibbs differences (Eos.phaseTransition: g1 - g2,
    // gibbs = ((const + tait) [+ landau for quartz]))
    def gPair(p1: Ph, p2: Ph, withLandau1: Boolean)(pe: String): String = {
      val g1base = s"(gc_${p1.tag} + ${p1.tait(pe)})"
      val g1 = if (withLandau1) s"($g1base + ${landauQ(pe)})" else g1base
      s"($g1 - (gc_${p2.tag} + ${p2.tait(pe)}))"
    }
    val gSel =
      s"""CASE WHEN pair = 0 THEN ${gPair(q, co, withLandau1 = true)("mid")}
         |     WHEN pair = 1 THEN ${gPair(co, st, withLandau1 = false)("mid")}
         |     ELSE ${gPair(fa, ri, withLandau1 = false)("mid")} END"""
        .stripMargin.replace("\n", " ")
    // row-level VdP with transitions (QfmFull's per-T plan, AtT.fO2)
    val baseSiO2 = s"(${q.tait("least(pk, tqc)")} + ${lpdQ("least(pk, tqc)")})"
    val e1 = s"((${co.tait("least(pk, tcs)")}) - (${co.tait("tqc")}))"
    val e2 = s"((${st.tait("pk")}) - (${st.tait("tcs")}))"
    val vdpSiO2 =
      s"""(CASE WHEN pk > tqc THEN
         |   (CASE WHEN pk > tcs THEN (($baseSiO2 + $e1) + $e2)
         |         ELSE ($baseSiO2 + $e1) END)
         | ELSE $baseSiO2 END)""".stripMargin.replace("\n", " ")
    val baseFay = fa.tait("least(pk, tfr)")
    val vdpFay =
      s"""(CASE WHEN pk > tfr THEN ($baseFay + ((${ri.tait("pk")}) - (${ri.tait("tfr")})))
         | ELSE $baseFay END)""".stripMargin.replace("\n", " ")
    val vdpMt = mt.tait("pk")
    // 1-bar EOS contribution (vdpNoTransitions(T, 1.0): pkbar = 0.001)
    val q1 = s"(${q.tait("0.001e0")} + ${lpdQ("0.001e0")})"
    val f1 = fa.tait("0.001e0")
    val m1 = mt.tait("0.001e0")
    val muO2 =
      s"""((((-587474.0e0) + (1584.427e0 * "T_K")) -
         | ((203.3164e0 * "T_K") * ln("T_K"))) +
         | ((0.09271e0 * "T_K") * "T_K"))""".stripMargin.replace("\n", " ")
    s"""WITH RECURSIVE
       | m AS (SELECT ${Tables.meltCols} FROM lineitem),
       | ts AS (SELECT DISTINCT "T_K" FROM m),
       | tprep AS (SELECT "T_K", $tCols FROM ts),
       | tr AS (
       |   SELECT $carry, lnd0_q, pair, 0 AS it, 0.001e0 AS lo, 500.0e0 AS hi
       |   FROM tprep CROSS JOIN (SELECT unnest([0, 1, 2]) AS pair) pr
       |   UNION ALL
       |   SELECT $carry, lnd0_q, pair, it + 1,
       |     CASE WHEN g < 0.0e0 THEN mid ELSE lo END,
       |     CASE WHEN g < 0.0e0 THEN hi ELSE mid END
       |   FROM (SELECT $carry, lnd0_q, pair, it, lo, hi,
       |           ((lo + hi) * 0.5e0) AS mid, ($gSel) AS g
       |         FROM tr WHERE it < 60) t),
       | trf AS (SELECT "T_K",
       |   max(CASE WHEN pair = 0 THEN root END) AS tqc,
       |   max(CASE WHEN pair = 1 THEN root END) AS tcs,
       |   max(CASE WHEN pair = 2 THEN root END) AS tfr
       |   FROM (SELECT "T_K", pair, ((lo + hi) * 0.5e0) AS root FROM tr
       |         WHERE it = 60) tt GROUP BY 1),
       | rowv AS (SELECT m."sample_id", m."T_K", ("P_bar" / 1000.0e0) AS pk,
       |     tqc, tcs, tfr, ${allPh.map(ph => s"pth_${ph.tag}").mkString(", ")},
       |     ${allPh.map(ph => s"sp1_${ph.tag}").mkString(", ")}, lnd0_q
       |   FROM m JOIN tprep USING ("T_K") JOIN trf USING ("T_K")),
       | fo2 AS (SELECT "sample_id",
       |   (($muO2) + ((1000.0e0 * (((3.0e0 * $vdpSiO2) + (2.0e0 * $vdpMt)) -
       |     (3.0e0 * $vdpFay))) -
       |    (1000.0e0 * (((3.0e0 * $q1) + (2.0e0 * $m1)) - (3.0e0 * $f1))))) AS mu,
       |   "T_K"
       |   FROM rowv)
       | SELECT "sample_id",
       |   round(log10(exp((mu / ($R * "T_K")))), 6) AS "log10_fO2"
       | FROM fo2 ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
  }
}
