package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, udf}

/** Full QFM oxygen-fugacity buffer with EOS pressure terms
  * (reference `fO2/QFM.py:187-239`): O'Neill (1987) 1-bar polynomial +
  * Tait-EOS VdP of quartz/magnetite/fayalite with Landau excess energy and
  * phase transitions (qtz->coe->stish, fay->ring) solved per temperature.
  *
  * Scale design: fO2 depends only on (T, P), so the cost model is
  * per-DISTINCT-condition. Two formulations, both real (see [[Fo2Dedup]]
  * for the full decision rule):
  *
  *  - default: per-executor memo caches inside a per-row UDF
  *    (transitionCache keyed by T — the only solver work — and fO2Cache
  *    keyed by (T, P)), bounded with partial eviction and accumulator
  *    observability ([[Memo]]) — ONE narrow stage, no shuffle at all.
  *    Right when (T, P) are near-unique continuous doubles: at 100 TB the
  *    distinct set then approaches table cardinality, a broadcast OOMs
  *    the driver, and a shuffle join-back moves the full-width fact
  *    table.
  *  - `spark.graft.fo2.dedupConditions=true`: distinct (T, P) → solve
  *    once cluster-wide → broadcast-join back. Right when conditions are
  *    grid-like (distinct ≪ rows), where it removes even the
  *    once-per-executor recompute. */
object QfmFull {

  val R = 8.31446261815324

  private def muO2OneBar(tK: Double): Double =
    -587474.0 + 1584.427 * tK - 203.3164 * tK * math.log(tK) +
      0.092710 * tK * tK

  /** VdP of the three phases WITHOUT transitions (used to subtract the
    * 1-bar EOS contribution, `fO2/QFM.py:12-30`). */
  private def vdpNoTransitions(tK: Double, pBar: Double): (Double, Double, Double) = {
    val pkbar = pBar / 1e3
    val qtz = Eos.taitVdP("quartz", pkbar, tK) +
      Eos.landauPDependent("quartz", pkbar, tK)
    val fay = Eos.taitVdP("fayalite", pkbar, tK)
    val mt = Eos.taitVdP("magnetite", pkbar, tK)
    (qtz, mt, fay)
  }

  /** Phase-transition pressures (kbar) at T — depend on temperature only,
    * solved with bracketed Brent (reference uses fsolve from a guess of
    * 8 kbar, `fO2/QFM.py:45-63`). Memoised per executor: distinct (T,P)
    * cardinality can be row-scale, but distinct T rarely is. */
  private val transitionCache = new Memo[Double, (Double, Double, Double)](100000)

  def transitionPressures(tK: Double): (Double, Double, Double) =
    transitionCache.getOrFill(tK)(transitionsAt.apply(tK))

  /** Export hit/miss/fill/eviction counters for both memo caches
    * (called by Verify/Bench after session build). */
  def attachMetrics(spark: org.apache.spark.sql.SparkSession): Seq[MemoStats] = {
    val t = MemoStats.attach(spark, "qfm.transitionCache")
    val f = MemoStats.attach(spark, "qfm.fO2Cache")
    transitionCache.attach(t)
    fO2Cache.attach(f)
    Seq(t, f)
  }

  // computeIfAbsent, not get/put: plain get/put lets every task on a cold
  // executor run the same three 60-step solves concurrently before the
  // first put lands (O(distinct T x cores) duplicate work on every fresh
  // executor); computeIfAbsent pays the cold cost once per executor.
  private val transitionsAt: java.util.function.Function[
    Double, (Double, Double, Double)] = { tK =>
    // 60 fixed bisection steps on [1e-3, 500] kbar: the transition Gibbs
    // difference is monotone in P (the downstream polymorph is denser), so
    // the root is unique; deterministic straight-line arithmetic lets the
    // DuckDB oracle ([[graft.QfmSql]]) replicate the solve bit-for-bit
    // (the earlier bracket-expanding Brent had data-dependent branch
    // paths no SQL rendering could follow).
    def solve(p1: String, p2: String): Double = {
      var lo = 1e-3
      var hi = 500.0
      var it = 0
      while (it < 60) {
        val mid = (lo + hi) * 0.5
        if (Eos.phaseTransition(mid, tK, p1, p2) < 0.0) lo = mid else hi = mid
        it += 1
      }
      (lo + hi) * 0.5
    }
    (solve("quartz", "coesite"), solve("coesite", "stishovite"),
      solve("fayalite", "ringwoodite"))
  }

  /** VdP of the three buffer phases WITH polymorph transitions
    * (`fO2/QFM.py:33-102`). */
  def vdpWithTransitions(tK: Double, pBar: Double): (Double, Double, Double) = {
    val pkbar = pBar / 1e3
    val (pQtzCoe, pCoeStish, pFayRing) = transitionPressures(tK)

    var vdpSiO2 = Eos.taitVdP("quartz", math.min(pkbar, pQtzCoe), tK) +
      Eos.landauPDependent("quartz", math.min(pkbar, pQtzCoe), tK)
    if (pkbar > pQtzCoe) {
      vdpSiO2 += Eos.taitVdP("coesite", math.min(pkbar, pCoeStish), tK) -
        Eos.taitVdP("coesite", pQtzCoe, tK)
      if (pkbar > pCoeStish)
        vdpSiO2 += Eos.taitVdP("stishovite", pkbar, tK) -
          Eos.taitVdP("stishovite", pCoeStish, tK)
    }
    var vdpFe2SiO4 = Eos.taitVdP("fayalite", math.min(pkbar, pFayRing), tK)
    if (pkbar > pFayRing)
      vdpFe2SiO4 += Eos.taitVdP("ringwoodite", pkbar, tK) -
        Eos.taitVdP("ringwoodite", pFayRing, tK)
    val vdpMt = Eos.taitVdP("magnetite", pkbar, tK)
    (vdpSiO2, vdpMt, vdpFe2SiO4)
  }

  /** (T, P) -> base fO2 memo, bounded like [[transitionCache]]: repeated
    * conditions skip even the closed-form Tait arithmetic. */
  private val fO2Cache = new Memo[(Double, Double), java.lang.Double](100000)

  /** Spec hook: entries currently memoised (no-insertion law). */
  private[graft] def fO2CacheSize: Int = fO2Cache.size

  private def fO2Base(tK: Double, pBar: Double): java.lang.Double = {
    val (q, m, f) = vdpWithTransitions(tK, pBar)
    val muP = 1e3 * (3.0 * q + 2.0 * m - 3.0 * f)
    val (q1, m1, f1) = vdpNoTransitions(tK, 1.0)
    val mu1barEos = 1e3 * (3.0 * q1 + 2.0 * m1 - 3.0 * f1)
    val mu = muO2OneBar(tK) + (muP - mu1barEos)
    math.exp(mu / (R * tK))
  }

  /** Absolute fO2 (bar) at QFM + logshift, T (K), P (bar)
    * (`fO2/QFM.py:187-239`). */
  def fO2(tK: Double, pBar: Double, logshift: Double = 0.0): Double =
    fO2Cache.getOrFill((tK, pBar))(fO2Base(tK, pBar)).doubleValue *
      math.pow(10.0, logshift)

  /** [[fO2]] with read-only memo probing (no insertion) — used when the
    * auto probe says (T, P) is near-unique, where a write-through memo
    * degenerates to pure insert+evict churn (r14: 2.9M evictions for
    * nothing). Same value either way; the transition cache (keyed by T
    * alone) still memoises the solver work inside. */
  def fO2NoMemo(tK: Double, pBar: Double, logshift: Double = 0.0): Double =
    fO2Cache.getNoInsert((tK, pBar))(fO2Base(tK, pBar)).doubleValue *
      math.pow(10.0, logshift)

  val fO2Udf = udf((tK: Double, pBar: Double, shift: Double) =>
    fO2(tK, pBar, shift))

  private val fO2UdfNoMemo = udf((tK: Double, pBar: Double, shift: Double) =>
    fO2NoMemo(tK, pBar, shift))

  /** Attach an `fO2` column: one narrow per-row UDF stage (memoised per
    * executor — see the scale note in the object doc), or the
    * distinct+join-back plan for grid-like (T, P) — chosen by
    * [[Fo2Dedup.choose]]'s bounded auto probe, or forced via
    * `spark.graft.fo2.dedupConditions`. */
  def withQfm(df: DataFrame, tCol: String, pCol: String,
              logshift: Double = 0.0, as: String = "fO2"): DataFrame =
    Fo2Dedup.formulation(df, tCol, pCol, "qfm") match {
      case Fo2Dedup.DedupPlan =>
        Fo2Dedup.withDeduped(df, tCol, pCol, as)(
          (t, p) => fO2Udf(t, p, lit(logshift)))
      case Fo2Dedup.MemoUdf =>
        df.withColumn(as, fO2Udf(col(tCol), col(pCol), lit(logshift)))
      case Fo2Dedup.NoInsertUdf =>
        // the probe MEASURED near-unique (T, P): read-only memo (free
        // hits from earlier grid queries, zero insert/evict churn)
        df.withColumn(as, fO2UdfNoMemo(col(tCol), col(pCol), lit(logshift)))
    }
}
