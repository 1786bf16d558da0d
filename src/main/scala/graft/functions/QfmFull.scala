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
  *    (transitionCache keyed by T, holding the per-T plan [[AtT]]: the
  *    transition solves — the only solver work — and every
  *    temperature-only EOS term; fO2Cache keyed by (T, P)), bounded with
  *    partial eviction and accumulator observability ([[Memo]]) — ONE
  *    narrow stage, no shuffle at all. A row that misses fO2Cache does
  *    only its pressure arithmetic on the per-T plan.
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

  /** Everything of the buffer that depends on T alone, built once per T:
    * the three phase-transition pressures (kbar), each phase's
    * temperature-only Tait terms, the 1-bar EOS contribution and
    * `muO2OneBar`. A row then does only its pressure arithmetic
    * ([[fO2Base]]). */
  private final class AtT(tK: Double) {
    private val qtz = new Eos.PhaseAtT("quartz", tK)
    private val coe = new Eos.PhaseAtT("coesite", tK)
    private val stish = new Eos.PhaseAtT("stishovite", tK)
    private val fay = new Eos.PhaseAtT("fayalite", tK)
    private val ring = new Eos.PhaseAtT("ringwoodite", tK)
    private val mt = new Eos.PhaseAtT("magnetite", tK)

    // 60 fixed bisection steps on [1e-3, 500] kbar (the reference uses
    // fsolve from a guess of 8 kbar, `fO2/QFM.py:45-63`): the transition
    // Gibbs difference is monotone in P (the downstream polymorph is
    // denser), so the root is unique; deterministic straight-line
    // arithmetic lets the DuckDB oracle ([[graft.QfmSql]]) replicate the
    // solve bit-for-bit (the earlier bracket-expanding Brent had
    // data-dependent branch paths no SQL rendering could follow).
    private def solve(p1: Eos.PhaseAtT, p2: Eos.PhaseAtT): Double = {
      var lo = 1e-3
      var hi = 500.0
      var it = 0
      while (it < 60) {
        val mid = (lo + hi) * 0.5
        if (p1.gibbs(mid) - p2.gibbs(mid) < 0.0) lo = mid else hi = mid
        it += 1
      }
      (lo + hi) * 0.5
    }

    val pQtzCoe: Double = solve(qtz, coe)
    val pCoeStish: Double = solve(coe, stish)
    val pFayRing: Double = solve(fay, ring)

    // VdP at the transition pressures, subtracted past each transition
    private val coeAtQtzCoe = coe.tait.vdp(pQtzCoe)
    private val stishAtCoeStish = stish.tait.vdp(pCoeStish)
    private val ringAtFayRing = ring.tait.vdp(pFayRing)

    /** The 1-bar EOS contribution, phases WITHOUT transitions
      * (`fO2/QFM.py:12-30`). */
    private val mu1barEos = {
      val pkbar = 1.0 / 1e3
      val q1 = qtz.tait.vdp(pkbar) + qtz.landauPDependent(pkbar)
      val f1 = fay.tait.vdp(pkbar)
      val m1 = mt.tait.vdp(pkbar)
      1e3 * (3.0 * q1 + 2.0 * m1 - 3.0 * f1)
    }
    private val muOneBar = muO2OneBar(tK)
    private val rT = R * tK

    /** Base fO2 at P: the buffer phases' VdP WITH polymorph transitions
      * (`fO2/QFM.py:33-102`) on top of the 1-bar terms. */
    def fO2(pBar: Double): Double = {
      val pkbar = pBar / 1e3
      val pSiO2 = math.min(pkbar, pQtzCoe)
      var vdpSiO2 = qtz.tait.vdp(pSiO2) + qtz.landauPDependent(pSiO2)
      if (pkbar > pQtzCoe) {
        vdpSiO2 += coe.tait.vdp(math.min(pkbar, pCoeStish)) - coeAtQtzCoe
        if (pkbar > pCoeStish)
          vdpSiO2 += stish.tait.vdp(pkbar) - stishAtCoeStish
      }
      var vdpFe2SiO4 = fay.tait.vdp(math.min(pkbar, pFayRing))
      if (pkbar > pFayRing)
        vdpFe2SiO4 += ring.tait.vdp(pkbar) - ringAtFayRing
      val vdpMt = mt.tait.vdp(pkbar)
      val muP = 1e3 * (3.0 * vdpSiO2 + 2.0 * vdpMt - 3.0 * vdpFe2SiO4)
      val mu = muOneBar + (muP - mu1barEos)
      math.exp(mu / rT)
    }
  }

  /** The per-T plan ([[AtT]]) memoised per executor: distinct (T,P)
    * cardinality can be row-scale, but distinct T rarely is. */
  private val transitionCache = new Memo[Double, AtT](100000)

  private def atT(tK: Double): AtT = transitionCache.getOrFill(tK)(new AtT(tK))

  /** Phase-transition pressures (kbar) at T: quartz→coesite,
    * coesite→stishovite, fayalite→ringwoodite. */
  def transitionPressures(tK: Double): (Double, Double, Double) = {
    val a = atT(tK)
    (a.pQtzCoe, a.pCoeStish, a.pFayRing)
  }

  /** Export hit/miss/fill/eviction counters for both memo caches
    * (called by Verify/Bench after session build). */
  def attachMetrics(spark: org.apache.spark.sql.SparkSession): Seq[MemoStats] = {
    val t = MemoStats.attach(spark, "qfm.transitionCache")
    val f = MemoStats.attach(spark, "qfm.fO2Cache")
    transitionCache.attach(t)
    fO2Cache.attach(f)
    Seq(t, f)
  }

  /** (T, P) -> base fO2 memo, bounded like [[transitionCache]]: repeated
    * conditions skip even the closed-form Tait arithmetic. */
  private val fO2Cache = new Memo[(Double, Double), java.lang.Double](100000)

  /** Spec hook: entries currently memoised (no-insertion law). */
  private[graft] def fO2CacheSize: Int = fO2Cache.size

  private[graft] def fO2Base(tK: Double, pBar: Double): java.lang.Double =
    atT(tK).fO2(pBar)

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
