package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{approx_count_distinct, broadcast, col, count, lit, struct}

/** Plan-level (T, P) deduplication for the EOS-solver fO2 buffers —
  * SURVEY §2.7's prescription ("fO2 depends only on (T, P, buffer,
  * shift): `distinct()` → compute → join back"), now AUTO-SELECTED per
  * input (r9 verdict #2): the r9 A/B study (`bench_ab/r9_fo2_dedup_study
  * .md`) proved the winning formulation is regime-dependent, so the
  * engine probes the regime instead of asking the user to know it.
  *
  * The two formulations and when each wins at 100 TB:
  *
  *  - **per-row column**: ONE narrow stage, zero shuffle; solver cost is
  *    paid per distinct condition per executor, bounded by the memo cap
  *    with partial eviction ([[Memo]]): QFM's loops memoise their
  *    transitions per T, IW's UDF memoises per (T, P). Right when conditions
  *    are near-unique (continuous instrument readings: distinct ≈ rows,
  *    so no dedup can win and a join-back would shuffle the full-width
  *    fact table) or when the fact side dominates cost.
  *  - **dedup-in-plan**: project (T, P), `distinct` (a narrow two-column
  *    shuffle), run the solver once per condition CLUSTER-WIDE,
  *    broadcast the solved dimension back onto the fact table — no
  *    fact-table shuffle, no per-executor recompute, no cache to thrash.
  *    Right when (T, P) is grid-like (the common physics case:
  *    instruments step temperature/pressure on a lattice), where distinct
  *    cardinality is thousands regardless of row count. If the distinct
  *    set outgrows driver memory, set
  *    `spark.graft.fo2.dedupBroadcast=false` to fall back to a shuffle
  *    join (the fact-side exchange is then the explicit price).
  *
  * **Auto mode** (the default, `spark.graft.fo2.dedupConditions=auto`):
  * a bounded plan-time probe — `approx_count_distinct(struct(T, P))`
  * over the first [[ProbeRows]] rows — estimates the distinct ratio and
  * flips to dedup when distinct/rows < [[DedupRatioThreshold]]. The
  * probe is one LocalLimit + map-side HLL aggregate over two columns:
  * its cost is bounded by ProbeRows regardless of input size (at 100 TB
  * it reads a handful of row groups), and grid-like data is grid-like in
  * any prefix, which is what makes a prefix probe sound. Decisions are
  * memoised per analyzed-plan fingerprint (the probe job runs once per
  * distinct input, not once per query build) and recorded on a bounded
  * queue that `Bench` exports as `fo2_decisions` diag. Explicit
  * `true`/`false` still force a formulation. Inputs smaller than
  * [[MinAutoRows]] skip the probe and keep the memo path — at that size
  * either plan is sub-millisecond and the probe job would cost more than
  * it saves.
  *
  * Correctness is formulation-invariant: the SAME solver runs either way,
  * the join keys are null-safe (`<=>`), and every fact row matches
  * exactly one distinct condition — verified by `Fo2DedupSpec` (including
  * the no-flag auto laws: grid-like input plans the broadcast shape,
  * near-unique input plans narrow) and plan-pinned by `PlanAuditSpec`. */
object Fo2Dedup {

  /** Conf flag: `auto` (default) probes the condition-distinct ratio;
    * `true`/`false` force the dedup / memo formulation. */
  val DedupKey = "spark.graft.fo2.dedupConditions"

  /** Conf flag: broadcast the solved condition dimension (default true);
    * false falls back to a shuffle join for huge distinct sets. */
  val BroadcastKey = "spark.graft.fo2.dedupBroadcast"

  /** Rows the auto probe reads (LocalLimit — bounded at any input size). */
  val ProbeRows = 65536

  /** Auto picks dedup when estimated distinct/rows falls below this.
    * Grid-like regimes measure ~0.02-0.1; near-unique ~1.0 (±HLL error
    * of a few %), so 0.5 splits them with wide margin on both sides. */
  val DedupRatioThreshold = 0.5

  /** Below this many (probed) rows auto skips the probe job and keeps
    * the memo path — formulation cost is noise at that size. */
  val MinAutoRows = 1024L

  /** One auto decision, for diag export. */
  final case class Decision(family: String, dedup: Boolean,
                            distinctEst: Long, rows: Long) {
    def json: String =
      s"""{"family":"$family","dedup":$dedup,"distinct_est":$distinctEst,"rows":$rows}"""
  }

  private val decisions =
    new java.util.concurrent.ConcurrentLinkedQueue[Decision]
  // Decision memo per (analyzed-plan fingerprint, schema fingerprint,
  // columns): the probe is a Spark job — run it once per distinct input,
  // not once per build. semanticHash alone is a 32-bit digest, so the
  // schema string rides along to make an accidental collision reuse the
  // other input's decision only when BOTH hashes collide (and even then
  // the damage is a suboptimal formulation, never a wrong row — both
  // formulations are row-identical by Fo2DedupSpec). Access-order LRU
  // bounded at 128 under a lock: no mid-lookup wipe, unlike the previous
  // size-triggered clear().
  private val probeCache =
    new java.util.LinkedHashMap[(Int, Int, String), Decision](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Int, String), Decision]): Boolean =
        size() > 128
    }

  /** Drain recorded auto decisions (Bench exports them as diag). */
  def drainDecisions(): Seq[Decision] = {
    val b = Seq.newBuilder[Decision]
    var d = decisions.poll()
    while (d != null) { b += d; d = decisions.poll() }
    b.result()
  }

  /** The probe's LocalLimit only bounds its cost when the input is
    * scan-shaped: narrow operators over a leaf stop reading after
    * ProbeRows rows, but a limit ABOVE a join/aggregate/window still
    * executes the full upstream lineage once. Only plans made of leaves
    * + projections/filters are probed; anything heavier keeps the memo path
    * (whose cost the caller already accepted). Repartitions never reach
    * this walk: [[stripRepartitions]] removes them first — probing ABOVE
    * a shuffling repartition would run the exchange's full map side
    * before the limit applied (the r11-advice defect), while probing the
    * repartition's CHILD reads the same rows bounded, because a
    * repartition changes layout, never content. */
  private def probeSafe(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: LeafNode      => true
      case p: Project       => probeSafe(p.child)
      case f: Filter        => probeSafe(f.child)
      case a: SubqueryAlias => probeSafe(a.child)
      case _                => false
    }
  }

  /** Repartition/coalesce nodes are content-identity: the probe (and its
    * decision memo key) runs on the stripped plan, so a `repartition(n)`
    * over a scan probes the SCAN — bounded by the LocalLimit — instead
    * of either paying the exchange's map side (pre-r12) or losing the
    * probe entirely. */
  private[graft] def stripRepartitions(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan.transformUp { case r: RepartitionOperation => r.child }
  }

  /** The three formulations [[formulation]] picks between. [[MemoUdf]]
    * is the per-row column — for IW the write-through memoised UDF
    * (grid-like or UNKNOWN regimes:
    * forced `false`, streaming, non-scan-shaped plans, tiny inputs —
    * everywhere the probe could not measure, insertion is the safe
    * default because repeated conditions may well arrive). [[NoInsertUdf]]
    * is IW's read-only memo for the regime the probe MEASURED as
    * near-unique: insertion there buys almost no hits and the
    * write+evict churn is pure overhead (r14 bench: iw.fO2Cache 2.98M
    * evictions against 0.52M hits); QFM, whose per-row buffer is closed
    * form over T-keyed transitions, runs its plain column for both.
    * [[DedupPlan]] is distinct + solve-once + broadcast-back. */
  sealed trait Formulation
  case object DedupPlan extends Formulation
  case object MemoUdf extends Formulation
  case object NoInsertUdf extends Formulation

  /** Boolean compatibility wrapper: true = dedup-in-plan. */
  def choose(df: DataFrame, tCol: String, pCol: String,
             family: String): Boolean =
    formulation(df, tCol, pCol, family) == DedupPlan

  /** Formulation choice for this input: conf override, or the bounded
    * auto probe (memoised per input plan). Auto runs an EAGER Spark job
    * at query-build time, so it is skipped — memo path, the pre-auto
    * default — for streaming inputs (a limit+complete-agg+head on a
    * stream throws AnalysisException) and for non-scan-shaped plans
    * (where the limit would not bound the probe's cost). A probe that
    * RAN and measured near-unique conditions picks the read-only memo. */
  def formulation(df: DataFrame, tCol: String, pCol: String,
                  family: String): Formulation =
    df.sparkSession.conf.get(DedupKey, "auto") match {
      case "true"  => DedupPlan
      case "false" => MemoUdf
      case _ if df.isStreaming => MemoUdf
      case _ if !probeSafe(stripRepartitions(df.queryExecution.analyzed)) =>
        MemoUdf
      case _ =>
        val stripped = stripRepartitions(df.queryExecution.analyzed)
        val key = (stripped.semanticHash(),
          df.schema.catalogString.hashCode, s"$tCol|$pCol")
        val cached = probeCache.synchronized(Option(probeCache.get(key)))
        val d = cached.getOrElse {
          // probe OUTSIDE the lock: two threads racing the same input at
          // worst duplicate the bounded job and agree on the decision.
          // The probe runs on the repartition-STRIPPED plan: same rows,
          // but the LocalLimit sits directly above the scan, so it stops
          // reading at ProbeRows instead of paying an exchange map side.
          val probeDf = org.apache.spark.sql.GraftSqlBridge
            .ofRows(df.sparkSession, stripped)
          val r = probeDf.select(col(tCol), col(pCol)).limit(ProbeRows)
            .agg(approx_count_distinct(struct(col(tCol), col(pCol)))
              .as("d"), count(lit(1)).as("n"))
            .head()
          val (dist, n) = (r.getLong(0), r.getLong(1))
          val nd = Decision(family,
            n >= MinAutoRows && dist.toDouble / math.max(1L, n) < DedupRatioThreshold,
            dist, n)
          probeCache.synchronized(probeCache.put(key, nd))
          nd
        }
        decisions.add(d.copy(family = family))
        while (decisions.size > 64) decisions.poll()
        if (d.dedup) DedupPlan
        // a probe that ran on a real sample (>= MinAutoRows) and kept the
        // memo path measured near-unique conditions: skip insertion
        else if (d.rows >= MinAutoRows) NoInsertUdf
        else MemoUdf
    }

  /** `df` + column `as` = `f(tCol, pCol)` computed once per distinct
    * (T, P) condition in the plan. */
  def withDeduped(df: DataFrame, tCol: String, pCol: String, as: String)
                 (f: (Column, Column) => Column): DataFrame = {
    val conds = df.select(col(tCol).as("__fo2_t"), col(pCol).as("__fo2_p"))
      .distinct()
    val solved0 = conds.withColumn(as, f(col("__fo2_t"), col("__fo2_p")))
    val doBcast = df.sparkSession.conf.get(BroadcastKey, "true").toBoolean
    val solved = if (doBcast) broadcast(solved0) else solved0
    df.join(solved,
        col(tCol) <=> col("__fo2_t") && col(pCol) <=> col("__fo2_p"), "left")
      .drop("__fo2_t", "__fo2_p")
  }
}
