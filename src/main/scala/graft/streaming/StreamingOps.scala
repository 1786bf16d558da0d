package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming lift of the engine's operators.
  *
  * All reference operators are stateless per-row maps after joins
  * (SURVEY.md §2.8), so the scalar expression library applies to streaming
  * DataFrames unchanged — `select` with the same Columns. This module adds
  * the genuinely streaming pieces: windowed aggregation with watermarks,
  * streaming exact-dedup, and custom sessionization state.
  */
object StreamingOps {

  /** Conf key bounding the per-(key, micro-batch) sort buffer of the
    * stateful group operators ([[streamingAsOf]], [[sessionize]]). Both
    * sort a group's batch rows to process them in event-time order; a
    * hot key in a large micro-batch would otherwise buffer the whole
    * group in one task's memory. Rows past the cap are processed in
    * cap-sized chunks (each chunk sorted, state threaded across chunks)
    * and COUNTED on the operator's overflow accumulator:
    *
    *  - for event-time-ordered arrival — the documented precondition of
    *    the batch-parity law — chunked sorting is exact (sorting chunks
    *    of an ordered stream is the identity), so correctness survives
    *    overflow;
    *  - intra-batch disorder that straddles a chunk boundary is the one
    *    case that can deviate from the single-sort semantics, and the
    *    overflow count reports exactly when that risk existed.
    *
    * Default 1M rows ≈ tens of MB per group-batch — far above any sane
    * micro-batch per key, low enough to never OOM a task. */
  val MaxGroupBufferKey = "spark.graft.streaming.maxGroupBuffer"

  private def maxGroupBuffer(df: DataFrame): Int =
    df.sparkSession.conf.get(MaxGroupBufferKey, "1048576").toInt

  /** Executor-side warning when a group's micro-batch rows exceed the
    * sort-buffer cap: the overflow accumulator counts it, but divergence
    * risk (out-of-order arrival straddling a chunk boundary) should be
    * visible in the logs without inspecting accumulators. Logged once per
    * (group, batch) invocation, not per chunk. */
  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.streaming")
  private[graft] def warnOverflow(op: String, key: Any, cap: Int): Unit =
    log.warn(s"$op: group $key exceeded the sort-buffer cap $cap; rows " +
      "processed in cap-sized chunks - out-of-order arrival across chunk " +
      "boundaries can diverge from batch semantics (see " +
      s"$MaxGroupBufferKey and the overflow accumulator)")

  /** One group's micro-batch rows in `cap`-sized chunks, each sorted by
    * the caller with state threaded across them: every row past the first
    * chunk is counted on `overflow`, and the first overflow is logged. */
  private def capped[T](op: String, key: Any, rows: Iterator[T], cap: Int,
                        overflow: org.apache.spark.util.LongAccumulator)
      : Iterator[Seq[T]] =
    rows.grouped(cap).zipWithIndex.map { case (chunk, i) =>
      if (i > 0) {
        if (i == 1) warnOverflow(op, key, cap)
        overflow.add(chunk.size)
      }
      chunk
    }

  /** Read the events table as a file-source stream (one-file-per-trigger
    * emulation for tests; on a cluster this is a Kafka/file drop source). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")
      .parquet(s"$dir/events.parquet")

  /** JSONL drop-folder ingest as a stream: the streaming twin of
    * [[graft.ext.CorpusIO.readJsonl]]. Schema is explicit (a streaming
    * source cannot infer, and at corpus scale we would not want it to);
    * `maxFilesPerTrigger` bounds each micro-batch so a backlog of
    * thousands of dropped files drains in bounded-memory steps instead of
    * one giant batch. */
  def jsonlCorpusStream(spark: SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType,
                        maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** Quality gate at the ingest edge: language-ID + composite quality
    * score from the SAME codegen'd expression trees as the batch queries
    * (the scalar library lifts onto streams unchanged), low-quality rows
    * dropped before any stateful operator holds them. */
  def corpusQualityGate(docs: DataFrame, minQuality: Double): DataFrame = {
    import graft.expr.{C, E}
    import graft.ext.{TextAnalysis => TA}
    docs
      .withColumn("quality", E.toColumn(TA.qualityScore(C("text"))))
      .withColumn("lang_pred", E.toColumn(TA.langId(C("text"))))
      .filter(col("quality") >= minQuality)
  }

  /** Hourly tumbling-window counts per event type with a 2-hour watermark:
    * late rows beyond the watermark are dropped, state is bounded. */
  def hourlyCounts(events: DataFrame): DataFrame = {
    val withTs = events.withColumn("event_time",
      timestamp_micros(expr("ts div 1000")))
    withTs
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Decontamination at the ingest edge: drop arriving documents that
    * share any word shingle with a STATIC evaluation set — the streaming
    * twin of [[graft.ext.PipelineOps.decontaminate]].
    *
    * The eval set is an evaluation benchmark (KBs-to-MBs), so its distinct
    * shingle hashes are collected once at plan-build time and shipped as
    * an array literal: the check is a stateless per-row `arrays_overlap`
    * (hash-set probe) — no stream-side join, no state store, nothing for
    * a watermark to bound. Contaminated docs never reach downstream
    * stateful operators. */
  def streamingDecontaminate(docs: DataFrame, evalDocs: DataFrame,
                             shingleSize: Int = 3): DataFrame = {
    val shingles = (text: Column) => array_distinct(
      graft.expressions.VectorExpressions
        .shingleHashes(split(text, " "), shingleSize))
    val evalHashes = evalDocs.select(explode(shingles(col("text"))).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    docs.filter(!arrays_overlap(shingles(col("text")), typedLit(evalHashes)))
  }

  /** Streaming contamination-span reporting — the stream twin of
    * [[graft.ext.SpanDedup.contaminationSpans]]. The eval set is static
    * (a benchmark), so like [[streamingDecontaminate]] its distinct
    * k-gram hashes ship as a plan literal and the whole operator is a
    * STATELESS per-row map: each arriving document's matching gram
    * positions fold into merged spans with an `aggregate` over the
    * ascending position list (the same islands the batch window
    * computes — p <= last end merges, else a new span), then explode.
    * Nothing for a watermark to bound; batch parity is exact
    * (`StreamingSpec`). */
  def streamingContaminationSpans(docs: DataFrame, evalDocs: DataFrame,
                                  k: Int = 3): DataFrame = {
    val evalHashes = evalDocs
      .select(explode(graft.ext.SpanDedup.gramHashArr("text", k)).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val g = graft.ext.SpanDedup.gramHashArr("text", k)
    // Docs shorter than k tokens have an EMPTY gram array; sequence(0, -1)
    // would then emit the descending [0, -1] (Spark's documented reverse
    // step) and the filter's element_at would throw on every short doc —
    // clamp to an empty position list instead, exactly like the batch
    // operator, whose posexplode of the empty gram array yields no rows.
    val gc = col("__g")
    val positions = when(size(gc) === 0, typedLit(Seq.empty[Long]))
      .otherwise(filter(sequence(lit(0L), size(gc).cast("long") - 1),
        i => array_contains(typedLit(evalHashes), element_at(gc, (i + 1).cast("int")))))
    // empty array with the span struct schema (filter-to-empty: a typed
    // empty literal of array<struct> has no direct constructor)
    val empty = filter(array(struct(lit(0L).as("s"), lit(0L).as("e"))),
      _ => lit(false))
    val spans = aggregate(col("__pos"), empty, (acc, p) => {
      val last = element_at(acc, -1)
      val merged = concat(slice(acc, lit(1), size(acc) - 1),
        array(struct(last.getField("s").as("s"), (p + lit(k - 1)).as("e"))))
      val appended = concat(acc,
        array(struct(p.as("s"), (p + lit(k - 1)).as("e"))))
      when(size(acc) > 0 && p <= last.getField("e"), merged)
        .otherwise(appended)
    })
    docs
      .withColumn("__g", g)
      .withColumn("__pos", positions)
      .withColumn("__span", explode(spans))
      .select(col("doc_id"),
        col("__span.s").as("span_start"), col("__span.e").as("span_end"),
        (col("__span.e") - col("__span.s") + 1).as("span_tokens"))
  }

  /** Streaming exact dedup on a content fingerprint with watermarked state:
    * the streaming counterpart of [[graft.ext.Dedup.exact]].
    * `dropDuplicatesWithinWatermark` keeps only in-horizon fingerprints. */
  def streamingDedup(docs: DataFrame, eventTimeCol: String,
                     watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col("text").cast("binary")))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("fp"))

  /** Streaming NEAR-duplicate detection: SimHash banding with explicit
    * per-bucket state (the streaming counterpart of
    * [[graft.ext.Dedup.simhashNearDupPairs]]). Each doc's signature is
    * split into `bands` bit-bands; state is keyed by (band, value), so
    * any arriving doc within Hamming distance < bands of a seen doc hits
    * at least one populated bucket (pigeonhole) and the exact bit-count
    * check runs against that bucket's remembered signatures only. Emits
    * (doc_id, dup_of, hamming, event_time) for detected near-dups.
    *
    * State is bounded on BOTH axes — the 100 TB/day requirement:
    *  - per-bucket: at most `maxPerBucket` signatures (FIFO);
    *  - across buckets: event-time timeout. A bucket whose last activity
    *    is `retentionMs` behind the watermark is evicted, so the
    *    (band, value) key space cannot grow without bound on an unbounded
    *    stream (a doc can only match near-dups within the retention
    *    horizon — same contract as [[streamingDedup]]).
    *
    * A doc matching the same stored doc in several bands is emitted once,
    * collapsed IN-operator (Spark rejects stateful operators downstream
    * of flatMapGroupsWithState): every bucket that sees a matching pair
    * derives, from the two signatures alone, the pair's MINIMAL colliding
    * band, and only that band's bucket emits — the standard banded-LSH
    * ownership rule, needing no cross-bucket communication. A doc can
    * still be reported once per DISTINCT earlier near-duplicate it
    * matches in disjoint buckets, which is a different event, not a
    * banding artifact. */
  final case class BucketState(ids: List[Long], sigs: List[Long], lastMs: Long)
  final case class NearDup(doc_id: Long, dup_of: Long, hamming: Int,
                           event_time: java.sql.Timestamp)

  def streamingSimhashNearDup(docs: DataFrame, eventTimeCol: String,
                              watermark: String = "1 hour",
                              retentionMs: Long = 3600L * 1000L,
                              maxHamming: Int = 3, bands: Int = 4,
                              maxPerBucket: Int = 64): DataFrame = {
    import docs.sparkSession.implicits._
    require(maxHamming < bands)
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = docs.select(col("doc_id").cast("long"),
        graft.ext.Dedup.simhash(split(col("text"), " ")).as("sig"),
        col(eventTimeCol).cast("timestamp").as("event_time"))
      .withWatermark("event_time", watermark)
      .select(col("doc_id"), col("sig"), col("event_time"),
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          shiftright(col("sig"), b * width).bitwiseAND(lit(mask))
            .as("value"))): _*)).as("bv"))
      .select(col("doc_id"), col("sig"), col("event_time"),
        col("bv.band"), col("bv.value"))
      .as[(Long, Long, java.sql.Timestamp, Int, Long)]
    // smallest band index where the two signatures agree — exists for any
    // pair within hamming < bands (pigeonhole); that band OWNS the pair
    def ownerBand(a: Long, b: Long): Int = {
      var bd = 0
      while (bd < bands && ((a >>> (bd * width)) & mask) != ((b >>> (bd * width)) & mask)) bd += 1
      bd
    }
    banded.groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState[BucketState, NearDup](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((thisBand, _), rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed last activity + retention
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(BucketState(Nil, Nil, 0L))
            val out = Seq.newBuilder[NearDup]
            for ((id, sig, ts, _, _) <- rows.toSeq.sortBy(_._1)) {
              val hits = st.ids.zip(st.sigs).filter { case (_, s) =>
                java.lang.Long.bitCount(s ^ sig) <= maxHamming }
              if (hits.isEmpty) {
                st = BucketState((id :: st.ids).take(maxPerBucket),
                  (sig :: st.sigs).take(maxPerBucket), st.lastMs)
              } else {
                // emit only pairs this band owns; other matching bands of
                // the same pair stay silent
                hits.find { case (_, s) => ownerBand(sig, s) == thisBand }
                  .foreach { case (origId, s) =>
                    out += NearDup(id, origId,
                      java.lang.Long.bitCount(s ^ sig), ts)
                  }
              }
              st = st.copy(lastMs = math.max(st.lastMs, ts.getTime))
            }
            state.update(st)
            // timeout must stay ahead of the current watermark
            state.setTimeoutTimestamp(math.max(st.lastMs + retentionMs,
              state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }.toDF()
  }

  /** Streaming backward as-of enrichment — the stream twin of
    * [[graft.ext.AsOfJoin]] as exercised by `q_asof_join`: one event
    * stream carries both sides; per user, "purchase" rows update keyed
    * state (latest purchase at-or-before now) and every other row is
    * emitted enriched with that latest payload, null until the first
    * purchase. Within a micro-batch rows are processed in
    * (ms, side, event_id) order — reference before probe at equal
    * timestamps, greatest id winning reference ties — the batch
    * operator's EXACT tie semantics, so a stream arriving in event-time
    * order reproduces the batch join row for row (the parity law
    * `StreamingSpec` pins, single- and multi-batch). Rows arriving late
    * see the state as of their batch — the standard streaming-enrichment
    * trade; an event-time-perfect as-of over late data needs the full
    * reference history, which is what the batch operator is for.
    *
    * State per key is ONE row (the latest reference), not a buffer —
    * the streaming analogue of the batch plan's single running window.
    * The per-batch sort buffer is bounded by [[MaxGroupBufferKey]]
    * (cap-sized chunks beyond it, overflow counted). */
  final case class AsOfRefState(ms: Long, refId: Long, refValue: Double)
  final case class AsOfOut(event_id: Long, user_id: Long, ms: Long,
                           event_type: String,
                           purchase_id: java.lang.Long,
                           purchase_value: java.lang.Double)

  def streamingAsOf(events: DataFrame): DataFrame =
    streamingAsOfWithMetrics(events)._1

  /** [[streamingAsOf]] + its per-call overflow accumulator (each call
    * builds its own, so concurrent streams cannot clobber each other's
    * metric — named accumulators also surface in the Spark UI). */
  def streamingAsOfWithMetrics(events: DataFrame)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    import events.sparkSession.implicits._
    val cap = maxGroupBuffer(events)
    val overflow = events.sparkSession.sparkContext
      .longAccumulator("graft.streaming.asof.groupOverflow")
    val typed = events.select(col("event_id").cast("long"),
        col("user_id").cast("long"),
        expr("ts div 1000000").cast("long").as("ms"),
        col("event_type").cast("string"), col("value").cast("double"))
      .as[(Long, Long, Long, String, Double)]
    typed.groupByKey(_._2)
      .flatMapGroupsWithState[AsOfRefState, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[AsOfRefState]) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[AsOfOut]
          // bounded sort buffer: cap-sized chunks, state threaded across
          // them; exact for in-order arrival, overflow counted (see
          // MaxGroupBufferKey)
          capped("streamingAsOf", user, rows, cap, overflow).foreach { chunk =>
            val sorted = chunk.sortBy(r =>
              (r._3, if (r._4 == "purchase") 0 else 1, r._1))
            for ((id, _, ms, tpe, v) <- sorted) {
              if (tpe == "purchase") {
                if (st == null || ms > st.ms ||
                    (ms == st.ms && id >= st.refId))
                  st = AsOfRefState(ms, id, v)
              } else out += AsOfOut(id, user, ms, tpe,
                if (st == null) null else java.lang.Long.valueOf(st.refId),
                if (st == null) null else java.lang.Double.valueOf(st.refValue))
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }.toDF() -> overflow
  }

  /** Per-user session aggregation with explicit state
    * (flatMapGroupsWithState): emits (user_id, session_start_ms,
    * session_end_ms, n_events) when a session closes after `gapMs` of
    * inactivity (processing-time timeout for simplicity). */
  final case class SessionState(startMs: Long, lastMs: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start_ms: Long,
                              session_end_ms: Long, n_events: Long)

  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame =
    sessionizeWithMetrics(events, gapMs)._1

  /** [[sessionize]] + its per-call overflow accumulator. */
  def sessionizeWithMetrics(events: DataFrame, gapMs: Long = 30 * 60 * 1000L)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    import events.sparkSession.implicits._
    val cap = maxGroupBuffer(events)
    val overflow = events.sparkSession.sparkContext
      .longAccumulator("graft.streaming.sessionize.groupOverflow")
    val typed = events.select(col("user_id").cast("long"),
      expr("ts div 1000000").cast("long").as("ms")).as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(
            SessionState(Long.MaxValue, Long.MinValue, 0L))
          val closed = Seq.newBuilder[SessionOut]
          // bounded sort buffer, as in streamingAsOf (MaxGroupBufferKey)
          capped("sessionize", user, rows.map(_._2), cap, overflow).foreach { chunk =>
            for (ms <- chunk.sorted) {
              if (st.n > 0 && ms - st.lastMs > gapMs) {
                closed += SessionOut(user, st.startMs, st.lastMs, st.n)
                st = SessionState(ms, ms, 1L)
              } else {
                st = SessionState(math.min(st.startMs, ms), math.max(st.lastMs, ms),
                  st.n + 1)
              }
            }
          }
          if (state.hasTimedOut && st.n > 0) {
            closed += SessionOut(user, st.startMs, st.lastMs, st.n)
            state.remove()
          } else {
            state.update(st)
            state.setTimeoutDuration(gapMs)
          }
          closed.result().iterator
      }.toDF() -> overflow
  }

  /** Streaming strict-order funnel — the stream twin of
    * [[graft.ext.EventAnalytics.funnel]]. State per key is the step-time
    * vector reached so far (at most `steps.size` longs — constant per
    * user, like the as-of reference row). Each micro-batch processes a
    * user's rows in (ms, step-rank, event_id) order (earlier-funnel-step
    * first on timestamp ties, so a same-ms view+click converts exactly as
    * the batch operator's `>=` chaining does) and emits ONE progress row
    * per user whose reach advanced: (user_id, steps_reached, times).
    *
    * Batch parity (pinned in `StreamingSpec`): for a stream arriving in
    * event-time order — ties arriving earlier-step-first when split
    * across batches — each user's LAST emitted row equals the batch
    * funnel's row (times carries the reached prefix of t1..tK). The
    * ordered scan reproduces the chained-min joins because each "first
    * matching event at-or-after the previous step" is exactly the first
    * such event the scan meets.
    *
    * The per-batch sort buffer is bounded by [[MaxGroupBufferKey]]
    * (cap-sized chunks, state threaded, overflow counted) like the other
    * stateful operators. */
  final case class FunnelState(times: List[Long])
  final case class FunnelOut(user_id: Long, steps_reached: Long,
                             times: Seq[Long])

  def streamingFunnel(events: DataFrame, steps: Seq[String],
                      windowMs: Long): DataFrame =
    streamingFunnelWithMetrics(events, steps, windowMs)._1

  /** [[streamingFunnel]] + its per-call overflow accumulator. */
  def streamingFunnelWithMetrics(events: DataFrame, steps: Seq[String],
                                 windowMs: Long)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    import events.sparkSession.implicits._
    graft.ext.EventAnalytics.requireFunnelSteps(steps)
    val stepRank = steps.zipWithIndex.toMap
    val k = steps.size
    val cap = maxGroupBuffer(events)
    val overflow = events.sparkSession.sparkContext
      .longAccumulator("graft.streaming.funnel.groupOverflow")
    val typed = events.select(col("event_id").cast("long"),
        col("user_id").cast("long"),
        expr("ts div 1000000").cast("long").as("ms"),
        col("event_type").cast("string"))
      .as[(Long, Long, Long, String)]
      .filter(r => stepRank.contains(r._4))
    typed.groupByKey(_._2)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.times).getOrElse(Nil)
          val before = times.size
          capped("streamingFunnel", user, rows, cap, overflow).foreach { chunk =>
            val sorted = chunk.sortBy(r => (r._3, stepRank(r._4), r._1))
            for ((_, _, ms, tpe) <- sorted) {
              val reach = times.size
              if (reach == 0) {
                if (tpe == steps.head) times = List(ms)
              } else if (reach < k && tpe == steps(reach) &&
                  ms >= times.last && ms <= times.head + windowMs) {
                times = times :+ ms
              }
            }
          }
          if (times.size > before) {
            state.update(FunnelState(times))
            Iterator.single(FunnelOut(user, times.size.toLong, times))
          } else Iterator.empty
      }.toDF() -> overflow
  }

  /** Streaming first/last-touch attribution — the stream twin of
    * [[graft.ext.EventAnalytics.attribution]]. State per user is TWO
    * packed longs (earliest and latest in-window touch), updated on
    * touch events and read on conversions — the one-row-state shape of
    * [[streamingAsOf]]. Rows process in (ms, event_id) order per batch
    * (chunked under [[MaxGroupBufferKey]], overflow counted), and the
    * lookback window is enforced against each conversion's own ms, so
    * an in-event-time-order stream reproduces the batch operator row
    * for row (parity law in `StreamingSpec`). Same-ms tie rule matches
    * the batch packing: first-touch prefers the LOWEST type code,
    * last-touch the highest. */
  final case class TouchState(touches: List[Long]) // packed ms*8+code, asc ms
  final case class AttribOut(event_id: Long, user_id: Long, ms: Long,
                             first_touch: String, last_touch: String)

  def streamingAttribution(events: DataFrame, touchTypes: Seq[String],
                           convType: String = "purchase",
                           lookbackMs: Long = 259200000L): DataFrame =
    streamingAttributionWithMetrics(events, touchTypes, convType,
      lookbackMs)._1

  /** [[streamingAttribution]] + its per-call overflow accumulator. */
  def streamingAttributionWithMetrics(events: DataFrame,
      touchTypes: Seq[String], convType: String = "purchase",
      lookbackMs: Long = 259200000L)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    import events.sparkSession.implicits._
    require(touchTypes.nonEmpty && touchTypes.size < 8 &&
      !touchTypes.contains(convType), s"bad touch types $touchTypes")
    val codeOf = touchTypes.zipWithIndex.map { case (t, i) => t -> (i + 1L) }
      .toMap
    val cap = maxGroupBuffer(events)
    val overflow = events.sparkSession.sparkContext
      .longAccumulator("graft.streaming.attribution.groupOverflow")
    val typed = events.select(col("event_id").cast("long"),
        col("user_id").cast("long"),
        expr("ts div 1000000").cast("long").as("ms"),
        col("event_type").cast("string"))
      .as[(Long, Long, Long, String)]
      .filter(r => r._4 == convType || codeOf.contains(r._4))
    def decode(packed: Long): String = touchTypes((packed % 8).toInt - 1)
    typed.groupByKey(_._2)
      .flatMapGroupsWithState[TouchState, AttribOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[TouchState]) =>
          var touches = state.getOption.map(_.touches).getOrElse(Nil)
          val out = Seq.newBuilder[AttribOut]
          capped("streamingAttribution", user, rows, cap, overflow).foreach { chunk =>
            // same-ms touches land BEFORE the conversion (the batch RANGE
            // frame is at-or-before by ms, blind to event_id)
            for ((id, _, ms, tpe) <- chunk.sortBy(r =>
                (r._3, if (r._4 == convType) 1 else 0, r._1))) {
              if (tpe == convType) {
                val inWin = touches.filter(p => p / 8 >= ms - lookbackMs &&
                  p / 8 <= ms)
                out += AttribOut(id, user, ms,
                  if (inWin.isEmpty) null else decode(inWin.min),
                  if (inWin.isEmpty) null else decode(inWin.max))
              } else {
                touches = (ms * 8 + codeOf(tpe)) :: touches
                // bound state: drop touches no conversion can ever see
                // again (an in-order stream never looks back past the
                // newest ms - lookback)
                val horizon = touches.map(_ / 8).max - lookbackMs
                touches = touches.filter(_ / 8 >= horizon)
              }
            }
          }
          state.update(TouchState(touches))
          out.result().iterator
      }.toDF() -> overflow
  }

  /** Streaming inverted-index delta — the stream twin of
    * [[graft.ext.InvertedIndex.postings]]'s `(term, doc_id, tf)` stage:
    * each arriving document emits its postings rows computed ENTIRELY
    * per-row (array_distinct over the tokens + a count of each distinct
    * term inside the same row), so the delta is STATELESS and
    * append-mode — the rows a serving system appends to its postings
    * store each micro-batch. No shuffle, no state store, nothing for a
    * watermark to bound; exact batch parity on any input (pinned in
    * `StreamingSpec`).
    *
    * Assumes each document id arrives once (put [[streamingDedup]]
    * upstream otherwise) — the same uniqueness the batch index gets
    * from reading a deduplicated corpus. */
  def streamingPostingsDelta(docs: DataFrame,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    val toks = split(col(textCol), " ")
    docs.select(col(idCol).cast("long").as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), col("__toks"),
        explode(array_distinct(col("__toks"))).as("term"))
      .select(col("term"), col("doc_id"),
        size(filter(col("__toks"), x => x === col("term")))
          .cast("long").as("tf"))
  }

  /** Incremental document-frequency maintenance over a postings-delta
    * stream — the df re-aggregation half of the streaming inverted
    * index: keyed state per term holds exactly TWO longs (df, tf_total),
    * incremented by each batch's postings rows, and the term's updated
    * totals are re-emitted every batch it appears in (the dictionary
    * delta a serving system upserts). A consumer takes the LATEST row
    * per term — totals are monotone, so "latest" is also "max".
    *
    * State is vocabulary-bounded, not corpus-bounded — the same
    * asymptotics as the batch index's term dictionary (and the reason an
    * inverted index is servable at all): 16 bytes per distinct term,
    * independent of how many billions of postings flowed through. No
    * timeout: a term's df must survive arbitrarily long gaps — aging out
    * dictionary entries would silently deflate df-dependent scores
    * (BM25 idf) downstream. */
  final case class TermStatsState(df: Long, tfTotal: Long)
  final case class TermStats(term: String, df: Long, tf_total: Long)

  def streamingTermStats(postingsDelta: DataFrame): DataFrame = {
    import postingsDelta.sparkSession.implicits._
    postingsDelta.select(col("term"), col("doc_id"), col("tf"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TermStatsState, TermStats](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (term, rows, state: GroupState[TermStatsState]) =>
          var st = state.getOption.getOrElse(TermStatsState(0L, 0L))
          var n = 0L
          var tf = 0L
          for ((_, _, t) <- rows) { n += 1; tf += t }
          st = TermStatsState(st.df + n, st.tfTotal + tf)
          state.update(st)
          Iterator.single(TermStats(term, st.df, st.tfTotal))
      }.toDF()
  }

  /** Streaming distribution-drift monitoring — the stream twin of
    * [[graft.ext.Drift.psi]]: per event-time window, the PSI of the
    * arriving value distribution against a STATIC reference
    * distribution (the accepted corpus), emitted when the watermark
    * closes the window. The ingest-monitoring use: a drifting source
    * shows up as a high-PSI window hours after the shift, not at the
    * next nightly batch.
    *
    * The reference is bounded (B bucket counts), so like the eval set in
    * [[streamingDecontaminate]] it ships as plan literals. The whole
    * operator is ONE windowed aggregation: the per-bucket current counts
    * are B conditional sums inside a single groupBy(window) — no
    * second stateful stage, which streaming would reject — and the PSI
    * closed form (identical smoothing + ln arithmetic to the batch
    * operator) is a stateless projection over the closed window's B
    * count columns. State per open window: B+1 longs.
    *
    * @param refCounts spine-complete (bucket → count) of the reference
    *                  distribution — e.g. read off `Drift.psi`'s n_ref
    *                  column or a `groupBy(bucket).count` of the
    *                  accepted corpus
    */
  def streamingPsiDrift(docs: DataFrame, eventTimeCol: String,
                        valueCol: String, refCounts: Map[Long, Long],
                        bucketWidth: Int, nBuckets: Int,
                        windowSize: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame = {
    require(bucketWidth > 0 && nBuckets > 1)
    val totRef = refCounts.values.sum
    val bucket = least(lit(nBuckets - 1L),
      expr(s"CAST($valueCol AS BIGINT) div $bucketWidth"))
    val counts = (0L until nBuckets).map(b =>
      sum(when(bucket === b, 1L).otherwise(0L)).as(s"n_$b"))
    val agged = docs
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowSize))
      .agg(counts.head, counts.tail :+ count(lit(1)).as("n_cur"): _*)
    val contribs = (0L until nBuckets).map { b =>
      val pRef = (refCounts.getOrElse(b, 0L).toDouble + 0.5) /
        (totRef.toDouble + 0.5 * nBuckets)
      val pCur = (col(s"n_$b").cast("double") + lit(0.5)) /
        (col("n_cur").cast("double") + lit(0.5) * nBuckets)
      // qualified: the object's slf4j `log` member shadows functions.log
      (pCur - lit(pRef)) *
        org.apache.spark.sql.functions.log(pCur / lit(pRef))
    }
    agged.select(unix_millis(col("window.start")).as("w_start"),
      col("n_cur"), round(contribs.reduce(_ + _), 6).as("psi"))
  }

  /** Streaming per-window distinct counting — the stream twin of
    * [[graft.ext.Sketches.hllRegisters]]: one HLL sketch per event-time
    * window, emitted at window close with BOTH the estimate and the raw
    * register array, so a downstream daily/monthly rollup can
    * [[graft.ext.Sketches.hllMergeRegisters]] the streamed artifacts —
    * hourly "distinct users" at 2^p ints of state per open window, never
    * a distinct-key shuffle or an unbounded key set in the state store.
    *
    * ONE windowed aggregation (the typed HLL Aggregator's buffer IS the
    * streaming state), a stateless estimate projection after close —
    * same single-stage discipline as [[streamingPsiDrift]]. Batch parity
    * is exact: max-merge registers are micro-batch-order independent, so
    * closed windows equal the batch groupBy(window) sketch bit-for-bit
    * (pinned in StreamingSpec). */
  def streamingDistinct(events: DataFrame, eventTimeCol: String,
                        keyCol: String, salt: String = ":shll", p: Int = 8,
                        windowSize: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame = {
    import graft.ext.Sketches
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowSize))
      .agg(Sketches.hllRegisters(col(keyCol), salt, p).as("regs"))
      .select(unix_millis(col("window.start")).as("w_start"),
        round(Sketches.hllEstimateFromRegisters(col("regs"), p)
          .getField("_1"), 6).as("est_distinct"),
        col("regs"))
  }

  /** Streaming per-window frequency sketching — the stream twin of
    * [[graft.ext.CountMin]]: one CMS per event-time window over the
    * token/key stream, emitted at window close as the raw d×w counter
    * array. CMS is linear, so streamed window artifacts merge by
    * element-wise sum ([[graft.ext.CountMin.mergeSketch]]) into any
    * coarser rollup bit-identically, and point estimates read off the
    * stored arrays with [[graft.ext.CountMin.estimate]] — hourly "which
    * tokens are spiking" at d·w longs of state per open window, with no
    * per-key state and no top-k shuffle in the hot path.
    *
    * `keyHashCol` is a base60 hash column (e.g.
    * [[graft.ext.Dedup.base60Col]] of the token) — hashing stays in the
    * stateless projection, the stateful stage only increments counters. */
  def streamingCms(events: DataFrame, eventTimeCol: String,
                   keyHashCol: Column, d: Int = 3, w: Int = 256,
                   windowSize: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    import graft.ext.CountMin
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowSize))
      .agg(CountMin.sketch(keyHashCol, d, w).as("sk"))
      .select(unix_millis(col("window.start")).as("w_start"), col("sk"))
  }

  /** Streaming per-window data-contract monitoring — the stream twin of
    * the batch `q_expectations`, minus the corpus-uniqueness constraint
    * (distinct-across-corpus is batch semantics; silently narrowing it to
    * per-window distinct would change the contract): every constraint is
    * a conditional sum inside ONE windowed aggregation, and the long-form
    * (constraint, violations, passed) rendering is a stateless explode at
    * window close. State per open window: one long per constraint. The
    * ingest-monitoring use: a producer that starts shipping nulls or
    * out-of-domain values shows up in the next window, not at the
    * nightly batch gate.
    *
    * @param constraints (name, violation predicate) pairs — a row
    *                    matching the predicate VIOLATES the constraint.
    *                    Predicates are made NULL-HOSTILE here: a NULL
    *                    evaluation counts as a violation (the batch
    *                    q_expectations convention — nulls are what the
    *                    gate exists to catch, not a free pass through
    *                    three-valued logic)
    */
  def streamingExpectations(docs: DataFrame, eventTimeCol: String,
                            constraints: Seq[(String, Column)],
                            windowSize: String = "1 hour",
                            watermark: String = "2 hours"): DataFrame = {
    require(constraints.nonEmpty, "need at least one constraint")
    val aggs = constraints.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(true)), 1L).otherwise(0L)).as(s"v_$i")
    }
    val agged = docs
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowSize))
      .agg(aggs.head, aggs.tail :+ count(lit(1)).as("n_rows"): _*)
    val pairs = array(constraints.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("constraint"), col(s"v_$i").as("violations"))
    }: _*)
    agged
      .select(unix_millis(col("window.start")).as("w_start"),
        col("n_rows"), explode(pairs).as("c"))
      .select(col("w_start"), col("n_rows"),
        col("c.constraint").as("constraint"),
        col("c.violations").as("violations"),
        (col("c.violations") === 0L).cast("long").as("passed"))
  }

  /** Streaming per-window rate anomaly — the stream twin of the batch
    * `q_rate_anomaly`: per-type counts in event-time windows, scored
    * against STATIC per-type baseline stats (mu, sd) learned from the
    * accepted history (e.g. read off the batch query's trailing-window
    * columns) and shipped as plan literals — same bounded-reference
    * discipline as [[streamingPsiDrift]]. ONE windowed count
    * aggregation; the z-score and the |z| > zCut flag are stateless
    * projections at window close (the flag reads the ROUNDED z, the
    * batch convention). Types absent from the baseline emit with a NULL
    * z and anomaly = 1 — a never-seen event type is itself the alert,
    * and a post-aggregation type filter is not an option anyway: a
    * deterministic grouping-key predicate gets pushed below the
    * watermark node by the optimizer, so a stream whose trailing events
    * are all unknown types would stop advancing the watermark and never
    * close a window. State per open window: one long per (window, type)
    * group — bounded by type cardinality. */
  def streamingRateAnomaly(events: DataFrame, eventTimeCol: String,
                           typeCol: String,
                           baseline: Map[String, (Double, Double)],
                           zCut: Double = 3.0,
                           windowSize: String = "1 hour",
                           watermark: String = "2 hours"): DataFrame = {
    require(baseline.nonEmpty, "baseline stats must be non-empty")
    val muM = typedLit(baseline.map { case (k, v) => k -> v._1 })
    val sdM = typedLit(baseline.map { case (k, v) => k -> v._2 })
    val agged = events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowSize), col(typeCol))
      .agg(count(lit(1)).as("n"))
    val sd = element_at(sdM, col(typeCol))
    // sd null = type not in baseline; sd = 0 = degenerate history (z 0)
    val z = round(when(sd.isNotNull && sd > 0,
      (col("n").cast("double") - element_at(muM, col(typeCol))) / sd)
      .otherwise(when(sd.isNotNull, lit(0.0))), 6)
    val anomaly = when(sd.isNull, lit(1L))
      .otherwise((abs(z) > zCut).cast("long"))
    agged.select(unix_millis(col("window.start")).as("w_start"),
      col(typeCol).as("event_type"), col("n"), z.as("z"),
      anomaly.as("anomaly"))
  }

  /** Streaming per-window quantile sketching — the stream twin of
    * [[graft.ext.Sketches.kmvQuantilesState]]: one KMV k-min quantile
    * sketch per event-time window, emitted at window close with the
    * nearest-rank read-offs AND the raw (hash, value) sample state, so
    * downstream rollups [[graft.ext.Sketches.kmvQuantilesMergeState]] the
    * streamed artifacts into daily/monthly quantiles — per-window latency
    * percentiles at k (hash, value) pairs of state per open window, never
    * a sorted-value shuffle or per-key state.
    *
    * ONE windowed aggregation (the typed Aggregator's k-min buffer IS the
    * streaming state) + a stateless read-off projection after close. The
    * k-min sample is merge-path independent (law-pinned in
    * ChunkSketchSpec), so closed windows equal the batch groupBy(window)
    * sketch bit-for-bit regardless of micro-batch boundaries. */
  def streamingQuantiles(events: DataFrame, eventTimeCol: String,
                         keyCol: Column, valCol: Column,
                         salt: String = ":sq", k: Int = 64,
                         windowSize: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    import graft.ext.Sketches
    val reads = Sketches.kmvQuantilesFromState(col("state"), Seq(0.5, 0.9))
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowSize))
      .agg(Sketches.kmvQuantilesState(
        Sketches.hashUnit(keyCol, salt), valCol, k).as("state"))
      .select(unix_millis(col("window.start")).as("w_start"),
        round(element_at(reads, 1), 6).as("p50"),
        round(element_at(reads, 2), 6).as("p90"),
        col("state"))
  }

  /** Sliding-window counts per event type with a watermark — the
    * streaming twin of the batch `q_sliding_hourly` (slide < size, so
    * each event lands in size/slide windows via the SAME in-map window()
    * Expand; the state store holds only open windows inside the
    * watermark horizon). Output schema matches the batch query:
    * (w_start ms, event_type, n, sum_value). */
  def slidingCounts(events: DataFrame, size: String = "1 hour",
                    slide: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame = {
    val withTs = events.withColumn("event_time",
      timestamp_micros(expr("ts div 1000")))
    withTs
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      .select(unix_millis(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Streaming incremental cluster assignment — the stream twin of
    * [[graft.ext.Dedup.assignToClusters]], the shape a daily-ingest
    * pipeline actually serves: arriving documents are assigned to
    * EXISTING near-dup clusters from the persisted label artifact, or
    * found their own; existing labels never move.
    *
    * The existing corpus's band index, shingle sets, and labels are all
    * STATIC relations (the batch artifacts — at 100 TB, parquet reads),
    * so every join is a stateless stream-static equi-join; the only
    * state is the final windowed min-label aggregation, bounded by the
    * watermark. The existing side's oversized buckets are dropped with
    * the same cap discipline as the batch path (degenerate band values,
    * quadratic on the probe join). Candidate pairs surfacing in several
    * bands are collapsed IN-ROW with the banded-LSH ownership rule
    * ([[streamingSimhashNearDup]]): only the pair's minimal colliding
    * band AMONG THE EXISTING DOC'S SURVIVING BANDS keeps the row (each
    * band row carries the doc's sorted surviving-band list, so ownership
    * needs no cross-row state) — ranging over surviving bands, not the
    * full band array, keeps batch parity when the cap fires: the batch
    * path still surfaces a pair through a later band after its minimal
    * band's bucket was capped away. No distinct aggregation (which
    * streaming lacks). Candidates failing the Jaccard verify are NULLED
    * rather than filtered, so a document whose every candidate fails
    * still reaches the aggregate and founds its own cluster — count/min
    * skip nulls, giving n_matches = 0 and cluster_id = own id.
    *
    * Output (append on window close): (doc_id, cluster_id, n_matches,
    * window_start). Batch parity with [[graft.ext.Dedup.assignToClusters]]
    * is law-pinned in StreamingSpec. */
  def streamingAssignClusters(newDocs: DataFrame, existing: DataFrame,
                              labels: DataFrame, threshold: Double,
                              eventTimeCol: String,
                              watermark: String = "1 hour",
                              windowLen: String = "1 minute",
                              k: Int = 16,
                              rowsPerBand: Int = 4,
                              maxBucketSize: Int =
                                graft.ext.Dedup.ConfiguredBucketSize): DataFrame = {
    val (bands, sets) = graft.ext.Dedup.assignIndex(existing, k, rowsPerBand)
    streamingAssignClustersFromIndex(newDocs, bands, sets, labels,
      threshold, eventTimeCol, watermark, windowLen, k, rowsPerBand,
      maxBucketSize)
  }

  /** [[streamingAssignClusters]] over an EXPLICIT raw probe index
    * (bands + sets + labels): enriches it into the serve relation
    * in-plan and persists THAT (the static side of a stream-static join
    * is otherwise re-executed on every micro-batch — the r14 finding:
    * the serving job paid the cap window and both per-doc groupBys per
    * trigger), then delegates to [[streamingAssignClustersFromServe]].
    * Production jobs should pass a
    * [[graft.ext.Dedup.persistedServeIndex]] relation to
    * [[streamingAssignClustersFromServe]] directly — parquet scan +
    * equi-join, no enrichment even on the first trigger. */
  def streamingAssignClustersFromIndex(newDocs: DataFrame,
                                       bands: DataFrame, sets: DataFrame,
                                       labels: DataFrame, threshold: Double,
                                       eventTimeCol: String,
                                       watermark: String = "1 hour",
                                       windowLen: String = "1 minute",
                                       k: Int = 16,
                                       rowsPerBand: Int = 4,
                                       maxBucketSize: Int =
                                         graft.ext.Dedup.ConfiguredBucketSize): DataFrame = {
    import graft.ext.Dedup
    val cap = Dedup.resolveCap(newDocs, maxBucketSize)
    val serve = Dedup.serveIndexFrom(bands, sets, labels, cap,
      observed = false)
    streamingAssignClustersFromServe(newDocs, serve, threshold,
      eventTimeCol, watermark, windowLen, k, rowsPerBand)
  }

  /** The streaming assignment twin over the ENRICHED serve relation
    * ([[graft.ext.Dedup.serveIndexFrom]] /
    * [[graft.ext.Dedup.persistedServeIndex]]) — the production serving
    * plan: the stream side computes per-row signatures, the static side
    * is the serve relation AS IS (persisted here so micro-batches after
    * the first pay a cache read, not a re-scan), and everything between
    * is one stateless bucket-keyed equi-join + the in-row ownership and
    * verify rules. Zero corpus-scale windows or groupBys per trigger. */
  def streamingAssignClustersFromServe(newDocs: DataFrame,
                                       serve: DataFrame, threshold: Double,
                                       eventTimeCol: String,
                                       watermark: String = "1 hour",
                                       windowLen: String = "1 minute",
                                       k: Int = 16,
                                       rowsPerBand: Int = 4): DataFrame = {
    import graft.ext.Dedup
    val sh = (text: Column) => graft.expressions.VectorExpressions
      .shingleHashes(split(text, " "), 3)
    // cache the static side: a stream-static join re-executes the static
    // plan every micro-batch; persist makes that a block-manager read
    // after the first trigger (lazy — materialised by the first batch)
    val eSide = serve.persist()
    val stream = newDocs
      .select(col("doc_id").cast("long").as("nid"), col("text"),
        col(eventTimeCol).cast("timestamp").as("event_time"))
      .withWatermark("event_time", watermark)
      .withColumn("sa", sh(col("text")))
      .withColumn("nbands", Dedup.bandsOf(
        Dedup.minhashSignature(split(col("text"), " "), k), k, rowsPerBand))
      .select(col("nid"), col("event_time"), col("sa"), col("nbands"),
        posexplode(col("nbands")).as(Seq("band", "bucket")))
    val joined = stream.join(eSide, Seq("band", "bucket"), "left")
    // ownership: only the pair's minimal colliding band among the
    // existing doc's SURVIVING bands keeps the row
    val minBand = element_at(filter(col("esurv"),
      i => element_at(col("nbands"), i + 1) ===
        element_at(col("ebands"), i + 1)), 1)
    val verifies = col("eid").isNotNull &&
      Dedup.jaccard(col("sa"), col("sb")) >= threshold
    joined
      .filter(col("eid").isNull || col("band") === minBand)
      .select(col("nid"), col("event_time"),
        when(verifies, col("eid")).as("meid"),
        when(verifies, col("cluster_id")).as("mcl"))
      .groupBy(col("nid"), window(col("event_time"), windowLen))
      .agg(min(col("mcl")).as("cl"), count(col("meid")).as("nm"))
      .select(col("nid").as("doc_id"),
        coalesce(col("cl"), col("nid")).as("cluster_id"),
        col("nm").as("n_matches"),
        unix_millis(col("window.start")).as("window_start"))
  }
}
