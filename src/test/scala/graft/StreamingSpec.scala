package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingOps

/** Structured Streaming lift: windowed counts with watermark, streaming
  * dedup, and the scalar expression library applied to a stream. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  test("hourly windowed counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "event_type", "value")
    val out = StreamingOps.hourlyCounts(events)
    val hour = 3600L * 1000000000L // ns
    mem.addData(
      (1L, 0L * hour + 1000L, "click", 1.0),
      (2L, 0L * hour + 2000L, "click", 2.0),
      (3L, 0L * hour + 3000L, "view", 1.0))
    val q = out.writeStream.format("memory").queryName("hourly")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    mem.addData((4L, 5L * hour, "click", 4.0)) // advances watermark past hour 0
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hourly").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    assert(rows.contains(("click", 2L)) && rows.contains(("view", 1L)),
      rows.toString)
  }

  test("streaming as-of enrichment reproduces the batch as-of join") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.{AsOfJoin, DualHash}
    // deterministic mixed stream: 12 users, interleaved purchases and
    // probes, with planted (user, ms) purchase ties to exercise the
    // tie-break law
    val rows = (0 until 400).map { i =>
      val user = DualHash.base60(s"au:$i") % 12L
      val ms = (DualHash.base60(s"at:$i") % 1000L) * 1000L
      val tpe = if (DualHash.base60(s"ak:$i") % 3L == 0L) "purchase"
                else if (i % 2 == 0) "click" else "view"
      (i.toLong, ms * 1000000L, user, tpe, (i % 97).toDouble)
    } ++ Seq( // two purchases tied on (user, ms): greater event_id must win
      (1000L, 777000L * 1000000L, 3L, "purchase", 1.0),
      (1001L, 777000L * 1000000L, 3L, "purchase", 2.0),
      (1002L, 778000L * 1000000L, 3L, "click", 0.0))

    def batchExpected = {
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ms", expr("ts div 1000000"))
      val purchases = df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms"), col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      val probes = df.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ms"), col("event_type"))
      AsOfJoin.asof(probes, purchases, Seq("user_id"), "ms", "ms",
          Seq("purchase_id", "purchase_value"), tieBreak = Seq("purchase_id"))
        .collect().map(r => (r.getLong(0), Option(r.get(4)), Option(r.get(5))))
        .toSet
    }

    def run(batches: Seq[Seq[(Long, Long, Long, String, Double)]],
            name: String) = {
      val mem = MemoryStream[(Long, Long, Long, String, Double)]
      val events = mem.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val q = StreamingOps.streamingAsOf(events)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), Option(r.get(4)), Option(r.get(5)))).toSet
    }

    val want = batchExpected
    assert(want.exists(_._2.isDefined) && want.exists(_._2.isEmpty),
      "fixture must exercise both matched and unmatched probes")
    // single batch: full parity
    assert(run(Seq(rows), "asof_stream_1") == want)
    // split into two batches on event time: state carries across batches
    val (early, late) = rows.partition(_._2 < 500000L * 1000000L)
    assert(run(Seq(early, late), "asof_stream_2") == want)
  }

  test("hot key over the group-buffer cap: chunked sort stays exact " +
      "for in-order arrival, overflow counted") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.AsOfJoin
    // ONE user, 120 in-order events (every 3rd a purchase) — with the cap
    // forced to 16 the group processes in 8 chunks; in-order arrival is
    // the batch-parity precondition, so the output must still equal the
    // batch as-of row for row, and the overflow accumulator must count
    // every row past the first chunk.
    val rows = (0 until 120).map { i =>
      val tpe = if (i % 3 == 0) "purchase" else "click"
      (i.toLong, i.toLong * 1000L * 1000000L, 7L, tpe, i.toDouble)
    }
    val batchWant = {
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ms", expr("ts div 1000000"))
      val purchases = df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms"), col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      val probes = df.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ms"), col("event_type"))
      AsOfJoin.asof(probes, purchases, Seq("user_id"), "ms", "ms",
          Seq("purchase_id", "purchase_value"), tieBreak = Seq("purchase_id"))
        .collect().map(r => (r.getLong(0), Option(r.get(4)), Option(r.get(5))))
        .toSet
    }
    spark.conf.set(StreamingOps.MaxGroupBufferKey, "16")
    try {
      val mem = MemoryStream[(Long, Long, Long, String, Double)]
      val events = mem.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val (out, overflow) = StreamingOps.streamingAsOfWithMetrics(events)
      val q = out.writeStream.format("memory").queryName("asof_hotkey")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      mem.addData(rows: _*)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("asof_hotkey").collect()
        .map(r => (r.getLong(0), Option(r.get(4)), Option(r.get(5)))).toSet
      assert(got == batchWant, "chunked hot-key output diverged from batch")
      assert(overflow.value == 120L - 16L,
        s"overflow counted ${overflow.value}, expected 104 (120 rows - cap 16)")
    } finally spark.conf.unset(StreamingOps.MaxGroupBufferKey)

    // the same law for sessionize and attribution, against their own
    // uncapped run: ONE user, 120 in-order rows, a 10^7 ms gap every 20
    // rows (so sessions close inside the batch), every 5th row a purchase
    val touchRows = (0 until 120).map { i =>
      val tpe = if (i % 5 == 0) "purchase" else if (i % 2 == 0) "view"
        else "click"
      (i.toLong, (i * 1000L + (i / 20) * 10000000L) * 1000000L, 7L, tpe)
    }
    def capLaw(name: String, op: org.apache.spark.sql.DataFrame =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.util.LongAccumulator))
        : Unit = {
      // sessionize's processing-time timeout asks for another batch on
      // every trigger; without data-less batches its stream can go idle
      val noDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
      def run(cap: Option[String]) = {
        cap.foreach(spark.conf.set(StreamingOps.MaxGroupBufferKey, _))
        spark.conf.set(noDataBatches, "false")
        try {
          val mem = MemoryStream[(Long, Long, Long, String)]
          val (out, overflow) =
            op(mem.toDF().toDF("event_id", "ts", "user_id", "event_type"))
          val table = s"${name}_${cap.getOrElse("uncapped")}"
          val q = out.writeStream.format("memory").queryName(table)
            .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
          mem.addData(touchRows: _*)
          q.processAllAvailable()
          q.stop()
          (spark.table(table).collect().toSet, overflow.value)
        } finally {
          spark.conf.unset(StreamingOps.MaxGroupBufferKey)
          spark.conf.unset(noDataBatches)
        }
      }
      val (want, uncappedOverflow) = run(None)
      val (got, overflow) = run(Some("16"))
      assert(want.nonEmpty && uncappedOverflow == 0L, s"$name: $want")
      assert(got == want, s"$name: chunked rows diverged from uncapped")
      assert(overflow == 120L - 16L,
        s"$name: overflow counted $overflow, expected 104 (120 rows - cap 16)")
    }
    capLaw("sessionize_hotkey",
      StreamingOps.sessionizeWithMetrics(_, gapMs = 600000L))
    capLaw("attrib_hotkey",
      StreamingOps.streamingAttributionWithMetrics(_, Seq("view", "click")))
  }

  test("streamingAssignClusters batch parity: arriving docs get the same " +
      "cluster assignments as Dedup.assignToClusters, single- and " +
      "multi-batch") {
    import graft.ext.Dedup
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val existing = docs.filter(col("doc_id") < 350).select("doc_id", "text")
    val newRows = docs.filter(col("doc_id") >= 350 && col("doc_id") < 420)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), 1000L)).toSeq
    val labels = Dedup.nearDupClusters(existing, threshold = 0.2, k = 16,
      rowsPerBand = 2)
    val want = Dedup.assignToClusters(
        newRows.map(t => (t._1, t._2)).toDF("doc_id", "text"),
        existing, labels, threshold = 0.2, k = 16, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.exists(_._3 > 0L), "fixture must produce real matches")
    assert(want.exists(_._3 == 0L), "fixture must produce founders")
    def run(batches: Seq[Seq[(Long, String, Long)]], name: String,
            cap: Int = graft.ext.Dedup.ConfiguredBucketSize) = {
      val mem = MemoryStream[(Long, String, Long)]
      val stream = mem.toDF().toDF("doc_id", "text", "ts_ms")
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
      val out = StreamingOps.streamingAssignClusters(stream, existing,
        labels, threshold = 0.2, eventTimeCol = "event_time",
        watermark = "0 seconds", windowLen = "1 minute", k = 16,
        rowsPerBand = 2, maxBucketSize = cap)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      // advance the watermark past the data window so it closes
      mem.addData((999999L, "flush sentinel", 10L * 60L * 1000L))
      q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .filter(_.getLong(0) != 999999L)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(run(Seq(newRows), "assign_stream_1") == want, "single-batch")
    val (a, b) = newRows.splitAt(30)
    assert(run(Seq(a, b), "assign_stream_2") == want, "multi-batch")
    // capped parity: with a tiny bucket cap the batch path can still
    // surface a pair through a LATER band after its minimal band's bucket
    // was capped away — the stream's ownership rule must range over the
    // existing doc's surviving bands, not the full band array, or such
    // pairs vanish and founders appear that the batch does not report
    val wantCap = Dedup.assignToClusters(
        newRows.map(t => (t._1, t._2)).toDF("doc_id", "text"),
        existing, labels, threshold = 0.2, k = 16, rowsPerBand = 2,
        maxBucketSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(wantCap != want, "cap=1 must actually fire on the fixture")
    assert(run(Seq(newRows), "assign_stream_cap", cap = 1) == wantCap,
      "capped parity")
    // production wiring: the twin served from the PERSISTED ENRICHED
    // serve index (capped band rows + per-doc band state + shingle sets
    // + labels, co-located at build time) must emit identical
    // assignments — the serving plan is parquet scan + equi-join only
    val serve = Dedup.persistedServeIndex(existing, labels,
      key = "stream-assignserve", k = 16, rowsPerBand = 2)
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    val out = StreamingOps.streamingAssignClustersFromServe(stream, serve,
      threshold = 0.2, eventTimeCol = "event_time",
      watermark = "0 seconds", windowLen = "1 minute", k = 16,
      rowsPerBand = 2)
    val q = out.writeStream.format("memory").queryName("assign_stream_idx")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    mem.addData(newRows: _*); q.processAllAvailable()
    mem.addData((999999L, "flush sentinel", 10L * 60L * 1000L))
    q.processAllAvailable(); q.stop()
    val gotIdx = spark.table("assign_stream_idx").collect()
      .filter(_.getLong(0) != 999999L)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotIdx == want, "persisted-index parity")
  }

  test("streaming exact dedup drops in-watermark duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    val out = StreamingOps.streamingDedup(docs, "event_time")
    mem.addData((1L, "hello world", 1000L), (2L, "hello world", 2000L),
      (3L, "different", 3000L))
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.size == 2 && ids.contains(3L), ids.toString)
  }

  test("streaming decontamination drops overlapping docs, agrees with batch") {
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingDecontaminate(
      mem.toDF().toDF("doc_id", "text"), evalDocs)
    mem.addData(
      (1L, "alpha beta gamma delta epsilon zeta"), // full overlap: dropped
      (2L, "prefix words then alpha beta gamma suffix"), // one shared shingle
      (3L, "completely unrelated clean document text here"))
    val q = out.writeStream.format("memory").queryName("decon")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("decon").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(3L), kept.toString)
    // batch operator marks exactly the complement as contaminated
    val corpus = evalDocs.union(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "prefix words then alpha beta gamma suffix"),
      (3L, "completely unrelated clean document text here")).toDF("doc_id", "text"))
    val batch = graft.ext.PipelineOps.decontaminate(corpus, col("doc_id") === 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch == Map(1L -> 1L, 2L -> 1L, 3L -> 0L), batch.toString)
  }

  test("streaming simhash near-dup flags arriving near-duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    val out = StreamingOps.streamingSimhashNearDup(docs, "event_time")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    mem.addData(
      (1L, base, 1000L),
      (2L, base, 2000L), // exact dup of 1
      (3L, base.replace("dog", "cat"), 3000L), // near dup of 1
      (4L, "completely different content about spark catalyst expressions", 4000L))
    val q = out.writeStream.format("memory").queryName("neardup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("neardup").collect()
    val dups = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    // an exact dup matches in ALL bands — but must be emitted exactly once
    assert(rows.count(_.getAs[Long]("doc_id") == 2L) == 1, rows.mkString(","))
    assert(dups.contains(2L) && dups(2L) == 1L, dups.toString)
    assert(!dups.contains(4L), dups.toString)
    // doc 3 flags iff its signature lands within hamming 3 of doc 1
    val sigs = Seq((1L, base), (3L, base.replace("dog", "cat")))
      .toDF("doc_id", "text")
      .select(graft.ext.Dedup.simhash(split(col("text"), " ")))
      .collect().map(_.getLong(0))
    val near = java.lang.Long.bitCount(sigs(0) ^ sigs(1)) <= 3
    assert(dups.contains(3L) == near, s"$dups near=$near")
  }

  test("streaming simhash near-dup evicts bucket state past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    // 1 s watermark delay + 1 s retention: buckets older than ~2 s of
    // event time are evicted
    val out = StreamingOps.streamingSimhashNearDup(docs, "event_time",
      watermark = "1 second", retentionMs = 1000L)
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val q = out.writeStream.format("memory").queryName("neardup_evict")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    mem.addData((1L, base, 1000L))
    q.processAllAvailable()
    // advance the watermark far past doc 1's bucket retention
    mem.addData((2L, "unrelated filler words to advance the stream clock", 60000L))
    q.processAllAvailable()
    // identical text arrives after eviction: bucket is gone, NOT flagged
    mem.addData((3L, base, 61000L))
    q.processAllAvailable()
    // but doc 3 re-seeds state: an immediate dup of it IS flagged
    mem.addData((4L, base, 61500L))
    q.processAllAvailable()
    q.stop()
    val dups = spark.table("neardup_evict").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    assert(!dups.contains(3L), s"bucket state not evicted: $dups")
    assert(dups.get(4L).contains(3L), s"re-seeded state missed: $dups")
  }

  test("chunking and PII scrub lift to streams unchanged (stateless stages)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.PipelineOps
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val out = PipelineOps.chunkOverlap(PipelineOps.scrubPii(stream), 4, 3)
    mem.addData((1L, "a b c d e f mail bob@x.io end"))
    val q = out.writeStream.format("memory").queryName("chunks")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("chunks").orderBy("chunk_id").collect()
    // 9 tokens -> kmax = ceil((9-4)/3) = 2 -> 3 chunks; email redacted
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("chunk")).toSeq ==
      Seq("a b c d", "d e f mail", "mail <EMAIL> end"))
  }

  test("scalar model expressions lift to streams unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import graft.models.{CompCtx, Thermometers}
    import graft.expr.E
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("sample_id", "MgO")
    val ctx = CompCtx(Vector("MgO"))
    val out = stream.withColumn("T_K",
      E.toColumn(Thermometers.putirka2008_13(ctx)))
    mem.addData((1L, 8.0))
    val q = out.writeStream.format("memory").queryName("thermo")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    q.stop()
    val t = spark.table("thermo").collect()(0).getAs[Double]("T_K")
    assert(math.abs(t - (26.3 * 8.0 + 994.4 + 273.15)) < 1e-9)
  }

  test("JSONL drop-folder stream with quality gate at the ingest edge") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import graft.ext.CorpusIO
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_jsonl").toString
    import spark.implicits._
    CorpusIO.writeJsonl(Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs into the woods " * 3),
      (2L, "zzzzzzzz"), // no stopwords, short: quality 0
      // passes the (English-stopword) quality gate yet argmaxes German:
      // 5 de-markers vs 3 en-markers per repetition
      (3L, "der hund und die katze liefen in the park und der garten and the old trees " * 3)
    ).toDF("doc_id", "text"), dir)
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val stream = StreamingOps.jsonlCorpusStream(spark, dir, schema,
      maxFilesPerTrigger = 1)
    val gated = StreamingOps.corpusQualityGate(stream, minQuality = 0.1)
    val q = gated.writeStream.format("memory").queryName("jsonl_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000L)
    val rows = spark.table("jsonl_gate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(rows.keySet == Set(1L, 3L), rows.toString) // junk doc gated out
    assert(rows(1L) == "en" && rows(3L) == "de", rows.toString)
  }

  test("count-min sketch streams: incremental state equals the batch sketch") {
    // The CMS Aggregator's merge-order independence is exactly what
    // Structured Streaming's incremental aggregation needs: the sketch
    // after N micro-batches must be bit-identical to a one-shot batch
    // aggregate of the same rows — bounded d*w state on an unbounded
    // stream.
    import graft.ext.{CountMin, Dedup}
    implicit val sqlCtx = spark.sqlContext
    val (d, w) = (4, 64)
    val mem = MemoryStream[String]
    val out = mem.toDF().toDF("tok")
      .select(Dedup.base60Col(col("tok")).as("h"))
      .agg(CountMin.sketch(col("h"), d, w).as("sk"))
    val q = out.writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0)).start()
    val batch1 = (0 until 300).map(i => s"z${i % 17}")
    val batch2 = (0 until 200).map(i => s"z${i % 5}") // re-hits hot tokens
    mem.addData(batch1)
    q.processAllAvailable()
    mem.addData(batch2)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream").collect()(0).getSeq[Long](0)
    val batch = (batch1 ++ batch2).toDF("tok")
      .select(Dedup.base60Col(col("tok")).as("h"))
      .agg(CountMin.sketch(col("h"), d, w))
      .as[Seq[Long]].head()
    assert(streamed == batch)
    assert(streamed.sum == (batch1.size + batch2.size).toLong * d)
  }

  test("streaming funnel batch-parity: last progress row per user equals " +
      "the batch funnel, single- and multi-batch, incl. a same-ms tie") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.EventAnalytics
    val steps = Seq("view", "click", "purchase")
    val windowMs = 100L
    // (event_id, ts_ns, user_id, event_type): ts in NANOS (the events
    // table's long-ts unit) so the operator's `ts div 1000000` yields ms;
    // fixture covers a full conversion, a same-ms view+click tie (the >=
    // law), a stall, a window miss, and a user with no anchor.
    def ns(ms: Long) = ms * 1000000L
    val rows = Seq[(Long, Long, Long, String)](
      (1L, ns(0), 1L, "view"), (2L, ns(10), 1L, "click"),
      (3L, ns(20), 1L, "purchase"),                       // full convert
      (4L, ns(5), 2L, "view"), (5L, ns(5), 2L, "click"),  // same-ms tie
      (6L, ns(200), 2L, "purchase"),                      // outside window
      (7L, ns(0), 3L, "view"), (8L, ns(1), 3L, "purchase"), // strict order
      (9L, ns(0), 4L, "click"), (10L, ns(1), 4L, "purchase")) // no anchor

    val batchWant = EventAnalytics.funnel(
        rows.toDF("event_id", "ts", "user_id", "event_type")
          .withColumn("ms", expr("ts div 1000000")),
        steps, windowMs)
      .collect().map { r =>
        val times = (2 to 4).map(i => Option(r.get(i)))
          .takeWhile(_.isDefined).map(_.get.asInstanceOf[Long])
        r.getLong(0) -> ((r.getLong(1), times))
      }.toMap

    def run(batches: Seq[Seq[(Long, Long, Long, String)]], name: String) = {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
      val q = StreamingOps.streamingFunnel(events, steps, windowMs)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      // LAST emission per user = highest steps_reached (progress rows
      // are monotone in reach)
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .groupBy(_._1).map { case (u, rs) =>
          val best = rs.maxBy(_._2)
          u -> ((best._2, best._3.toSeq))
        }.toMap
    }

    assert(batchWant(1L)._1 == 3L && batchWant(2L)._1 == 2L &&
      batchWant(3L)._1 == 1L && !batchWant.contains(4L),
      s"fixture must cover all stall depths: $batchWant")
    assert(run(Seq(rows), "funnel_stream_1") == batchWant)
    // event-time-ordered split across batches: state carries
    val (early, late) = rows.partition(_._2 < ns(15))
    assert(run(Seq(early, late), "funnel_stream_2") == batchWant)
  }

  test("streaming contamination spans equal the batch span report " +
      "(stateless per-row fold vs the batch island window)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.SpanDedup
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      // two disjoint contaminated spans (3-grams at pos 2.. and later)
      (1L, "x y alpha beta gamma z w beta gamma delta q"),
      // overlapping matches that must MERGE into one span
      (2L, "alpha beta gamma delta r s t"),
      (3L, "completely clean document text with no overlap at all"),
      // shorter than k tokens: gram array is EMPTY — the streaming lift
      // must emit nothing, not throw (sequence(0, -1) is DESCENDING in
      // Spark, so an unclamped position list dereferences the empty
      // array); same for a doc with a single token and the empty string
      (4L, "alpha beta"),
      (5L, "alpha"),
      (6L, ""))
      .toDF("doc_id", "text")
    // batch truth: the corpus = eval + incoming, spans of non-eval docs
    val batch = SpanDedup.contaminationSpans(
        evalDocs.union(incoming), col("doc_id") === 100L, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(batch.exists(_._1 == 1L) && batch.exists(_._1 == 2L) &&
      !batch.exists(_._1 == 3L), batch.toString)
    // short docs produce no grams, hence no spans, in the batch report
    assert(!batch.exists(r => r._1 >= 4L), batch.toString)
    // doc 2's grams at pos 0 and 1 overlap -> ONE merged span [0, 3]
    assert(batch.filter(_._1 == 2L) == Set((2L, 0L, 3L, 4L)), batch.toString)
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingContaminationSpans(
      mem.toDF().toDF("doc_id", "text"), evalDocs)
    mem.addData((1L, "x y alpha beta gamma z w beta gamma delta q"),
      (2L, "alpha beta gamma delta r s t"),
      (3L, "completely clean document text with no overlap at all"),
      (4L, "alpha beta"), (5L, "alpha"), (6L, ""))
    val q = out.writeStream.format("memory").queryName("cont_spans")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cont_spans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("streaming attribution batch-parity: per-conversion first/last " +
      "touch equals the batch RANGE-window operator, single- and " +
      "multi-batch, incl. same-ms touch ties and empty windows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.EventAnalytics
    val touches = Seq("view", "click", "signup")
    val look = 1000L // ms
    def ns(ms: Long) = ms * 1000000L
    // user 1: view -> click -> convert (last=click, first=view);
    // user 2: touch OUTSIDE the lookback, then convert (nulls);
    // user 3: same-ms view+click+convert (frame includes both; first
    //         prefers view's lower code, last prefers click's higher);
    // user 4: convert with NO touches ever (nulls);
    // user 5: two conversions sharing state across the stream
    val rows = Seq[(Long, Long, Long, String)](
      (1L, ns(100), 1L, "view"), (2L, ns(500), 1L, "click"),
      (3L, ns(900), 1L, "purchase"),
      (4L, ns(0), 2L, "signup"), (5L, ns(5000), 2L, "purchase"),
      (6L, ns(300), 3L, "view"), (7L, ns(300), 3L, "click"),
      (8L, ns(300), 3L, "purchase"),
      (9L, ns(50), 4L, "purchase"),
      (10L, ns(100), 5L, "click"), (11L, ns(200), 5L, "purchase"),
      (12L, ns(1500), 5L, "purchase"))

    val batchWant = EventAnalytics.attribution(
        rows.toDF("event_id", "ts", "user_id", "event_type")
          .withColumn("ms", expr("ts div 1000000")),
        touches, lookbackMs = look)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(3)), Option(r.getString(4))))).toMap
    assert(batchWant(3L) == ((Some("view"), Some("click"))))
    assert(batchWant(5L) == ((None, None)))
    assert(batchWant(8L) == ((Some("view"), Some("click"))))
    assert(batchWant(9L) == ((None, None)))
    assert(batchWant(12L) == ((None, None)), "touch at 100 is out of window")

    def run(batches: Seq[Seq[(Long, Long, Long, String)]], name: String) = {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
      val q = StreamingOps.streamingAttribution(events, touches,
          lookbackMs = look)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).collect().map(r => r.getLong(0) ->
        ((Option(r.getString(3)), Option(r.getString(4))))).toMap
    }
    assert(run(Seq(rows), "attrib_stream_1") == batchWant)
    val (early, late) = rows.partition(_._2 < ns(400))
    assert(run(Seq(early, late), "attrib_stream_2") == batchWant)
  }

  test("streaming sliding counts batch-parity: closed windows equal the " +
      "batch sliding query, single- and multi-batch") {
    implicit val sqlCtx = spark.sqlContext
    val hourNs = 3600L * 1000000000L
    // events inside hours 0-2; every one lands in TWO 1h/30min windows
    val rows = Seq[(Long, Long, String, Double)](
      (1L, 0L * hourNs + 1000000L, "click", 1.5),
      (2L, 0L * hourNs + 2000000L, "click", 2.0),
      (3L, 0L * hourNs + 1800L * 1000000000L + 5000000L, "view", 1.0),
      (4L, 1L * hourNs + 1000000L, "click", 4.0),
      (5L, 2L * hourNs + 1000000L, "view", 0.5))
    val sentinel = (99L, 50L * hourNs, "click", 0.0) // advances the watermark
    // batch twin over the SAME rows (sentinel excluded: its windows stay
    // open in the stream and are never emitted)
    val want = rows.toDF("event_id", "ts", "event_type", "value")
      .withColumn("t", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("t"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      .select(unix_millis(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(want.size == 8, s"fixture must spread over 8 (window, type) groups: $want")

    def run(batches: Seq[Seq[(Long, Long, String, Double)]], name: String) = {
      val mem = MemoryStream[(Long, Long, String, Double)]
      val events = mem.toDF().toDF("event_id", "ts", "event_type", "value")
      val q = StreamingOps.slidingCounts(events)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
      q.stop()
      spark.table(name).collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    }
    assert(run(Seq(rows), "sliding_stream_1") == want)
    // split across micro-batches on event time: windows straddling the
    // split accumulate state across batches before closing
    val (early, late) = rows.partition(_._2 < hourNs)
    assert(run(Seq(early, late), "sliding_stream_2") == want)
  }

  test("concurrently built stateful streams keep independent overflow " +
      "accumulators (no shared-static clobbering)") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    spark.conf.set(StreamingOps.MaxGroupBufferKey, "16")
    try {
      val memA = MemoryStream[(Long, Long, Long, String)]
      val memB = MemoryStream[(Long, Long, Long, String)]
      val (outA, accA) = StreamingOps.streamingFunnelWithMetrics(
        memA.toDF().toDF("event_id", "ts", "user_id", "event_type"), steps, 100L)
      val (outB, accB) = StreamingOps.streamingFunnelWithMetrics(
        memB.toDF().toDF("event_id", "ts", "user_id", "event_type"), steps, 100L)
      val qA = outA.writeStream.format("memory").queryName("acc_funnel_a")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      val qB = outB.writeStream.format("memory").queryName("acc_funnel_b")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      // A overflows (40 rows, one user, cap 16); B stays under the cap
      memA.addData((0 until 40).map(i =>
        (i.toLong, i.toLong * 1000000L, 1L, "view")): _*)
      memB.addData((0 until 8).map(i =>
        (i.toLong, i.toLong * 1000000L, 1L, "view")): _*)
      qA.processAllAvailable(); qB.processAllAvailable()
      qA.stop(); qB.stop()
      assert(accA.value == 40L - 16L, s"A overflow ${accA.value}")
      assert(accB.value == 0L,
        s"B's accumulator caught A's overflow: ${accB.value}")
    } finally spark.conf.unset(StreamingOps.MaxGroupBufferKey)
  }

  test("streaming funnel hot key over the group-buffer cap: chunked scan " +
      "stays exact for in-order arrival, overflow counted") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    // ONE user, 120 in-order STEP events (non-step types are filtered
    // before grouping, so fillers must be steps to load the buffer): the
    // anchor is the first view, the converting click/purchase land past
    // several chunk boundaries at cap 16, and the surrounding repeats are
    // state no-ops — exact state threading across chunks is the law.
    val rows = (0 until 120).map { i =>
      val tpe = if (i < 85) "view" else if (i < 99) "click" else "purchase"
      (i.toLong, i.toLong * 1000000L, 9L, tpe)
    }
    spark.conf.set(StreamingOps.MaxGroupBufferKey, "16")
    try {
      val mem = MemoryStream[(Long, Long, Long, String)]
      val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
      val (out, overflow) =
        StreamingOps.streamingFunnelWithMetrics(events, steps, windowMs = 100L)
      val q = out.writeStream.format("memory").queryName("funnel_hotkey")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      mem.addData(rows: _*)
      q.processAllAvailable()
      q.stop()
      assert(overflow.value == 120L - 16L,
        s"overflow counted ${overflow.value}, expected 104 (120 rows - cap 16)")
      val got = spark.table("funnel_hotkey").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .maxBy(_._2)
      // ts = i * 1e6 ns -> ms = i; anchor view 0, first click 85 (within
      // the 100 ms window), first purchase 99
      assert(got == ((9L, 3L, Seq(0L, 85L, 99L))),
        s"chunked hot-key funnel diverged: $got")
    } finally spark.conf.unset(StreamingOps.MaxGroupBufferKey)
  }

  test("streaming PSI drift: per-window score equals the batch formula, " +
      "matching windows score low, shifted windows high, multi-batch") {
    implicit val sqlCtx = spark.sqlContext
    val hourMs = 3600L * 1000L
    val nBuckets = 4
    val width = 100
    // reference: uniform over buckets 0..3
    val ref = Map(0L -> 25L, 1L -> 25L, 2L -> 25L, 3L -> 25L)
    // window 0: matches the reference shape; window 1: everything in
    // bucket 3 (shifted distribution)
    val w0 = (0 until 40).map(i => (i.toLong, (i % 4) * 100L + 10L, 5L * 60000L))
    val w1 = (0 until 40).map(i => (100L + i, 330L, hourMs + 5L * 60000L))
    val sentinel = Seq((999L, 0L, 10L * hourMs))
    def psiOf(values: Seq[Long]): Double = {
      val totRef = ref.values.sum.toDouble
      val cur = values.map(v => math.min(nBuckets - 1L, v / width))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = values.size.toDouble
      (0L until nBuckets).map { b =>
        val pR = (ref(b).toDouble + 0.5) / (totRef + 0.5 * nBuckets)
        val pC = (cur.getOrElse(b, 0L).toDouble + 0.5) / (n + 0.5 * nBuckets)
        (pC - pR) * math.log(pC / pR)
      }.sum
    }
    def rnd6(x: Double) = math.rint(x * 1e6) / 1e6

    def run(batches: Seq[Seq[(Long, Long, Long)]], name: String) = {
      val mem = MemoryStream[(Long, Long, Long)]
      val docs = mem.toDF().toDF("doc_id", "v", "ts_ms")
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
      val out = StreamingOps.streamingPsiDrift(docs, "event_time", "v",
        ref, bucketWidth = width, nBuckets = nBuckets)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(sentinel: _*); q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    }
    val want = Map(
      0L -> ((40L, rnd6(psiOf(w0.map(_._2))))),
      hourMs -> ((40L, rnd6(psiOf(w1.map(_._2))))))
    val got1 = run(Seq(w0 ++ w1), "psi_stream_1")
    assert(got1 == want, s"single-batch: $got1 vs $want")
    // the semantics check: matched shape scores near 0, shift scores high
    assert(got1(0L)._2 < 0.05 && got1(hourMs)._2 > 1.0, got1.toString)
    // multi-batch: window 0's counts accumulate across two batches
    val (a, b) = w0.splitAt(20)
    val got2 = run(Seq(a, b ++ w1), "psi_stream_2")
    assert(got2 == want, s"multi-batch: $got2 vs $want")
  }

  test("streaming inverted-index delta batch-parity: appended postings " +
      "and latest per-term stats equal the batch index, single- and " +
      "multi-batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox the fox"),
      (2L, "lazy dog and the dog"),
      (3L, "quick quick dog"),
      (4L, "entirely fresh vocabulary"))
    // batch twins over the SAME corpus: the tf stage and the df stage of
    // graft.ext.InvertedIndex (minDf=1 so nothing is filtered)
    import spark.implicits._
    val docsB = docs.toDF("doc_id", "text")
    val tfWant = docsB
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val statsWant = graft.ext.InvertedIndex
      .postings(docsB, minDf = 1L, maxDf = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

    def run(batches: Seq[Seq[(Long, String)]], name: String) = {
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().toDF("doc_id", "text")
      val delta = StreamingOps.streamingPostingsDelta(stream)
      val qPost = delta.writeStream.format("memory")
        .queryName(s"${name}_post").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      // chained: stateless delta feeding the one stateful df aggregator
      val qStats = StreamingOps
        .streamingTermStats(StreamingOps.streamingPostingsDelta(
          mem.toDF().toDF("doc_id", "text")))
        .writeStream.format("memory").queryName(s"${name}_stats")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) {
        mem.addData(b: _*); qPost.processAllAvailable()
        qStats.processAllAvailable()
      }
      qPost.stop(); qStats.stop()
      val postings = spark.table(s"${name}_post").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // totals are monotone: the latest emission per term is the max
      val stats = spark.table(s"${name}_stats").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      (postings, stats)
    }

    val (p1, s1) = run(Seq(docs), "invidx_1")
    assert(p1 == tfWant, s"single-batch postings diverged: $p1")
    assert(s1 == statsWant, s"single-batch stats diverged: $s1")
    // multi-batch: terms straddling the split must accumulate df across
    // batches and re-emit growing totals
    val (p2, s2) = run(Seq(docs.take(2), docs.drop(2)), "invidx_2")
    assert(p2 == tfWant, s"multi-batch postings diverged: $p2")
    assert(s2 == statsWant, s"multi-batch stats diverged: $s2")
    // the dictionary DELTA property: a term in both halves ("dog") was
    // re-emitted each batch it appeared in, with strictly growing df
    val dogRows = spark.table("invidx_2_stats").collect()
      .filter(_.getString(0) == "dog").map(r => (r.getLong(1), r.getLong(2)))
    assert(dogRows.length == 2 && dogRows.toSet == Set((1L, 2L), (2L, 3L)),
      s"dog must re-emit per batch with growing totals: ${dogRows.toSeq}")
  }

  test("streaming HLL distinct batch-parity: closed windows carry the " +
      "bit-identical sketch (estimate AND registers) as the batch " +
      "groupBy, single- and multi-batch") {
    import graft.ext.Sketches
    implicit val sqlCtx = spark.sqlContext
    val hourNs = 3600L * 1000000000L
    // user ids repeat within and across hours; hour 1 sees a superset
    val rows = Seq[(Long, Long)](          // (ts, user_id)
      (0L * hourNs + 1000000L, 1L), (0L * hourNs + 2000000L, 2L),
      (0L * hourNs + 3000000L, 1L), (0L * hourNs + 9000000L, 3L),
      (1L * hourNs + 1000000L, 1L), (1L * hourNs + 2000000L, 4L),
      (1L * hourNs + 5000000L, 5L), (1L * hourNs + 6000000L, 4L))
    val sentinel = (50L * hourNs, 999L)
    val want = rows.toDF("ts", "user_id")
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(Sketches.hllRegisters(col("user_id"), ":shll", 8).as("regs"))
      .select(unix_millis(col("window.start")).as("w_start"),
        round(Sketches.hllEstimateFromRegisters(col("regs"), 8)
          .getField("_1"), 6).as("est"), col("regs"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2))).toSet
    assert(want.size == 2)
    // 3 and 5 distinct keys sit deep in linear counting: near-exact
    assert(want.map(_._2).toSeq.sorted.zip(Seq(3.0, 5.0))
      .forall { case (e, n) => math.abs(e - n) < 0.2 })

    def run(batches: Seq[Seq[(Long, Long)]], name: String) = {
      val mem = MemoryStream[(Long, Long)]
      val events = mem.toDF().toDF("ts", "user_id")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val q = StreamingOps.streamingDistinct(events, "event_time", "user_id")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2))).toSet
    }
    assert(run(Seq(rows), "shll_1") == want)
    // split MID-WINDOW: hour-0 state must accumulate across micro-batches
    val (early, late) = rows.splitAt(3)
    assert(run(Seq(early, late), "shll_2") == want)
    // and the streamed register artifacts roll up like batch ones:
    // merging the two window sketches equals one sketch over all rows
    val streamed = run(Seq(rows), "shll_3")
    val mergedEst = streamed.toSeq.map(_._3).map(s => s.toArray)
      .reduce((a, b) => a.zip(b).map { case (x, y) => math.max(x, y) })
    val global = rows.toDF("ts", "user_id")
      .agg(Sketches.hllRegisters(col("user_id"), ":shll", 8)).head
      .getSeq[Int](0).toArray
    assert(mergedEst.toSeq == global.toSeq,
      "streamed window registers must max-merge to the global sketch")
  }

  test("streaming CMS batch-parity: closed windows carry bit-identical " +
      "counter arrays; window sketches sum-merge to the global sketch " +
      "and point estimates bound the exact counts") {
    import graft.ext.{CountMin, Dedup}
    implicit val sqlCtx = spark.sqlContext
    val hourNs = 3600L * 1000000000L
    val (d, w) = (3, 64)
    val rows = Seq[(Long, String)](
      (0L * hourNs + 1000000L, "cat"), (0L * hourNs + 2000000L, "cat"),
      (0L * hourNs + 3000000L, "dog"), (0L * hourNs + 9000000L, "cat"),
      (1L * hourNs + 1000000L, "dog"), (1L * hourNs + 2000000L, "emu"),
      (1L * hourNs + 5000000L, "dog"))
    val sentinel = (50L * hourNs, "zzz")
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withColumn("h", Dedup.base60Col(col("tok")))
    val want = prep(rows.toDF("ts", "tok"))
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(CountMin.sketch(col("h"), d, w).as("sk"))
      .select(unix_millis(col("window.start")).as("w_start"), col("sk"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(want.size == 2)

    def run(batches: Seq[Seq[(Long, String)]], name: String) = {
      val mem = MemoryStream[(Long, String)]
      val events = prep(mem.toDF().toDF("ts", "tok"))
      val q = StreamingOps.streamingCms(events, "event_time", col("h"),
          d, w)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    }
    assert(run(Seq(rows), "scms_1") == want)
    val (early, late) = rows.splitAt(3)
    assert(run(Seq(early, late), "scms_2") == want)
    // linearity: summed window sketches = one sketch over all rows, and
    // the point estimate upper-bounds (here: equals) the exact count
    val merged = run(Seq(rows), "scms_3").toSeq.map(_._2.toArray)
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    val global = prep(rows.toDF("ts", "tok"))
      .agg(CountMin.sketch(col("h"), d, w)).head.getSeq[Long](0)
    assert(merged.toSeq == global, "window sketches must sum to global")
    val est = prep(rows.toDF("ts", "tok")).limit(1)
      .select(CountMin.estimate(
        typedLit(merged.toSeq), col("h"), d, w)).head.getLong(0)
    assert(est >= 3L, s"cat estimate $est must bound the exact 3")
  }

  test("streaming expectations batch-parity: per-window violation counts " +
      "equal the batch conditional sums and survive mid-window splits") {
    implicit val sqlCtx = spark.sqlContext
    val hourNs = 3600L * 1000000000L
    val rows = Seq[(Long, String, Long)](
      (0L * hourNs + 1000000L, "en", 50L), (0L * hourNs + 2000000L, "xx", 20L),
      (0L * hourNs + 3000000L, "de", -1L), (0L * hourNs + 4000000L, "en", 30L),
      (1L * hourNs + 1000000L, "zz", 999999L), (1L * hourNs + 2000000L, "fr", 10L))
    val sentinel = (50L * hourNs, "en", 1L)
    val constraints = Seq(
      "lang_in_domain" -> !col("lang").isin("en", "de", "es", "fr", "zh"),
      "n_in_range" -> !col("n").between(0L, 1000L))
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    def render(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSet
    val want = Set(
      (0L, 4L, "lang_in_domain", 1L, 0L), (0L, 4L, "n_in_range", 1L, 0L),
      (3600000L, 2L, "lang_in_domain", 1L, 0L),
      (3600000L, 2L, "n_in_range", 1L, 0L))

    def run(batches: Seq[Seq[(Long, String, Long)]], name: String) = {
      val mem = MemoryStream[(Long, String, Long)]
      val events = prep(mem.toDF().toDF("ts", "lang", "n"))
      val q = StreamingOps.streamingExpectations(events, "event_time",
          constraints)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
      q.stop()
      render(spark.table(name))
    }
    assert(run(Seq(rows), "sexp_1") == want)
    val (early, late) = rows.splitAt(2) // split MID-WINDOW
    assert(run(Seq(early, late), "sexp_2") == want)
  }

  test("streaming rate-anomaly batch-parity: closed windows score " +
      "identically to the batch projection, micro-batch splits cannot " +
      "change counts, and unknown types emit as anomalies with null z") {
    implicit val sqlCtx = spark.sqlContext
    val hourNs = 3600L * 1000000000L
    val baseline = Map("view" -> (10.0, 2.0), "click" -> (4.0, 0.0))
    val rows = (0 until 30).map(i =>
      (0L * hourNs + i * 1000000L, "view")) ++ Seq(
      (0L * hourNs + 1000000L, "click"),   // sd = 0 -> z pinned to 0
      (0L * hourNs + 2000000L, "mystery"), // not in baseline: flagged
      (1L * hourNs + 1000000L, "view"),    // n=1 vs mu=10: big negative z
      (1L * hourNs + 2000000L, "view"))
    val sentinel = (50L * hourNs, "zzz")
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    def render(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getLong(4))).toSet
    val muM = typedLit(baseline.map { case (k, v) => k -> v._1 })
    val sdM = typedLit(baseline.map { case (k, v) => k -> v._2 })
    val sd = element_at(sdM, col("tok"))
    val zB = round(when(sd.isNotNull && sd > 0,
      (col("n").cast("double") - element_at(muM, col("tok"))) / sd)
      .otherwise(when(sd.isNotNull, lit(0.0))), 6)
    val aB = when(sd.isNull, lit(1L))
      .otherwise((abs(zB) > 3.0).cast("long"))
    val want = render(prep(rows.toDF("ts", "tok"))
      .groupBy(window(col("event_time"), "1 hour"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("w_start"),
        col("tok").as("event_type"), col("n"), zB.as("z"),
        aB.as("anomaly")))
    assert(want.size == 4)
    assert(want.exists { case (_, t, _, z, a) =>
      t == "view" && z.exists(_ < -3.0) && a == 1L }, s"no anomaly in $want")
    assert(want.exists { case (_, t, _, z, a) =>
      t == "click" && z.contains(0.0) && a == 0L }, s"sd=0 not pinned in $want")
    assert(want.exists { case (_, t, _, z, a) =>
      t == "mystery" && z.isEmpty && a == 1L },
      s"unknown type not flagged in $want")

    def run(batches: Seq[Seq[(Long, String)]], name: String) = {
      val mem = MemoryStream[(Long, String)]
      val events = prep(mem.toDF().toDF("ts", "tok"))
      val q = StreamingOps.streamingRateAnomaly(events, "event_time",
          "tok", baseline)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
      q.stop()
      render(spark.table(name))
    }
    assert(run(Seq(rows), "sra_1") == want)
    val (early, late) = rows.splitAt(7) // split MID-WINDOW
    assert(run(Seq(early, late), "sra_2") == want)
  }

  test("streaming quantile-sketch batch-parity: closed windows carry " +
      "bit-identical k-min states regardless of micro-batch splits, and " +
      "streamed window states merge-rollup to the global sketch") {
    import graft.ext.Sketches
    implicit val sqlCtx = spark.sqlContext
    val hourNs = 3600L * 1000000000L
    val k = 8
    val rows = Seq[(Long, Long, Double)](
      (0L * hourNs + 1000000L, 1L, 10.0), (0L * hourNs + 2000000L, 2L, 40.0),
      (0L * hourNs + 3000000L, 3L, 20.0), (0L * hourNs + 9000000L, 4L, 90.0),
      (1L * hourNs + 1000000L, 5L, 15.0), (1L * hourNs + 2000000L, 6L, 55.0),
      (1L * hourNs + 5000000L, 7L, 35.0), (1L * hourNs + 6000000L, 8L, 75.0))
    val sentinel = (50L * hourNs, 99L, 0.0)
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    def render(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getSeq[org.apache.spark.sql.Row](3)
          .map(s => (s.getDouble(0), s.getDouble(1))))).toSet
    val reads = Sketches.kmvQuantilesFromState(col("state"), Seq(0.5, 0.9))
    val want = render(prep(rows.toDF("ts", "uid", "v"))
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(Sketches.kmvQuantilesState(
        Sketches.hashUnit(col("uid"), ":sq"), col("v"), k).as("state"))
      .select(unix_millis(col("window.start")).as("w_start"),
        round(element_at(reads, 1), 6).as("p50"),
        round(element_at(reads, 2), 6).as("p90"),
        col("state")))
    assert(want.size == 2)

    def run(batches: Seq[Seq[(Long, Long, Double)]], name: String) = {
      val mem = MemoryStream[(Long, Long, Double)]
      val events = prep(mem.toDF().toDF("ts", "uid", "v"))
      val q = StreamingOps.streamingQuantiles(events, "event_time",
          col("uid"), col("v"), k = k)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      for (b <- batches) { mem.addData(b: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
      q.stop()
      render(spark.table(name))
    }
    assert(run(Seq(rows), "sqk_1") == want)
    // split MID-WINDOW: the k-min sample must accumulate across batches
    val (early, late) = rows.splitAt(3)
    assert(run(Seq(early, late), "sqk_2") == want)
    // rollup: merging the two streamed window states reads off the same
    // quantiles as one global sketch over all rows
    val states = run(Seq(rows), "sqk_3").toSeq.map(_._4.toSeq)
    val rolled = states.toDF("st")
      .agg(Sketches.kmvQuantilesMergeState(col("st"), k).as("state"))
      .select(round(element_at(reads, 1), 6), round(element_at(reads, 2), 6))
      .head
    val global = prep(rows.toDF("ts", "uid", "v"))
      .agg(Sketches.kmvQuantilesState(
        Sketches.hashUnit(col("uid"), ":sq"), col("v"), k).as("state"))
      .select(round(element_at(reads, 1), 6), round(element_at(reads, 2), 6))
      .head
    assert(rolled == global,
      "merged streamed window states must read off the global quantiles")
  }
}
