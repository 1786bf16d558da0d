package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.api.{MagmaConfig, Melt}
import graft.core.{CType, CUnit, MagmaDF}
import graft.functions.{Deng2020, Fo2Dedup, IwFull, QfmFull}

/** Formulation-invariance law for the conf-keyed fO2 dedup path
  * ([[graft.functions.Fo2Dedup]]): the distinct+broadcast-join plan must
  * return exactly the per-row memoised UDF's rows — including repeated
  * (T, P) conditions (the dedup's whole point) and null conditions (the
  * null-safe `<=>` join keys; a plain equi-join would DROP those rows). */
class Fo2DedupSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    Seq[(Long, java.lang.Double, java.lang.Double)](
      (1L, 1473.15, 2000.0),
      (2L, 1473.15, 2000.0), // repeated condition — must not collapse rows
      (3L, 1573.15, 5000.0),
      (4L, null, 3000.0),    // null T — null-safe join must keep the row
      (5L, 1623.15, null))   // null P
      .toDF("id", "T_K", "P_bar")
  }

  /** `df` (with `T_K`, `P_bar`) as one fixed basalt at fO2 1e-8 bar,
    * through the public API's deng2020 loop columns — whose memoised dVdP
    * loop captures the loop memo stats attached when it is built. */
  private def dengFe3Fe2(df: DataFrame): DataFrame = {
    val oxides = Seq("SiO2" -> 48.5, "TiO2" -> 1.2, "Al2O3" -> 15.3,
      "FeO" -> 9.0, "MnO" -> 0.17, "MgO" -> 7.8, "CaO" -> 11.0,
      "Na2O" -> 2.6, "K2O" -> 0.7, "P2O5" -> 0.25, "H2O" -> 1.5)
    val melts = oxides.foldLeft(df.withColumn("fO2", lit(1e-8))) {
      case (d, (c, wt)) => d.withColumn(c, lit(wt))
    }
    new Melt(MagmaDF.wrap(melts, CUnit.WtPc, CType.Oxide),
      MagmaConfig(fe3fe2Model = "deng2020")).fe3Fe2().df
  }

  private def collectBoth(f: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame): (Seq[Row], Seq[Row]) = {
    val off = f(fixture).orderBy("id").collect().toSeq
    spark.conf.set(Fo2Dedup.DedupKey, "true")
    val on =
      try f(fixture).orderBy("id").collect().toSeq
      finally spark.conf.unset(Fo2Dedup.DedupKey)
    (off, on)
  }

  test("withQfm: dedup-on rows equal memo-path rows (nulls, repeats)") {
    val (off, on) = collectBoth(df =>
      QfmFull.withQfm(df, "T_K", "P_bar", logshift = 0.3))
    assert(on == off)
    assert(on.size == 5, "null conditions must survive the join-back")
  }

  test("withIw: dedup-on rows equal memo-path rows (nulls, repeats)") {
    val (off, on) = collectBoth(df =>
      IwFull.withIw(df, "T_K", "P_bar", logshift = -0.5))
    assert(on == off)
    assert(on.size == 5)
  }

  test("probe-measured near-unique (T, P) runs the read-only fO2 memo: " +
      "values match the dedup path, zero insertions (no evict churn); " +
      "forced false keeps the write-through memo") {
    import org.apache.spark.sql.functions.{col, sum}
    // >= MinAutoRows, all-distinct conditions, keys no other test uses:
    // the auto probe must measure near-unique and pick NoInsertUdf
    val df = spark.range(2048).select(
      (col("id").cast("double") * 0.137 + 1403.77).as("T_K"),
      (col("id").cast("double") * 31.91 + 1.23).as("P_bar"))
    assert(Fo2Dedup.formulation(df, "T_K", "P_bar", "spec-noinsert")
      == Fo2Dedup.NoInsertUdf)
    def rows(d: org.apache.spark.sql.DataFrame): Seq[Double] =
      d.orderBy("T_K").collect().map(_.getDouble(2)).toSeq
    val iwBefore = IwFull.fO2CacheSize
    val iwNo = rows(IwFull.withIw(df, "T_K", "P_bar"))
    // QFM has no (T, P) memo: its buffer is closed form over the
    // transitions, which the loop memo keeps per T
    val qfmNo = rows(QfmFull.withQfm(df, "T_K", "P_bar"))
    assert(IwFull.fO2CacheSize == iwBefore,
      "read-only memo path inserted into the fO2 cache")
    // the same rows through the dedup plan (solve once per condition,
    // broadcast back): identical values — the formulation never changes
    // results
    spark.conf.set(Fo2Dedup.DedupKey, "true")
    val (iwDedup, qfmDedup) =
      try (rows(IwFull.withIw(df, "T_K", "P_bar")),
        rows(QfmFull.withQfm(df, "T_K", "P_bar")))
      finally spark.conf.unset(Fo2Dedup.DedupKey)
    assert(iwNo == iwDedup && qfmNo == qfmDedup)
    // forced false (and streaming/tiny/opaque inputs) stays write-through:
    // repeated conditions there may well arrive, insertion is the safe
    // default
    spark.conf.set(Fo2Dedup.DedupKey, "false")
    try assert(Fo2Dedup.formulation(df, "T_K", "P_bar", "spec-forced")
      == Fo2Dedup.MemoUdf)
    finally spark.conf.unset(Fo2Dedup.DedupKey)
  }

  test("Memo partial eviction drops ~cap/8, keeps the rest, counts drops") {
    val m = new graft.functions.Memo[Int, Int](cap = 64)
    val st = graft.functions.MemoStats.attach(spark, "spec.memo")
    m.attach(st)
    for (i <- 0 until 65) m.getOrFill(i)(i)
    assert(m.size == 65, "eviction fires on the NEXT lookup past the cap")
    // size 65 > cap -> evict down to cap - cap/8 = 56 (drop 9), then insert
    m.getOrFill(999)(999)
    assert(m.size == 65 - 9 + 1, s"size after partial eviction: ${m.size}")
    assert(st.evicted.value == 9L)
    assert(st.misses.value == 66L && st.hits.value == 0L)
    // 56 of the 65 original keys survive — clear-all would have kept 0
    val survivors = (0 until 65).count(m.contains)
    assert(survivors == 65 - 9,
      s"$survivors survivors; partial eviction must keep the working set")
  }

  test("Memo eviction under concurrent thrash: one evictor at a time, " +
      "counts consistent, size bounded") {
    // the near-unique-key regime: every lookup from every thread is a
    // miss, so all threads see size > cap together. The single-evictor
    // CAS must keep dropped <= inserted (the r9 bench caught evicted 4x
    // misses from concurrent eviction iterators) and hold size near cap.
    val cap = 1000
    val m = new graft.functions.Memo[Int, Int](cap)
    val st = graft.functions.MemoStats.attach(spark, "spec.memo.conc")
    m.attach(st)
    val threads = 16
    val perThread = 20000
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.CountDownLatch(threads)
    for (t <- 0 until threads) pool.execute { () =>
      for (i <- 0 until perThread) m.getOrFill(t * perThread + i)(i)
      done.countDown()
    }
    done.await()
    pool.shutdown()
    // With all 320k keys distinct, every lookup is a miss and every
    // surviving entry was inserted exactly once: the counters must not
    // lose one of the 16 threads' concurrent adds, and conservation pins
    // the evictor exactly: evicted == inserted - size. The old
    // concurrent-eviction code failed this by counting each other's
    // removals (r9 bench: evicted 4x inserts).
    val inserted = threads.toLong * perThread
    assert(st.misses.value == inserted && st.hits.value == 0L,
      s"${st.misses.value} misses + ${st.hits.value} hits for $inserted " +
        "distinct lookups")
    assert(st.evicted.value == inserted - m.size,
      s"evicted ${st.evicted.value} != inserted $inserted - size ${m.size}")
    assert(st.evicted.value > 0, "thrash must evict")
    // size hovers near cap: each eviction pass sizes itself from the
    // observed overshoot, so even free-running inserters cannot run the
    // map away (pre-fix this hit 19x cap). Generous 2x slack for the
    // inserts that land while a pass is scanning.
    assert(m.size <= 2 * cap, s"size ${m.size} far above cap $cap")
  }

  test("auto (no flag): grid-like conditions plan the broadcast dedup " +
      "shape, near-unique conditions plan narrow, decisions recorded") {
    // no conf set — DedupKey defaults to "auto"
    assert(spark.conf.getOption(Fo2Dedup.DedupKey).isEmpty)
    Fo2Dedup.drainDecisions() // clear anything earlier suites probed
    // 100-cell (T, P) lattice over 4096 rows: distinct/rows ~ 0.024 —
    // the probe must flip to distinct+broadcast-join
    val grid = spark.range(4096).select(col("id"),
      (lit(1273.15) + (col("id") % 20).cast("double") * 10.0).as("T_K"),
      (lit(1000.0) + (col("id") % 5).cast("double") * 500.0).as("P_bar"))
    val gridPlan = QfmFull.withQfm(grid, "T_K", "P_bar")
      .queryExecution.executedPlan.toString
    assert(gridPlan.contains("BroadcastHashJoin"),
      s"grid-like input must plan the dedup broadcast join:\n$gridPlan")
    // every (T, P) unique: distinct/rows ~ 1 — memo path, ZERO joins
    val uniq = spark.range(4096).select(col("id"),
      (lit(1273.15) + col("id").cast("double") * 0.01).as("T_K"),
      (lit(1000.0) + col("id").cast("double") * 0.37).as("P_bar"))
    val uniqPlan = graft.functions.IwFull.withIw(uniq, "T_K", "P_bar")
      .queryExecution.executedPlan.toString
    assert(!uniqPlan.contains("Join"),
      s"near-unique input must keep the narrow memo shape:\n$uniqPlan")
    // both decisions surfaced for the Bench diag export
    val ds = Fo2DedupSpec.byFamily(Fo2Dedup.drainDecisions())
    assert(ds.get("qfm").exists(_.dedup), ds.toString)
    assert(ds.get("iw").exists(d => !d.dedup), ds.toString)
  }

  test("auto probe skips streaming inputs (no eager job at build time) " +
      "and non-scan-shaped plans (limit would not bound the probe)") {
    // streaming: the probe's limit+complete-agg+head would throw
    // AnalysisException at query-BUILD time; auto must fall back to the
    // memo path and build a valid streaming plan instead
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", 1).load()
      .select((col("value").cast("double") + 1273.15).as("T_K"),
        (col("value").cast("double") * 0.37 + 1000.0).as("P_bar"))
    assert(stream.isStreaming)
    val streamOut = QfmFull.withQfm(stream, "T_K", "P_bar")
    assert(streamOut.isStreaming, "build must succeed on a stream")
    assert(!streamOut.queryExecution.analyzed.toString.contains("Join"),
      "streaming input must keep the narrow memo shape")
    // non-scan-shaped: a limit above an aggregate still executes the full
    // upstream lineage, so auto must not probe — memo path, no join
    Fo2Dedup.drainDecisions()
    val grid = spark.range(4096).select(
      (lit(1273.15) + (col("id") % 20).cast("double") * 10.0).as("T_K"),
      (lit(1000.0) + (col("id") % 5).cast("double") * 500.0).as("P_bar"))
    val agged = grid.groupBy("T_K", "P_bar")
      .agg(count(lit(1)).as("n")).drop("n")
    val plan = QfmFull.withQfm(agged, "T_K", "P_bar")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"agg-upstream input must not be probed:\n$plan")
    assert(Fo2DedupSpec.byFamily(Fo2Dedup.drainDecisions()).isEmpty,
      "no probe decision may be recorded for unprobeable inputs")
  }

  test("auto probe skips tiny inputs: memo path below MinAutoRows") {
    val plan = QfmFull.withQfm(fixture, "T_K", "P_bar")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"5-row input must not pay the dedup machinery:\n$plan")
  }

  test("production fO2 memo caches: fresh accumulators count every call, " +
      "eviction accounting conserves (evicted <= inserted)") {
    import org.apache.spark.sql.functions.{col, lit, sum}
    // attach FRESH counters to the live caches (what Bench/Verify do),
    // then push a real solve through every family via the public entry
    // points, IW forced onto the memoised-UDF path. 8 partitions on the
    // 4-thread session: task threads add to the driver's shared counters
    // concurrently, and every add must land.
    assert(QfmFull.attachMetrics(spark).isEmpty, "QFM counts in the loop memo")
    val iwStats = IwFull.attachMetrics(spark)
    val loops = Deng2020.attachMetrics(spark).dvdp
    val n = 400000L
    val df = spark.range(0, n, 1, 8).select(
      ((col("id") % 10).cast("double") * 50.0 + lit(1273.15)).as("T_K"),
      ((col("id") % 20).cast("double") * 250.0 + lit(1000.0)).as("P_bar"))
    def lookups: Long = loops.hits.value + loops.misses.value
    spark.conf.set(Fo2Dedup.DedupKey, "false")
    try {
      QfmFull.withQfm(df, "T_K", "P_bar").agg(sum("fO2")).head()
      // every row looks up its three transitions exactly once
      assert(lookups == 3 * n, s"${loops.render}: $lookups lookups for $n QFM rows")
      IwFull.withIw(df, "T_K", "P_bar").agg(sum("fO2")).head()
    } finally spark.conf.unset(Fo2Dedup.DedupKey)
    dengFe3Fe2(df).agg(sum("Fe3Fe2")).head()
    // ... and its dVdP once
    assert(lookups == 4 * n, s"${loops.render}: $lookups lookups for $n QFM and Deng rows")
    val top = iwStats.filter(_.name.endsWith("fO2Cache"))
    assert(top.size == 1, iwStats.map(_.name).toString)
    for (st <- top) {
      // every row goes through the top-level cache exactly once
      assert(st.hits.value + st.misses.value == n,
        s"${st.name}: ${st.hits.value} hits + ${st.misses.value} misses != $n")
      // the caches persist across suites, so the hit/miss split is not
      // pinned — but with 20 distinct (T, P) conditions (lcm(10,20)=20
      // joint values) a working cache must mostly hit
      assert(st.misses.value <= 20L,
        s"${st.name}: ${st.misses.value} misses for 20 distinct conditions")
    }
    // 10 temperatures: 30 transition solves; 10 x at most 12 lattice
    // lengths of dVdP
    assert(loops.misses.value <= 30L + 120L, loops.render)
    for (st <- iwStats :+ loops) {
      // eviction accounting (the r9 concurrent-evictor bug): a cache can
      // never have dropped more entries than were ever inserted
      assert(st.evicted.value <= st.misses.value,
        s"${st.name}: evicted ${st.evicted.value} > inserted ${st.misses.value}")
    }
  }

  test("closure-captured Deng memo stats republish per task: counts " +
      "reach the driver with its own stats detached, and no task's copy " +
      "outlives its task") {
    val deng = Deng2020.attachMetrics(spark)
    val memo = graft.expressions.LoopExpression.memo
    val n = 4000L
    val df = spark.range(0, n, 1, 8).select(
      ((col("id") % 10).cast("double") * 50.0 + lit(1273.15)).as("T_K"),
      ((col("id") % 20).cast("double") * 250.0 + lit(1000.0)).as("P_bar"))
    val fe3 = dengFe3Fe2(df) // the dVdP loop column captures `deng` here
    // detach the driver side: the task threads now see no stats, as on a
    // remote executor, and must republish their deserialized copies
    memo.attach(null)
    fe3.agg(sum("Fe3Fe2")).head()
    val lookups = deng.dvdpHits.value + deng.dvdpMisses.value
    // local task threads share one static, so a copy published by one task
    // can take another task's adds after its value shipped: present, but
    // approximate at task boundaries
    assert(lookups > 0L && lookups <= n,
      s"$lookups dVdP lookups reached the driver for $n rows")
    assert(memo.attached.isEmpty,
      "a task's stats copy stayed published after its task completed")
  }

  test("auto probe strips repartitions: a repartition(n) input is probed " +
      "on its bounded child (not above the exchange) and still flips " +
      "grid-like data to dedup") {
    Fo2Dedup.drainDecisions()
    val grid = spark.range(4096).select(col("id"),
      (lit(1273.15) + (col("id") % 20).cast("double") * 10.0).as("T_K"),
      (lit(1000.0) + (col("id") % 5).cast("double") * 500.0).as("P_bar"))
    // pre-r12 the probe's LocalLimit sat ABOVE the repartition exchange,
    // whose map side runs over the whole input before any limit applies;
    // now the probe runs on the repartition-stripped plan (same rows,
    // limit directly over the scan) — so the decision survives AND its
    // cost is bounded
    val shuffled = QfmFull.withQfm(grid.repartition(8), "T_K", "P_bar")
      .queryExecution.executedPlan.toString
    assert(shuffled.contains("BroadcastHashJoin"),
      s"repartitioned grid input must still probe (on the stripped " +
        s"child) and dedup:\n$shuffled")
    val d1 = Fo2DedupSpec.byFamily(Fo2Dedup.drainDecisions()).get("qfm")
    assert(d1.exists(_.dedup), d1.toString)
    // coalesce is likewise stripped; same decision, and the memo key is
    // the STRIPPED plan, so this is a cache hit on the same estimates
    val coalesced = QfmFull.withQfm(grid.coalesce(2), "T_K", "P_bar")
      .queryExecution.executedPlan.toString
    assert(coalesced.contains("BroadcastHashJoin"),
      s"coalesced grid input must dedup:\n$coalesced")
    val d2 = Fo2DedupSpec.byFamily(Fo2Dedup.drainDecisions()).get("qfm")
    assert(d2.exists(x => x.dedup && x.distinctEst == d1.get.distinctEst &&
      x.rows == d1.get.rows),
      s"stripped-plan memo key must make layout variants share one " +
        s"decision: $d1 vs $d2")
  }

  test("bench-corpus pin: the sf melts table (near-unique (T, P) lattice) " +
      "chooses the memo path — a threshold regression fails here, not in " +
      "a silent bench diff") {
    // the driver benches sf0.1; any sf of the same generator shares the
    // (1350 + okey % 250, 1 + pkey % 10000) lattice, whose distinct/rows
    // ratio at probe scale sits far above DedupRatioThreshold
    val dir = Seq("/root/testdata/sf0.1", "/root/testdata/sf0.01")
      .find(d => new java.io.File(d).exists)
    assume(dir.nonEmpty, "no testdata available")
    Fo2Dedup.drainDecisions()
    val melts = Tables.meltsDF(spark, dir.get)
    assert(!Fo2Dedup.choose(melts, "T_K", "P_bar", "pin"),
      "bench-shaped melts input must keep the memo formulation")
    val d = Fo2DedupSpec.byFamily(Fo2Dedup.drainDecisions()).get("pin")
    assert(d.exists(x => !x.dedup &&
      x.distinctEst.toDouble / math.max(1L, x.rows) >=
        Fo2Dedup.DedupRatioThreshold), d.toString)
  }

  test("dedupBroadcast=false falls back to a non-broadcast join, same rows") {
    spark.conf.set(Fo2Dedup.DedupKey, "true")
    spark.conf.set(Fo2Dedup.BroadcastKey, "false")
    try {
      val rows = QfmFull.withQfm(fixture, "T_K", "P_bar")
        .orderBy("id").collect().toSeq
      assert(rows.size == 5)
      assert(rows.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L, 5L))
    } finally {
      spark.conf.unset(Fo2Dedup.DedupKey)
      spark.conf.unset(Fo2Dedup.BroadcastKey)
    }
  }
}

object Fo2DedupSpec {
  /** Last decision per family (drain order is FIFO). */
  def byFamily(ds: Seq[graft.functions.Fo2Dedup.Decision])
      : Map[String, graft.functions.Fo2Dedup.Decision] =
    ds.groupBy(_.family).view.mapValues(_.last).toMap
}
