package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import graft.api.{MagmaConfig, Melt}
import graft.core.{CType, CUnit, MagmaDF}
import graft.functions.{Deng2020, IwFull, QfmFull}

/** The fO2 EOS buffers' one formulation and the memos under it: QFM's and
  * IW's `fO2` is one column per row over any input, and every solver memo
  * ([[graft.functions.Memo]]) is bounded and counts each lookup. */
class MemoSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    Seq[(Long, java.lang.Double, java.lang.Double)](
      (1L, 1473.15, 2000.0),
      (2L, 1473.15, 2000.0), // repeated condition — must not collapse rows
      (3L, 1573.15, 5000.0),
      (4L, null, 3000.0),    // null T
      (5L, 1623.15, null))   // null P
      .toDF("id", "T_K", "P_bar")
  }

  /** 4096 rows over a 100-cell (T, P) lattice. */
  private def gridLike = spark.range(4096).select(col("id"),
    (lit(1273.15) + (col("id") % 20).cast("double") * 10.0).as("T_K"),
    (lit(1000.0) + (col("id") % 5).cast("double") * 500.0).as("P_bar"))

  /** 4096 rows, every (T, P) distinct. */
  private def nearUnique = spark.range(4096).select(col("id"),
    (lit(1273.15) + col("id").cast("double") * 0.01).as("T_K"),
    (lit(1000.0) + col("id").cast("double") * 0.37).as("P_bar"))

  private val buffers: Seq[(String, (DataFrame, Double) => DataFrame,
      (Double, Double, Double) => Double, Double)] = Seq(
    ("withQfm", QfmFull.withQfm(_, "T_K", "P_bar", _), QfmFull.fO2, 0.3),
    ("withIw", IwFull.withIw(_, "T_K", "P_bar", _), IwFull.fO2, -0.5))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** `fO2` of every output row is the scalar function's by raw bits where
    * T and P are non-null, and null otherwise. */
  private def assertScalarBits(name: String, rows: Seq[Row],
                               scalar: (Double, Double, Double) => Double,
                               shift: Double): Unit =
    for (r <- rows) {
      val (t, p, f) = (r.getAs[Any]("T_K"), r.getAs[Any]("P_bar"), r.getAs[Any]("fO2"))
      if (t == null || p == null) assert(f == null, s"$name: $r")
      else assert(f != null && bits(f.asInstanceOf[Double]) ==
        bits(scalar(t.asInstanceOf[Double], p.asInstanceOf[Double], shift)), s"$name: $r")
    }

  test("withQfm and withIw are one column over any input: no join, no " +
      "build-time job, every row kept, the scalar fO2's raw bits") {
    val sc = spark.sparkContext
    val grouped = gridLike.groupBy("T_K", "P_bar").agg(count(lit(1)).as("n")).drop("n")
    val inputs = Seq("5-row fixture" -> fixture, "grid-like" -> gridLike,
      "near-unique" -> nearUnique, "groupBy" -> grouped)
    for ((what, in) <- inputs; (fn, build, scalar, shift) <- buffers) {
      val name = s"$fn over $what"
      val (out, jobs) = JobCounter.jobsOf(sc)(build(in, shift))
      assert(jobs == 0, s"$name: $jobs build-time jobs")
      assert(out.queryExecution.analyzed.collectFirst { case j: Join => j }.isEmpty, name)
      val shape = PlanShape.of(out)
      assert(shape.joins.isEmpty && shape.broadcasts == 0, s"$name: $shape")
      val rows = out.collect().toSeq
      def key(r: Row): String = r.toSeq.mkString(",")
      assert(rows.map(r => key(Row(r.toSeq.init: _*))).sorted ==
        in.collect().toSeq.map(key).sorted, s"$name: rows changed")
      assertScalarBits(name, rows, scalar, shift)
    }
    // a rate stream: some rows with a null T or P
    val stream = spark.readStream.format("rate").option("rowsPerSecond", 20).load()
      .select(col("value"),
        when(col("value") % 5 =!= 1, col("value").cast("double") + 1273.15).as("T_K"),
        when(col("value") % 5 =!= 2, col("value").cast("double") * 0.37 + 1000.0).as("P_bar"))
    for ((fn, build, scalar, shift) <- buffers) {
      val name = s"$fn over a rate stream"
      val (out, jobs) = JobCounter.jobsOf(sc)(build(stream, shift))
      assert(jobs == 0 && out.isStreaming, s"$name: $jobs build-time jobs")
      assert(out.queryExecution.analyzed.collectFirst { case j: Join => j }.isEmpty, name)
      val table = s"fo2_stream_$fn"
      val q = out.writeStream.format("memory").queryName(table).start()
      val rows = try {
        val deadline = System.nanoTime() + 60000000000L
        while (spark.table(table).count() < 20 && System.nanoTime() < deadline) Thread.sleep(200)
        q.stop()
        spark.table(table).collect().toSeq
      } finally q.stop()
      // every rate row, each micro-batch a contiguous range from 0
      assert(rows.size >= 20 && rows.map(_.getAs[Long]("value")).sorted ==
        (0L until rows.size.toLong), s"$name: ${rows.size} rows")
      assertScalarBits(name, rows, scalar, shift)
    }
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

  test("production fO2 memo caches: fresh accumulators count every call, " +
      "eviction accounting conserves (evicted <= inserted)") {
    // attach FRESH counters to the live loop memo (what Bench/Verify do),
    // then push a real solve through every family via the public entry
    // points. 8 partitions on the 4-thread session: task threads add to
    // the driver's shared counters concurrently, and every add must land.
    assert(QfmFull.attachMetrics(spark).isEmpty, "QFM counts in the loop memo")
    assert(IwFull.attachMetrics(spark).isEmpty, "IW counts in the loop memo")
    val loops = Deng2020.attachMetrics(spark).dvdp
    val n = 400000L
    val df = spark.range(0, n, 1, 8).select(
      ((col("id") % 10).cast("double") * 50.0 + lit(1273.15)).as("T_K"),
      ((col("id") % 20).cast("double") * 250.0 + lit(1000.0)).as("P_bar"))
    def lookups: Long = loops.hits.value + loops.misses.value
    QfmFull.withQfm(df, "T_K", "P_bar").agg(sum("fO2")).head()
    // every row looks up its three transitions exactly once
    assert(lookups == 3 * n, s"${loops.render}: $lookups lookups for $n QFM rows")
    val misses = loops.misses.value
    IwFull.withIw(df, "T_K", "P_bar").agg(sum("fO2")).head()
    // every row looks up the grids of FeO, FeO1.5 and the five Fe
    // polymorphs exactly once each (P > 1 bar; O2 has no volume term)
    assert(lookups == 10 * n, s"${loops.render}: $lookups lookups for $n QFM and IW rows")
    // the memo persists across suites, so the hit/miss split is not
    // pinned — but with 20 distinct pressures a working memo fills at
    // most 7 grids for each
    assert(loops.misses.value - misses <= 7L * 20L,
      s"${loops.render}: ${loops.misses.value - misses} IW misses for 7 phases x 20 pressures")
    // at and below 1 bar no grid is looked up
    IwFull.withIw(spark.range(0, 1000, 1, 4).select(lit(1473.15).as("T_K"),
      when(col("id") % 2 === 0, lit(1.0)).otherwise(lit(0.5)).as("P_bar")), "T_K", "P_bar")
      .agg(sum("fO2")).head()
    assert(lookups == 10 * n, s"${loops.render}: grid lookups at P <= 1 bar")
    dengFe3Fe2(df).agg(sum("Fe3Fe2")).head()
    // ... and Deng's dVdP once
    assert(lookups == 11 * n, s"${loops.render}: $lookups lookups for $n QFM, IW and Deng rows")
    // 10 temperatures: 30 transition solves; 20 pressures: 140 IW grids;
    // 10 x at most 12 lattice lengths of dVdP
    assert(loops.misses.value <= 30L + 140L + 120L, loops.render)
    // eviction accounting (the r9 concurrent-evictor bug): a memo can
    // never have dropped more entries than were ever inserted
    assert(loops.evicted.value <= loops.misses.value,
      s"evicted ${loops.evicted.value} > inserted ${loops.misses.value}")
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
}
