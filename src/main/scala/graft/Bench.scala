package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds, COLD and WARM.
  *
  * Timing is honest full evaluation: `df.queryExecution.toRdd.count()`
  * executes the final optimized physical plan — every projection, UDF and
  * sort — without collecting rows to the driver. A plain `df.count()` would
  * let Catalyst prune all projected columns (a select-only query collapses
  * to a scan count and "benchmarks" nothing).
  *
  * Cold = first execution (dominated by planning + whole-stage-codegen
  * compilation for the narrow closed-form queries — measured 30-80x the
  * steady state); warm = per-query MINIMUM over two further executions,
  * the number that tracks actual operator cost and catches plan
  * regressions. A single warm pass proved untrustworthy (r10: q_total
  * 4.8 s "warm" vs 1.26 s cold under container contention), so the main
  * bench now applies the min-of-N discipline the bench_ab studies use,
  * and `diag.warm_anomalies` names sub-2s-cold queries whose best warm
  * still exceeded cold — the signature of a contaminated session.
  * `queries` stays the cold map (comparable with earlier rounds);
  * `queries_warm`/`total_warm` carry the steady-state column.
  *
  * Round-12: the same discipline applies to COLD (r11 verdict #2 — a
  * single cold execution had inherited the contention problem warm just
  * shed: 41s q_fo2_iw_full cold with jit_s 6.1 and warm 2.66s).
  * `diag.cold_anomalies` names queries whose cold−warm gap exceeds 2s
  * while measured JIT+GC cover less than half of it (contention, not
  * fresh-JVM compilation), and `total_cold_explained` re-totals cold
  * with those entries replaced by warm + their jit+gc — the
  * round-over-round comparable cold headline.
  *
  * Round-9: the artifact carries its own diagnosis. The r8 driver run had
  * solver-UDF cold spikes (armstrong 48 s cold / 2.6 s warm) that the
  * JSON could not explain because the GC/JIT/codegen/cache metrics only
  * went to stderr. Now `diag` embeds, per pass: GC time, JVM JIT (C1+C2)
  * compilation time, whole-stage-codegen compile count, the contention
  * sentinel (`sentinel_s`, also in the compact line's `pass_diag`), and
  * the solver memo-cache accumulators; `slowest_cold` embeds per-query
  * gc/jit/codegen deltas next to the cold/warm ratio. Reading rule (also in the
  * artifact): a cold spike whose `jit_s` is of the same order as `sec`
  * while `warm_sec` is small is JVM JIT lag on the per-row solver loops
  * — a property of the fresh benchmark JVM, not of the plan.
  */
object Bench {
  /** One timed execution + the JVM-counter deltas it spanned. */
  final case class Timing(sec: Double, gcMs: Long, cgN: Long, jitMs: Long)

  /** Rows summed by the contention sentinel run after every pass. */
  val SentinelRows = 2000000L

  // JVM-level counters: GC time/count, whole-stage-codegen compile
  // count, and TOTAL JIT (C1+C2) compilation time — the last is what
  // distinguishes "the solver loop ran interpreted while C2 caught up"
  // from a genuinely expensive plan.
  private def jvmStats(): (Long, Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val gc = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    val jit = Option(java.lang.management.ManagementFactory
      .getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    (gc.map(_.getCollectionTime).sum, gc.map(_.getCollectionCount).sum,
      cg.METRIC_COMPILATION_TIME.getCount, jit)
  }

  /** Builds and fully executes one query: its [[Timing]], or the exception
    * text when it throws — a failed execution is never a timing. */
  def timeOnce(spark: SparkSession, sfDir: String,
               fn: (SparkSession, String) => DataFrame): Either[String, Timing] = {
    val (g0, _, c0, j0) = jvmStats()
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val (g1, _, c1, j1) = jvmStats()
      Right(Timing(sec, g1 - g0, c1 - c0, j1 - j0))
    } catch { case e: Throwable => Left(e.toString) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Warm up the session (JVM, codegen, file listing) outside any query's
    // timing window.
    spark.range(1000).selectExpr("sum(id)").collect()
    try GraftParquet.read(spark, s"$sfDir/lineitem.parquet").limit(1).count()
    catch { case NonFatal(_) => () }

    val memoStats = graft.functions.MemoStats.attachSolvers(spark)

    def cacheJson(): String =
      memoStats.map(s => s""""${s.name.replace('.', '_')}":${s.json}""")
        .mkString("{", ",", "}")

    // Contention sentinel: a fixed `spark.range` sum timed after each pass,
    // outside every query's timing window. On a quiet host it reads the
    // same in every pass; a slow one marks a pass run under contention.
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(SentinelRows).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }

    def passDiag(tag: String, before: (Long, Long, Long, Long)): String = {
      val (gcMs0, gcN0, cgN0, jit0) = before
      val (gcMs1, gcN1, cgN1, jit1) = jvmStats()
      val sentinelS = sentinel()
      val mean = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getSnapshot.getMean
      System.err.println(f"[bench] $tag: gc=${(gcMs1 - gcMs0) / 1000.0}%.1fs" +
        f" (${gcN1 - gcN0} collections), jit=${(jit1 - jit0) / 1000.0}%.1fs," +
        f" codegenCompiles=${cgN1 - cgN0} (meanCompile=${mean}%.0fms)," +
        f" sentinel=$sentinelS%.3fs; ${memoStats.map(_.render).mkString("; ")}")
      f"""{"gc_s":${(gcMs1 - gcMs0) / 1000.0}%.1f,"gc_n":${gcN1 - gcN0},""" +
        f""""jit_s":${(jit1 - jit0) / 1000.0}%.1f,""" +
        f""""codegen_compiles":${cgN1 - cgN0},"sentinel_s":$sentinelS%.3f}"""
    }

    // SPARK_GRAFT_ONLY=q_a,q_b restricts the sweep for local iteration
    // (the driver never sets it, so round artifacts always cover all).
    val onlyQ: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty)
        .map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlyQ.forall(_.contains(n)) }
    // A failed execution is logged and left out of every map and total;
    // its query is listed under `failed` in both JSON lines.
    val failed = mutable.LinkedHashSet.empty[String]
    def sweep(qs: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, Timing)] =
      qs.flatMap { case (name, fn) =>
        timeOnce(spark, sfDir, fn) match {
          case Right(t) => Some(name -> t)
          case Left(err) =>
            System.err.println(s"[bench] $name failed: $err")
            failed += name
            None
        }
      }
    val s0 = jvmStats()
    val cold = sweep(ordered)
    val coldDiag = passDiag("cold pass", s0)
    // Warm = per-query MINIMUM of two post-cold passes. One warm pass is
    // at the mercy of container contention — the r10 driver run timed
    // q_total (a row-sum) at 4.8 s warm vs 1.26 s cold, a physical
    // impossibility that poisoned every round-over-round warm comparison.
    // The min-of-N protocol is the same one the bench_ab A/B studies
    // already use; two passes bound the added wall cost at one extra
    // registry sweep.
    val s1 = jvmStats()
    val warm1 = sweep(ordered)
    val warmDiag = passDiag("warm pass 1", s1)
    val s2 = jvmStats()
    val warm2 = sweep(ordered)
    val warm2Diag = passDiag("warm pass 2", s2)
    val bestWarm = (warm1 ++ warm2).groupBy(_._1)
      .map { case (n, ts) => n -> ts.map(_._2).minBy(_.sec) }
    val warmMin2 = ordered.flatMap { case (n, _) => bestWarm.get(n).map(n -> _) }
    // Sanity flag at ANY magnitude: on a JIT-warmed JVM the best-of-2
    // warm can only beat cold, so warm > cold + margin means every warm
    // pass of that query ran under contention (the r12 blind spot: the
    // old sub-2s-cold guard let a 9.0s-warm / 8.6s-cold inversion stand
    // unflagged and poisoned the round's warm total). Margin 0.2s + 5%
    // absorbs timer noise on par-speed queries.
    val coldByName = cold.toMap
    def inverted(n: String, w: Timing): Boolean =
      coldByName.get(n).exists(c => w.sec > c.sec * 1.05 + 0.2)
    val flagged = warmMin2.collect { case (n, w) if inverted(n, w) => n }
    // Self-healing: re-time the flagged queries at session end (the
    // contention window has usually moved by then) and take the overall
    // minimum, so the ARTIFACT carries an uncontended warm number instead
    // of a footnote. Queries still inverted after the retry are the
    // reported warm_anomalies.
    val retried: Map[String, Timing] =
      if (flagged.isEmpty) Map.empty
      else {
        System.err.println(s"[bench] warm>cold inversions, re-timing at " +
          s"session end: ${flagged.mkString(",")}")
        val byName = ordered.toMap
        flagged.flatMap { n =>
          sweep(Seq.fill(2)(n -> byName(n))).map(_._2).minByOption(_.sec).map { t =>
            System.err.println(f"[bench] re-timed $n: ${t.sec}%.3fs")
            n -> t
          }
        }.toMap
      }
    val warm = warmMin2.map { case (n, w) =>
      n -> retried.get(n).filter(_.sec < w.sec).getOrElse(w)
    }
    val warmByName = warm.toMap
    val warmAnomalies = warm.collect { case (n, w) if inverted(n, w) => n }
    if (warmAnomalies.nonEmpty)
      System.err.println(s"[bench] WARM-ANOMALY (best warm of 2+2 passes " +
        s"still exceeds cold; treat these warm numbers as contaminated): " +
        warmAnomalies.mkString(","))
    // The cold pass is ONE execution, so it carries the same contention
    // exposure the warm pass had before min-of-2 (r11: q_fo2_iw_full
    // 41.1s cold with jit_s 6.1 and warm 2.66s — container contention,
    // not JIT). A cold spike is EXPLAINED when JIT + GC account for the
    // cold-minus-warm gap (fresh-JVM compilation lag, a real first-run
    // property); when they cover less than half of a >2s gap, the spike
    // is contention and the query is flagged so round-over-round cold
    // deltas read from the diag alone. `total_cold_explained` re-totals
    // cold with flagged queries replaced by warm + their measured
    // jit+gc — the contention-robust headline companion.
    val coldAnomalies = warm.collect {
      case (n, w) if coldByName.get(n).exists { c =>
        val gap = c.sec - w.sec
        gap > 2.0 && (c.jitMs + c.gcMs) / 1000.0 < 0.5 * gap
      } => n
    }
    if (coldAnomalies.nonEmpty)
      System.err.println(s"[bench] COLD-ANOMALY (cold - warm gap not " +
        s"covered by jit+gc; treat these cold numbers as contention): " +
        coldAnomalies.mkString(","))
    val coldAnomalySet = coldAnomalies.toSet
    val totalColdExplained = cold.map { case (n, c) =>
      if (coldAnomalySet(n)) warmByName(n).sec + (c.jitMs + c.gcMs) / 1000.0
      else c.sec
    }.sum
    // Per-query cold diagnosis for the slowest cold queries: the JVM
    // deltas each one spanned, next to its warm time. These carry the
    // explanation of a driver-session cold spike INSIDE the artifact.
    val slowDiag = cold.sortBy(-_._2.sec).take(8).map { case (name, t) =>
      val w = warmByName.get(name).map(_.sec).getOrElse(-1.0)
      f"""{"q":"$name","sec":${t.sec}%.3f,"warm_sec":$w%.3f,""" +
        f""""gc_s":${t.gcMs / 1000.0}%.1f,"jit_s":${t.jitMs / 1000.0}%.1f,""" +
        f""""codegen_compiles":${t.cgN}}"""
    }.mkString("[", ",", "]")
    def jsonList(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val diag =
      s"""{"cold":$coldDiag,"warm":$warmDiag,"warm2":$warm2Diag,""" +
        s""""warm_protocol":"per-query min of 2 post-cold passes",""" +
        s""""warm_anomalies":${jsonList(warmAnomalies)},""" +
        s""""cold_anomalies":${jsonList(coldAnomalies)},""" +
        f""""total_cold_explained":$totalColdExplained%.3f,""" +
        s""""caches":${cacheJson()},""" +
        // kept for readers of earlier artifacts: fO2 has one formulation
        // now, so there is no decision to report
        s""""fo2_decisions":[],""" +
        s""""slowest_cold":$slowDiag,""" +
        """"reading_rule":"a cold spike with jit_s on the order of sec and a small warm_sec is JVM JIT (C2) lag on the per-row solver loops - a fresh-JVM property, not a plan defect; warm is min-of-2 post-cold passes, any query whose best warm still exceeded cold+5%+0.2s (an inversion a healthy JVM cannot produce) was re-timed twice at session end and the overall minimum kept, and warm_anomalies lists queries STILL inverted after that - their warm numbers are contention residue; cold_anomalies lists queries whose cold-minus-warm gap exceeds 2s with jit+gc covering under half of it (contention, not JIT) and total_cold_explained re-totals cold with those replaced by warm+jit+gc - compare total_warm and total_cold_explained across rounds"}"""
    // millisecond precision keeps the line compact enough for line-buffered
    // log capture (a full-precision line for ~100 queries risks truncation)
    def jsonMap(rs: Seq[(String, Timing)]): String =
      rs.map { case (k, v) => f""""$k":${v.sec}%.3f""" }.mkString("{", ",", "}")
    val total = cold.map(_._2.sec).sum
    val totalWarm = warm.map(_._2.sec).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jsonMap(cold)},"total_warm":$totalWarm%.3f,"queries_warm":${jsonMap(warm)},"diag":$diag,"failed":${jsonList(failed)},"sf":"$sfDir"}"""
    // full per-query map (cold + warm) as the sole content of a known file
    try java.nio.file.Files.writeString(java.nio.file.Path.of("BENCH_LAST.json"), line)
    catch { case _: Throwable => () }
    // The harness capturing stdout keeps only a bounded tail (~2000 chars,
    // minus sbt's trailing status line), so the FULL line above can never
    // parse from the tail once the registry passed ~60 queries. Emit a
    // compact final line that is guaranteed to fit: headline totals + the
    // slowest cold queries WITH their diagnosis, the complete map in
    // BENCH_LAST.json.
    val budget = 900
    val slowest = cold.sortBy(-_._2.sec)
    val entries = new StringBuilder
    var kept = 0
    for ((k, v) <- slowest if entries.length < budget) {
      if (kept > 0) entries.append(',')
      entries.append(f""""$k":${v.sec}%.3f""")
      kept += 1
    }
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{${entries.toString}},"queries_omitted":${cold.size - kept},"queries_full":"BENCH_LAST.json","total_warm":$totalWarm%.3f,"total_cold_explained":$totalColdExplained%.3f,"n_queries":${cold.size},"pass_diag":{"cold":$coldDiag,"warm":$warmDiag},"failed":${jsonList(failed)},"sf":"$sfDir"}"""
    // Stop Spark BEFORE printing so shutdown chatter (block-manager /
    // context-cleaner log lines) cannot land after the JSON: the harness
    // parses the LAST stdout line, so these two prints must be final.
    spark.stop()
    println(line)
    println(compact)
    System.out.flush()
  }
}
