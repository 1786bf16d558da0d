package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one fresh JVM, driven by `perfbench/run.py`.
  *
  * One client runs a closed loop over a workload's queries from
  * `graft.SparkEntry.queries`: the next query starts when the previous one
  * has finished. Each layer is timed from outside, around calls into public
  * entry points; nothing inside `graft` is instrumented.
  *
  * A run is: session set-up, a cold pass (every query once in the listed
  * order, in a fresh JVM with an empty artifact directory), an untimed digest
  * pass that checks every result against the oracle's expected digest,
  * settling passes until JIT compilation calms down, then `--passes` warm
  * passes, each in an order drawn from `--seed`. The warm passes are counted,
  * not timed, so a slow host does not move them to another point of the JIT
  * warm-up curve.
  * Every execution that throws, or whose result digest is wrong, is recorded
  * as failed; `run.py` leaves failed queries out of every timing.
  *
  * `--mode cold` stops after set-up and an untraced cold pass: `run.py`
  * starts one such JVM besides the workload's own and reports the median
  * set-up time and cold pass. `--trace 1` records per-layer counters and
  * spans in the cold pass and in every other warm pass; the warm passes in
  * between run untraced, and their ratio is the tracing overhead.
  *
  * Everything measured goes to the `--out` sidecar as JSON; `run.py` turns
  * it into metrics.
  */
object Harness {

  /** A warm pass counts once the JIT compile time it spans (summed over
    * compiler threads) is at most this share of its wall time. Measured on
    * both workloads at sf0.01, the share falls from ~2 in the first pass after
    * the cold one to ~1 by the third and stays between 0.4 and 0.9 for at
    * least 30 s after: Spark keeps compiling, so "no JIT at all" never
    * comes within a run. */
  val JitSettledShare = 1.0
  /** At most this many passes are discarded while settling; past it the
    * run measures anyway and records that it did not settle. */
  val MaxSettlePasses = 2
  /** Rows summed by the contention sentinel run after every pass. */
  val SentinelRows = 2000000L
  val Throwing = "perfbench_throwing_query"

  def main(argv: Array[String]): Unit = {
    val opt = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = opt("cpus").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    val t1 = System.nanoTime()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val t2 = System.nanoTime()
    println("perfbench-ready")
    System.out.flush()
    val setup = Map("session.build_s" -> (t1 - t0) / 1e9, "session.warmup_s" -> (t2 - t1) / 1e9)
    val run = new Run(spark, opt, cpus)
    val result = (if (opt("mode") == "cold") run.cold() else run.apply()) +
      ("setup" -> setup)
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
    sys.exit(0)
  }

  private final class Run(spark: SparkSession, opt: Map[String, String], cpus: Int) {
    private val data = opt("data")
    private val traceRun = opt("trace") == "1"
    private val warmPasses = opt("passes").toInt
    private val artifactRoot: Path = Paths.get(sys.env.getOrElse("GRAFT_INDEX_DIR", "."))
    private val registry: Map[String, (SparkSession, String) => DataFrame] =
      graft.SparkEntry.queries +
        (Throwing -> ((_: SparkSession, _: String) =>
          throw new IllegalStateException("deliberately throwing query")))
    private val queries = opt("queries").split(",").toSeq.map(n =>
      n -> registry.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
    private val expected: Map[String, (Long, String)] =
      opt.get("expected").toSeq.flatMap(expectedDigests).toMap
    private val rng = new scala.util.Random(opt("seed").toLong)

    private val solver = new Layers.Solver(spark)
    private val tasks = new Layers.Tasks
    private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val passes = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    private val digests = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    // (id, parent id or -1, name, trace id, start ns, end ns); times relative to `epoch`
    private val spans = mutable.ArrayBuffer.empty[Seq[Any]]
    private val epoch = System.nanoTime()

    def cold(): Map[String, Any] = {
      pass("cold", traced = false)
      Map("executions" -> executions)
    }

    def apply(): Map[String, Any] = {
      pass("cold", traced = traceRun)
      digestPass()
      var settled = false
      var discarded = 0
      while (!settled && discarded < MaxSettlePasses) {
        val p = pass("settle", traced = false)
        if (p("jit_s").asInstanceOf[Double] <=
            JitSettledShare * p("wall_s").asInstanceOf[Double]) {
          p("kind") = "warm"
          settled = true
        } else discarded += 1
      }
      // Traced runs alternate untraced and traced passes.
      while (passes.count(_("kind") == "warm") < warmPasses) {
        val lastTraced = passes.reverseIterator.find(_("kind") == "warm")
          .exists(_("traced") == true)
        pass("warm", traced = traceRun && !lastTraced)
      }
      Map(
        "cpus" -> cpus,
        "order_seed" -> opt("seed"),
        "settle" -> Map(
          "rule" -> (s"discard warm passes until one spans JIT compile time <= " +
            s"$JitSettledShare x its wall time, at most $MaxSettlePasses passes"),
          "settled" -> settled, "discarded" -> discarded),
        "passes" -> passes.map(_.toMap),
        "executions" -> executions,
        "digests" -> digests,
        "spans" -> spans,
        "peak_rss_mb" -> Layers.peakRssMb)
    }

    /** One timed pass over every query: the cold pass in the listed order
      * (the first query pays the JVM's warm-up, so the order moves cold
      * time between queries), every other pass in an order drawn from the
      * seed. */
    private def pass(kind: String, traced: Boolean): mutable.Map[String, Any] = {
      val index = passes.size
      if (traced) spark.sparkContext.addSparkListener(tasks)
      val steal0 = Layers.stealSeconds
      val jit0 = Layers.jitMillis
      val w0 = System.nanoTime()
      val order = if (kind == "cold") queries else rng.shuffle(queries)
      order.foreach { case (name, fn) => execute(index, name, fn, traced) }
      val wall = (System.nanoTime() - w0) / 1e9
      if (traced) spark.sparkContext.removeSparkListener(tasks)
      val sentinelSeconds = sentinel()
      val queryWall = executions.iterator.filter(_("pass") == index)
        .collect { case e if e("ok") == true => e("wall_s").asInstanceOf[Double] }.sum
      val p = mutable.LinkedHashMap[String, Any](
        "index" -> index, "kind" -> kind, "traced" -> traced,
        "wall_s" -> queryWall, "pass_wall_s" -> wall,
        "jit_s" -> (Layers.jitMillis - jit0) / 1e3,
        "steal_s" -> (Layers.stealSeconds - steal0),
        "sentinel_s" -> sentinelSeconds)
      passes += p
      p
    }

    /** Times a fixed `spark.range` sum: a contention index taken after
      * every pass, outside every query's timing window. */
    private def sentinel(): Double = {
      val s0 = System.nanoTime()
      spark.range(0, SentinelRows, 1, cpus).selectExpr("sum(id)").collect()
      (System.nanoTime() - s0) / 1e9
    }

    /** One execution: build the DataFrame (query layer), force the physical
      * plan when traced (plan layer), then run the plan with the action
      * `graft.Bench` times, `toRdd.count()` (exec layer). */
    private def execute(pass: Int, name: String,
                        fn: (SparkSession, String) => DataFrame, traced: Boolean): Unit = {
      val rec = mutable.LinkedHashMap[String, Any]("pass" -> pass, "q" -> name)
      val before = if (traced) snapshot() else Map.empty[String, Double]
      val c0 = Layers.cpuNanos
      val s0 = System.nanoTime()
      try {
        val df = fn(spark, data)
        val s1 = System.nanoTime()
        val built = if (traced) snapshot() else Map.empty[String, Double]
        val s1b = System.nanoTime()
        if (traced) df.queryExecution.executedPlan
        val s2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val s3 = System.nanoTime()
        val c1 = Layers.cpuNanos
        // Untraced executions exclude the snapshot taken between build and
        // plan; traced ones report it as the query span's self time.
        rec ++= Seq("ok" -> true, "wall_s" -> (s3 - s0 - (s1b - s1)) / 1e9,
          "cpu_s" -> (c1 - c0) / 1e9)
        if (traced) {
          val after = snapshot()
          val whole = Layers.delta(before, after)
          // jobs started while building (eager artifact builds, probes)
          // belong to the query layer; exec counts from the plan on
          rec ++= whole.filter(!_._1.startsWith("exec."))
          rec ++= Layers.delta(built, after).filter(_._1.startsWith("exec."))
          rec ++= Layers.phases(df) ++ Layers.planShape(df.queryExecution.executedPlan)
          rec ++= Seq("query.build_s" -> (s1 - s0) / 1e9,
            "query.build_jobs" -> (built("exec.jobs") - before("exec.jobs")),
            "plan.wall_s" -> (s2 - s1b) / 1e9,
            "exec.wall_s" -> (s3 - s2) / 1e9)
          val end = System.nanoTime()
          val root = spans.size
          val trace = s"$pass:$name"
          spans += Seq(root, -1, "query", trace, s0 - epoch, end - epoch)
          spans += Seq(root + 1, root, "build", trace, s0 - epoch, s1 - epoch)
          spans += Seq(root + 2, root, "plan", trace, s1b - epoch, s2 - epoch)
          spans += Seq(root + 3, root, "exec", trace, s2 - epoch, s3 - epoch)
        }
      } catch {
        case e: Throwable =>
          rec ++= Seq("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      executions += rec.toMap
    }

    private def snapshot(): Map[String, Double] = {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      Layers.snapshot(tasks, solver, artifactRoot)
    }

    /** Untimed: collect every result once and compare its digest with the
      * expected value recorded from the oracle. */
    private def digestPass(): Unit = {
      val index = passes.size
      val w0 = System.nanoTime()
      queries.foreach { case (name, fn) =>
        val rec = mutable.LinkedHashMap[String, Any]("pass" -> index, "q" -> name)
        try {
          val (rows, sha) = Digest.of(fn(spark, data))
          val want = expected.get(name)
          val ok = want.forall(_ == (rows, sha))
          digests(name) = Map("rows" -> rows, "sha256" -> sha, "checked" -> want.isDefined)
          rec ++= Seq("ok" -> ok)
          if (!ok) rec("error") = s"wrong output: $rows rows, digest $sha; " +
            s"expected ${want.get._1} rows, digest ${want.get._2}"
        } catch {
          case e: Throwable =>
            rec ++= Seq("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        }
        executions += rec.toMap
      }
      passes += mutable.LinkedHashMap[String, Any]("index" -> index, "kind" -> "digest",
        "traced" -> false, "pass_wall_s" -> (System.nanoTime() - w0) / 1e9)
    }
  }

  /** Reads `{"q": {"rows": n, "sha256": "..."}, ...}` as written by
    * `perfbench/record_expected.py`. */
  private def expectedDigests(path: String): Seq[(String, (Long, String))] = {
    val entry = """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"sha256"\s*:\s*"([0-9a-f]{64})"\s*\}""".r
    entry.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toSeq
  }
}
