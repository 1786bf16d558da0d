package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{DataSourceScanExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Counters read from outside the program, one group per layer. Every
  * counter is cumulative; a layer's cost over an interval is the
  * difference of two snapshots. */
object Layers {

  /** Scheduler and task counters, fed by the listener bus. Registered only
    * for traced passes. */
  final class Tasks extends SparkListener {
    val jobs, stages, tasks, runMs, cpuNs, inBytes, shWrite, shRead, spill =
      new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  /** The solver memo counters the program exposes publicly. */
  final class Solver(spark: SparkSession) {
    private val deng = graft.functions.Deng2020.attachMetrics(spark)
    private val memos = graft.functions.IwFull.attachMetrics(spark) ++
      graft.functions.QfmFull.attachMetrics(spark)
    def hits: Long = deng.volHits.value + deng.dvdpHits.value +
      memos.map(_.hits.value: Long).sum
    def misses: Long = deng.volMisses.value + deng.dvdpMisses.value +
      memos.map(_.misses.value: Long).sum
    def fillNanos: Long = deng.volFillNanos.value + deng.dvdpFillNanos.value +
      memos.map(_.fillNanos.value: Long).sum
  }

  private val MB = 1024.0 * 1024.0

  /** One snapshot of every cumulative counter the traced run reads. */
  def snapshot(tasks: Tasks, solver: Solver, artifactRoot: Path): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val (artifacts, artifactBytes) = artifactsUnder(artifactRoot)
    Map(
      "query.artifact_builds" -> artifacts.toDouble,
      "query.artifact_mb" -> artifactBytes / MB,
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "jvm.jit_s" -> jitMillis / 1e3,
      "jvm.gc_s" -> gc.map(_.getCollectionTime).sum / 1e3,
      "jvm.gc_n" -> gc.map(_.getCollectionCount).sum.toDouble,
      "exec.jobs" -> tasks.jobs.get.toDouble,
      "exec.stages" -> tasks.stages.get.toDouble,
      "exec.tasks" -> tasks.tasks.get.toDouble,
      "exec.task_run_s" -> tasks.runMs.get / 1e3,
      "exec.task_cpu_s" -> tasks.cpuNs.get / 1e9,
      "exec.input_mb" -> tasks.inBytes.get / MB,
      "exec.shuffle_write_mb" -> tasks.shWrite.get / MB,
      "exec.shuffle_read_mb" -> tasks.shRead.get / MB,
      "exec.spill_mb" -> tasks.spill.get / MB,
      "solver.memo_hits" -> solver.hits.toDouble,
      "solver.memo_misses" -> solver.misses.toDouble,
      "solver.memo_fill_s" -> solver.fillNanos / 1e9)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }

  /** Total JIT (C1 + C2) compile time of this JVM, all compiler threads. */
  def jitMillis: Long =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  /** Process CPU time of every thread of this JVM, JIT and GC included. */
  def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Host CPU time stolen from this machine's guests (all cores, seconds)
    * since boot; 0 where the kernel does not report it. */
  def stealSeconds: Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  /** Persisted artifacts under the run's artifact root: one directory per
    * artifact at depth two (`<root>/<jvm token>/<prefix>_<key hash>`),
    * and the bytes of every file below them. */
  def artifactsUnder(root: Path): (Int, Long) =
    if (!Files.isDirectory(root)) (0, 0L)
    else {
      val walk = Files.walk(root)
      try {
        var dirs = 0
        var bytes = 0L
        walk.iterator.asScala.foreach { p =>
          if (Files.isRegularFile(p)) bytes += Files.size(p)
          else if (root.relativize(p).getNameCount == 2) dirs += 1
        }
        (dirs, bytes)
      } finally walk.close()
    }

  /** Planning phase times recorded by Spark's own tracker. */
  def phases(df: DataFrame): Map[String, Double] = {
    val ph = df.queryExecution.tracker.phases
    def s(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    Map("plan.analysis_s" -> s("analysis"), "plan.optimizer_s" -> s("optimization"),
      "plan.physical_s" -> s("planning"))
  }

  /** Exchanges materialised and reused, and file scans, in the final
    * (post-AQE) physical plan, subqueries included. */
  def planShape(plan: SparkPlan): Map[String, Double] = {
    var exchanges, reused, scans = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => reused += 1
      case _: ReusedSubqueryExec => ()
      case other =>
        if (other.isInstanceOf[Exchange]) exchanges += 1
        if (other.isInstanceOf[DataSourceScanExec]) scans += 1
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    Map("plan.exchanges" -> exchanges.toDouble,
      "plan.reused_exchanges" -> reused.toDouble, "plan.scans" -> scans.toDouble)
  }
}

/** Row count plus a SHA-256 over the result's cells, columns taken in name
  * order and rows in result order. The encoding is mirrored by
  * `perfbench/record_expected.py`, which digests the DuckDB oracle's results into
  * the expected values: both must change together. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fieldNames.zipWithIndex.sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(("H" + cols.map(_._1).mkString(",") + "\n").getBytes(UTF_8))
    var rows = 0L
    val sb = new StringBuilder
    df.collect().foreach { row =>
      sb.setLength(0)
      cols.foreach { case (_, i) => enc(row.get(i), sb) }
      sb.append('\n')
      md.update(sb.toString.getBytes(UTF_8))
      rows += 1
    }
    (rows, md.digest.map(b => f"${b & 0xff}%02x").mkString)
  }

  private def enc(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("N;")
    case b: Boolean => sb.append(if (b) "B1;" else "B0;")
    case x @ (_: Byte | _: Short | _: Int | _: Long) => sb.append('I').append(x).append(';')
    case f: Float => dbl(f.toDouble, sb)
    case d: Double => dbl(d, sb)
    case s: String =>
      sb.append('S').append(s.codePointCount(0, s.length)).append(':').append(s).append(';')
    case a: Array[Byte] => sb.append('Y').append(a.map(b => f"${b & 0xff}%02x").mkString).append(';')
    case s: scala.collection.Seq[_] =>
      sb.append('L').append(s.size).append('[')
      s.foreach(enc(_, sb))
      sb.append(']')
    case r: Row =>
      sb.append('R').append(r.length).append('{')
      (0 until r.length).foreach(i => enc(r.get(i), sb))
      sb.append('}')
    case other => throw new IllegalArgumentException(s"no digest encoding for ${other.getClass.getName}")
  }

  // NaN and signed zero compare equal in the oracle check, so they encode alike.
  private def dbl(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN) sb.append("FNaN;")
    else if (d == 0.0) sb.append("F0;")
    else sb.append('F').append(f"${java.lang.Double.doubleToRawLongBits(d)}%016x").append(';')
}

/** Minimal JSON rendering for the sidecar. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
