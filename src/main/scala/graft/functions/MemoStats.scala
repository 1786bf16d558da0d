package graft.functions

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.AccumulatorV2

/** A Spark accumulator whose `add` is safe under concurrent threads.
  * Local-mode task threads all add to the driver's ONE registered
  * instance (the solver memos live in JVM statics, not in task
  * closures); `LongAccumulator.add` is a plain read-modify-write there
  * and loses adds under contention, a `LongAdder` does not. Per-task
  * copies on remote executors merge back like any accumulator. */
final class Counter extends AccumulatorV2[Long, Long] {
  private val sum = new LongAdder
  override def isZero: Boolean = sum.sum() == 0L
  override def copy(): Counter = { val c = new Counter; c.add(value); c }
  override def reset(): Unit = sum.reset()
  override def add(v: Long): Unit = sum.add(v)
  override def merge(other: AccumulatorV2[Long, Long]): Unit = add(other.value)
  override def value: Long = sum.sum()
}

/** Hit/miss/fill/eviction counts of one [[Memo]]
  * (`bench_ab/r8_deng_cache_study.md` proved a thrashing memo is invisible
  * without them). Attached by Verify/Bench after session build.
  *
  * Counting rule, one for every solver memo:
  *  - local mode: exact. Task threads run in the driver JVM and add to
  *    the driver's [[Counter]]s, which do not lose concurrent adds;
  *  - remote executors: present only where a closure or a loop column
  *    captured the stats and republishes them per task ([[Memo.publish]]);
  *    increments
  *    racing a task's completion can drop, so counts are approximate at
  *    task boundaries (observability, not accounting). Memos without a
  *    capturing closure report nothing remotely. */
final case class MemoStats(name: String, hits: Counter, misses: Counter,
                           fillNanos: Counter, evicted: Counter) {
  def render: String =
    f"$name hits=${hits.value} misses=${misses.value} " +
      f"fill=${fillNanos.value / 1e9}%.2fs evicted=${evicted.value}"

  /** One JSON object, for embedding in the Bench artifact. */
  def json: String =
    f"""{"hits":${hits.value},"misses":${misses.value},""" +
      f""""fill_s":${fillNanos.value / 1e9}%.3f,"evicted":${evicted.value}}"""
}

object MemoStats {
  def attach(spark: SparkSession, name: String): MemoStats = {
    def counter(field: String): Counter = {
      val c = new Counter
      spark.sparkContext.register(c, s"graft.$name.$field")
      c
    }
    MemoStats(name, counter("hits"), counter("misses"), counter("fillNanos"),
      counter("evicted"))
  }

  /** Fresh stats on every solver memo, in Bench artifact order: the loop
    * memo (QFM's transitions, Deng's dVdP), the loop kernels (a miss is a
    * janino compile, its fill time the compile time), then IW's grids. */
  def attachSolvers(spark: SparkSession): Seq[MemoStats] =
    Seq(graft.expressions.LoopExpression.attachMetrics(spark),
      graft.expressions.LoopKernel.attachMetrics(spark)) ++ IwFull.attachMetrics(spark)
}

/** Bounded per-executor memo with PARTIAL eviction — the scale-safe
  * replacement for the `if (size > cap) clear()` pattern.
  *
  * Why not clear-all: on a cap breach it throws away the ENTIRE working
  * set, so a steady stream of fresh keys degenerates to a full refill
  * every `cap` lookups — the failure mode the round-8 deng study measured
  * at ~95 s/pass (2.3M misses) before its re-key fix.
  *
  * Why not true LRU: access-order bookkeeping on the hot path needs a
  * lock (LinkedHashMap) or per-read CAS traffic, serialising the 32
  * reader threads whose whole point is lock-free steady-state reads.
  *
  * Partial eviction keeps `ConcurrentHashMap.computeIfAbsent` semantics
  * (cold fills paid once per executor, per-bin locking only on fill) and,
  * on breach, drops ~1/8 of entries in iterator order — effectively
  * random replacement. Under a working set W > cap the hit rate degrades
  * to ~cap/W instead of collapsing to ~0, and every eviction is counted
  * in the attached [[MemoStats]], so a thrashing cache is visible in the
  * Bench artifact instead of a silent time bomb. */
final class Memo[K, V](cap: Int) {
  private val m = new java.util.concurrent.ConcurrentHashMap[K, V]()
  @volatile private var stats: MemoStats = _
  private val evicting = new java.util.concurrent.atomic.AtomicBoolean(false)

  def attach(s: MemoStats): Unit = stats = s
  def attached: Option[MemoStats] = Option(stats)
  def size: Int = m.size()

  /** Executor-side republish of closure-captured stats, the one way
    * counts reach the driver from a remote JVM. The memo points at the
    * copy of a RUNNING task: a completion listener detaches it when the
    * owning task finishes, so the next task republishes its own live copy
    * instead of adding to one whose value already shipped to the driver.
    * A no-op wherever stats are attached (the driver JVM, local mode). */
  def publish(s: MemoStats): Unit =
    if (stats == null) {
      stats = s
      val tc = TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        if (stats eq s) stats = null
      }
    }

  /** Read-only membership probe (spec hook — no fill, no eviction). */
  private[graft] def contains(k: K): Boolean = m.containsKey(k)

  // Single-evictor guard: in the thrashing regime (near-unique keys,
  // every lookup a miss) ALL reader threads observe size > cap at once;
  // without the CAS each would run its own evictSome pass — n_threads x
  // cap/8 entries dropped per breach (the r9 sf0.1 bench artifact showed
  // IW's former (T, P) fO2 memo evicted=8.5M against only 2.2M inserts:
  // concurrent iterators double-counting each other's removals). One thread evicts,
  // the rest proceed; size overshoots by at most the in-flight fills.
  private def evictIfFull(): Unit =
    if (m.size() > cap && evicting.compareAndSet(false, true))
      try evictSome() finally evicting.set(false)

  def getOrFill(k: K)(fill: => V): V = {
    evictIfFull()
    val st = stats
    if (st == null) m.computeIfAbsent(k, _ => fill)
    else {
      // `filled` tells a real fill from a lookup that found the key (or
      // lost the per-bin race to a concurrent filler — a hit, because this
      // thread did no work)
      var filled = false
      val v = m.computeIfAbsent(k, { _ => filled = true; timed(st)(fill) })
      if (filled) st.misses.add(1) else st.hits.add(1)
      v
    }
  }

  /** The value of `k`, counted as a hit, or null: a caller that computes
    * the value itself on a miss stores it with [[fill]]. */
  def lookup(k: K): V = {
    val v = m.get(k)
    val st = stats
    if (v != null && st != null) st.hits.add(1)
    v
  }

  /** Store `v`, computed in `nanos` after a [[lookup]] missed, counted as a
    * miss. */
  def fill(k: K, v: V, nanos: Long): Unit = {
    evictIfFull()
    m.put(k, v)
    val st = stats
    if (st != null) { st.misses.add(1); st.fillNanos.add(nanos) }
  }

  /** Drop every entry (spec hook: a path that must compute, not read). */
  private[graft] def clear(): Unit = m.clear()

  private def timed(st: MemoStats)(fill: => V): V = {
    val t0 = System.nanoTime()
    val r = fill
    st.fillNanos.add(System.nanoTime() - t0)
    r
  }

  private def evictSome(): Unit = {
    // Evict down to cap - cap/8 from the CURRENT size, not a fixed cap/8:
    // with the single-evictor guard the other threads keep inserting while
    // this pass runs, and when fills are cheap (or threads many) a fixed
    // quota falls behind and the map runs away past the cap. Sizing the
    // pass from the observed overshoot makes each pass catch up in one go;
    // at the normal breach (size = cap + 1) this is the same ~cap/8 drop
    // as before.
    val it = m.keySet().iterator()
    var n = math.max(math.max(1, cap / 8), m.size() - (cap - cap / 8))
    var dropped = 0L
    while (n > 0 && it.hasNext) { it.next(); it.remove(); n -= 1; dropped += 1 }
    val st = stats
    if (st != null) st.evicted.add(dropped)
  }
}
