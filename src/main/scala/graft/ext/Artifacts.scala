package graft.ext

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionOperation}
import org.apache.spark.sql.functions.{col, xxhash64}

/** Build-once/serve-many parquet artifact store shared by the persisted
  * indexes ([[Pq.persistedIndex]]) and the persisted dedup labels/pairs
  * ([[Dedup.persistedLabels]], [[Dedup.persistedPairs]]).
  *
  * Contract: one build per (prefix, full key) per JVM. The full key must
  * fold in a corpus content fingerprint, so an in-place corpus rewrite
  * during the JVM's lifetime builds a fresh artifact instead of silently
  * serving the stale one. The memo is keyed on the FULL string —
  * collision-free by construction (a 32-bit String.hashCode memo would
  * let two keys share an artifact); the on-disk path component is the
  * key's SHA-256, so distinct keys can never share a directory.
  *
  * The artifact root lives under `target/` (or `GRAFT_INDEX_DIR`) with a
  * per-JVM token: a stale artifact from an earlier process is never
  * trusted, and the token dir is deleted on JVM exit so repeated
  * Bench/Verify runs don't accumulate orphaned trees. At 100 TB the same
  * shape points `GRAFT_INDEX_DIR` at cluster storage and drops the
  * per-JVM token in favour of the fingerprint key — the snapshot
  * semantics are identical.
  */
private[graft] object Artifacts {

  /** Lazily-completed build slot: the map holds these so
    * `computeIfAbsent` only ALLOCATES (short, never blocks a bin on a
    * multi-second Spark write) and the build itself runs under the
    * holder's own lazy-init monitor — concurrent same-key callers wait
    * on the one build, different-key builds never serialize on a shared
    * bin, and a reentrant build of ANOTHER key (an artifact depending on
    * an artifact) just nests. */
  private final class Holder(thunk: () => String) {
    lazy val path: String = thunk()
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Holder]
  private val jvmToken =
    java.lang.Long.toHexString(System.identityHashCode(memo).toLong)

  def root: String =
    sys.env.getOrElse("GRAFT_INDEX_DIR", "target/graft-index")

  private lazy val cleanupHook: Unit = {
    val dir = java.nio.file.Paths.get(root, jvmToken)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        if (java.nio.file.Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).sorted(
            java.util.Comparator.reverseOrder[java.nio.file.Path])
            .iterator.asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      } catch { case NonFatal(_) => () }))
  }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Memoised artifact path for (prefix, fullKey): the first call in this
    * JVM runs `build(path)` to write the artifact (and echoes the full
    * key into `_fingerprint` for forensic inspection); every later call
    * returns the existing path without touching the data. */
  def pathFor(prefix: String, fullKey: String)(build: String => Unit): String = {
    cleanupHook
    memo.computeIfAbsent(s"$prefix|$fullKey", _ => new Holder(() => {
      val p = s"$root/$jvmToken/${prefix}_${sha256Hex(fullKey)}"
      build(p)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "_fingerprint"), fullKey)
      catch { case NonFatal(_) => () }
      p
    })).path
  }

  /** Content fingerprint of a relation for an artifact key:
    * `count:max(id):xor` in hex, where max ignores null ids (-1 when there
    * is none) and xor folds xxhash64(id, payload) over every row. XOR
    * makes it order- and partitioning-independent, so it runs on the
    * plan with its repartitions stripped, and the per-partition partials
    * are folded on the driver: one Spark job and no shuffle (a global
    * aggregate would add an exchange, which AQE runs as a job of its
    * own). This is what lets an artifact key notice an in-place rewrite
    * of its input instead of serving a stale artifact. */
  def fingerprint(df: DataFrame, id: String, payload: String): String = {
    val flat = org.apache.spark.sql.GraftSqlBridge.ofRows(df.sparkSession,
      stripRepartitions(df.queryExecution.analyzed))
    val parts = flat.select(col(id).cast("long"), xxhash64(col(id), col(payload)))
      .queryExecution.toRdd.mapPartitions { rows =>
        var n = 0L; var max = Long.MinValue; var seen = false; var x = 0L
        rows.foreach { r =>
          n += 1
          if (!r.isNullAt(0)) { max = math.max(max, r.getLong(0)); seen = true }
          x ^= r.getLong(1)
        }
        Iterator.single((n, if (seen) Some(max) else None, x))
      }.collect()
    val max = parts.flatMap(_._2).maxOption.getOrElse(-1L)
    s"${parts.map(_._1).sum}:$max:" +
      java.lang.Long.toHexString(parts.foldLeft(0L)(_ ^ _._3))
  }

  /** `plan` without its repartition/coalesce nodes: they change layout,
    * never content, so the fingerprint reads the scan directly instead of
    * paying an exchange's map side. */
  private def stripRepartitions(plan: LogicalPlan): LogicalPlan =
    plan.transformUp { case r: RepartitionOperation => r.child }
}
