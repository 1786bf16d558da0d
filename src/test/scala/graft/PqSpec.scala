package graft

import org.apache.spark.sql.functions._
import graft.ext.{Artifacts, Pq}

/** The laws Pq's scaladoc promises:
  *
  *  - training equivalence: the fused one-job-per-iteration [[Pq.train]]
  *    produces element-identical codebooks to the per-subspace reference
  *    trainer [[Pq.trainPerSubspace]] (one KMeansDet fit per slice),
  *    including the empty-cluster keep-previous-centroid path;
  *  - artifact round trip: writeIndex → readIndex yields an index whose
  *    cells/codebooks are element-identical and whose searchIndex output
  *    is row-identical to the in-memory fitIndex one (parquet doubles
  *    round-trip exactly);
  *  - persistedIndex keying: the memo is keyed on the FULL (key, params)
  *    string, so the classic 32-bit String.hashCode collision ("Aa" vs
  *    "BB") serves each corpus its OWN index — the regression the r11
  *    advice flagged;
  *  - no stage of training, encoding or search falls back from generated
  *    code ([[NoCodegenFallback]]).
  */
class PqSpec extends SparkSpec with NoCodegenFallback {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.read(spark, sf, "embeddings")

  private def deepEq(a: Array[Array[Array[Double]]],
                     b: Array[Array[Array[Double]]]): Boolean =
    a.length == b.length && a.indices.forall(s =>
      a(s).length == b(s).length && a(s).indices.forall(j =>
        java.util.Arrays.equals(a(s)(j), b(s)(j))))

  test("fused train equals per-subspace training on the embeddings fixture") {
    val e = emb.filter(col("vec_id") < 120)
    for (m <- Seq(2, 4)) {
      val fused = Pq.train(e, m = m, k = 4, iters = 2, dim = 64)
      val ref = Pq.trainPerSubspace(e, m = m, k = 4, iters = 2, dim = 64)
      assert(deepEq(fused, ref), s"codebooks diverge at m=$m")
    }
  }

  test("training equivalence holds through an empty cluster " +
      "(duplicate init vectors; both trainers keep the previous centroid)") {
    // vec 0 and 1 are identical, so init centroids 0 and 1 coincide and
    // the argmin tie goes to code 0 — centroid 1 receives no points and
    // must keep its previous coordinates in BOTH trainers.
    val rows = Seq(
      (0L, Seq(0.0, 0.0, 1.0, 1.0)),
      (1L, Seq(0.0, 0.0, 1.0, 1.0)),
      (2L, Seq(4.0, 4.0, -2.0, 1.5)),
      (3L, Seq(-3.0, 2.0, 0.5, -1.0)),
      (4L, Seq(0.1, -0.1, 1.1, 0.9)),
      (5L, Seq(3.9, 4.1, -2.1, 1.4)))
    val e = rows.toDF("vec_id", "embedding")
    val fused = Pq.train(e, m = 2, k = 4, iters = 2, dim = 4)
    val ref = Pq.trainPerSubspace(e, m = 2, k = 4, iters = 2, dim = 4)
    assert(deepEq(fused, ref), "codebooks diverge on the empty-cluster fixture")
    // the empty cluster really was empty: centroid 1 of subspace 0 is
    // still the (identical) init vector's slice
    assert(java.util.Arrays.equals(fused(0)(1), Array(0.0, 0.0)))
  }

  test("writeIndex -> readIndex -> searchIndex is bit-identical to the " +
      "in-memory index") {
    val e = emb.filter(col("vec_id") < 150)
    val mem = Pq.fitIndex(e, coarseK = 8, coarseIters = 1, m = 2, pqK = 4,
      pqIters = 1, dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("pq_rt").toString
    Pq.writeIndex(e, coarseK = 8, coarseIters = 1, m = 2, pqK = 4,
      pqIters = 1, dim = 64, path = dir)
    val loaded = Pq.readIndex(spark, dir)
    assert(mem.cells.length == loaded.cells.length &&
      mem.cells.indices.forall(j =>
        java.util.Arrays.equals(mem.cells(j), loaded.cells(j))),
      "coarse cells diverge after the parquet round trip")
    assert(deepEq(mem.codebooks, loaded.codebooks),
      "codebooks diverge after the parquet round trip")
    def rows(idx: Pq.IvfPqIndex) =
      Pq.searchIndex(e, idx, nprobe = 2, topK = 3)
        .orderBy("qid", "nid")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    assert(rows(mem) == rows(loaded),
      "loaded-index search diverges from in-memory search")
  }

  test("persistedIndex keyed by full string: hashCode-colliding keys " +
      "('Aa' vs 'BB') serve their own corpus") {
    assert("Aa".hashCode == "BB".hashCode) // the collision under test
    val corpusA = emb.filter(col("vec_id") < 100)
    val corpusB = emb.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ia = Pq.persistedIndex(corpusA, key = "Aa", coarseK = 4,
      coarseIters = 1, m = 2, pqK = 4, pqIters = 1, dim = 64)
    val ib = Pq.persistedIndex(corpusB, key = "BB", coarseK = 4,
      coarseIters = 1, m = 2, pqK = 4, pqIters = 1, dim = 64)
    val expectB = Pq.fitIndex(corpusB, coarseK = 4, coarseIters = 1, m = 2,
      pqK = 4, pqIters = 1, dim = 64)
    assert(rows(Pq.searchIndex(corpusB, ib, nprobe = 2, topK = 3)) ==
      rows(Pq.searchIndex(corpusB, expectB, nprobe = 2, topK = 3)),
      "colliding key served the wrong corpus's index")
    // and the two artifacts live at distinct paths (qid sets differ)
    assert(rows(Pq.searchIndex(corpusA, ia, nprobe = 2, topK = 3))
      .map(_._1).toSet != rows(Pq.searchIndex(corpusB, ib, nprobe = 2,
        topK = 3)).map(_._1).toSet)
  }

  test("persistedIndex memoises: the second call reuses the artifact " +
      "instead of retraining") {
    val e = emb.filter(col("vec_id") < 80)
    Pq.persistedIndex(e, key = "memo-probe", coarseK = 4, coarseIters = 1,
      m = 2, pqK = 4, pqIters = 1, dim = 64)
    // locate the artifact (same digest scheme as persistedIndex: the key
    // carries the corpus snapshot fingerprint)
    val fp = Artifacts.fingerprint(e, "vec_id", "embedding")
    val full = s"memo-probe|fp=$fp|4|1|2|4|1|64"
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(full.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val root = sys.env.getOrElse("GRAFT_INDEX_DIR", "target/graft-index")
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .toArray.map(_.toString).filter(d =>
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(d, s"ivfpq_$sha")))
    assert(dirs.nonEmpty, s"no artifact dir for ivfpq_$sha under $root")
    val success = java.nio.file.Paths.get(dirs.head, s"ivfpq_$sha",
      "codes", "_SUCCESS")
    val t0 = java.nio.file.Files.getLastModifiedTime(success)
    Pq.persistedIndex(e, key = "memo-probe", coarseK = 4, coarseIters = 1,
      m = 2, pqK = 4, pqIters = 1, dim = 64)
    val t1 = java.nio.file.Files.getLastModifiedTime(success)
    assert(t0 == t1, "second persistedIndex call rewrote the artifact")
  }

  test("persistedIndex notices an in-place corpus rewrite: same key, " +
      "changed rows -> fresh index, not the stale artifact") {
    val before = emb.filter(col("vec_id") < 60)
    val after = emb.filter(col("vec_id") >= 60 && col("vec_id") < 120)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    Pq.persistedIndex(before, key = "rewrite-probe", coarseK = 4,
      coarseIters = 1, m = 2, pqK = 4, pqIters = 1, dim = 64)
    // "rewrite in place": the SAME key now resolves to different rows
    val got = Pq.persistedIndex(after, key = "rewrite-probe", coarseK = 4,
      coarseIters = 1, m = 2, pqK = 4, pqIters = 1, dim = 64)
    val fresh = Pq.fitIndex(after, coarseK = 4, coarseIters = 1, m = 2,
      pqK = 4, pqIters = 1, dim = 64)
    assert(rows(Pq.searchIndex(after, got, nprobe = 2, topK = 3)) ==
      rows(Pq.searchIndex(after, fresh, nprobe = 2, topK = 3)),
      "stale index served after the corpus changed under the same key")
    // and a content-only change (same ids, rescaled vectors) also misses
    val rescaled = before.withColumn("embedding",
      org.apache.spark.sql.functions.transform(col("embedding"),
        v => v * lit(2.0f)))
    assert(Artifacts.fingerprint(before, "vec_id", "embedding") !=
      Artifacts.fingerprint(rescaled, "vec_id", "embedding"),
      "fingerprint blind to a content-only rewrite")
  }
}
