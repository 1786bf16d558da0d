package graft

import org.apache.spark.sql.functions._
import graft.ext.{Artifacts, Dedup, PipelineOps}

/** Laws for the persisted dedup-label/pair artifacts — the cross-query
  * build-once/serve-many contract (mirroring PqSpec's persisted-index
  * laws):
  *
  *  - round trip: the parquet-served labels/pairs are row-identical to
  *    the live MinHash→LSH(→Jaccard)→CC chain (integer ids/labels and
  *    IEEE doubles round-trip parquet exactly);
  *  - memoisation: the second call serves the artifact without
  *    rebuilding;
  *  - snapshot: the key folds in a corpus content fingerprint, so an
  *    in-place corpus rewrite (same key, different rows — or same ids,
  *    different text) builds fresh labels instead of serving stale ones.
  */
class DedupArtifactSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.read(spark, sf, "documents")

  private def labelRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("persistedLabels round trip: parquet-served labels are " +
      "row-identical to the live nearDupClusters chain") {
    val live = Dedup.nearDupClusters(docs, threshold = 0.0, k = 16,
      rowsPerBand = 2)
    val art = Dedup.persistedLabels(docs, key = "art-roundtrip",
      threshold = 0.0, k = 16, rowsPerBand = 2)
    assert(labelRows(art) == labelRows(live))
  }

  test("persistedPairs round trip: parquet-served pairs (including the " +
      "unrounded jaccard doubles) match the live chain") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val live = Dedup.ngramJaccardPairs(docs, threshold = 0.2, k = 16,
      rowsPerBand = 2)
    val art = Dedup.persistedPairs(docs, key = "art-pairs-roundtrip",
      threshold = 0.2, k = 16, rowsPerBand = 2)
    assert(rows(art) == rows(live))
  }

  test("persistedLabels memoises: the second call serves the artifact " +
      "without rebuilding it") {
    val d = docs.filter(col("doc_id") < 100)
    Dedup.persistedLabels(d, key = "art-memo", threshold = 0.0,
      k = 16, rowsPerBand = 2)
    val full = s"art-memo|fp=${Artifacts.fingerprint(d, "doc_id", "text")}" +
      "|t=0.0|k=16|b=2|it=20"
    val sha = Artifacts.sha256Hex(full)
    val dirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(Artifacts.root))
      .toArray.map(_.toString).filter(t => java.nio.file.Files.exists(
        java.nio.file.Paths.get(t, s"deduplab_$sha")))
    assert(dirs.nonEmpty, s"no artifact dir for deduplab_$sha")
    val success = java.nio.file.Paths.get(dirs.head, s"deduplab_$sha",
      "labels", "_SUCCESS")
    val t0 = java.nio.file.Files.getLastModifiedTime(success)
    Dedup.persistedLabels(d, key = "art-memo", threshold = 0.0,
      k = 16, rowsPerBand = 2)
    assert(t0 == java.nio.file.Files.getLastModifiedTime(success),
      "second persistedLabels call rewrote the artifact")
  }

  test("persistedLabels notices an in-place corpus rewrite: same key, " +
      "changed rows -> fresh labels, not the stale artifact") {
    val before = docs.filter(col("doc_id") < 60)
    val after = docs.filter(col("doc_id") >= 60 && col("doc_id") < 140)
    Dedup.persistedLabels(before, key = "art-rewrite", threshold = 0.0,
      k = 16, rowsPerBand = 2)
    val got = Dedup.persistedLabels(after, key = "art-rewrite",
      threshold = 0.0, k = 16, rowsPerBand = 2)
    val fresh = Dedup.nearDupClusters(after, threshold = 0.0, k = 16,
      rowsPerBand = 2)
    assert(labelRows(got) == labelRows(fresh),
      "stale labels served after the corpus changed under the same key")
    // a content-only rewrite (same ids, different text) also misses
    val edited = before.withColumn("text", concat(col("text"), lit(" x")))
    assert(Artifacts.fingerprint(before, "doc_id", "text") !=
      Artifacts.fingerprint(edited, "doc_id", "text"),
      "fingerprint blind to a text-only rewrite")
  }

  test("assignToClusters: an exact copy joins the copied doc's existing " +
      "cluster, an unlinked doc founds its own, and no existing label " +
      "ever moves") {
    import spark.implicits._
    val existing = docs.filter(col("doc_id") < 200).select("doc_id", "text")
    val labels = Dedup.nearDupClusters(existing, threshold = 0.2, k = 16,
      rowsPerBand = 2)
    val first = existing.orderBy("doc_id").head
    val copyOfId = first.getLong(0)
    val newDocs = Seq(
      (10000L, first.getString(1)), // exact copy of an existing doc
      (10001L, "zq8 vvx9 kkw7 unseen gibberish tokens only"))
      .toDF("doc_id", "text")
    val out = Dedup.assignToClusters(newDocs, existing, labels,
      threshold = 0.2, k = 16, rowsPerBand = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wantLabel = labels.filter(col("doc_id") === copyOfId)
      .head.getLong(1)
    assert(out(0)._2 == wantLabel && out(0)._3 >= 1L,
      s"exact copy must join doc $copyOfId's cluster $wantLabel: ${out(0)}")
    assert(out(1) == ((10001L, 10001L, 0L)),
      s"unlinked doc must found its own cluster: ${out(1)}")
    // assignment never invents a label: every assigned cluster_id is an
    // existing cluster's label or the new doc's own id
    val legal = labels.select("cluster_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(out.forall { case (id, cl, _) => legal.contains(cl) || cl == id })
  }

  test("persistedAssignIndex round trip: assignment through the parquet " +
      "probe index is row-identical to the live index") {
    import spark.implicits._
    val existing = docs.filter(col("doc_id") < 300).select("doc_id", "text")
    val newDocs = docs.filter(col("doc_id") >= 300 && col("doc_id") < 360)
      .select("doc_id", "text")
    val labels = Dedup.nearDupClusters(existing, threshold = 0.2, k = 16,
      rowsPerBand = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val live = Dedup.assignToClusters(newDocs, existing, labels,
      threshold = 0.2, k = 16, rowsPerBand = 2)
    val (bands, sets) = Dedup.persistedAssignIndex(existing,
      key = "art-assignidx", k = 16, rowsPerBand = 2)
    val art = Dedup.assignWithIndex(newDocs, bands, sets, labels,
      threshold = 0.2, k = 16, rowsPerBand = 2)
    assert(rows(art) == rows(live))
  }

  test("persistedServeIndex round trip: join-only assignServe over the " +
      "enriched parquet artifact is row-identical to the live chain, " +
      "including under a firing bucket cap") {
    val existing = docs.filter(col("doc_id") < 300).select("doc_id", "text")
    val newDocs = docs.filter(col("doc_id") >= 300 && col("doc_id") < 360)
      .select("doc_id", "text")
    val labels = Dedup.nearDupClusters(existing, threshold = 0.2, k = 16,
      rowsPerBand = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val live = Dedup.assignToClusters(newDocs, existing, labels,
      threshold = 0.2, k = 16, rowsPerBand = 2)
    val serve = Dedup.persistedServeIndex(existing, labels,
      key = "art-serve", k = 16, rowsPerBand = 2)
    val art = Dedup.assignServe(newDocs, serve, threshold = 0.2,
      k = 16, rowsPerBand = 2)
    assert(rows(art) == rows(live))
    // cap is a BUILD parameter: a cap-1 artifact reproduces the capped
    // live path (pairs surfacing through a later band after their
    // minimal band's bucket was capped away — the ownership rule must
    // range over SURVIVING bands, which only the enriched esurv encodes).
    // Wider fixture: cap=1 does not fire on the <300 slice.
    val existC = docs.filter(col("doc_id") < 350).select("doc_id", "text")
    val newC = docs.filter(col("doc_id") >= 350 && col("doc_id") < 420)
      .select("doc_id", "text")
    val labelsC = Dedup.nearDupClusters(existC, threshold = 0.2, k = 16,
      rowsPerBand = 2)
    val liveCap = Dedup.assignToClusters(newC, existC, labelsC,
      threshold = 0.2, k = 16, rowsPerBand = 2, maxBucketSize = 1)
    assert(rows(liveCap) != rows(Dedup.assignToClusters(newC, existC,
      labelsC, threshold = 0.2, k = 16, rowsPerBand = 2)),
      "cap=1 must fire on the fixture")
    val serveCap = Dedup.persistedServeIndex(existC, labelsC,
      key = "art-serve", k = 16, rowsPerBand = 2, maxBucketSize = 1)
    assert(rows(Dedup.assignServe(newC, serveCap, threshold = 0.2,
      k = 16, rowsPerBand = 2)) == rows(liveCap))
    // a label rebuild under the same key must not serve the stale index:
    // the artifact key folds in the labels fingerprint
    val labels2 = labels.withColumn("cluster_id", col("cluster_id") + 1L)
    val serve2 = Dedup.persistedServeIndex(existing, labels2,
      key = "art-serve", k = 16, rowsPerBand = 2)
    val shifted = rows(Dedup.assignServe(newDocs, serve2, threshold = 0.2,
      k = 16, rowsPerBand = 2))
    val base = rows(art)
    assert(shifted.zip(base).forall { case ((id2, cl2, nm2), (id1, cl1, nm1)) =>
      id2 == id1 && nm2 == nm1 && (nm1 == 0L || cl2 == cl1 + 1L)
    }, "serve index blind to a label rewrite under the same key")
  }

  test("rebuildDrift measures partition drift: a bridged merge counts, " +
      "a label-string-only difference does not") {
    import spark.implicits._
    // incremental: {1,2} {3,4} {5,6} {7,8@label 8}; a rebuild merges
    // {1,2}+{3,4} and re-labels {7,8} to its min member — only the merge
    // is drift, the relabel is the same partition
    val inc = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L),
      (6L, 5L), (7L, 8L), (8L, 8L)).toDF("doc_id", "cluster_id")
    val full = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 5L),
      (6L, 5L), (7L, 7L), (8L, 7L)).toDF("doc_id", "cluster_id")
    val r = Dedup.rebuildDrift(inc, full).head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((8L, 2L, 0.25, 4L, 3L, 1L)))
    // identical partitions under different label strings: zero drift
    val z = Dedup.rebuildDrift(inc, inc.withColumn("cluster_id",
      col("cluster_id") + 100L)).head
    assert(z.getLong(1) == 0L && z.getLong(5) == 0L)
  }

  test("leakageSafeSplitFromLabels over the artifact equals the live " +
      "leakageSafeSplit") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSeq
    val live = PipelineOps.leakageSafeSplit(docs, trainFrac = 0.9,
      valFrac = 0.05, salt = ":split", k = 16, rowsPerBand = 2)
    val art = PipelineOps.leakageSafeSplitFromLabels(
      Dedup.persistedLabels(docs, key = "art-split", threshold = 0.0,
        k = 16, rowsPerBand = 2),
      trainFrac = 0.9, valFrac = 0.05, salt = ":split")
    assert(rows(art) == rows(live))
  }
}
