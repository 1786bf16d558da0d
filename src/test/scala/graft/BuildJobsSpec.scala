package graft

import org.apache.spark.JobCounter

/** Registry-wide build-jobs law: building a query plans it and starts no
  * Spark job. Every registry query is built twice at sf0.001 (the first
  * build may construct artifacts and fill memos); the second build must
  * start zero jobs, except for the queries below, whose build-time jobs
  * are part of what they do, pinned at their exact count (one racy
  * count as a range). A new build-time job anywhere fails this test. */
class BuildJobsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries that start jobs while they are built, with the count, at
    * the suite's `local[4]`. */
  private val allowed: Map[String, Int] = Map(
    // artifact serves: one fingerprint job per persisted artifact
    "q_dedup_clusters" -> 1, "q_dedup_report" -> 1, "q_split_leakage" -> 1,
    "q_dedup_survivors" -> 1,
    // labels + serve index (one corpus fingerprint, shared, and the
    // labels fingerprint)
    "q_dedup_assign" -> 2,
    // assign's two plus the full re-cluster's labels
    "q_dedup_rebuild_drift" -> 3,
    // fingerprint + the bounded centroid collect of the persisted index
    "q_knn_ivfpq" -> 2,
    // pairs fingerprint + the rank iteration's eager edge checkpoint
    "q_pagerank" -> 4,
    // writes a temp artifact while building and reads it back
    "q_jsonl_roundtrip" -> 2, "q_sketch_rollup" -> 3, "q_zorder_layout" -> 3,
    // ... and infers the partitioned layout with Spark's schema job
    "q_corpus_partitioned" -> 4,
    // driver-side training loops: PQ codebooks, k-means, BPE merges, MMR
    "q_pq_codes" -> 5, "q_knn_pq" -> 5, "q_kmeans_embed" -> 11,
    "q_semdedup" -> 5, "q_bpe_train" -> 19,
    // plan-time scalars collected on the driver: embedding width, corpus
    // size, packing and budget offsets, filter words, bin plans, spines
    "q_knn_lsh" -> 1, "q_dedup_embedding_lsh" -> 2, "q_tfidf_topterms" -> 3,
    "q_token_budget" -> 3, "q_bpe_token_budget" -> 3, "q_seq_pack" -> 3,
    "q_bpe_seq_pack" -> 3, "q_pack_efficiency" -> 3, "q_psi_drift" -> 3,
    "q_segment_dedup" -> 4, "q_bloom_decontaminate" -> 5,
    "q_compaction_global" -> 9, "q_scd2_merge" -> 6)

  /** Build-time jobs whose count varies between runs. MMR's greedy steps
    * each run an adaptive plan eagerly; AQE submits sibling query stages
    * together and re-plans as each finishes, so how many stage jobs start
    * is a race (15, 16 and 17 seen in six builds; the range allows one
    * more either side). */
  private val ranged: Map[String, Range] = Map("q_mmr_rerank" -> (14 to 18))

  private def pinned(q: String): Range =
    ranged.getOrElse(q, allowed.getOrElse(q, 0) to allowed.getOrElse(q, 0))

  // first in the suite, so no earlier build in this JVM has seen the
  // melts table
  test("the first build of each fO2 EOS buffer query starts no Spark job") {
    val sc = spark.sparkContext
    for (q <- Seq("q_fo2_qfm_full", "q_fo2_iw_full")) {
      val jobs = JobCounter.jobsOf(sc)(Queries.queries(q)(spark, sfDir))._2
      assert(jobs == 0, s"$q: $jobs jobs on its first build")
    }
  }

  test("a second build of every registry query starts only its pinned " +
      "build-time jobs") {
    val sc = spark.sparkContext
    val counts = Queries.all.map { q =>
      q.build(spark, sfDir)
      q.name -> JobCounter.jobsOf(sc)(q.build(spark, sfDir))._2
    }
    val wrong = counts.filterNot { case (n, c) => pinned(n).contains(c) }
    assert(wrong.isEmpty, wrong.map { case (n, c) =>
      s"$n: $c build-time jobs, pinned ${pinned(n)}" }.mkString("\n"))
  }
}
