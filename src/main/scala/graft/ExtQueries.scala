package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expr.{E, Pipeline, Stage, C, Lit, SLit, CastD, If, ILit}
import graft.expr.E._
import graft.ext.{AsOfJoin, Bloom, Bm25, CorpusIO, CorpusStats, CountMin, Dedup, DualHash, KMeansDet, PipelineOps, RangeJoin, SemDedup, SetSimJoin, Similarity, Sketches, SpanDedup, TextAnalysis => TA}
import graft.expressions.SimHash64
import graft.Queries.Q

/** Beyond-reference operators for large-scale training-data pipelines
  * (dedup, similarity search, text analysis, event windows) wired as
  * driver-contract queries over the `documents` / `embeddings` / `events`
  * testdata tables.
  */
object ExtQueries {

  /** DuckDB rendering of [[Similarity.lshBucket]]: disjoint power-of-two
    * sign bits summed. Hyperplane literals are the SAME doubles baked into
    * the Spark plan (seeded PRNG + round-trip double formatting), so the
    * oracle computes identical projections. Dim fixed to the driver
    * testdata's 64 here — the Spark side infers it from the data. */
  private def lshBucketSql(planes: Int, seed: Long, dim: Int): String =
    Similarity.hyperplanes(dim, planes, seed).zipWithIndex.map { case (p, i) =>
      val arr = p.map(E.formatDouble).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // ---- DuckDB renderings of the dedup hash pipeline ---------------------
  // The Spark side computes the identical arithmetic inside native
  // one-pass expressions (MinHashSig / SimHash64 / ShingleHashes, all on
  // the DualHash md5-base60 + affine-family scheme); these CTEs rebuild it
  // from DuckDB primitives: string_split -> word 3-shingles -> md5 base
  // hash -> affine families / bit votes. Every dedup query below carries a
  // full hash-match oracle.
  private val tokCte =
    """tok AS (SELECT "doc_id", string_split("text", ' ') AS toks FROM documents)"""
  private val shCte =
    "sh AS (SELECT \"doc_id\", list_transform(range(1, greatest(len(toks) - 2, 1) + 1), " +
      s"i -> ${DualHash.base60Sql("array_to_string(list_slice(toks, i, i + 2), ' ')")}) AS hs FROM tok)"
  private def sigCte(k: Int): String =
    "sig AS (SELECT \"doc_id\", [" +
      (0 until k).map(i =>
        s"list_min(list_transform(hs, x -> ${DualHash.familySql(i, "x")}))").mkString(", ") +
      "] AS sg FROM sh)"
  /** LSH band-bucket rows: one (doc, band, bucket) per band via a lateral
    * range join; the bucket key is the DualHash combine over the band's
    * signature slice — same fold as [[Dedup.minhashLsh]]. */
  private def bkCte(k: Int, rowsPerBand: Int): String =
    s"bk AS (SELECT \"doc_id\", b, ${DualHash.combineSql("b",
      (1 to rowsPerBand).map(r => s"sg[b * $rowsPerBand + $r]"))} AS bucket " +
      s"FROM sig CROSS JOIN range(0, ${k / rowsPerBand}) t(b))"
  private val candCte =
    "cand AS (SELECT DISTINCT a.\"doc_id\" AS doc_a, c.\"doc_id\" AS doc_b FROM bk a " +
      "JOIN bk c ON a.b = c.b AND a.bucket = c.bucket AND a.\"doc_id\" < c.\"doc_id\")"

  /** Prefixed MinHash CTE chain (tok/sh/sig/bk) over a FILTERED documents
    * relation — the two-relation form the incremental-assignment oracle
    * needs (the unprefixed helpers above are bound to the full table). */
  private def minhashChainSql(p: String, whereSql: String, k: Int,
                              rowsPerBand: Int): String = {
    val tok = s"""${p}tok AS (SELECT "doc_id", string_split("text", ' ') AS toks FROM documents WHERE $whereSql)"""
    val sh = s"""${p}sh AS (SELECT "doc_id", list_transform(range(1, greatest(len(toks) - 2, 1) + 1), """ +
      s"i -> ${DualHash.base60Sql("array_to_string(list_slice(toks, i, i + 2), ' ')")}) AS hs FROM ${p}tok)"
    val sig = s"""${p}sig AS (SELECT "doc_id", [""" + (0 until k).map(i =>
      s"list_min(list_transform(hs, x -> ${DualHash.familySql(i, "x")}))")
      .mkString(", ") + s"] AS sg FROM ${p}sh)"
    val bk = s"""${p}bk AS (SELECT "doc_id", b, ${DualHash.combineSql("b",
      (1 to rowsPerBand).map(r => s"sg[b * $rowsPerBand + $r]"))} AS bucket """ +
      s"FROM ${p}sig CROSS JOIN range(0, ${k / rowsPerBand}) t(b))"
    Seq(tok, sh, sig, bk).mkString(", ")
  }
  /** SimHash signature CTE chain: per-token base hash, 60 conditional-sum
    * bit votes, signature reassembled from the vote signs. */
  private val simhashCtes: String = {
    val votes = (0 until SimHash64.Bits).map(b =>
      s"sum(CASE WHEN ((hv >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
    val sigBits = (0 until SimHash64.Bits).map(b =>
      s"(CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)").mkString(" + ")
    tokCte + ", " +
      "tk AS (SELECT \"doc_id\", unnest(toks) AS t FROM tok), " +
      s"h AS (SELECT \"doc_id\", ${DualHash.base60Sql("t")} AS hv FROM tk), " +
      s"v AS (SELECT \"doc_id\", $votes FROM h GROUP BY 1), " +
      s"s2 AS (SELECT \"doc_id\", CAST($sigBits AS BIGINT) AS sig FROM v)"
  }

  /** Documents range-partitioned by doc_id at the scan (guide §2.4): for
    * the narrow per-row queries ending in `orderBy("doc_id")`, the one
    * explicit range exchange replaces the round-robin parallelism floor
    * AND satisfies the final sort, so the per-row compute (BPE string
    * passes, hash chains, byte parsers) runs once behind a single
    * exchange instead of twice (the old ensure-requirements sort
    * exchange re-executed it in its range-bound sampling pass). */
  private def docsRanged(s: SparkSession, dir: String): DataFrame =
    Tables.readRangedBy(s, dir, "documents", Seq(C("doc_id")))

  /** Embeddings range-partitioned by vec_id — same shape as
    * [[docsRanged]] for the per-vector projection queries. */
  private def embRanged(s: SparkSession, dir: String): DataFrame =
    Tables.readRangedBy(s, dir, "embeddings", Seq(C("vec_id")))

  /** Per-document scalar pipeline: one projection stage over `documents`. */
  private def docQ(name: String, cols: (String, E)*): Q = {
    val stages = Vector(Stage(Seq[(String, E)]("doc_id" -> C("doc_id")) ++ cols))
    Q(name,
      (s, dir) => Pipeline.applySpark(docsRanged(s, dir), stages)
        .orderBy("doc_id"),
      Some(Pipeline.toSql("documents", stages, Seq("doc_id"))))
  }

  private val text: E = C("text")

  def all: Seq[Q] = Seq(
    // ---- text analysis (oracle-checked expressions) ---------------------
    docQ("q_text_quality",
      "n_chars" -> TA.charCount(text),
      "n_tokens" -> TA.tokenCount(text),
      "avg_token_len" -> TA.avgTokenLength(text),
      "stopword_ratio" -> TA.stopwordRatio(text),
      "quality" -> TA.qualityScore(text)),
    docQ("q_token_count", "n_tokens" -> TA.tokenCount(text),
      "n_tokens_bpe" -> E.round(TA.bpeTokenEstimate(text), 6)),
    // REAL greedy-BPE token counting (not the regression estimate above):
    // a literal creation-ordered merges table compiled into a chain of
    // left-to-right `replace` passes both engines execute identically —
    // the unit a training budget is actually denominated in. Pure per-row
    // projection; equivalence to priority-queue BPE is law-pinned in
    // BpeSpec.
    docQ("q_bpe_token_count",
      "n_tokens_ws" -> TA.tokenCount(text),
      "n_tokens_bpe" -> graft.ext.Bpe.tokenCountE(text)),
    docQ("q_lang_id", "lang_pred" -> TA.langId(text),
      "score_en" -> TA.langScore(text, "en"),
      "score_de" -> TA.langScore(text, "de")),
    docQ("q_doc_fingerprint",
      "fp" -> TA.fingerprint(text),
      "fp_norm" -> TA.normalizedFingerprint(text)),
    // ---- multimodal plumbing: opaque binary payload + typed metadata ----
    docQ("q_multimodal_meta",
      "payload_bytes" -> graft.expr.Raw(
        octet_length(col("text").cast("binary")).cast("double"),
        "CAST(octet_length(CAST(\"text\" AS BLOB)) AS DOUBLE)"),
      "payload_md5" -> md5S(text)),
    // ---- dedup ----------------------------------------------------------
    Q("q_dedup_exact",
      (s, dir) => Dedup.exact(Tables.read(s, dir, "documents")).orderBy("fp"),
      Some("""SELECT md5("text") AS "fp", min("doc_id") AS "keep_doc_id",
             | CAST(count(*) AS DOUBLE) AS "dup_count"
             | FROM documents GROUP BY 1 ORDER BY "fp"""".stripMargin
        .replace("\n", " "))),
    // Full signature + band-key dump: 16 family minima and 4 LSH bucket
    // keys per doc, every value hash-checked against the DuckDB rendering.
    Q("q_dedup_minhash_sig", (s, dir) => {
      val lsh = Dedup.minhashLsh(docsRanged(s, dir))
      val cols = col("doc_id") +:
        ((0 until 16).map(i => col("sig").getItem(i).as(s"sig$i")) ++
          (0 until 4).map(b => col("bands").getItem(b).as(s"band$b")))
      lsh.select(cols: _*).orderBy("doc_id")
    },
      Some {
        val sigCols = (0 until 16).map(i => s"sg[${i + 1}] AS \"sig$i\"").mkString(", ")
        val bandCols = (0 until 4).map(b =>
          DualHash.combineSql(b.toString,
            (1 to 4).map(r => s"sg[${b * 4 + r}]")) + s" AS \"band$b\"").mkString(", ")
        s"WITH $tokCte, $shCte, ${sigCte(16)} " +
          s"SELECT \"doc_id\", $sigCols, $bandCols FROM sig ORDER BY \"doc_id\""
      }),
    Q("q_dedup_minhash_pairs", (s, dir) =>
      Dedup.minhashCandidates(Tables.read(s, dir, "documents"), k = 16, rowsPerBand = 2)
        .orderBy("doc_a", "doc_b"),
      Some(s"WITH $tokCte, $shCte, ${sigCte(16)}, ${bkCte(16, 2)}, $candCte " +
        "SELECT doc_a AS \"doc_a\", doc_b AS \"doc_b\" FROM cand ORDER BY 1, 2")),
    Q("q_dedup_simhash", (s, dir) =>
      docsRanged(s, dir)
        .select(col("doc_id"), Dedup.simhash(split(col("text"), " ")).as("simhash"))
        .orderBy("doc_id"),
      Some(s"WITH $simhashCtes " +
        "SELECT \"doc_id\", sig AS \"simhash\" FROM s2 ORDER BY \"doc_id\"")),
    Q("q_dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.read(s, dir, "documents"),
        threshold = 0.0, k = 16, rowsPerBand = 2)
        .select(col("doc_a"), col("doc_b"), org.apache.spark.sql.functions.round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      Some(s"WITH $tokCte, $shCte, ${sigCte(16)}, ${bkCte(16, 2)}, $candCte, " +
        "st AS (SELECT \"doc_id\", list_distinct(hs) AS sh2 FROM sh), " +
        "j AS (SELECT cand.doc_a, cand.doc_b, " +
        "round(CAST(len(list_intersect(x.sh2, y.sh2)) AS DOUBLE) / " +
        "CAST(len(list_distinct(list_concat(x.sh2, y.sh2))) AS DOUBLE), 6) AS jaccard " +
        "FROM cand JOIN st x ON x.\"doc_id\" = cand.doc_a " +
        "JOIN st y ON y.\"doc_id\" = cand.doc_b) " +
        "SELECT doc_a AS \"doc_a\", doc_b AS \"doc_b\", jaccard AS \"jaccard\" " +
        "FROM j WHERE jaccard >= 0.0e0 ORDER BY 1, 2")),
    // Connected-components dedup clustering: the DECISION step — MinHash-LSH
    // candidate pairs (same chain as q_dedup_minhash_pairs; Jaccard-verified
    // at threshold 0) collapsed into groups, cluster_id = min reachable
    // doc_id, doc_id == cluster_id marks the kept canonical doc. Oracle:
    // DuckDB recursive-CTE transitive closure over the same pair set —
    // full hash-match on the label assignment.
    // Served from the persisted label ARTIFACT (Dedup.persistedLabels):
    // the MinHash→LSH→CC chain runs once per (corpus fingerprint, params)
    // per JVM; this query and every downstream consumer (report, split,
    // survivors) read the parquet label table. Bit-identical to the live
    // chain, so the oracle is unchanged.
    Q("q_dedup_clusters", (s, dir) =>
      Dedup.persistedLabels(Tables.read(s, dir, "documents"),
        key = s"$dir/documents", threshold = 0.0, k = 16, rowsPerBand = 2)
        .orderBy("doc_id"),
      Some(s"WITH RECURSIVE $tokCte, $shCte, ${sigCte(16)}, ${bkCte(16, 2)}, $candCte, " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand " +
        "UNION ALL SELECT doc_b, doc_a FROM cand), " +
        "reach AS (SELECT \"doc_id\" AS id, CAST(\"doc_id\" AS BIGINT) AS lbl FROM documents " +
        "UNION SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id) " +
        "SELECT id AS \"doc_id\", min(lbl) AS \"cluster_id\" FROM reach " +
        "GROUP BY 1 ORDER BY 1")),
    // The dedup AUDIT report every pipeline prints before acting: the
    // near-dup cluster-size histogram (how many singletons, pairs,
    // triples...), docs per size class, and the removable-doc count
    // (size-1 per cluster — what survivor selection would delete). Same
    // CC chain as q_dedup_clusters; everything after the labels is
    // label-scale then size-class-scale aggregation.
    Q("q_dedup_report", (s, dir) => {
      val F = org.apache.spark.sql.functions
      Dedup.persistedLabels(Tables.read(s, dir, "documents"),
          key = s"$dir/documents", threshold = 0.0, k = 16, rowsPerBand = 2)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1L) * col("n_clusters")).as("n_removable"))
        .orderBy("cluster_size")
    },
      Some(s"WITH RECURSIVE $tokCte, $shCte, ${sigCte(16)}, ${bkCte(16, 2)}, $candCte, " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand " +
        "UNION ALL SELECT doc_b, doc_a FROM cand), " +
        "reach AS (SELECT \"doc_id\" AS id, CAST(\"doc_id\" AS BIGINT) AS lbl FROM documents " +
        "UNION SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id), " +
        "labels AS (SELECT id AS \"doc_id\", min(lbl) AS cluster_id FROM reach GROUP BY 1), " +
        "sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1) " +
        "SELECT cluster_size AS \"cluster_size\", count(*) AS \"n_clusters\", " +
        "CAST(cluster_size * count(*) AS BIGINT) AS \"n_docs\", " +
        "CAST((cluster_size - 1) * count(*) AS BIGINT) AS \"n_removable\" " +
        "FROM sizes GROUP BY 1 ORDER BY 1")),
    // Leakage-safe split: train/val/test hashed on the NEAR-DUP CLUSTER
    // label (same CC chain as q_dedup_clusters), so near-duplicate docs
    // can never straddle the split — the train/test contamination a
    // per-doc hash split permits on an un-deduped corpus. One extra hash
    // projection on the label table; text never shuffles.
    Q("q_split_leakage", (s, dir) =>
      PipelineOps.leakageSafeSplitFromLabels(
        Dedup.persistedLabels(Tables.read(s, dir, "documents"),
          key = s"$dir/documents", threshold = 0.0, k = 16,
          rowsPerBand = 2),
        trainFrac = 0.9, valFrac = 0.05, salt = ":split")
        .orderBy("doc_id"),
      Some(s"WITH RECURSIVE $tokCte, $shCte, ${sigCte(16)}, ${bkCte(16, 2)}, $candCte, " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand " +
        "UNION ALL SELECT doc_b, doc_a FROM cand), " +
        "reach AS (SELECT \"doc_id\" AS id, CAST(\"doc_id\" AS BIGINT) AS lbl FROM documents " +
        "UNION SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id), " +
        "labels AS (SELECT id AS \"doc_id\", min(lbl) AS \"cluster_id\" FROM reach GROUP BY 1) " +
        PipelineOps.leakageSafeSplitOracleSql("labels",
          trainFrac = 0.9, valFrac = 0.05, salt = ":split"))),
    // Survivor selection — the dedup pipeline's last mile: within each
    // near-dup cluster keep the highest-quality document (quality desc,
    // doc_id tiebreak). Composes the cluster labels with the quality
    // score; the per-cluster argmax is a window bounded by cluster size,
    // never corpus size. Quality is the same E-compiled arithmetic on
    // both engines, so the float ordering is identical and the chosen
    // survivors hash-match.
    Q("q_dedup_survivors", (s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val cl = Dedup.persistedLabels(docs, key = s"$dir/documents",
        threshold = 0.0, k = 16, rowsPerBand = 2)
      val q = docs.select(col("doc_id"),
        E.toColumn(TA.qualityScore(text)).as("q"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("q").desc, col("doc_id"))
      cl.join(q, "doc_id")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("survivor_id"),
          org.apache.spark.sql.functions.round(col("q"), 6).as("quality"))
        .orderBy("cluster_id")
    },
      Some {
        val qs = E.toSql(TA.qualityScore(text))
        s"WITH RECURSIVE $tokCte, $shCte, ${sigCte(16)}, ${bkCte(16, 2)}, " +
          s"$candCte, " +
          "edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand " +
          "UNION ALL SELECT doc_b, doc_a FROM cand), " +
          "reach AS (SELECT \"doc_id\" AS id, CAST(\"doc_id\" AS BIGINT) AS lbl " +
          "FROM documents " +
          "UNION SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id), " +
          "lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1), " +
          s"qq AS (SELECT \"doc_id\" AS doc_id, $qs AS q FROM documents), " +
          "rr AS (SELECT cluster_id, doc_id, q, row_number() OVER " +
          "(PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rk " +
          "FROM lab JOIN qq USING (doc_id)) " +
          "SELECT cluster_id AS \"cluster_id\", doc_id AS \"survivor_id\", " +
          "round(q, 6) AS \"quality\" FROM rr WHERE rk = 1 ORDER BY 1"
      }),
    // Incremental near-dup ASSIGNMENT — the daily-ingest job: docs with
    // doc_id % 7 == 0 play the new batch, the rest the existing corpus
    // whose cluster labels come from the persisted artifact. Each new doc
    // joins the min-labelled existing cluster its LSH+Jaccard(>=0.2)
    // evidence links it to, else founds its own. Existing labels never
    // move (daily-assign/weekly-rebuild stability). Oracle: the same
    // two-relation band chains, the same recursive-CTE labels over the
    // existing side, and the same verify+argmin — full hash-match.
    Q("q_dedup_assign", (s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val newDocs = docs.filter(col("doc_id") % 7 === 0)
      val existing = docs.filter(col("doc_id") % 7 =!= 0)
      val fp = Some(Dedup.corpusFingerprint(existing))
      val labels = Dedup.persistedLabels(existing,
        key = s"$dir/documents#existing", threshold = 0.2, k = 16,
        rowsPerBand = 2, fp = fp)
      // both daily-ingest artifacts persisted: the labels AND the
      // ENRICHED serve index (capped band rows + per-doc band state +
      // shingle sets + labels, co-located at build time) — the batch
      // pays only the new-side signatures, ONE bucket-keyed equi-join,
      // and a query-scale aggregation; no corpus-scale window/groupBy
      // per serving run (PlanAuditSpec pins the serving plan)
      val serve = Dedup.persistedServeIndex(existing, labels,
        key = s"$dir/documents#existing", k = 16, rowsPerBand = 2, fp = fp)
      Dedup.assignServe(newDocs, serve, threshold = 0.2,
        k = 16, rowsPerBand = 2).orderBy("doc_id")
    },
      Some {
        val eChain = minhashChainSql("e", "\"doc_id\" % 7 <> 0", 16, 2)
        val nChain = minhashChainSql("n", "\"doc_id\" % 7 = 0", 16, 2)
        def jac(x: String, y: String) =
          s"(CAST(len(list_intersect($x, $y)) AS DOUBLE) / " +
            s"CAST(len(list_distinct(list_concat($x, $y))) AS DOUBLE))"
        s"""WITH RECURSIVE $eChain, $nChain,
           | est AS (SELECT "doc_id", list_distinct(hs) AS s FROM esh),
           | nst AS (SELECT "doc_id", list_distinct(hs) AS s FROM nsh),
           | ecand AS (SELECT DISTINCT a."doc_id" AS doc_a, c."doc_id" AS doc_b
           |   FROM ebk a JOIN ebk c ON a.b = c.b AND a.bucket = c.bucket
           |   AND a."doc_id" < c."doc_id"),
           | ej AS (SELECT doc_a, doc_b FROM ecand
           |   JOIN est x ON x."doc_id" = ecand.doc_a
           |   JOIN est y ON y."doc_id" = ecand.doc_b
           |   WHERE ${jac("x.s", "y.s")} >= 0.2e0),
           | edges AS (SELECT doc_a AS src, doc_b AS dst FROM ej
           |   UNION ALL SELECT doc_b, doc_a FROM ej),
           | reach AS (SELECT "doc_id" AS id, CAST("doc_id" AS BIGINT) AS lbl
           |   FROM documents WHERE "doc_id" % 7 <> 0
           |   UNION SELECT e.dst AS id, r.lbl FROM reach r
           |   JOIN edges e ON e.src = r.id),
           | lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id
           |   FROM reach GROUP BY 1),
           | xc AS (SELECT DISTINCT n."doc_id" AS nid, e."doc_id" AS eid
           |   FROM nbk n JOIN ebk e ON n.b = e.b AND n.bucket = e.bucket),
           | ver AS (SELECT nid, eid FROM xc
           |   JOIN nst ON nst."doc_id" = xc.nid
           |   JOIN est ON est."doc_id" = xc.eid
           |   WHERE ${jac("nst.s", "est.s")} >= 0.2e0),
           | asg AS (SELECT nid, min(l.cluster_id) AS cl, count(*) AS nm
           |   FROM ver JOIN lab l ON l.doc_id = ver.eid GROUP BY 1)
           | SELECT d."doc_id",
           |   coalesce(a.cl, CAST(d."doc_id" AS BIGINT)) AS "cluster_id",
           |   coalesce(a.nm, CAST(0 AS BIGINT)) AS "n_matches"
           | FROM documents d LEFT JOIN asg a ON a.nid = d."doc_id"
           | WHERE d."doc_id" % 7 = 0 ORDER BY d."doc_id"""".stripMargin
          .replace("\n", " ")
      }),
    // Rebuild-drift audit — the "rebuild now?" trigger the
    // daily-assign/weekly-rebuild trade needs: the incremental labeling
    // (existing labels + q_dedup_assign's assignment, all served from
    // the persisted artifacts) vs a full re-cluster of the same corpus,
    // compared as PARTITIONS (both re-canonicalised to min-member-id).
    // Reports the share of docs whose cluster would change and how many
    // cluster-merge events the rebuild would perform. Oracle: the same
    // two recursive-CTE CC chains + assignment chain, aggregated with
    // scalar subqueries.
    Q("q_dedup_rebuild_drift", (s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val newDocs = docs.filter(col("doc_id") % 7 === 0)
      val existing = docs.filter(col("doc_id") % 7 =!= 0)
      val fp = Some(Dedup.corpusFingerprint(existing))
      val labels = Dedup.persistedLabels(existing,
        key = s"$dir/documents#existing", threshold = 0.2, k = 16,
        rowsPerBand = 2, fp = fp)
      val serve = Dedup.persistedServeIndex(existing, labels,
        key = s"$dir/documents#existing", k = 16, rowsPerBand = 2, fp = fp)
      val inc = labels.select(col("doc_id"), col("cluster_id"))
        .union(Dedup.assignServe(newDocs, serve, threshold = 0.2,
          k = 16, rowsPerBand = 2).select(col("doc_id"), col("cluster_id")))
      val full = Dedup.persistedLabels(docs, key = s"$dir/documents",
        threshold = 0.2, k = 16, rowsPerBand = 2)
      Dedup.rebuildDrift(inc, full)
    },
      Some {
        val eChain = minhashChainSql("e", "\"doc_id\" % 7 <> 0", 16, 2)
        val nChain = minhashChainSql("n", "\"doc_id\" % 7 = 0", 16, 2)
        val fChain = minhashChainSql("f", "TRUE", 16, 2)
        def jac(x: String, y: String) =
          s"(CAST(len(list_intersect($x, $y)) AS DOUBLE) / " +
            s"CAST(len(list_distinct(list_concat($x, $y))) AS DOUBLE))"
        s"""WITH RECURSIVE $eChain, $nChain, $fChain,
           | est AS (SELECT "doc_id", list_distinct(hs) AS s FROM esh),
           | nst AS (SELECT "doc_id", list_distinct(hs) AS s FROM nsh),
           | fss AS (SELECT "doc_id", list_distinct(hs) AS s FROM fsh),
           | ecand AS (SELECT DISTINCT a."doc_id" AS doc_a, c."doc_id" AS doc_b
           |   FROM ebk a JOIN ebk c ON a.b = c.b AND a.bucket = c.bucket
           |   AND a."doc_id" < c."doc_id"),
           | ej AS (SELECT doc_a, doc_b FROM ecand
           |   JOIN est x ON x."doc_id" = ecand.doc_a
           |   JOIN est y ON y."doc_id" = ecand.doc_b
           |   WHERE ${jac("x.s", "y.s")} >= 0.2e0),
           | eedges AS (SELECT doc_a AS src, doc_b AS dst FROM ej
           |   UNION ALL SELECT doc_b, doc_a FROM ej),
           | ereach AS (SELECT "doc_id" AS id, CAST("doc_id" AS BIGINT) AS lbl
           |   FROM documents WHERE "doc_id" % 7 <> 0
           |   UNION SELECT e.dst AS id, r.lbl FROM ereach r
           |   JOIN eedges e ON e.src = r.id),
           | elab AS (SELECT id AS doc_id, min(lbl) AS cluster_id
           |   FROM ereach GROUP BY 1),
           | xc AS (SELECT DISTINCT n."doc_id" AS nid, e."doc_id" AS eid
           |   FROM nbk n JOIN ebk e ON n.b = e.b AND n.bucket = e.bucket),
           | ver AS (SELECT nid, eid FROM xc
           |   JOIN nst ON nst."doc_id" = xc.nid
           |   JOIN est ON est."doc_id" = xc.eid
           |   WHERE ${jac("nst.s", "est.s")} >= 0.2e0),
           | asg AS (SELECT nid, min(l.cluster_id) AS cl
           |   FROM ver JOIN elab l ON l.doc_id = ver.eid GROUP BY 1),
           | incr AS (SELECT doc_id, cluster_id FROM elab
           |   UNION ALL
           |   SELECT d."doc_id" AS doc_id,
           |     coalesce(a.cl, CAST(d."doc_id" AS BIGINT)) AS cluster_id
           |   FROM documents d LEFT JOIN asg a ON a.nid = d."doc_id"
           |   WHERE d."doc_id" % 7 = 0),
           | fcand AS (SELECT DISTINCT a."doc_id" AS doc_a, c."doc_id" AS doc_b
           |   FROM fbk a JOIN fbk c ON a.b = c.b AND a.bucket = c.bucket
           |   AND a."doc_id" < c."doc_id"),
           | fj AS (SELECT doc_a, doc_b FROM fcand
           |   JOIN fss x ON x."doc_id" = fcand.doc_a
           |   JOIN fss y ON y."doc_id" = fcand.doc_b
           |   WHERE ${jac("x.s", "y.s")} >= 0.2e0),
           | fedges AS (SELECT doc_a AS src, doc_b AS dst FROM fj
           |   UNION ALL SELECT doc_b, doc_a FROM fj),
           | freach AS (SELECT "doc_id" AS id, CAST("doc_id" AS BIGINT) AS lbl
           |   FROM documents
           |   UNION SELECT e.dst AS id, r.lbl FROM freach r
           |   JOIN fedges e ON e.src = r.id),
           | flab AS (SELECT id AS doc_id, min(lbl) AS cluster_id
           |   FROM freach GROUP BY 1),
           | icanon AS (SELECT cluster_id, min(CAST(doc_id AS BIGINT)) AS c
           |   FROM incr GROUP BY 1),
           | i2 AS (SELECT incr.doc_id, icanon.c AS c_inc
           |   FROM incr JOIN icanon USING (cluster_id)),
           | fcanon AS (SELECT cluster_id, min(CAST(doc_id AS BIGINT)) AS c
           |   FROM flab GROUP BY 1),
           | f2 AS (SELECT flab.doc_id, fcanon.c AS c_full
           |   FROM flab JOIN fcanon USING (cluster_id)),
           | jj AS (SELECT i2.doc_id, c_inc, c_full
           |   FROM i2 JOIN f2 ON f2.doc_id = i2.doc_id),
           | pp AS (SELECT DISTINCT c_full, c_inc FROM jj)
           | SELECT
           |   (SELECT count(*) FROM jj) AS "n_docs",
           |   (SELECT CAST(sum(CASE WHEN c_inc <> c_full THEN 1 ELSE 0 END)
           |     AS BIGINT) FROM jj) AS "n_changed",
           |   round(CAST((SELECT sum(CASE WHEN c_inc <> c_full THEN 1 ELSE 0 END)
           |     FROM jj) AS DOUBLE)
           |     / CAST((SELECT count(*) FROM jj) AS DOUBLE), 6)
           |     AS "changed_share",
           |   (SELECT count(DISTINCT c_inc) FROM jj) AS "n_clusters_inc",
           |   (SELECT count(DISTINCT c_full) FROM jj) AS "n_clusters_full",
           |   (SELECT count(*) FROM pp)
           |     - (SELECT count(DISTINCT c_full) FROM jj) AS "n_merges"""".stripMargin
          .replace("\n", " ")
      }),
    // Embedding-cosine near-dup: thresholded unordered pair set over the
    // embeddings table (the LSH-bucketed form is the 100 TB path).
    Q("q_dedup_embedding_cosine",
      (s, dir) => Similarity.cosineNearDupPairs(
          Tables.read(s, dir, "embeddings"), threshold = 0.35)
        .orderBy("id_a", "id_b"),
      Some("""WITH e AS (SELECT "vec_id", CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | p AS (SELECT a."vec_id" AS id_a, b."vec_id" AS id_b,
             |   round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
             |   FROM n a JOIN n b ON a."vec_id" < b."vec_id")
             | SELECT id_a AS "id_a", id_b AS "id_b", sim AS "sim" FROM p
             | WHERE sim >= 0.35e0 ORDER BY "id_a", "id_b"""".stripMargin
        .replace("\n", " "))),
    // ---- similarity search ----------------------------------------------
    Q("q_knn_cosine_topk",
      (s, dir) => Similarity.bruteForceTopK(Tables.read(s, dir, "embeddings"), 5)
        .orderBy("qid", "nid"),
      Some("""WITH e AS (SELECT "vec_id", CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | p AS (SELECT a."vec_id" AS qid, b."vec_id" AS nid,
             |   round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
             |   FROM n a JOIN n b ON a."vec_id" <> b."vec_id"),
             | r AS (SELECT qid, nid, sim,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM p)
             | SELECT qid AS "qid", nid AS "nid", sim AS "sim" FROM r WHERE rk <= 5
             | ORDER BY qid, nid""".stripMargin.replace("\n", " "))),
    Q("q_knn_lsh", (s, dir) =>
      Similarity.lshTopK(Tables.read(s, dir, "embeddings", parallelismFloor = false), 5).orderBy("qid", "nid"),
      Some("""WITH e AS (SELECT "vec_id", CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | b AS (SELECT "vec_id", v, nrm, BUCKET AS bucket FROM n),
             | p AS (SELECT a."vec_id" AS qid, b2."vec_id" AS nid,
             |   round(list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm), 6) AS sim
             |   FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a."vec_id" <> b2."vec_id"),
             | r AS (SELECT qid, nid, sim,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM p)
             | SELECT qid AS "qid", nid AS "nid", sim AS "sim" FROM r WHERE rk <= 5
             | ORDER BY qid, nid""".stripMargin.replace("\n", " ")
        .replace("BUCKET", lshBucketSql(8, 42L, 64)))),
    // IVF inverted-file ANN: data-adaptive cells (vs lshTopK's random
    // hyperplanes); probes its 2 nearest cells per query. Centroid
    // sampling, cell assignment and ranking are all dual-compilable, so
    // the whole pipeline is hash-checked.
    Q("q_knn_ivf", (s, dir) =>
      Similarity.ivfTopK(Tables.read(s, dir, "embeddings", parallelismFloor = false), 5)
        .orderBy("qid", "nid"),
      Some("""WITH e AS (SELECT "vec_id", CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | cent AS (SELECT "vec_id" AS cid, v AS cv, nrm AS cn FROM n
             |   ORDER BY CENTHASH, "vec_id" LIMIT 16),
             | sc AS (SELECT n."vec_id" AS vid, n.v, n.nrm, c.cid,
             |   round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS csim
             |   FROM n CROSS JOIN cent c),
             | rk AS (SELECT vid, v, nrm, cid,
             |   row_number() OVER (PARTITION BY vid ORDER BY csim DESC, cid) AS crk FROM sc),
             | home AS (SELECT cid AS cell, vid AS nid, v AS vb, nrm AS nb FROM rk WHERE crk = 1),
             | pr AS (SELECT cid AS cell, vid AS qid, v AS va, nrm AS na FROM rk WHERE crk <= 2),
             | p AS (SELECT qid, nid, round(list_dot_product(va, vb) / (na * nb), 6) AS sim
             |   FROM pr JOIN home USING (cell) WHERE qid <> nid),
             | r AS (SELECT qid, nid, sim,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk2 FROM p)
             | SELECT qid AS "qid", nid AS "nid", sim AS "sim" FROM r WHERE rk2 <= 5
             | ORDER BY "qid", "nid"""".stripMargin.replace("\n", " ")
        .replace("CENTHASH",
          DualHash.base60Sql("concat(CAST(\"vec_id\" AS VARCHAR), ':42')")))),
    // Hard-negative mining for contrastive training: per anchor, top-3
    // neighbours with cosine in the [0.3, 0.9) "hard" band — close enough
    // to teach the margin, below the near-dup zone that would make them
    // FALSE negatives. Same IVF probed-cell candidate topology (and the
    // same oracle CTEs) as q_knn_ivf with a band filter before the rank.
    Q("q_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(Tables.read(s, dir, "embeddings", parallelismFloor = false), k = 3,
          lo = 0.3, hi = 0.9)
        .orderBy("qid", "nid"),
      Some("""WITH e AS (SELECT "vec_id", CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | cent AS (SELECT "vec_id" AS cid, v AS cv, nrm AS cn FROM n
             |   ORDER BY CENTHASH, "vec_id" LIMIT 16),
             | sc AS (SELECT n."vec_id" AS vid, n.v, n.nrm, c.cid,
             |   round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS csim
             |   FROM n CROSS JOIN cent c),
             | rk AS (SELECT vid, v, nrm, cid,
             |   row_number() OVER (PARTITION BY vid ORDER BY csim DESC, cid) AS crk FROM sc),
             | home AS (SELECT cid AS cell, vid AS nid, v AS vb, nrm AS nb FROM rk WHERE crk = 1),
             | pr AS (SELECT cid AS cell, vid AS qid, v AS va, nrm AS na FROM rk WHERE crk <= 2),
             | p AS (SELECT qid, nid, round(list_dot_product(va, vb) / (na * nb), 6) AS sim
             |   FROM pr JOIN home USING (cell) WHERE qid <> nid),
             | b AS (SELECT qid, nid, sim FROM p
             |   WHERE sim >= 0.3e0 AND sim < 0.9e0),
             | r AS (SELECT qid, nid, sim,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk2 FROM b)
             | SELECT qid AS "qid", nid AS "nid", sim AS "sim" FROM r WHERE rk2 <= 3
             | ORDER BY "qid", "nid"""".stripMargin.replace("\n", " ")
        .replace("CENTHASH",
          DualHash.base60Sql("concat(CAST(\"vec_id\" AS VARCHAR), ':42')")))),
    // Scalar int8 quantization: max-abs symmetric codes + per-vector
    // reconstruction error — the 1-byte/dim storage tier of the embedding
    // stack (PQ below covers the sub-byte tier). Codes AND qerr
    // hash-match (floor(x+0.5) rounding, dot-kernel summation); pure
    // per-row projection. Codes are rendered as a comma-joined string so
    // the driver's comparer can sort/hash the column (raw array<int>
    // cells are unhashable in its pandas sort).
    Q("q_embed_quantize", (s, dir) =>
      graft.ext.Quantize.int8(embRanged(s, dir))
        .select(col("vec_id"),
          org.apache.spark.sql.functions.round(col("scale"), 6).as("scale"),
          concat_ws(",", transform(col("codes"), _.cast("string")))
            .as("codes"),
          org.apache.spark.sql.functions.round(col("qerr"), 6).as("qerr"))
        .orderBy("vec_id"),
      Some(graft.ext.Quantize.int8OracleSql())),
    // The quantization tier COMPOSED into search — the operator's whole
    // purpose: the corpus is dequantized from its int8 codes
    // (code·scale/127) and the unchanged IVF topology (same centroid
    // sample, cells, probes as q_knn_ivf) searches the recon vectors.
    // Every similarity hash-matches (the recon doubles are identical
    // IEEE arithmetic in both engines); recall-vs-f32-brute is gated in
    // SemDedupPackSpec's ANN family law.
    Q("q_knn_int8", (s, dir) =>
      Similarity.ivfTopK(
        graft.ext.Quantize.reconEmbeddings(Tables.read(s, dir, "embeddings", parallelismFloor = false)), 5)
        .orderBy("qid", "nid"),
      Some(("WITH " + graft.ext.Quantize.reconOracleCte +
        """, n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | cent AS (SELECT "vec_id" AS cid, v AS cv, nrm AS cn FROM n
             |   ORDER BY CENTHASH, "vec_id" LIMIT 16),
             | sc AS (SELECT n."vec_id" AS vid, n.v, n.nrm, c.cid,
             |   round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS csim
             |   FROM n CROSS JOIN cent c),
             | rk AS (SELECT vid, v, nrm, cid,
             |   row_number() OVER (PARTITION BY vid ORDER BY csim DESC, cid) AS crk FROM sc),
             | home AS (SELECT cid AS cell, vid AS nid, v AS vb, nrm AS nb FROM rk WHERE crk = 1),
             | pr AS (SELECT cid AS cell, vid AS qid, v AS va, nrm AS na FROM rk WHERE crk <= 2),
             | p AS (SELECT qid, nid, round(list_dot_product(va, vb) / (na * nb), 6) AS sim
             |   FROM pr JOIN home USING (cell) WHERE qid <> nid),
             | r AS (SELECT qid, nid, sim,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk2 FROM p)
             | SELECT qid AS "qid", nid AS "nid", sim AS "sim" FROM r WHERE rk2 <= 5
             | ORDER BY "qid", "nid"""".stripMargin.replace("\n", " "))
        .replace("CENTHASH",
          DualHash.base60Sql("concat(CAST(\"vec_id\" AS VARCHAR), ':42')")))),
    // The residual-tier DECISION the reconstruction error exists to
    // drive: per label, how many vectors exceed the qerr budget (would
    // keep f32 residuals alongside their int8 codes) and what that
    // residual storage costs (dim × 4 bytes each). Threshold compares
    // the RAW qerr double — identical IEEE arithmetic in both engines,
    // same convention as every raw-threshold filter on the board. One
    // per-row projection + one label-scale aggregation.
    Q("q_quant_residuals", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val emb = Tables.read(s, dir, "embeddings", parallelismFloor = false)
      graft.ext.Quantize.int8(emb)
        .join(emb.select(col("vec_id"),
          col("label").cast("long").as("label")), "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(F.when(col("qerr") > lit(4.0e-5), 1L).otherwise(0L))
            .as("n_residual"))
        .select(col("label"), col("n"), col("n_residual"),
          F.round(col("n_residual").cast("double") / col("n").cast("double"),
            6).as("residual_share"),
          (col("n_residual") * lit(256L)).as("residual_bytes"))
        .orderBy("label")
    },
      Some("""WITH e AS (SELECT "vec_id", CAST("label" AS BIGINT) AS label,
             |   CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | s AS (SELECT "vec_id", label, v,
             |   list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
             | c AS (SELECT "vec_id", label, v, scale,
             |   CASE WHEN scale = 0.0e0
             |     THEN list_transform(v, x -> 0)
             |     ELSE list_transform(v,
             |       x -> CAST(floor(x * 127.0e0 / scale + 0.5e0) AS INTEGER))
             |   END AS codes FROM s),
             | r AS (SELECT label,
             |   list_transform(v, (x, i) ->
             |     x - CAST(codes[i] AS DOUBLE) * scale / 127.0e0) AS d
             |   FROM c),
             | q AS (SELECT label, list_dot_product(d, d) AS qerr FROM r)
             | SELECT label AS "label", count(*) AS "n",
             |   CAST(sum(CASE WHEN qerr > 4.0e-5 THEN 1 ELSE 0 END) AS BIGINT)
             |     AS "n_residual",
             |   round(CAST(sum(CASE WHEN qerr > 4.0e-5 THEN 1 ELSE 0 END) AS DOUBLE)
             |     / CAST(count(*) AS DOUBLE), 6) AS "residual_share",
             |   CAST(sum(CASE WHEN qerr > 4.0e-5 THEN 1 ELSE 0 END) * 256 AS BIGINT)
             |     AS "residual_bytes"
             | FROM q GROUP BY 1 ORDER BY "label"""".stripMargin
        .replace("\n", " "))),
    // The residual tier CONSUMED by search — q_quant_residuals' decision
    // finally pays off: int8 IVF shortlist (top-10 per query over the
    // dequantized corpus, the q_knn_int8 topology), then an f32 re-rank
    // over the TIERED vectors (exact where qerr > budget keeps a stored
    // residual, recon otherwise), top-5 out. Every similarity
    // hash-matches; the recall >= plain-int8 law is in SemDedupPackSpec.
    Q("q_knn_residual", (s, dir) =>
      graft.ext.Quantize.residualRefinedTopK(
        Tables.read(s, dir, "embeddings", parallelismFloor = false), k = 5, shortlist = 10,
        qerrBudget = 4.0e-5)
        .orderBy("qid", "nid"),
      Some(("WITH " + graft.ext.Quantize.reconOracleCte +
        """, n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | cent AS (SELECT "vec_id" AS cid, v AS cv, nrm AS cn FROM n
             |   ORDER BY CENTHASH, "vec_id" LIMIT 16),
             | sc AS (SELECT n."vec_id" AS vid, n.v, n.nrm, c.cid,
             |   round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS csim
             |   FROM n CROSS JOIN cent c),
             | rk AS (SELECT vid, v, nrm, cid,
             |   row_number() OVER (PARTITION BY vid ORDER BY csim DESC, cid) AS crk FROM sc),
             | home AS (SELECT cid AS cell, vid AS nid, v AS vb, nrm AS nb FROM rk WHERE crk = 1),
             | pr AS (SELECT cid AS cell, vid AS qid, v AS va, nrm AS na FROM rk WHERE crk <= 2),
             | p AS (SELECT qid, nid, round(list_dot_product(va, vb) / (na * nb), 6) AS sim
             |   FROM pr JOIN home USING (cell) WHERE qid <> nid),
             | r AS (SELECT qid, nid, sim,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk2 FROM p),
             | short AS (SELECT qid, nid FROM r WHERE rk2 <= 10),
             | rd AS (SELECT c0."vec_id",
             |   list_transform(e0.v0, (x, i) ->
             |     x - CAST(c0.codes[i] AS DOUBLE) * c0.scale / 127.0e0) AS d
             |   FROM c0 JOIN e0 ON e0."vec_id" = c0."vec_id"),
             | fl AS (SELECT "vec_id",
             |   (list_dot_product(d, d) > 4.0e-5) AS flagged FROM rd),
             | tr AS (SELECT e0."vec_id",
             |   CASE WHEN fl.flagged THEN e0.v0 ELSE e.v END AS tv
             |   FROM e0 JOIN e ON e."vec_id" = e0."vec_id"
             |   JOIN fl ON fl."vec_id" = e0."vec_id"),
             | tn AS (SELECT "vec_id", tv,
             |   sqrt(list_dot_product(tv, tv)) AS tnrm FROM tr),
             | ref AS (SELECT s.qid, s.nid,
             |   round(list_dot_product(a.tv, b.tv) / (a.tnrm * b.tnrm), 6) AS sim
             |   FROM short s JOIN tn a ON a."vec_id" = s.qid
             |   JOIN tn b ON b."vec_id" = s.nid),
             | rr AS (SELECT qid, nid, sim,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk3 FROM ref)
             | SELECT qid AS "qid", nid AS "nid", sim AS "sim" FROM rr WHERE rk3 <= 5
             | ORDER BY "qid", "nid"""".stripMargin.replace("\n", " "))
        .replace("CENTHASH",
          DualHash.base60Sql("concat(CAST(\"vec_id\" AS VARCHAR), ':42')")))),
    // ---- product quantization (IVF-PQ's compression half) ---------------
    // PQ codes: 2 subspaces x 4 centroids trained with the deterministic
    // dyadic k-means on sliced vectors — 64 float64 dims (512 B) become 2
    // codes, the compression that keeps a 100 TB embedding store scannable.
    // Codes AND the total reconstruction error hash-match the oracle's two
    // unrolled per-subspace fits.
    Q("q_pq_codes", (s, dir) => {
      val emb = Tables.read(s, dir, "embeddings", parallelismFloor = false)
      val cb = graft.ext.Pq.train(emb, m = 2, k = 4, iters = 2, dim = 64)
      graft.ext.Pq.encode(embRanged(s, dir), cb)
        .select(col("vec_id"), col("code_0"), col("code_1"),
          org.apache.spark.sql.functions.round(col("qerr"), 6).as("qerr"))
        .orderBy("vec_id")
    }, Some(graft.ext.Pq.codesOracleSql(m = 2, k = 4, iters = 2, dim = 64))),
    // ADC top-k: the LSH-bucket candidate topology of q_knn_lsh, ranked by
    // the ASYMMETRIC PQ distance — exact query subvectors vs the
    // neighbor's reconstructed centroids, neighbor side carrying only its
    // codes. Every distance hash-matches (not just a recall bound);
    // recall-vs-exact is gated in SemDedupPackSpec's ANN family law.
    Q("q_knn_pq", (s, dir) => {
      val emb = Tables.read(s, dir, "embeddings", parallelismFloor = false)
      val cb = graft.ext.Pq.train(emb, m = 2, k = 4, iters = 2, dim = 64)
      graft.ext.Pq.adcTopK(emb, cb, k = 5).orderBy("qid", "nid")
    }, Some(graft.ext.Pq.adcOracleSql(m = 2, k = 4, iters = 2, dim = 64,
      topK = 5, bucketSql = lshBucketSql(8, 42L, 64)))),
    // Composed IVF-PQ (Jégou 2011 §IV, the production ANN shape): coarse
    // k-means cells + residual-PQ codes, nprobe nearest cells per query,
    // ADC over query residuals vs reconstructed candidate residuals. All
    // dyadic-exact, so cells, codes AND distances hash-match the oracle's
    // stage-for-stage rendering; recall-vs-brute is gated in
    // SemDedupPackSpec's ANN family law. 64 cells keep the candidate set
    // at ~N/32 per query (the IVF contract — coarseK must grow with the
    // corpus; 4 cells measured 62 s warm at sf0.1 from the ~N/2 pair
    // blowup, 64 cells ~2 s). The oracle's size is coarseK-independent
    // (centroids are CTE rows, not unrolled SQL).
    // Build-once/search-many: the first execution in a JVM trains the
    // index and persists it (Pq.persistedIndex — coarse cells, residual
    // codebooks, codes table as parquet); every later execution loads the
    // artifact and pays ONLY the cell-keyed search join. At 100 TB the
    // index is built by one job and served by thousands of queries —
    // retraining per query (the pre-r12 form, ivfPqTopK) was the one
    // scale-shape defect on the board. Results are bit-identical either
    // way (parquet doubles round-trip exactly; PqSpec pins the
    // write→read→search round trip), so the oracle is unchanged.
    Q("q_knn_ivfpq", (s, dir) => {
      val emb = Tables.read(s, dir, "embeddings", parallelismFloor = false)
      val idx = graft.ext.Pq.persistedIndex(emb, key = s"$dir/embeddings",
        coarseK = 64, coarseIters = 2, m = 2, pqK = 4, pqIters = 2, dim = 64)
      graft.ext.Pq.searchIndex(emb, idx, nprobe = 2, topK = 5)
        .orderBy("qid", "nid")
    },
      Some(graft.ext.Pq.ivfPqOracleSql(coarseK = 64, coarseIters = 2,
        m = 2, pqK = 4, pqIters = 2, dim = 64, nprobe = 2, topK = 5))),
    // PassJoin edit-distance self-join (Li 2012): all pairs within
    // Levenshtein tau via the segment-pigeonhole equi-join — the typo/OCR
    // near-dup detector the shingle family can't express. Candidates are
    // banded (never all-pairs), verification is the banded
    // levenshtein(threshold) DP; the oracle mirrors every stage with
    // DuckDB's identical classic-DP levenshtein. The corpus plants
    // near-dup pairs at distance 4, so tau=6 yields a real decision set.
    Q("q_editdist_join", (s, dir) =>
      graft.ext.EditDistJoin.selfJoin(
          Tables.read(s, dir, "documents").select(col("doc_id"), col("text")),
          tau = 6)
        .orderBy("doc_a", "doc_b"),
      Some("SELECT * FROM (" +
        graft.ext.EditDistJoin.selfJoinOracleSql("documents", tau = 6) +
        ") ORDER BY \"doc_a\", \"doc_b\"")),
    // SimHash banded near-dup pairs: full recall for hamming <= bands-1 by
    // pigeonhole; exact bit_count(xor) check on candidates only.
    Q("q_dedup_simhash_pairs", (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.read(s, dir, "documents")
          .select(col("doc_id"), col("text")), maxHamming = 3)
        .orderBy("doc_a", "doc_b"),
      Some(s"WITH $simhashCtes, " +
        "bd AS (SELECT \"doc_id\", sig, b, ((sig >> (b * 16)) & 65535) AS val " +
        "FROM s2 CROSS JOIN range(0, 4) t(b)), " +
        "p AS (SELECT DISTINCT a.\"doc_id\" AS doc_a, c.\"doc_id\" AS doc_b, " +
        "CAST(bit_count(xor(a.sig, c.sig)) AS BIGINT) AS hamming " +
        "FROM bd a JOIN bd c ON a.b = c.b AND a.val = c.val AND a.\"doc_id\" < c.\"doc_id\") " +
        "SELECT doc_a AS \"doc_a\", doc_b AS \"doc_b\", hamming AS \"hamming\" " +
        "FROM p WHERE hamming <= 3 ORDER BY 1, 2")),
    // LSH-bucketed near-dup decision set: the production-scale form of
    // q_dedup_embedding_cosine (pairs are a subset of its exact output).
    Q("q_dedup_embedding_lsh",
      (s, dir) => Similarity.lshNearDupPairs(
          Tables.read(s, dir, "embeddings"), threshold = 0.35)
        .orderBy("id_a", "id_b"),
      Some("""WITH e AS (SELECT "vec_id", CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | b AS (SELECT "vec_id", v, nrm, BUCKET AS bucket FROM n),
             | p AS (SELECT a."vec_id" AS id_a, b2."vec_id" AS id_b,
             |   round(list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm), 6) AS sim
             |   FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a."vec_id" < b2."vec_id")
             | SELECT id_a AS "id_a", id_b AS "id_b", sim AS "sim" FROM p
             | WHERE sim >= 0.35e0 ORDER BY "id_a", "id_b"""".stripMargin
        .replace("\n", " ").replace("BUCKET", lshBucketSql(8, 42L, 64)))),
    // ---- event-stream batch equivalents ---------------------------------
    Q("q_events_hourly",
      (s, dir) => Tables.eventsWithMs(s, dir, parallelismFloor = false)
        .groupBy(expr("ms div 3600000").as("hour_bucket"), col("event_type"))
        .agg(count("*").as("n"), min("value").as("min_value"),
          max("value").as("max_value"))
        .orderBy("hour_bucket", "event_type"),
      Some("""SELECT CAST(epoch_ms("ts") // 3600000 AS BIGINT) AS "hour_bucket",
             | "event_type", count(*) AS "n", min("value") AS "min_value",
             | max("value") AS "max_value"
             | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
        .replace("\n", " "))),
    Q("q_events_sessionize",
      (s, dir) => {
        val ems = Tables.eventsWithMs(s, dir, parallelismFloor = false)
          .select(col("user_id"), col("event_id"), col("ms"))
        val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
        ems.withColumn("new_session",
            org.apache.spark.sql.functions.when(col("ms") - lag("ms", 1).over(w) > lit(1800000L), 1L)
              .otherwise(lit(0L)))
          .groupBy("user_id")
          .agg((sum("new_session") + lit(1L)).as("n_sessions"),
            count("*").as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH t AS (SELECT "user_id", "event_id", epoch_ms("ts") AS ms FROM events),
             | s AS (SELECT "user_id", CASE WHEN ms - lag(ms) OVER
             |   (PARTITION BY "user_id" ORDER BY ms, "event_id") > 1800000
             |   THEN 1 ELSE 0 END AS new_session FROM t)
             | SELECT "user_id", CAST(sum(new_session) + 1 AS BIGINT) AS "n_sessions",
             |   count(*) AS "n_events"
             | FROM s GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),
    // ---- scan/agg efficiency showcase -----------------------------------
    Q("q_agg_lineitem",
      (s, dir) => Tables.read(s, dir, "lineitem", parallelismFloor = false)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count("*").as("n"),
          countDistinct("l_partkey").as("n_parts"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT "l_returnflag", "l_linestatus", sum("l_quantity") AS "sum_qty",
             | count(*) AS "n", count(DISTINCT "l_partkey") AS "n_parts"
             | FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
        .replace("\n", " "))),
    // ---- star-schema dimension rollup: the canonical at-scale join shape —
    // fact scan joined through three broadcast-sized dimensions (supplier ->
    // nation -> region), partial aggregation before the final shuffle.
    Q("q_region_rollup",
      (s, dir) => {
        import org.apache.spark.sql.functions.broadcast
        val li = Tables.read(s, dir, "lineitem", parallelismFloor = false)
          .select(col("l_suppkey"), col("l_quantity"))
        val sup = broadcast(Tables.read(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")))
        val nat = broadcast(Tables.read(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey")))
        val reg = broadcast(Tables.read(s, dir, "region")
          .select(col("r_regionkey"), col("r_name")))
        li.join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .join(reg, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("double")).as("sum_qty"))
          .orderBy("r_name")
      },
      Some("""SELECT "r_name", count(*) AS "n_items",
             | sum(CAST("l_quantity" AS DOUBLE)) AS "sum_qty"
             | FROM lineitem
             | JOIN supplier ON "l_suppkey" = "s_suppkey"
             | JOIN nation ON "s_nationkey" = "n_nationkey"
             | JOIN region ON "n_regionkey" = "r_regionkey"
             | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),
    // ---- training-data pipeline stages -----------------------------------
    // Benchmark decontamination: docs sharing any 3-shingle with the eval
    // subset (doc_id % 50 = 0 stands in for a benchmark table) are flagged.
    // Spark side broadcasts the eval shingle-hash set so the corpus scan
    // never shuffles; oracle recomputes the same overlap in DuckDB.
    // Contamination SPANS — decontamination's surgical half: each maximal
    // token interval overlapping eval-set 3-grams, so a cleaner excises
    // spans instead of dropping documents. Eval hashes ride a broadcast
    // JOIN (no driver collect); same doc-bounded island window as
    // q_dup_span_coverage.
    Q("q_contamination_spans", (s, dir) =>
      graft.ext.SpanDedup.contaminationSpans(
          Tables.read(s, dir, "documents"), col("doc_id") % 50 === 0, k = 3)
        .orderBy("doc_id", "span_start"),
      Some(graft.ext.SpanDedup.contaminationSpansOracleSql("documents",
        "\"doc_id\" % 50 = 0", k = 3) +
        " ORDER BY \"doc_id\", span_start")),
    Q("q_decontaminate", (s, dir) =>
      PipelineOps.decontaminate(Tables.read(s, dir, "documents"),
          col("doc_id") % 50 === 0)
        .orderBy("doc_id"),
      Some(s"WITH $tokCte, $shCte, " +
        "ds AS (SELECT \"doc_id\", list_distinct(hs) AS hs2 FROM sh), " +
        "ev AS (SELECT DISTINCT unnest(hs2) AS h FROM ds WHERE \"doc_id\" % 50 = 0), " +
        "tr AS (SELECT \"doc_id\", unnest(hs2) AS h FROM ds WHERE \"doc_id\" % 50 <> 0), " +
        "m AS (SELECT tr.\"doc_id\", count(*) AS n_shared FROM tr JOIN ev USING (h) GROUP BY 1) " +
        "SELECT d.\"doc_id\", coalesce(m.n_shared, 0) AS \"n_shared\", " +
        "CAST(CASE WHEN coalesce(m.n_shared, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS \"contaminated\" " +
        "FROM documents d LEFT JOIN m ON d.\"doc_id\" = m.\"doc_id\" " +
        "WHERE d.\"doc_id\" % 50 <> 0 ORDER BY 1")),
    // Domain mixing: per-source keep rates with a deterministic hash draw —
    // reproducible sampling (same rows on any cluster/partitioning/rerun).
    Q("q_domain_mix", (s, dir) =>
      PipelineOps.weightedSample(docsRanged(s, dir),
          Map("src0" -> 0.9, "src1" -> 0.7, "src2" -> 0.5, "src3" -> 0.3),
          default = 0.15)
        .select(col("doc_id"), col("source"),
          org.apache.spark.sql.functions.round(
            PipelineOps.hashUniform(col("doc_id"), ":mix"), 6).as("u"))
        .orderBy("doc_id"),
      Some {
        val u = PipelineOps.hashUniformSql("\"doc_id\"", ":mix")
        s"SELECT \"doc_id\", \"source\", round($u, 6) AS \"u\" FROM documents " +
          s"WHERE $u < (CASE WHEN \"source\" = 'src0' THEN 0.9 " +
          "WHEN \"source\" = 'src1' THEN 0.7 WHEN \"source\" = 'src2' THEN 0.5 " +
          "WHEN \"source\" = 'src3' THEN 0.3 ELSE 0.15 END) ORDER BY 1"
      }),
    // Temperature rebalancing (α = 1/2): data-derived per-language rates —
    // largest language keeps baseRate, smaller ones boosted by
    // sqrt(n_max/n_g) — flattening the mixture the way multilingual
    // pretraining corpora are resampled. sqrt (correctly rounded IEEE, no
    // libm-pow ulp drift) + no cross-group float sum keeps every rate
    // bit-identical across engines; the (lang, rate) dimension broadcasts.
    Q("q_temperature_sample", (s, dir) =>
      PipelineOps.temperatureSample(Tables.read(s, dir, "documents"),
          groupCol = "lang", idCol = "doc_id", baseRate = 0.3)
        .select(col("doc_id"), col("lang"), col("sample_rate"))
        .orderBy("doc_id"),
      Some("SELECT \"doc_id\", \"lang\", sample_rate AS \"sample_rate\" FROM (" +
        PipelineOps.temperatureSampleOracleSql("documents", "lang", "doc_id",
          baseRate = 0.3) +
        ") t ORDER BY 1")),
    // Gopher-style repetition signals: top-word fraction + duplicate-bigram
    // fraction, flag = either over threshold. Array higher-order functions
    // keep the whole stage shuffle-free and codegen'd.
    Q("q_repetition_filter", (s, dir) => {
      val toks = split(col("text"), " ")
      docsRanged(s, dir).select(col("doc_id"),
          PipelineOps.topWordFrac(toks).as("top_word_frac"),
          PipelineOps.dupBigramFrac(toks).as("dup_bigram_frac"))
        .withColumn("flagged",
          org.apache.spark.sql.functions
            .when(col("top_word_frac") > 0.2 || col("dup_bigram_frac") > 0.4, 1L)
            .otherwise(0L))
        .orderBy("doc_id")
    },
      Some(s"WITH $tokCte, " +
        "bg AS (SELECT \"doc_id\", toks, list_transform(range(1, greatest(len(toks) - 1, 1) + 1), " +
        "i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS bgs FROM tok), " +
        "m AS (SELECT \"doc_id\", " +
        "round(CAST(list_max(list_transform(list_distinct(toks), t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) " +
        "/ CAST(len(toks) AS DOUBLE), 6) AS top_word_frac, " +
        "round(1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / CAST(len(bgs) AS DOUBLE), 6) AS dup_bigram_frac " +
        "FROM bg) " +
        "SELECT \"doc_id\", top_word_frac AS \"top_word_frac\", dup_bigram_frac AS \"dup_bigram_frac\", " +
        "CAST(CASE WHEN top_word_frac > 0.2 OR dup_bigram_frac > 0.4 THEN 1 ELSE 0 END AS BIGINT) AS \"flagged\" " +
        "FROM m ORDER BY 1")),
    // Corpus-wide bigram heavy hitters: explode -> partial-aggregated
    // count -> global top-k (TakeOrderedAndProject: per-partition top-k,
    // then a k-row merge on the driver — no global sort materialises).
    // Ties break on the bigram string so the result is deterministic.
    Q("q_ngram_topk", (s, dir) =>
      Tables.read(s, dir, "documents")
        .select(explode(PipelineOps.bigrams(split(col("text"), " "))).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20),
      Some(s"WITH $tokCte, " +
        "bg AS (SELECT list_transform(range(1, greatest(len(toks) - 1, 1) + 1), " +
        "i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS bgs FROM tok), " +
        "x AS (SELECT unnest(bgs) AS ngram FROM bg) " +
        "SELECT ngram AS \"ngram\", count(*) AS \"n\" FROM x " +
        "GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20")),
    // Token-budget subset: keep docs in hash-priority order until the
    // running token total hits the budget. Spark runs the two-phase
    // bucketed equivalent (global windows don't scale); the oracle runs
    // the literal global cumulative window — row-identical by construction.
    Q("q_token_budget", (s, dir) =>
      PipelineOps.tokenBudget(Tables.read(s, dir, "documents"), 6000L)
        .orderBy("doc_id"),
      Some {
        val u = PipelineOps.hashUniformSql("\"doc_id\"", ":budget")
        s"""WITH b AS (SELECT "doc_id",
           | CAST(len(string_split("text", ' ')) AS BIGINT) AS n_tokens,
           | $u AS pri FROM documents),
           | c AS (SELECT "doc_id", n_tokens, pri, sum(n_tokens) OVER
           |   (ORDER BY pri, "doc_id" ROWS UNBOUNDED PRECEDING) AS cum FROM b)
           | SELECT "doc_id", n_tokens AS "n_tokens", round(pri, 6) AS "pri"
           | FROM c WHERE cum <= 6000 ORDER BY "doc_id"""".stripMargin
          .replace("\n", " ")
      }),
    // The learned-vocabulary view of the tokenizer: corpus-wide BPE token
    // frequencies (top 20) — the "is my merges table earning its keep"
    // audit, and the end-to-end proof that both engines produce the
    // IDENTICAL token stream (not just identical counts): the oracle
    // splits the same dual-rendered merged separator string and unnests.
    // One explode + one hash aggregation; text never shuffles (tokens do,
    // pre-aggregated map-side).
    // BPE merge TRAINING (the learning half of the tokenizer stack): 8
    // merges learned from corpus word counts — ONE corpus-scale word-count
    // shuffle, then vocabulary-scale argmax rounds (pair counts weighted
    // by word frequency, (n DESC, lhs, rhs) tiebreak) with a one-row
    // driver collect per round. The oracle replays the identical rounds
    // as chained CTEs with scalar-subquery argmaxes — both engines DERIVE
    // the merges table from the data, no literal crosses.
    Q("q_bpe_train", (s, dir) =>
      graft.ext.Bpe.train(Tables.read(s, dir, "documents"), rounds = 8),
      Some(graft.ext.Bpe.trainOracleSql("documents", rounds = 8))),
    Q("q_bpe_vocab", (s, dir) =>
      Tables.read(s, dir, "documents")
        .select(explode(graft.ext.Bpe.tokens(col("text"))).as("tok"))
        .where(col("tok") =!= " ")
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(20),
      Some {
        val toks = graft.ext.Bpe.tokensSql("\"text\"")
        s"""WITH t AS (SELECT unnest($toks) AS tok FROM documents)
           | SELECT tok AS "tok", count(*) AS "n" FROM t
           | GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin
          .replace("\n", " ")
      }),
    // The same budget denominated in REAL BPE tokens (Bpe.tokenCount):
    // the production form of q_token_budget — the selection machinery is
    // identical two-phase bucketed cumsum, only the per-row token
    // accounting changes, and the oracle swaps in the identical
    // dual-rendered BPE expression.
    Q("q_bpe_token_budget", (s, dir) =>
      PipelineOps.tokenBudget(Tables.read(s, dir, "documents"), 6000L,
          salt = ":bpebudget",
          nTokens = graft.ext.Bpe.tokenCount(col("text")))
        .orderBy("doc_id"),
      Some {
        val u = PipelineOps.hashUniformSql("\"doc_id\"", ":bpebudget")
        val n = graft.ext.Bpe.tokenCountSql("\"text\"")
        s"""WITH b AS (SELECT "doc_id",
           | CAST($n AS BIGINT) AS n_tokens,
           | $u AS pri FROM documents),
           | c AS (SELECT "doc_id", n_tokens, pri, sum(n_tokens) OVER
           |   (ORDER BY pri, "doc_id" ROWS UNBOUNDED PRECEDING) AS cum FROM b)
           | SELECT "doc_id", n_tokens AS "n_tokens", round(pri, 6) AS "pri"
           | FROM c WHERE cum <= 6000 ORDER BY "doc_id"""".stripMargin
          .replace("\n", " ")
      }),
    // End-to-end corpus clean: quality gate -> language filter -> exact
    // dedup (keep smallest doc_id per fingerprint). The one shuffle is the
    // dedup window on fp — hash-partitioned, carries (id, fp, 2 doubles),
    // never text.
    Q("q_pipeline_clean", (s, dir) => {
      // Shared keeps the filter above the projection: pushed through it,
      // Catalyst would substitute the full quality/lang expression trees
      // into the filter condition, whose generated method exceeds
      // Janino's 64 KB limit and drops the stage to interpreted eval
      val base = Shared(
        Pipeline.applySpark(Tables.read(s, dir, "documents"), cleanStages))
      val w = Window.partitionBy("fp").orderBy("doc_id")
      base.filter(col("quality") >= 0.2 && col("lang_pred") === "en")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("n_tokens"),
          org.apache.spark.sql.functions.round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    }, Some {
      val inner = Pipeline.toSql("documents", cleanStages, Seq.empty)
      s"""WITH b AS ($inner),
         | f AS (SELECT * FROM b WHERE "quality" >= 0.2e0 AND "lang_pred" = 'en'),
         | r AS (SELECT "doc_id", "n_tokens", round("quality", 6) AS "quality",
         |   row_number() OVER (PARTITION BY "fp" ORDER BY "doc_id") AS rn FROM f)
         | SELECT "doc_id", "n_tokens", "quality" FROM r WHERE rn = 1
         | ORDER BY "doc_id"""".stripMargin.replace("\n", " ")
    }),
    // ---- corpus ingest/egress (CorpusIO) --------------------------------
    // JSONL round-trip: documents -> JSONL sink -> explicit-schema source
    // -> per-doc token count + md5 fingerprint. The oracle computes the
    // same projection on the ORIGINAL parquet, so the hash-match proves
    // the JSONL escaping round-trips every byte of text (quotes, unicode,
    // control chars) — a corrupted or normalised round-trip flips fp.
    Q("q_jsonl_roundtrip", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val path = corpusTmp("jsonl", dir)
      CorpusIO.writeJsonl(
        Tables.read(s, dir, "documents").select(col("doc_id"), col("text")),
        path)
      val schema = new StructType().add("doc_id", LongType).add("text", StringType)
      Pipeline.applySpark(CorpusIO.readJsonl(s, path, schema), jsonlStages)
        .orderBy("doc_id")
    }, Some(Pipeline.toSql("documents", jsonlStages, Seq("doc_id")))),
    // Partitioned corpus sink: language-ID -> parquet partitioned by
    // lang_pred -> read back -> per-language rollup. Exercises the
    // hive-layout write + directory-pruned read; the oracle aggregates the
    // same lang/token expressions straight off documents, so partition
    // encode/decode of the group key is value-checked too.
    Q("q_corpus_partitioned", (s, dir) => {
      val path = corpusTmp("bylang", dir)
      CorpusIO.writePartitioned(
        Pipeline.applySpark(Tables.read(s, dir, "documents"), langStages),
        path, Seq("lang_pred"))
      CorpusIO.readPartitioned(s, path)
        .groupBy("lang_pred")
        .agg(count(lit(1)).cast("double").as("n_docs"),
          sum("n_tokens").as("sum_tokens"))
        .orderBy("lang_pred")
    }, Some {
      val inner = Pipeline.toSql("documents", langStages, Seq.empty)
      s"""WITH base AS ($inner) SELECT "lang_pred",
         | CAST(count(*) AS DOUBLE) AS "n_docs",
         | sum("n_tokens") AS "sum_tokens"
         | FROM base GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")
    }),
    // ---- corpus statistics (CorpusStats) --------------------------------
    // Best-quality docs per language, ranked by the identical quality
    // arithmetic on both engines. Spark runs the two-phase salted rank
    // (no language ever gathers into one window task); the oracle runs
    // the literal global window — row-identical by construction.
    Q("q_grouped_topk", (s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          E.toColumn(TA.qualityScore(text)).as("quality"))
      CorpusStats.groupedTopK(base, Seq(col("lang")),
          Seq(col("quality").desc, col("doc_id")), col("doc_id"), k = 5)
        .select(col("lang"), col("doc_id"),
          org.apache.spark.sql.functions.round(col("quality"), 6).as("quality"),
          col("rk"))
        .orderBy("lang", "rk")
    }, Some {
      val qs = E.toSql(TA.qualityScore(text))
      s"""WITH q AS (SELECT "lang", "doc_id", $qs AS quality FROM documents),
         | r AS (SELECT *, row_number() OVER (PARTITION BY "lang"
         |   ORDER BY quality DESC, "doc_id") AS rk FROM q)
         | SELECT "lang", "doc_id", round(quality, 6) AS "quality", rk AS "rk"
         | FROM r WHERE rk <= 5 ORDER BY "lang", rk""".stripMargin
        .replace("\n", " ")
    }),
    Q("q_tfidf_topterms", (s, dir) =>
      CorpusStats.tfidfTopTerms(Tables.read(s, dir, "documents"), k = 3)
        .orderBy("doc_id", "rk"),
      Some(CorpusStats.tfidfOracleSql(3))),
    Q("q_lang_quantiles", (s, dir) =>
      CorpusStats.langQuantiles(Tables.read(s, dir, "documents"))
        .orderBy("lang"),
      Some(CorpusStats.langQuantilesOracleSql)),
    // Curriculum bucketing: global quality deciles (one broadcast
    // one-row cut aggregate) + deterministic within-bucket shuffle key
    // — the ordering stage of curriculum training and the cut surface
    // of quantile-based quality pruning.
    Q("q_curriculum", (s, dir) =>
      CorpusStats.curriculum(Tables.read(s, dir, "documents"),
          E.toColumn(TA.qualityScore(text)), buckets = 10)
        .orderBy("doc_id"),
      Some(CorpusStats.curriculumOracleSql(E.toSql(TA.qualityScore(text)),
        buckets = 10) + " ORDER BY \"doc_id\"")),
    // Deterministic fixed-point k-means: the full 2-iteration fit is
    // hash-matched — quantized coordinates make every distance, argmin
    // and centroid mean exact, so the oracle reproduces the fit
    // bit-for-bit (see KMeansDet scaladoc for why this matters at scale).
    Q("q_kmeans_embed", (s, dir) =>
      KMeansDet.fit(embRanged(s, dir), k = 4, iters = 2)
        .orderBy("vec_id"),
      Some(KMeansDet.oracleSql(k = 4, iters = 2, dim = 64))),
    // SemDeDup (arXiv:2303.09540): k-means blocks the all-pairs cosine;
    // near-dup pairs are found within clusters only. Same pair semantics
    // as q_dedup_embedding_cosine but the candidate space is k bounded
    // blocks instead of n² — the semantic sibling of the LSH path. The
    // full fit + pairing is hash-matched (quantized exact arithmetic).
    Q("q_semdedup", (s, dir) =>
      SemDedup.pairs(Tables.read(s, dir, "embeddings", parallelismFloor = false),
          k = 4, iters = 2, threshold = 0.35)
        .orderBy("keep_id", "drop_id"),
      Some(SemDedup.pairsOracleSql(k = 4, iters = 2, dim = 64,
        threshold = 0.35))),
    // Concat-and-chunk sequence packing: the (doc, seq) overlap index for
    // fixed-length pretraining batches. Two-phase bucketed cumsum on the
    // Spark side; the oracle runs the literal global window.
    // BPE-denominated packing: identical two-phase layout machinery, the
    // per-row accounting swapped for the real tokenizer (the sequence
    // boundaries a trainer would actually cut).
    Q("q_bpe_seq_pack", (s, dir) =>
      PipelineOps.seqPack(Tables.read(s, dir, "documents"), 512L,
          salt = ":bpepack",
          nTokens = graft.ext.Bpe.tokenCount(col("text")))
        .orderBy("seq_id", "doc_id"),
      Some(PipelineOps.seqPackOracleSql(512L, salt = ":bpepack",
        nTokensSql =
          s"CAST(${graft.ext.Bpe.tokenCountSql("\"text\"")} AS BIGINT)"))),
    Q("q_seq_pack", (s, dir) =>
      PipelineOps.seqPack(Tables.read(s, dir, "documents"), 512L)
        .orderBy("seq_id", "doc_id"),
      Some(PipelineOps.seqPackOracleSql(512L))),
    // Packing-efficiency audit over the packed layout: fill ratio and
    // docs-per-sequence — the metric that says whether the packer wastes
    // FLOPs on padding. All stats derive from exact integer sums (one
    // division at the end), so the aggregate is order-independent and
    // hash-exact; concat-and-chunk fills every sequence except the last,
    // which the query verifies rather than assumes (n_full = n_seqs − 1).
    Q("q_pack_efficiency", (s, dir) => {
      val L = 512L
      val perSeq = PipelineOps.seqPack(Tables.read(s, dir, "documents"), L)
        .groupBy("seq_id")
        .agg(sum("n_in_seq").as("toks"), count(lit(1)).as("n_docs"))
      perSeq.agg(
        count(lit(1)).as("n_seqs"),
        sum(org.apache.spark.sql.functions.when(col("toks") === L, 1L)
          .otherwise(0L)).as("n_full"),
        min("toks").as("min_fill_toks"),
        org.apache.spark.sql.functions.round(
          sum("toks").cast("double") /
            (count(lit(1)).cast("double") * L.toDouble), 6).as("avg_fill"),
        org.apache.spark.sql.functions.round(
          sum("n_docs").cast("double") / count(lit(1)).cast("double"), 6)
          .as("avg_docs_per_seq"))
    }, Some {
      val inner = PipelineOps.seqPackOracleSql(512L)
      s"""WITH pk AS ($inner),
         | ps AS (SELECT "seq_id", sum("n_in_seq") AS toks,
         |   count(*) AS n_docs FROM pk GROUP BY 1)
         | SELECT count(*) AS "n_seqs",
         |   CAST(sum(CASE WHEN toks = 512 THEN 1 ELSE 0 END) AS BIGINT)
         |     AS "n_full",
         |   CAST(min(toks) AS BIGINT) AS "min_fill_toks",
         |   round(CAST(sum(toks) AS DOUBLE)
         |     / (CAST(count(*) AS DOUBLE) * 512.0e0), 6) AS "avg_fill",
         |   round(CAST(sum(n_docs) AS DOUBLE)
         |     / CAST(count(*) AS DOUBLE), 6) AS "avg_docs_per_seq"
         | FROM ps""".stripMargin.replace("\n", " ")
    }),
    // RAG-style overlapping token chunking: 64-token windows advancing by
    // 48 (16-token overlap), last window shortened to the doc end. Pure
    // per-row explode — no shuffle; chunk text compared byte-for-byte.
    Q("q_chunk_overlap", (s, dir) =>
      PipelineOps.chunkOverlap(docsRanged(s, dir),
          chunkSize = 64, stride = 48)
        .orderBy("doc_id", "chunk_id"),
      Some(PipelineOps.chunkOverlapOracleSql(chunkSize = 64, stride = 48))),
    // Stratified per-language sample: fixed count per stratum, selected
    // by deterministic hash rank (reproducible + resumable, like
    // q_domain_mix but count-exact). Delegates to the named
    // Sampling.stratifiedSample API (r12 — was inline here); rank runs
    // through the salted two-phase groupedTopK, so no language gathers
    // into one task.
    Q("q_stratified_sample", (s, dir) =>
      graft.ext.Sampling.stratifiedSample(
          Tables.read(s, dir, "documents").select(col("lang"), col("doc_id")),
          stratumCol = "lang", idCol = "doc_id", k = 25)
        .orderBy("stratum", "rk"),
      Some("SELECT * FROM (" +
        graft.ext.Sampling.stratifiedSampleOracleSql("documents",
          stratumCol = "lang", idCol = "doc_id", k = 25) +
        ") ORDER BY \"stratum\", \"rk\"")),
    // MMR diversified re-rank (Carbonell-Goldstein 1998): the
    // retrieval->prompt diversity stage — greedy lambda*rel -
    // (1-lambda)*max-sim selection, unrolled into the plan. Candidate
    // pool is the exact cosine top-10 here (exactness baseline; the ANN
    // stage feeds it at scale); every post-candidate relation is
    // query-scale. Dyadic lambda=0.5 keeps MMR scores exact multiples
    // of 5e-7, so the greedy argmax ties identically on both engines.
    Q("q_mmr_rerank", (s, dir) =>
      graft.ext.Mmr.rerank(Tables.read(s, dir, "embeddings", parallelismFloor = false),
          col("vec_id") % 100 === 7, poolK = 10, selectK = 3)
        .orderBy("qid", "rk"),
      Some(graft.ext.Mmr.rerankOracleSql("(\"vec_id\" % 100) = 7",
        poolK = 10, selectK = 3))),
    // Weighted reservoir sampling (Efraimidis-Spirakis A-Res): top-k by
    // ln(u)/w with the deterministic hash draw — inclusion probability
    // proportional to weight (here n_chars: longer docs drawn more) in
    // ONE distributed top-k (TakeOrderedAndProject), no global sort.
    Q("q_weighted_reservoir", (s, dir) =>
      graft.ext.Sampling.weightedReservoir(
          Tables.read(s, dir, "documents")
            .select(col("doc_id"), col("n_chars")),
          k = 50, idCol = "doc_id", weightCol = "n_chars")
        .orderBy("doc_id"),
      Some("SELECT * FROM (" +
        graft.ext.Sampling.weightedReservoirOracleSql(
          "(SELECT \"doc_id\", \"n_chars\" FROM documents)",
          k = 50, idCol = "doc_id", weightCol = "n_chars") +
        ") ORDER BY \"doc_id\"")),
    // PSI drift between two corpus slices (en reference vs de current)
    // over n_chars buckets: ONE corpus pass of conditional bucket
    // counts, all further arithmetic on the constant-size bucket spine.
    Q("q_psi_drift", (s, dir) =>
      graft.ext.Drift.psi(
          Tables.read(s, dir, "documents")
            .select(col("lang"), col("n_chars")),
          valueCol = "n_chars",
          refPred = col("lang") === "en", curPred = col("lang") === "de",
          bucketWidth = 64, nBuckets = 9)
        .orderBy("bucket"),
      Some("SELECT * FROM (" +
        graft.ext.Drift.psiOracleSql("documents", valueCol = "n_chars",
          refSql = "\"lang\" = 'en'", curSql = "\"lang\" = 'de'",
          bucketWidth = 64, nBuckets = 9) +
        ") ORDER BY \"bucket\"")),
    // Inverted-index posting lists: term -> ordered (doc_id, tf) digest
    // with df bounds — the stop-list cut (maxDf) kills corpus-sized hot
    // lists BEFORE assembly, minDf prunes the hapax tail. The md5 digest
    // pins every posting and its order engine-portably.
    Q("q_inverted_index", (s, dir) =>
      graft.ext.InvertedIndex.postings(Tables.read(s, dir, "documents"),
          minDf = 2L, maxDf = 3000L)
        .orderBy("term"),
      Some(graft.ext.InvertedIndex.postingsOracleSql("documents",
        minDf = 2L, maxDf = 3000L) + " ORDER BY term")),
    // KMV distinct-count sketch: bounded mergeable state (k=256 hash
    // minima) instead of count(DISTINCT)'s full shuffle of distinct
    // keys. Order-independent state -> the estimate is bit-reproducible
    // and the oracle hash-matches it (see Sketches scaladoc).
    // Estimate only — adding a countDistinct companion column would
    // reintroduce the very distinct-key shuffle the sketch avoids (the
    // accuracy-vs-exact law lives in ChunkSketchSpec instead). Plan:
    // partial ObjectHashAggregate with the bounded k-value buffer, one
    // exchange of one buffer row, final merge.
    Q("q_kmv_distinct", (s, dir) =>
      Tables.read(s, dir, "lineitem")
        .select(Sketches.hashUnit(col("l_orderkey"), ":kmv").as("h"))
        .agg(
          org.apache.spark.sql.functions
            .round(Sketches.kmvEstimate(col("h"), 256), 6)
            .as("est_distinct")),
      Some(Sketches.kmvOracleSql("lineitem", "\"l_orderkey\"", ":kmv", 256))),
    // HyperLogLog distinct-count sketch (p=8, 256 int registers): the
    // industry-standard mergeable cardinality format, here with an
    // externally-reproducible register layout (md5-bit arithmetic both
    // engines render identically; Sigma 2^-rho is EXACT in doubles, see
    // Sketches.Hll scaladoc) so the ESTIMATE hash-matches — unlike
    // approx_count_distinct's opaque HLL++ buffer. One partial-agg
    // exchange of a single 256-int state row.
    Q("q_hll_distinct", (s, dir) =>
      Tables.read(s, dir, "lineitem")
        .agg(Sketches.hllEstimate(col("l_orderkey"), ":hll", p = 8).as("h"))
        .select(
          org.apache.spark.sql.functions.round(col("h._1"), 6)
            .as("est_distinct"),
          col("h._2").as("n_zero")),
      Some(Sketches.hllOracleSql("lineitem", "\"l_orderkey\"", ":hll",
        p = 8))),
    // The MERGEABLE-ARTIFACT path of the HLL sketch — the 100 TB shape:
    // per-partition register arrays (here one per l_returnflag, standing in
    // for one per day-partition written to parquet) merged by
    // register-wise max, estimate read off the MERGED state with pure
    // column arithmetic. Max-merge associativity + the exact-in-doubles
    // Sigma 2^-rho make the rollup estimate bit-identical to one global
    // pass — which is exactly what the oracle computes, so the
    // hash-match IS the merge-correctness proof. Parquet round-trip of
    // the register column is pinned in ChunkSketchSpec.
    // The sketch artifact END-TO-END through storage — the actual
    // daily→monthly rollup a 100 TB deployment runs: per-shard KMV
    // k-min states and HLL register arrays are WRITTEN as a parquet
    // artifact (kilobytes per shard), then the rollup job reads the
    // artifact back — no corpus re-scan — merges the states
    // (register-wise max / k-min union, exact under any merge tree)
    // and reads the estimates off the merged states. Parquet
    // round-trips the double hashes and int registers exactly, so the
    // rolled-up estimates are bit-identical to a single pass over the
    // corpus — which is exactly what the oracle computes.
    Q("q_sketch_rollup", (s, dir) => {
      val path = corpusTmp("sketchshards", dir)
      Tables.read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Sketches.kmvState(
            Sketches.hashUnit(col("l_orderkey"), ":rollup"), 256)
            .as("kmv_state"),
          Sketches.hllRegisters(col("l_orderkey"), ":rollup", p = 8)
            .as("hll_regs"))
        .write.mode("overwrite").parquet(path)
      GraftParquet.read(s, path)
        .agg(Sketches.kmvMergeState(col("kmv_state"), 256).as("mk"),
          Sketches.hllMergeRegisters(col("hll_regs"), p = 8).as("mh"))
        .select(
          org.apache.spark.sql.functions
            .round(Sketches.kmvEstimateFromState(col("mk"), 256), 6)
            .as("est_kmv"),
          Sketches.hllEstimateFromRegisters(col("mh"), p = 8).as("h"))
        .select(col("est_kmv"),
          org.apache.spark.sql.functions.round(col("h._1"), 6)
            .as("est_hll"),
          col("h._2").as("n_zero"))
    },
      Some {
        val kmv = Sketches.kmvOracleSql("lineitem", "\"l_orderkey\"",
          ":rollup", 256)
        val hll = Sketches.hllOracleSql("lineitem", "\"l_orderkey\"",
          ":rollup", p = 8)
        s"""SELECT k."est_distinct" AS "est_kmv",
           | h."est_distinct" AS "est_hll", h."n_zero" AS "n_zero"
           | FROM ($kmv) k CROSS JOIN ($hll) h""".stripMargin
          .replace("\n", " ")
      }),
    Q("q_hll_merged", (s, dir) =>
      Tables.read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Sketches.hllRegisters(col("l_orderkey"), ":hll", p = 8)
          .as("regs"))
        .agg(Sketches.hllMergeRegisters(col("regs"), p = 8).as("m"))
        .select(Sketches.hllEstimateFromRegisters(col("m"), p = 8).as("h"))
        .select(
          org.apache.spark.sql.functions.round(col("h._1"), 6)
            .as("est_distinct"),
          col("h._2").as("n_zero")),
      Some(Sketches.hllOracleSql("lineitem", "\"l_orderkey\"", ":hll",
        p = 8))),
    // Same rollup shape for KMV: per-group k-min states merged into the
    // global k-min set (every globally-k-smallest hash is k-smallest
    // within its own group, so the merge loses nothing — the estimate is
    // bit-identical to the single-pass q_kmv_distinct and the oracle's
    // global DISTINCT -> ORDER BY -> LIMIT k).
    Q("q_kmv_merged", (s, dir) =>
      Tables.read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Sketches.kmvState(
          Sketches.hashUnit(col("l_orderkey"), ":kmv"), 256).as("st"))
        .agg(Sketches.kmvMergeState(col("st"), 256).as("m"))
        .select(
          org.apache.spark.sql.functions
            .round(Sketches.kmvEstimateFromState(col("m"), 256), 6)
            .as("est_distinct")),
      Some(Sketches.kmvOracleSql("lineitem", "\"l_orderkey\"", ":kmv", 256))),
    // Theta-style set algebra from two STORED KMV states (no corpus
    // re-scan, unlike q_kmv_overlap's union pass): which parts were ever
    // ordered (intersection) and which never (difference), estimated
    // from two kilobyte artifacts — sampling-rate arithmetic on the
    // common threshold theta = min(theta_a, theta_b). Both one-row
    // states broadcast; the oracle mirrors the identical k-min lists,
    // theta, and counts in SQL.
    Q("q_kmv_setops", (s, dir) => {
      val k = 256
      val a = Tables.read(s, dir, "part")
        .agg(Sketches.kmvState(
          Sketches.hashUnit(col("p_partkey"), ":set"), k).as("a"))
      val b = Tables.read(s, dir, "lineitem")
        .agg(Sketches.kmvState(
          Sketches.hashUnit(col("l_partkey"), ":set"), k).as("b"))
      a.crossJoin(broadcast(b)).select(
        org.apache.spark.sql.functions
          .round(Sketches.kmvEstimateFromState(col("a"), k), 6)
          .as("est_parts"),
        org.apache.spark.sql.functions
          .round(Sketches.kmvIntersectEstimate(col("a"), col("b"), k), 6)
          .as("est_ordered"),
        org.apache.spark.sql.functions
          .round(Sketches.kmvDiffEstimate(col("a"), col("b"), k), 6)
          .as("est_never_ordered"))
    }, Some {
      val k = 256
      val ua = Sketches.hashUnitSql("\"p_partkey\"", ":set")
      val ub = Sketches.hashUnitSql("\"l_partkey\"", ":set")
      s"""WITH ah AS (SELECT DISTINCT $ua AS h FROM part),
         | atk AS (SELECT h FROM ah ORDER BY h LIMIT $k),
         | bh AS (SELECT DISTINCT $ub AS h FROM lineitem),
         | btk AS (SELECT h FROM bh ORDER BY h LIMIT $k),
         | st AS (SELECT (SELECT count(*) FROM atk) AS na,
         |   (SELECT max(h) FROM atk) AS tha,
         |   (SELECT count(*) FROM btk) AS nb,
         |   (SELECT max(h) FROM btk) AS thb),
         | th AS (SELECT na, nb,
         |   least(CASE WHEN na < $k THEN 1.0e0 ELSE tha END,
         |     CASE WHEN nb < $k THEN 1.0e0 ELSE thb END) AS theta,
         |   CASE WHEN na < $k THEN 1.0e0 ELSE tha END AS ta FROM st),
         | cm AS (SELECT count(*) AS c FROM atk JOIN btk USING (h), th
         |   WHERE h < theta),
         | da AS (SELECT count(*) AS c FROM atk, th WHERE h < theta
         |   AND h NOT IN (SELECT h FROM btk))
         | SELECT round(CASE WHEN th.na < $k THEN CAST(th.na AS DOUBLE)
         |     ELSE ${k - 1}.0e0 / th.ta END, 6) AS "est_parts",
         |   round(CAST(cm.c AS DOUBLE) / th.theta, 6) AS "est_ordered",
         |   round(CAST(da.c AS DOUBLE) / th.theta, 6)
         |     AS "est_never_ordered"
         | FROM th, cm, da""".stripMargin.replace("\n", " ")
    }),
    // Model-based quality filtering: fixed-weight logistic score over the
    // heuristic text features — a codegen'd closed-form projection.
    docQ("q_quality_logit",
      "score" -> E.round(TA.qualityLogit(text), 6),
      "keep" -> If(TA.qualityLogit(text) >= Lit(0.5), Lit(1.0), Lit(0.0))),
    // PII redaction over deterministically injected PII (the synthetic
    // corpus contains none, so each doc gets a doc_id-derived email, IP
    // and phone appended on BOTH sides before scrubbing — making the
    // regex-scrub arithmetic itself oracle-checked, like the multimodal
    // decode stub). Java regex and DuckDB RE2 agree on these patterns;
    // redacted text is compared by md5.
    Q("q_scrub_pii", (s, dir) => {
      val injected = docsRanged(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact "), col("doc_id").cast("string"),
          lit("@ex.com at 10.0."), (col("doc_id") % 250 + 1).cast("string"),
          lit(".7 or +1 555 010 "),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      PipelineOps.scrubPii(injected)
        .select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_ips").cast("long").as("n_ips"),
          col("n_phones").cast("long").as("n_phones"),
          md5(col("text").cast("binary")).as("scrub_fp"))
        .orderBy("doc_id")
    }, Some {
      val inj = """concat("text", ' contact ', CAST("doc_id" AS VARCHAR),
        | '@ex.com at 10.0.', CAST("doc_id" % 250 + 1 AS VARCHAR),
        | '.7 or +1 555 010 ',
        | lpad(CAST("doc_id" % 10000 AS VARCHAR), 4, '0'))"""
        .stripMargin.replace("\n", " ")
      s"""WITH b AS (SELECT "doc_id", $inj AS t FROM documents),
         | s1 AS (SELECT "doc_id", t,
         |   regexp_replace(t, '${PipelineOps.EmailRe}', '<EMAIL>', 'g') AS t1
         |   FROM b),
         | s2 AS (SELECT "doc_id", t, t1,
         |   regexp_replace(t1, '${PipelineOps.Ipv4Re}', '<IP>', 'g') AS t2
         |   FROM s1),
         | s3 AS (SELECT "doc_id", t, t1, t2,
         |   regexp_replace(t2, '${PipelineOps.PhoneRe}', '<PHONE>', 'g') AS t3
         |   FROM s2)
         | SELECT "doc_id",
         |   CAST(len(regexp_extract_all(t, '${PipelineOps.EmailRe}')) AS BIGINT)
         |     AS "n_emails",
         |   CAST(len(regexp_extract_all(t1, '${PipelineOps.Ipv4Re}')) AS BIGINT)
         |     AS "n_ips",
         |   CAST(len(regexp_extract_all(t2, '${PipelineOps.PhoneRe}')) AS BIGINT)
         |     AS "n_phones",
         |   md5(t3) AS "scrub_fp"
         | FROM s3 ORDER BY "doc_id"""".stripMargin.replace("\n", " ")
    }),
    // Corpus-wide duplicated-passage removal (RefinedWeb/C4-style "line
    // dedup" over fixed-width token segments): hot segments found by a
    // hash-only doc-frequency pass, broadcast, and scrubbed per-row — the
    // text never shuffles. The full rewrite (counts + cleaned text) is
    // hash-matched against the join-based DuckDB rebuild.
    Q("q_segment_dedup", (s, dir) =>
      PipelineOps.segmentDedup(docsRanged(s, dir),
          segLen = 3, minDocs = 2)
        .orderBy("doc_id"),
      Some(PipelineOps.segmentDedupOracleSql(segLen = 3, minDocs = 2))),
    // Deterministic train/val/test split by doc-id hash: stable under
    // re-runs, re-partitioning and corpus growth. Shuffle-free.
    Q("q_split_assign", (s, dir) =>
      PipelineOps.splitAssign(docsRanged(s, dir))
        .orderBy("doc_id"),
      Some(PipelineOps.splitAssignOracleSql(0.9, 0.05, ":split"))),
    // k-fold cross-validation assignment: fold = floor(u * k) over the
    // same deterministic hashUniform draw as the split family —
    // exhaustive (every doc gets exactly one fold), growth-stable
    // (adding docs never moves existing ones), rerun-stable. A pure
    // shuffle-free projection.
    Q("q_kfold_assign", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val u = PipelineOps.hashUniform(col("doc_id"), ":kfold")
      docsRanged(s, dir)
        .select(col("doc_id"),
          F.floor(u * lit(5.0)).cast("long").as("fold"),
          F.round(u, 6).as("u"))
        .orderBy("doc_id")
    },
      Some {
        val u = PipelineOps.hashUniformSql("\"doc_id\"", ":kfold")
        s"""SELECT "doc_id", CAST(floor($u * 5.0) AS BIGINT) AS "fold",
           | round($u, 6) AS "u" FROM documents
           | ORDER BY "doc_id"""".stripMargin.replace("\n", " ")
      }),
    // k-anonymity audit over quasi-identifiers (lang, source, length
    // decile): group sizes + an at-risk flag for equivalence classes
    // smaller than k=5 — the re-identification screen run before a
    // corpus with joinable metadata ships. ONE map-side-combinable
    // aggregation over derived quasi-identifier columns; group count is
    // bounded by the QI-combination cardinality, never data scale.
    Q("q_k_anonymity", (s, dir) => {
      val F = org.apache.spark.sql.functions
      Tables.read(s, dir, "documents")
        .select(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", (col("n") < 5L).cast("long"))
        // null ordering pinned explicitly on BOTH engines: Spark's
        // ascending default is NULLS FIRST, DuckDB's is NULLS LAST — a
        // producer shipping NULL lang/source (the failure q_expectations
        // exists to catch) must not break the hash-match here
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first,
          col("len_bucket").asc_nulls_first)
    },
      Some("""SELECT "lang", "source", ("n_chars" // 100) AS "len_bucket",
             | count(*) AS "n",
             | CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT)
             |   AS "at_risk"
             | FROM documents GROUP BY 1, 2, 3
             | ORDER BY "lang" NULLS FIRST, "source" NULLS FIRST,
             |   "len_bucket" NULLS FIRST""".stripMargin
        .replace("\n", " "))),
    // Pairwise source-overlap audit via per-source MinHash signatures:
    // one partial-aggregated groupBy carrying 32 longs per source; the
    // pairwise stage is a source-cardinality cross (whitelisted in
    // PlanAuditSpec — it can never be data-scale).
    Q("q_source_overlap", (s, dir) =>
      CorpusStats.sourceOverlap(Tables.read(s, dir, "documents"), perms = 32)
        .orderBy("src_a", "src_b"),
      Some(CorpusStats.sourceOverlapOracleSql(perms = 32))),
    // KMV-backbone quantile sketch: bounded mergeable uniform sample (k
    // smallest key hashes), nearest-rank read-off — approximate quantiles
    // with no global sort, bit-reproducible like q_kmv_distinct.
    Q("q_quantile_sketch", (s, dir) => {
      val agg = Tables.read(s, dir, "documents")
        .select(Sketches.hashUnit(col("doc_id"), ":qsk").as("h"),
          size(split(col("text"), " ")).cast("double").as("v"))
        .agg(Sketches.kmvQuantiles(col("h"), col("v"), 128,
          Seq(0.25, 0.5, 0.75, 0.9)).as("qs"))
      agg.select(
        org.apache.spark.sql.functions.round(col("qs").getItem(0), 6).as("q25"),
        org.apache.spark.sql.functions.round(col("qs").getItem(1), 6).as("q50"),
        org.apache.spark.sql.functions.round(col("qs").getItem(2), 6).as("q75"),
        org.apache.spark.sql.functions.round(col("qs").getItem(3), 6).as("q90"))
    }, Some(Sketches.kmvQuantilesOracleSql("documents", "\"doc_id\"",
      "CAST(len(string_split(\"text\", ' ')) AS DOUBLE)", ":qsk", 128,
      Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75", 0.9 -> "q90")))),
    // Robust outlier flagging (median/MAD, the length-filter form every
    // corpus clean runs — robust-z, not mean/stddev, because the outliers
    // being hunted poison the moments they would be scored against):
    // median and MAD come from the SAME mergeable k-min quantile sketch
    // in two passes (values, then absolute deviations), both broadcast as
    // one-row aggregates; the flag is a stateless projection. The 1.4826
    // constant normalises MAD to sigma under normality (Hampel).
    // Per-GROUP robust outlier gates: the per-language variant of
    // q_robust_outliers below — each language gets its own median/MAD
    // (a zh document is judged against zh lengths, not the en-dominated
    // global mix). The sketches become ONE groupBy aggregation each
    // (group-cardinality rows, broadcast back); a degenerate group
    // (MAD 0: half its docs share a length) pins z to 0 instead of
    // tripping ANSI's divide-by-zero — the groupZScore convention.
    Q("q_robust_outliers_grouped", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val base = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          Sketches.hashUnit(col("doc_id"), ":gmad").as("h"),
          size(split(col("text"), " ")).cast("double").as("v"))
      val med = base.groupBy("lang")
        .agg(Sketches.kmvQuantiles(col("h"), col("v"), 256, Seq(0.5))
          .getItem(0).as("med"))
      val withMed = base.join(F.broadcast(med), Seq("lang"))
      val mad = withMed
        .select(col("lang"), col("h"), F.abs(col("v") - col("med")).as("av"))
        .groupBy("lang")
        .agg(Sketches.kmvQuantiles(col("h"), col("av"), 256, Seq(0.5))
          .getItem(0).as("mad"))
      val rz = F.when(col("mad") > 0,
        (col("v") - col("med")) / (lit(1.4826) * col("mad")))
        .otherwise(lit(0.0))
      withMed.join(F.broadcast(mad), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          col("v").cast("long").as("n_tokens"),
          F.round(rz, 6).as("robust_z"),
          (F.abs(rz) > 3.5).cast("int").as("outlier"))
        .orderBy("doc_id")
    }, Some {
      val u = Sketches.hashUnitSql("\"doc_id\"", ":gmad")
      s"""WITH b AS (SELECT "doc_id", "lang", $u AS h,
         |   CAST(len(string_split("text", ' ')) AS DOUBLE) AS v
         |   FROM documents),
         | dd AS (SELECT DISTINCT ON ("lang", h) "lang", h, v FROM b
         |   ORDER BY "lang", h, v),
         | tk AS (SELECT "lang", v FROM (SELECT "lang", h, v, row_number()
         |     OVER (PARTITION BY "lang" ORDER BY h) AS hr FROM dd)
         |   WHERE hr <= 256),
         | m AS (SELECT "lang", v AS med FROM (SELECT "lang", v, row_number()
         |     OVER (PARTITION BY "lang" ORDER BY v) AS rn,
         |     count(*) OVER (PARTITION BY "lang") AS n FROM tk)
         |   WHERE rn = least(n, greatest(1, CAST(ceil(0.5e0 * n) AS BIGINT)))),
         | ad AS (SELECT b."lang", b.h, abs(b.v - m.med) AS av
         |   FROM b JOIN m USING ("lang")),
         | ad2 AS (SELECT DISTINCT ON ("lang", h) "lang", h, av FROM ad
         |   ORDER BY "lang", h, av),
         | atk AS (SELECT "lang", av FROM (SELECT "lang", h, av, row_number()
         |     OVER (PARTITION BY "lang" ORDER BY h) AS hr FROM ad2)
         |   WHERE hr <= 256),
         | md AS (SELECT "lang", av AS mad FROM (SELECT "lang", av, row_number()
         |     OVER (PARTITION BY "lang" ORDER BY av) AS rn,
         |     count(*) OVER (PARTITION BY "lang") AS n FROM atk)
         |   WHERE rn = least(n, greatest(1, CAST(ceil(0.5e0 * n) AS BIGINT))))
         | SELECT b."doc_id", b."lang", CAST(b.v AS BIGINT) AS "n_tokens",
         |   round(CASE WHEN md.mad > 0
         |     THEN (b.v - m.med) / (1.4826e0 * md.mad) ELSE 0.0e0 END, 6)
         |     AS "robust_z",
         |   CAST(CASE WHEN md.mad > 0
         |     THEN abs((b.v - m.med) / (1.4826e0 * md.mad)) > 3.5e0
         |     ELSE FALSE END AS INTEGER) AS "outlier"
         | FROM b JOIN m USING ("lang") JOIN md USING ("lang")
         | ORDER BY "doc_id"""".stripMargin.replace("\n", " ")
    }),
    Q("q_robust_outliers", (s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          Sketches.hashUnit(col("doc_id"), ":mad").as("h"),
          size(split(col("text"), " ")).cast("double").as("v"))
      val med = base.agg(Sketches.kmvQuantiles(col("h"), col("v"), 256,
        Seq(0.5)).getItem(0).as("med"))
      val withMed = base.crossJoin(broadcast(med))
      val mad = withMed
        .select(col("h"),
          org.apache.spark.sql.functions.abs(col("v") - col("med")).as("av"))
        .agg(Sketches.kmvQuantiles(col("h"), col("av"), 256,
          Seq(0.5)).getItem(0).as("mad"))
      // the flag reads the UNROUNDED score (as the oracle does), so a
      // value rounding across the 3.5 boundary cannot flip it
      val rz = (col("v") - col("med")) / (lit(1.4826) * col("mad"))
      withMed.crossJoin(broadcast(mad))
        .select(col("doc_id"), col("v").cast("long").as("n_tokens"),
          org.apache.spark.sql.functions.round(rz, 6).as("robust_z"),
          (org.apache.spark.sql.functions.abs(rz) > 3.5).cast("int")
            .as("outlier"))
        .orderBy("doc_id")
    }, Some {
      val u = Sketches.hashUnitSql("\"doc_id\"", ":mad")
      s"""WITH b AS (SELECT "doc_id", $u AS h,
         |   CAST(len(string_split("text", ' ')) AS DOUBLE) AS v
         |   FROM documents),
         | tk AS (SELECT v FROM (SELECT DISTINCT ON (h) h, v FROM b
         |   ORDER BY h, v) ORDER BY h LIMIT 256),
         | m AS (SELECT v AS med FROM (SELECT v, row_number()
         |     OVER (ORDER BY v) AS rn, count(*) OVER () AS n FROM tk)
         |   WHERE rn = least(n, greatest(1, CAST(ceil(0.5e0 * n) AS BIGINT)))),
         | ad AS (SELECT b.h, abs(b.v - m.med) AS av FROM b, m),
         | atk AS (SELECT av FROM (SELECT DISTINCT ON (h) h, av FROM ad
         |   ORDER BY h, av) ORDER BY h LIMIT 256),
         | md AS (SELECT av AS mad FROM (SELECT av, row_number()
         |     OVER (ORDER BY av) AS rn, count(*) OVER () AS n FROM atk)
         |   WHERE rn = least(n, greatest(1, CAST(ceil(0.5e0 * n) AS BIGINT))))
         | SELECT "doc_id", CAST(v AS BIGINT) AS "n_tokens",
         |   round((v - m.med) / (1.4826e0 * md.mad), 6) AS "robust_z",
         |   CAST(abs((v - m.med) / (1.4826e0 * md.mad)) > 3.5e0 AS INTEGER)
         |     AS "outlier"
         | FROM b, m, md ORDER BY "doc_id"""".stripMargin.replace("\n", " ")
    }),
    // Range-partition planning: N-way range boundaries for a balanced
    // sort/write read OFF the quantile sketch (one bounded aggregation —
    // never the global sort a naive range planner pays), then the
    // realized per-bucket row counts/extents as the balance report. The
    // boundary rule (v above cut i ⟺ cut_i < v... counted as cuts <= v,
    // ties go UP) is identical arithmetic in both engines, so bucket
    // assignment hash-matches — this is Spark's own RangePartitioner
    // shape (sample -> cuts -> assign) made deterministic and auditable.
    Q("q_range_plan", (s, dir) => {
      val nB = 8
      val base = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          Sketches.hashUnit(col("doc_id"), ":rp").as("h"),
          size(split(col("text"), " ")).cast("double").as("v"))
      val cuts = base.agg(Sketches.kmvQuantiles(col("h"), col("v"), 256,
        (1 until nB).map(_.toDouble / nB)).as("cuts"))
      base.crossJoin(broadcast(cuts))
        .select(col("v"),
          size(filter(col("cuts"), c => c <= col("v"))).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          org.apache.spark.sql.functions.round(min("v"), 6).as("v_min"),
          org.apache.spark.sql.functions.round(max("v"), 6).as("v_max"))
        .orderBy("bucket")
    }, Some {
      val nB = 8
      val u = Sketches.hashUnitSql("\"doc_id\"", ":rp")
      val qs = (1 until nB).map(i => i.toDouble / nB)
      val cutCols = qs.zipWithIndex.map { case (q, i) =>
        val qLit = graft.expr.E.formatDouble(q)
        s"""max(CASE WHEN rn = least(m, greatest(1,
           | CAST(ceil($qLit * m) AS BIGINT))) THEN v END) AS c$i"""
          .stripMargin.replace("\n", " ")
      }.mkString(", ")
      val bucketExpr = qs.indices.map(i =>
        s"(CASE WHEN k.c$i <= b.v THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH b AS (SELECT "doc_id", $u AS h,
         |   CAST(len(string_split("text", ' ')) AS DOUBLE) AS v
         |   FROM documents),
         | tk AS (SELECT v FROM (SELECT DISTINCT ON (h) h, v FROM b
         |   ORDER BY h, v) ORDER BY h LIMIT 256),
         | r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
         |   count(*) OVER () AS m FROM tk),
         | k AS (SELECT $cutCols FROM r)
         | SELECT ($bucketExpr) AS "bucket",
         |   count(*) AS "n_rows", round(min(b.v), 6) AS "v_min",
         |   round(max(b.v), 6) AS "v_max"
         | FROM b, k GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")
    }),
    // Quantile-sketch rollup: per-partition k-min samples (stand-in:
    // doc_id % 8) merged into the global k-min sample — merge-path
    // independence makes the rollup state bit-identical to one pass, so
    // the oracle IS the single-pass quantile SQL. Fourth and last sketch
    // family with the full artifact surface (state column + merge
    // aggregate + read-from-state); parquet round-trip in ChunkSketchSpec.
    Q("q_quantiles_merged", (s, dir) => {
      val agg = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          Sketches.hashUnit(col("doc_id"), ":qsk").as("h"),
          size(split(col("text"), " ")).cast("double").as("v"))
        .groupBy((col("doc_id") % 8).as("part"))
        .agg(Sketches.kmvQuantilesState(col("h"), col("v"), 128).as("st"))
        .agg(Sketches.kmvQuantilesMergeState(col("st"), 128).as("st"))
        .select(Sketches.kmvQuantilesFromState(col("st"),
          Seq(0.25, 0.5, 0.75, 0.9)).as("qs"))
      agg.select(
        org.apache.spark.sql.functions.round(col("qs").getItem(0), 6).as("q25"),
        org.apache.spark.sql.functions.round(col("qs").getItem(1), 6).as("q50"),
        org.apache.spark.sql.functions.round(col("qs").getItem(2), 6).as("q75"),
        org.apache.spark.sql.functions.round(col("qs").getItem(3), 6).as("q90"))
    }, Some(Sketches.kmvQuantilesOracleSql("documents", "\"doc_id\"",
      "CAST(len(string_split(\"text\", ' ')) AS DOUBLE)", ":qsk", 128,
      Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75", 0.9 -> "q90")))),
    // Group-wise quantile sketch: per-source token-length percentiles in
    // ONE aggregation pass — the corpus-audit form ("is source X's length
    // distribution drifting?"). Same bounded k-min state per group, no
    // global sort, no per-group window; the oracle runs the identical
    // rank arithmetic per group.
    Q("q_group_quantiles", (s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select((col("doc_id") % 4).as("grp"),
          Sketches.hashUnit(col("doc_id"), ":gq").as("h"),
          size(split(col("text"), " ")).cast("double").as("v"))
      base.groupBy("grp")
        .agg(Sketches.kmvQuantiles(col("h"), col("v"), 64,
          Seq(0.5, 0.9)).as("qs"))
        .select(col("grp"),
          org.apache.spark.sql.functions.round(col("qs").getItem(0), 6)
            .as("q50"),
          org.apache.spark.sql.functions.round(col("qs").getItem(1), 6)
            .as("q90"))
        .orderBy("grp")
    }, Some {
      val u = Sketches.hashUnitSql("\"doc_id\"", ":gq")
      s"""WITH b AS (SELECT DISTINCT ON (("doc_id" % 4), h)
         |   ("doc_id" % 4) AS grp, $u AS h,
         |   CAST(len(string_split("text", ' ')) AS DOUBLE) AS v
         |   FROM documents ORDER BY ("doc_id" % 4), h, v),
         | tk AS (SELECT grp, h, v, row_number() OVER
         |     (PARTITION BY grp ORDER BY h) AS hrn FROM b),
         | s AS (SELECT grp, v FROM tk WHERE hrn <= 64),
         | r AS (SELECT grp, v, row_number() OVER
         |     (PARTITION BY grp ORDER BY v) AS rn,
         |   count(*) OVER (PARTITION BY grp) AS m FROM s)
         | SELECT grp AS "grp",
         |   round(max(CASE WHEN rn = least(m, greatest(1,
         |     CAST(ceil(0.5e0 * m) AS BIGINT))) THEN v END), 6) AS "q50",
         |   round(max(CASE WHEN rn = least(m, greatest(1,
         |     CAST(ceil(0.9e0 * m) AS BIGINT))) THEN v END), 6) AS "q90"
         | FROM r GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")
    }),
    // ---- as-of join: the point-in-time operator Spark lacks --------------
    // Single-shuffle tagged-union rendering (no join node in the plan);
    // the oracle is DuckDB's NATIVE ASOF LEFT JOIN — what a DuckDB user
    // would actually write — so the semantics equivalence is checked
    // against an independent implementation, not a mirrored one.
    Q("q_asof_join", (s, dir) => {
      // no parallelism floor: the operator's first step is its own hash
      // shuffle, so the floor's round-robin would shuffle events twice
      // (once per union branch) for nothing
      val ev = Tables.eventsWithMs(s, dir, parallelismFloor = false)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      val probes = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ms"), col("event_type"))
      // key+time ties collapse INSIDE the one shuffle via tieBreak —
      // semantically the latestPerKeyTime pre-pass, minus its shuffle
      AsOfJoin.asof(probes, purchases, Seq("user_id"), "ms", "ms",
          Seq("purchase_id", "purchase_value"), tieBreak = Seq("purchase_id"))
        .orderBy("event_id")
    },
      Some("""WITH e AS (SELECT "event_id", "user_id", epoch_ms("ts") AS ms,
             |   "event_type", "value" FROM events),
             | p0 AS (SELECT "user_id", ms, "event_id" AS purchase_id,
             |   "value" AS purchase_value, row_number() OVER
             |     (PARTITION BY "user_id", ms ORDER BY "event_id" DESC) AS rk
             |  FROM e WHERE "event_type" = 'purchase'),
             | p AS (SELECT "user_id", ms, purchase_id, purchase_value
             |  FROM p0 WHERE rk = 1),
             | l AS (SELECT "event_id", "user_id", ms, "event_type" FROM e
             |  WHERE "event_type" <> 'purchase')
             | SELECT l."event_id", l."user_id", l.ms AS "ms", l."event_type",
             |   p.purchase_id AS "purchase_id",
             |   p.purchase_value AS "purchase_value"
             | FROM l ASOF LEFT JOIN p
             |   ON l."user_id" = p."user_id" AND l.ms >= p.ms
             | ORDER BY l."event_id"""".stripMargin.replace("\n", " "))),
    // ---- Bloom-filter decontamination: the unbounded-eval-set scale path.
    // OR-built bits are merge-order independent, and both engines derive
    // positions from the same base60 arithmetic, so even the false
    // positives are identical — the flag column hash-matches exactly.
    Q("q_bloom_decontaminate", (s, dir) =>
      Bloom.decontaminate(docsRanged(s, dir),
          col("doc_id") % 50 === 0)
        .orderBy("doc_id"),
      Some(s"WITH $tokCte, $shCte" +
        Bloom.decontaminateOracleSql("\"doc_id\" % 50 = 0"))),
    // ---- incremental (cross-corpus) exact dedup -------------------------
    // Resumable ingestion: a batch of new docs deduped within itself AND
    // against the previously ingested corpus (doc_id % 10 = 0 stands in
    // for the prior snapshot) via a fingerprint anti-join.
    Q("q_incremental_dedup", (s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      Dedup.incrementalExact(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0))
        .orderBy("fp")
    },
      Some("""WITH e AS (SELECT DISTINCT md5("text") AS fp FROM documents
             |   WHERE "doc_id" % 10 = 0),
             | b AS (SELECT md5("text") AS fp, "doc_id" FROM documents
             |   WHERE "doc_id" % 10 <> 0),
             | g AS (SELECT fp, min("doc_id") AS keep_doc_id,
             |     CAST(count(*) AS DOUBLE) AS dup_count FROM b GROUP BY 1)
             | SELECT g.fp AS "fp", keep_doc_id AS "keep_doc_id",
             |   dup_count AS "dup_count"
             | FROM g ANTI JOIN e ON g.fp = e.fp ORDER BY 1""".stripMargin
        .replace("\n", " "))),
    // ---- generic range join: bucketed equi-join realisation -------------
    // Five overlapping per-priority price bands derived from the data
    // itself, then every order range-joined into each band it falls in.
    // The oracle is the direct theta join (DuckDB plans an IE-join); the
    // Spark side must reproduce it through the bucket+residual plan.
    // Sums are in exact integer cents: no float-accumulation-order drift.
    Q("q_range_join", (s, dir) => {
      val o = Tables.read(s, dir, "orders")
        .select(col("o_totalprice"), col("o_orderpriority"))
      val bands = o.groupBy(col("o_orderpriority").as("band"))
        .agg(min("o_totalprice").as("lo"),
          (max("o_totalprice") + lit(1.0)).as("hi"))
      RangeJoin.rangeJoin(o.select(col("o_totalprice").as("v")), "v",
          bands, "lo", "hi", 25000.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          sum(org.apache.spark.sql.functions.round(col("v") * 100)
            .cast("long")).as("sum_cents"))
        .orderBy("band")
    },
      Some("WITH b AS (SELECT \"o_orderpriority\" AS band, " +
        "min(\"o_totalprice\") AS lo, max(\"o_totalprice\") + 1.0e0 AS hi " +
        "FROM orders GROUP BY 1) " +
        "SELECT band AS \"band\", count(*) AS \"n\", " +
        "CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS \"sum_cents\" " +
        "FROM (" + RangeJoin.rangeJoinOracleSql(
          "(SELECT \"o_totalprice\" AS v FROM orders)", "v", "b", "lo", "hi") +
        ") t GROUP BY 1 ORDER BY 1")),
    // ---- exact Jaccard-threshold join via prefix filtering ---------------
    // Token sets are hashed word 3-shingles (the dedup family's unit), so
    // the output is exactly the near-dup pairs the LSH path approximates —
    // here with guaranteed recall 1. Output is (pair, |A∩B|, |A∪B|) in
    // exact integers; the threshold filter compares the SAME IEEE
    // division on both engines. The oracle is the un-filtered
    // inverted-index join — an independent realisation with no prefix
    // pruning — so the prefix filter's exact-recall claim is what the
    // hash match certifies.
    Q("q_setsim_join", (s, dir) =>
      SetSimJoin.jaccardJoin(Tables.read(s, dir, "documents"), "doc_id",
          graft.expressions.VectorExpressions
            .shingleHashes(split(col("text"), " "), 3), 0.6)
        .select(col("a_id"), col("b_id"), col("inter"), col("usz"))
        .orderBy("a_id", "b_id"),
      Some(s"WITH $tokCte, $shCte, " +
        SetSimJoin.jaccardJoinOracleSql(
          "(SELECT \"doc_id\" AS _id, unnest(list_distinct(hs)) AS _tok FROM sh)",
          0.6) +
        " SELECT a_id, b_id, inter, usz FROM _out ORDER BY a_id, b_id")),
    // Directed containment (|A∩B|/|A| >= t) over the same shingle sets —
    // the asymmetric relation Jaccard misses (a short doc quoted inside a
    // long one). Same prefix-filter machinery, A-side prefix vs B's full
    // token list; oracle again the independent inverted-index join.
    Q("q_containment_join", (s, dir) =>
      SetSimJoin.containmentJoin(Tables.read(s, dir, "documents"), "doc_id",
          graft.expressions.VectorExpressions
            .shingleHashes(split(col("text"), " "), 3), 0.8)
        .select(col("a_id"), col("b_id"), col("inter"), col("a_size"))
        .orderBy("a_id", "b_id"),
      Some(s"WITH $tokCte, $shCte, " +
        SetSimJoin.containmentJoinOracleSql(
          "(SELECT \"doc_id\" AS _id, unnest(list_distinct(hs)) AS _tok FROM sh)",
          0.8) +
        " SELECT a_id, b_id, inter, a_size FROM _out ORDER BY a_id, b_id")),
    // ---- JSON metadata extraction --------------------------------------
    // events.props is a JSON payload column; parse with from_json (typed
    // struct, codegen'd Jackson parse — never a UDF) and aggregate the
    // extracted field. The oracle parses independently via DuckDB's JSON
    // extension.
    Q("q_json_props", (s, dir) =>
      Tables.read(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT "event_type", count(*) AS "n",
             | CAST(sum(CAST(json_extract_string("props", '$.k') AS BIGINT)) AS BIGINT) AS "sum_k",
             | min(CAST(json_extract_string("props", '$.k') AS BIGINT)) AS "min_k",
             | max(CAST(json_extract_string("props", '$.k') AS BIGINT)) AS "max_k"
             | FROM events GROUP BY 1 ORDER BY 1""".stripMargin
        .replace("\n", " "))),
    // ---- count-min sketch ------------------------------------------------
    // Top-20 exact token counts next to their CMS estimates. Both engines
    // address buckets with the same DualHash arithmetic, so estimates
    // (collisions included) hash-match exactly; the ≥-exact law is pinned
    // in ChunkSketchSpec.
    Q("q_cms_counts", (s, dir) => {
      val (d, w) = (CmsD, CmsW)
      val hashed = Tables.read(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .select(col("tok"), Dedup.base60Col(col("tok")).as("h"))
      val sk = hashed.agg(CountMin.sketch(col("h"), d, w).as("sk"))
      hashed.groupBy("tok")
        .agg(count(lit(1)).as("exact_cnt"), min("h").as("h"))
        .orderBy(desc("exact_cnt"), col("tok")).limit(20)
        .crossJoin(broadcast(sk))
        .select(col("tok"), col("exact_cnt"),
          CountMin.estimate(col("sk"), col("h"), d, w).as("cms_est"))
        .orderBy(desc("exact_cnt"), col("tok"))
    },
      Some {
        val (d, w) = (CmsD, CmsW)
        val sums = (0 until d).map(r =>
          s"s$r AS (${CountMin.bucketSumsSql(r, w, "hh")})").mkString(", ")
        val est = (0 until d).map(r =>
          CountMin.estimateSql(r, w, s"s$r", "h")).mkString("least(", ", ", ")")
        s"""WITH occ AS (SELECT unnest(string_split("text", ' ')) AS tok
           |  FROM documents),
           | hh AS (SELECT tok, ${DualHash.base60Sql("tok")} AS h FROM occ),
           | $sums,
           | top AS (SELECT tok, count(*) AS exact_cnt, min(h) AS h FROM hh
           |   GROUP BY 1 ORDER BY exact_cnt DESC, tok LIMIT 20)
           | SELECT tok AS "tok", exact_cnt AS "exact_cnt", $est AS "cms_est"
           | FROM top ORDER BY exact_cnt DESC, tok""".stripMargin
          .replace("\n", " ")
      }),
    // The CMS rollup path: per-partition sketches (stand-in: doc_id % 8)
    // merged by element-wise counter sum — CMS is linear, so the merged
    // sketch is bit-identical to one global pass and the oracle IS the
    // global q_cms_counts computation. Completes the mergeable-artifact
    // surface across all three sketch families (HLL registers, KMV k-min
    // sets, CMS counters); parquet round-trip law in ChunkSketchSpec.
    Q("q_cms_merged", (s, dir) => {
      val (d, w) = (CmsD, CmsW)
      val hashed = Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), col("tok"),
          Dedup.base60Col(col("tok")).as("h"))
      val sk = hashed
        .groupBy((col("doc_id") % 8).as("part"))
        .agg(CountMin.sketch(col("h"), d, w).as("sk"))
        .agg(CountMin.mergeSketch(col("sk"), d, w).as("sk"))
      hashed.groupBy("tok")
        .agg(count(lit(1)).as("exact_cnt"), min("h").as("h"))
        .orderBy(desc("exact_cnt"), col("tok")).limit(20)
        .crossJoin(broadcast(sk))
        .select(col("tok"), col("exact_cnt"),
          CountMin.estimate(col("sk"), col("h"), d, w).as("cms_est"))
        .orderBy(desc("exact_cnt"), col("tok"))
    },
      Some {
        val (d, w) = (CmsD, CmsW)
        val sums = (0 until d).map(r =>
          s"s$r AS (${CountMin.bucketSumsSql(r, w, "hh")})").mkString(", ")
        val est = (0 until d).map(r =>
          CountMin.estimateSql(r, w, s"s$r", "h")).mkString("least(", ", ", ")")
        s"""WITH occ AS (SELECT unnest(string_split("text", ' ')) AS tok
           |  FROM documents),
           | hh AS (SELECT tok, ${DualHash.base60Sql("tok")} AS h FROM occ),
           | $sums,
           | top AS (SELECT tok, count(*) AS exact_cnt, min(h) AS h FROM hh
           |   GROUP BY 1 ORDER BY exact_cnt DESC, tok LIMIT 20)
           | SELECT tok AS "tok", exact_cnt AS "exact_cnt", $est AS "cms_est"
           | FROM top ORDER BY exact_cnt DESC, tok""".stripMargin
          .replace("\n", " ")
      }),
    // ---- bigram log-probability (perplexity-style quality filter) --------
    // CCNet-style language-model filtering re-expressed exactly: train an
    // add-one-smoothed bigram model ON the corpus (two aggregations), then
    // score every document by its mean bigram log-probability
    // ln((c(w1,w2)+1) / (c1(w1)+V)) — low scorers are the gibberish /
    // boilerplate candidates. Counts are exact integers, V is the distinct
    // first-word vocabulary, the single ln is the only float op; the
    // one-row V rides a crossJoin like the other sketch scalars.
    //
    // Skew: the model joins are keyed by Zipf-distributed tokens — the
    // PROBED hottest first token carries ~2x the LSH bucket cap already
    // at sf0.001 (PlanAuditSpec "bigram model joins"), so shuffling the
    // corpus-scale bg side on `w1` would concentrate the hot token's rows
    // in one task at any scale. The post-agg model tables are vocabulary-
    // sized (sublinear in the corpus — Heaps' law; 31 rows here, probed),
    // so they BROADCAST instead, conf-keyed for corpora whose vocabulary
    // outgrows the driver: spark.graft.bigram.broadcastModel=false falls
    // back to the shuffle join + AQE skew split.
    Q("q_bigram_logprob", (s, dir) => {
      val mb: DataFrame => DataFrame =
        if (s.conf.get("spark.graft.bigram.broadcastModel", "true").toBoolean)
          org.apache.spark.sql.functions.broadcast
        else identity
      val ts = split(col("text"), " ")
      // bg, c2 and c1 each feed two consumers and are Shared, so the
      // model joins' inferred null filters stay above them and c1/v ride
      // c2's corpus explode
      val bg = Shared(Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          explode(arrays_zip(slice(ts, lit(1), size(ts) - 1),
            slice(ts, lit(2), size(ts) - 1))).as("bg"))
        .select(col("doc_id"), col("bg").getField("0").as("w1"),
          col("bg").getField("1").as("w2")))
      val c2 = Shared(bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
      // c1 and v derive from c2 at VOCABULARY scale (guide §2.4): the
      // per-w1 occurrence count is the sum of its (w1, w2) counts, and
      // every distinct w1 owns at least one c2 row — identical values,
      // but the corpus-scale bigram explode now backs ONE aggregate
      // whose exchange the c1/v branches reuse, instead of three
      // independent corpus passes (groupBy(w1) and countDistinct(w1)
      // each re-ran the explode; their post-partial-agg shuffles were
      // already vocabulary-sized, the map-side work was not).
      val c1 = Shared(c2.groupBy("w1").agg(sum(col("c2")).as("c1")))
      val v = c1.agg(count(lit(1)).as("v"))
      bg.join(mb(c2), Seq("w1", "w2")).join(mb(c1), Seq("w1")).crossJoin(v)
        .select(col("doc_id"),
          log((col("c2") + lit(1L)).cast("double") /
            (col("c1") + col("v")).cast("double")).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          org.apache.spark.sql.functions.round(avg(col("lp")), 6).as("logp"))
        .orderBy("doc_id")
    },
      Some("""WITH toks AS (SELECT "doc_id", string_split("text", ' ') AS t
             |  FROM documents),
             | bg AS (SELECT "doc_id", t[i] AS w1, t[i + 1] AS w2 FROM toks,
             |  UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
             | c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
             | c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
             | vv AS (SELECT count(DISTINCT w1) AS v FROM bg)
             | SELECT "doc_id", count(*) AS "n_bigrams",
             |   round(avg(ln(CAST(c2.c2 + 1 AS DOUBLE)
             |     / CAST(c1.c1 + vv.v AS DOUBLE))), 6) AS "logp"
             | FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv
             | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),
    // ---- KMV overlap / join-cardinality estimate -------------------------
    // What a planner wants BEFORE running a join at 100 TB: estimated
    // distinct keys per side, of the union, and (inclusion-exclusion) of
    // the intersection — three bounded KMV sketches, each a partial agg +
    // one single-buffer-row exchange, never a distinct-key shuffle. The
    // md5-derived hash makes the estimates bit-reproducible, so the
    // ESTIMATES hash-match the oracle, not just error bounds.
    Q("q_kmv_overlap", (s, dir) => {
      val k = 256
      val ev = Tables.read(s, dir, "events", parallelismFloor = false)
      def hashes(t: String) = ev.filter(col("event_type") === t)
        .select(Sketches.hashUnit(col("user_id"), ":ovl").as("h"))
      val p = hashes("purchase")
      val v = hashes("view")
      val estA = p.agg(Sketches.kmvEstimate(col("h"), k).as("_a"))
      val estB = v.agg(Sketches.kmvEstimate(col("h"), k).as("_b"))
      val estU = p.unionByName(v)
        .agg(Sketches.kmvEstimate(col("h"), k).as("_u"))
      estA.crossJoin(estB).crossJoin(estU).select(
        org.apache.spark.sql.functions.round(col("_a"), 6).as("est_a"),
        org.apache.spark.sql.functions.round(col("_b"), 6).as("est_b"),
        org.apache.spark.sql.functions.round(col("_u"), 6).as("est_union"),
        org.apache.spark.sql.functions.round(col("_a") + col("_b") - col("_u"), 6)
          .as("est_overlap"))
    },
      Some(Sketches.kmvOverlapOracleSql(
        "(SELECT \"user_id\" FROM events WHERE \"event_type\" = 'purchase')",
        "(SELECT \"user_id\" FROM events WHERE \"event_type\" = 'view')",
        ":ovl", 256))),
    // ---- salted skewed join ----------------------------------------------
    // Skew.saltedJoin's row-equivalence law, oracle-checked end to end: the
    // plain USING join is the oracle, the salted scatter (8 salt values,
    // xxhash64 of the row-unique event_id) is the Spark plan. The dim side
    // is a per-user aggregate of the same events table, the realistic shape
    // (hot user -> hot key on BOTH sides of the enrich join).
    Q("q_salted_join", (s, dir) => {
      val ev = Tables.read(s, dir, "events", parallelismFloor = false)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val dim = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(org.apache.spark.sql.functions.round(col("value") * 100)
          .cast("long")).as("user_cents"))
      graft.ext.Skew.saltedJoin(ev, dim, Seq("user_id"), saltParts = 8,
          bigSalt = graft.ext.Skew.saltFrom(col("event_id")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("user_cents")).as("sum_cents"))
        .orderBy("event_type")
    },
      Some("""WITH d AS (SELECT "user_id",
             |   CAST(sum(CAST(round("value" * 100) AS BIGINT)) AS BIGINT)
             |     AS user_cents
             |  FROM events WHERE "event_type" = 'purchase' GROUP BY 1)
             | SELECT "event_type", count(*) AS "n",
             |   CAST(sum(user_cents) AS BIGINT) AS "sum_cents"
             | FROM events e JOIN d USING ("user_id")
             | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),
    // ---- interval-overlap join -------------------------------------------
    // Per-user one-hour activity windows: purchase windows vs the windows
    // of every other event type, paired when they overlap in time. The
    // canonical-bucket join (no distinct on the pair output) vs DuckDB's
    // native IE-join theta plan; overlap durations are exact integer ms,
    // so the sum hash-matches.
    Q("q_interval_overlap", (s, dir) => {
      val w = 3600000L // 1 h window per event
      val ev = Tables.eventsWithMs(s, dir, parallelismFloor = false)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("p_lo"),
          (col("ms") + lit(w)).as("p_hi"))
      val v = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("b_type"),
          col("ms").as("v_lo"), (col("ms") + lit(w)).as("v_hi"))
      RangeJoin.intervalOverlapJoin(p, "p_lo", "p_hi", v, "v_lo", "v_hi",
          bucketWidth = w.toDouble, keys = Seq("user_id"))
        .groupBy("b_type")
        .agg(count(lit(1)).as("n"),
          sum(org.apache.spark.sql.functions.least(col("p_hi"), col("v_hi")) -
            org.apache.spark.sql.functions.greatest(col("p_lo"), col("v_lo")))
            .as("overlap_ms"))
        .orderBy("b_type")
    },
      Some("WITH e AS (SELECT \"user_id\", \"event_type\", " +
        "epoch_ms(\"ts\") AS ms FROM events), " +
        "p AS (SELECT \"user_id\", ms AS p_lo, ms + 3600000 AS p_hi " +
        "FROM e WHERE \"event_type\" = 'purchase'), " +
        "v AS (SELECT \"user_id\", \"event_type\" AS b_type, " +
        "ms AS v_lo, ms + 3600000 AS v_hi " +
        "FROM e WHERE \"event_type\" <> 'purchase') " +
        "SELECT b_type AS \"b_type\", count(*) AS \"n\", " +
        "CAST(sum(least(p_hi, v_hi) - greatest(p_lo, v_lo)) AS BIGINT) " +
        "AS \"overlap_ms\" FROM (" +
        RangeJoin.intervalOverlapOracleSql(
          "b_type, p_lo, p_hi, v_lo, v_hi",
          "p", "p_lo", "p_hi", "v", "v_lo", "v_hi", Seq("\"user_id\"")) +
        ") t GROUP BY 1 ORDER BY 1")),
    // ---- Z-order clustering key ------------------------------------------
    // The Morton key the layout job (ZOrder.clusterByZ) range-partitions
    // by, hash-checked bit for bit: dim 0 = n_chars (saturating 16-bit
    // clamp), dim 1 = a 16-bit slice of the language's md5-base60 hash.
    // The oracle recomputes the interleave with DuckDB bit arithmetic.
    Q("q_zorder_key", (s, dir) => {
      val x = col("n_chars")
      // base60 is a 60-bit non-negative value, so plain % == pmod here
      val y = graft.ext.Dedup.base60Col(col("lang")) % lit(65536L)
      Tables.read(s, dir, "documents", parallelismFloor = false)
        .select(col("doc_id"),
          graft.ext.ZOrder.zValue(Seq(x, y), bits = 16).as("z"))
        .orderBy("z", "doc_id")
    },
      Some {
        val y = s"(${DualHash.base60Sql("\"lang\"")} % 65536)"
        val z = graft.ext.ZOrder.zValueSql(Seq("\"n_chars\"", y), bits = 16)
        s"""SELECT "doc_id", $z AS "z" FROM documents
           | ORDER BY z, "doc_id"""".stripMargin.replace("\n", " ")
      }),
    // ---- Z-order layout job, end to end ----------------------------------
    // The nightly layout pipeline as one query: cluster the corpus by the
    // (n_chars, lang-hash) Morton key (ZOrder.clusterByZ — one range
    // shuffle), WRITE the Z-clustered parquet, then read it back through a
    // 2-D predicate + rollup, so the aggregate's scan runs over the
    // stats-pruned Z-files (ZOrderSpec MEASURES the pruning law on these
    // min/max stats: 18/64 file opens vs 64/64 x-sorted). The oracle
    // aggregates the same predicate off the original table — layout must
    // never change results, only which files a scan opens.
    Q("q_zorder_layout", (s, dir) => {
      val path = corpusTmp("zorder", dir)
      val docs = Tables.read(s, dir, "documents", parallelismFloor = false)
      graft.ext.ZOrder.clusterByZ(docs,
          Seq(col("n_chars"), graft.ext.Dedup.base60Col(col("lang")) % lit(65536L)),
          bits = 16, numPartitions = Some(8))
        .write.mode("overwrite").parquet(path)
      GraftParquet.read(s, path)
        .filter(col("n_chars") >= 500 && col("n_chars") < 2000 &&
          col("lang").isin("en", "fr"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    },
      Some("""SELECT "lang", count(*) AS "n_docs",
             | CAST(sum("n_chars") AS BIGINT) AS "sum_chars" FROM documents
             | WHERE "n_chars" >= 500 AND "n_chars" < 2000
             | AND "lang" IN ('en', 'fr')
             | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),
    // ---- key-skew diagnosis ----------------------------------------------
    // The report a job reads BEFORE picking a join strategy: hottest keys
    // with exact counts, share of all rows, and the ratio to the mean key
    // count (what AQE's skew factor thresholds against; the direct input
    // to Skew.saltedJoin's saltParts). One map-side-combinable agg — the
    // fact table never re-shuffles, nothing key-scale hits the driver.
    Q("q_skew_diagnose", (s, dir) =>
      graft.ext.Skew.diagnose(
          Tables.read(s, dir, "events", parallelismFloor = false),
          keys = Seq("user_id"), topK = 5)
        .orderBy("rank"),
      Some(graft.ext.Skew.diagnoseOracleSql("events", Seq("user_id"),
        topK = 5))),
    // ---- small-file compaction plan --------------------------------------
    // The layout job's other half: running-sum binning of a file listing
    // into ~target-byte rewrite groups, per partition — here demonstrated
    // on documents-as-files (doc_id/path, n_chars/bytes) partitioned by
    // lang, summarised per (lang, bin) as the rewrite job would consume it.
    Q("q_compaction_plan", (s, dir) =>
      graft.ext.Compaction.planSummary(
          Tables.read(s, dir, "documents", parallelismFloor = false)
            .select(col("doc_id"), col("lang"), col("n_chars")),
          idCol = "doc_id", sizeCol = "n_chars", targetBytes = 4096L,
          partitionCols = Seq("lang"))
        .orderBy("lang", "bin"),
      Some(graft.ext.Compaction.planSummaryOracleSql(
        "(SELECT \"doc_id\", \"lang\", \"n_chars\" FROM documents)",
        idCol = "doc_id", sizeCol = "n_chars", targetBytes = 4096L,
        partitionCols = Seq("lang"), orderBy = Seq("lang", "bin")))),
    // The UNPARTITIONED listing path: same running-sum bin law, but the
    // engine executes it as the two-phase bucketed cumsum (range-partition
    // by id + broadcast prefix offsets + bin-scale dense relabel) — no
    // single-task window anywhere (SkewSpec pins the plan). The oracle is
    // the literal global window, which the two-phase plan must equal row
    // for row.
    Q("q_compaction_global", (s, dir) =>
      graft.ext.Compaction.planSummary(
          Tables.read(s, dir, "documents", parallelismFloor = false)
            .select(col("doc_id"), col("n_chars")),
          idCol = "doc_id", sizeCol = "n_chars", targetBytes = 16384L)
        .orderBy("bin"),
      Some(graft.ext.Compaction.planSummaryOracleSql(
        "(SELECT \"doc_id\", \"n_chars\" FROM documents)",
        idCol = "doc_id", sizeCol = "n_chars", targetBytes = 16384L,
        partitionCols = Nil, orderBy = Seq("bin")))),
    // ---- duplicated-substring span coverage ------------------------------
    // Exact substring dedup's reporting half (Lee et al. 2022): per doc,
    // the token fraction covered by 4-grams that repeat anywhere in the
    // corpus. Longs-only shuffles; doc-bounded island window.
    Q("q_dup_span_coverage", (s, dir) =>
      SpanDedup.dupSpanCoverage(Tables.read(s, dir, "documents")),
      Some(SpanDedup.dupSpanCoverageOracleSql("documents"))),
    // ---- BM25 lexical retrieval ------------------------------------------
    // Retrieval-based curation: top-5 docs per term query; distinct query
    // terms broadcast so the corpus tf table is pruned before df-counting
    // and scoring; two-phase salted rank per query.
    Q("q_bm25_topk", (s, dir) =>
      Bm25.topK(Tables.read(s, dir, "documents"), Bm25Queries),
      Some(Bm25.topKOracleSql("documents", Bm25Queries))),
    // Hybrid retrieval: reciprocal-rank fusion (Cormack 2009) of the
    // lexical BM25 leg and a dense cosine leg (query doc's embedding;
    // doc_id/vec_id are aligned in the testdata). RRF consumes RANKS so
    // no score calibration; fusion itself never touches the corpus —
    // union of query-scale top-10s + one small groupBy + rank window.
    Q("q_hybrid_rrf", (s, dir) => {
      val lex = Bm25.topK(Tables.read(s, dir, "documents"), Bm25Queries,
          k = 10)
        .select(col("query_id"), col("doc_id"), col("rk"))
      val den = graft.ext.Hybrid.denseRanking(
        Tables.read(s, dir, "embeddings", parallelismFloor = false), Bm25Queries.map(_._1), k = 10)
      graft.ext.Hybrid.rrfFuse(Seq(lex, den), topK = 5)
        .orderBy("query_id", "rk")
    }, Some(graft.ext.Hybrid.rrfOracleSql(
      Bm25.topKOracleSql("documents", Bm25Queries, k = 10),
      Bm25Queries.map(_._1), legK = 10, topK = 5))),
    // ---- character-entropy quality gate ----------------------------------
    // Shannon entropy over a fixed 26-letter alphabet via the
    // length-difference counts: a per-row closed form (no explode, no
    // (doc, char) shuffle), staged so each letter count is computed once.
    Q("q_char_entropy", (s, dir) =>
      Pipeline.applySpark(docsRanged(s, dir), charEntropyStages)
        .orderBy("doc_id"),
      Some(Pipeline.toSql("documents", charEntropyStages, Seq("doc_id")))),
    // ---- tokenizer-vocabulary coverage -----------------------------------
    // Top-16 vocab by corpus frequency (two-phase salted rank, never a
    // global term sort) broadcast into a left join: per-doc OOV fraction.
    Q("q_vocab_oov", (s, dir) =>
      CorpusStats.vocabOov(Tables.read(s, dir, "documents")),
      Some(CorpusStats.vocabOovOracleSql("documents"))),
    // ---- per-language length z-score gate --------------------------------
    // Group-relative outlier flagging: per-lang (mean, stddev) broadcast
    // back onto the scan; |z| > 2 on the ROUNDED z so the boundary
    // decision is engine-identical.
    Q("q_length_zscore", (s, dir) =>
      PipelineOps.groupZScore(
          Tables.read(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          groupCol = "lang", valueCol = "n_chars")
        .orderBy("doc_id"),
      Some(PipelineOps.groupZScoreOracleSql(
        "(SELECT \"doc_id\", \"lang\", \"n_chars\" FROM documents)",
        groupCol = "lang", valueCol = "n_chars") + " ORDER BY \"doc_id\"")),
    // ---- event funnel ----------------------------------------------------
    // Strict-order first-touch conversion funnel (view -> click ->
    // purchase within 1h of the anchor): the fact table shuffles on
    // user_id once; every chained step joins user-keyed aggregates that
    // REUSE that partitioning.
    Q("q_event_funnel", (s, dir) =>
      graft.ext.EventAnalytics.funnel(Tables.eventsWithMs(s, dir, parallelismFloor = false),
        FunnelSteps, windowMs = 3600000L),
      Some(graft.ext.EventAnalytics.funnelOracleSql("events", FunnelSteps,
        windowMs = 3600000L))),
    // ---- cohort retention ------------------------------------------------
    // Users cohorted by first-event UTC day; (cohort, offset) distinct
    // active-user counts. Exact integer day bucketing (div / //).
    Q("q_retention_cohorts", (s, dir) =>
      graft.ext.EventAnalytics.retentionCohorts(Tables.eventsWithMs(s, dir, parallelismFloor = false)),
      Some(graft.ext.EventAnalytics.retentionCohortsOracleSql("events"))),
    // ---- marketing attribution -------------------------------------------
    // First/last-touch credit per conversion via two RANGE-framed packed
    // long min/max windows on ONE user_id exchange — no conversion-touch
    // self-join (the textbook form shuffles events twice).
    Q("q_attribution", (s, dir) =>
      graft.ext.EventAnalytics.attribution(Tables.eventsWithMs(s, dir, parallelismFloor = false),
          touchTypes = Seq("view", "click", "signup"))
        .orderBy("event_id"),
      Some(graft.ext.EventAnalytics.attributionOracleSql("events",
        touchTypes = Seq("view", "click", "signup")) +
        " ORDER BY \"event_id\"")),
    // ---- rolling active users (DAU / trailing-7 WAU) ---------------------
    // Rolling DISTINCT doesn't decompose: dedup to (user, day) first
    // (the ONLY corpus-scale agg), then a x7 explode over day-deduped
    // rows, never raw events.
    Q("q_active_users", (s, dir) =>
      graft.ext.EventAnalytics.activeUsers(Tables.eventsWithMs(s, dir, parallelismFloor = false)),
      Some(graft.ext.EventAnalytics.activeUsersOracleSql("events"))),
    // ---- per-session rollup ----------------------------------------------
    // Session granularity (q_events_sessionize is per-user counts): one
    // user-keyed shuffle carries the island window AND the rollup.
    Q("q_session_stats", (s, dir) =>
      graft.ext.EventAnalytics.sessionStats(Tables.eventsWithMs(s, dir, parallelismFloor = false)),
      Some(graft.ext.EventAnalytics.sessionStatsOracleSql("events"))),
    // ---- multi-dimensional aggregate (ROLLUP) ----------------------------
    // The OLAP subtotal lattice in ONE pass: Spark expands rollup into
    // grouping sets inside a single Expand+partial-agg (no per-level
    // re-scan); grouping_id disambiguates subtotal nulls from data nulls.
    // Null ordering pinned explicitly (Spark NULLS FIRST vs DuckDB's
    // NULLS LAST default).
    Q("q_events_rollup", (s, dir) =>
      Tables.eventsWithMs(s, dir, parallelismFloor = false)
        .select(col("event_type"), expr("ms div 86400000").as("day"),
          col("value"))
        .rollup("event_type", "day")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          org.apache.spark.sql.functions.round(sum(col("value")), 6)
            .as("total_value"))
        .select(col("gid"), col("event_type"), col("day"), col("n"),
          col("total_value"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first,
          col("day").asc_nulls_first),
      Some("""SELECT CAST(GROUPING("event_type", day) AS BIGINT) AS gid,
             | "event_type", epoch_ms("ts") // 86400000 AS day,
             | count(*) AS n, round(sum("value"), 6) AS total_value
             | FROM events
             | GROUP BY ROLLUP ("event_type", day)
             | ORDER BY gid, "event_type" NULLS FIRST, day NULLS FIRST"""
        .stripMargin.replace("\n", " "))),
    // ---- snapshot diff ---------------------------------------------------
    // Lakehouse table audit: full-outer key join of two snapshots with a
    // content-hash compare -> added / removed / changed / unchanged
    // summary. Snapshot B is derived deterministically from A here (drop
    // id%7, revise id%11, add negative-id id%13 rows) so both engines
    // diff identical inputs.
    Q("q_table_diff", (s, dir) => {
      val a = Tables.read(s, dir, "documents", parallelismFloor = false)
        .select(col("doc_id"), md5(col("text")).as("fp"))
      val base = Tables.read(s, dir, "documents", parallelismFloor = false)
      val b = base.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          md5(org.apache.spark.sql.functions.when(col("doc_id") % 11 === 0,
              concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("fp"))
        // added rows carry NEGATIVE ids (-id - 1): disjoint from the
        // non-negative real id space at ANY corpus size, unlike a fixed
        // positive offset a billion-doc snapshot would collide with
        .unionByName(base.filter(col("doc_id") % 13 === 0)
          .select((-col("doc_id") - lit(1L)).as("doc_id"),
            md5(col("text")).as("fp")))
      a.as("a").join(b.as("b"), col("a.doc_id") === col("b.doc_id"),
          "full_outer")
        .select(org.apache.spark.sql.functions.when(col("b.doc_id").isNull, "removed")
          .when(col("a.doc_id").isNull, "added")
          .when(col("a.fp") =!= col("b.fp"), "changed")
          .otherwise("unchanged").as("status"),
          coalesce(col("a.doc_id"), col("b.doc_id")).as("id"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy("status")
    },
      Some("""WITH a AS (SELECT "doc_id", md5("text") AS fp FROM documents),
             | b AS (SELECT "doc_id", md5(CASE WHEN "doc_id" % 11 = 0
             |     THEN concat("text", ' rev2') ELSE "text" END) AS fp
             |   FROM documents WHERE "doc_id" % 7 <> 0
             |   UNION ALL
             |   SELECT -"doc_id" - 1 AS "doc_id", md5("text") AS fp
             |   FROM documents WHERE "doc_id" % 13 = 0),
             | d AS (SELECT CASE WHEN b."doc_id" IS NULL THEN 'removed'
             |     WHEN a."doc_id" IS NULL THEN 'added'
             |     WHEN a.fp <> b.fp THEN 'changed'
             |     ELSE 'unchanged' END AS status,
             |     coalesce(a."doc_id", b."doc_id") AS id
             |   FROM a FULL OUTER JOIN b ON a."doc_id" = b."doc_id")
             | SELECT status, count(*) AS n, min(id) AS min_id,
             |   max(id) AS max_id
             | FROM d GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),
    // ---- SCD2 snapshot merge ---------------------------------------------
    // Dimension maintenance: the t0/t1 snapshot pair (derived
    // deterministically from orders — drop key%11, restate status on
    // key%5) folded into the SCD2 validity-interval row set in ONE
    // full-outer key join + a narrow 1-2-row in-map emission (no union
    // re-scan; the oracle's UNION ALL arms are SQL's spelling of the
    // same emission).
    Q("q_scd2_merge", (s, dir) => {
      val orders = Tables.read(s, dir, "orders", parallelismFloor = false)
      val base = orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val next = orders.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey"),
          org.apache.spark.sql.functions.when(col("o_orderkey") % 5 === 0,
            lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
          col("o_totalprice"))
      graft.ext.Scd2.snapshotMerge(base, next, key = "o_orderkey",
          attrs = Seq("o_orderstatus", "o_totalprice"), t0 = 100L, t1 = 200L)
        .orderBy("o_orderkey", "valid_from")
    },
      Some("SELECT * FROM (" + graft.ext.Scd2.snapshotMergeOracleSql(
        baseSql = "SELECT \"o_orderkey\", \"o_orderstatus\", " +
          "\"o_totalprice\" FROM orders WHERE \"o_orderkey\" % 7 <> 0",
        nextSql = "SELECT \"o_orderkey\", CASE WHEN \"o_orderkey\" % 5 = 0 " +
          "THEN 'X' ELSE \"o_orderstatus\" END AS \"o_orderstatus\", " +
          "\"o_totalprice\" FROM orders WHERE \"o_orderkey\" % 11 <> 0",
        key = "o_orderkey", attrs = Seq("o_orderstatus", "o_totalprice"),
        t0 = 100L, t1 = 200L) +
        ") ORDER BY \"o_orderkey\", \"valid_from\"")),
    // ---- PageRank over the near-dup graph --------------------------------
    // Iterative damped fixpoint (3 unrolled rounds) over the n-gram
    // Jaccard pair graph: every round's joins key on node id, reusing one
    // partitioning; edges symmetrized so no dangling mass. The edge-set
    // filter uses UNROUNDED jaccard in both engines (identical integer
    // ratio), so the graphs match exactly.
    Q("q_pagerank", (s, dir) =>
      graft.ext.GraphOps.pagerank(
        Dedup.persistedPairs(Tables.read(s, dir, "documents"),
          key = s"$dir/documents", threshold = 0.2, k = 16,
          rowsPerBand = 2)),
      Some(s"WITH $tokCte, $shCte, ${sigCte(16)}, ${bkCte(16, 2)}, $candCte, " +
        "st AS (SELECT \"doc_id\", list_distinct(hs) AS sh2 FROM sh), " +
        "j AS (SELECT cand.doc_a, cand.doc_b, " +
        "CAST(len(list_intersect(x.sh2, y.sh2)) AS DOUBLE) / " +
        "CAST(len(list_distinct(list_concat(x.sh2, y.sh2))) AS DOUBLE) AS jac " +
        "FROM cand JOIN st x ON x.\"doc_id\" = cand.doc_a " +
        "JOIN st y ON y.\"doc_id\" = cand.doc_b), " +
        "__pr_e AS (SELECT doc_a AS src, doc_b AS dst FROM j WHERE jac >= 0.2e0 " +
        "UNION SELECT doc_b AS src, doc_a AS dst FROM j WHERE jac >= 0.2e0)," +
        graft.ext.GraphOps.pagerankOracleSql())),
    // ---- pivot (long -> wide) --------------------------------------------
    // Spark's pivot with an EXPLICIT value list (no value-discovery job;
    // deterministic column order) compiles to one conditional-aggregation
    // pass — the oracle renders the same CASE sums, so the operator is
    // engine-portable by construction. Daily event-type count matrix.
    Q("q_events_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.eventsWithMs(s, dir, parallelismFloor = false)
        .select(expr("ms div 86400000").as("day"), col("event_type"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy("day")
    },
      Some("""SELECT epoch_ms("ts") // 86400000 AS day,
             | CAST(sum(CASE WHEN "event_type" = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             | CAST(sum(CASE WHEN "event_type" = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             | CAST(sum(CASE WHEN "event_type" = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             | CAST(sum(CASE WHEN "event_type" = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             | CAST(sum(CASE WHEN "event_type" = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             | FROM events GROUP BY 1 ORDER BY 1""".stripMargin
        .replace("\n", " "))),
    // ---- inter-arrival gap quantiles -------------------------------------
    // Per-user consecutive-event gaps (lag over the user timeline, total
    // (ms, event_id) order) rolled into exact per-type quantiles — the
    // latency-distribution report shape (lag + percentile composition).
    // The gap is attributed to the LATER event's type.
    Q("q_interarrival", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
      Tables.eventsWithMs(s, dir, parallelismFloor = false)
        .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
        .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          org.apache.spark.sql.functions.round(
            expr("percentile(gap, 0.5D)"), 6).as("p50"),
          org.apache.spark.sql.functions.round(
            expr("percentile(gap, 0.9D)"), 6).as("p90"))
        .orderBy("event_type")
    },
      Some("""WITH g AS (SELECT "event_type", epoch_ms("ts") - lag(epoch_ms("ts"))
             |   OVER (PARTITION BY "user_id" ORDER BY epoch_ms("ts"), "event_id")
             |   AS gap FROM events)
             | SELECT "event_type", count(*) AS n_gaps,
             |   round(quantile_cont(gap, 0.5), 6) AS p50,
             |   round(quantile_cont(gap, 0.9), 6) AS p90
             | FROM g WHERE gap IS NOT NULL
             | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),
    // ---- unpivot + describe ----------------------------------------------
    // The pandas df.describe() shape on an engine: wide -> long via
    // stack() (one narrow Expand, no shuffle), then one per-measure
    // summary agg. The reference's users profile every table this way
    // before modelling.
    Q("q_describe", (s, dir) => {
      val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val stackExpr = s"stack(${measures.size}, " + measures.map(m =>
        s"'$m', CAST($m AS DOUBLE)").mkString(", ") + ") AS (measure, value)"
      Tables.read(s, dir, "lineitem", parallelismFloor = false)
        .select(measures.map(col): _*)
        .selectExpr(stackExpr)
        .groupBy("measure")
        // mean/std at 4 decimals, not the usual 6: these are sums over
        // the FULL fact table (no grouping key bounding partial-sum
        // reorder), and at 1e5-magnitude values the cross-engine reorder
        // error approaches the 1e-6 grain — 1e-4 leaves real margin.
        // min/max are exact and keep 6.
        .agg(count(lit(1)).as("n"),
          org.apache.spark.sql.functions.round(avg(col("value")), 4).as("mean"),
          org.apache.spark.sql.functions.round(stddev_samp(col("value")), 4).as("std"),
          org.apache.spark.sql.functions.round(min(col("value")), 6).as("min_v"),
          org.apache.spark.sql.functions.round(max(col("value")), 6).as("max_v"))
        .orderBy("measure")
    },
      Some(("""WITH l AS (""" +
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(m =>
          s"""SELECT '$m' AS measure, CAST("$m" AS DOUBLE) AS value FROM lineitem""")
          .mkString(" UNION ALL ") + """)
             | SELECT measure, count(*) AS n, round(avg(value), 4) AS mean,
             |   round(stddev_samp(value), 4) AS std,
             |   round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
             | FROM l GROUP BY 1 ORDER BY 1""").stripMargin.replace("\n", " "))),
    // ---- sliding time windows (batch) ------------------------------------
    // Spark's window() with slide < size: each event lands in
    // size/slide = 2 windows via ONE in-map Expand (no self-join, no
    // explode UDF). Oracle mirrors the assignment arithmetically: window
    // starts are the two slide-aligned offsets covering the event.
    Q("q_sliding_hourly", (s, dir) =>
      Tables.eventsWithMs(s, dir, parallelismFloor = false)
        .select(timestamp_millis(col("ms")).as("t"), col("event_type"),
          col("value"))
        .groupBy(window(col("t"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          org.apache.spark.sql.functions.round(sum(col("value")), 6)
            .as("sum_value"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("w_start", "event_type"),
      Some("""WITH e AS (SELECT epoch_ms("ts") AS ms, "event_type", "value"
             |   FROM events),
             | w AS (SELECT 1800000 * (ms // 1800000) AS w_start, * FROM e
             |   UNION ALL
             |   SELECT 1800000 * (ms // 1800000) - 1800000 AS w_start, * FROM e)
             | SELECT w_start, "event_type", count(*) AS n,
             |   round(sum("value"), 6) AS sum_value
             | FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
        .replace("\n", " "))),
    // ---- ANN recall evaluation --------------------------------------------
    // Recall@5 of the IVF search vs the exact brute-force ground truth —
    // the acceptance gate an index retune runs before deployment. Both
    // legs rank on the 6-decimal-rounded cosine with id tiebreak, so the
    // truth set (hence recall) is engine-reproducible. At 100 TB the brute
    // leg runs over a query SAMPLE; the compare itself joins two
    // k-rows-per-query sets — eval-scale, never corpus-scale.
    // probes pinned to 2 explicitly: the oracle CTE hardwires crk <= 2,
    // so the registry query must NOT read the ivfProbes deploy conf — a
    // retune through the conf key would silently break the hash-match.
    // Retune evaluation calls Similarity.annRecall directly.
    Q("q_ann_recall", (s, dir) =>
      Similarity.annRecall(Tables.read(s, dir, "embeddings"), k = 5,
          probes = 2)
        .orderBy("qid"),
      Some("""WITH e AS (SELECT "vec_id", CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | n AS (SELECT "vec_id", v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             | cent AS (SELECT "vec_id" AS cid, v AS cv, nrm AS cn FROM n
             |   ORDER BY CENTHASH, "vec_id" LIMIT 16),
             | sc AS (SELECT n."vec_id" AS vid, n.v, n.nrm, c.cid,
             |   round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS csim
             |   FROM n CROSS JOIN cent c),
             | rk AS (SELECT vid, v, nrm, cid,
             |   row_number() OVER (PARTITION BY vid ORDER BY csim DESC, cid) AS crk FROM sc),
             | home AS (SELECT cid AS cell, vid AS nid, v AS vb, nrm AS nb FROM rk WHERE crk = 1),
             | pr AS (SELECT cid AS cell, vid AS qid, v AS va, nrm AS na FROM rk WHERE crk <= 2),
             | ip AS (SELECT qid, nid, round(list_dot_product(va, vb) / (na * nb), 6) AS sim
             |   FROM pr JOIN home USING (cell) WHERE qid <> nid),
             | ir AS (SELECT qid, nid,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS irk FROM ip),
             | ivf AS (SELECT qid, nid FROM ir WHERE irk <= 5),
             | bp AS (SELECT a."vec_id" AS qid, b."vec_id" AS nid,
             |   round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
             |   FROM n a JOIN n b ON a."vec_id" <> b."vec_id"),
             | br AS (SELECT qid, nid,
             |   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS brk FROM bp),
             | truth AS (SELECT qid, nid FROM br WHERE brk <= 5),
             | j AS (SELECT t.qid, CASE WHEN i.nid IS NULL THEN 0 ELSE 1 END AS hit
             |   FROM truth t LEFT JOIN ivf i ON t.qid = i.qid AND t.nid = i.nid)
             | SELECT qid AS "qid", count(*) AS "k_truth",
             |   CAST(sum(hit) AS BIGINT) AS "n_hits",
             |   round(CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE)
             |     / CAST(count(*) AS DOUBLE), 6) AS "recall"
             | FROM j GROUP BY 1 ORDER BY "qid"""".stripMargin.replace("\n", " ")
        .replace("CENTHASH",
          DualHash.base60Sql("concat(CAST(\"vec_id\" AS VARCHAR), ':42')")))),
    // ---- PMI collocations -------------------------------------------------
    // Corpus-wide top-20 bigram collocations by pointwise mutual
    // information (min pair count 3): PMI = ln(p(x,y) / (p(x)p(y))) over
    // exact integer counts — every operand cast to double individually and
    // ONE ln at the edge, so both engines compute the identical float.
    // Plan shape: one token explode + one bigram explode, partial-agg
    // counts, the vocabulary-sized unigram table joined twice (AQE
    // broadcasts it once the pair table is count-filtered), ONE-row
    // total-count crossJoins, TakeOrdered top-20 — no global sort.
    Q("q_pmi_collocations", (s, dir) => {
      val F = org.apache.spark.sql.functions
      // empty tokens (consecutive/leading/trailing spaces) are dropped
      // BEFORE pairing — same nonempty filter as Bpe.wordCounts, so ''
      // can never inflate totals or surface as a collocation member
      val ts = filter(split(col("text"), " "), x => x =!= "")
      val docs = Tables.read(s, dir, "documents")
      // bg, uni and bgc each feed two consumers and are Shared, so the
      // unigram joins' inferred null filters stay above them and the
      // totals branches reuse the aggregates' exchanges
      val bg = Shared(docs.select(explode(arrays_zip(slice(ts, lit(1), size(ts) - 1),
          slice(ts, lit(2), size(ts) - 1))).as("bg"))
        .select(col("bg").getField("0").as("w1"),
          col("bg").getField("1").as("w2")))
      val tk = docs.select(explode(ts).as("w"))
      val uni = Shared(tk.groupBy("w").agg(count(lit(1)).as("c")))
      val bgc = Shared(bg.groupBy("w1", "w2").agg(count(lit(1)).as("pair_count")))
      // totals DERIVED from the aggregates (sum of partial counts ==
      // direct count), so the corpus-scale explodes run once each —
      // not re-run for a bare count(*)
      val nn = uni.agg(sum(col("c")).as("n"))
      val mm = bgc.agg(sum(col("pair_count")).as("m"))
      bgc
        .filter(col("pair_count") >= 3)
        .join(uni.select(col("w").as("w1"), col("c").as("c1x")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c2x")), Seq("w2"))
        .crossJoin(nn).crossJoin(mm)
        .select(col("w1"), col("w2"), col("pair_count"),
          F.round(F.log((col("pair_count").cast("double") * col("n").cast("double")
              * col("n").cast("double"))
            / (col("m").cast("double") * col("c1x").cast("double")
              * col("c2x").cast("double"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },
      Some("""WITH toks AS (SELECT list_filter(string_split("text", ' '), x -> x <> '') AS t FROM documents),
             | bg AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM toks,
             |   UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
             | tk AS (SELECT unnest(t) AS w FROM toks),
             | uni AS (SELECT w, count(*) AS c FROM tk GROUP BY 1),
             | pc0 AS (SELECT w1, w2, count(*) AS pc FROM bg GROUP BY 1, 2),
             | nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
             | mm AS (SELECT CAST(sum(pc) AS BIGINT) AS m FROM pc0),
             | p AS (SELECT w1, w2, pc FROM pc0 WHERE pc >= 3)
             | SELECT w1 AS "w1", w2 AS "w2", pc AS "pair_count",
             |   round(ln((CAST(pc AS DOUBLE) * CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE))
             |     / (CAST(mm.m AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS "pmi"
             | FROM p JOIN uni u1 ON p.w1 = u1.w JOIN uni u2 ON p.w2 = u2.w
             | CROSS JOIN nn CROSS JOIN mm
             | ORDER BY "pmi" DESC, "w1", "w2" LIMIT 20""".stripMargin
        .replace("\n", " "))),
    // ---- per-source distinctive terms --------------------------------------
    // What characterises each source: top-5 tokens per source by smoothed
    // log-likelihood ratio ln( ((c_st+1)/(C_s+V)) / ((c_t-c_st+1)/(N-C_s+V)) )
    // — source-relative frequency vs the REST of the corpus, add-one
    // smoothed. Exact integer counts, one ln. The per-source top-5 runs
    // through the two-phase salted groupedTopK (no task ever gathers a
    // whole source's vocabulary); the oracle runs the row-identical global
    // window.
    Q("q_source_distinctive", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val tk = Tables.read(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .filter(col("t") =!= "") // Bpe.wordCounts' nonempty-token filter
      // ONE corpus-scale explode+aggregation; every other table derives
      // from the (source, token) counts at vocabulary scale (sum of
      // partial counts == direct count, so values are identical).
      val cst = tk.groupBy("source", "t").agg(count(lit(1)).as("c_st"))
      // c_t as a window sum over t instead of groupBy(t) + join-back
      // (guide §2.4: two operations keyed the same way share one
      // exchange): cst has at most one row per (source, t), so a t
      // partition holds at most |sources| rows — scale-safe — and the
      // join's second corpus-derived subtree plus its own t exchange
      // disappear from the plan. __rn_t tags one row per distinct t so
      // the (n, v) scalar derives from the same chain. Both run over one
      // window spec (the sum's frame is the whole partition), so they
      // plan as one Window operator behind one sort.
      val wT = Window.partitionBy("t").orderBy("source")
      val withCt = Shared(cst
        .withColumn("c_t", sum(col("c_st"))
          .over(wT.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("__rn_t", row_number().over(wT)))
      // cs derives from withCt (not cst): summing c_st per source over
      // the window output is value-identical, and withCt is Shared by its
      // three consumers, so the corpus explode + (source, t) aggregate
      // run once for all of them
      val cs = withCt
        .groupBy("source").agg(sum(col("c_st")).as("c_s"))
      val nv = withCt.where(col("__rn_t") === 1)
        .agg(sum(col("c_t")).as("n"), count(lit(1)).as("v"))
      val sc = withCt
        .join(org.apache.spark.sql.functions.broadcast(cs), Seq("source"))
        .crossJoin(nv)
        .select(col("source"), col("t"), col("c_st"),
          F.round(F.log(((col("c_st") + 1).cast("double")
              * (col("n") - col("c_s") + col("v")).cast("double"))
            / ((col("c_s") + col("v")).cast("double")
              * (col("c_t") - col("c_st") + 1).cast("double"))), 6).as("score"))
      CorpusStats.groupedTopK(sc, Seq(col("source")),
          Seq(col("score").desc, col("t")), xxhash64(col("t")), 5)
        .select(col("source"), col("t").as("token"), col("c_st"),
          col("score"), col("rk"))
        .orderBy("source", "rk")
    },
      Some("""WITH tk0 AS (SELECT "source", unnest(string_split("text", ' ')) AS t
             |   FROM documents),
             | tk AS (SELECT "source", t FROM tk0 WHERE t <> ''),
             | cst AS (SELECT "source", t, count(*) AS c_st FROM tk GROUP BY 1, 2),
             | ct AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM cst GROUP BY 1),
             | cs AS (SELECT "source", CAST(sum(c_st) AS BIGINT) AS c_s FROM cst GROUP BY 1),
             | nn AS (SELECT CAST(sum(c_t) AS BIGINT) AS n, count(*) AS v FROM ct),
             | sc AS (SELECT cst."source", cst.t, cst.c_st,
             |   round(ln((CAST(cst.c_st + 1 AS DOUBLE) * CAST(nn.n - cs.c_s + nn.v AS DOUBLE))
             |     / (CAST(cs.c_s + nn.v AS DOUBLE) * CAST(ct.c_t - cst.c_st + 1 AS DOUBLE))), 6) AS score
             |   FROM cst JOIN ct USING (t) JOIN cs USING ("source") CROSS JOIN nn),
             | r AS (SELECT *, row_number() OVER
             |   (PARTITION BY "source" ORDER BY score DESC, t) AS rk FROM sc)
             | SELECT "source", t AS "token", c_st AS "c_st", score AS "score",
             |   rk AS "rk"
             | FROM r WHERE rk <= 5 ORDER BY "source", rk""".stripMargin
        .replace("\n", " "))),
    // ---- output shard balance audit ----------------------------------------
    // Writer-balance report for a hash-sharded corpus sink: docs scatter to
    // 8 shards on the dual-compilable md5-base60 hash of doc_id; per shard,
    // doc count, token sum, deviation from the uniform doc share, and token
    // share. ONE map-side-combinable aggregation + an 8-row totals
    // crossJoin — the pre-write audit that decides whether the shard key
    // needs salting before a 100 TB export.
    Q("q_shard_balance", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val g = Tables.read(s, dir, "documents")
        .select(pmod(graft.ext.Dedup.base60Col(
            concat(col("doc_id").cast("string"), lit(":shard"))), lit(8L))
          .as("shard"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      // totals via an unpartitioned window over the 8-ROW aggregate —
      // bounded by shard cardinality by construction (the global-window
      // ban applies to data-scale rows, not an 8-row report), and it
      // avoids a totals crossJoin that would re-scan the corpus
      val whole = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("td", sum(col("n_docs")).over(whole))
        .withColumn("tt", sum(col("n_tokens")).over(whole))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          F.round(col("n_docs").cast("double") * 8.0d / col("td").cast("double")
            - 1.0d, 6).as("doc_dev"),
          F.round(col("n_tokens").cast("double") / col("tt").cast("double"), 6)
            .as("token_share"))
        .orderBy("shard")
    },
      Some("""WITH d AS (SELECT (BASE60 % 8) AS shard,
             |   CAST(len(string_split("text", ' ')) AS BIGINT) AS nt FROM documents),
             | g AS (SELECT shard, count(*) AS n_docs,
             |   CAST(sum(nt) AS BIGINT) AS n_tokens FROM d GROUP BY 1)
             | SELECT shard AS "shard", n_docs AS "n_docs", n_tokens AS "n_tokens",
             |   round(CAST(n_docs AS DOUBLE) * 8.0
             |     / CAST(CAST(sum(n_docs) OVER () AS BIGINT) AS DOUBLE) - 1.0, 6) AS "doc_dev",
             |   round(CAST(n_tokens AS DOUBLE)
             |     / CAST(CAST(sum(n_tokens) OVER () AS BIGINT) AS DOUBLE), 6) AS "token_share"
             | FROM g ORDER BY "shard"""".stripMargin
        .replace("\n", " ")
        .replace("BASE60",
          DualHash.base60Sql("concat(CAST(\"doc_id\" AS VARCHAR), ':shard')")))),
    // ---- distribution-matched resampling (DSIR shape) ---------------------
    // Resample the corpus so its token-length-bucket distribution matches
    // the English subset's (the in-corpus proxy for "match the target
    // domain's length profile"): per-bucket importance ratios off two
    // bucket-count aggregates, normalised by the ONE-row max into accept
    // probabilities, deterministic hashUniform Bernoulli keep. The corpus
    // never shuffles — only bucket-cardinality aggregates move.
    Q("q_dist_match", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val base = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("nt"))
      PipelineOps.distributionMatch(base, expr("nt div 20"),
          col("lang") === "en")
        .select(col("doc_id"), col("nt").as("n_tokens"), col("bucket"),
          F.round(col("accept_p"), 6).as("accept_p"))
        .orderBy("doc_id")
    },
      Some("""WITH b AS (SELECT "doc_id", "lang",
             |   CAST(len(string_split("text", ' ')) AS BIGINT) AS nt FROM documents),
             | bb AS (SELECT *, (nt // 20) AS bucket FROM b),
             | cnt AS (SELECT bucket, count(*) AS c_b,
             |   CAST(sum(CASE WHEN "lang" = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_b
             |   FROM bb GROUP BY 1),
             | nm AS (SELECT CAST(sum(c_b) AS BIGINT) AS n,
             |   CAST(sum(t_b) AS BIGINT) AS m FROM cnt),
             | rate AS (SELECT cnt.bucket,
             |   CASE WHEN nm.m > 0 THEN
             |     (CAST(cnt.t_b AS DOUBLE) * CAST(nm.n AS DOUBLE))
             |       / (CAST(nm.m AS DOUBLE) * CAST(cnt.c_b AS DOUBLE))
             |   ELSE 0.0e0 END AS ratio
             |   FROM cnt CROSS JOIN nm),
             | rmax AS (SELECT max(ratio) AS rmax FROM rate),
             | acc AS (SELECT bucket, CASE WHEN rmax > 0 THEN ratio / rmax
             |   ELSE 0.0e0 END AS accept_p FROM rate CROSS JOIN rmax)
             | SELECT bb."doc_id", bb.nt AS "n_tokens", bb.bucket AS "bucket",
             |   round(acc.accept_p, 6) AS "accept_p"
             | FROM bb JOIN acc USING (bucket)
             | WHERE HASHU < acc.accept_p
             | ORDER BY bb."doc_id"""".stripMargin.replace("\n", " ")
        .replace("HASHU", PipelineOps.hashUniformSql("\"doc_id\"", ":dmatch")))),
    // Normalization-tolerant exact dedup (the C4 convention: dedup on the
    // CANONICAL form, not the raw bytes): group on the md5 of lowercased,
    // space-stripped text — catches case/whitespace-only duplicates raw
    // q_dedup_exact misses. Same one-aggregation shape: text never
    // shuffles, only the 16-byte fingerprint does.
    Q("q_dedup_norm", (s, dir) => {
      val fpn = E.toColumn(TA.normalizedFingerprint(
        graft.expr.Raw(col("text"), "?")))
      Tables.read(s, dir, "documents")
        .select(fpn.as("fp_norm"), col("doc_id"))
        .groupBy("fp_norm")
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).cast("double").as("dup_count"))
        .orderBy("fp_norm")
    },
      Some("SELECT " +
        E.toSql(TA.normalizedFingerprint(graft.expr.Raw(null, "\"text\""))) +
        """ AS "fp_norm", min("doc_id") AS "keep_doc_id",
          | CAST(count(*) AS DOUBLE) AS "dup_count"
          | FROM documents GROUP BY 1 ORDER BY "fp_norm"""".stripMargin
          .replace("\n", " "))),
    // Tokenizer compression audit: chars per BPE token, per source — the
    // "is the tokenizer efficient on THIS domain" check run before
    // committing a vocabulary (a domain at 5+ chars/token trains fine; one
    // near 1 is being shredded char-by-char). ONE map-side-combinable
    // aggregation over the dual-rendered BPE count; shuffle carries only
    // per-source partial sums.
    Q("q_bpe_compression", (s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("source"),
          org.apache.spark.sql.functions.length(col("text")).cast("long")
            .as("nc"),
          graft.ext.Bpe.tokenCount(col("text")).as("ntb"))
        .groupBy("source")
        .agg(sum(col("nc")).as("n_chars"),
          sum(col("ntb")).as("n_tokens_bpe"),
          org.apache.spark.sql.functions.round(
            sum(col("nc")).cast("double") / sum(col("ntb")).cast("double"), 6)
            .as("chars_per_token"))
        .orderBy("source"),
      Some(("""WITH b AS (SELECT "source", CAST(length("text") AS BIGINT) AS nc,
              |   CAST(BPECOUNT AS BIGINT) AS ntb FROM documents)
              | SELECT "source", CAST(sum(nc) AS BIGINT) AS "n_chars",
              |   CAST(sum(ntb) AS BIGINT) AS "n_tokens_bpe",
              |   round(CAST(sum(nc) AS DOUBLE) / CAST(sum(ntb) AS DOUBLE), 6)
              |     AS "chars_per_token"
              | FROM b GROUP BY 1 ORDER BY "source"""").stripMargin
        .replace("\n", " ")
        .replace("BPECOUNT", graft.ext.Bpe.tokenCountSql("\"text\"")))),
    // ---- event-rate anomaly detection --------------------------------------
    // Rolling z-score on HOURLY counts per event type over a DENSE hour
    // spine (each type's observed [min, max] hour span, zero-filled):
    // zero-event hours emit rows and CAN alert — a total outage is the
    // severest rate anomaly, and on a sparse hourly table it would
    // otherwise be invisible AND silently stretch a 24-ROW frame across
    // days. On the dense spine the 24-row trailing frame (current hour
    // excluded; >= 12 history hours) IS trailing-24-hours. Everything
    // slides over the time-bounded hourly aggregate, never raw events —
    // at 100 TB the fact table contributes one map-side-combined count
    // and is done. The anomaly decision reads the ROUNDED z so the
    // |z| > 3 boundary can't flip between engines.
    Q("q_rate_anomaly", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val hourly = Tables.eventsWithMs(s, dir, parallelismFloor = false)
        .groupBy(col("event_type"), expr("ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      val spine = hourly.groupBy("event_type")
        .agg(F.min(col("h")).as("h0"), F.max(col("h")).as("h1"))
        .select(col("event_type"),
          explode(F.sequence(col("h0"), col("h1"))).as("h"))
      val filled = spine.join(hourly, Seq("event_type", "h"), "left")
        .na.fill(0L, Seq("n"))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-24, -1)
      val st = filled
        .withColumn("hist_n", count(lit(1)).over(w))
        .withColumn("mu", F.avg(col("n")).over(w))
        .withColumn("sd", F.stddev_pop(col("n")).over(w))
        .filter(col("hist_n") >= 12)
      val z = F.round(F.when(col("sd") > 0,
        (col("n").cast("double") - col("mu")) / col("sd"))
        .otherwise(lit(0.0)), 6)
      st.select(col("event_type"), col("h"), col("n"),
          F.round(col("mu"), 6).as("mu"), F.round(col("sd"), 6).as("sd"),
          z.as("z"))
        .withColumn("anomaly", (F.abs(col("z")) > 3.0).cast("long"))
        .orderBy("event_type", "h")
    },
      Some("""WITH e AS (SELECT "event_type", epoch_ms("ts") // 3600000 AS h
             |   FROM events),
             | hourly AS (SELECT "event_type", h, count(*) AS n FROM e GROUP BY 1, 2),
             | b AS (SELECT "event_type", min(h) AS h0, max(h) AS h1
             |   FROM hourly GROUP BY 1),
             | spine AS (SELECT "event_type", unnest(generate_series(h0, h1)) AS h
             |   FROM b),
             | filled AS (SELECT s."event_type", s.h, COALESCE(hourly.n, 0) AS n
             |   FROM spine s LEFT JOIN hourly
             |   ON s."event_type" = hourly."event_type" AND s.h = hourly.h),
             | st AS (SELECT "event_type", h, n,
             |   count(*) OVER w AS hist_n, avg(n) OVER w AS mu,
             |   stddev_pop(n) OVER w AS sd
             |   FROM filled WINDOW w AS (PARTITION BY "event_type" ORDER BY h
             |     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
             | f AS (SELECT "event_type", h, n, mu, sd,
             |   round(CASE WHEN sd > 0 THEN (CAST(n AS DOUBLE) - mu) / sd
             |     ELSE 0.0e0 END, 6) AS z
             |   FROM st WHERE hist_n >= 12)
             | SELECT "event_type", h AS "h", n AS "n", round(mu, 6) AS "mu",
             |   round(sd, 6) AS "sd", z AS "z",
             |   CAST(CASE WHEN abs(z) > 3.0e0 THEN 1 ELSE 0 END AS BIGINT)
             |     AS "anomaly"
             | FROM f ORDER BY "event_type", "h"""".stripMargin
        .replace("\n", " "))),
    // ---- data-contract expectations (Deequ-style) ---------------------------
    // Declarative constraint suite over the corpus table, evaluated in ONE
    // map-side-combinable aggregation pass (the distinct-count for the
    // uniqueness check is the only Expand): key non-null + unique, range,
    // domain membership, non-emptiness, and a derived-column consistency
    // check (stored n_chars == length(text)). One row per constraint with
    // its violation count — the pre-ingest gate a lakehouse runs before
    // accepting a drop. Every predicate is NULL-HOSTILE: a NULL lang /
    // n_chars / text VIOLATES its constraint rather than slipping through
    // on three-valued logic — a producer that starts shipping nulls is
    // exactly what the gate exists to catch.
    Q("q_expectations", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val langs = Seq("en", "de", "es", "fr", "zh")
      def viol(c: org.apache.spark.sql.Column) =
        sum(F.when(F.coalesce(c, lit(true)), 1L).otherwise(0L))
      val agg = Tables.read(s, dir, "documents").agg(
        viol(col("doc_id").isNull).as("v_null"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("v_dup"),
        viol(!col("n_chars").between(1L, 100000L)).as("v_range"),
        viol(!col("lang").isin(langs: _*)).as("v_domain"),
        viol(F.length(col("text")) === 0).as("v_empty"),
        viol(!(col("n_chars") <=>
          F.length(col("text")).cast("long"))).as("v_consistent"))
      agg.select(expr(
        "stack(6, 'doc_id_not_null', v_null, 'doc_id_unique', v_dup, " +
          "'n_chars_in_range', v_range, 'lang_in_domain', v_domain, " +
          "'text_not_empty', v_empty, 'n_chars_consistent', v_consistent) " +
          "AS (constraint, violations)"))
        .withColumn("passed", (col("violations") === 0L).cast("long"))
        .orderBy("constraint")
    },
      Some("""WITH a AS MATERIALIZED (SELECT
             |   CAST(sum(CASE WHEN "doc_id" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
             |   CAST(count(*) - count(DISTINCT "doc_id") AS BIGINT) AS v_dup,
             |   CAST(sum(CASE WHEN COALESCE(NOT ("n_chars" BETWEEN 1 AND 100000), TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
             |   CAST(sum(CASE WHEN COALESCE("lang" NOT IN ('en', 'de', 'es', 'fr', 'zh'), TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_domain,
             |   CAST(sum(CASE WHEN COALESCE(length("text") = 0, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS v_empty,
             |   CAST(sum(CASE WHEN "n_chars" IS DISTINCT FROM CAST(length("text") AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS v_consistent
             |   FROM documents),
             | u AS (
             |   SELECT 'doc_id_not_null' AS c, v_null AS v FROM a
             |   UNION ALL SELECT 'doc_id_unique', v_dup FROM a
             |   UNION ALL SELECT 'n_chars_in_range', v_range FROM a
             |   UNION ALL SELECT 'lang_in_domain', v_domain FROM a
             |   UNION ALL SELECT 'text_not_empty', v_empty FROM a
             |   UNION ALL SELECT 'n_chars_consistent', v_consistent FROM a)
             | SELECT c AS "constraint", v AS "violations",
             |   CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS BIGINT) AS "passed"
             | FROM u ORDER BY "constraint"""".stripMargin
        .replace("\n", " "))),
    // ---- per-label embedding centroids --------------------------------------
    // Class prototypes (nearest-class-mean classification, semdedup seeds,
    // per-class drift probes): element-wise mean of the embedding per
    // label, emitted LONG-form (label, pos, centroid) so no array
    // reassembly or ordering ambiguity exists. One posexplode + one
    // (label, pos)-keyed aggregation — (labels x dim) output rows; the
    // same groupZScore round-6 discipline bounds float reorder noise.
    // Embedding-space drift monitor — the vector sibling of q_psi_drift:
    // per label, the cosine between the centroids of two corpus slices
    // (vec_id parity stands in for old/new snapshots). A drop below ~1
    // means the label's embedding distribution moved — the retraining/
    // re-indexing trigger an embedding pipeline watches. Same
    // element-wise vector-sum aggregate as q_label_centroids (ONE
    // (label, slice) partial-agg pass, dim-doubles states); centroid
    // elements are rounded to 6 dp BEFORE the cosine in both engines, so
    // the index-order dot kernel hash-matches.
    Q("q_centroid_drift", (s, dir) => {
      val F = org.apache.spark.sql.functions
      val dim = Tables.EmbeddingDim
      val e = Tables.read(s, dir, "embeddings", parallelismFloor = false)
        .select(col("label").cast("long").as("label"),
          expr("vec_id % 2").cast("long").as("slice"),
          col("embedding").cast("array<double>").as("v"))
      val sums = (0 until dim).map(i => sum(col("v")(i)).as(s"s_$i"))
      val cent = e.groupBy("label", "slice")
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("label"), col("slice"), col("n"),
          array((0 until dim).map(i =>
            F.round(col(s"s_$i") / col("n").cast("double"), 6)): _*).as("c"))
      val a = cent.filter(col("slice") === 1L)
        .select(col("label"), col("n").as("n_a"), col("c").as("ca"))
      val b = cent.filter(col("slice") === 0L)
        .select(col("label"), col("n").as("n_b"), col("c").as("cb"))
      val cos = Similarity.dot(col("ca"), col("cb")) /
        (F.sqrt(Similarity.dot(col("ca"), col("ca"))) *
          F.sqrt(Similarity.dot(col("cb"), col("cb"))))
      a.join(b, "label")
        .select(col("label"), col("n_a"), col("n_b"),
          F.round(cos, 6).as("cos_drift"))
        .orderBy("label")
    },
      Some("""WITH e AS (SELECT CAST("label" AS BIGINT) AS label,
             |   ("vec_id" % 2) AS slice,
             |   CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | x AS (SELECT label, slice, i, v[i] AS x FROM e,
             |   UNNEST(generate_series(1, len(v))) AS u(i)),
             | s AS (SELECT label, slice, i,
             |   round(sum(x) / count(*), 6) AS c FROM x GROUP BY 1, 2, 3),
             | n AS (SELECT label, slice, count(*) AS n FROM e GROUP BY 1, 2),
             | ag AS (SELECT label, slice, list(c ORDER BY i) AS c
             |   FROM s GROUP BY 1, 2)
             | SELECT a.label AS "label", na.n AS "n_a", nb.n AS "n_b",
             |   round(list_dot_product(a.c, b.c)
             |     / (sqrt(list_dot_product(a.c, a.c))
             |       * sqrt(list_dot_product(b.c, b.c))), 6) AS "cos_drift"
             | FROM ag a JOIN ag b ON a.label = b.label
             |   AND a.slice = 1 AND b.slice = 0
             | JOIN n na ON na.label = a.label AND na.slice = 1
             | JOIN n nb ON nb.label = a.label AND nb.slice = 0
             | ORDER BY "label"""".stripMargin.replace("\n", " "))),
    Q("q_label_centroids", (s, dir) => {
      val F = org.apache.spark.sql.functions
      // Element-wise vector-sum aggregate: ONE partial-agg pass whose
      // state is dim doubles + a count per label (the Sketches stored-
      // state discipline) — the corpus is never posexploded into
      // corpus×dim rows, and the shuffle carries labels×dim doubles.
      // The only row expansion sits ABOVE the aggregate, fanning the
      // label-cardinality result out to its (label, pos) output rows.
      val dim = Tables.EmbeddingDim
      val e = Tables.read(s, dir, "embeddings", parallelismFloor = false)
        .select(col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
      val sums = (0 until dim).map(i => sum(col("v")(i)).as(s"s_$i"))
      e.groupBy("label")
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("label"), col("n"),
          posexplode(array((0 until dim).map(i => col(s"s_$i")): _*))
            .as(Seq("pos", "s")))
        .select(col("label"), col("pos").cast("long").as("pos"), col("n"),
          F.round(col("s") / col("n").cast("double"), 6).as("centroid"))
        .orderBy("label", "pos")
    },
      Some("""WITH e AS (SELECT CAST("label" AS BIGINT) AS label,
             |   CAST("embedding" AS DOUBLE[]) AS v FROM embeddings),
             | x AS (SELECT label, i - 1 AS pos, v[i] AS x FROM e,
             |   UNNEST(generate_series(1, len(v))) AS u(i))
             | SELECT label AS "label", CAST(pos AS BIGINT) AS "pos",
             |   count(*) AS "n", round(avg(x), 6) AS "centroid"
             | FROM x GROUP BY 1, 2 ORDER BY "label", "pos"""".stripMargin
        .replace("\n", " ")))
  )

  /** Funnel step sequence for [[graft.ext.EventAnalytics.funnel]] over the
    * events testdata. */
  private val FunnelSteps = Seq("view", "click", "purchase")

  /** Fixed retrieval query set for [[Bm25]] (terms from the synthetic
    * corpus vocabulary; human-scale query side, corpus-scale doc side). */
  private val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join"),
    2L -> Seq("window", "merge", "sort"),
    3L -> Seq("customer", "data"),
    4L -> Seq("hash", "table", "scan"))

  /** Staged char-entropy pipeline: letter counts once (stage 1), total
    * (stage 2), raw entropy (stage 3), rounded bits + effective alphabet
    * size 2^H (stage 4). */
  private[graft] val charEntropyStages: Vector[Stage] = {
    val letters = TA.entropyAlphabet
    val countCols = letters.map(ch => s"c_$ch")
    val s1 = Stage(Seq[(String, E)]("doc_id" -> C("doc_id")) ++
      letters.map(ch => s"c_$ch" -> TA.charCountOf(text, ch)))
    val s2 = Stage(Seq[(String, E)]("doc_id" -> C("doc_id")) ++
      countCols.map(c => c -> (C(c): E)) :+
      ("n_letters" -> E.sumAll(countCols.map(C(_): E))))
    val s3 = Stage(Seq[(String, E)](
      "doc_id" -> C("doc_id"), "n_letters" -> C("n_letters"),
      "h_raw" -> TA.charEntropyBits(countCols.map(C(_): E), C("n_letters"))))
    val s4 = Stage(Seq[(String, E)](
      "doc_id" -> C("doc_id"), "n_letters" -> C("n_letters"),
      "entropy_bits" -> E.round(C("h_raw"), 6),
      "eff_alphabet" -> E.round(E.pow(Lit(2.0), C("h_raw")), 6)))
    Vector(s1, s2, s3, s4)
  }

  /** CMS query geometry: 4 rows x 512 buckets — small enough that the
    * oracle's correlated lookups stay cheap, big enough that the sf0.01
    * corpus still produces real (identical-on-both-engines) collisions. */
  private val CmsD = 4
  private val CmsW = 512

  /** Projection applied after the JSONL read-back (and, in the oracle, to
    * the original table). */
  private val jsonlStages = Vector(Stage(Seq[(String, E)](
    "doc_id" -> C("doc_id"),
    "n_tokens" -> TA.tokenCount(text),
    "fp" -> TA.fingerprint(text))))

  /** Per-doc quality/language/fingerprint projection feeding the
    * corpus-clean composite (and its oracle, via [[Pipeline.toSql]]). */
  private val cleanStages = Vector(Stage(Seq[(String, E)](
    "doc_id" -> C("doc_id"),
    "n_tokens" -> TA.tokenCount(text),
    "quality" -> TA.qualityScore(text),
    "lang_pred" -> TA.langId(text),
    "fp" -> TA.fingerprint(text))))

  /** doc_id + language + token count, the partitioned sink's payload. */
  private val langStages = Vector(Stage(Seq[(String, E)](
    "doc_id" -> C("doc_id"),
    "n_tokens" -> TA.tokenCount(text),
    "lang_pred" -> TA.langId(text))))

  /** Deterministic per-sf scratch dir for the sink queries (overwritten on
    * every run; cold+warm bench runs and Verify share it safely because
    * each query run rewrites before reading). */
  private def corpusTmp(name: String, dir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_corpusio_${name}_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      .getAbsolutePath
}
