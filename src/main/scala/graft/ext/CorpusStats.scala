package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Shared

/** Corpus-level statistics operators for training-data curation:
  * per-group top-k selection, TF-IDF term weighting, and exact
  * per-group quantiles.
  */
object CorpusStats {

  /** Scale-safe per-group top-k. A single `Window.partitionBy(group)` is
    * the textbook form but gathers EVERY row of a group into one task —
    * with 5 languages over 100 TB that is a straight OOM. Instead rank in
    * two phases: a local top-k within (group, salt mod buckets), then the
    * real rank over the <= k*buckets survivors per group. Row-identical
    * to the global window (any global top-k row is also top-k in its
    * bucket), but no task ever sees more than its bucket slice.
    *
    * @param order ranking columns (the window ORDER BY; include an id
    *              tiebreak so ranks are total)
    * @param salt  any well-distributed integer column (e.g. the doc id)
    */
  def groupedTopK(df: DataFrame, group: Seq[Column], order: Seq[Column],
                  salt: Column, k: Int, buckets: Int = 64): DataFrame = {
    val local = Window.partitionBy(group :+ pmod(salt, lit(buckets)): _*)
      .orderBy(order: _*)
    val global = Window.partitionBy(group: _*).orderBy(order: _*)
    // rk as long: DuckDB's row_number() is BIGINT, and the output rank is
    // part of the oracle-compared schema — int32 vs int64 is invisible to
    // the driver's hash but rejected by the type-strict local gate
    df.withColumn("rk", row_number().over(local)).filter(col("rk") <= k)
      .withColumn("rk", row_number().over(global).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Top-k terms per document by TF-IDF (idf = ln((N+1)/(df+1)) + 1, the
    * smoothed sklearn form). Two aggregations — (doc, term) counts and
    * per-term doc frequencies — then a term-keyed join AQE can broadcast
    * when the post-threshold vocabulary is small, and the per-doc top-k
    * window (bounded by the doc's distinct-term count, never corpus
    * size). N comes from a driver count — one scalar, same value the
    * oracle's COUNT(*) subquery computes. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.count()
    // Shared: the df aggregate and the scoring join both read the (doc,
    // term) counts, and the tokenize + explode runs once
    val tf = Shared(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((lit(n.toDouble) + lit(1.0)) /
      (col("df").cast("double") + lit(1.0))) + lit(1.0)
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("tfidf", col("tf").cast("double") * idf)
      .withColumn("rk", row_number().over(w).cast("long")) // BIGINT like the oracle's
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"),
        round(col("tfidf"), 6).as("tfidf"), col("rk"))
  }

  /** DuckDB rendering of [[tfidfTopTerms]] — identical tokenization,
    * counts, idf arithmetic and (tfidf DESC, term) ranking. */
  def tfidfOracleSql(k: Int): String =
    s"""WITH tok AS (SELECT "doc_id", string_split("text", ' ') AS toks FROM documents),
       | tk AS (SELECT "doc_id", unnest(toks) AS term FROM tok),
       | tf AS (SELECT "doc_id", term, count(*) AS tf FROM tk GROUP BY 1, 2),
       | df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       | sc AS (SELECT tf."doc_id", tf.term,
       |   CAST(tf.tf AS DOUBLE) * (ln((CAST((SELECT count(*) FROM documents) AS DOUBLE) + 1.0e0)
       |     / (CAST(df.df AS DOUBLE) + 1.0e0)) + 1.0e0) AS tfidf
       |   FROM tf JOIN df USING (term)),
       | r AS (SELECT *, row_number() OVER (PARTITION BY "doc_id"
       |   ORDER BY tfidf DESC, term) AS rk FROM sc)
       | SELECT "doc_id", term AS "term", round(tfidf, 6) AS "tfidf", rk AS "rk"
       | FROM r WHERE rk <= $k ORDER BY "doc_id", rk""".stripMargin
      .replace("\n", " ")

  /** Estimated pairwise content overlap (Jaccard over word 3-shingles)
    * between corpus sources, via per-source MinHash signatures — the
    * "how much does dataset A repeat dataset B" audit run before mixing
    * sources into a training corpus.
    *
    * Scale shape: a source signature is `perms` affine-family minima
    * over every shingle hash in the source — each min is an associative
    * aggregate, so the whole computation is one partial-aggregated
    * groupBy("source") whose shuffle carries `perms` longs per source
    * per partition, never shingles or text. The pairwise comparison then
    * runs on a source-cardinality table (tens of rows at any corpus
    * size); its non-equi self-join is a deliberate tiny cross, not a
    * data-scale join. Signature-equality fraction estimates Jaccard with
    * standard error ~1/sqrt(perms).
    */
  def sourceOverlap(docs: DataFrame, perms: Int = 32,
                    shingleSize: Int = 3): DataFrame = {
    require(perms >= 1 && perms <= 64, "perms must be in [1, 64]")
    def family(i: Int, h: Column): Column =
      (lit(DualHash.famA(i)) * (h % lit(DualHash.P)) + lit(DualHash.famB(i))) %
        lit(DualHash.P)
    val hs = docs.select(col("source"),
      explode(array_distinct(graft.expressions.VectorExpressions
        .shingleHashes(split(col("text"), " "), shingleSize))).as("h"))
    val aggs = (0 until perms).map(i => min(family(i, col("h"))).as(s"m$i"))
    val sig = hs.groupBy("source").agg(aggs.head, aggs.tail: _*)
    val eq = (0 until perms).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1.0).otherwise(0.0))
      .reduce(_ + _)
    sig.as("a").join(sig.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        round(eq / lit(perms.toDouble), 6).as("est_jaccard"))
  }

  /** DuckDB mirror of [[sourceOverlap]]: same shingle hashes, affine
    * minima and signature-equality fraction. */
  def sourceOverlapOracleSql(perms: Int, shingleSize: Int = 3): String = {
    val n = shingleSize
    val sl = DualHash.base60Sql(
      s"array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')")
    val mins = (0 until perms).map(i =>
      s"min(${DualHash.familySql(i, "h")}) AS m$i").mkString(", ")
    val eq = (0 until perms).map(i =>
      s"(CASE WHEN a.m$i = b.m$i THEN 1.0e0 ELSE 0.0e0 END)")
      .mkString("(", " + ", ")")
    s"""WITH tok AS (SELECT "source", string_split("text", ' ') AS toks
       |   FROM documents),
       | sh AS (SELECT "source",
       |   list_transform(range(1, greatest(len(toks) - ${n - 1}, 1) + 1),
       |     i -> $sl) AS hs FROM tok),
       | eh AS (SELECT "source", unnest(hs) AS h FROM sh),
       | sg AS (SELECT "source", $mins FROM eh GROUP BY 1)
       | SELECT a."source" AS "src_a", b."source" AS "src_b",
       |   round($eq / ${perms}.0e0, 6) AS "est_jaccard"
       | FROM sg a JOIN sg b ON a."source" < b."source"
       | ORDER BY "src_a", "src_b"""".stripMargin.replace("\n", " ")
  }

  /** Exact per-language length quantiles. Spark's `percentile` holds a
    * value->count map per group — bounded by DISTINCT lengths (small
    * ints), not row count, so it survives scale; corpora with unbounded
    * continuous keys should switch to approx_percentile. */
  def langQuantiles(docs: DataFrame): DataFrame =
    docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      round(expr("percentile(n_chars, 0.5D)"), 6).as("p50"),
      round(expr("percentile(n_chars, 0.9D)"), 6).as("p90"),
      round(expr("percentile(n_chars, 0.99D)"), 6).as("p99"))

  val langQuantilesOracleSql: String =
    """SELECT "lang", count(*) AS "n_docs",
      | round(quantile_cont("n_chars", 0.5), 6) AS "p50",
      | round(quantile_cont("n_chars", 0.9), 6) AS "p90",
      | round(quantile_cont("n_chars", 0.99), 6) AS "p99"
      | FROM documents GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")

  /** Curriculum bucketing: assign every document a difficulty/quality
    * decile (0 = lowest score .. buckets-1) from the GLOBAL score
    * quantiles, plus a deterministic within-bucket shuffle key — the
    * ordering stage of curriculum training (feed easy/high-quality
    * buckets first, shuffled within each bucket) and the cut surface of
    * quantile-based quality pruning ("drop the bottom two deciles").
    *
    * Scale shape: ONE one-row aggregate computes all buckets-1 cut
    * points (exact interpolated percentile — key-cardinality-bounded
    * like [[langQuantiles]]; switch to approx_percentile for unbounded
    * continuous scores), broadcast back onto the corpus scan via the
    * allowed one-row crossJoin; bucket assignment is a per-row
    * `size(filter(cuts, q > _))` over the tiny cut array. No
    * data-scale shuffle, no global sort — the curriculum ORDER is
    * (bucket, pri), which a consumer range-partitions on.
    *
    * Both the scores and the cut points are rounded to 6 decimals
    * before comparison, so the bucket boundary decision is identical on
    * both engines. */
  def curriculum(docs: DataFrame, score: Column, buckets: Int = 10,
                 salt: String = ":curr"): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    val ps = (1 until buckets).map(i => i.toDouble / buckets)
    val base = docs.select(col("doc_id"), round(score, 6).as("q"))
    val cuts = base.agg(transform(
      expr(s"percentile(q, array(${ps.map(p => s"${p}D").mkString(",")}))"),
      c => round(c, 6)).as("cuts"))
    base.crossJoin(broadcast(cuts))
      .withColumn("bucket", size(filter(col("cuts"), c => col("q") > c)))
      .withColumn("pri",
        round(PipelineOps.hashUniform(col("doc_id"), salt), 6))
      .select(col("doc_id"), col("q"), col("bucket"), col("pri"))
  }

  /** DuckDB rendering of [[curriculum]]; `scoreSql` is the score
    * expression over the documents table's columns. */
  def curriculumOracleSql(scoreSql: String, buckets: Int = 10,
                          salt: String = ":curr"): String = {
    val ps = (1 until buckets).map(i => i.toDouble / buckets)
    val u = PipelineOps.hashUniformSql("\"doc_id\"", salt)
    s"""WITH b AS (SELECT "doc_id", round($scoreSql, 6) AS q,
       |   round($u, 6) AS pri FROM documents),
       | c AS (SELECT list_transform(
       |     quantile_cont(q, [${ps.mkString(", ")}]),
       |     x -> round(x, 6)) AS cuts FROM b)
       | SELECT "doc_id", q,
       |   CAST(len(list_filter(c.cuts, x -> q > x)) AS INTEGER) AS bucket,
       |   pri
       | FROM b CROSS JOIN c""".stripMargin.replace("\n", " ")
  }

  /** Tokenizer-vocabulary coverage: rank the corpus vocabulary by total
    * frequency, keep the top `v` terms (ties broken by term text, so the
    * cut is total and engine-independent), and report each document's
    * out-of-vocabulary token count and fraction — the audit run before
    * fixing a tokenizer's vocabulary size: how much of the corpus does a
    * size-v vocab actually cover, and which documents fall outside it.
    *
    * Scale shape: term counting is one partial-aggregated groupBy (the
    * shuffle carries (term, count), vocabulary scale, not corpus scale);
    * the top-v cut reuses [[groupedTopK]]'s two-phase salted rank with a
    * constant group — at a billion distinct terms no task ever ranks more
    * than its salt bucket's local top-v. The resulting v-row vocabulary
    * broadcasts into a left join against the exploded corpus, and the
    * per-document rollup is map-side combinable.
    */
  def vocabOov(docs: DataFrame, v: Int = 16): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tc = tok.groupBy("term").agg(count(lit(1)).as("c"))
    val vocab = groupedTopK(tc, Seq(lit(1)), Seq(col("c").desc, col("term")),
        salt = xxhash64(col("term")), k = v)
      .select(col("term"), lit(1L).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_frac"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[vocabOov]] — same (count DESC, term) vocabulary
    * cut and per-document rollup. */
  def vocabOovOracleSql(table: String, v: Int = 16): String =
    s"""WITH tok AS (SELECT "doc_id", unnest(string_split("text", ' ')) AS term
       |   FROM $table),
       | tc AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
       | voc AS (SELECT term FROM tc ORDER BY c DESC, term LIMIT $v)
       | SELECT "doc_id", CAST(count(*) AS BIGINT) AS n_tokens,
       |   CAST(sum(CASE WHEN voc.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |     AS n_oov,
       |   round(CAST(sum(CASE WHEN voc.term IS NULL THEN 1 ELSE 0 END)
       |       AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_frac
       | FROM tok LEFT JOIN voc ON tok.term = voc.term
       | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")
}
