package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.Shared

/** BM25 lexical retrieval over a document corpus: score every document
  * against a set of term queries with the Okapi BM25 ranking function
  * (Robertson & Zaragoza 2009, Lucene's non-negative idf form) and return
  * the top-k documents per query.
  *
  * This is the retrieval half of retrieval-based data curation: selecting
  * pre-training documents relevant to a target set by lexical similarity,
  * building eval-neighborhood audits, or powering a RAG index over the
  * corpus. The query set is assumed SMALL (human-scale: tens to thousands
  * of term lists) while the corpus is the 100 TB side.
  *
  * Scale shape:
  *  - the corpus-scale explode is pruned to query terms IN PLACE (an
  *    InSet predicate over the human-scale term list), so the one
  *    partial-aggregated (doc_id, term) groupBy — and everything after
  *    it — only ever touches rows whose term occurs in some query;
  *  - per-term document frequencies and the (N, avgdl) corpus stats are
  *    tiny aggregates broadcast back (df has one row per distinct query
  *    term; stats is one row);
  *  - per-query ranking uses [[CorpusStats.groupedTopK]]'s two-phase
  *    salted rank, so no task ever gathers a whole query's match list.
  *
  * Ranking is made total (and engine-independent) by ranking on the
  * 6-decimal-rounded score with doc_id as tiebreak.
  */
object Bm25 {

  /** Top-k documents per query by BM25.
    *
    * Output: (query_id, rk, doc_id, score), ordered by (query_id, rk).
    *
    * @param queries (query_id, whitespace-free query terms); term lists
    *                are deduplicated per query before scoring
    */
  def topK(docs: DataFrame, queries: Seq[(Long, Seq[String])], k: Int = 5,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty, "BM25 needs at least one query")
    require(queries.forall(_._2.nonEmpty),
      s"every query needs at least one term; empty: " +
        queries.filter(_._2.isEmpty).map(_._1).mkString(","))
    val spark = docs.sparkSession
    val qRows = for ((qid, terms) <- queries; t <- terms.distinct)
      yield Row(qid, t)
    val qt = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 1),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("term", StringType, nullable = false))))
    // distinct query terms as a LITERAL predicate (the query set is
    // human-scale by contract — tens to thousands of terms, an InSet
    // hash lookup per token), so non-query tokens die at the explode
    // (guide §2.3 project/filter before the exchange): the (doc, term)
    // aggregation's map-side hash and its shuffle carry query-term rows
    // only, instead of building the full corpus (doc, term) table and
    // pruning it AFTER the aggregate with a broadcast join.
    val qtermList = queries.flatMap(_._2).distinct

    val toks = split(col(textCol), " ")
    // (doc, term) counts with the doc length carried through the explode —
    // avoids a second corpus-scale join just to fetch doclen. Shared: the
    // document frequencies and the scores both read it, and the corpus
    // explode runs once.
    val tfq = Shared(docs
      .select(col(idCol).as("doc_id"), size(toks).cast("double").as("dl"),
        explode(toks).as("term"))
      .where(col("term").isin(qtermList: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), min(col("dl")).as("dl")))
    // document frequency per query term ((doc, term) is unique in tf, so
    // count(*) = #docs containing the term); one row per query term
    val dfreq = tfq
      .groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = docs
      .select(size(toks).cast("double").as("dl0"))
      .agg(count(lit(1)).cast("double").as("n"), avg(col("dl0")).as("avgdl"))

    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)))
    val termScore = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tfq
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("s", termScore)
      .join(broadcast(qt), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("s")), 6).as("score"))

    CorpusStats.groupedTopK(scored, Seq(col("query_id")),
        Seq(col("score").desc, col("doc_id")), salt = col("doc_id"), k = k)
      .select(col("query_id"), col("rk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rk")
  }

  /** DuckDB rendering of the identical ranking (same idf form, same
    * rounded-score tiebreak). */
  def topKOracleSql(table: String, queries: Seq[(Long, Seq[String])],
                    k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
                    idCol: String = "doc_id", textCol: String = "text"): String = {
    val id = s""""$idCol""""
    // SLit-style single-quote escaping: a term like "it's" must render
    // as 'it''s', not break the VALUES list
    val qVals = (for ((qid, terms) <- queries; t <- terms.distinct)
      yield s"(CAST($qid AS BIGINT), '${t.replace("'", "''")}')")
      .mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $qVals),
       | tok AS (SELECT $id AS doc_id, string_split("$textCol", ' ') AS t FROM $table),
       | base AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       |   unnest(t) AS term FROM tok),
       | tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf,
       |   min(dl) AS dl FROM base GROUP BY 1, 2),
       | qterms AS (SELECT DISTINCT term FROM q),
       | tfq AS (SELECT tf.* FROM tf JOIN qterms USING (term)),
       | dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfq GROUP BY 1),
       | stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |   avg(CAST(len(t) AS DOUBLE)) AS avgdl FROM tok),
       | ts AS (SELECT doc_id, term,
       |   ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |     * (tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl / avgdl)) AS s
       |   FROM tfq JOIN dfreq USING (term) CROSS JOIN stats),
       | sc AS (SELECT query_id, doc_id, round(sum(s), 6) AS score
       |   FROM ts JOIN q USING (term) GROUP BY 1, 2),
       | rkd AS (SELECT query_id, doc_id, score, row_number() OVER
       |   (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk FROM sc)
       | SELECT query_id, rk, doc_id AS $id, score FROM rkd
       | WHERE rk <= $k ORDER BY query_id, rk""".stripMargin
      .replace("\n", " ")
  }
}
