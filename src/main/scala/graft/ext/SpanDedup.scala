package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Shared

/** Exact duplicated-substring span coverage — the position-aware sibling of
  * passage dedup ([[PipelineOps.segmentDedup]]). Training corpora repeat
  * long verbatim token runs (boilerplate, licences, mirrored pages), and
  * "exact substring deduplication" (Lee et al. 2022, arXiv:2107.06499)
  * trims or drops documents by how much of them is covered by text that
  * occurs elsewhere. The suffix-array formulation of that paper is a
  * single-machine construction; the scale-out equivalent used here is the
  * standard k-gram fingerprint form: every k-token gram is hashed, grams
  * occurring more than once in the corpus mark their [p, p+k-1] token
  * interval as duplicated, and per-document interval union gives the
  * covered-token count. Any duplicated run of length >= k is covered
  * exactly (its grams all repeat); runs shorter than k are invisible —
  * the same recall contract as the paper's min-match-length.
  *
  * Scale shape:
  *  - gram rows carry (doc_id, pos, hash60) longs only — text never
  *    shuffles;
  *  - duplicate detection is a partial-aggregated groupBy on the hash
  *    followed by a hash-keyed equi-join back (both skew-tolerant: the
  *    count agg map-side-combines, and a hot gram is one AQE-splittable
  *    key);
  *  - interval union runs in a window partitioned by doc_id, ordered by
  *    position — bounded by a single document's gram count, never corpus
  *    size (the gaps-and-islands rewrite; no global sort anywhere).
  *
  * The gram hash is the cross-engine [[DualHash]] md5-base60 over the
  * space-joined gram string, so the DuckDB oracle
  * ([[dupSpanCoverageOracleSql]]) computes identical duplicate sets and
  * the coverage numbers hash-match.
  */
object SpanDedup {

  /** Per-document duplicated-span coverage report: token count, number of
    * maximal duplicated spans, tokens covered, covered fraction.
    *
    * @param k minimum duplicated run length in tokens (gram width)
    */
  /** Hash array of a document's k-token grams (one per start position).
    * Clamped slice length so short documents yield an empty array. */
  private[graft] def gramHashArr(textCol: String, k: Int)
      : org.apache.spark.sql.Column = {
    val toks = split(col(textCol), " ")
    val m = greatest(size(toks) - lit(k - 1), lit(0))
    val slices = (0 until k).map(j => slice(toks, lit(j + 1), m))
    transform(arrays_zip(slices: _*), s =>
      Dedup.base60Col(concat_ws(" ",
        (0 until k).map(j => s.getField(j.toString)): _*)))
  }

  def dupSpanCoverage(docs: DataFrame, k: Int = 4,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"gram width k must be >= 2, got $k")
    val toks = split(col(textCol), " ")
    val spark = docs.sparkSession
    val nPart = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    // ONE materialized gram table (guide §8: move the light proxy, don't
    // recompute the heavy hash): the explicit doc-keyed exchange carries
    // (doc_id, p, hash) longs only and doubles as the island window's
    // required partitioning. It is [[graft.Shared]] by the duplicate-hash
    // count and the coverage join, so the md5 gram hashing (this
    // operator's dominant per-row cost) runs once.
    val grams = Shared(docs
      .select(col(idCol), posexplode(gramHashArr(textCol, k)).as(Seq("p", "h")))
      .repartition(nPart, col(idCol)))
    // grams occurring > 1 time corpus-wide (partial agg, then longs-only
    // join back on the hash). Null-id rule: a document without an id is
    // not part of the corpus, so count(id) skips its grams, and the id
    // join below gives it no coverage.
    val dupH = grams.groupBy("h")
      .agg(count(col(idCol)).as("c"))
      .filter(col("c") > 1).select("h")
    val dup = grams.join(dupH, "h")
      .select(col(idCol), col("p").cast("long").as("p"),
        (col("p") + lit(k - 1)).cast("long").as("e"))
    // gaps-and-islands union of the [p, e] intervals per document: a new
    // island starts where p exceeds every previous end. (p is unique per
    // doc — one gram per position — so the window order is total.)
    val w = Window.partitionBy(idCol).orderBy("p")
    val prevMaxEnd = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dup
      .withColumn("ni",
        when(prevMaxEnd.isNull || col("p") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("isl",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = islands.groupBy(col(idCol), col("isl"))
      .agg(min(col("p")).as("s"), max(col("e")).as("e2"))
    val cov = spans.groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e2") - col("s") + lit(1L)).as("covered"))
    val lens = docs.select(col(idCol),
      size(toks).cast("long").as("n_tokens"))
    lens.join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_frac"))
      .orderBy(idCol)
  }

  /** Contamination SPANS — the surgical half of decontamination: where
    * [[PipelineOps.decontaminate]] flags a document that shares ANY
    * k-gram with the eval set, this reports each maximal token interval
    * that overlaps eval-set grams, so a cleaner can excise the
    * contaminated spans instead of dropping whole documents (the span
    * form of Lee et al.'s trimming, aimed at eval contamination).
    *
    * Scale shape: eval gram hashes stay a DataFrame joined via
    * `broadcast` (eval benchmarks are KB-MB scale; no driver collect, so
    * this form also survives a larger eval set than the literal-array
    * variant); the corpus side ships (doc_id, pos, hash) longs only, and
    * the interval union is the same doc-bounded island window as
    * [[dupSpanCoverage]]. Output: (doc_id, span_start, span_end,
    * span_tokens), token positions. */
  def contaminationSpans(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
                         k: Int = 3, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 2, s"gram width k must be >= 2, got $k")
    val grams = docs
      .select(col(idCol), evalPred.as("__is_eval"),
        posexplode(gramHashArr(textCol, k)).as(Seq("p", "h")))
    val evalH = grams.where(col("__is_eval")).select("h").distinct()
    val hits = grams.where(!col("__is_eval")).join(broadcast(evalH), "h")
      .select(col(idCol), col("p").cast("long").as("p"),
        (col("p") + lit(k - 1)).cast("long").as("e"))
    val w = Window.partitionBy(idCol).orderBy("p")
    val prevMaxEnd = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("ni",
        when(prevMaxEnd.isNull || col("p") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("isl",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("p")).as("span_start"), max(col("e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + lit(1L)).as("span_tokens"))
  }

  /** DuckDB rendering of [[contaminationSpans]]; `evalPredSql` selects
    * the eval rows of `table`. */
  def contaminationSpansOracleSql(table: String, evalPredSql: String,
                                  k: Int = 3, idCol: String = "doc_id",
                                  textCol: String = "text"): String = {
    val id = s""""$idCol""""
    val gram = DualHash.base60Sql(
      s"array_to_string(list_slice(t, i, i + ${k - 1}), ' ')")
    s"""WITH tok AS (SELECT $id, string_split("$textCol", ' ') AS t FROM $table),
       | g AS (SELECT $id, CAST(i - 1 AS BIGINT) AS p, $gram AS h
       |   FROM tok, UNNEST(generate_series(1, len(t) - ${k - 1})) u(i)),
       | ev AS (SELECT DISTINCT h FROM g WHERE $evalPredSql),
       | d AS (SELECT $id, p, p + ${k - 1} AS e FROM g JOIN ev USING (h)
       |   WHERE NOT ($evalPredSql)),
       | i1 AS (SELECT $id, p, e,
       |   CASE WHEN p > coalesce(max(e) OVER (PARTITION BY $id ORDER BY p
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |   THEN 1 ELSE 0 END AS ni FROM d),
       | i2 AS (SELECT $id, p, e, sum(ni) OVER (PARTITION BY $id ORDER BY p
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM i1)
       | SELECT $id, min(p) AS span_start, max(e) AS span_end,
       |   max(e) - min(p) + 1 AS span_tokens
       | FROM i2 GROUP BY $id, isl""".stripMargin.replace("\n", " ")
  }

  /** DuckDB rendering of the identical computation (same [[DualHash]]
    * base60 gram hashes, same island arithmetic). */
  def dupSpanCoverageOracleSql(table: String, k: Int = 4,
                               idCol: String = "doc_id",
                               textCol: String = "text"): String = {
    val id = s""""$idCol""""
    val gram = DualHash.base60Sql(
      s"array_to_string(list_slice(t, i, i + ${k - 1}), ' ')")
    s"""WITH tok AS (SELECT $id, string_split("$textCol", ' ') AS t FROM $table),
       | g AS (SELECT $id, CAST(i - 1 AS BIGINT) AS p, $gram AS h
       |   FROM tok, UNNEST(generate_series(1, len(t) - ${k - 1})) u(i)),
       | hc AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
       | d AS (SELECT $id, p, p + ${k - 1} AS e FROM g JOIN hc USING (h)),
       | i1 AS (SELECT $id, p, e,
       |   CASE WHEN p > coalesce(max(e) OVER (PARTITION BY $id ORDER BY p
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |   THEN 1 ELSE 0 END AS ni FROM d),
       | i2 AS (SELECT $id, p, e, sum(ni) OVER (PARTITION BY $id ORDER BY p
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM i1),
       | sp AS (SELECT $id, isl, min(p) AS s, max(e) AS e2 FROM i2 GROUP BY 1, 2),
       | cov AS (SELECT $id, CAST(count(*) AS BIGINT) AS n_dup_spans,
       |   CAST(sum(e2 - s + 1) AS BIGINT) AS covered FROM sp GROUP BY 1),
       | lens AS (SELECT $id, CAST(len(string_split("$textCol", ' ')) AS BIGINT)
       |   AS n_tokens FROM $table)
       | SELECT $id, n_tokens,
       |   coalesce(n_dup_spans, 0) AS n_dup_spans,
       |   coalesce(covered, 0) AS covered_tokens,
       |   round(CAST(coalesce(covered, 0) AS DOUBLE)
       |     / CAST(n_tokens AS DOUBLE), 6) AS dup_frac
       | FROM lens LEFT JOIN cov USING ($id) ORDER BY $id""".stripMargin
      .replace("\n", " ")
  }
}
