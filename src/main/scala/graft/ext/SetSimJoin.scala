package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Shared

/** Exact set-similarity self-join: all document pairs whose token-set
  * Jaccard is >= a threshold, via prefix filtering (Bayardo et al.,
  * "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al. PPJoin,
  * WWW'08) — the EXACT counterpart of the MinHash/LSH path in
  * [[Dedup]], which trades recall for a fixed candidate budget.
  *
  * Candidate generation uses the prefix-filter theorem: order every
  * doc's tokens by a single global order (document frequency ascending,
  * token ascending — rarest first), keep each doc's first
  * `n - ceil(t*n) + 1` tokens, and equi-join docs sharing a prefix
  * token. Any pair with Jaccard >= t is guaranteed to share a prefix
  * token under a consistent global order, so recall is exactly 1 —
  * no tuning knob, unlike LSH band counts. A length prune
  * (`min(na,nb) >= t * max(na,nb)`, a necessary condition of
  * Jaccard >= t) cuts candidates before the distinct.
  *
  * Scale shape: the global order needs no global rank — each doc sorts
  * its OWN tokens by the joined (df, token) key, a window partitioned by
  * doc id (never a single-partition window). Prefix tokens are by
  * construction the rarest in their doc, so the candidate join's key
  * skew is bounded by the df of rare tokens, not boilerplate; frequent
  * tokens appear only in suffixes, which never join. Verification
  * touches candidate pairs only, with per-doc sorted token arrays and a
  * codegen'd `array_intersect`. Worst-case output is inherently
  * quadratic when the corpus IS quadratically similar (every exact
  * algorithm's output is); for corpora where that is expected, use the
  * capped LSH path instead.
  */
object SetSimJoin {

  /** Each doc's distinct tokens ranked by the global rare-first order
    * (`_id, _n, _tok, _df, _rk`), and each doc's sorted token set
    * (`_id, _set, _n`) derived from that chain.
    *
    * The doc's distinct-token count `_n` rides the explode as a per-row
    * column, so the chain needs ONE window pass (row_number), and the set
    * table rides the window's _id partitioning (guide §2.4). The explicit
    * doc-keyed exchange carries (_id, _n, _tok) longs only and already
    * satisfies the window's required partitioning.
    *
    * Every relation here feeds two consumers and is [[graft.Shared]], so
    * the token hashing + explode, the df join and the rank window each
    * run once (AQE-final plan at sf0.001: one scan, gen=1). The hashed
    * token arrays are Shared as well: it keeps the explode's inferred
    * non-empty filter on the computed column instead of pushing the
    * hashing below the caller's exchanges, where it ran a second time.
    *
    * Null ids need no guard: a null-id doc's tokens may count toward
    * _df, which only changes the prefix order (recall is exact under any
    * consistent order), and the callers' id comparison and id equi-joins
    * drop the doc. */
  private def rankedTokens(docs: DataFrame, idCol: String, toksCol: Column)
      : (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val nPart = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    val hashed = Shared(
      docs.select(col(idCol).as("_id"), array_distinct(toksCol).as("_ts")))
    val toks = Shared(hashed
      .select(col("_id"), size(col("_ts")).cast("long").as("_n"),
        explode(col("_ts")).as("_tok"))
      .repartition(nPart, col("_id")))
    val df = toks.groupBy("_tok").agg(count(lit(1)).as("_df"))
    val perDoc = Window.partitionBy("_id").orderBy(col("_df"), col("_tok"))
    val ranked = Shared(toks.join(df, "_tok")
      .withColumn("_rk", row_number().over(perDoc)))
    // tokens are distinct per doc by construction, so collect_list +
    // sort_array equals sort_array(collect_set(...)) exactly
    val sets = Shared(ranked.groupBy(col("_id"))
      .agg(sort_array(collect_list(col("_tok"))).as("_set"),
        max(col("_n")).as("_n")))
    (ranked, sets)
  }

  /** All (a_id, b_id, inter, usz, jaccard) with a_id < b_id and
    * `jaccard = |A∩B| / |A∪B| >= threshold`, where A/B are the SETS of
    * `toksCol` elements (any orderable atomic element type — words,
    * shingle hashes, ids). `inter`/`usz` are exact integers; `jaccard`
    * is their IEEE quotient. */
  def jaccardJoin(docs: DataFrame, idCol: String, toksCol: Column,
                  threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val (ranked, sets) = rankedTokens(docs, idCol, toksCol)
    val prefix = Shared(ranked
      .where(col("_rk") <= col("_n") - ceil(lit(threshold) * col("_n")) + 1))
    val a = prefix.select(col("_tok"), col("_id").as("a_id"), col("_n").as("_na"))
    val b = prefix.select(col("_tok"), col("_id").as("b_id"), col("_n").as("_nb"))
    val cands = a.join(b, Seq("_tok"))
      .where(col("a_id") < col("b_id") &&
        least(col("_na"), col("_nb")) >=
          lit(threshold) * greatest(col("_na"), col("_nb")))
      .select("a_id", "b_id").distinct()
    cands
      .join(sets.select(col("_id").as("a_id"), col("_set").as("_sa"),
        col("_n").as("_na")), "a_id")
      .join(sets.select(col("_id").as("b_id"), col("_set").as("_sb"),
        col("_n").as("_nb")), "b_id")
      .withColumn("_inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("double"))
      .withColumn("jaccard",
        col("_inter") / (col("_na") + col("_nb") - col("_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"),
        col("_inter").cast("long").as("inter"),
        (col("_na") + col("_nb") - col("_inter")).cast("long").as("usz"),
        col("jaccard"))
  }

  /** Exact DIRECTED containment self-join: all ordered pairs (a, b),
    * a ≠ b, with `|A∩B| / |A| >= threshold` — "at least t of A's tokens
    * appear in B", the asymmetric relation behind quote detection,
    * subset-document dedup and template extraction, where Jaccard fails
    * (a 50-token quote inside a 5000-token page has Jaccard ~0.01 but
    * containment 1.0).
    *
    * Prefix theorem, asymmetric form: |A∩B| >= ceil(t·|A|) forces A's
    * first `|A| - ceil(t·|A|) + 1` tokens (global rare-first order) to
    * intersect B — but B contributes ALL its tokens (its size gives no
    * prune: any B at least ceil(t·|A|) large can contain A). Recall is
    * exactly 1. Skew note: the join's hot side is B's full token list,
    * but a token only materialises pairs when it appears in some A's
    * PREFIX — boilerplate tokens live in suffixes, so their B-side rows
    * join against only the rare short docs that carry them in a prefix;
    * candidate volume is Σ_t df_prefix(t)·df(t), df_prefix being
    * rare-token-dominated like [[jaccardJoin]]'s. */
  def containmentJoin(docs: DataFrame, idCol: String, toksCol: Column,
                      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val (ranked, sets) = rankedTokens(docs, idCol, toksCol)
    val aPrefix = ranked
      .where(col("_rk") <= col("_n") - ceil(lit(threshold) * col("_n")) + 1)
      .select(col("_tok"), col("_id").as("a_id"), col("_n").as("_na"))
    val bAll = ranked
      .select(col("_tok"), col("_id").as("b_id"), col("_n").as("_nb"))
    val cands = aPrefix.join(bAll, Seq("_tok"))
      .where(col("a_id") =!= col("b_id") &&
        col("_nb") >= ceil(lit(threshold) * col("_na")))
      .select("a_id", "b_id").distinct()
    cands
      .join(sets.select(col("_id").as("a_id"), col("_set").as("_sa"),
        col("_n").as("_na")), "a_id")
      .join(sets.select(col("_id").as("b_id"), col("_set").as("_sb")), "b_id")
      .withColumn("_inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("double"))
      .withColumn("containment", col("_inter") / col("_na"))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"),
        col("_inter").cast("long").as("inter"),
        col("_na").cast("long").as("a_size"),
        col("containment"))
  }

  /** DuckDB oracle for [[containmentJoin]]: inverted-index directed join
    * (independent realisation). */
  def containmentJoinOracleSql(toksRel: String, threshold: Double): String =
    s"""_t AS (SELECT _id, _tok FROM $toksRel),
       | _sz AS (SELECT _id, count(*) AS _n FROM _t GROUP BY 1),
       | _pairs AS (SELECT x._id AS a_id, y._id AS b_id, count(*) AS _inter
       |   FROM _t x JOIN _t y ON x._tok = y._tok AND x._id <> y._id
       |   GROUP BY 1, 2),
       | _out AS (SELECT a_id, b_id, _inter AS inter, sa._n AS a_size,
       |     CAST(_inter AS DOUBLE) / sa._n AS containment
       |   FROM _pairs JOIN _sz sa ON sa._id = a_id
       |   WHERE CAST(_inter AS DOUBLE) / sa._n >=
       |     ${graft.expr.E.formatDouble(threshold)})"""
      .stripMargin.replace("\n", " ")

  /** DuckDB oracle: the inverted-index exact join (no prefix filter —
    * an INDEPENDENT realisation, so the comparison checks semantics,
    * not a mirrored plan). `toksRel` is a relation exposing one
    * `(_id, _tok)` row per distinct token per doc; the caller wraps
    * with ordering. */
  def jaccardJoinOracleSql(toksRel: String, threshold: Double): String =
    s"""_t AS (SELECT _id, _tok FROM $toksRel),
       | _sz AS (SELECT _id, count(*) AS _n FROM _t GROUP BY 1),
       | _pairs AS (SELECT x._id AS a_id, y._id AS b_id, count(*) AS _inter
       |   FROM _t x JOIN _t y ON x._tok = y._tok AND x._id < y._id
       |   GROUP BY 1, 2),
       | _jj AS (SELECT a_id, b_id, _inter AS inter,
       |     sa._n + sb._n - _inter AS usz,
       |     CAST(_inter AS DOUBLE) / (sa._n + sb._n - _inter) AS jaccard
       |   FROM _pairs
       |   JOIN _sz sa ON sa._id = a_id JOIN _sz sb ON sb._id = b_id),
       | _out AS (SELECT a_id, b_id, inter, usz, jaccard FROM _jj
       |   WHERE jaccard >= ${graft.expr.E.formatDouble(threshold)})"""
      .stripMargin.replace("\n", " ")
}
