package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type-2 maintenance from snapshot pairs — the
  * lakehouse MERGE a dimension pipeline runs every load: given the
  * dimension as of `t0` and the re-extracted snapshot as of `t1`, emit the
  * SCD2 row set with validity intervals (Kimball & Ross, The Data
  * Warehouse Toolkit, 3rd ed., ch. 5; Delta Lake's MERGE INTO SCD2 recipe
  * is the same shape).
  *
  * Scale shape: ONE full-outer sort-merge join on the dimension key —
  * each side shuffles once on the key it is already keyed by — followed by
  * a narrow per-row emission of 1–2 interval rows via an in-map
  * array-inline (no second join, no union re-scan of either snapshot).
  * Attribute comparison is null-safe column equality (`<=>`), fully
  * codegen'd; no content hash is materialised, so wide dimensions don't
  * pay a concat. At 100 TB-dimension scale the join is AQE-skew-safe and
  * each changed key costs exactly two output rows.
  *
  * Output: key, the attribute columns (old values on closed rows, new
  * values on open ones), `valid_from`, `valid_to` (null = still open) and
  * `change` ∈ {unchanged, changed_old, changed_new, added, removed}.
  *
  * PRECONDITION: `key` must be unique within EACH snapshot — that is what
  * makes a snapshot a dimension extract rather than a fact stream.
  * Duplicate keys would make the full-outer join emit cross-product
  * interval rows (corrupt SCD2 output, in any engine — DuckDB's MERGE
  * recipe corrupts identically), so the default `checkUnique = true`
  * plans a one-row count(*) vs count(distinct key) probe per side and
  * fails LOUDLY instead; pass `checkUnique = false` to skip the two probe
  * jobs when the key is already guaranteed by the source's own contract
  * (e.g. a primary-keyed extract).
  */
object Scd2 {

  def snapshotMerge(base: DataFrame, next: DataFrame, key: String,
                    attrs: Seq[String], t0: Long, t1: Long,
                    checkUnique: Boolean = true): DataFrame = {
    require(attrs.nonEmpty, "need at least one tracked attribute")
    if (checkUnique) {
      for ((df, side) <- Seq(base -> "base", next -> "next")) {
        val r = df.agg(count(col(key)), count_distinct(col(key))).head
        require(r.getLong(0) == r.getLong(1),
          s"Scd2.snapshotMerge: key '$key' is not unique in the $side " +
            s"snapshot (${r.getLong(0)} rows, ${r.getLong(1)} distinct) — " +
            "duplicate keys would cross-product into corrupt intervals")
      }
    }
    val b = base.select(
      (col(key) +: attrs.map(c => col(c).as(s"b_$c"))) :+
        lit(true).as("in_b"): _*)
    val n = next.select(
      (col(key) +: attrs.map(c => col(c).as(s"n_$c"))) :+
        lit(true).as("in_n"): _*)
    val j = b.join(n, Seq(key), "full_outer")
    val inB = coalesce(col("in_b"), lit(false))
    val inN = coalesce(col("in_n"), lit(false))
    val same = attrs.map(c => col(s"b_$c") <=> col(s"n_$c")).reduce(_ && _)
    def row(side: String, from: Long, to: Option[Long], tag: String) =
      struct(
        (attrs.map(c => col(s"${side}_$c").as(c)) ++ Seq(
          lit(from).as("valid_from"),
          to.map(lit(_)).getOrElse(lit(null).cast("long")).as("valid_to"),
          lit(tag).as("change"))): _*)
    val rows = when(inB && inN && same,
        array(row("n", t0, None, "unchanged")))
      .when(inB && inN,
        array(row("b", t0, Some(t1), "changed_old"),
          row("n", t1, None, "changed_new")))
      .when(inB && !inN, array(row("b", t0, Some(t1), "removed")))
      .otherwise(array(row("n", t1, None, "added")))
    j.select(col(key), explode(rows).as("r"))
      .select(col(key) +: (attrs :+ "valid_from" :+ "valid_to" :+ "change")
        .map(c => col(s"r.$c").as(c)): _*)
  }

  /** DuckDB mirror of [[snapshotMerge]]: the same full-outer join with
    * four UNION ALL emission arms (SQL's way to express the 1–2-row
    * emission; the engine-side array-inline exists to avoid exactly this
    * re-scan). `baseSql`/`nextSql` are relations with `key` + `attrs`. */
  def snapshotMergeOracleSql(baseSql: String, nextSql: String, key: String,
                             attrs: Seq[String], t0: Long, t1: Long): String = {
    val k = s""""$key""""
    val same = attrs
      .map(c => s"""(b."$c" IS NOT DISTINCT FROM n."$c")""").mkString(" AND ")
    s"""WITH b AS ($baseSql), n AS ($nextSql),
       | j AS (SELECT coalesce(b.$k, n.$k) AS $k,
       |   b.$k IS NOT NULL AS in_b, n.$k IS NOT NULL AS in_n,
       |   ($same) AS same,
       |   ${attrs.map(c => s"""b."$c" AS "b_$c", n."$c" AS "n_$c"""").mkString(", ")}
       | FROM b FULL JOIN n ON b.$k = n.$k)
       | SELECT $k, ${attrs.map(c => s""""b_$c" AS "$c"""").mkString(", ")},
       |   CAST($t0 AS BIGINT) AS "valid_from",
       |   CAST($t1 AS BIGINT) AS "valid_to", 'changed_old' AS "change"
       | FROM j WHERE in_b AND in_n AND NOT same
       | UNION ALL
       | SELECT $k, ${attrs.map(c => s""""n_$c" AS "$c"""").mkString(", ")},
       |   CAST($t1 AS BIGINT), CAST(NULL AS BIGINT), 'changed_new'
       | FROM j WHERE in_b AND in_n AND NOT same
       | UNION ALL
       | SELECT $k, ${attrs.map(c => s""""n_$c" AS "$c"""").mkString(", ")},
       |   CAST($t0 AS BIGINT), CAST(NULL AS BIGINT), 'unchanged'
       | FROM j WHERE in_b AND in_n AND same
       | UNION ALL
       | SELECT $k, ${attrs.map(c => s""""b_$c" AS "$c"""").mkString(", ")},
       |   CAST($t0 AS BIGINT), CAST($t1 AS BIGINT), 'removed'
       | FROM j WHERE in_b AND NOT in_n
       | UNION ALL
       | SELECT $k, ${attrs.map(c => s""""n_$c" AS "$c"""").mkString(", ")},
       |   CAST($t1 AS BIGINT), CAST(NULL AS BIGINT), 'added'
       | FROM j WHERE in_n AND NOT in_b""".stripMargin.replace("\n", " ")
  }
}
