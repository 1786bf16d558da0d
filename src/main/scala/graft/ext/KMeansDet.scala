package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic fixed-point k-means over an embedding column.
  *
  * Reproducibility at cluster scale is the design driver: floating-point
  * sums are order-dependent, and a 1000-executor shuffle never adds
  * doubles in the same order twice — so a naive k-means assigns labels
  * that change run to run. Here every coordinate is quantized to a dyadic
  * grid (scale 2^18) before any arithmetic. Products are then exact
  * multiples of 2^-36 and 64-dim dot sums stay far inside the 53-bit
  * mantissa (coordinates are O(1)), so distances, argmins and centroid
  * means are EXACT — bit-identical regardless of partition order,
  * executor count, task retries, or engine. That is what lets the DuckDB
  * oracle reproduce the full two-iteration fit hash-for-hash.
  *
  * Scale shape: assignment is a narrow codegen'd projection (k dot
  * products per row against broadcast centroid literals, no shuffle);
  * the update is one map-side-combinable groupBy over (cluster, dim)
  * summing exact longs; the per-iteration driver collect is k x dim
  * doubles — the same footprint Spark MLlib's KMeans collects each
  * round. Init is the k lowest-id vectors (deterministic, no RNG);
  * iteration count is fixed. Empty clusters keep their previous centroid.
  */
object KMeansDet {
  val Shift = 18
  val Scale: Double = (1L << Shift).toDouble

  /** Snap each coordinate to the dyadic grid m/2^18. x*2^18 is exact
    * (power-of-two scaling of a float-derived double), so both engines
    * round the identical value. */
  def quantize(v: Column): Column =
    transform(v, x => round(x * lit(Scale)) / lit(Scale))

  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      quantize(col("embedding").cast("array<double>")).as("v"))

  /** Nearest centroid and its d2 via the dot identity
    * ([[graft.expressions.NearestCentroid]]); all terms are exact dyadic
    * rationals, so every engine picks the same argmin. */
  private def assign(e: DataFrame, cents: Array[Array[Double]]): DataFrame =
    e.select(col("vec_id"), col("v"),
      graft.expressions.VectorExpressions.nearestCentroid(col("v"), cents).as("n"))
      .select(col("vec_id"), col("v"), col("n.code").as("cid"), col("n.d2").as("dist2"))

  /** New centroids: exact long sums per (cluster, dim), mean re-snapped to
    * the grid with Spark's round (the same round the oracle calls). */
  private def update(assigned: DataFrame,
                     prev: Array[Array[Double]]): Array[Array[Double]] = {
    val rows = assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("cid", "d")
      .agg((round(sum((col("x") * lit(Scale)).cast("long")).cast("double") /
        count(lit(1)).cast("double")) / lit(Scale)).as("c"))
      .collect()
    val m = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    prev.indices.map { j =>
      Array.tabulate(prev(j).length)(d => m.getOrElse((j, d), prev(j)(d)))
    }.toArray
  }

  /** Fixed-iteration fit keeping the quantized vector; returns
    * (vec_id, v, cid, dist2) — the raw surface SemDedup pairs on. */
  def fitFull(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = prepared(embeddings)
    var cents: Array[Array[Double]] = e.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to iters) cents = update(assign(e, cents), cents)
    assign(e, cents)
  }

  /** Fit and return ONLY the centroids (k x dim doubles on the driver —
    * the same footprint every iteration already collects). [[graft.ext.Pq]]
    * trains its per-subspace codebooks through this on sliced vectors. */
  def fitCentroids(embeddings: DataFrame, k: Int,
                   iters: Int): Array[Array[Double]] = {
    val e = prepared(embeddings)
    var cents: Array[Array[Double]] = e.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to iters) cents = update(assign(e, cents), cents)
    cents
  }

  /** Fixed-iteration fit; returns (vec_id, cid, dist2 rounded). */
  def fit(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    fitFull(embeddings, k, iters)
      .select(col("vec_id"), col("cid"), round(col("dist2"), 6).as("dist2"))

  /** DuckDB rendering of the identical fit: same quantization, same dot
    * identity, same long-sum centroid mean, iterations unrolled as CTE
    * stages. Dim is fixed by the caller (Spark infers it from the data).
    * Returns the full `WITH ...` prefix whose last stage `fin` holds
    * (vec_id, v, cid, dist2) — callers append their own SELECT (SemDedup
    * composes within-cluster pairing on top of it).
    *
    * `prefix` namespaces every CTE so several fits can share one WITH
    * clause (Pq unrolls one fit per subspace); `vecExpr` overrides the
    * raw vector expression (default: the full `embedding` list — Pq
    * passes a slice); `fromTable` overrides the source relation (Pq's
    * IVF-PQ composition fits residual CTEs, not the base table).
    * Quantization is applied on top of `vecExpr` (the identity when the
    * source is already dyadic, e.g. residuals of quantized vectors). */
  def oracleStages(k: Int, iters: Int, dim: Int, prefix: String = "",
                   vecExpr: String = "CAST(\"embedding\" AS DOUBLE[])",
                   stagesOnly: Boolean = false,
                   fromTable: String = "embeddings"): String = {
    val p = prefix
    val q = s"list_transform($vecExpr, " +
      s"x -> round(x * ${Scale}e0) / ${Scale}e0)"
    def assignCte(out: String, cn: String) =
      s"""${out}p AS (SELECT e."vec_id", e.v, c.j,
         | list_dot_product(e.v, e.v) - 2.0e0 * list_dot_product(e.v, c.c)
         |   + list_dot_product(c.c, c.c) AS d2
         | FROM ${p}e e CROSS JOIN $cn c),
         | $out AS (SELECT "vec_id", v, j AS cid, d2 AS dist2 FROM (
         |   SELECT *, row_number() OVER (PARTITION BY "vec_id" ORDER BY d2, j) AS rk
         |   FROM ${out}p) WHERE rk = 1)""".stripMargin
    def updateCte(an: String, prevC: String, out: String) =
      s"""${out}s AS (SELECT a.cid, t.d,
         |   sum(CAST(a.v[t.d] * ${Scale}e0 AS BIGINT)) AS s, count(*) AS n
         | FROM $an a CROSS JOIN range(1, ${dim + 1}) t(d) GROUP BY 1, 2),
         | ${out}n AS (SELECT cid AS j,
         |   list(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / ${Scale}e0 ORDER BY d) AS c
         | FROM ${out}s GROUP BY 1),
         | $out AS (SELECT p.j, coalesce(u.c, p.c) AS c
         | FROM $prevC p LEFT JOIN ${out}n u ON u.j = p.j)""".stripMargin
    val stages = new scala.collection.mutable.ArrayBuffer[String]
    stages += s"""${p}e AS (SELECT "vec_id", $q AS v FROM $fromTable)"""
    stages += s"""${p}c0 AS (SELECT j, c FROM (SELECT
      | CAST(row_number() OVER (ORDER BY "vec_id") AS INTEGER) - 1 AS j, v AS c
      | FROM ${p}e) WHERE j < $k)""".stripMargin
    for (i <- 1 to iters) {
      stages += assignCte(s"${p}a$i", s"${p}c${i - 1}")
      stages += updateCte(s"${p}a$i", s"${p}c${i - 1}", s"${p}c$i")
    }
    stages += assignCte(s"${p}fin", s"${p}c$iters")
    val joined = stages.mkString(", ").replace("\n", " ")
    if (stagesOnly) joined else s"WITH $joined"
  }

  def oracleSql(k: Int, iters: Int, dim: Int): String =
    oracleStages(k, iters, dim) +
      " SELECT \"vec_id\", cid AS \"cid\", round(dist2, 6) AS \"dist2\"" +
      " FROM fin ORDER BY \"vec_id\""
}
