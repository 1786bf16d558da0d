package graft

/** DuckDB oracle rendering of `q_isobar_curves` — the driver-side
  * not-a-knot cubic-spline curve assembly (`isobars.py:107-141`,
  * [[graft.functions.Isobars.isobarCurves]]), previously the one rows-only
  * query in the registry.
  *
  * The engine computes the (sample x isobar x x_fluid) solubility grid
  * distributed, collects each metadata-sized (sample, P) curve, lag-drops
  * non-increasing H2O knots, solves the n x n not-a-knot moment system by
  * dense partial-pivot Gaussian elimination (n <= 11), and evaluates the
  * piecewise cubic at 10x knot density. Every one of those steps is
  * deterministic straight-line arithmetic over a FIXED maximum size, so it
  * renders op-for-op in SQL:
  *
  *  - the grid is the query's staged solubility trees, rendered by
  *    `Pipeline.toSql` and nested as the `pts` CTE;
  *  - the knot lists ride DuckDB LIST columns (`list(x ORDER BY xf)`), so
  *    per-curve state is data, not column fan-out — none of the
  *    projection-blowup hazards ARCHITECTURE's loop node lists apply;
  *  - elimination is a recursive CTE over the pivot column k carrying the
  *    matrix as LIST<LIST<DOUBLE>> padded to 11 x 11: pivot selection
  *    (first index attaining the max |a[r][k]|, exactly Scala's strict->
  *    scan), the row swap, and the `a(r)(c) -= f * a(k)(c)` updates are
  *    list_transform lambdas mirroring the loops;
  *  - back substitution iterates i = n..1 with the j-sum unrolled as a
  *    fixed 11-term left fold — the out-of-range terms subtract an exact
  *    0.0, which is the identity for every IEEE double including -0.0;
  *  - the n = 3 parabola degenerate case and the binarySearch segment
  *    lookup (count of knots < x, +1 on an exact hit, clamped) are
  *    CASE-resolved;
  *  - the final `round(v, 6) + 0.0e0` normalises negative zero: where the
  *    spline overshoots a hair below 0 (CO2 near the pure-H2O endpoint),
  *    DuckDB's round keeps the sign (`-0.0`) while Spark's Round goes
  *    through BigDecimal, which has no signed zero, and returns `0.0`.
  *    The two compare equal under `=` but hash differently — this was the
  *    round-6 red cell (19 of 17,160 rows, all CO2, bit pattern only).
  *    `x + 0.0` maps -0.0 to +0.0 and is the identity for every other
  *    double including NaN.
  */
object IsobarCurveSql {

  private val zeros11 = "[" + Seq.fill(11)("0.0e0").mkString(", ") + "]"

  /** ((b[j] - t1) - t2) ... - t11 with out-of-range terms an exact 0.0 —
    * the same left-to-right subtraction order as the Scala `s -= ...`
    * loop (`Isobars.scala` back substitution). */
  private val backSubFold: String =
    (1 to 11).foldLeft("b[j]") { (acc, q) =>
      s"($acc - (CASE WHEN ($q > j) AND ($q <= n) THEN (a[j][$q] * mm[$q]) ELSE 0.0e0 END))"
    }

  private val splineCtes: String =
    s""", keepf AS (SELECT * FROM (
       |    SELECT "sample_id", pg, xf, h2o, co2,
       |      lag(h2o) OVER (PARTITION BY "sample_id", pg ORDER BY xf) AS prev
       |    FROM pts) t
       |  WHERE (prev IS NULL) OR ((h2o > prev) AND (NOT isnan(h2o)) AND (NOT isnan(prev))))
       |, grp AS (SELECT "sample_id", pg,
       |    list(h2o ORDER BY xf) AS kx, list(co2 ORDER BY xf) AS ky,
       |    count(*)::INTEGER AS n
       |  FROM keepf GROUP BY "sample_id", pg HAVING count(*) >= 3)
       |, mat AS (SELECT "sample_id", pg, kx, ky, n, hs,
       |    list_transform(generate_series(1, 11), i ->
       |      list_transform(generate_series(1, 11), j -> CASE
       |        WHEN (i > n) OR (j > n) THEN 0.0e0
       |        WHEN i = 1 THEN (CASE WHEN j = 1 THEN (-hs[2])
       |          WHEN j = 2 THEN (hs[1] + hs[2])
       |          WHEN j = 3 THEN (-hs[1]) ELSE 0.0e0 END)
       |        WHEN i = n THEN (CASE WHEN j = (n - 2) THEN (-hs[n - 1])
       |          WHEN j = (n - 1) THEN (hs[n - 2] + hs[n - 1])
       |          WHEN j = n THEN (-hs[n - 2]) ELSE 0.0e0 END)
       |        WHEN j = (i - 1) THEN hs[i - 1]
       |        WHEN j = i THEN (2.0e0 * (hs[i - 1] + hs[i]))
       |        WHEN j = (i + 1) THEN hs[i]
       |        ELSE 0.0e0 END)) AS a0,
       |    list_transform(generate_series(1, 11), i -> CASE
       |      WHEN (i > 1) AND (i < n) THEN (6.0e0 *
       |        (((ky[i + 1] - ky[i]) / hs[i]) - ((ky[i] - ky[i - 1]) / hs[i - 1])))
       |      ELSE 0.0e0 END) AS b0
       |  FROM (SELECT "sample_id", pg, kx, ky, n,
       |    list_transform(generate_series(1, n - 1), i -> kx[i + 1] - kx[i]) AS hs
       |  FROM grp) g0)
       |, elim AS (
       |  SELECT "sample_id", pg, n, hs, kx, ky, 0 AS k, a0 AS a, b0 AS b
       |  FROM mat WHERE n > 3
       |  UNION ALL
       |  SELECT "sample_id", pg, n, hs, kx, ky, k + 1,
       |    list_transform(generate_series(1, 11), r -> CASE
       |      WHEN (r > kk) AND (r <= n) AND (aswp[r][kk] <> 0.0e0) THEN
       |        list_transform(generate_series(1, 11), c -> CASE WHEN c >= kk
       |          THEN aswp[r][c] - ((aswp[r][kk] / aswp[kk][kk]) * aswp[kk][c])
       |          ELSE aswp[r][c] END)
       |      ELSE aswp[r] END),
       |    list_transform(generate_series(1, 11), r -> CASE
       |      WHEN (r > kk) AND (r <= n) AND (aswp[r][kk] <> 0.0e0)
       |      THEN bswp[r] - ((aswp[r][kk] / aswp[kk][kk]) * bswp[kk])
       |      ELSE bswp[r] END)
       |  FROM (
       |    SELECT "sample_id", pg, n, hs, kx, ky, k, kk,
       |      (CASE WHEN piv = kk THEN a ELSE
       |        list_transform(generate_series(1, 11), i -> CASE WHEN i = kk THEN a[piv]
       |          WHEN i = piv THEN a[kk] ELSE a[i] END) END) AS aswp,
       |      (CASE WHEN piv = kk THEN b ELSE
       |        list_transform(generate_series(1, 11), i -> CASE WHEN i = kk THEN b[piv]
       |          WHEN i = piv THEN b[kk] ELSE b[i] END) END) AS bswp
       |    FROM (
       |      SELECT "sample_id", pg, n, hs, kx, ky, k, a, b, kk,
       |        ((kk - 1) + list_position(vals, list_aggregate(vals, 'max'))) AS piv
       |      FROM (
       |        SELECT *, (k + 1) AS kk,
       |          list_transform(generate_series(k + 1, n), r -> abs(a[r][k + 1])) AS vals
       |        FROM elim WHERE k < n) t0) t1) t2)
       |, bsub AS (
       |  SELECT "sample_id", pg, n, hs, kx, ky, a, b, (n + 1) AS i, $zeros11::DOUBLE[] AS mm
       |  FROM elim WHERE k = n
       |  UNION ALL
       |  SELECT "sample_id", pg, n, hs, kx, ky, a, b, j,
       |    list_transform(generate_series(1, 11), q -> CASE WHEN q = j
       |      THEN ($backSubFold / a[j][j]) ELSE mm[q] END)
       |  FROM (SELECT *, (i - 1) AS j FROM bsub WHERE i > 1) t)
       |, spl AS (
       |  SELECT "sample_id", pg, n, hs, kx, ky, mm FROM bsub WHERE i = 1
       |  UNION ALL
       |  SELECT "sample_id", pg, n, hs, kx, ky,
       |    list_transform(generate_series(1, 11), q -> CASE WHEN q <= 3
       |      THEN (2.0e0 * ((((ky[3] - ky[1]) / (kx[3] - kx[1])) -
       |        ((ky[2] - ky[1]) / (kx[2] - kx[1]))) / (kx[3] - kx[2])))
       |      ELSE 0.0e0 END)
       |  FROM mat WHERE n = 3)
       |, ev AS (SELECT "sample_id", pg, n, hs, kx, ky, mm,
       |    unnest(generate_series(0, (n * 10) - 1)) AS i
       |  FROM spl)
       |, evx AS (SELECT "sample_id", pg, n, hs, kx, ky, mm,
       |    (kx[1] + (((kx[n] - kx[1]) * CAST(i AS DOUBLE)) / CAST((n * 10) - 1 AS DOUBLE))) AS x
       |  FROM ev)
       |, evj AS (SELECT "sample_id", pg, hs, kx, ky, mm, x,
       |    (least(greatest((len(list_filter(kx, v -> v < x)) +
       |      (CASE WHEN list_contains(kx, x) THEN 1 ELSE 0 END)) - 1, 0), n - 2) + 1) AS jj
       |  FROM evx)
       |, evv AS (SELECT "sample_id", pg, x, (x - kx[jj]) AS t,
       |    ky[jj] AS aa,
       |    (((ky[jj + 1] - ky[jj]) / hs[jj]) -
       |      ((hs[jj] * ((2.0e0 * mm[jj]) + mm[jj + 1])) / 6.0e0)) AS bb,
       |    (mm[jj] / 2.0e0) AS cc,
       |    ((mm[jj + 1] - mm[jj]) / (6.0e0 * hs[jj])) AS dd
       |  FROM evj)
       | SELECT "sample_id", pg AS "P_bar",
       |   (round(x, 6) + 0.0e0) AS "H2O",
       |   (round((aa + (t * (bb + (t * (cc + (t * dd)))))), 6) + 0.0e0) AS "CO2"
       | FROM evv ORDER BY "sample_id", "P_bar", "H2O"""".stripMargin

  /** The curves over `grid`, a query giving (sample_id, P_bar, xfl, H2O,
    * CO2) per grid cell, values unrounded. */
  def sql(grid: String): String =
    (s"""WITH RECURSIVE pts AS (SELECT "sample_id", "P_bar" AS pg, "xfl" AS xf,
        |  "H2O" AS h2o, "CO2" AS co2 FROM ($grid))
        |$splineCtes""").stripMargin.replace("\n", " ")
}
