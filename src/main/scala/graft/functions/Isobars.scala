package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Staged
import graft.expr.{C, E}
import graft.models.CompCtx

/** CO2-H2O isobar / isopleth curve assembly (reference
  * `volatile_solubility/isobars.py:13-141`): evaluate the mixed-fluid
  * solubility model on a (P, x_fluid) grid, then interpolate each curve
  * and union the segments into one tidy frame.
  *
  * Scale split: the GRID evaluation is the expensive part (one solubility
  * solve per point, embarrassingly parallel) and runs as a distributed
  * one-stage job — compositions x isobars x fluid fractions exploded into
  * rows. The INTERPOLATION touches only `n_isobars x n_points` tiny curves
  * per sample; like the reference (scipy interp1d on a collected frame) it
  * runs driver-side on the collected grid, guarded by a row cap. The
  * spline is NOT-A-KNOT cubic — the boundary condition scipy's
  * `interp1d(kind="cubic")` uses — so interior values match scipy, not
  * just the knots (GoldenSpec anchors this against an independent
  * B-spline-collocation evaluation).
  */
object Isobars {

  /** Not-a-knot cubic spline through (xs, ys), xs strictly increasing;
    * returns the interpolant. scipy semantics (`isobars.py:114`): third
    * derivative continuous across the first and last interior knots. With
    * exactly 3 points the conditions degenerate and the interpolant is the
    * parabola through the points (scipy's interp1d would refuse n=3;
    * accepting it is a documented extension). */
  private[graft] def cubicSpline(xs: Array[Double], ys: Array[Double]): Double => Double = {
    val n = xs.length
    require(n >= 3, s"spline needs >= 3 points, got $n")
    val h = Array.tabulate(n - 1)(i => xs(i + 1) - xs(i))
    require(h.forall(_ > 0), "spline abscissae must be strictly increasing")
    // second-derivative (moment) system: interior rows are the standard
    // continuity equations; end rows impose not-a-knot
    val m = new Array[Double](n)
    if (n == 3) {
      // single parabola: constant second derivative
      val a2 = ((ys(2) - ys(0)) / (xs(2) - xs(0)) -
        (ys(1) - ys(0)) / (xs(1) - xs(0))) / (xs(2) - xs(1))
      java.util.Arrays.fill(m, 2.0 * a2)
    } else {
      val a = Array.ofDim[Double](n, n)
      val b = new Array[Double](n)
      // d3 continuity at x1: (M1-M0)/h0 = (M2-M1)/h1
      a(0)(0) = -h(1); a(0)(1) = h(0) + h(1); a(0)(2) = -h(0)
      for (i <- 1 until n - 1) {
        a(i)(i - 1) = h(i - 1)
        a(i)(i) = 2.0 * (h(i - 1) + h(i))
        a(i)(i + 1) = h(i)
        b(i) = 6.0 * ((ys(i + 1) - ys(i)) / h(i) - (ys(i) - ys(i - 1)) / h(i - 1))
      }
      // d3 continuity at x_{n-2}
      a(n - 1)(n - 3) = -h(n - 2)
      a(n - 1)(n - 2) = h(n - 3) + h(n - 2)
      a(n - 1)(n - 1) = -h(n - 3)
      // dense partial-pivot Gaussian elimination — n is one curve's knot
      // count (~11), never data-sized
      for (k <- 0 until n) {
        var p = k
        for (r <- k + 1 until n) if (math.abs(a(r)(k)) > math.abs(a(p)(k))) p = r
        if (p != k) {
          val tr = a(p); a(p) = a(k); a(k) = tr
          val tb = b(p); b(p) = b(k); b(k) = tb
        }
        for (r <- k + 1 until n if a(r)(k) != 0.0) {
          val f = a(r)(k) / a(k)(k)
          for (c <- k until n) a(r)(c) -= f * a(k)(c)
          b(r) -= f * b(k)
        }
      }
      for (i <- n - 1 to 0 by -1) {
        var s = b(i)
        for (j <- i + 1 until n) s -= a(i)(j) * m(j)
        m(i) = s / a(i)(i)
      }
    }
    (x: Double) => {
      val j0 = java.util.Arrays.binarySearch(xs, x)
      val j = if (j0 >= 0) math.min(j0, n - 2)
        else math.min(math.max(-j0 - 2, 0), n - 2)
      val t = x - xs(j)
      val a = ys(j)
      val b = (ys(j + 1) - ys(j)) / h(j) - h(j) * (2.0 * m(j) + m(j + 1)) / 6.0
      val c = m(j) / 2.0
      val d = (m(j + 1) - m(j)) / (6.0 * h(j))
      a + t * (b + t * (c + t * d))
    }
  }

  /** The (sample x isobar x x_fluid) grid: every sample row with each
    * `isobars` pressure as `P_bar` and each `xfls` fraction as `xfl`. The
    * one list of grid values gives the Spark rows (one `inline` of the
    * cells) and the SQL source (`unnest`) alike. */
  final case class Grid(isobars: Seq[Double], xfls: Seq[Double]) {
    private def inputs(elements: Seq[String]) = "sample_id" +: "T_K" +: elements

    /** Grid rows of `samples`, which carry sample_id, T_K and `elements`. */
    def spark(samples: DataFrame, elements: Seq[String]): DataFrame =
      samples.select(inputs(elements).map(col) :+ inline(array(
        (for (p <- isobars; x <- xfls) yield struct(lit(p).as("P_bar"), lit(x).as("xfl"))): _*)): _*)

    /** The same rows over the SQL subquery `samples`. */
    def sql(samples: String, elements: Seq[String]): String = {
      def unnest(vs: Seq[Double], as: String) =
        s"(SELECT unnest([${vs.map(E.formatDouble).mkString(", ")}]) AS \"$as\")"
      s"(SELECT ${inputs(elements).map(c => s"s.\"$c\"").mkString(", ")}, " +
        s"""g."P_bar", x."xfl" FROM $samples s CROSS JOIN ${unnest(isobars, "P_bar")} g """ +
        s"CROSS JOIN ${unnest(xfls, "xfl")} x)"
    }
  }

  /** Dissolved H2O and CO2 of every [[Grid]] row by `model`, its trees
    * as columns staged over the grid rows; the last stage is `out` of
    * them (by default sample_id, P_bar, xfl, H2O, CO2). */
  def solubility(elements: Seq[String], model: String,
                 out: (E, E) => Seq[(String, E)] = (h2o, co2) =>
                   Seq("sample_id", "P_bar", "xfl").map(c => c -> (C(c): E)) ++
                     Seq("H2O" -> h2o, "CO2" -> co2)): Staged = {
    val base = Staged(elements, Seq("sample_id", "T_K", "P_bar", "xfl"))
    val m = CompCtx(elements.toVector)
    val (x, p, t) = (C("xfl"), C("P_bar"), C("T_K"))
    val d = model match {
      case "iaconomarziano2012" => IaconoMarziano.solubility(m, x, p, t)
      case "shishkina2014" => IaconoMarziano.Dissolved(Nil,
        Shishkina.h2oSolubilityE(m, x, p), Shishkina.co2SolubilityE(m, x, p))
      case "allison2022" => Allison.solubility(m, x, p, t)
      case other => throw new IllegalArgumentException(s"model $other")
    }
    d.stages.foldLeft(base)(_ derive _).withStage(out(d.h2o, d.co2))
  }

  /** Distributed (sample x P x x_fluid) grid of dissolved (H2O, CO2) for
    * the configured model, its trees run as native columns. `samples`
    * must carry (sample_id, element wt.% columns, T_K). */
  def isobarGrid(samples: DataFrame, elements: Array[String],
                 isobars: Seq[Double], nPoints: Int = 10,
                 model: String = "iaconomarziano2012"): DataFrame =
    solubility(elements.toIndexedSeq, model).spark(Grid(isobars,
      (0 to nPoints).map(_.toDouble / nPoints)).spark(samples, elements.toIndexedSeq))

  /** Smooth isobar curves (`_isobar_interpolate`, `isobars.py:107-120`):
    * per (sample, P) spline of CO2 over H2O sampled at 10x knot density,
    * all segments unioned. Fully distributed, unlike the reference's
    * driver-side loop: one shuffle groups the grid by (sample, P), each
    * curve is fitted inside its task from the collected knot list, and the
    * sampled points explode back out — per-group state is one curve's
    * knots (metadata-sized by construction), so any number of samples x
    * isobars scales out with no driver collect and no row cap. */
  def isobarCurves(spark: SparkSession, grid: DataFrame,
                   pointsPerKnot: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions._
    val fit = udf((pts: Seq[org.apache.spark.sql.Row]) => {
      // pts arrive sorted by (xfl, H2O, CO2); xfl is unique per group
      val xs = pts.map(_.getDouble(1)).toArray
      val ys = pts.map(_.getDouble(2)).toArray
      // drop non-increasing duplicates at curve ends (xfl=0 -> H2O=0)
      val keep = xs.indices.filter(i => i == 0 || xs(i) > xs(i - 1))
      val (kx, ky) = (keep.map(xs).toArray, keep.map(ys).toArray)
      if (kx.length < 3) Seq.empty[(Double, Double)]
      else {
        val f = cubicSpline(kx, ky)
        val n = kx.length * pointsPerKnot
        (0 until n).map { i =>
          val h2o = kx.head + (kx.last - kx.head) * i / (n - 1)
          // raw spline value, no clamping — scipy/interp1d parity
          (h2o, f(h2o))
        }
      }
    }).withName("isobar_spline_fit")
    grid
      .select(col("sample_id"), col("P_bar"),
        struct(col("xfl"), col("H2O"), col("CO2")).as("pt"))
      .groupBy(col("sample_id"), col("P_bar"))
      .agg(sort_array(collect_list(col("pt"))).as("pts"))
      .select(col("sample_id"), col("P_bar"), explode(fit(col("pts"))).as("c"))
      .select(col("sample_id"), col("P_bar"),
        col("c._1").as("H2O"), col("c._2").as("CO2"))
  }
}
