package graft.models

import graft.expr._
import graft.expr.E._

/** Geoplot data-plane operators.
  *
  * The reference's `geoplot` package is plotting-only (matplotlib): it draws
  * the Le Bas TAS field boundaries (`geoplot/TAS_diagram.py:22-67`, polygon
  * segments in `geoplot/data/TAS.csv`) and exposes C1-chondrite / primitive-
  * mantle / MORB reference compositions for spider-diagram normalisation
  * (`geoplot/trace_elements.py:30-76`, data in
  * `geoplot/data/Mcdonough_sun_1995.csv`). The data-plane rendering of those
  * lookups:
  *
  *  - [[Tas.classify]] — point-in-field classification of (SiO2, Na2O+K2O)
  *    into the 15 rock names of `TAS_diagram.py:25-45`. The field polygons
  *    are reconstructed from the boundary segments in `data/TAS.csv` and
  *    compiled to ONE nested CASE expression: at 100 TB this runs inside
  *    whole-stage codegen with zero joins or shuffles (15 static polygons
  *    never justify a broadcast join).
  *  - [[TraceElements]] — reference compositions as literal maps; chondrite-
  *    normalisation is per-column division by a constant, so the "lookup
  *    join" J3-style folds into literals at plan build.
  *  - [[CalibrationData]] — the model -> calibration-dataset registry
  *    (`model_calibrations/data/calibration_datasets.json`), backing the
  *    reference's `calibration_data.query("ref in @datasets")`
  *    (`model_calibrations/plot_calibration.py:63-72`) as a Spark
  *    `filter($"ref".isin(...))`.
  */
object Tas {

  /** Rock names exactly as in `TAS_diagram.py:25-45` `rock_labels`. */
  val rocks: Seq[String] = Seq(
    "Picro-basalt", "Basalt", "Basaltic andesite", "Andesite", "Dacite",
    "Trachy-basalt", "Basaltic trachy-andesite", "Trachy-andesite",
    "Trachyte", "Tephrite", "Phono-tephrite", "Tephri-phonolite",
    "Phonolite", "Foidite", "Rhyolite")

  /** Classify a (SiO2 wt.%, Na2O+K2O wt.%) point into a Le Bas TAS field.
    *
    * Boundary polylines from `geoplot/data/TAS.csv` (ids a, b1-b2, c1-c2,
    * d1-d2, e1-e3, f1-f2, g, h); the label coordinates in
    * `TAS_diagram.py:25-45` are interior points of each field and are used
    * as the spec's golden tests. Both compilation targets (Catalyst column,
    * DuckDB SQL) evaluate the identical expression tree, so boundary-edge
    * conventions cannot drift between engine and oracle.
    */
  def classify(s: E, t: E): E = {
    // Boundary lines, written as t-of-s or s-of-t linear interpolants of the
    // TAS.csv vertices. Extensions beyond a segment's span are harmless:
    // every use is gated by the enclosing branch's region.
    val tB2: E = when(s <= Lit(52.0), Lit(5.0),
      Lit(5.0) + Lit(3.0) * (s - Lit(52.0)) / Lit(17.0)) // (45,5)-(52,5)-(69,8)
    val tF1: E = Lit(8.0) * (Lit(77.3) - s) / Lit(8.3)   // (77.3,0)-(69,8)
    val xF2: E = Lit(69.0) + Lit(2.8) * (t - Lit(8.0)) / Lit(5.5) // (69,8)-(71.8,13.5)
    val tA: E = when(s <= Lit(57.6),
      Lit(5.0) + Lit(6.7) * (s - Lit(45.0)) / Lit(12.6),   // (45,5)-(57.6,11.7)
      when(s <= Lit(61.0),
        Lit(11.7) + Lit(1.8) * (s - Lit(57.6)) / Lit(3.4), // -(61,13.5)
        Lit(13.5) + Lit(2.7) * (s - Lit(61.0)) / Lit(2.0))) // -(63,16.2)
    val xC2a: E = Lit(52.0) - Lit(2.6) * (t - Lit(5.0)) / Lit(2.3)  // (52,5)-(49.4,7.3)
    val xC2b: E = Lit(49.4) - Lit(4.4) * (t - Lit(7.3)) / Lit(2.1)  // (49.4,7.3)-(45,9.4)
    val xD2a: E = Lit(57.0) - Lit(4.0) * (t - Lit(5.9)) / Lit(3.4)  // (57,5.9)-(53,9.3)
    val xD2b: E = Lit(53.0) - Lit(4.6) * (t - Lit(9.3)) / Lit(2.2)  // (53,9.3)-(48.4,11.5)
    val xE2: E = Lit(63.0) - Lit(5.4) * (t - Lit(7.0)) / Lit(4.7)   // (63,7)-(57.6,11.7)
    val xG: E = Lit(41.0) + Lit(4.0) * (t - Lit(7.0)) / Lit(2.4)    // (41,7)-(45,9.4)
    val tH: E = Lit(9.4) + Lit(4.6) * (s - Lit(45.0)) / Lit(7.5)    // (45,9.4)-(52.5,14)

    def name(n: String): E = SLit(n)

    // Sub-alkaline branch: s > 45, t below the b2 polyline.
    val subalkaline: E =
      when(s <= Lit(52.0), name("Basalt"),
        when(s <= Lit(57.0), name("Basaltic andesite"),
          when(s <= Lit(63.0), name("Andesite"),
            when(t < tF1, name("Dacite"), name("Rhyolite")))))

    // Trachy series: above b2, below the a polyline, left of f2.
    val trachySeries: E =
      when(s < xC2a, name("Trachy-basalt"),
        when(s < xD2a, name("Basaltic trachy-andesite"),
          when(s < xE2, name("Trachy-andesite"), name("Trachyte"))))

    // Tephra series: above both b2 and a.
    val tephraSeries: E =
      when(t > tH,
        when(s >= Lit(52.5), name("Phonolite"), name("Foidite")),
        when(s < xC2b, name("Tephrite"),
          when(s < xD2b, name("Phono-tephrite"),
            when(s < xE2, name("Tephri-phonolite"), name("Phonolite")))))

    when(s < Lit(41.0), name("Foidite"),
      when((t <= Lit(3.0)) && (s <= Lit(45.0)), name("Picro-basalt"),
        when(s <= Lit(45.0),
          // 41-45 strip above the picro-basalt box: tephrite, foidite above g
          when((t > Lit(7.0)) && (s < xG), name("Foidite"), name("Tephrite")),
          when(t <= tB2, subalkaline,
            when(s >= xF2, name("Rhyolite"),
              when(t <= tA, trachySeries, tephraSeries))))))
  }

  /** The reference's label coordinates (`TAS_diagram.py:25-45`) — interior
    * points of each field, used as golden classification tests. */
  val labelPoints: Seq[(String, Double, Double)] = Seq(
    ("Picro-basalt", 43, 1.5), ("Basalt", 49, 2.5),
    ("Basaltic andesite", 54.5, 2.5), ("Andesite", 60, 2.5),
    ("Dacite", 68, 4), ("Trachy-basalt", 49, 5.5),
    ("Basaltic trachy-andesite", 52.5, 6.5), ("Trachy-andesite", 58.5, 8),
    ("Trachyte", 64, 11), ("Tephrite", 45, 7), ("Phono-tephrite", 49, 9.0),
    ("Tephri-phonolite", 53, 11), ("Phonolite", 57, 15), ("Foidite", 45, 14),
    ("Rhyolite", 75, 8.5))
}

/** Reference reservoir compositions (`geoplot/trace_elements.py:30-76`,
  * values from `geoplot/data/Mcdonough_sun_1995.csv` — McDonough & Sun 1995).
  * Concentrations in ppm; per-column division by these literals is the
  * Spark rendering of the reference's spider-diagram normalisation. */
object TraceElements {

  /** C1 chondrite, REE + Y subset (`Mcdonough_sun_1995.csv` row "C1"). */
  val c1Chondrite: Map[String, Double] = Map(
    "La" -> 0.237, "Ce" -> 0.613, "Pr" -> 0.0928, "Nd" -> 0.457,
    "Sm" -> 0.148, "Eu" -> 0.0563, "Gd" -> 0.199, "Tb" -> 0.0361,
    "Dy" -> 0.246, "Y" -> 1.57, "Ho" -> 0.0546, "Er" -> 0.16,
    "Tm" -> 0.0247, "Yb" -> 0.161, "Lu" -> 0.0246)

  /** Primitive mantle (row "Pyrolite"), REE + Y subset. */
  val primitiveMantle: Map[String, Double] = Map(
    "La" -> 0.648, "Ce" -> 1.675, "Pr" -> 0.254, "Nd" -> 1.25,
    "Sm" -> 0.406, "Eu" -> 0.154, "Gd" -> 0.544, "Tb" -> 0.099,
    "Dy" -> 0.674, "Y" -> 4.3, "Ho" -> 0.149, "Er" -> 0.438,
    "Tm" -> 0.068, "Yb" -> 0.441, "Lu" -> 0.0675)

  /** REE in ionic-radius order (`trace_elements.py:5-25`). */
  val reeOrder: Seq[String] = Seq("La", "Ce", "Pr", "Nd", "Sm", "Eu", "Gd",
    "Tb", "Dy", "Y", "Ho", "Er", "Tm", "Yb", "Lu")

  /** Ionic radii (Angstrom) for REE / divalent cations
    * (`trace_elements.py:5-27, 78-121`). */
  val reeRadii: Map[String, Double] = Map(
    "La" -> 1.16, "Ce" -> 1.143, "Pr" -> 1.126, "Nd" -> 1.109,
    "Sm" -> 1.079, "Eu" -> 1.066, "Gd" -> 1.053, "Tb" -> 1.040,
    "Dy" -> 1.027, "Y" -> 1.019, "Ho" -> 1.015, "Er" -> 1.004,
    "Tm" -> 0.994, "Yb" -> 0.985, "Lu" -> 0.977)

  /** `x / reservoir[element]` — the normalisation expression. */
  def normalise(x: E, element: String, reservoir: Map[String, Double]): E =
    x / Lit(reservoir(element))

  /** Eu anomaly Eu/Eu* = Eu_n / sqrt(Sm_n * Gd_n) on chondrite-normalised
    * values — the standard derived REE metric. */
  def euAnomaly(euN: E, smN: E, gdN: E): E = euN / sqrt(smN * gdN)
}

/** Calibration-dataset registry (`model_calibrations/data/
  * calibration_datasets.json`): which experimental datasets calibrate each
  * model. Backs `get_calibration_data`'s `ref in datasets` filter
  * (`model_calibrations/plot_calibration.py:63-72`). */
object CalibrationData {
  val fe3fe2Datasets: Map[String, Seq[String]] = Map(
    "armstrong2019" -> Seq("A2019", "O2006", "Z2017"),
    "borisov2018" -> Seq("B2013", "B2015", "B2017"),
    "deng2020" -> Seq("T1980", "S1980", "KC1988", "KC1991", "M1995", "J2004",
      "O2006", "Z2017", "A2019"),
    "sun2024" -> Seq("F1965", "S1980", "T1980", "K1983", "KC1988", "KC1989",
      "KC1991", "M1995", "K2000", "G2002", "J2004", "P2004", "Bc2005",
      "W2005", "M2006", "O2006", "HI2007", "C2009", "BM2010", "B2013",
      "B2015", "C2015", "Z2016", "B2017", "Be2018", "DC2018", "M2019",
      "A2019", "Bl2020", "S2008", "S2020", "Ma2022", "K2023", "T2024"))
}
