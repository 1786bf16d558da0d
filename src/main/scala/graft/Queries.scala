package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.expr._
import graft.expr.E._
import graft.models._

/** The driver-facing query registry: every implemented operator from
  * SURVEY.md §2 gets (a) a Spark DataFrame builder and (b) — when
  * SQL-expressible — the equivalent DuckDB oracle SQL. Both sides are
  * compiled from the SAME expression AST (graft.expr), so the oracle
  * computes identical arithmetic in identical order.
  */
object Queries {

  final case class Q(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** A query defined by a staged pipeline over one source table. */
  private def stagedQ(name: String, table: String, base: Staged,
                      f: Staged => Staged,
                      out: Seq[String] = Seq.empty,
                      orderBy: Seq[String] = Seq("sample_id")): Q = {
    val st0 = f(base)
    val st = if (out.nonEmpty) st0.select(out: _*) else st0
    // Range-partition the RAW scan by the final sort key's source
    // expression (guide §2.4): the compute stages run downstream of ONE
    // exchange that the trailing orderBy reuses (alias-aware partitioning
    // propagation), instead of a round-robin floor exchange PLUS an
    // ensure-requirements range exchange whose bound-sampling pass
    // re-executed all the compute. Identical rows in identical order:
    // sample_id is a unique total key, so the range partitioning is a
    // pure physical rearrangement under the unchanged orderBy.
    val keyExprs = orderBy.map(c => Pipeline.sourceExpr(st.stages, c))
    val build: (SparkSession, String) => DataFrame =
      if (keyExprs.forall(_.isDefined))
        (s, dir) => Pipeline.applySpark(
          Tables.readRangedBy(s, dir, table, keyExprs.map(_.get)), st.stages)
          .orderBy(orderBy.map(org.apache.spark.sql.functions.col): _*)
      else
        (s, dir) => Pipeline.applySpark(Tables.read(s, dir, table), st.stages)
          .orderBy(orderBy.map(org.apache.spark.sql.functions.col): _*)
    Q(name, build, Some(st.sql(table, orderBy)))
  }

  private[graft] def meltQ(name: String)(f: Staged => Staged): Q =
    stagedQ(name, "lineitem", Tables.melts, f)

  private val mctx = CompCtx(Tables.meltElements)

  /** Thermometer query: sample_id + T_K_calc (rounded when the formula uses
    * transcendentals — Java Math vs libm can differ in the last ulp). */
  private def thermoQ(name: String, expr: CompCtx => E, transcendental: Boolean): Q =
    meltQ(s"q_thermo_$name") { m =>
      val e = expr(mctx)
      m.derive("T_K_calc", if (transcendental) round(e, 6) else e)
        .select("sample_id", "T_K_calc")
    }

  def all: Seq[Q] = Seq(
    // --- S1/C7: wrap + total invariant -----------------------------------
    meltQ("q_total")(_.withTotal),
    // --- C1-C6 conversions ----------------------------------------------
    meltQ("q_moles")(_.moles()),
    meltQ("q_moles_nonnorm")(_.moles(normalise = false)),
    meltQ("q_wtpc_roundtrip")(_.moles().wtPc()),
    meltQ("q_ppm")(_.ppm),
    meltQ("q_normalise")(_.normalise()),
    meltQ("q_cations")(_.cations()),
    meltQ("q_cations_wtpc")(_.cations(molFractions = false)),
    meltQ("q_oxides_roundtrip")(_.cations().oxides()),
    // --- C8/C9/C13: mineral formula, oxygen, polymerisation --------------
    stagedQ("q_mineral_formula", "orders", Tables.olivines, _.mineralFormula(4.0)),
    meltQ("q_oxygen")(_.withOxygen().select("sample_id", "oxygen")),
    meltQ("q_nbo")(_.meltPolymerisation
      .select("sample_id", "oxygen", "tetrahedral", "NBO", "NBO_T")),
    // --- C11: Fe split with fixed Fe3Fe2 (model "fixed") ------------------
    meltQ("q_fe_split")(_.feSplit(Lit(0.2))),
    // --- C16/C18: phase ops ----------------------------------------------
    stagedQ("q_forsterite", "orders", Tables.olivines,
      _.withMgNumber("Fo").select("sample_id", "Fo")),
    stagedQ("q_plag_endmembers", "customer", Tables.plag,
      _.plagEndmembers.select("sample_id", "anorthite", "albite", "orthoclase")),
    stagedQ("q_magnetite_endmembers", "part", Tables.magnetite,
      _.magnetiteEndmembers.select("sample_id", "magnetite", "ulvospinel")),
    stagedQ("q_magnetite_fe_speciation", "part", Tables.magnetite,
      _.magnetiteFeSpeciation.select("sample_id", "Fe", "Fe3")),
    stagedQ("q_ilmenite_endmembers", "part", Tables.ilmenite,
      _.ilmeniteEndmembers
        .select("sample_id", "hematite", "ilmenite", "geikielite", "pyrophanite")),
    // EP3 vertical slice (SURVEY §3/§7): thermometer -> fO2 -> Fe3Fe2
    // (sun2024, parameterised Gamma) -> Fe split -> density, one plan.
    meltQ("q_ep3_chain") { m =>
      val tCalc: E = C("T_K_calc")
      val fe3fe2 = Fe3Fe2.sun2024(mctx, tCalc, Fo2Buffers.qfm1bar(tCalc), C("P_bar"))
      val split = m
        .derive("T_K_calc", Thermometers.putirka2008_15(mctx))
        .derive("Fe3Fe2", round(fe3fe2, 6))
        .feSplit(C("Fe3Fe2"))
      val ctx2 = CompCtx(split.schema.elements)
      split.derive("density", Rheology.density(ctx2, tCalc, C("P_bar")))
        .select("sample_id", "T_K_calc", "Fe3Fe2", "FeO", "Fe2O3", "density")
    },
    // --- P11: calibration-range predicate (putirka2008_14/15 window) -----
    meltQ("q_calibration_range") { m =>
      val inRange =
        (C("SiO2") >= Lit(31.0)) && (C("SiO2") <= Lit(73.64)) &&
          (C("Na2O") + C("K2O") >= Lit(0.0)) && (C("Na2O") + C("K2O") <= Lit(14.3)) &&
          (C("H2O") >= Lit(0.0)) && (C("H2O") <= Lit(18.6))
      m.derive("in_calibration", CastD(If(inRange, ILit(1), ILit(0))))
        .select("sample_id", "in_calibration")
    },
    // --- P12: temperature sanity flag (validate_temperatures.py:6-20) ----
    // The reference warns on negative/NaN temperatures; here a per-row flag
    // column (NaN compares greater than any double in BOTH engines, so the
    // upper bound catches it without an isnan() dialect split).
    meltQ("q_temperature_validate") { m =>
      val t = Thermometers.putirka2008_15(mctx)
      m.derive("T_K_calc", t)
        .derive("T_valid", CastD(If(
          (C("T_K_calc") > Lit(0.0)) && (C("T_K_calc") < Lit(1e4)),
          ILit(1), ILit(0))))
        .select("sample_id", "T_K_calc", "T_valid")
    },
    // --- 2.7 thermometers -------------------------------------------------
    thermoQ("putirka2008_13", Thermometers.putirka2008_13(_), transcendental = false),
    thermoQ("putirka2008_14", Thermometers.putirka2008_14(_), transcendental = false),
    thermoQ("putirka2008_15", Thermometers.putirka2008_15(_), transcendental = false),
    thermoQ("putirka2008_16", Thermometers.putirka2008_16(_), transcendental = false),
    thermoQ("putirka2008_22", Thermometers.putirka2008_22(_), transcendental = true),
    thermoQ("sun2020", Thermometers.sun2020(_), transcendental = true),
    thermoQ("shea2022", Thermometers.shea2022(_), transcendental = false),
    thermoQ("sugawara2000_3", Thermometers.sugawara2000_3(_), transcendental = false),
    thermoQ("sugawara2000_6a", Thermometers.sugawara2000_6a(_), transcendental = false)
  ) ++ fo2Queries ++ fe3fe2Queries ++ rheologyKdQueries ++ geoQueries ++
    stochasticQueries ++ ExtQueries.all ++ SolverQueries.all

  /** Deterministic hash-derived Gaussians (Box-Muller over integer-hash
    * uniforms). Unlike `randn(seed)` — whose stream depends on partition
    * layout, so results change with cluster size — these are pure row
    * functions of (sample_id, draw): reproducible on any cluster AND
    * expressible in DuckDB, so both stochastic queries get full oracle
    * checks (reference `C10 random_sample` / MC error propagation). */
  private object HashGauss {
    private val M = 1000003L // prime modulus; all arithmetic < 2^63
    private val A = 48271L   // MINSTD multiplier
    /** Uniform in (0,1) from (sample_id, salt, extra): two multiplicative
      * rounds of 64-bit-safe integer arithmetic, identical in both engines. */
    def unif(salt: Long, extra: E = ILit(0)): E = {
      val h0 = (C("sample_id") % ILit(M)) * ILit(A) + ILit(salt) +
        extra * ILit(7919L)
      val h1 = (h0 % ILit(M)) * ILit(A) + ILit(31L * salt + 17L)
      (CastD(h1 % ILit(M)) + Lit(0.5)) / Lit(M.toDouble)
    }
    /** Standard Gaussian via Box-Muller. */
    def gauss(salt: Long, extra: E = ILit(0)): E =
      sqrt(Lit(-2.0) * ln(unif(salt, extra))) *
        cos(Lit(2.0 * math.Pi) * unif(salt + 1000L, extra))
  }

  private def stochasticQueries: Seq[Q] = {
    import org.apache.spark.sql.functions.{array, avg, col, explode, lit,
      stddev_samp, round => sround}
    // C10 random_sample: per-element Gaussian perturbation, clipped at 0.
    val randomSample = meltQ("q_random_sample") { m =>
      m.mapElements((e, i) =>
          greatest(C(e) + HashGauss.gauss(7L + i) * Lit(0.05), Lit(0.0)))
        .mapElements((e, _) => round(C(e), 6))
        .select("sample_id", "SiO2", "MgO", "FeO")
    }
    // Monte-Carlo error propagation: 8 perturbed draws per sample ->
    // sun2024 Fe3Fe2 -> per-sample mean/sd. Draw fan-out is a lateral
    // explode; the same arithmetic renders to DuckDB SQL by hand because
    // the staged pipeline has no explode/groupBy.
    val nDraws = 8
    val errWtPc = 0.02 // 1-sigma on every element, wt.%
    def perturbE(e: String, i: Int): E =
      greatest(C(e) + HashGauss.gauss(42L + i, C("draw")) * Lit(errWtPc),
        Lit(0.0))
    val fe3fe2E: E = Fe3Fe2.sun2024(mctx, C("T_K"),
      Fo2Buffers.qfm1bar(C("T_K")), C("P_bar"))
    val mcBuild = (s: SparkSession, dir: String) => {
      // Ranged melts (guide §2.4): the one range exchange on sample_id
      // satisfies the groupBy's clustered distribution AND the final
      // orderBy, so the 8-draw explode + sun2024 expression (the query's
      // real cost) runs once behind a single exchange — the old shape
      // paid a round-robin floor exchange, a hash exchange for the
      // aggregate, and a range exchange whose sampling re-executed the
      // aggregate stage.
      //
      // Draw-invariant hoist (guide §2.3 project-before-the-fan-out): the
      // perturbation only touches the COMPOSITION, so sun2024's T/P-only
      // numerator terms (log10(fO2)-omega and h*gamma — the entire Gamma
      // parameterisation, ~2/3 of the model's transcendental calls) are
      // computed ONCE per sample above the 8-draw explode and carried as
      // two doubles. Fe3Fe2.sun2024 is DEFINED through the same split, so
      // the op tree (and every double) is bit-identical to the unhoisted
      // form the oracle SQL renders.
      val (mcA, mcB) = Fe3Fe2.sun2024TpParts(C("T_K"),
        Fo2Buffers.qfm1bar(C("T_K")), C("P_bar"))
      val hoistStage = Stage(
        Seq("sample_id" -> (C("sample_id"): E)) ++
          Tables.meltElements.map(e => e -> (C(e): E)) ++
          Seq("__mcA" -> mcA, "__mcB" -> mcB))
      val base = Pipeline.applySpark(Tables.meltsRangedDF(s, dir),
          Cse.expand(hoistStage))
        .withColumn("draw", explode(array((0 until nDraws).map(i =>
          lit(i.toLong)): _*)))
      // run the perturbation + model stages through the CSE pass (as meltQ
      // stages do): sun2024 references every element many times via its
      // cation denominators, so the un-factored tree multiplies each
      // perturbation subtree ~8x and codegen compile time dominates the
      // one-shot query cost. Pure factoring — identical arithmetic.
      val pass = Seq("sample_id", "__mcA", "__mcB", "draw")
        .map(c => c -> (C(c): E))
      val perturbStage = Stage(pass ++ Tables.meltElements.zipWithIndex.map {
        case (e, i) => e -> perturbE(e, i) })
      val feStage = Stage(Seq("sample_id" -> (C("sample_id"): E),
        "Fe3Fe2" -> Fe3Fe2.sun2024FromParts(mctx, C("__mcA"), C("__mcB"))))
      Pipeline.applySpark(base, Cse.expand(perturbStage) ++ Cse.expand(feStage))
        .groupBy("sample_id")
        .agg(sround(avg("Fe3Fe2"), 6).as("fe3fe2_mean"),
          sround(stddev_samp("Fe3Fe2"), 6).as("fe3fe2_sd"))
        .orderBy("sample_id")
    }
    val meltsSql = Tables.melts.sql("lineitem", Seq.empty)
    val passCols = Seq("sample_id", "T_K", "P_bar")
      .map(c => "\"" + c + "\"").mkString(", ")
    // A4: rolling-window error recalibration (reference `tools/
    // model_errors.py:20-56` `_running_stddev`): order validation pairs by
    // the model value, 29-row centred window, reject samples further than
    // 2 sigma from the window median, stddev of the survivors. The second
    // pass re-reads window members under the first pass's stats, which SQL
    // expresses as a row_number range self-join. Calibration datasets are
    // thousands of rows, so the single global sort is by design (the
    // reference runs this offline on the driver too).
    val errorRecal = {
      val fr = 15
      val yExpr: E = C("x") * (Lit(1.0) + HashGauss.gauss(5L) * Lit(0.1))
      // calibration datasets are thousands of rows (the reference runs
      // this offline on its compiled validation set), so the query runs on
      // a deterministic ~1% key-hash subset of the melts, not the fact
      // table — the global window sort is capped by construction
      val subset = "(\"sample_id\" % 101) = 7"
      val build = (s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{abs => sabs, count, expr,
          round => sround, row_number, sequence, stddev_pop}
        val pts = Pipeline.applySpark(Tables.read(s, dir, "lineitem"),
            Tables.melts.stages)
          .filter(col("sample_id") % 101 === 7)
          .select(col("sample_id"),
            E.toColumn(round(fe3fe2E, 6)).as("x"))
          .withColumn("y", E.toColumn(yExpr))
        val w = Window.orderBy("x", "sample_id")
        val frame = w.rowsBetween(-fr, fr - 2)
        val whole = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val st = pts
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(whole))
          .withColumn("med", expr("percentile(y, 0.5)").over(frame))
          .withColumn("sd", stddev_pop(col("y")).over(frame))
        // re-reading window members under the centre row's (med, sd) is a
        // range self-join; realise it as an EQUI join by exploding each row
        // into the centre rns whose window contains it (29x fan-out) — a
        // shuffle hash join, not a nested loop.
        val members = st.select(col("y").as("y_b"),
          explode(sequence(col("rn") - (fr - 2), col("rn") + fr)).as("crn"))
        val centres = st.filter(col("rn") > fr && col("rn") <= col("n") - fr)
        centres.join(members, col("rn") === col("crn"))
          .filter(sabs(col("y_b") - col("med")) < lit(2.0) * col("sd"))
          .groupBy(col("sample_id"), col("x"))
          .agg(sround(stddev_pop(col("y_b")), 6).as("error_1sigma"))
          .select(col("sample_id"), sround(col("x"), 6).as("x"),
            col("error_1sigma"))
          .orderBy("sample_id")
      }
      val oracleSql =
        s"""WITH melts AS ($meltsSql),
           |base AS (SELECT "sample_id", ${E.toSql(round(fe3fe2E, 6))} AS x
           |  FROM melts WHERE $subset),
           |pts AS (SELECT "sample_id", x, ${E.toSql(yExpr)} AS y FROM base),
           |st AS (SELECT "sample_id", x, y,
           |  row_number() OVER (ORDER BY x, "sample_id") AS rn,
           |  count(*) OVER () AS n,
           |  median(y) OVER (ORDER BY x, "sample_id"
           |    ROWS BETWEEN $fr PRECEDING AND ${fr - 2} FOLLOWING) AS med,
           |  stddev_pop(y) OVER (ORDER BY x, "sample_id"
           |    ROWS BETWEEN $fr PRECEDING AND ${fr - 2} FOLLOWING) AS sd
           |  FROM pts),
           |members AS (SELECT y AS y_b,
           |  unnest(generate_series(rn - ${fr - 2}, rn + $fr)) AS crn FROM st),
           |centres AS (SELECT * FROM st WHERE rn > $fr AND rn <= n - $fr)
           |SELECT a."sample_id", round(a.x, 6) AS x,
           |  round(stddev_pop(m.y_b), 6) AS error_1sigma
           |FROM centres a JOIN members m ON a.rn = m.crn
           |WHERE abs(m.y_b - a.med) < 2 * a.sd
           |GROUP BY a."sample_id", a.x
           |ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
      Q("q_error_recalibration", build, Some(oracleSql))
    }
    val perturbedSql = Tables.meltElements.zipWithIndex.map { case (e, i) =>
      s"${E.toSql(perturbE(e, i))} AS \"$e\""
    }.mkString(", ")
    val mcSql =
      s"""WITH melts AS ($meltsSql),
         |draws AS (SELECT CAST(range AS BIGINT) AS draw FROM range(0, $nDraws)),
         |perturbed AS (SELECT $passCols, draw, $perturbedSql
         |  FROM melts CROSS JOIN draws),
         |fe AS (SELECT "sample_id", ${E.toSql(fe3fe2E)} AS fe3fe2 FROM perturbed)
         |SELECT "sample_id", round(avg(fe3fe2), 6) AS fe3fe2_mean,
         |  round(stddev_samp(fe3fe2), 6) AS fe3fe2_sd
         |FROM fe GROUP BY "sample_id" ORDER BY "sample_id"""".stripMargin
    Seq(randomSample, Q("q_monte_carlo_fe3fe2", mcBuild, Some(mcSql)), errorRecal)
  }

  /** Geoplot + calibration-data operators (SURVEY §2.1 S3: the TAS polygon
    * table, reference reservoir compositions, calibration datasets). */
  private def geoQueries: Seq[Q] = Seq(
    // TAS rock classification compiled to one codegen'd CASE tree
    // (`geoplot/TAS_diagram.py:22-67` + `data/TAS.csv`). The (SiO2, alkali)
    // point is spread across the WHOLE diagram from the conditions columns
    // so every one of the 15 fields is exercised — the natural melts table
    // only covers the basalt corner.
    meltQ("q_tas_classify") { m =>
      m.derive("tas_sio2", C("P_bar") * Lit(0.004) + Lit(38.996))
        .derive("tas_alkali", (C("T_K") - Lit(1350.0)) * Lit(0.068))
        .derive("rock", Tas.classify(C("tas_sio2"), C("tas_alkali")))
        .select("sample_id", "tas_sio2", "tas_alkali", "rock")
    },
    // Chondrite-normalised REE pattern + Eu anomaly
    // (`geoplot/trace_elements.py:30-36`, McDonough & Sun 1995). Trace
    // concentrations synthesised from the conditions columns; the
    // normalisation itself is the operator under test (per-column divide by
    // a folded literal — J3 lookups never become joins).
    meltQ("q_trace_ree_norm") { m =>
      val ree = Seq(
        "La" -> (Lit(2.0) + (C("P_bar") % Lit(350.0)) * Lit(0.05)),
        "Ce" -> (Lit(5.0) + (C("P_bar") % Lit(300.0)) * Lit(0.11)),
        "Nd" -> (Lit(4.0) + (C("T_K") % Lit(250.0)) * Lit(0.07)),
        "Sm" -> (Lit(1.5) + (C("P_bar") % Lit(200.0)) * Lit(0.02)),
        "Eu" -> (Lit(0.5) + (C("T_K") % Lit(100.0)) * Lit(0.01)),
        "Gd" -> (Lit(2.0) + (C("P_bar") % Lit(150.0)) * Lit(0.02)),
        "Dy" -> (Lit(2.5) + (C("T_K") % Lit(120.0)) * Lit(0.015)),
        "Er" -> (Lit(1.2) + (C("P_bar") % Lit(90.0)) * Lit(0.01)),
        "Yb" -> (Lit(1.0) + (C("T_K") % Lit(80.0)) * Lit(0.01)),
        "Lu" -> (Lit(0.15) + (C("P_bar") % Lit(60.0)) * Lit(0.002)))
      val withRee = ree.foldLeft(m) { case (st, (el, e)) =>
        st.derive(s"${el}_n",
          TraceElements.normalise(e, el, TraceElements.c1Chondrite))
      }
      withRee
        .derive("eu_anomaly", round(TraceElements.euAnomaly(
          C("Eu_n"), C("Sm_n"), C("Gd_n")), 6))
        .derive("la_yb_n", C("La_n") / C("Yb_n"))
        .select(Seq("sample_id") ++ ree.map(_._1 + "_n") ++
          Seq("eu_anomaly", "la_yb_n"): _*)
    },
    // Rhodes-diagram Kd isopleth grid (`geoplot/rhodes.py:5-19`): the
    // equilibrium-Fo% surface Fo = 100 / (1 + Kd * (1 - Mg#) / Mg#) over a
    // (Kd x Mg#melt) grid — the reference's defaults, Kd in {0.1..0.4}
    // step 0.1 and Mg# in [0.2, 1) step 0.01. Same J2 cross-product
    // pattern as q_isobars, rendered join-free: one row exploded twice
    // (two nested literal grids), so the plan is a single narrow stage.
    // Grid values are exact integer-over-power-of-ten divisions computed
    // identically by both engines (no accumulated arange float error).
    rhodesQ,
    // Calibration-dataset membership filter: the reference's
    // `calibration_data.query("ref in @datasets")`
    // (`model_calibrations/plot_calibration.py:63-72`) as a Spark
    // `filter(isin)` — a selective predicate Catalyst pushes into the scan.
    calibrationFilterQ)

  private def rhodesQ: Q = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, round => sround}
    val sql =
      """WITH k AS (SELECT CAST(unnest(generate_series(1, 4)) AS DOUBLE)
        | / 10.0 AS kd),
        | m AS (SELECT CAST(unnest(generate_series(20, 99)) AS DOUBLE)
        | / 100.0 AS mg_no)
        | SELECT kd AS "kd", mg_no AS "mg_no",
        |   round(100.0 / (1.0 + kd * (1.0 - mg_no) / mg_no), 6) AS "fo"
        | FROM k, m ORDER BY 1, 2""".stripMargin.replace("\n", " ")
    Q("q_rhodes_isopleths", (s, dir) => {
      val kds = (1 to 4).map(i => lit(i.toDouble / 10.0))
      val mgs = (20 to 99).map(i => lit(i.toDouble / 100.0))
      s.range(1)
        .select(explode(array(kds: _*)).as("kd"))
        .select(col("kd"), explode(array(mgs: _*)).as("mg_no"))
        .select(col("kd"), col("mg_no"),
          sround(lit(100.0) /
            (lit(1.0) + col("kd") * (lit(1.0) - col("mg_no")) / col("mg_no")),
            6).as("fo"))
        .orderBy("kd", "mg_no")
    }, Some(sql))
  }

  private def calibrationFilterQ: Q = {
    val codes = Vector("A2019", "B2013", "KC1991", "O2006", "S2020", "T1980",
      "Z2017", "Z2018")
    val datasets = CalibrationData.fe3fe2Datasets("armstrong2019")
    // ref code from the customer key: CASE (c_custkey % 8) -> code
    val bucket: E = C("c_custkey") % ILit(codes.size.toLong)
    val refExpr: E = codes.init.zipWithIndex.foldRight(SLit(codes.last): E) {
      case ((code, i), rest) => If(bucket === ILit(i.toLong), SLit(code), rest)
    }
    val sql =
      s"""WITH r AS (SELECT "c_custkey" AS "sample_id", ${E.toSql(refExpr)}
         | AS "ref" FROM customer)
         | SELECT * FROM r
         | WHERE "ref" IN (${datasets.map(d => s"'$d'").mkString(", ")})
         | ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
    Q("q_calibration_filter", (s, dir) => {
      import org.apache.spark.sql.functions.col
      Tables.readRangedBy(s, dir, "customer", Seq(C("c_custkey")))
        .select(col("c_custkey").as("sample_id"),
          E.toColumn(refExpr).as("ref"))
        .filter(col("ref").isin(datasets: _*))
        .orderBy("sample_id")
    }, Some(sql))
  }

  /** fO2 buffers: output log10(fO2) (absolute fO2 spans ~1e-12..1e-5 — a
    * fixed-decimal round would zero it), rounded for libm-vs-Java ulp drift. */
  private def fo2Queries: Seq[Q] = {
    val tK: E = C("T_K"); val pBar: E = C("P_bar")
    def q(name: String, e: E): Q = meltQ(s"q_fo2_$name") {
      _.derive("log10_fO2", round(log10(e), 6)).select("sample_id", "log10_fO2")
    }
    Seq(
      q("qfm_1bar", Fo2Buffers.qfm1bar(tK)),
      q("nno", Fo2Buffers.nno(tK, pBar)),
      q("nno_1bar", Fo2Buffers.nno1bar(tK)),
      q("nno_frost", Fo2Buffers.nnoFrost(tK, pBar)),
      q("ruruo2", Fo2Buffers.ruRuO2(tK, pBar)),
      q("iw_campbell", Fo2Buffers.iwCampbell(tK, pBar)),
      q("fefeo_oneill_huebner", Fo2Buffers.feFeO94OneillHuebner(tK, pBar)),
      q("iw_zhang", Fo2Buffers.iwZhang(tK, pBar)),
      q("iw_oneill1993", Fo2Buffers.iwOneill1993(tK)))
  }

  /** Closed-form Fe3+/Fe2+ models, fO2 from the QFM 1-bar buffer. */
  private def fe3fe2Queries: Seq[Q] = {
    val tK: E = C("T_K"); val pBar: E = C("P_bar")
    val fO2 = Fo2Buffers.qfm1bar(tK)
    Fe3Fe2.closedForm.toSeq.sortBy(_._1).map { case (name, f) =>
      meltQ(s"q_fe3fe2_$name") {
        _.derive("Fe3Fe2", round(f(mctx, tK, fO2, pBar), 6))
          .select("sample_id", "Fe3Fe2")
      }
    }
  }

  private def rheologyKdQueries: Seq[Q] = {
    val tK: E = C("T_K"); val pBar: E = C("P_bar")
    Seq(
      meltQ("q_viscosity")(_.derive("viscosity",
        round(Rheology.viscosity(mctx, tK), 6)).select("sample_id", "viscosity")),
      meltQ("q_density")(_.derive("density",
        Rheology.density(mctx, tK, pBar)).select("sample_id", "density")),
      meltQ("q_kd_putirka2016_8a")(_.derive("Kd", Kd.putirka2016_8a)
        .select("sample_id", "Kd")),
      meltQ("q_kd_putirka2016_8b")(_.derive("Kd", Kd.putirka2016_8b(mctx, pBar))
        .select("sample_id", "Kd")),
      meltQ("q_kd_putirka2016_8c")(_.derive("Kd", Kd.putirka2016_8c(mctx))
        .select("sample_id", "Kd")),
      meltQ("q_kd_putirka2016_8d")(_.derive("Kd",
        round(Kd.putirka2016_8d(mctx, pBar), 6)).select("sample_id", "Kd")),
      meltQ("q_kd_sun2020")(_.derive("Kd",
        round(Kd.sun2020(mctx, Lit(0.2)), 6)).select("sample_id", "Kd")),
      meltQ("q_kd_toplis2005_fixedfo")(_.derive("Kd",
        round(Kd.toplis2005Fixed(mctx, Lit(0.85), tK, pBar), 6))
        .select("sample_id", "Kd")),
      // The Kd <-> Fo fixed points run as Loops; the oracle renders the
      // same loop as a recursive CTE (Pipeline.toSql).
      // blundy2020: Fe3Fe2 forced to borisov2018, then the Fo iteration.
      meltQ("q_kd_blundy2020")(_.derive("Kd", round(Kd.blundy2020Iterative(
          mctx.molNorm("FeO"), mctx.molNorm("MgO"),
          Fe3Fe2.borisov2018(mctx, tK, Fo2Buffers.qfm1bar(tK)), tK), 6))
        .select("sample_id", "Kd")),
      // saper2022: cation-fraction interaction terms + Fo iteration.
      meltQ("q_kd_saper2022")(_.derive("Kd", round(Kd.saper2022Iterative(
          mctx.molNorm("FeO"), mctx.molNorm("MgO"), mctx.cat("Si"),
          mctx.cat("Ti"), mctx.cat("Na") + mctx.cat("K"), Lit(0.2), tK), 6))
        .select("sample_id", "Kd")),
      olMeltThermoQ) ++ errorModelQueries ++ Seq(
      meltQ("q_kd_toplis2005_iterative") { m =>
        def mp(ox: String): E = mctx.molNorm(ox) * Lit(100.0)
        m.derive("Kd", round(Kd.toplis2005Iterative(mp("SiO2"), mp("Na2O"),
            mp("K2O"), mp("H2O"), mctx.molNorm("FeO"), mctx.molNorm("MgO"),
            Lit(0.2), tK, pBar), 6))
          .select("sample_id", "Kd")
      },
      // J1 join: observed Kd from melt (lineitem) x olivine (orders) pair.
      observedKdJoinQ)
  }

  /** putirka2007_4 melt-side derived columns over `ctx` (anhydrous-basis
    * cations; raw-wt.% H2O term) — shared by the query and GoldenSpec's
    * reference-parity anchor. */
  private[graft] def olMeltMeltDerives(ctx: CompCtx): Seq[(String, E)] = {
    val a = ctx.anhydrous
    Seq(
      "m_cnm" -> E.sumAll(Seq("Fe", "Mn", "Mg", "Ca", "Co", "Ni")
        .map(a.cat(_): E)),
      "m_al" -> a.cat("Al"), "m_ti" -> a.cat("Ti"),
      "m_si_mol" -> a.molNorm("SiO2"),
      "m_mg_cat" -> a.cat("Mg"),
      "m_h2o" -> ctx.wt("H2O"))
  }

  /** putirka2007_4 temperature over the derived melt columns + ol_mg_cat +
    * P_bar (`thermometers/ol_melt.py:95-119`). */
  private[graft] def olMeltTExpr: E = {
    val pGPa = C("P_bar") / Lit(1e4)
    val nf = Lit(7.0 / 2.0) * ln(Lit(1.0) - C("m_al")) +
      Lit(7.0) * ln(Lit(1.0) - C("m_ti"))
    round(
      (Lit(15294.6) + Lit(1318.8) * pGPa + Lit(2.4834) * pGPa * pGPa) /
        (Lit(8.048) + Lit(2.8532) * ln(C("ol_mg_cat") / C("m_mg_cat")) +
          Lit(2.097) * ln(Lit(1.5) * C("m_cnm")) +
          Lit(2.575) * ln(Lit(3.0) * C("m_si_mol")) - Lit(1.41) * nf +
          Lit(0.222) * C("m_h2o") + Lit(0.5) * pGPa) + Lit(273.15), 6)
  }

  /** Olivine-liquid thermometer putirka2007_4 (`thermometers/ol_melt.py:
    * 22-119`): the J1 join with measured D_Mg = Mg_cat(ol)/Mg_cat(liq).
    * Closed-form on both sides of the join -> full oracle. */
  private def olMeltThermoQ: Q = {
    val meltSide = olMeltMeltDerives(mctx).foldLeft(Tables.meltsWithOrder) {
        case (st, (n, e)) => st.derive(n, e)
      }
      .select("sample_id", "order_id", "P_bar", "m_cnm", "m_al", "m_ti",
        "m_si_mol", "m_mg_cat", "m_h2o")
    val olCtx = CompCtx(Tables.olivineElements)
    val olSide = Tables.olivines
      .derive("ol_mg_cat", olCtx.cat("Mg"))
      .select("sample_id", "ol_mg_cat")
    val tExpr = olMeltTExpr
    val sql =
      s"""WITH melt AS (${meltSide.sql("lineitem", Seq.empty)}),
         | ol AS (${olSide.sql("orders", Seq.empty)})
         | SELECT melt."sample_id" AS "sample_id",
         |   ${E.toSql(tExpr)} AS "T_K_calc"
         | FROM melt JOIN ol ON melt."order_id" = ol."sample_id"
         | ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
    Q("q_thermo_olmelt_putirka2007_4", (s, dir) => {
      import org.apache.spark.sql.functions.col
      // Melt (stream) side range-partitioned by the final sort key: the
      // broadcast join preserves it, so the trailing orderBy is a local
      // sort and its sampling pass stops re-executing the join + T
      // expression (guide §2.4). The olivine side feeds a broadcast
      // build — no parallelism floor needed before a driver collect.
      val m = Pipeline.applySpark(
        Tables.readRangedBy(s, dir, "lineitem", Seq(Tables.sampleId)),
        meltSide.stages)
      val o = Pipeline.applySpark(
        Tables.read(s, dir, "orders", parallelismFloor = false),
        olSide.stages)
        .withColumnRenamed("sample_id", "ol_sample_id")
      m.join(o, m("order_id") === o("ol_sample_id"))
        .select(col("sample_id"), E.toColumn(tExpr).as("T_K_calc"))
        .orderBy("sample_id")
    }, Some(sql))
  }

  /** Fe3Fe2 error model queries: 1-bar fitted curve + the high-pressure
    * B-spline branch — both full-oracle (the B-spline collocation renders
    * closed-form per segment). */
  private def errorModelQueries: Seq[Q] = Seq(
    // MC offset wrapper (`Fe_redox/Fe3Fe2_baseclass.py:51-91`): Fe3Fe2 +
    // draw x model error, floored at 1e-6 — the reference's per-sample MC
    // error propagation, fully oracle-able with hash Gaussians and the
    // closed-form error spline.
    meltQ("q_fe3fe2_mc_offset") { m =>
      m.derive("Fe3Fe2", round(Fe3Fe2.sun2024(mctx, C("T_K"),
          Fo2Buffers.qfm1bar(C("T_K")), C("P_bar")), 6))
        .derive("err", round(
          ErrorModels.fe3fe2ErrorExpr("sun2024", C("Fe3Fe2"), C("P_bar")), 6))
        .derive("Fe3Fe2_mc", round(ErrorModels.withOffset(C("Fe3Fe2"),
          HashGauss.gauss(9L), C("err")), 6))
        .select("sample_id", "Fe3Fe2_mc")
    },
    meltQ("q_fe3fe2_error_1bar") { m =>
      val fe3fe2 = round(Fe3Fe2.sun2024(mctx, C("T_K"),
        Fo2Buffers.qfm1bar(C("T_K")), C("P_bar")), 6)
      m.derive("Fe3Fe2", fe3fe2)
        .derive("error_1sigma",
          round(ErrorModels.fe3fe2Error1Bar("sun2024", C("Fe3Fe2")), 6))
        .select("sample_id", "Fe3Fe2", "error_1sigma")
    },
    // HP B-spline error: the sun2024 fit is a single clamped cubic span, so
    // the spline renders closed-form into the dual-compiled AST -> full
    // oracle (the multi-span borisov fit stays on the scalar splev path).
    meltQ("q_fe3fe2_error_hp") { m =>
      m.derive("Fe3Fe2", round(Fe3Fe2.sun2024(mctx, C("T_K"),
          Fo2Buffers.qfm1bar(C("T_K")), C("P_bar")), 6))
        .derive("error_1sigma", round(
          ErrorModels.fe3fe2ErrorExpr("sun2024", C("Fe3Fe2"), C("P_bar")), 6))
        .select("sample_id", "error_1sigma")
    })

  /** The reference's canonical implicit join J1 — olivine and melt paired by
    * sample key (`olivine.py:60-95`) — as an explicit equi-join. The olivine
    * side (one row per order) is broadcast-eligible; Catalyst/AQE picks the
    * strategy. */
  private def observedKdJoinQ: Q = {
    val fe3fe2 = 0.2
    val meltSide = Tables.meltsWithOrder
      .derive("melt_fe", mctx.molNorm("FeO"))
      .derive("melt_mg", mctx.molNorm("MgO"))
      .select("sample_id", "order_id", "melt_fe", "melt_mg")
    val olCtx = CompCtx(Tables.olivineElements)
    val olSide = Tables.olivines
      .derive("ol_fe", olCtx.molNorm("FeO"))
      .derive("ol_mg", olCtx.molNorm("MgO"))
      .select("sample_id", "ol_fe", "ol_mg")
    val kdExpr = Kd.observed(C("melt_fe"), C("melt_mg"), C("ol_fe"), C("ol_mg"),
      Lit(fe3fe2))
    val sql =
      s"""WITH melt AS (${meltSide.sql("lineitem", Seq.empty)}),
         | ol AS (${olSide.sql("orders", Seq.empty)})
         | SELECT melt."sample_id" AS "sample_id",
         |   ${E.toSql(kdExpr)} AS "Kd_observed"
         | FROM melt JOIN ol ON melt."order_id" = ol."sample_id"
         | ORDER BY "sample_id"""".stripMargin.replace("\n", " ")
    Q("q_kd_observed_join", (s, dir) => {
      import org.apache.spark.sql.functions.col
      // Same shape as q_thermo_olmelt: ranged stream side, floor-free
      // broadcast side (guide §2.4).
      val m = Pipeline.applySpark(
        Tables.readRangedBy(s, dir, "lineitem", Seq(Tables.sampleId)),
        meltSide.stages)
      val o = Pipeline.applySpark(
        Tables.read(s, dir, "orders", parallelismFloor = false),
        olSide.stages)
        .withColumnRenamed("sample_id", "ol_sample_id")
      m.join(o, m("order_id") === o("ol_sample_id"))
        .select(col("sample_id"), E.toColumn(kdExpr).as("Kd_observed"))
        .orderBy("sample_id")
    }, Some(sql))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
