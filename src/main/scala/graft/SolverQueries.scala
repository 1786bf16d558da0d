package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.{C, E, Lit}
import graft.functions.{Allison, Fe3Fe2Iterative, IaconoMarziano, Isobars, IwFull, QfmFull,
  Shishkina}
import graft.models.{CompCtx, Fo2Buffers}
import graft.Queries.Q

/** Solver-backed operators. Every query carries a full DuckDB oracle: the
  * solvers are deterministic bisections, secants and Picard iterations
  * written as [[graft.expr.Loop]]s (the IW buffer's Vinet grids as vector
  * loops) and rendered by `Pipeline.toSql` as recursive CTEs, or still by
  * hand: the not-a-knot spline assembly ([[IsobarCurveSql]]).
  */
object SolverQueries {

  private val meltEls = Tables.meltElements.toArray

  private val mctx = CompCtx(Tables.meltElements)

  /** Fe3Fe2 of every melt by one Deng-EOS model, fO2 from QFM 1-bar (a
    * column of its own): its solver stages, then the rounded value. */
  private def fe3Fe2Deng(name: String, model: String): Q = Queries.meltQ(name) { m =>
    val (stages, value) = Fe3Fe2Iterative.dengModels(model)(Tables.meltElements, C("T_K"),
      C("P_bar"), C("_fO2"))
    stages.foldLeft(m.derive("_fO2", Fo2Buffers.qfm1bar(C("T_K"))))(_ derive _)
      .withStage(Seq("sample_id" -> C("sample_id"), "Fe3Fe2" -> E.round(value, 6)))
  }

  /** The same for a model written as a [[graft.expr.Loop]]: a staged
    * query, whose oracle is the same loop rendered by `Pipeline.toSql`. */
  private def fe3Fe2Loop(model: String): Q =
    Queries.meltQ(s"q_fe3fe2_${model}_iterative")(_.derive("Fe3Fe2", E.round(
        Fe3Fe2Iterative.loops(model)(Fe3Fe2Iterative.wtBase(meltEls),
          C("T_K"), C("P_bar"), Fo2Buffers.qfm1bar(C("T_K"))), 6))
      .select("sample_id", "Fe3Fe2"))

  /** Iacono-Marziano saturation pressure by one tree. */
  private def imSaturation(name: String, p: E): Q = Queries.meltQ(name)(
    _.derive("P_sat_bar", E.round(p, 4)).select("sample_id", "P_sat_bar"))

  /** The sampled melts (one in 997) an isobar grid is built on, and their
    * SQL. */
  private def sampled(melts: DataFrame): DataFrame = melts.filter(col("sample_id") % 997 === 3)
  private val sampledSql =
    s"""(SELECT * FROM (SELECT ${Tables.meltCols} FROM lineitem) WHERE ("sample_id" % 997) = 3)"""

  def all: Seq[Q] = Seq(
    // EP2 flagship: volatile saturation pressure (mixed H2O-CO2 fluid).
    // Closed inner fixed point -> pure-species bisections + branch-free
    // Picard, written once as Loops (IaconoMarziano.*E).
    Queries.meltQ("q_saturation_mixed") { m =>
      val (p, x) = IaconoMarziano.mixedSaturationE(mctx, C("T_K"))
      m.withStage(Seq("sample_id" -> C("sample_id"),
        "P_sat_bar" -> E.round(p, 4), "X_fluid" -> E.round(x, 6)))
    },
    imSaturation("q_saturation_h2o", IaconoMarziano.h2oSaturationE(mctx, C("T_K"))),
    imSaturation("q_saturation_co2", IaconoMarziano.co2SaturationE(mctx, C("T_K"))),
    // Dissolved volatiles at in-table (P, T), x_fluid = 0.5: the secant +
    // bisection-fallback fixed point and the closed-form CO2, in stages
    // (IaconoMarziano.solubility).
    Queries.meltQ("q_solubility_mixed") { m =>
      val d = IaconoMarziano.solubility(mctx, Lit(0.5), C("P_bar"), C("T_K"))
      d.stages.foldLeft(m)(_ derive _).withStage(Seq("sample_id" -> C("sample_id"),
        "H2O_dissolved" -> E.round(d.h2o, 6), "CO2_dissolved" -> E.round(d.co2, 6)))
    },
    // Full QFM with EOS pressure terms: the transition bisections (memoised
    // per T) and the closed-form buffer, through QfmFull.withQfm's one
    // column; the oracle renders the same trees as stages.
    Queries.meltQ("q_fo2_qfm_full") { m =>
      QfmFull.fO2Stages.foldLeft(m)(_ derive _).withStage(Seq("sample_id" -> C("sample_id"),
        "log10_fO2" -> E.round(E.log10(C("_qfm")), 6)))
    }.copy(build = (s, dir) =>
      QfmFull.withQfm(Tables.meltsRangedDF(s, dir), "T_K", "P_bar", logshift = 0.0)
        .select(col("sample_id"), round(log10(col("fO2")), 6).as("log10_fO2"))
        .orderBy("sample_id")),
    // Full IW buffer (Hirschmann 2021): Vinet EOS + wustite equilibrium,
    // one per-row loop over the Vinet grids (vector loops memoised per
    // (phase, P)), through IwFull.withIw's one column; the oracle renders
    // the same tree.
    Queries.meltQ("q_fo2_iw_full")(_.derive("_iw", IwFull.fO2E).withStage(Seq(
        "sample_id" -> C("sample_id"), "log10_fO2" -> E.round(E.log10(C("_iw")), 6))))
      .copy(build = (s, dir) =>
        IwFull.withIw(Tables.meltsRangedDF(s, dir), "T_K", "P_bar", logshift = 0.0, as = "fO2_iw")
          .select(col("sample_id"), round(log10(col("fO2_iw")), 6).as("log10_fO2"))
          .orderBy("sample_id")),
    // Second solubility model family (config-dispatchable alternative):
    // the decoupled partial-pressure solve, written once as expressions
    // with the H2O bisection as a Loop (Shishkina.mixedSaturationE).
    Queries.meltQ("q_saturation_shishkina") { m =>
      val (p, x) = Shishkina.mixedSaturationE(CompCtx(Tables.meltElements))
      m.withStage(Seq("sample_id" -> C("sample_id"),
        "P_sat_bar" -> E.round(p, 4), "X_fluid" -> E.round(x, 6)))
    },
    // Third solubility model family: the 2-D fsolve decouples into
    // monotone 1-D bisections over the MRK fugacity chain, in stages
    // (Allison.mixedSaturationE).
    Queries.meltQ("q_saturation_allison") { m =>
      val s = Allison.mixedSaturationE(mctx, C("T_K"))
      s.stages.foldLeft(m)(_ derive _).withStage(Seq("sample_id" -> C("sample_id"),
        "P_sat_bar" -> E.round(s.p, 4), "X_fluid" -> E.round(s.x, 6)))
    },
    // Iterative Fe3Fe2 models: per-row fixed point (activities depend on
    // speciation), fO2 from QFM 1-bar. oneill2006/armstrong2019 are one
    // loop each; deng2020 and sun2024-deng are stages: the lattice length,
    // the dVdP lattice integral (memoised per (T, length)), then deng2020's
    // secant and bisection fallback, or sun2024's closed form.
    fe3Fe2Loop("oneill2006"),
    fe3Fe2Loop("armstrong2019"),
    // Reference-default sun2024 (dV="deng": EOS-integral Gamma). The
    // oracle-checked q_fe3fe2_sun2024 is the dV="parameterised" variant.
    fe3Fe2Deng("q_fe3fe2_sun2024_deng", "sun2024"),
    fe3Fe2Deng("q_fe3fe2_deng2020", "deng2020"),
    // Multimodal decode: each doc gets a REAL minimal container (PNG with
    // CRC'd IHDR / JPEG with a marker scan past APP0+COM to SOF0 / GIF
    // logical screen) synthesized from its key, and the real header
    // parser (Multimodal.parseHeader — pure byte arithmetic, no codec
    // libs) reads format/width/height back out of the bytes. The payload
    // length is closed-form in (doc_id, text length), so DuckDB pins the
    // whole encode -> parse round trip; independent hand-built byte
    // fixtures live in ExtOpsSpec ("container header parser").
    Q("q_multimodal_decode", (s, dir) => {
      val docs = Tables.readRangedBy(s, dir, "documents",
          Seq(graft.expr.C("doc_id")))
        .select(col("doc_id"), col("text"))
      graft.ext.Multimodal.decodeFeatures(
          graft.ext.Multimodal.synthesizedPayloads(docs))
        .select(col("doc_id"), col("payload_bytes"), col("format"),
          col("width"), col("height"))
        .orderBy("doc_id")
    }, Some("""WITH d AS (SELECT "doc_id",
             | least(32, octet_length(CAST("text" AS BLOB))) AS k
             | FROM documents)
             | SELECT "doc_id",
             |   CAST((CASE ("doc_id" % 3) WHEN 0 THEN 57
             |         WHEN 1 THEN 45 ELSE 18 END) + k AS INTEGER)
             |     AS "payload_bytes",
             |   (CASE ("doc_id" % 3) WHEN 0 THEN 'png'
             |         WHEN 1 THEN 'jpeg' ELSE 'gif' END) AS "format",
             |   CAST((16 + ("doc_id" % 64)) AS INTEGER) AS "width",
             |   CAST((16 + (("doc_id" // 64) % 64)) AS INTEGER) AS "height"
             | FROM d ORDER BY "doc_id"""".stripMargin.replace("\n", " "))),
    // Byte-sampling feature extractor over an arbitrary binary payload
    // (here: the raw UTF-8 text bytes — the corpus is ASCII, so
    // ascii(substr(text, j, 1)) equals byte j and list_reduce keeps the
    // sum in the Scala loop's order). Format-agnostic half of the decode.
    Q("q_multimodal_feature", (s, dir) => {
      val docs = Tables.readRangedBy(s, dir, "documents",
          Seq(graft.expr.C("doc_id")))
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      graft.ext.Multimodal.decodeFeatures(docs)
        .select(col("doc_id"), col("payload_bytes"),
          round(element_at(col("feature"), 1), 6).as("f0"))
        .orderBy("doc_id")
    }, Some("""WITH d AS (SELECT "doc_id", "text",
             | octet_length(CAST("text" AS BLOB)) AS n FROM documents),
             | f AS (SELECT "doc_id", n,
             |   list_reduce(list_transform(range(1, n + 1, 8),
             |     j -> (ascii(substr("text", CAST(j AS INTEGER), 1)) / 255.0e0)),
             |     (x, y) -> (x + y)) AS acc FROM d)
             | SELECT "doc_id", CAST(n AS INTEGER) AS "payload_bytes",
             |   round((acc / greatest(1, ((n + 7) // 8))), 6) AS "f0"
             | FROM f ORDER BY "doc_id"""".stripMargin.replace("\n", " "))),
    Q("q_multimodal_resize_plan", (s, dir) => {
      val docs = Tables.readRangedBy(s, dir, "documents",
          Seq(graft.expr.C("doc_id")))
        .select(col("doc_id"), col("text"))
      graft.ext.Multimodal.resizePlan(
          graft.ext.Multimodal.decodeFeatures(
            graft.ext.Multimodal.synthesizedPayloads(docs)), maxSide = 32)
        .select(col("doc_id"), col("width"), col("height"),
          col("out_width"), col("out_height"))
        .orderBy("doc_id")
    }, Some("""WITH w AS (SELECT "doc_id",
             |   CAST((16 + ("doc_id" % 64)) AS INTEGER) AS width,
             |   CAST((16 + (("doc_id" // 64) % 64)) AS INTEGER) AS height
             |   FROM documents),
             | s AS (SELECT "doc_id", width, height,
             |   least(1.0e0, (32.0e0 / greatest(width, height))) AS scale FROM w)
             | SELECT "doc_id", width AS "width", height AS "height",
             |   CAST(ceil((width * scale)) AS INTEGER) AS "out_width",
             |   CAST(ceil((height * scale)) AS INTEGER) AS "out_height"
             | FROM s ORDER BY "doc_id"""".stripMargin.replace("\n", " "))),
    // AV-extended decode over a 5-format corpus (png/jpeg/gif/wav/mp4 by
    // doc_id % 5): the WAV RIFF chunk walk reads channels/sample rate/
    // data size from real bytes, the MP4 box walk reads mvhd timescale/
    // duration past a free box — every metadata field is closed-form in
    // (doc_id, text length), so DuckDB pins the full five-container
    // encode -> parse round trip. Hand-built byte fixtures (truncation,
    // bad magic, extra chunks, version-1 mvhd) live in MultimodalSpec.
    Q("q_multimodal_av", (s, dir) => {
      val docs = Tables.readRangedBy(s, dir, "documents",
          Seq(graft.expr.C("doc_id")))
        .select(col("doc_id"), col("text"))
      graft.ext.Multimodal.decodeMedia(
          graft.ext.Multimodal.synthesizedAvPayloads(docs))
        .select(col("doc_id"), col("payload_bytes"), col("format"),
          col("width"), col("height"), col("channels"), col("sample_rate"),
          round(col("duration_ms"), 6).as("duration_ms"))
        .orderBy("doc_id")
    }, Some("""WITH d AS (SELECT "doc_id",
             | least(32, octet_length(CAST("text" AS BLOB))) AS k
             | FROM documents)
             | SELECT "doc_id",
             |   CAST((CASE ("doc_id" % 5) WHEN 0 THEN 57 WHEN 1 THEN 45
             |         WHEN 2 THEN 18 WHEN 3 THEN 44 ELSE 140 END) + k
             |     AS INTEGER) AS "payload_bytes",
             |   (CASE ("doc_id" % 5) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             |         WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' ELSE 'mp4' END)
             |     AS "format",
             |   (CASE WHEN ("doc_id" % 5) <= 2
             |     THEN CAST(16 + ("doc_id" % 64) AS INTEGER) END) AS "width",
             |   (CASE WHEN ("doc_id" % 5) <= 2
             |     THEN CAST(16 + (("doc_id" // 64) % 64) AS INTEGER) END)
             |     AS "height",
             |   (CASE WHEN ("doc_id" % 5) = 3
             |     THEN CAST(1 + ("doc_id" % 2) AS INTEGER) END) AS "channels",
             |   (CASE WHEN ("doc_id" % 5) = 3
             |     THEN CAST(8000 + 1000 * ("doc_id" % 4) AS INTEGER) END)
             |     AS "sample_rate",
             |   (CASE WHEN ("doc_id" % 5) = 3 THEN round((k * 1000.0e0) /
             |       CAST((8000 + 1000 * ("doc_id" % 4)) *
             |            (1 + ("doc_id" % 2)) * 2 AS DOUBLE), 6)
             |     WHEN ("doc_id" % 5) = 4 THEN round(
             |       ((1000 + 10 * ("doc_id" % 100)) * 1000.0e0) /
             |       CAST(600 + 100 * ("doc_id" % 10) AS DOUBLE), 6)
             |     END) AS "duration_ms"
             | FROM d ORDER BY "doc_id"""".stripMargin.replace("\n", " "))),
    // Duration-driven frame sampling over the PARSED mp4 durations (2 fps,
    // every 2nd frame): the video half of the multimodal plumbing made
    // real — frame counts come from mvhd, not a constant.
    Q("q_multimodal_av_frames", (s, dir) => {
      val docs = Tables.readRangedBy(s, dir, "documents",
          Seq(graft.expr.C("doc_id")))
        .select(col("doc_id"), col("text"))
      val media = graft.ext.Multimodal.decodeMedia(
        graft.ext.Multimodal.synthesizedAvPayloads(docs))
      graft.ext.Multimodal.frameSamplePlanFromDuration(
          media.where(col("format") === "mp4"), fps = 2.0, everyNth = 2)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))
        .orderBy("doc_id", "frame_idx")
    }, Some("""WITH m AS (SELECT "doc_id",
             |   ((1000 + 10 * ("doc_id" % 100)) * 1000.0e0) /
             |     CAST(600 + 100 * ("doc_id" % 10) AS DOUBLE) AS dur_ms
             |   FROM documents WHERE ("doc_id" % 5) = 4),
             | f AS (SELECT "doc_id",
             |   CAST(floor((dur_ms / 1000.0e0) * 2.0e0) AS INTEGER) AS nf
             |   FROM m)
             | SELECT "doc_id",
             |   CAST(unnest(generate_series(0, nf - 1, 2)) AS BIGINT)
             |     AS "frame_idx"
             | FROM f WHERE nf >= 1 ORDER BY 1, 2""".stripMargin
      .replace("\n", " "))),
    // Frame-sampling plan for video-like payloads: every 3rd frame of 10
    // as (doc_id, frame_idx) work units — lateral explode, no shuffle.
    Q("q_multimodal_frames", (s, dir) => {
      val docs = Tables.readRangedBy(s, dir, "documents",
          Seq(graft.expr.C("doc_id")))
        .select(col("doc_id"), col("text"))
      graft.ext.Multimodal.frameSamplePlan(
          graft.ext.Multimodal.decodeFeatures(
            graft.ext.Multimodal.synthesizedPayloads(docs)),
          everyNth = 3, frames = 10)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))
        .orderBy("doc_id", "frame_idx")
    }, Some("""SELECT "doc_id", CAST(unnest(generate_series(0, 9, 3)) AS BIGINT)
              | AS "frame_idx" FROM documents ORDER BY 1, 2""".stripMargin
      .replace("\n", " "))),
    // Smooth isobar curve assembly (reference isobars.py:107-141):
    // distributed grid -> per-group distributed spline fit. Full oracle:
    // the grid as staged trees (Pipeline.toSql), then the whole spline
    // pipeline (knot filter, pivoted elimination, piecewise evaluation)
    // op-for-op over DuckDB LIST columns (IsobarCurveSql).
    {
      val grid = Isobars.Grid(Seq(1000.0, 2000.0, 3000.0), (0 to 10).map(_.toDouble / 10))
      val st = Isobars.solubility(Tables.meltElements, "iaconomarziano2012")
      Q("q_isobar_curves", (s, dir) =>
        Isobars.isobarCurves(s, st.spark(grid.spark(sampled(Tables.meltsDF(s, dir)),
            Tables.meltElements)))
          .select(col("sample_id"), col("P_bar"),
            round(col("H2O"), 6).as("H2O"), round(col("CO2"), 6).as("CO2"))
          .orderBy("sample_id", "P_bar", "H2O"),
        Some(IsobarCurveSql.sql(st.sql(grid.sql(sampledSql, Tables.meltElements), Nil))))
    },
    // Isobar grid (J2 cross-join pattern): a few compositions x P x x_fluid.
    {
      val grid = Isobars.Grid((1 to 5).map(_ * 1000.0), (0 to 4).map(_ * 0.25))
      val out = Seq("sample_id", "P_grid", "x_fluid")
      val st = Isobars.solubility(Tables.meltElements, "iaconomarziano2012", (h2o, co2) =>
        Seq("sample_id" -> C("sample_id"), "P_grid" -> C("P_bar"), "x_fluid" -> C("xfl"),
          "H2O" -> E.round(h2o, 6), "CO2" -> E.round(co2, 6)))
      Q("q_isobars", (s, dir) =>
        st.spark(grid.spark(sampled(Tables.meltsRangedDF(s, dir)), Tables.meltElements))
          .orderBy(out.map(col): _*),
        Some(st.sql(grid.sql(sampledSql, Tables.meltElements), out)))
    }
  )
}
