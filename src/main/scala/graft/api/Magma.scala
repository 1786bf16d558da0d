package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import graft.core._
import graft.expr._
import graft.expr.E._
import graft.models._
import graft.functions.QfmFull

/** Global model configuration (reference `configuration.py:88-239`).
  * Immutable snapshot semantics: `MagmaConfig.get` is captured into the
  * plan at call time — never read from a mutable singleton on executors
  * (SURVEY.md §7 "what's genuinely hard" #3). */
final case class MagmaConfig(
    fe3fe2Model: String = "sun2024",
    kdModel: String = "toplis2005",
    meltThermometer: String = "putirka2008_15",
    fO2Buffer: String = "qfm",
    dfO2: Double = 1.0, // log-unit shift above the buffer
    volatileSolubility: String = "iaconomarziano2012")

object MagmaConfig {
  /** Solver-backed Fe3Fe2 models, dispatched as loop columns rather than
    * closed-form expressions (`Fe_redox/Fe3Fe2_calculate.py`). "sun2024"
    * is here because the reference's DEFAULT is `dV="deng"` (EOS-integral
    * Gamma, `Fe3Fe2_models.py:1495`); the codegen'd expression variant is
    * reachable as "sun2024_parameterised". */
  val iterativeFe3Fe2: Set[String] =
    Set("oneill2006", "armstrong2019", "deng2020", "sun2024")
  val solubilityModels: Set[String] =
    Set("iaconomarziano2012", "allison2022", "shishkina2014")
  val kdModels: Set[String] = Set("toplis2005", "putirka2016_8a",
    "putirka2016_8b", "putirka2016_8c", "putirka2016_8d", "sun2020",
    "blundy2020", "saper2022")

  @volatile private var current = MagmaConfig()
  def get: MagmaConfig = current
  def set(c: MagmaConfig): Unit = {
    require(Fe3Fe2.closedForm.contains(c.fe3fe2Model) ||
      iterativeFe3Fe2.contains(c.fe3fe2Model) ||
      c.fe3fe2Model == "sun2024_parameterised" ||
      c.fe3fe2Model == "fixed", s"unknown Fe3Fe2 model ${c.fe3fe2Model}")
    require(Thermometers.all.contains(c.meltThermometer),
      s"unknown thermometer ${c.meltThermometer}")
    require(solubilityModels.contains(c.volatileSolubility),
      s"unknown volatile-solubility model ${c.volatileSolubility}")
    require(kdModels.contains(c.kdModel), s"unknown Kd model ${c.kdModel}")
    require(Fo2Buffers.allBuffers.contains(c.fO2Buffer),
      s"unknown fO2 buffer ${c.fO2Buffer}")
    current = c
  }
  def reset(): Unit = current = MagmaConfig()
}

/** CSV ingestion (reference `parse_io/readers.py:18-72`): header CSV ->
  * classify columns as chemistry vs passthrough by formula parsing, cast
  * chemistry to double, keep requested extra columns, derive `total`. */
object MagmaIO {

  def readFile(spark: SparkSession, path: String,
               units: CUnit = CUnit.WtPc, datatype: CType = CType.Oxide,
               indexCol: Option[String] = None,
               keepColumns: Seq[String] = Seq.empty): MagmaDF = {
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(path)
    val idCol = indexCol.getOrElse(raw.columns.head)
    val renamed = if (idCol == "sample_id") raw
      else raw.withColumnRenamed(idCol, "sample_id")
    // total column regex-normalisation (`magmaFrame.py:57-62`)
    val totalNorm = renamed.columns.find(_.toLowerCase.contains("total"))
      .map(c => renamed.drop(c)).getOrElse(renamed)
    val chem = totalNorm.columns.filter(graft.chem.Elements.isChemical)
    val keep = Seq("sample_id") ++ keepColumns.filter(totalNorm.columns.contains)
    val projected = totalNorm.select((keep ++ chem).distinct.map(col): _*)
    val casted = chem.foldLeft(projected)((d, c) =>
      d.withColumn(c, col(c).cast("double")))
    MagmaDF.wrap(casted, units, datatype, keep)
  }

  def readMelt(spark: SparkSession, path: String,
               keepColumns: Seq[String] = Seq.empty): Melt =
    new Melt(readFile(spark, path, keepColumns = keepColumns))
  def readOlivine(spark: SparkSession, path: String): Olivine =
    new Olivine(readFile(spark, path))
  def readClinopyroxene(spark: SparkSession, path: String): Clinopyroxene =
    new Clinopyroxene(readFile(spark, path))
  def readPlagioclase(spark: SparkSession, path: String): MagmaDF =
    readFile(spark, path)
}

/** Melt-phase operations (reference `core/MagmaFrames/melt.py`): the
  * chained model pipelines a MagmaPandas user calls, compiled into single
  * Spark plans. All methods require the named condition columns to be
  * present on the wrapped DataFrame. */
final class Melt(val mdf: MagmaDF, config: MagmaConfig = MagmaConfig.get) {
  private def ctx = CompCtx(mdf.staged.schema.elements)
  def df: DataFrame = mdf.df

  /** withColumn + register the new column as passthrough so later
    * conversions carry it. */
  private def addCol(as: String, c: Column): Melt = withAdded(df.withColumn(as, c), as)

  /** `out`, this melt with column `as` added, with `as` registered. */
  private def withAdded(out: DataFrame, as: String): Melt = {
    val sch = mdf.staged.schema
    val st = mdf.staged.copy(schema =
      sch.copy(passthrough = sch.passthrough :+ as))
    new Melt(MagmaDF(out, st), config)
  }

  /** Liquidus temperature via the configured thermometer; `offset` shifts
    * by offset·SEE (reference `thermometers/melt.py:104` `offset_SEE`). */
  def temperature(as: String = "T_K_calc", offset: Double = 0.0): Melt = {
    val t = Thermometers.all(config.meltThermometer)(ctx, offset)
    addCol(as, E.toColumn(t))
  }

  /** fO2 at the configured buffer + dfO2 shift. Every buffer in
    * [[Fo2Buffers.allBuffers]] dispatches by name, mirroring the
    * reference's `calculate_fO2` (`fO2/fO2_calculate.py:11-25`): the
    * full-EOS "qfm" runs its transition and buffer loops, "iw" a per-row
    * UDF over its (phase, P)-memoised Vinet grids; both are one
    * `withColumn`. The closed-form buffers compile to a single codegen'd
    * expression. */
  def withFO2(tCol: String = "T_K", pCol: String = "P_bar",
              as: String = "fO2"): Melt = {
    val out = config.fO2Buffer match {
      case "qfm" => QfmFull.withQfm(df, tCol, pCol, config.dfO2, as)
      case "iw" =>
        graft.functions.IwFull.withIw(df, tCol, pCol, config.dfO2, as)
      case other => df.withColumn(as,
        E.toColumn(Fo2Buffers.dispatch(other, C(tCol), C(pCol), config.dfO2)))
    }
    withAdded(out, as)
  }

  /** Melt Fe3+/Fe2+ via the configured model (`melt.py:162-223`,
    * `Fe_redox/Fe3Fe2_calculate.py:7-39`): closed-form models compile to a
    * single codegen'd expression, oneill2006/armstrong2019 to one native
    * loop expression, and the Deng-EOS models (deng2020/sun2024) to their
    * solver stages' loop columns. */
  def fe3Fe2(tCol: String = "T_K", pCol: String = "P_bar",
             fO2Col: String = "fO2", as: String = "Fe3Fe2"): Melt =
    config.fe3fe2Model match {
      case "sun2024_parameterised" =>
        addCol(as, E.toColumn(
          Fe3Fe2.sun2024(ctx, C(tCol), C(fO2Col), C(pCol))))
      case m if graft.functions.Fe3Fe2Iterative.loops.contains(m) =>
        addCol(as, E.toColumn(graft.functions.Fe3Fe2Iterative.loops(m)(
          graft.functions.Fe3Fe2Iterative.wtBase(mdf.staged.schema.elements),
          C(tCol), C(pCol), C(fO2Col))))
      case m if graft.functions.Fe3Fe2Iterative.dengModels.contains(m) =>
        val (stages, value) = graft.functions.Fe3Fe2Iterative.dengModels(m)(
          mdf.staged.schema.elements, C(tCol), C(pCol), C(fO2Col))
        withAdded(Pipeline.derive(df, stages, as, value), as)
      case m if Fe3Fe2.closedForm.contains(m) =>
        addCol(as, E.toColumn(
          Fe3Fe2.closedForm(m)(ctx, C(tCol), C(fO2Col), C(pCol))))
      case "fixed" => addCol(as, lit(0.2))
      case other => throw new IllegalArgumentException(s"Fe3Fe2 model $other")
    }

  /** Split total Fe into FeO/Fe2O3 from a ratio column (`melt.py:225-274`). */
  def feSpeciation(fe3fe2Col: String = "Fe3Fe2"): Melt =
    new Melt(mdf.feSplit(C(fe3fe2Col)), config)

  /** Equilibrium olivine-melt Fe-Mg Kd via the configured model
    * (`melt.py:276-317` `Kd_olivine_FeMg_eq`; registry
    * `Kd/Ol_melt/FeMg/Kd_models.py`). Closed-form models compile to
    * expressions; toplis2005 (the reference default), blundy2020 and
    * saper2022 run their Fo/Kd iteration as one native loop expression.
    * blundy2020 forces borisov2018 Fe3Fe2 internally like the reference. */
  def kdOlivineFeMg(tCol: String = "T_K", pCol: String = "P_bar",
                    fO2Col: String = "fO2", fe3fe2Col: String = "Fe3Fe2",
                    as: String = "Kd"): Melt = {
    def molCol(ox: String): Column = E.toColumn(ctx.molNorm(ox))
    def molPc(ox: String): Column = E.toColumn(ctx.molNorm(ox)) * lit(100.0)
    val c: Column = config.kdModel match {
      case "toplis2005" =>
        Kd.toplis2005(molPc("SiO2"), molPc("Na2O"), molPc("K2O"),
          molPc("H2O"), molCol("FeO"), molCol("MgO"), col(fe3fe2Col),
          col(tCol), col(pCol))
      case "putirka2016_8a" => E.toColumn(Kd.putirka2016_8a)
      case "putirka2016_8b" => E.toColumn(Kd.putirka2016_8b(ctx, C(pCol)))
      case "putirka2016_8c" => E.toColumn(Kd.putirka2016_8c(ctx))
      case "putirka2016_8d" => E.toColumn(Kd.putirka2016_8d(ctx, C(pCol)))
      case "sun2020" => E.toColumn(Kd.sun2020(ctx, C(fe3fe2Col)))
      case "blundy2020" =>
        val borisov = E.toColumn(
          Fe3Fe2.borisov2018(ctx, C(tCol), C(fO2Col)))
        Kd.blundy2020(molCol("FeO"), molCol("MgO"), borisov, col(tCol))
      case "saper2022" =>
        Kd.saper2022(molCol("FeO"), molCol("MgO"),
          E.toColumn(ctx.cat("Si")), E.toColumn(ctx.cat("Ti")),
          E.toColumn(ctx.cat("Na") + ctx.cat("K")),
          col(fe3fe2Col), col(tCol))
      case other => throw new IllegalArgumentException(s"Kd model $other")
    }
    addCol(as, c)
  }

  def density(tCol: String = "T_K", pCol: String = "P_bar",
              as: String = "density"): Melt = {
    val e = Rheology.density(ctx, C(tCol), C(pCol))
    addCol(as, E.toColumn(e))
  }

  def viscosity(tCol: String = "T_K", as: String = "viscosity"): Melt = {
    val e = Rheology.viscosity(ctx, C(tCol))
    addCol(as, E.toColumn(e))
  }

  /** EP2 flagship: volatile saturation pressure (mixed H2O-CO2), dispatched
    * on `config.volatileSolubility` (reference `volatile_solubility/
    * calculate_volatiles.py:8-20` `get_solubility_model`). Every model
    * runs as native columns, its solver stages first (a loop both outputs
    * read runs once per row). */
  def volatileSaturationPressure(tCol: String = "T_K"): DataFrame = {
    val (stages, p, x) = config.volatileSolubility match {
      case "iaconomarziano2012" =>
        val (p, x) = graft.functions.IaconoMarziano.mixedSaturationE(ctx, C(tCol))
        (Nil, p, x)
      case "shishkina2014" =>
        val (p, x) = graft.functions.Shishkina.mixedSaturationE(ctx)
        (Nil, p, x)
      case "allison2022" =>
        val s = graft.functions.Allison.mixedSaturationE(ctx, C(tCol))
        (s.stages, s.p, s.x)
      case other => throw new IllegalArgumentException(s"solubility model $other")
    }
    val kept = df.columns.filterNot(Set("P_sat_bar", "X_fluid")).map(c => c -> (C(c): E)).toSeq
    val solved = stages.foldLeft(df)((d, st) =>
      d.select(col("*") +: st.map { case (n, e) => E.toColumn(e).as(n) }: _*))
    Pipeline.applySpark(solved, Cse.expand(Stage(kept ++ Seq("P_sat_bar" -> p, "X_fluid" -> x))))
  }

  /** Tetrahedral cations / NBO / NBO_T columns (`melt.py:113-161`). */
  def polymerisation: DataFrame = {
    val st = graft.core.Staged(mdf.staged.schema, Vector.empty)
      .meltPolymerisation
    Pipeline.applySpark(df, st.stages)
  }

  def moles: MagmaDF = mdf.moles()
  def cations: MagmaDF = mdf.cations()
}

/** Clinopyroxene-phase operations (`core/MagmaFrames/clinopyroxene.py:
  * 32-50`): Mg# on cation fractions and the 6-oxygen mineral formula. */
final class Clinopyroxene(val mdf: MagmaDF) {
  def df: DataFrame = mdf.df
  def mgNo(as: String = "Mg_no"): DataFrame = {
    val st = graft.core.Staged(mdf.staged.schema, Vector.empty)
      .withMgNumber(as)
    Pipeline.applySpark(df, st.stages)
  }
  def formula: DataFrame = {
    val st = graft.core.Staged(mdf.staged.schema, Vector.empty)
      .mineralFormula(6.0)
    Pipeline.applySpark(df, st.stages)
  }
}

/** Olivine-phase operations (`core/MagmaFrames/olivine.py`). */
final class Olivine(val mdf: MagmaDF) {
  def df: DataFrame = mdf.df
  def forsterite(as: String = "Fo"): DataFrame = {
    val st = graft.core.Staged(mdf.staged.schema, Vector.empty)
      .withMgNumber(as)
    Pipeline.applySpark(df, st.stages)
  }
  def formula: DataFrame = {
    val st = graft.core.Staged(mdf.staged.schema, Vector.empty).mineralFormula(4.0)
    Pipeline.applySpark(df, st.stages)
  }

  /** Observed Fe-Mg Kd against paired melts (J1 join, `olivine.py:60-95`).
    * Olivine side is typically the smaller dimension — broadcast it. */
  def observedFeMgKd(melt: Melt, fe3fe2Col: String = "Fe3Fe2"): DataFrame = {
    val olMol = mdf.moles().df.select(col("sample_id"),
      col("FeO").as("ol_fe"), col("MgO").as("ol_mg"))
    val meltMol = melt.moles.df
    val kd = Kd.observed(C("melt_fe"), C("melt_mg"), C("ol_fe"), C("ol_mg"),
      C(fe3fe2Col))
    meltMol.select(col("sample_id"), col("FeO").as("melt_fe"),
        col("MgO").as("melt_mg"), col(fe3fe2Col))
      .join(broadcast(olMol), Seq("sample_id"))
      .select(col("sample_id"), E.toColumn(kd).as("Kd"))
  }
}
