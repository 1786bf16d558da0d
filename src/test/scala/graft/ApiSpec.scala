package graft

import java.nio.file.Files
import graft.api._

/** End-to-end library surface test: the EP3 user journey of the reference
  * (read CSV -> thermometer -> fO2 -> Fe3Fe2 -> Fe split -> density) plus
  * the olivine join, through the public API. */
class ApiSpec extends SparkSpec {

  private def writeCsv(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-api")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  lazy val meltCsv = writeCsv("melts.csv",
    """name,SiO2,TiO2,Al2O3,FeO,MnO,MgO,CaO,Na2O,K2O,P2O5,H2O,CO2,Total,notes
      |s1,48.5,1.2,15.3,9.0,0.17,7.8,11.0,2.6,0.7,0.25,1.5,0.04,98.06,abc
      |s2,51.0,0.9,14.1,9.8,0.18,6.2,9.9,3.0,1.1,0.35,3.1,0.08,99.71,def
      |s3,45.9,2.2,12.9,11.2,0.2,9.5,11.6,2.2,0.5,0.3,0.4,0.02,96.92,ghi
      |""".stripMargin)

  lazy val olivineCsv = writeCsv("olivines.csv",
    """name,SiO2,FeO,MnO,MgO,CaO,NiO,total
      |s1,39.8,13.5,0.2,45.6,0.25,0.35,99.7
      |s2,39.2,16.0,0.25,43.5,0.3,0.3,99.55
      |s3,40.1,11.9,0.18,46.9,0.2,0.4,99.68
      |""".stripMargin)

  test("readFile classifies chemistry, drops junk and total, keeps requested") {
    val m = MagmaIO.readFile(spark, meltCsv, keepColumns = Seq("notes"))
    assert(m.elements.toSet == Set("SiO2", "TiO2", "Al2O3", "FeO", "MnO",
      "MgO", "CaO", "Na2O", "K2O", "P2O5", "H2O", "CO2"))
    assert(m.df.columns.contains("notes") && !m.df.columns.exists(
      _.toLowerCase == "total"))
    assert(m.df.count() == 3)
  }

  test("ingest drops a stale Total and re-derives it like the reference") {
    // stale Total values are deliberately wrong (reference read_file drops
    // the incoming column and recomputes total = sum of element columns,
    // `parse_io/readers.py:50-67`); junk columns go unless kept
    val csv = writeCsv("stale_total.csv",
      """name,SiO2,TiO2,Al2O3,FeO,MgO,CaO,Na2O,K2O,H2O,Total,operator,run_id
        |a1,48.5,1.2,15.3,9.0,7.8,11.0,2.6,0.7,1.5,123.45,alice,7
        |a2,51.0,0.9,14.1,9.8,6.2,9.9,3.0,1.1,3.1,0.0,bob,8
        |""".stripMargin)
    val m = MagmaIO.readFile(spark, csv, keepColumns = Seq("operator"))
    // classification: every oxide column, nothing else
    assert(m.elements.toSet == Set("SiO2", "TiO2", "Al2O3", "FeO", "MgO",
      "CaO", "Na2O", "K2O", "H2O"))
    // stale total dropped; junk dropped unless in keep_columns
    assert(!m.df.columns.exists(_.toLowerCase.contains("total")))
    assert(m.df.columns.contains("operator") && !m.df.columns.contains("run_id"))
    // re-derived total = sum of element columns (readers.py:59-61), NOT the
    // stale input values
    val rows = m.total.df.collect()
      .map(r => r.getAs[String]("sample_id") -> r.getAs[Double]("total")).toMap
    val expected = Map(
      "a1" -> (48.5 + 1.2 + 15.3 + 9.0 + 7.8 + 11.0 + 2.6 + 0.7 + 1.5),
      "a2" -> (51.0 + 0.9 + 14.1 + 9.8 + 6.2 + 9.9 + 3.0 + 1.1 + 3.1))
    for ((k, want) <- expected)
      assert(math.abs(rows(k) - want) < 1e-9, s"$k: ${rows(k)} vs $want")
    assert(math.abs(rows("a1") - 123.45) > 1.0, "stale Total leaked through")
  }

  test("EP3 chain through the public API") {
    import org.apache.spark.sql.functions.{col, lit}
    val melt0 = MagmaIO.readMelt(spark, meltCsv)
    val withPT = new Melt(MagmaDFWithCols(melt0))
    val result = withPT
      .temperature()
      .withFO2(tCol = "T_K_calc", pCol = "P_bar")
      .fe3Fe2(tCol = "T_K_calc", pCol = "P_bar")
      .feSpeciation()
      .density(tCol = "T_K_calc", pCol = "P_bar")
      .df.collect()
    assert(result.length == 3)
    for (r <- result) {
      val t = r.getAs[Double]("T_K_calc")
      val ratio = r.getAs[Double]("Fe3Fe2")
      val rho = r.getAs[Double]("density")
      val feo = r.getAs[Double]("FeO")
      val fe2o3 = r.getAs[Double]("Fe2O3")
      assert(t > 1300 && t < 1700, s"T=$t")
      assert(ratio > 0.05 && ratio < 1.0, s"Fe3Fe2=$ratio")
      assert(rho > 2300 && rho < 2900, s"rho=$rho")
      assert(feo > 0 && fe2o3 > 0)
    }
  }

  // helper: attach P_bar condition column and keep it as passthrough
  private def MagmaDFWithCols(m: Melt): graft.core.MagmaDF = {
    import org.apache.spark.sql.functions.lit
    val sch = m.mdf.staged.schema
    graft.core.MagmaDF(m.df.withColumn("P_bar", lit(2000.0)),
      m.mdf.staged.copy(schema = sch.copy(passthrough = sch.passthrough :+ "P_bar")))
  }

  test("olivine forsterite and the broadcast Kd join") {
    val ol = MagmaIO.readOlivine(spark, olivineCsv)
    val fo = ol.forsterite().collect()
      .map(r => r.getAs[String]("sample_id") -> r.getAs[Double]("Fo")).toMap
    assert(fo.values.forall(f => f > 0.8 && f < 0.92), fo.toString)

    val melt = new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
      .temperature()
      .withFO2(tCol = "T_K_calc", pCol = "P_bar")
      .fe3Fe2(tCol = "T_K_calc", pCol = "P_bar")
    val kd = ol.observedFeMgKd(melt).collect()
      .map(r => r.getAs[String]("sample_id") -> r.getAs[Double]("Kd")).toMap
    assert(kd.size == 3)
    assert(kd.values.forall(k => k > 0.1 && k < 0.7), kd.toString)
  }

  test("saturation pressure through the API") {
    val melt = new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
      .temperature()
    val sat = melt.volatileSaturationPressure(tCol = "T_K_calc").collect()
    assert(sat.forall(r => r.getAs[Double]("P_sat_bar") > 0))
  }

  test("every registered fO2 buffer dispatches through withFO2 with dfO2") {
    def fo2At(buffer: String, dfO2: Double): Map[String, Double] = {
      MagmaConfig.set(MagmaConfig(fO2Buffer = buffer, dfO2 = dfO2))
      try {
        new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
          .temperature()
          .withFO2(tCol = "T_K_calc", pCol = "P_bar")
          .df.collect()
          .map(r => r.getAs[String]("sample_id") -> r.getAs[Double]("fO2"))
          .toMap
      } finally MagmaConfig.reset()
    }
    for (buffer <- graft.models.Fo2Buffers.allBuffers) {
      val base = fo2At(buffer, 0.0)
      val shifted = fo2At(buffer, 1.0)
      assert(base.size == 3 && base.values.forall(v => v > 0 && !v.isNaN),
        s"$buffer: $base")
      // dfO2 = +1 log unit means exactly 10x the buffer's absolute fO2
      for ((k, v) <- base)
        assert(math.abs(shifted(k) / v - 10.0) < 1e-9, s"$buffer $k")
    }
    // unknown names are rejected at config time
    intercept[IllegalArgumentException] {
      MagmaConfig.set(MagmaConfig(fO2Buffer = "not_a_buffer"))
    }
  }

  test("config switches the dispatched model") {
    MagmaConfig.set(MagmaConfig(fe3fe2Model = "borisov2018",
      meltThermometer = "putirka2008_13", fO2Buffer = "nno"))
    try {
      val melt = new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
        .temperature()
        .withFO2(tCol = "T_K_calc", pCol = "P_bar")
        .fe3Fe2(tCol = "T_K_calc", pCol = "P_bar")
      val rows = melt.df.collect()
      assert(rows.forall(_.getAs[Double]("Fe3Fe2") > 0))
      intercept[IllegalArgumentException] {
        MagmaConfig.set(MagmaConfig(fe3fe2Model = "nope"))
      }
    } finally MagmaConfig.reset()
  }

  test("config dispatches iterative Fe3Fe2 models end-to-end") {
    val results = for (model <- Seq("deng2020", "oneill2006", "armstrong2019",
        "sun2024", "sun2024_parameterised")) yield {
      MagmaConfig.set(MagmaConfig(fe3fe2Model = model))
      try {
        val melt = new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
          .temperature()
          .withFO2(tCol = "T_K_calc", pCol = "P_bar")
          .fe3Fe2(tCol = "T_K_calc", pCol = "P_bar")
        val r = melt.df.collect().map(_.getAs[Double]("Fe3Fe2"))
        assert(r.forall(v => v > 0 && v < 10), s"$model: ${r.toSeq}")
        model -> r.toSeq
      } finally MagmaConfig.reset()
    }
    // different models must actually produce different numbers
    assert(results.map(_._2).distinct.size == results.size, results.toString)
  }

  test("config dispatches volatile-solubility models end-to-end") {
    val byModel = for (model <- Seq("iaconomarziano2012", "allison2022",
        "shishkina2014")) yield {
      MagmaConfig.set(MagmaConfig(volatileSolubility = model))
      try {
        val melt = new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
          .temperature()
        val sat = melt.volatileSaturationPressure(tCol = "T_K_calc").collect()
          .map(r => r.getAs[String]("sample_id") ->
            r.getAs[Double]("P_sat_bar")).toMap
        // Shishkina's H2O law has no root below ~1 wt.% H2O (polynomial
        // fit artifact); the reference raises there, we return NaN — so
        // low-H2O samples may legitimately be NaN for that model.
        assert(sat.values.forall(v => v > 0 || v.isNaN), s"$model: $sat")
        assert(sat.values.exists(_ > 0), s"$model all-NaN: $sat")
        model -> sat
      } finally MagmaConfig.reset()
    }
    assert(byModel.map(_._2).distinct.size == byModel.size, byModel.toString)
    intercept[IllegalArgumentException] {
      MagmaConfig.set(MagmaConfig(volatileSolubility = "nope"))
    }
  }

  test("config dispatches every Kd model through Melt.kdOlivineFeMg") {
    val byModel = for (model <- MagmaConfig.kdModels.toSeq.sorted) yield {
      MagmaConfig.set(MagmaConfig(kdModel = model))
      try {
        val melt = new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
          .temperature()
          .withFO2(tCol = "T_K_calc", pCol = "P_bar")
          .fe3Fe2(tCol = "T_K_calc", pCol = "P_bar")
          .kdOlivineFeMg(tCol = "T_K_calc", pCol = "P_bar")
        val kd = melt.df.collect().map(_.getAs[Double]("Kd"))
        assert(kd.forall(k => k > 0.1 && k < 0.8), s"$model: ${kd.toSeq}")
        model -> kd.toSeq
      } finally MagmaConfig.reset()
    }
    // constant 8a aside, models must differ from each other
    assert(byModel.map(_._2).distinct.size == byModel.size, byModel.toString)
    intercept[IllegalArgumentException] {
      MagmaConfig.set(MagmaConfig(kdModel = "nope"))
    }
  }

  test("SQL-registered model functions evaluate through spark.sql") {
    SqlFunctions.register(spark)
    val melt = new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
      .temperature()
    melt.df.createOrReplaceTempView("melts_sql_test")
    val arr = SqlFunctions.elements.map(e => s"`$e`").mkString("array(", ", ", ")")
    val rows = spark.sql(
      s"""SELECT sample_id, T_K_calc, $arr AS wt,
         |  qfm_log10_fo2(T_K_calc, P_bar) AS logf,
         |  saturation_pressure_im($arr, T_K_calc) AS psat,
         |  saturation_pressure_allison($arr, T_K_calc) AS psat_al,
         |  saturation_pressure_shishkina($arr) AS psat_sh,
         |  fe3fe2_sun2024($arr, T_K_calc, P_bar,
         |    power(10.0, qfm_log10_fo2(T_K_calc, P_bar))) AS fe3fe2
         |FROM melts_sql_test""".stripMargin).collect()
    assert(rows.length == 3)
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    for (r <- rows) {
      assert(r.getAs[Double]("logf") < 0 && r.getAs[Double]("logf") > -15)
      assert(r.getAs[Double]("psat") > 0)
      val f = r.getAs[Double]("fe3fe2")
      assert(f > 0 && f < 10, s"fe3fe2=$f")
      // the three saturation functions give their scalar entry points' bits
      val c = graft.functions.IaconoMarziano.Comp(SqlFunctions.elements,
        r.getAs[Seq[Double]]("wt").toArray)
      val t = r.getAs[Double]("T_K_calc")
      assert(bits(r.getAs[Double]("psat")) ==
        bits(graft.functions.IaconoMarziano.mixedSaturation(c, t)._1))
      assert(bits(r.getAs[Double]("psat_al")) ==
        bits(graft.functions.Allison.mixedSaturation(c, t)._1))
      assert(bits(r.getAs[Double]("psat_sh")) ==
        bits(graft.functions.Shishkina.mixedSaturation(c)._1))
    }
  }

  test("melt polymerisation exposes NBO columns through the API") {
    val rows = new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
      .polymerisation.collect()
    assert(rows.length == 3)
    for (r <- rows) {
      val nboT = r.getAs[Double]("NBO_T")
      assert(nboT > 0 && nboT < 3, s"NBO_T=$nboT")
    }
  }

  test("Melt.temperature(offset) shifts by exactly offset x SEE for every thermometer") {
    def tempAt(model: String, offset: Double): Map[String, Double] = {
      MagmaConfig.set(MagmaConfig(meltThermometer = model))
      try {
        new Melt(MagmaDFWithCols(MagmaIO.readMelt(spark, meltCsv)))
          .temperature(offset = offset)
          .df.collect()
          .map(r => r.getAs[String]("sample_id") ->
            r.getAs[Double]("T_K_calc")).toMap
      } finally MagmaConfig.reset()
    }
    for (model <- graft.models.Thermometers.all.keys.toSeq.sorted) {
      val see = graft.models.Thermometers.errors(model)
      val base = tempAt(model, 0.0)
      val up = tempAt(model, 1.0)
      val down = tempAt(model, -0.5)
      for ((k, t0) <- base) {
        assert(math.abs((up(k) - t0) - see) < 1e-9,
          s"$model $k: T(1)-T(0) = ${up(k) - t0}, SEE = $see")
        assert(math.abs((down(k) - t0) + 0.5 * see) < 1e-9,
          s"$model $k: T(-0.5)-T(0) = ${down(k) - t0}")
      }
    }
  }

  test("clinopyroxene wrapper computes Mg# and 6-oxygen formula") {
    val cpxCsv = writeCsv("cpx.csv",
      """name,SiO2,TiO2,Al2O3,FeO,MnO,MgO,CaO,Na2O,Cr2O3,total
        |c1,52.1,0.45,2.9,5.2,0.12,16.5,21.3,0.3,0.6,99.47
        |c2,51.0,0.7,4.1,6.8,0.15,15.2,20.5,0.4,0.3,99.15
        |""".stripMargin)
    val cpx = MagmaIO.readClinopyroxene(spark, cpxCsv)
    val mg = cpx.mgNo().collect()
      .map(r => r.getAs[String]("sample_id") -> r.getAs[Double]("Mg_no")).toMap
    assert(mg.values.forall(v => v > 0.75 && v < 0.90), mg.toString)
    val formula = cpx.formula.collect()
    assert(formula.nonEmpty)
  }
}
