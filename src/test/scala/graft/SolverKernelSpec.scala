package graft

import org.apache.spark.sql.functions.{array, col}
import graft.api.SqlFunctions
import graft.functions.{Deng2020, Fe3Fe2Iterative, IaconoMarziano, QfmFull}
import graft.functions.Fe3Fe2Iterative.CationPlan
import graft.{SolverKernelFrozen => F}

/** The solver kernels (per-schema [[CationPlan]], per-T QFM plan) against
  * the frozen Map-based arithmetic they replaced: every value is compared
  * by `doubleToRawLongBits`, so "the same up to rounding" fails. The
  * benchmark and the oracle queries never reach the polymorph-transition
  * branches (their P_bar stays below ~2 kbar); the (T, P) grid here is
  * their only coverage. */
class SolverKernelSpec extends SparkSpec {

  // the seed-42 sf0.001 tables (TESTDATA.md), as committed for the benchmark
  private val sf = "perfbench/data/sf0.001"
  private val els = Tables.meltElements.toArray
  private val slots = CationPlan.slotNames.take(8)

  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(a) ==
      java.lang.Double.doubleToRawLongBits(b)

  /** (what, engine value, frozen value) for one composition at one
    * condition: the cation bases, every model through the array kernel and
    * through its Map adapter. */
  private def pairs(names: Array[String], wt: Array[Double], t: Double,
                    p: Double, f: Double): Seq[(String, Double, Double)] = {
    val plan = CationPlan.of(names)
    val mol = F.molNorm(names, wt)
    val ref = F.catBase(mol)
    val refPlain = F.plainCations(mol)
    val b = plan.split(wt)
    val pl = plan.plain(wt)
    val plainMap = Fe3Fe2Iterative.plainCations(mol)
    slots.indices.map(i => (s"cat.${slots(i)}", b(i), ref(slots(i)))) ++
      slots.indices.map(i =>
        (s"plain.${slots(i)}", pl(i), refPlain.getOrElse(slots(i), 0.0))) ++
      refPlain.toSeq.map { case (c, v) =>
        (s"plainCations.$c", plainMap.getOrElse(c, Double.NaN), v) } ++ Seq(
      ("feTot", b.feTot, ref.feTot),
      ("plain.Fe", pl.feTot, refPlain.getOrElse("Fe", 0.0)),
      ("plainCations.size", plainMap.size.toDouble, refPlain.size.toDouble),
      ("deng2020", Deng2020.fe3Fe2Base(b, t, p, f, "12.5molpc"),
        F.deng2020(mol, t, p, f)),
      ("deng2020.25molpc", Deng2020.fe3Fe2Base(b, t, p, f, "25molpc"),
        F.deng2020(mol, t, p, f, "25molpc")),
      ("oneill2006", loopScalar(names, "oneill2006", wt, t, p, f),
        F.oneill2006(mol, t, p, f)),
      ("armstrong2019", loopScalar(names, "armstrong2019", wt, t, p, f),
        F.armstrong2019(mol, t, p, f)),
      ("sun2024", Fe3Fe2Iterative.sun2024DengVdPBase(pl, t, p, f),
        F.sun2024DengVdP(mol, t, p, f)),
      ("map.deng2020", Deng2020.fe3Fe2(mol, t, p, f), F.deng2020(mol, t, p, f)),
      ("map.deng2020.25molpc", Deng2020.fe3Fe2(mol, t, p, f, "25molpc"),
        F.deng2020(mol, t, p, f, "25molpc")),
      ("map.oneill2006", Fe3Fe2Iterative.oneill2006(mol, t, p, f),
        F.oneill2006(mol, t, p, f)),
      ("map.armstrong2019", Fe3Fe2Iterative.armstrong2019(mol, t, p, f),
        F.armstrong2019(mol, t, p, f)),
      ("map.sun2024", Fe3Fe2Iterative.sun2024DengVdP(mol, t, p, f),
        F.sun2024DengVdP(mol, t, p, f)),
      ("map.hirschmann2022", Fe3Fe2Iterative.hirschmann2022DengVdP(mol, t, p, f),
        F.hirschmann2022DengVdP(mol, t, p, f)))
  }

  /** A loop model through the scalar path: its tree over the schema's wt.%
    * columns, evaluated. */
  private def loopScalar(names: Array[String], model: String, wt: Array[Double],
                         t: Double, p: Double, f: Double): Double =
    Fe3Fe2Iterative.evaluator(names, model)(wt ++ Array(t, p, f))

  /** The same tree as a column: the native loop expression. */
  private def loopColumn(names: Seq[String], model: String) =
    graft.expr.E.toColumn(Fe3Fe2Iterative.loops(model)(
      Fe3Fe2Iterative.wtBase(names), graft.expr.C("T_K"), graft.expr.C("P_bar"),
      graft.expr.C("fO2")))

  private val loopModels = Seq("oneill2006", "armstrong2019")

  private def mismatches(label: String,
                         ps: Seq[(String, Double, Double)]): Seq[String] =
    ps.collect { case (what, a, b) if !same(a, b) => s"$label $what: $a vs $b" }

  private def assertNone(bad: Seq[String], checked: Int): Unit = {
    assert(checked > 0)
    assert(bad.isEmpty,
      s"${bad.size} of $checked values differ:\n${bad.take(20).mkString("\n")}")
  }

  private lazy val melts = {
    val fO2 = graft.expr.E.toColumn(
      graft.models.Fo2Buffers.qfm1bar(graft.expr.C("T_K")))
    Tables.meltsDF(spark, sf)
      .select(Seq(array(els.map(col): _*).as("wt"), col("T_K"), col("P_bar"),
        fO2.as("fO2")) ++ els.map(col): _*)
  }

  test("every sf0.001 melts row: cation plan, Fe3Fe2 kernels, UDFs and QFM " +
    "are bit-identical to the Map-based arithmetic") {
    val models = Seq("deng2020", "sun2024")
    val rows = melts.select(col("*") +: (models.map(m =>
        Fe3Fe2Iterative.udf(els, m)(col("wt"), col("T_K"), col("P_bar"),
          col("fO2")).as(m)) ++
        loopModels.map(m => loopColumn(els.toSeq, m).as(m))): _*).collect()
    assert(rows.length > 1000, rows.length)
    var checked = 0
    val bad = rows.toSeq.zipWithIndex.flatMap { case (r, i) =>
      val wt = r.getSeq[Double](0).toArray
      val (t, p, f) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      val mol = F.molNorm(els, wt)
      val ps = pairs(els, wt, t, p, f) ++ Seq(
        ("udf.deng2020", r.getAs[Double]("deng2020"), F.deng2020(mol, t, p, f)),
        ("column.oneill2006", r.getAs[Double]("oneill2006"),
          F.oneill2006(mol, t, p, f)),
        ("column.armstrong2019", r.getAs[Double]("armstrong2019"),
          F.armstrong2019(mol, t, p, f)),
        ("udf.sun2024", r.getAs[Double]("sun2024"), F.sun2024DengVdP(mol, t, p, f)),
        ("qfm.fO2Base", QfmFull.fO2Base(t, p).doubleValue, F.fO2Base(t, p)))
      checked += ps.size
      mismatches(s"row $i", ps)
    }
    assertNone(bad, checked)
  }

  test("edge compositions (zero, -0.0, FeO = 0, NaN, +Inf, other schemas) " +
    "are bit-identical to the Map-based arithmetic") {
    val base = Array(49.5, 1.6, 15.2, 9.8, 0.17, 8.1, 11.3, 2.6, 0.4, 0.2,
      0.5, 0.05)
    def variant(i: Int, v: Double): Array[Double] = {
      val w = base.clone(); w(i) = v; w
    }
    val feo = els.indexOf("FeO")
    val comps: Seq[(String, Array[String], Array[Double])] =
      els.indices.map(i => (s"zero ${els(i)}", els, variant(i, 0.0))) ++
      Seq(
        ("base", els, base),
        ("-0.0 FeO", els, variant(feo, -0.0)),
        ("-0.0 MgO", els, variant(els.indexOf("MgO"), -0.0)),
        ("NaN SiO2", els, variant(0, Double.NaN)),
        ("NaN FeO", els, variant(feo, Double.NaN)),
        ("+Inf MgO", els, variant(els.indexOf("MgO"), Double.PositiveInfinity)),
        ("+Inf FeO", els, variant(feo, Double.PositiveInfinity)),
        ("all zero", els, Array.fill(els.length)(0.0)),
        ("with Fe2O3 + Cr2O3", els ++ Array("Fe2O3", "Cr2O3"),
          base ++ Array(1.5, 0.3)),
        ("four oxides", Array("SiO2", "FeO", "MgO", "CaO"),
          Array(50.0, 10.0, 8.0, 11.0)),
        ("two oxides", Array("SiO2", "FeO"), Array(60.0, 12.0)),
        ("no FeO", Array("SiO2", "Al2O3", "MgO", "CaO", "Na2O", "K2O"),
          Array(55.0, 16.0, 6.0, 9.0, 3.0, 1.0)))
    val qfm = F.fO2Base(1473.15, 1.0)
    val conditions = Seq((1473.15, 1.0, qfm), (1600.0, 2000.0, qfm * 100.0),
      (1200.0, 500.0, 1e-12))
    var checked = 0
    val bad = for {
      (label, names, wt) <- comps
      (t, p, f) <- conditions
      b <- { val ps = pairs(names, wt, t, p, f); checked += ps.size
             mismatches(s"$label @ ($t, $p)", ps) }
    } yield b
    // the loop models as columns: one frame per schema, every composition
    // of that schema at every condition
    val badColumns = comps.groupBy(_._2.toSeq).toSeq.flatMap { case (names, cs) =>
      val rows = for ((label, _, wt) <- cs; (t, p, f) <- conditions)
        yield org.apache.spark.sql.Row.fromSeq(
          Seq(s"$label @ ($t, $p)") ++ wt.toSeq ++ Seq(t, p, f))
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.StringType) +:
        (names ++ Seq("T_K", "P_bar", "fO2")).map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.DoubleType)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("*") +: loopModels.map(m => loopColumn(names, m).as(m)): _*)
        .collect().toSeq.flatMap { r =>
          val wt = names.indices.map(i => r.getDouble(i + 1)).toArray
          val (t, p, f) = (r.getAs[Double]("T_K"), r.getAs[Double]("P_bar"),
            r.getAs[Double]("fO2"))
          val mol = F.molNorm(names.toArray, wt)
          val ps = Seq(
            ("column.oneill2006", r.getAs[Double]("oneill2006"), F.oneill2006(mol, t, p, f)),
            ("column.armstrong2019", r.getAs[Double]("armstrong2019"),
              F.armstrong2019(mol, t, p, f)))
          checked += ps.size
          mismatches(r.getString(0), ps)
        }
    }
    assertNone(bad ++ badColumns, checked)
  }

  test("QFM fO2 and Deng2020 on a (T, P) grid up to 150 kbar cross every " +
    "polymorph transition bit-identically") {
    val temps = (900 to 2500 by 100).map(_.toDouble)
    var above = (0, 0, 0)
    var checked = 0
    val bad = temps.flatMap { t =>
      val (qc, cs, fr) = F.transitionPressures(t)
      val got = QfmFull.transitionPressures(t)
      val near = Seq(qc, cs, fr).flatMap(k => Seq(k * 1e3 - 1.0, k * 1e3 + 1.0))
      val pressures = Seq(0.0, 1.0, 250.0, 2001.0) ++
        (5000 to 150000 by 5000).map(_.toDouble) ++ near.filter(_ <= 150e3)
      val transition = Seq(("pQtzCoe", got._1, qc), ("pCoeStish", got._2, cs),
        ("pFayRing", got._3, fr))
      val perP = pressures.flatMap { p =>
        val pk = p / 1e3
        above = (above._1 + (if (pk > qc) 1 else 0),
          above._2 + (if (pk > cs) 1 else 0), above._3 + (if (pk > fr) 1 else 0))
        Seq(("qfm.fO2Base", QfmFull.fO2Base(t, p).doubleValue, F.fO2Base(t, p)),
          ("qfm.fO2", QfmFull.fO2(t, p), F.fO2Base(t, p)))
      }
      val comp = pressures.filter(_ <= 50e3).flatMap { p =>
        pairs(els, Array(49.5, 1.6, 15.2, 9.8, 0.17, 8.1, 11.3, 2.6, 0.4, 0.2,
          0.5, 0.05), t, p, F.fO2Base(t, p)).filter(_._1.contains("deng"))
      }
      val ps = transition ++ perP ++ comp
      checked += ps.size
      mismatches(s"T=$t", ps)
    }
    assert(above._1 > 0 && above._2 > 0 && above._3 > 0,
      s"grid points above qtz->coe, coe->stish, fay->ring: $above")
    assertNone(bad, checked)
  }

  test("per-schema caches hold one entry per distinct schema across " +
    "repeated multi-partition UDF runs") {
    SqlFunctions.register(spark)
    val arr = SqlFunctions.elements.map(e => s"`$e`").mkString("array(", ", ", ")")
    Tables.meltsDF(spark, sf).limit(800).repartition(8)
      .createOrReplaceTempView("melts_schema_cache")
    val initial = IaconoMarziano.Comp.weightsCacheSize
    val sizes = (1 to 3).map { _ =>
      spark.sql(
        s"""SELECT sum(fe3fe2_oneill2006($arr, T_K, P_bar, 1e-8)),
           |  sum(fe3fe2_deng2020($arr, T_K, P_bar, 1e-8)),
           |  sum(saturation_pressure_im($arr, T_K))
           |FROM melts_schema_cache""".stripMargin).collect()
      IaconoMarziano.Comp.weightsCacheSize
    }
    // the melts schema may already be cached by an earlier suite: at most
    // one new entry, and none per task
    assert(sizes.distinct.size == 1 && sizes.head <= initial + 1,
      s"schema-cache size $initial, then after each run: $sizes")
  }
}
