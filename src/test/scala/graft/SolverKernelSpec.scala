package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.api.SqlFunctions
import graft.expr.{C, E, Pipeline}
import graft.expressions.LoopExpression
import graft.functions.{Deng2020, Fe3Fe2Iterative, QfmFull, Solver}
import graft.{SolverKernelFrozen => F}

/** The solver trees (QFM, Deng, the iterative Fe3Fe2 models) against the
  * frozen Map-based arithmetic they replaced, on three paths: the loop
  * columns with generated code, the loop columns interpreted, and the
  * scalar functions. Every value is compared by `doubleToRawLongBits`, so
  * "the same up to rounding" fails, and the loop memo is emptied before
  * each path, so each path solves rather than reads another's results. The
  * benchmark and the oracle queries never reach the polymorph-transition
  * branches (their P_bar stays below ~2 kbar); the (T, P) grid here is
  * their only coverage. */
class SolverKernelSpec extends SparkSpec {

  // the seed-42 sf0.001 tables (TESTDATA.md), as committed for the benchmark
  private val sf = "perfbench/data/sf0.001"
  private val els = Tables.meltElements.toArray
  private val basalt = Array(49.5, 1.6, 15.2, 9.8, 0.17, 8.1, 11.3, 2.6, 0.4, 0.2, 0.5, 0.05)

  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(a) ==
      java.lang.Double.doubleToRawLongBits(b)

  private val (tIn, pIn, fIn) = (C("T_K"), C("P_bar"), C("fO2"))

  /** Every model over oxide wt.% columns `names`, T_K, P_bar and fO2: its
    * solver stages and value, and the frozen reference. */
  private def models(names: Seq[String]): Seq[(String, (Seq[Seq[(String, E)]], E),
      (Map[String, Double], Double, Double, Double) => Double)] = Seq(
    ("deng2020", Deng2020.fe3Fe2Stages(Fe3Fe2Iterative.wtBase(names), tIn, pIn, fIn),
      (m, t, p, f) => F.deng2020(m, t, p, f)),
    ("deng2020.25molpc",
      Deng2020.fe3Fe2Stages(Fe3Fe2Iterative.wtBase(names), tIn, pIn, fIn, "25molpc"),
      (m, t, p, f) => F.deng2020(m, t, p, f, "25molpc")),
    ("sun2024", Fe3Fe2Iterative.sun2024DengStages(Fe3Fe2Iterative.wtPlainBase(names),
      tIn, pIn, fIn), F.sun2024DengVdP),
    ("oneill2006", (Nil, Fe3Fe2Iterative.oneill2006Loop(Fe3Fe2Iterative.wtBase(names),
      tIn, pIn, fIn)), F.oneill2006),
    ("armstrong2019", (Nil, Fe3Fe2Iterative.armstrong2019Loop(Fe3Fe2Iterative.wtBase(names),
      tIn, pIn, fIn)), F.armstrong2019))

  /** (what, engine value, frozen value) for one composition at one
    * condition through the scalar paths: the plain cations, every model
    * over the wt.% array and over its mol-fraction Map, QFM. */
  private def pairs(names: Array[String], wt: Array[Double], t: Double,
                    p: Double, f: Double): Seq[(String, Double, Double)] = {
    val mol = F.molNorm(names, wt)
    val refPlain = F.plainCations(mol)
    val plainMap = Fe3Fe2Iterative.plainCations(mol)
    val in = names.toSeq ++ Seq("T_K", "P_bar", "fO2")
    refPlain.toSeq.map { case (c, v) =>
      (s"plainCations.$c", plainMap.getOrElse(c, Double.NaN), v) } ++ Seq(
      ("plainCations.size", plainMap.size.toDouble, refPlain.size.toDouble)) ++
    models(names.toSeq).map { case (m, (stages, value), ref) =>
      (m, LoopExpression.staged(stages, value, in)(wt ++ Array(t, p, f)), ref(mol, t, p, f))
    } ++ Seq(
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
        F.hirschmann2022DengVdP(mol, t, p, f)),
      ("qfm.fO2", QfmFull.fO2(t, p), F.fO2Base(t, p)))
  }

  private def mismatches(label: String,
                         ps: Seq[(String, Double, Double)]): Seq[String] =
    ps.collect { case (what, a, b) if !same(a, b) => s"$label $what: $a vs $b" }

  private def assertNone(bad: Seq[String], checked: Int): Unit = {
    assert(checked > 0)
    assert(bad.isEmpty,
      s"${bad.size} of $checked values differ:\n${bad.take(20).mkString("\n")}")
  }

  /** Rows of (id, oxide wt.% `names`, T_K, P_bar, fO2). */
  private def frame(names: Seq[String], rows: Seq[(Array[Double], Double, Double, Double)]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.zipWithIndex.map {
      case ((wt, t, p, f), i) => Row.fromSeq(Seq(i.toLong) ++ wt.toSeq ++ Seq(t, p, f))
    }, 2), StructType(StructField("id", LongType) +:
      (names ++ Seq("T_K", "P_bar", "fO2")).map(StructField(_, DoubleType))))

  /** Every model and QFM as loop columns over `df` (from [[frame]]), with
    * generated code on and off, against the frozen arithmetic; the loop
    * memo is emptied before each run. */
  private def columnMismatches(names: Seq[String], df: DataFrame): (Seq[String], Int) = {
    var checked = 0
    val bad = for {
      on <- Seq(true, false)
      (m, (stages, value), ref) <- models(names) :+ (("qfm", (Nil, C("fO2")),
        (_: Map[String, Double], t: Double, p: Double, _: Double) => F.fO2Base(t, p)))
      r <- LoopSpec.codegen(spark, on) {
        LoopExpression.memo.clear()
        val out = if (m == "qfm") df.drop("fO2").withColumn("v",
            QfmFull.column(col("T_K"), col("P_bar"))).withColumn("fO2", col("v"))
          else Pipeline.derive(df, stages, "v", value)
        out.orderBy("id").collect().toSeq
      }
      b <- {
        val wt = names.map(n => r.getAs[Double](n)).toArray
        val (t, p, f) = (r.getAs[Double]("T_K"), r.getAs[Double]("P_bar"), r.getAs[Double]("fO2"))
        checked += 1
        mismatches(s"row ${r.getAs[Long]("id")} @ ($t, $p) column(codegen=$on)",
          Seq((m, r.getAs[Double]("v"), ref(F.molNorm(names.toArray, wt), t, p, f))))
      }
    } yield b
    (bad, checked)
  }

  /** The scalar paths of every row of `df` (from [[frame]]), the loop memo
    * emptied first. */
  private def scalarMismatches(names: Array[String], rows: Seq[(Array[Double], Double, Double,
      Double)]): (Seq[String], Int) = {
    LoopExpression.memo.clear()
    var checked = 0
    val bad = rows.flatMap { case (wt, t, p, f) =>
      val ps = pairs(names, wt, t, p, f)
      checked += ps.size
      mismatches(s"scalar @ ($t, $p, $f)", ps)
    }
    (bad, checked)
  }

  private def check(names: Array[String], rows: Seq[(Array[Double], Double, Double, Double)]): Unit = {
    val (bs, ns) = scalarMismatches(names, rows)
    val (bc, nc) = columnMismatches(names.toSeq, frame(names.toSeq, rows))
    assertNone(bs ++ bc, ns + nc)
  }

  test("every sf0.001 melts row: cation plan, Fe3Fe2 kernels, UDFs and QFM " +
    "are bit-identical to the Map-based arithmetic") {
    val fO2 = E.toColumn(graft.models.Fo2Buffers.qfm1bar(C("T_K")))
    val rows = Tables.meltsDF(spark, sf).select(els.map(col) ++
        Seq(col("T_K"), col("P_bar"), fO2): _*).collect().toSeq
      .map(r => (els.indices.map(r.getDouble).toArray, r.getDouble(els.length),
        r.getDouble(els.length + 1), r.getDouble(els.length + 2)))
    assert(rows.length > 1000, rows.length)
    check(els, rows)
  }

  test("edge compositions (zero, -0.0, FeO = 0, NaN, +Inf, other schemas) " +
    "are bit-identical to the Map-based arithmetic") {
    def variant(i: Int, v: Double): Array[Double] = {
      val w = basalt.clone(); w(i) = v; w
    }
    val feo = els.indexOf("FeO")
    val comps: Seq[(Array[String], Array[Double])] =
      els.indices.map(i => (els, variant(i, 0.0))) ++ Seq(
        (els, basalt),
        (els, variant(feo, -0.0)),
        (els, variant(els.indexOf("MgO"), -0.0)),
        (els, variant(0, Double.NaN)),
        (els, variant(feo, Double.NaN)),
        (els, variant(els.indexOf("MgO"), Double.PositiveInfinity)),
        (els, variant(feo, Double.PositiveInfinity)),
        (els, Array.fill(els.length)(0.0)),
        (els ++ Array("Fe2O3", "Cr2O3"), basalt ++ Array(1.5, 0.3)),
        (Array("SiO2", "FeO", "MgO", "CaO"), Array(50.0, 10.0, 8.0, 11.0)),
        (Array("SiO2", "FeO"), Array(60.0, 12.0)),
        (Array("SiO2", "Al2O3", "MgO", "CaO", "Na2O", "K2O"),
          Array(55.0, 16.0, 6.0, 9.0, 3.0, 1.0)))
    val qfm = F.fO2Base(1473.15, 1.0)
    val conditions = Seq((1473.15, 1.0, qfm), (1600.0, 2000.0, qfm * 100.0),
      (1200.0, 500.0, 1e-12))
    for ((names, cs) <- comps.groupBy(_._1.toSeq))
      check(names.toArray, for ((_, wt) <- cs; (t, p, f) <- conditions) yield (wt, t, p, f))
  }

  test("QFM fO2 and Deng2020 on a (T, P) grid up to 150 kbar cross every " +
    "polymorph transition bit-identically") {
    val temps = (900 to 2500 by 100).map(_.toDouble)
    var above = (0, 0, 0)
    var checked = 0
    LoopExpression.memo.clear()
    val grid = temps.flatMap { t =>
      val (qc, cs, fr) = F.transitionPressures(t)
      val near = Seq(qc, cs, fr).flatMap(k => Seq(k * 1e3 - 1.0, k * 1e3 + 1.0))
      (Seq(0.0, 1.0, 250.0, 2001.0) ++ (5000 to 150000 by 5000).map(_.toDouble) ++
        near.filter(_ <= 150e3)).map(p => (t, p))
    }
    val bad = temps.flatMap { t =>
      val (qc, cs, fr) = F.transitionPressures(t)
      val got = QfmFull.transitionPressures(t)
      val ps = Seq(("pQtzCoe", got._1, qc), ("pCoeStish", got._2, cs), ("pFayRing", got._3, fr))
      checked += ps.size
      mismatches(s"T=$t", ps)
    } ++ grid.flatMap { case (t, p) =>
      val pk = p / 1e3
      val (qc, cs, fr) = F.transitionPressures(t)
      above = (above._1 + (if (pk > qc) 1 else 0),
        above._2 + (if (pk > cs) 1 else 0), above._3 + (if (pk > fr) 1 else 0))
      val ps = Seq(("qfm.fO2", QfmFull.fO2(t, p), F.fO2Base(t, p)))
      checked += ps.size
      mismatches(s"T=$t P=$p", ps)
    }
    assert(above._1 > 0 && above._2 > 0 && above._3 > 0,
      s"grid points above qtz->coe, coe->stish, fay->ring: $above")
    // the Deng models through every path up to 50 kbar, with the basalt at
    // the grid's QFM; the QFM column over the whole grid
    val deng = grid.filter(_._2 <= 50e3).map { case (t, p) => (basalt, t, p, F.fO2Base(t, p)) }
    val (bs, ns) = scalarMismatches(els, deng)
    val (bc, nc) = columnMismatches(els.toSeq, frame(els.toSeq,
      deng ++ grid.filter(_._2 > 50e3).map { case (t, p) => (basalt, t, p, 1e-8) }))
    assertNone(bad ++ bs ++ bc, checked + ns + nc)
  }

  /** Deng (2020)'s volume solve as it was written before its tree, and
    * which solve decided it: "secant", "bisection" or "unbracketed". */
  private def frozenVolume(tK: Double, pBar: Double, eos: (Double, Double, Double, Double),
                           therm: (Double, Double, Double), units: Double): (Double, String) = {
    val (v0, k0, kp, kpp) = eos
    val pGPa = pBar / 1e4
    def f(v: Double): Double = {
      val x = v0 / v
      val bm = 1.5 * k0 * (math.pow(x, 7.0 / 3.0) - math.pow(x, 5.0 / 3.0)) *
        (1.0 + 0.75 * (kp - 4.0) * (math.pow(x, 2.0 / 3.0) - 1.0) +
          (9.0 * kp * kp - 63.0 * kp + 9.0 * k0 * kpp + 143.0) / 24.0 *
            math.pow(math.pow(x, 2.0 / 3.0) - 1.0, 2.0))
      bm + (therm._1 - therm._2 * (v / v0) + therm._3 * math.pow(v / v0, 2.0)) / 1000.0 *
        (tK - 3000.0) - pGPa
    }
    val vInit = v0 - 6.0 * pGPa
    val s = Solver.secant(f, vInit, vInit * 1.01, tol = 1e-10)
    val (v, by) = if (s.isFinite && s > 0 && math.abs(f(s)) < 1e-8) (s, "secant")
      else if (!(f(v0 * 0.3) > 0.0) || !(f(v0 * 2.0) < 0.0)) (Double.NaN, "unbracketed")
      else {
        var (lo, hi) = (v0 * 0.3, v0 * 2.0)
        for (_ <- 0 until 60) {
          val mid = (lo + hi) * 0.5
          if (f(mid) > 0.0) lo = mid else hi = mid
        }
        ((lo + hi) * 0.5, "bisection")
      }
    (v / units * Deng2020.Avogadro * 1e-24, by)
  }

  test("edge conditions: T = NaN, a 1-point lattice, P on a lattice point, a " +
    "rejected secant, an unbracketed volume and the 25molpc set are " +
    "bit-identical to the frozen arithmetic") {
    val fe2 = ((1180.114014, 26.94713861, 2.802531871, 0.012313472),
      (35.79397483, 71.10313668, 36.59545225))
    val fe3 = ((1204.763652, 23.19530062, 3.216089358, 0.009340183),
      (34.52616394, 68.64429623, 35.27069116))
    val fe2b = ((1192.011066, 23.95435759, 3.32104996, -0.008912497),
      (31.34712676, 62.48520005, 32.4675829))
    LoopExpression.memo.clear()
    // at 1000 K and 300 kbar the Fe2 volume's secant ends below zero and
    // the bisection decides; at 5000 K and 1 bar the bisection has no
    // bracket
    val solved = for {
      (t, p) <- Seq((1473.15, 1.0), (1473.15, 501.0), (1000.0, 3e5), (300.0, 2e5),
        (5000.0, 1.0), (Double.NaN, 1.0))
      (set, fe3m, units, eos, therm) <- Seq(("12.5molpc", false, 2.0, fe2._1, fe2._2),
        ("12.5molpc", true, 2.0, fe3._1, fe3._2), ("25molpc", false, 4.0, fe2b._1, fe2b._2))
    } yield (s"volume $set fe3=$fe3m @ ($t, $p)", Deng2020.volume(t, p, fe3m, set),
      frozenVolume(t, p, eos, therm, units))
    assert(Set("secant", "bisection", "unbracketed").subsetOf(solved.map(_._3._2).toSet),
      solved.mkString("\n"))
    val volumes = solved.map { case (what, v, (ref, _)) => (what, v, ref) }
    val qfm = F.fO2Base(1473.15, 1.0)
    val rows = Seq((basalt, Double.NaN, 1000.0, qfm), (basalt, 1473.15, Double.NaN, qfm),
      (basalt, 1473.15, 1.0, qfm), (basalt, 1473.15, 501.0, qfm), (basalt, 1473.15, 1001.0, qfm),
      (basalt, 1473.15, 1000.0, 1e-30), (basalt, 1473.15, 1000.0, 1e5),
      (basalt, 1473.15, 1000.0, 0.0), (basalt, 1000.0, 250000.0, qfm),
      (basalt, 5000.0, 1000.0, qfm))
    val (bs, ns) = scalarMismatches(els, rows)
    val (bc, nc) = columnMismatches(els.toSeq, frame(els.toSeq, rows))
    assertNone(mismatches("", volumes) ++ bs ++ bc, volumes.size + ns + nc)
  }

  test("per-schema caches hold one entry per distinct schema across " +
    "repeated multi-partition UDF runs") {
    SqlFunctions.register(spark)
    val arr = SqlFunctions.elements.map(e => s"`$e`").mkString("array(", ", ", ")")
    Tables.meltsDF(spark, sf).limit(800).repartition(8)
      .createOrReplaceTempView("melts_schema_cache")
    // the scalar entry points, called from the tasks
    val names = SqlFunctions.elements
    spark.udf.register("spec_scalars", (wt: Seq[Double], t: Double, p: Double) =>
      graft.functions.IaconoMarziano.mixedSaturation(
        graft.functions.IaconoMarziano.Comp(names, wt.toArray), t)._1 +
        Deng2020.fe3Fe2(F.molNorm(names, wt.toArray), t, p, 1e-8) +
        graft.models.Kd.toplisIterate(wt(0), wt(1), wt(2), wt(3), 0.1, 0.1, 0.2, t, p))
    val initial = LoopExpression.scalarCount
    val sizes = (1 to 3).map { _ =>
      spark.sql(
        s"""SELECT sum(fe3fe2_oneill2006($arr, T_K, P_bar, 1e-8)),
           |  sum(fe3fe2_deng2020($arr, T_K, P_bar, 1e-8)),
           |  sum(saturation_pressure_im($arr, T_K)),
           |  sum(spec_scalars($arr, T_K, P_bar))
           |FROM melts_schema_cache""".stripMargin).collect()
      LoopExpression.scalarCount
    }
    // one scalar entry point per model and schema (IM's P_sat, Deng's
    // Fe3Fe2, Toplis's Kd), whichever task builds it first; none per row
    // or task
    assert(sizes.distinct.size == 1 && sizes.head <= initial + 3,
      s"scalar-cache size $initial, then after each run: $sizes")
  }
}
