package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions.{col, lit}
import graft.expr._
import graft.expressions.{LoopExpression, LoopKernel}
import graft.models.Kd

/** The loop node ([[Loop]]) in Spark: generated code and interpreted
  * evaluation (the codegen-off `eval`, which calls the same compiled
  * [[graft.expressions.LoopKernel]]) agree bit for bit, a null input gives
  * a null result, the queries written with loops plan no UDF, and no stage
  * falls back from generated code. */
class LoopSpec extends SparkSpec with NoCodegenFallback {

  // the seed-42 sf0.001 and sf0.01 tables (TESTDATA.md), as committed for
  // the benchmark; the isobar grids sample one melt in 997, so they run at
  // sf0.01 to have more than 1000 rows
  private val sf = "perfbench/data/sf0.001"
  private val grids = Set("q_isobars", "q_isobar_curves")
  private def dataOf(q: String): String = if (grids(q)) "perfbench/data/sf0.01" else sf

  /** Every registry query with a loop: its oracle renders one with a
    * round column `__n`. */
  private lazy val loopQueries = {
    val qs = Queries.oracleSql.collect { case (n, sql) if sql.contains("\"__n\"") => n }
    assert(Set("q_saturation_shishkina", "q_kd_toplis2005_iterative",
      "q_kd_blundy2020", "q_kd_saper2022", "q_fe3fe2_oneill2006_iterative",
      "q_fe3fe2_armstrong2019_iterative", "q_saturation_h2o", "q_saturation_co2",
      "q_saturation_mixed", "q_solubility_mixed", "q_isobars",
      "q_isobar_curves", "q_saturation_allison", "q_fo2_qfm_full", "q_fe3fe2_deng2020",
      "q_fe3fe2_sun2024_deng").subsetOf(qs.toSet), qs)
    qs.toSeq.sorted
  }

  private def codegen[T](on: Boolean)(f: => T): T = LoopSpec.codegen(spark, on)(f)

  private def bits(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case other     => other
    })

  /** Physical operators (subqueries and adaptive plans included) with an
    * expression of class `T`. */
  private def planning[T: scala.reflect.ClassTag](df: DataFrame) =
    PlanShape.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p if p.expressions.exists(_.exists {
        case _: T => true
        case _    => false
      }) => p
    }

  test("every loop query gives the same raw bits with generated code and " +
      "with interpreted evaluation") {
    for (q <- loopQueries) {
      def run(on: Boolean): Seq[Row] = codegen(on) {
        LoopExpression.memo.clear() // each mode solves its memoised loops
        val df = Queries.queries(q)(spark, dataOf(q))
        assert(planning[LoopExpression](df).nonEmpty, s"$q plans no loop expression")
        df.collect().toSeq
      }
      val (generated, interpreted) = (run(on = true), run(on = false))
      assert(generated.size > 1000, s"$q: ${generated.size} rows")
      assert(bits(generated) == bits(interpreted), s"$q differs")
    }
  }

  test("the unrounded loop values agree bit for bit in both modes") {
    val mctx = models.CompCtx(Tables.meltElements)
    val loops = Seq(
      "shishkina" -> functions.Shishkina.h2oSaturationE(mctx),
      "toplis" -> Kd.toplis2005Iterative(mctx.molNorm("SiO2") * Lit(100.0),
        mctx.molNorm("Na2O") * Lit(100.0), mctx.molNorm("K2O") * Lit(100.0),
        mctx.molNorm("H2O") * Lit(100.0), mctx.molNorm("FeO"),
        mctx.molNorm("MgO"), Lit(0.2), C("T_K"), C("P_bar")),
      "oneill" -> functions.Fe3Fe2Iterative.oneill2006Loop(
        functions.Fe3Fe2Iterative.wtBase(Tables.meltElements), C("T_K"),
        C("P_bar"), models.Fo2Buffers.qfm1bar(C("T_K"))))
    def run(on: Boolean): Seq[Row] = codegen(on) {
      Tables.meltsDF(spark, sf).select(col("sample_id") +:
        loops.map { case (n, l) => E.toColumn(l).as(n) }: _*)
        .orderBy("sample_id").collect().toSeq
    }
    val generated = run(on = true)
    assert(generated.nonEmpty)
    assert(bits(generated) == bits(run(on = false)))
  }

  test("a null input gives a null result in both modes; a NaN does not") {
    import spark.implicits._
    val df = Seq[(java.lang.Double, java.lang.Double)]((0.1, 1450.0),
      (null, 1450.0), (0.1, null), (Double.NaN, 1450.0)).toDF("fe", "t")
    for (on <- Seq(true, false)) {
      val got = codegen(on) {
        df.select(Kd.blundy2020(col("fe"), lit(0.12), lit(0.2), col("t")))
          .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      }
      assert(got(0).exists(k => k > 0.2 && k < 0.5), got.toSeq)
      assert(got(1).isEmpty && got(2).isEmpty, got.toSeq)
      assert(got(3).isDefined, got.toSeq)
    }
  }

  /** The names of the Scala UDFs a plan calls. */
  private def udfs(df: DataFrame): Seq[Option[String]] =
    PlanShape.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u.udfName })
    }.flatten

  test("the loop queries plan no Scala UDF") {
    // the check sees a UDF where there is one
    assert(udfs(Queries.queries("q_isobar_curves")(spark, sf)).nonEmpty)
    for (q <- loopQueries) {
      val df = Queries.queries(q)(spark, sf)
      // the one exemption: the per-curve not-a-knot spline fit
      val allowed = if (q == "q_isobar_curves") Seq(Some("isobar_spline_fit")) else Nil
      assert(udfs(df).distinct == allowed,
        s"$q plans a UDF:\n${df.queryExecution.executedPlan}")
    }
  }

  test("every loop query's generated loop methods stay under HotSpot's " +
      "8000-byte JIT limit") {
    import scala.jdk.CollectionConverters._
    import org.codehaus.janino.util.ClassFile
    for (q <- loopQueries; l <- planning[LoopExpression](Queries.queries(q)(spark, sf))
        .flatMap(_.expressions.flatMap(_.collect { case e: LoopExpression => e.loop })).distinct) {
      val kernel = LoopKernel.cook(LoopKernel.source(LoopKernel.Program(Nil, l, E.freeVars(l))))
      val maxMethodCodeSize = kernel.getBytecodes.values.asScala.flatMap { b =>
        new ClassFile(new java.io.ByteArrayInputStream(b)).methodInfos.asScala
          .flatMap(_.getAttributes.toSeq.collect { case c: ClassFile.CodeAttribute => c.code.length })
      }.max
      assert(maxMethodCodeSize < 8000, s"$q: a loop method of $maxMethodCodeSize bytes")
    }
  }

  test("a loop whose kernel does not compile fails with an error that names it") {
    val l = E.closed(Seq("_least" -> Fn("least", List(C("a"), Lit(1.0)))), C("_least"))
    val e = intercept[IllegalStateException](LoopExpression.staged(Nil, l, Seq("a"))(Array(2.0)))
    assert(e.getMessage.contains("result C(_least)") && e.getMessage.contains("List(a)"),
      e.getMessage)
  }

  test("loop kernel compiles count in loop.kernels: a new program is one " +
      "miss, a second column of the same program none") {
    val stats = LoopKernel.attachMetrics(spark)
    // a program no other test builds
    val l = E.closed(Seq("_k" -> C("a") * Lit(1.0 / 7919.0)), C("_k"))
    def run(name: String): Unit = {
      spark.range(8).select(LoopExpression.column(l, Map("a" -> col("id"))).as(name)).collect()
      ()
    }
    val m0 = stats.misses.value
    run("first")
    assert(stats.misses.value == m0 + 1, stats.render)
    val h1 = stats.hits.value
    run("second")
    assert(stats.misses.value == m0 + 1 && stats.hits.value > h1, stats.render)
  }

  test("loop names that differ only in case are rejected") {
    intercept[IllegalArgumentException] { // two bound names
      Loop(Seq("_k" -> C("a"), "_K" -> Lit(1.0)), Nil, Nil, Lit(0.0) < Lit(0.0), 0, C("_k"))
    }
    intercept[IllegalArgumentException] { // a bound name and a column it reads
      Loop(Seq("t_k" -> C("T_K")), Nil, Nil, Lit(0.0) < Lit(0.0), 0, C("t_k"))
    }
    // a state name assigned again by the step is one name
    assert(E.bisect(Nil, 0.0, 1.0, m => m - C("T_K"), C("T_K") > Lit(0.0)).state ==
      Seq("_lo", "_hi"))
  }

  test("scalar entry points evaluate the same tree as the column") {
    val mctx = models.CompCtx(Tables.meltElements)
    val row = Tables.meltsDF(spark, sf).limit(1)
    val r = row.select(E.toColumn(functions.Shishkina.h2oSaturationE(mctx)) +:
      Tables.meltElements.map(col): _*).head()
    val comp = functions.IaconoMarziano.Comp(Tables.meltElements.toArray,
      Tables.meltElements.indices.map(i => r.getDouble(i + 1)).toArray)
    assert(java.lang.Double.doubleToRawLongBits(functions.Shishkina.h2oSaturation(comp)) ==
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
  }
}

object LoopSpec {
  /** `f` with generated code forced on or off (whole-stage codegen and
    * the expression factories alike). */
  def codegen[T](spark: org.apache.spark.sql.SparkSession, on: Boolean)(f: => T): T = {
    val conf = Map(
      "spark.sql.codegen.factoryMode" -> (if (on) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> on.toString)
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
