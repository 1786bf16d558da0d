package graft.api

import org.apache.spark.sql.SparkSession
import graft.functions._

/** SQL-surface registration: exposes the scalar model library as session
  * UDFs so `spark.sql` users (and JDBC/thrift clients) can call it without
  * the DataFrame API — e.g.
  * `SELECT qfm_log10_fo2(T_K, P_bar) FROM melts`.
  *
  * Only the solver-backed scalars are registered; closed-form models
  * compile to Catalyst expressions through the DataFrame API and through
  * the query registry, where they stay codegen'd (a SQL UDF would hide
  * them from the optimizer). Compositions are passed as
  * `array(oxide wt.% in `elements` order)`.
  */
object SqlFunctions {

  /** Element order expected by the composition-array UDFs. */
  val elements: Array[String] = graft.Tables.meltElements.toArray

  def register(spark: SparkSession): Unit = {
    val els = elements
    def comp(wt: Seq[Double]): IaconoMarziano.Comp =
      IaconoMarziano.Comp(els, wt.toArray)

    spark.udf.register("qfm_log10_fo2",
      (tK: Double, pBar: Double) => math.log10(QfmFull.fO2(tK, pBar)))
    spark.udf.register("iw_log10_fo2",
      (tK: Double, pBar: Double) => math.log10(IwFull.fO2(tK, pBar)))
    val im = graft.expressions.LoopExpression.evaluator(
      IaconoMarziano.mixedSaturationE(graft.models.CompCtx(els.toVector),
        graft.expr.C("T_K"))._1, els.toSeq :+ "T_K")
    spark.udf.register("saturation_pressure_im",
      (wt: Seq[Double], tK: Double) => im((wt :+ tK).toArray))
    spark.udf.register("saturation_pressure_allison",
      (wt: Seq[Double], tK: Double) =>
        Allison.mixedSaturation(comp(wt), tK)._1)
    spark.udf.register("saturation_pressure_shishkina",
      (wt: Seq[Double]) => Shishkina.mixedSaturation(comp(wt))._1)
    for (m <- Seq("deng2020", "sun2024"))
      spark.udf.register(s"fe3fe2_$m", Fe3Fe2Iterative.udf(els, m))
    for (m <- Fe3Fe2Iterative.loops.keys) {
      val f = Fe3Fe2Iterative.evaluator(els, m)
      spark.udf.register(s"fe3fe2_$m",
        (wt: Seq[Double], tK: Double, pBar: Double, fO2: Double) =>
          f((wt :+ tK :+ pBar :+ fO2).toArray))
    }
  }
}
