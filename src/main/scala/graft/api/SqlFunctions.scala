package graft.api

import org.apache.spark.sql.SparkSession
import graft.expr.C
import graft.expressions.LoopExpression
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
    val ctx = graft.models.CompCtx(els.toVector)
    val t = C("T_K")
    /** P_sat after a mixed-saturation model's solver `stages`, over the
      * composition array and T_K; its kernel compiles once per JVM. */
    def saturation(stages: Seq[Seq[(String, graft.expr.E)]],
                   p: graft.expr.E): (Seq[Double], Double) => Double = {
      val f = LoopExpression.staged(stages, p, els.toSeq :+ "T_K")
      (wt, tK) => f((wt :+ tK).toArray)
    }

    val qfm = LoopExpression.staged(QfmFull.fO2Stages, C("_qfm"), Seq("T_K", "P_bar"))
    spark.udf.register("qfm_log10_fo2",
      (tK: Double, pBar: Double) => math.log10(qfm(Array(tK, pBar))))
    spark.udf.register("iw_log10_fo2",
      (tK: Double, pBar: Double) => math.log10(IwFull.fO2(tK, pBar)))
    spark.udf.register("saturation_pressure_im",
      saturation(Nil, IaconoMarziano.mixedSaturationE(ctx, t)._1))
    val al = Allison.mixedSaturationE(ctx, t)
    spark.udf.register("saturation_pressure_allison", saturation(al.stages, al.p))
    // Shishkina's laws read no temperature
    val sh = saturation(Nil, Shishkina.mixedSaturationE(ctx)._1)
    spark.udf.register("saturation_pressure_shishkina", (wt: Seq[Double]) => sh(wt, Double.NaN))
    // every iterative Fe3Fe2 model over (composition, T_K, P_bar, fO2)
    val in = els.toSeq ++ Seq("T_K", "P_bar", "fO2")
    val (pIn, fIn) = (C("P_bar"), C("fO2"))
    val models = Fe3Fe2Iterative.loops.map { case (m, loop) =>
        m -> (Nil, loop(Fe3Fe2Iterative.wtBase(els), t, pIn, fIn)) } ++
      Fe3Fe2Iterative.dengModels.map { case (m, model) => m -> model(els.toSeq, t, pIn, fIn) }
    for ((m, (stages, value)) <- models) {
      val f = LoopExpression.staged(stages, value, in)
      spark.udf.register(s"fe3fe2_$m",
        (wt: Seq[Double], tK: Double, pBar: Double, fO2: Double) =>
          f((wt :+ tK :+ pBar :+ fO2).toArray))
    }
  }
}
