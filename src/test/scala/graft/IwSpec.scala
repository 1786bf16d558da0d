package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.expressions.LoopExpression
import graft.functions.IwFull
import graft.{SolverKernelFrozen => F}

/** The IW buffer's tree against the Scala arithmetic it replaced, on three
  * paths: the column with generated code, the column interpreted, and the
  * scalar function. Every value is compared by `doubleToRawLongBits`, and
  * the loop memo is emptied before each path, so each path solves its Vinet
  * grids rather than reading another's. */
class IwSpec extends SparkSpec with NoCodegenFallback {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  // the seed-42 sf0.001 tables (TESTDATA.md), as committed for the benchmark
  private val sf = "perfbench/data/sf0.001"

  /** (T, P) at the model's branch points: the no-VdP pressures at and
    * below 1 bar and just above it, O2's 1000 K switch, the bcc magnetic
    * term's 1043 K switch and the 1811 K polynomial switch, up to 50 kbar. */
  private val edges: Seq[(Double, Double)] = for {
    t <- Seq(999.0, 1000.0, 1001.0, 1042.0, 1043.0, 1044.0, 1473.15, 1811.0, 1812.0)
    p <- Seq(0.5, 1.0, 1.0001, 2000.0, 1e4, 2.5e4, 5e4)
  } yield (t, p)

  /** The mismatches of every (T, P) row through the three paths, with the
    * log shift `shift`; a null T or P must give a null. */
  private def mismatches(rows: Seq[(java.lang.Double, java.lang.Double)],
                         shift: Double): (Seq[String], Int) = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case ((t, p), i) => Row(i.toLong, t, p) }, 4),
      StructType(Seq(StructField("id", LongType), StructField("T_K", DoubleType),
        StructField("P_bar", DoubleType))))
    def ref(t: Double, p: Double): Double = F.iwFO2(t, p) * math.pow(10.0, shift)
    var checked = 0
    val columns = for {
      on <- Seq(true, false)
      r <- LoopSpec.codegen(spark, on) {
        LoopExpression.memo.clear()
        IwFull.withIw(df, "T_K", "P_bar", shift).orderBy("id").collect().toSeq
      }
      bad <- {
        checked += 1
        val (t, p) = (r.get(1), r.get(2))
        if (t == null || p == null)
          if (r.isNullAt(3)) Nil else Seq(s"column(codegen=$on) @ ($t, $p): ${r.get(3)}, not null")
        else {
          val (v, want) = (r.getDouble(3), ref(r.getDouble(1), r.getDouble(2)))
          if (bits(v) == bits(want)) Nil else Seq(s"column(codegen=$on) @ ($t, $p): $v vs $want")
        }
      }
    } yield bad
    LoopExpression.memo.clear()
    val scalars = rows.collect { case (t, p) if t != null && p != null =>
      checked += 1
      val (v, want) = (IwFull.fO2(t, p, shift), ref(t, p))
      if (bits(v) == bits(want)) None else Some(s"scalar @ ($t, $p): $v vs $want")
    }.flatten
    (columns ++ scalars, checked)
  }

  private def assertNone(r: (Seq[String], Int)): Unit = {
    val (bad, checked) = r
    assert(checked > 0)
    assert(bad.isEmpty, s"${bad.size} of $checked values differ:\n${bad.take(20).mkString("\n")}")
  }

  test("every sf0.001 melts (T, P): the column, generated and interpreted, " +
    "and the scalar fO2 are bit-identical to the frozen Scala arithmetic") {
    val rows = Tables.meltsDF(spark, sf).select(col("T_K"), col("P_bar")).collect().toSeq
      .map(r => (Double.box(r.getDouble(0)), Double.box(r.getDouble(1))))
    assert(rows.size > 1000, rows.size)
    assertNone(mismatches(rows, 0.0))
  }

  test("the branch points in T and P, up to 50 kbar, with a log shift, are " +
    "bit-identical; a null T or P gives a null") {
    val rows = edges.map { case (t, p) => (Double.box(t), Double.box(p)) } ++
      Seq((null, Double.box(2000.0)), (Double.box(1473.15), null), (null, null))
    assertNone(mismatches(rows, 0.0))
    assertNone(mismatches(rows, -0.5))
  }
}
