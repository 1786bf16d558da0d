package graft

import org.apache.spark.sql.Row
import graft.expr._
import graft.expr.E._

/** The CSE pass must be a pure refactoring: expanded stages evaluate to
  * exactly the values of the original stage. This guards the one blind spot
  * of the DuckDB gate — engine and oracle both consume the rewritten
  * stages, so a rewrite bug would be wrong-but-consistent there. */
class CseSpec extends SparkSpec {

  private val den: E = C("a") / Lit(60.0) + C("b") / Lit(71.8) + C("c") / Lit(40.3)

  private val stage = Stage(Seq(
    "a_n" -> (C("a") / Lit(60.0)) / den,
    "b_n" -> (C("b") / Lit(71.8)) / den,
    "c_n" -> (C("c") / Lit(40.3)) / den,
    "flag" -> If((den > Lit(1.0)) && (C("a") > C("b")), den * Lit(2.0), -den),
    "plain" -> (C("a") + Lit(1.0))))

  test("expand hoists the repeated denominator") {
    val stages = Cse.expand(stage)
    assert(stages.size >= 2, "expected a prelude stage")
    val hoisted = stages.init.flatMap(_.cols.map(_._1)).filter(_.startsWith("_cse"))
    assert(hoisted.nonEmpty)
    // final stage keeps the original output columns, no temps leak
    assert(stages.last.cols.map(_._1) == stage.cols.map(_._1))
  }

  test("expanded stages evaluate bit-identically to the original stage") {
    import spark.implicits._
    val df = Seq((48.2, 9.1, 7.7), (51.0, 11.2, 4.4), (45.5, 0.0, 16.0))
      .toDF("a", "b", "c")
    def run(stages: Seq[Stage]): Seq[Row] =
      Pipeline.applySpark(df, stages).collect().toSeq
    val plain = run(Seq(stage))
    val expanded = run(Cse.expand(stage))
    assert(plain == expanded) // exact Row equality: identical doubles
  }

  test("cse'd sql and spark agree on a staged conversion query") {
    // q_moles goes through Staged (hence Cse) — its SQL must keep rendering
    // a consistent WITH-chain after expansion.
    val sql = Queries.oracleSql("q_moles")
    assert(sql.contains("WITH") && sql.toLowerCase.contains("_cse"))
  }

  // a bisection whose step repeats a subtree over bound names (_mid) and
  // whose lets repeat one over free columns (a / 60)
  private val root: Loop = bisect(Seq("_s" -> (C("a") / Lit(60.0) + C("b"))),
    0.0, 100.0, m => (m * m + C("_s")) - (C("a") / Lit(60.0) + C("c")) * (m * m + C("_s")),
    C("a") > Lit(0.0))

  private def mentions(n: Node, names: Set[String]): Boolean = n match {
    case C(x) => names(x)
    case _    => n.children.exists(mentions(_, names))
  }

  test("a loop is hoisted whole; no subtree that reads a bound name is") {
    val loopStage = Stage(Seq(
      "x" -> (root + Lit(1.0)) * (C("a") / Lit(60.0) + C("b")),
      "y" -> root / (C("a") / Lit(60.0) + C("b"))))
    val stages = Cse.expand(loopStage)
    val hoisted = stages.flatMap(_.cols).filter(_._1.startsWith("_cse")).map(_._2)
    assert(hoisted.count(_ == root) == 1, hoisted)
    assert(!hoisted.exists(e => !e.isInstanceOf[Loop] && mentions(e, root.bound)),
      hoisted)
    // nothing inside the loop moved: it is hoisted as written
    assert(stages.flatMap(_.cols).map(_._2).collect { case l: Loop => l } == Seq(root))
    import spark.implicits._
    val df = Seq((48.2, 9.1, 7.7), (51.0, 11.2, 4.4), (-1.0, 0.0, 16.0)).toDF("a", "b", "c")
    def run(st: Seq[Stage]): Seq[Row] = Pipeline.applySpark(df, st).collect().toSeq
    assert(run(Seq(loopStage)) == run(stages))
  }

  test("a loop's bound names are checked in scope order") {
    intercept[IllegalArgumentException] { // read before bound
      Loop(Seq("_a" -> C("_b"), "_b" -> Lit(1.0)), Nil, Nil, C("_a") > Lit(0.0), 1, C("_a"))
    }
    intercept[IllegalArgumentException] { // a step temporary read by the result
      Loop(Nil, Seq("_x" -> Lit(0.0)), Seq("_t" -> C("_x"), "_x" -> C("_t")),
        C("_x") > Lit(0.0), 3, C("_t"))
    }
    intercept[IllegalArgumentException] { // a loop holds no loop
      Loop(Seq("_r" -> root), Nil, Nil, C("_r") > Lit(0.0), 1, C("_r"))
    }
  }

  test("a serialised loop comes back equal, and is built once per JVM") {
    def roundTrip(x: AnyRef): AnyRef = {
      val b = new java.io.ByteArrayOutputStream
      val o = new java.io.ObjectOutputStream(b)
      o.writeObject(x)
      o.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b.toByteArray)).readObject()
    }
    val (a, b) = (roundTrip(root), roundTrip(Stage(Seq("y" -> (root + Lit(1.0))))))
    assert(a == root && (a ne root))
    assert(a eq b.asInstanceOf[Stage].cols.head._2.children.head)
  }

  test("literals are equal by bits, so two loops built apart are one loop") {
    assert(Lit(Double.NaN) == Lit(Double.NaN) && Lit(0.0) != Lit(-0.0))
    def built(): Loop = bisect(Seq("_s" -> (C("a") / Lit(60.0) + C("b"))), 0.0, 100.0,
      m => m * m - C("_s"), C("a") > Lit(0.0))
    val (l1, l2) = (built(), built())
    assert((l1 ne l2) && l1 == l2 && l1.hashCode == l2.hashCode)
    val stages = Cse.expand(Stage(Seq("x" -> l1 * Lit(2.0), "y" -> (l2 + Lit(1.0)))))
    import spark.implicits._
    val plan = Pipeline.applySpark(spark.sparkContext.parallelize(Seq((48.2, 9.1)))
        .toDF("a", "b"), stages)
      .queryExecution.executedPlan
    val planned = plan.collect { case p => p.expressions.flatMap(_.collect {
      case l: graft.expressions.LoopExpression => l }) }.flatten
    assert(planned.size == 1, plan)
    val sql = Pipeline.toSql("t", stages, Nil)
    assert("""s\d+_l\d+ AS \(""".r.findAllIn(sql).size == 1, sql)
  }

  test("a division inside a loop renders Java's value at a zero divisor") {
    val l = Loop(Seq("_q" -> C("a") / C("b"), "_h" -> C("a") / Lit(2.0)), Nil, Nil,
      Lit(0.0) < Lit(0.0), 0, C("_q") + C("_h"))
    val sql = Pipeline.toSql("t", Seq(Stage(Seq("y" -> l))), Nil)
    // where DuckDB's quotient is NULL (a zero divisor), the dividend times
    // the infinity of the zero's sign: Java's ±Infinity, NaN for 0 or NaN
    assert(sql.contains("""coalesce(("a" / "b"), ("a" * (CASE signbit("b") WHEN true """ +
      """THEN '-Infinity'::DOUBLE WHEN false THEN 'Infinity'::DOUBLE END)))"""), sql)
    // a non-zero literal divisor stays a plain division
    assert(sql.contains("""("a" / 2.0e0)"""), sql)
    // outside a loop a division is DuckDB's, NULL at 0 like Spark's
    assert(E.toSql(C("a") / C("b")) == """("a" / "b")""")
  }

  test("cos renders Java's NaN at ±Infinity inside a loop, where DuckDB raises") {
    val l = closed(Seq("_c" -> cos(C("a"))), C("_c"))
    val sql = Pipeline.toSql("t", Seq(Stage(Seq("y" -> l))), Nil)
    assert(sql.contains("""cos((CASE WHEN isinf("a") THEN 'NaN'::DOUBLE ELSE "a" END))"""), sql)
    // outside a loop a cos is DuckDB's
    assert(E.toSql(cos(C("a"))) == """cos("a")""")
  }

  test("a loop is solved once per distinct input: rows with equal free " +
    "columns share one loop row; NaN, -0.0 and null inputs get their own") {
    val l = bisect(Nil, 0.0, 10.0, m => C("a") - m, C("a") > Lit(0.0))
    val sql = Pipeline.toSql("t", Seq(Stage(Seq("id" -> C("id"), "y" -> l * C("b")))), Nil)
    // the stage input is kept once; the loop seeds from its distinct
    // non-null free columns, with their sign bits
    assert(sql.contains("s0_in AS MATERIALIZED (SELECT * FROM t)"), sql)
    assert(sql.contains("""(SELECT DISTINCT "a", signbit("a") AS "__s0" FROM s0_in """ +
      """WHERE "a" IS NOT NULL)"""), sql)
    // and joins back on both: DuckDB's = holds between 0.0 and -0.0, and
    // between NaNs, which all get the one NaN row
    assert(sql.contains("""FROM s0_in LEFT JOIN s0_l0_r ON s0_in."a" = s0_l0_r."s0_l0_r_k0" """ +
      """AND signbit(s0_in."a") = s0_l0_r."s0_l0_r_s0")"""), sql)
    // the columns the loop does not read are not in its key
    assert(!sql.contains("""DISTINCT "a", "b""""), sql)
    assert(!sql.contains("row_number"), sql)
  }

  test("ln, log10 and sqrt render safe to evaluate on every row") {
    // outside a loop: NULL at and below 0 like Spark's Log; sqrt NaN below 0
    assert(E.toSql(ln(C("a"))) == """(CASE WHEN "a" > 0.0e0 THEN ln("a") END)""")
    assert(E.toSql(log10(C("a"))) == """(CASE WHEN "a" > 0.0e0 THEN log10("a") END)""")
    assert(E.toSql(sqrt(C("a"))) ==
      """(CASE WHEN "a" >= 0.0e0 THEN sqrt("a") ELSE 'NaN'::DOUBLE END)""")
    // and Spark agrees: null for ln at 0 and -1, NaN for sqrt(-1)
    import spark.implicits._
    val r = Seq(0.0, -1.0).toDF("a")
      .select(E.toColumn(ln(C("a"))), E.toColumn(log10(C("a"))), E.toColumn(sqrt(C("a"))))
      .collect()
    assert(r.forall(row => row.isNullAt(0) && row.isNullAt(1)), r.toSeq)
    assert(r(0).getDouble(2) == 0.0 && r(1).getDouble(2).isNaN, r.toSeq)
  }
}
