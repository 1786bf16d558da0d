package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}
import graft.expr._

/** A [[Loop]] as one native Catalyst expression. The children are the
  * loop's free columns, in [[E.freeVars]] order, as doubles; a null child
  * gives a null result, as a primitive-argument UDF does.
  *
  * Generated code puts the whole loop in a method of its own
  * (`ctx.addNewFunction`), which keeps the stage's method small and the
  * loop under HotSpot's 8000-byte JIT limit. Generated code and the
  * interpreted [[eval]] both compute with `java.lang.Math`: Catalyst's
  * `Exp`/`Log`/`Pow` use `StrictMath`, which can differ in the last ulp
  * from the `Math` of the scalar kernels. */
case class LoopExpression(loop: Loop, children: Seq[Expression]) extends Expression {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def toString: String = s"loop(${children.mkString(", ")})"

  @transient private lazy val names = E.freeVars(loop)
  @transient private lazy val run = LoopExpression.evaluator(loop, names)

  override def eval(input: InternalRow): Any = {
    val xs = children.map(_.eval(input))
    if (xs.contains(null)) null else run(xs.map(_.asInstanceOf[Double]).toArray)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val name = ctx.freshName("graftLoop")
    val fn = ctx.addNewFunction(name,
      s"""private double $name(${names.indices.map(i => s"double a$i").mkString(", ")}) {
         |${LoopExpression.javaBody(loop, names)}
         |}""".stripMargin)
    val isNull = (args.map(_.isNull.toString) :+ "false").mkString(" || ")
    ev.copy(code = args.map(_.code).foldLeft(EmptyBlock: Block)(_ + _) +
      code"""
        |boolean ${ev.isNull} = $isNull;
        |double ${ev.value} = -1.0;
        |if (!${ev.isNull}) ${ev.value} = $fn(${args.map(_.value).mkString(", ")});
        |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LoopExpression =
    copy(children = newChildren)
}

object LoopExpression {
  import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression}

  /** Column of `l`; a free name reads `bind(name)` when given, else the
    * column of that name. */
  def column(l: Loop, bind: Map[String, Column] = Map.empty): Column =
    toCol(LoopExpression(l, E.freeVars(l).map(n =>
      expression(bind.getOrElse(n, F.col(n)).cast("double")))))

  /** `e` evaluated with Java semantics: the scalar entry point of every
    * model written as a tree. */
  def eval(e: E, env: (String, Double)*): Double =
    evaluator(e, env.map(_._1))(env.map(_._2).toArray)

  /** `e` as a function of the inputs `names`, interpreted over one frame
    * slot per name (inputs first, then every bound name). */
  def evaluator(e: E, names: Seq[String]): Array[Double] => Double = {
    val slot = (names ++ bound(e)).distinct.zipWithIndex.toMap
    xs => {
      val frame = java.util.Arrays.copyOf(xs, slot.size)
      value(e, frame, slot)
    }
  }

  /** `value` after the solver `stages` (named definitions, each reading
    * the inputs and the definitions before it), as a function of the
    * inputs `names`: one evaluator per definition, built once. */
  def staged(stages: Seq[Seq[(String, E)]], value: E,
             names: Seq[String]): Array[Double] => Double = {
    val defs = stages.flatten
    val each = defs.indices.map(i => evaluator(defs(i)._2, names ++ defs.take(i).map(_._1)))
    val last = evaluator(value, names ++ defs.map(_._1))
    xs => last(each.foldLeft(xs)((vs, f) => vs :+ f(vs)))
  }

  private def bound(n: Node): Seq[String] = n match {
    case l: Loop => (l.lets ++ l.init ++ l.step).map(_._1)
    case _       => n.children.flatMap(bound)
  }

  private def value(e: E, fr: Array[Double], slot: Map[String, Int]): Double = {
    def v(x: E): Double = value(x, fr, slot)
    e match {
      case C(n)     => fr(slot(n))
      case Lit(x)   => x
      case ILit(x)  => x.toDouble
      case CastD(a) => v(a)
      case Bin(op, l, r) =>
        val (a, b) = (v(l), v(r))
        op match { case "+" => a + b; case "-" => a - b; case "*" => a * b
                   case "/" => a / b; case "%" => a % b }
      case Fn("pow", List(a, b)) => Math.pow(v(a), v(b))
      case Fn(fn, List(a)) if math1.contains(fn) => math1(fn)(v(a))
      case If(c, t, f) => if (holds(c, fr, slot)) v(t) else v(f)
      case l: Loop =>
        def run(as: Seq[(String, E)]): Unit = as.foreach { case (n, x) => fr(slot(n)) = v(x) }
        run(l.lets ++ l.init)
        var n = 0
        while (n < l.maxIter && holds(l.cond, fr, slot)) { run(l.step); n += 1 }
        v(l.result)
      case _ => unsupported(e)
    }
  }

  private def holds(c: Cond, fr: Array[Double], slot: Map[String, Int]): Boolean =
    c match {
      case Cmp(op, l, r) =>
        val (a, b) = (value(l, fr, slot), value(r, fr, slot))
        op match { case "<" => a < b; case "<=" => a <= b; case ">" => a > b
                   case ">=" => a >= b; case "=" => a == b }
      case AndOr("AND", l, r) => holds(l, fr, slot) && holds(r, fr, slot)
      case AndOr(_, l, r)     => holds(l, fr, slot) || holds(r, fr, slot)
      case NotC(x)            => !holds(x, fr, slot)
    }

  /** The one-argument `java.lang.Math` functions, by E name. */
  private val math1: Map[String, Double => Double] = Map("exp" -> (Math.exp _),
    "ln" -> (Math.log _), "log10" -> (Math.log10 _), "sqrt" -> (Math.sqrt _),
    "abs" -> ((x: Double) => Math.abs(x)), "cos" -> (Math.cos _), "atan" -> (Math.atan _),
    "rint" -> (Math.rint _), "ulp" -> ((x: Double) => Math.ulp(x)))
  private val javaName = Map("ln" -> "log").withDefault(identity)

  private def unsupported(e: E): Nothing =
    throw new IllegalArgumentException(s"not computable with Java semantics: $e")

  /** The Java method body of `l` over parameters `a0..` (`names` order):
    * one local per bound name, the operations of [[evaluator]] in its
    * order. */
  private[graft] def javaBody(l: Loop, names: Seq[String]): String = {
    val id = (names.zipWithIndex.map { case (n, i) => n -> s"a$i" } ++
      bound(l).distinct.zipWithIndex.map { case (n, i) => n -> s"b$i" }).toMap
    def j(e: E): String = e match {
      case C(n)     => id(n)
      case Lit(v)   => lit(v)
      case ILit(v)  => lit(v.toDouble)
      case CastD(a) => j(a)
      case Bin(op, x, y) => s"(${j(x)} $op ${j(y)})"
      case Fn(fn, args) if fn == "pow" || math1.contains(fn) =>
        s"java.lang.Math.${javaName(fn)}(${args.map(j).mkString(", ")})"
      case If(p, t, f) => s"(${jc(p)} ? ${j(t)} : ${j(f)})"
      case _ => unsupported(e)
    }
    def jc(p: Cond): String = p match {
      case Cmp(op, x, y)   => s"(${j(x)} ${if (op == "=") "==" else op} ${j(y)})"
      case AndOr(op, x, y) => s"(${jc(x)} ${if (op == "AND") "&&" else "||"} ${jc(y)})"
      case NotC(x)         => s"(!${jc(x)})"
    }
    // a step temporary is declared in the loop body, afresh each round
    val declared = scala.collection.mutable.Set.empty[String]
    def assign(as: Seq[(String, E)]): Seq[String] = as.map { case (n, e) =>
      (if (declared.add(n)) "double " else "") + s"${id(n)} = ${j(e)};"
    }
    (assign(l.lets ++ l.init) ++
      Seq("int it = 0;", s"while (it < ${l.maxIter} && ${jc(l.cond)}) {") ++
      assign(l.step) ++ Seq("it++;", "}", s"return ${j(l.result)};")).mkString("\n")
  }

  private def lit(v: Double): String =
    if (v.isNaN) "java.lang.Double.NaN"
    else if (v.isInfinite) s"java.lang.Double.${if (v > 0) "POSITIVE" else "NEGATIVE"}_INFINITY"
    else s"(${v}D)"
}
