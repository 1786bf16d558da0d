package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}
import scala.util.control.NonFatal
import graft.expr._
import graft.functions.{Memo, MemoStats}

/** A [[Loop]] as one native Catalyst expression. The children are the
  * loop's free columns, in [[E.freeVars]] order, as doubles; a null child
  * gives a null result, as a primitive-argument UDF does.
  *
  * Both modes call the loop's one [[LoopKernel]], compiled once per JVM:
  * generated code fills an argument buffer of its own and calls [[solve]],
  * and the codegen-off [[eval]] calls it too. The kernel computes with
  * `java.lang.Math`: Catalyst's `Exp`/`Log`/`Pow` use `StrictMath`, which
  * can differ in the last ulp from the `Math` of the scalar kernels.
  *
  * A memoised loop ([[Loop.memo]]) reads and fills the per-JVM memo
  * ([[LoopExpression.memo]]) inside its kernel. `stats` are the memo's
  * stats attached when the column was built: a task republishes them where
  * the memo has none attached, as on a remote executor ([[Memo.publish]]). */
case class LoopExpression(loop: Loop, children: Seq[Expression])(
    val stats: Option[MemoStats]) extends Expression {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def toString: String = s"loop(${children.mkString(", ")})"
  override protected def otherCopyArgs: Seq[AnyRef] = stats :: Nil

  @transient private lazy val kernel =
    LoopKernel.Program(Nil, loop, E.freeVars(loop)).kernel

  override def eval(input: InternalRow): Any = {
    val xs = children.map(_.eval(input))
    if (xs.contains(null)) null else solve(xs.map(_.asInstanceOf[Double]).toArray)
  }

  /** The loop at the inputs `xs` (called by generated code). */
  def solve(xs: Array[Double]): Double = {
    if (loop.memo) stats.foreach(LoopExpression.memo.publish)
    kernel(xs)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val self = ctx.addReferenceObj("graftLoop", this)
    // one task thread runs an instance of the generated class
    val xs = ctx.addMutableState("double[]", "graftLoopArgs",
      v => s"$v = new double[${args.size}];")
    val isNull = (args.map(_.isNull.toString) :+ "false").mkString(" || ")
    ev.copy(code = args.map(_.code).foldLeft(EmptyBlock: Block)(_ + _) +
      code"""
        |boolean ${ev.isNull} = $isNull;
        |double ${ev.value} = -1.0;
        |if (!${ev.isNull}) {
        |  ${args.indices.map(i => s"$xs[$i] = ${args(i).value};").mkString("\n")}
        |  ${ev.value} = $self.solve($xs);
        |}
        |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LoopExpression =
    copy(children = newChildren)(stats)
}

object LoopExpression {
  import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression}

  /** The per-JVM memo of every memoised loop, keyed by the loop's id and
    * its inputs' raw bits: exact, since a loop is deterministic. */
  private[graft] val memo = new Memo[Key, java.lang.Double](100000)

  private[graft] final class Key(val loop: Int, val bits: Array[Long]) {
    override def hashCode: Int = 31 * loop + java.util.Arrays.hashCode(bits)
    override def equals(o: Any): Boolean = o match {
      case k: Key => k.loop == loop && java.util.Arrays.equals(k.bits, bits)
      case _      => false
    }
  }

  private[graft] def key(id: Int, xs: Array[Double]): Key =
    new Key(id, xs.map(java.lang.Double.doubleToRawLongBits))

  private val ids = new java.util.concurrent.ConcurrentHashMap[Loop, Integer]()
  private val lastId = new java.util.concurrent.atomic.AtomicInteger()

  /** The memo id of `l`, one per distinct memoised loop in this JVM. */
  private[graft] def idOf(l: Loop): Int = ids.computeIfAbsent(l, _ => lastId.incrementAndGet())

  /** Fresh stats on the loop memo, named `loop.memo` (called by
    * Verify/Bench after session build). */
  def attachMetrics(spark: org.apache.spark.sql.SparkSession): MemoStats = {
    val s = MemoStats.attach(spark, "loop.memo")
    memo.attach(s)
    s
  }

  /** Column of `l`; a free name reads `bind(name)` when given, else the
    * column of that name. */
  def column(l: Loop, bind: Map[String, Column] = Map.empty): Column =
    toCol(LoopExpression(l, E.freeVars(l).map(n =>
      expression(bind.getOrElse(n, F.col(n)).cast("double"))))(
      if (l.memo) memo.attached else None))

  private val scalars =
    new Memo[(String, Seq[String]), Array[Double] => Double](256)

  /** Spec hook: scalar entry points built and kept. */
  private[graft] def scalarCount: Int = scalars.size

  /** The scalar entry point of a model written as a tree: `value` after
    * the solver `stages` that `build` makes, as a function of the inputs
    * `names` ([[staged]]). It is built once per JVM for each tree name
    * `tree` (a name no other tree of the same inputs has) and input
    * names, so a call builds no tree: building one of Allison's costs
    * milliseconds. */
  def scalar(tree: String, names: Seq[String])(
      build: => (Seq[Seq[(String, E)]], E)): Array[Double] => Double =
    scalars.getOrFill((tree, names)) {
      val (stages, value) = build
      staged(stages, value, names)
    }

  /** `value` after the solver `stages` (named definitions, each reading
    * the inputs and the definitions before it), as a function of the
    * inputs `names`: one [[LoopKernel]] per distinct program and JVM. */
  def staged(stages: Seq[Seq[(String, E)]], value: E,
             names: Seq[String]): Array[Double] => Double =
    LoopKernel.Program(stages.flatten, value, names)
}

/** A [[LoopKernel.Program]] compiled to Java: the one rendering of loop
  * semantics. Generated stage code, the codegen-off `eval`, the scalar
  * entry points and the SQL UDFs all call it. It keeps no state, so one
  * instance serves every thread of a JVM; it is never serialised. */
abstract class LoopKernel {

  /** The program's value at the inputs `x`, in its input order. */
  def apply(x: Array[Double]): Double

  // a memoised loop's method reads and fills the loop memo through these
  protected final def lookup(loop: Int, x: Array[Double]): java.lang.Double =
    LoopExpression.memo.lookup(LoopExpression.key(loop, x))

  protected final def fill(loop: Int, x: Array[Double], v: Double, nanos: Long): Unit =
    LoopExpression.memo.fill(LoopExpression.key(loop, x), v, nanos)
}

object LoopKernel {

  /** `value` after the named definitions `defs` (each reading the inputs
    * and the definitions before it), as a function of the inputs `names`.
    * It ships as its tree; each JVM compiles its kernel on the first call,
    * once per distinct program. */
  final case class Program(defs: Seq[(String, E)], value: E, names: Seq[String])
      extends (Array[Double] => Double) {
    @transient lazy val kernel: LoopKernel = kernels.getOrFill(this)(compile(this))
    def apply(x: Array[Double]): Double = kernel(x)
  }

  // outside Spark's generated-class cache, so a kernel evicts no stage class
  private val kernels = new Memo[Program, LoopKernel](1024)

  /** Fresh stats on the kernel memo, named `loop.kernels`: a miss is one
    * janino compile and the fill time its compile time (called by
    * Verify/Bench after session build). */
  def attachMetrics(spark: org.apache.spark.sql.SparkSession): MemoStats = {
    val s = MemoStats.attach(spark, "loop.kernels")
    kernels.attach(s)
    s
  }

  private def compile(p: Program): LoopKernel =
    try cook(source(p)).getClazz.getConstructor().newInstance().asInstanceOf[LoopKernel]
    catch { case NonFatal(e) => throw new IllegalStateException(s"the kernel of the loops " +
      loopsIn(p).map(l => s"(state ${l.state}, result ${l.result})").mkString(", ").take(2000) +
      s" over ${p.names} does not compile", e) }

  /** The janino compilation of a kernel's class body `src`. */
  private[graft] def cook(src: String): org.codehaus.janino.ClassBodyEvaluator = {
    val c = new org.codehaus.janino.ClassBodyEvaluator()
    c.setParentClassLoader(classOf[LoopKernel].getClassLoader)
    c.setClassName("graft.expressions.CompiledLoopKernel")
    c.setExtendedClass(classOf[LoopKernel])
    c.cook(src)
    c
  }

  private def loopsIn(p: Program): Seq[Loop] =
    (p.defs.map(_._2) :+ p.value).flatMap(Pipeline.loopsIn).distinct

  /** The Java class body of `p`: a method `solve<i>` per loop (one local
    * per bound name, its assignments in order), `memo<i>` around it for a
    * memoised loop, and `apply` for the definitions and the value. */
  private[graft] def source(p: Program): String = {
    val loops = loopsIn(p)
    val methods = loops.zipWithIndex.map { case (l, i) =>
      val as = E.freeVars(l).indices.map(k => s"a$k")
      val params = as.map("double " + _).mkString(", ")
      lazy val id = LoopExpression.idOf(l) // only a memoised loop has one
      s"""private double solve$i($params) {
         |${body(l)}
         |}""".stripMargin + (if (!l.memo) "" else
      s"""
         |private double memo$i($params) {
         |  double[] k = new double[] {${as.mkString(", ")}};
         |  Double hit = lookup($id, k);
         |  if (hit != null) return hit.doubleValue();
         |  long t0 = System.nanoTime();
         |  double r = solve$i(${as.mkString(", ")});
         |  fill($id, k, r, System.nanoTime() - t0);
         |  return r;
         |}""".stripMargin)
    }
    val scope = p.names.zipWithIndex.distinctBy(_._1).map { case (n, i) => n -> s"x[$i]" }.toMap ++
      p.defs.map(_._1).zipWithIndex.map { case (n, i) => n -> s"d$i" }
    def call(l: Loop): String = { // in scope: the value reads every definition
      val i = loops.indexOf(l)
      s"${if (l.memo) "memo" else "solve"}$i(${E.freeVars(l).map(scope).mkString(", ")})"
    }
    (methods ++ Seq("public double apply(double[] x) {") ++
      p.defs.zipWithIndex.map { case ((_, e), i) => s"double d$i = ${java(e, scope, call)};" } ++
      Seq(s"return ${java(p.value, scope, call)};", "}")).mkString("\n")
  }

  /** The method body of `l` over parameters `a0..` ([[E.freeVars]] order). */
  private def body(l: Loop): String = {
    val id = (E.freeVars(l).zipWithIndex.map { case (n, i) => n -> s"a$i" } ++
      (l.lets ++ l.init ++ l.step).map(_._1).distinct.zipWithIndex.map { case (n, i) => n -> s"b$i" }).toMap
    def j(e: E): String = java(e, id, _ => throw new IllegalArgumentException("a loop holds no loop"))
    // a step temporary is declared in the loop body, afresh each round
    val declared = scala.collection.mutable.Set.empty[String]
    def assign(as: Seq[(String, E)]): Seq[String] = as.map { case (n, e) =>
      (if (declared.add(n)) "double " else "") + s"${id(n)} = ${j(e)};"
    }
    (assign(l.lets ++ l.init) ++
      Seq("int it = 0;", s"while (it < ${l.maxIter} && ${cond(l.cond, j)}) {") ++
      assign(l.step) ++ Seq("it++;", "}", s"return ${j(l.result)};")).mkString("\n")
  }

  /** `e` as a Java double expression: a name reads `id(name)`, a loop
    * is `loop(it)`. */
  private def java(e: E, id: String => String, loop: Loop => String): String = {
    def j(e: E): String = e match {
      case C(n)     => id(n)
      case Lit(v)   => lit(v)
      case ILit(v)  => lit(v.toDouble)
      case CastD(a) => j(a)
      case Bin(op, x, y) => s"(${j(x)} $op ${j(y)})"
      case Fn(fn, args) if math.contains(fn) =>
        s"java.lang.Math.${math(fn)}(${args.map(j).mkString(", ")})"
      case If(p, t, f) => s"(${cond(p, j)} ? ${j(t)} : ${j(f)})"
      case l: Loop     => loop(l)
      case _ => throw new IllegalArgumentException(s"not computable with Java semantics: $e")
    }
    j(e)
  }

  private def cond(p: Cond, j: E => String): String = p match {
    case Cmp(op, x, y)   => s"(${j(x)} ${if (op == "=") "==" else op} ${j(y)})"
    case AndOr(op, x, y) => s"(${cond(x, j)} ${if (op == "AND") "&&" else "||"} ${cond(y, j)})"
    case NotC(x)         => s"(!${cond(x, j)})"
  }

  /** The `java.lang.Math` method of each E function. */
  private val math = Map("exp" -> "exp", "ln" -> "log", "log10" -> "log10", "sqrt" -> "sqrt",
    "abs" -> "abs", "cos" -> "cos", "atan" -> "atan", "rint" -> "rint", "ulp" -> "ulp",
    "pow" -> "pow")

  private def lit(v: Double): String =
    if (v.isNaN) "java.lang.Double.NaN"
    else if (v.isInfinite) s"java.lang.Double.${if (v > 0) "POSITIVE" else "NEGATIVE"}_INFINITY"
    else s"(${v}D)"
}
