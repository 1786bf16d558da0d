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
  * A memoised loop ([[Loop.memo]]), or one the loop holds, reads and fills
  * the per-JVM memo ([[LoopExpression.memo]]) inside its kernel. `stats`
  * are the memo's stats attached when the column was built: a task
  * republishes them where the memo has none attached, as on a remote
  * executor ([[Memo.publish]]). */
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

  @transient private lazy val memoised = LoopExpression.memoised(loop)

  /** The loop at the inputs `xs` (called by generated code). */
  def solve(xs: Array[Double]): Double = {
    if (memoised) stats.foreach(LoopExpression.memo.publish)
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
    * its inputs' raw bits: exact, since a loop is deterministic. A value is
    * a `java.lang.Double`, or a vector loop's `double[]`. The cap holds the
    * registry's sf0.1 working set: IW's 7 vectors per distinct pressure
    * (70,000), QFM's three transitions per temperature and Deng's dVdP per
    * (T, lattice length). */
  private[graft] val memo = new Memo[Key, AnyRef](200000)

  /** Whether `l` or a loop it holds (always memoised) is memoised. */
  private def memoised(l: Loop): Boolean = l.memo || l.held.nonEmpty

  private[graft] final class Key(val loop: Int, val bits: Array[Long], override val hashCode: Int) {
    override def equals(o: Any): Boolean = o match {
      case k: Key => k.loop == loop && java.util.Arrays.equals(k.bits, bits)
      case _      => false
    }
  }

  // each input's bits are multiplied through before they fold into the
  // hash: inputs are often whole numbers (T, P), whose low 32 bits are all
  // zero, and a plain fold of those put most keys in a few tree bins
  private[graft] def key(id: Int, xs: Array[Double]): Key = {
    val bits = new Array[Long](xs.length)
    var h = id; var i = 0
    while (i < xs.length) {
      bits(i) = java.lang.Double.doubleToRawLongBits(xs(i))
      h = 31 * h + java.lang.Long.hashCode(bits(i) * 0x9E3779B97F4A7C15L)
      i += 1
    }
    new Key(id, bits, h)
  }

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
      if (memoised(l)) memo.attached else None))

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
    LoopExpression.memo.lookup(LoopExpression.key(loop, x)).asInstanceOf[java.lang.Double]

  protected final def fill(loop: Int, x: Array[Double], v: Double, nanos: Long): Unit =
    LoopExpression.memo.fill(LoopExpression.key(loop, x), Double.box(v), nanos)

  // ... and a memoised vector loop's, filled once per key and JVM while a
  // concurrent caller of the key waits; its callers only read the array
  protected final def fillOnce(loop: Int, x: Array[Double],
                               solve: java.util.function.Supplier[AnyRef]): Array[Double] =
    LoopExpression.memo.getOrFill(LoopExpression.key(loop, x))(solve.get())
      .asInstanceOf[Array[Double]]
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

  /** The loops of `p` and the loops they hold, outer first. */
  private def loopsIn(p: Program): Seq[Loop] = {
    def all(l: Loop): Seq[Loop] = l +: l.held.flatMap(all)
    (p.defs.map(_._2) :+ p.value).flatMap(Pipeline.loopsIn).flatMap(all).distinct
  }

  private def foldsIn(n: Node): Seq[Trapz] = n match {
    case t: Trapz => Seq(t)
    case _        => n.children.flatMap(foldsIn)
  }

  /** The Java class body of `p`: a method `solve<i>` per loop (one local
    * per bound name, its assignments in order), `memo<i>` around it for a
    * memoised loop, `trapz<i>` per [[Trapz]] fold, and `apply` for the
    * definitions and the value. A vector loop's methods return its
    * `double[]`. */
  private[graft] def source(p: Program): String = {
    val loops = loopsIn(p)
    val folds = (p.defs.map(_._2) :+ p.value).flatMap(foldsIn).distinct
    // the call of a loop or a fold from code that reads a name n as id(n)
    def call(id: String => String)(e: E): String = e match {
      case l: Loop => val i = loops.indexOf(l)
        s"${if (l.memo) "memo" else "solve"}$i(${E.freeVars(l).map(id).mkString(", ")})"
      case t: Trapz => s"trapz${folds.indexOf(t)}(${E.freeVars(t).map(id).mkString(", ")})"
      case _ => throw new IllegalArgumentException(s"not a call: $e")
    }
    val methods = loops.zipWithIndex.map { case (l, i) =>
      val as = E.freeVars(l).indices.map(k => s"a$k")
      val params = as.map("double " + _).mkString(", ")
      val t = if (l.width > 0) "double[]" else "double"
      lazy val id = LoopExpression.idOf(l) // only a memoised loop has one
      s"""private $t solve$i($params) {
         |${body(l, call)}
         |}""".stripMargin + (if (!l.memo) "" else if (l.width > 0)
      // a vector loop's solve is long: one thread runs it, the others wait
      s"""
         |private double[] memo$i(${as.map("final double " + _).mkString(", ")}) {
         |  return fillOnce($id, new double[] {${as.mkString(", ")}},
         |    new java.util.function.Supplier() {
         |      public Object get() { return solve$i(${as.mkString(", ")}); }
         |    });
         |}""".stripMargin else
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
    } ++ folds.zipWithIndex.map { case (t, i) => trapz(t, i, call) }
    val scope = p.names.zipWithIndex.distinctBy(_._1).map { case (n, i) => n -> s"x[$i]" }.toMap ++
      p.defs.map(_._1).zipWithIndex.map { case (n, i) => n -> s"d$i" }
    (methods ++ Seq("public double apply(double[] x) {") ++
      p.defs.zipWithIndex.map { case ((_, e), i) => s"double d$i = ${java(e, scope, call(scope))};" } ++
      Seq(s"return ${java(p.value, scope, call(scope))};", "}")).mkString("\n")
  }

  /** The method body of `l` over parameters `a0..` ([[E.freeVars]] order);
    * a vector loop runs it per element, the index in `ix`. */
  private def body(l: Loop, call: (String => String) => E => String): String = {
    val id = (E.freeVars(l).zipWithIndex.map { case (n, i) => n -> s"a$i" } ++
      (l.lets ++ l.init ++ l.step).map(_._1).distinct.zipWithIndex.map { case (n, i) => n -> s"b$i" })
      .toMap + (Loop.index -> "ix")
    def j(e: E): String = java(e, id, call(id))
    // a step temporary is declared in the loop body, afresh each round
    val declared = scala.collection.mutable.Set.empty[String]
    def assign(as: Seq[(String, E)]): Seq[String] = as.map { case (n, e) =>
      (if (declared.add(n)) "double " else "") + s"${id(n)} = ${j(e)};"
    }
    val run = assign(l.lets ++ l.init) ++
      Seq("int it = 0;", s"while (it < ${l.maxIter} && ${cond(l.cond, j)}) {") ++
      assign(l.step) ++ Seq("it++;", "}")
    (if (l.width == 0) run :+ s"return ${j(l.result)};"
    else Seq(s"double[] out = new double[${l.width * l.results.size}];",
        s"for (int i0 = 0; i0 < ${l.width}; i0++) {", "double ix = i0;") ++ run ++
      l.results.indices.map(k => s"out[${k * l.width} + i0] = ${j(l.results(k))};") ++
      Seq("}", "return out;")).mkString("\n")
  }

  /** The method `trapz<i>` of the fold `t` over parameters `p0..`
    * ([[E.freeVars]] order): the vectors it reads fetched once, then each
    * point's value computed once and carried to the next panel. The index
    * is the int `k`: an element read `v[(int) x]` of a double index costs
    * ~4x the whole panel in C2-compiled code (OpenJDK 17, x86-64). */
  private def trapz(t: Trapz, i: Int, call: (String => String) => E => String): String = {
    val ps = E.freeVars(t).zipWithIndex.map { case (n, k) => n -> s"p$k" }
    val id = ps.toMap + (t.idx -> "((double) k)")
    val vectors = Pipeline.loopsIn(t).distinct
    def j(e: E): String = java(e, id, {
      case l: Loop if vectors.contains(l) => s"q${vectors.indexOf(l)}"
      case e => throw new IllegalArgumentException(s"a fold holds no fold: $e")
    }, Map(t.idx -> "k"))
    (Seq(s"private double trapz$i(${ps.map("double " + _._2).mkString(", ")}) {") ++
      vectors.zipWithIndex.map { case (l, k) => s"double[] q$k = ${call(id)(l)};" } ++
      Seq("int k = 0;", s"double prev = ${j(t.value)};", "double s = 0.0;",
        s"for (k = 1; k < ${t.n}; k++) {", s"double cur = ${j(t.value)};",
        s"s = s + ((0.5D * (cur + prev)) * ${j(t.h)});", "prev = cur;", "}", "return s;", "}"))
      .mkString("\n")
  }

  /** `e` as a Java double expression: a name reads `id(name)`, a loop or a
    * fold is `call(it)`; an element index of whole literals, `+`, `-` and
    * the int names `ints` is int arithmetic. */
  private def java(e: E, id: String => String, call: E => String,
                   ints: Map[String, String] = Map.empty): String = {
    def int(e: E): Option[String] = e match {
      case C(n) => ints.get(n)
      case Lit(v) if v.isWhole && scala.math.abs(v) < 1e9 => Some(v.toInt.toString)
      case Bin(op @ ("+" | "-"), x, y) => for (a <- int(x); b <- int(y)) yield s"($a $op $b)"
      case _ => None
    }
    def j(e: E): String = e match {
      case C(n)     => id(n)
      case Lit(v)   => lit(v)
      case ILit(v)  => lit(v.toDouble)
      case CastD(a) => j(a)
      case Bin(op, x, y) => s"(${j(x)} $op ${j(y)})"
      case Fn(fn, args) if math.contains(fn) =>
        s"java.lang.Math.${math(fn)}(${args.map(j).mkString(", ")})"
      case If(p, t, f) => s"(${cond(p, j)} ? ${j(t)} : ${j(f)})"
      case At(v, k)    => s"${j(v)}[${int(k).getOrElse(s"(int) ${j(k)}")}]"
      case _: Loop | _: Trapz => call(e)
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
