package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}
import graft.expr._
import graft.functions.{Memo, MemoStats}

/** A [[Loop]] as one native Catalyst expression. The children are the
  * loop's free columns, in [[E.freeVars]] order, as doubles; a null child
  * gives a null result, as a primitive-argument UDF does.
  *
  * Generated code puts the whole loop in a method of its own
  * (`ctx.addNewFunction`), which keeps the stage's method small and the
  * loop under HotSpot's 8000-byte JIT limit. Generated code and the
  * interpreted [[eval]] both compute with `java.lang.Math`: Catalyst's
  * `Exp`/`Log`/`Pow` use `StrictMath`, which can differ in the last ulp
  * from the `Math` of the scalar kernels.
  *
  * A memoised loop ([[Loop.memo]]) reads and fills the per-JVM memo
  * ([[LoopExpression.memo]]) in both modes. `stats` are the memo's stats
  * attached when the column was built: a task republishes them where the
  * memo has none attached, as on a remote executor ([[Memo.publish]]). */
case class LoopExpression(loop: Loop, children: Seq[Expression])(
    val stats: Option[MemoStats]) extends Expression {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def toString: String = s"loop(${children.mkString(", ")})"
  override protected def otherCopyArgs: Seq[AnyRef] = stats :: Nil

  @transient private lazy val names = E.freeVars(loop)
  @transient private lazy val run = LoopExpression.evaluator(loop, names)
  @transient private lazy val id = LoopExpression.idOf(loop)

  override def eval(input: InternalRow): Any = {
    val xs = children.map(_.eval(input))
    if (xs.contains(null)) null
    else {
      if (loop.memo) publish()
      run(xs.map(_.asInstanceOf[Double]).toArray)
    }
  }

  private def publish(): Unit = stats.foreach(LoopExpression.memo.publish)

  /** The memoised result at the inputs `xs`, or null (generated code). */
  def lookup(xs: Array[Double]): java.lang.Double = {
    publish()
    LoopExpression.memo.lookup(LoopExpression.key(id, xs))
  }

  /** Memoise `v`, computed in `nanos`, at the inputs `xs` (generated code). */
  def fill(xs: Array[Double], v: Double, nanos: Long): Unit =
    LoopExpression.memo.fill(LoopExpression.key(id, xs), v, nanos)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val name = ctx.freshName("graftLoop")
    val fn = ctx.addNewFunction(name,
      s"""private double $name(${names.indices.map(i => s"double a$i").mkString(", ")}) {
         |${LoopExpression.javaBody(loop, names)}
         |}""".stripMargin)
    val isNull = (args.map(_.isNull.toString) :+ "false").mkString(" || ")
    val call = s"$fn(${args.map(_.value).mkString(", ")})"
    val solve = if (!loop.memo) s"${ev.value} = $call;" else {
      val self = ctx.addReferenceObj("graftLoopExpr", this)
      val (k, hit, t0) = (ctx.freshName("key"), ctx.freshName("hit"), ctx.freshName("t0"))
      s"""double[] $k = new double[] {${args.map(_.value).mkString(", ")}};
         |java.lang.Double $hit = $self.lookup($k);
         |if ($hit != null) ${ev.value} = $hit.doubleValue();
         |else {
         |  long $t0 = System.nanoTime();
         |  ${ev.value} = $call;
         |  $self.fill($k, ${ev.value}, System.nanoTime() - $t0);
         |}""".stripMargin
    }
    ev.copy(code = args.map(_.code).foldLeft(EmptyBlock: Block)(_ + _) +
      code"""
        |boolean ${ev.isNull} = $isNull;
        |double ${ev.value} = -1.0;
        |if (!${ev.isNull}) {
        |  $solve
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

  private def key(id: Int, xs: Array[Double]): Key =
    new Key(id, xs.map(java.lang.Double.doubleToRawLongBits))

  private val ids = new java.util.concurrent.ConcurrentHashMap[Loop, Integer]()
  private val lastId = new java.util.concurrent.atomic.AtomicInteger()

  /** The memo id of `l`, one per distinct memoised loop in this JVM. */
  private def idOf(l: Loop): Int = ids.computeIfAbsent(l, _ => lastId.incrementAndGet())

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

  /** `e` evaluated with Java semantics at the inputs `env`. */
  def eval(e: E, env: (String, Double)*): Double =
    staged(Nil, e, env.map(_._1))(env.map(_._2).toArray)

  private val evaluators =
    new Memo[(String, Seq[String]), Array[Double] => Double](256)

  /** Spec hook: evaluators built and kept. */
  private[graft] def evaluatorCount: Int = evaluators.size

  /** The scalar entry point of a model written as a tree: `value` after
    * the solver `stages` that `build` makes, as a function of the inputs
    * `names` ([[staged]]). Its evaluator is built once per JVM for each
    * tree name `tree` (a name no other tree of the same inputs has) and
    * input names, so a call builds no tree: building one of Allison's
    * costs milliseconds. */
  def scalar(tree: String, names: Seq[String])(
      build: => (Seq[Seq[(String, E)]], E)): Array[Double] => Double =
    evaluators.getOrFill((tree, names)) {
      val (stages, value) = build
      staged(stages, value, names)
    }

  /** `value` after the solver `stages` (named definitions, each reading
    * the inputs and the definitions before it), as a function of the
    * inputs `names`: one evaluator per definition. */
  def staged(stages: Seq[Seq[(String, E)]], value: E,
             names: Seq[String]): Array[Double] => Double = {
    val defs = stages.flatten
    val each = defs.indices.map(i => evaluator(defs(i)._2, names ++ defs.take(i).map(_._1)))
    val last = evaluator(value, names ++ defs.map(_._1))
    xs => last(each.foldLeft(xs)((vs, f) => vs :+ f(vs)))
  }

  /** `e` as a function of the inputs `names`, interpreted over one frame
    * slot per name (inputs first, then every bound name). */
  private def evaluator(e: E, names: Seq[String]): Array[Double] => Double = {
    val slot = (names ++ bound(e)).distinct.zipWithIndex.toMap
    val in = new Interpreter(slot, memoised(e).map(l => l -> E.freeVars(l).map(slot).toArray).toMap)
    xs => in.value(e, java.util.Arrays.copyOf(xs, slot.size))
  }

  private def bound(n: Node): Seq[String] = n match {
    case l: Loop => (l.lets ++ l.init ++ l.step).map(_._1)
    case _       => n.children.flatMap(bound)
  }

  private def memoised(n: Node): Seq[Loop] = n match {
    case l: Loop => if (l.memo) Seq(l) else Nil
    case _       => n.children.flatMap(memoised)
  }

  /** The tree walk over a frame: `slot` places each name, `keyed` gives
    * each memoised loop the slots of its free columns. A closure ships it
    * to executors, where each JVM gives the loops its own ids. */
  private final class Interpreter(slot: Map[String, Int],
                                  keyed: Map[Loop, Array[Int]]) extends Serializable {
    @transient private lazy val ids = keyed.map { case (l, _) => l -> idOf(l) }

    def value(e: E, fr: Array[Double]): Double = {
      def v(x: E): Double = value(x, fr)
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
        case If(c, t, f) => if (holds(c, fr)) v(t) else v(f)
        case l: Loop if l.memo =>
          val k = key(ids(l), keyed(l).map(fr(_)))
          val hit = memo.lookup(k)
          if (hit != null) hit.doubleValue
          else {
            val t0 = System.nanoTime()
            val r = solve(l, fr)
            memo.fill(k, r, System.nanoTime() - t0)
            r
          }
        case l: Loop => solve(l, fr)
        case _ => unsupported(e)
      }
    }

    private def solve(l: Loop, fr: Array[Double]): Double = {
      def run(as: Seq[(String, E)]): Unit = as.foreach { case (n, x) => fr(slot(n)) = value(x, fr) }
      run(l.lets ++ l.init)
      var n = 0
      while (n < l.maxIter && holds(l.cond, fr)) { run(l.step); n += 1 }
      value(l.result, fr)
    }

    private def holds(c: Cond, fr: Array[Double]): Boolean = c match {
      case Cmp(op, l, r) =>
        val (a, b) = (value(l, fr), value(r, fr))
        op match { case "<" => a < b; case "<=" => a <= b; case ">" => a > b
                   case ">=" => a >= b; case "=" => a == b }
      case AndOr("AND", l, r) => holds(l, fr) && holds(r, fr)
      case AndOr(_, l, r)     => holds(l, fr) || holds(r, fr)
      case NotC(x)            => !holds(x, fr)
    }
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
