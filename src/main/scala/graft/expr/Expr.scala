package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Tiny scalar-expression AST: the engine's expression compiler.
  *
  * All closed-form model math in the reference (unit conversions,
  * thermometers, Fe3+/Fe2+ models, fO2 buffers, rheology — SURVEY.md §2.6/2.7)
  * is pure per-row arithmetic. We express it once in this AST and compile it
  * to Catalyst `Column`s (codegen'd, no UDFs). A secondary renderer emits the
  * same expression tree as ANSI SQL for the DuckDB correctness oracle, which
  * guarantees the oracle computes the *same arithmetic in the same order* —
  * IEEE 754 ops are then bit-identical across engines (transcendentals are
  * rounded at query edges).
  */
sealed trait Node {
  def children: Seq[Node]
}

sealed trait E extends Node {
  def +(o: E): E = Bin("+", this, o)
  def -(o: E): E = Bin("-", this, o)
  def *(o: E): E = Bin("*", this, o)
  def /(o: E): E = Bin("/", this, o)
  def %(o: E): E = Bin("%", this, o)
  def unary_- : E = Bin("-", Lit(0.0), this)
  def <(o: E): Cond = Cmp("<", this, o)
  def <=(o: E): Cond = Cmp("<=", this, o)
  def >(o: E): Cond = Cmp(">", this, o)
  def >=(o: E): Cond = Cmp(">=", this, o)
  def ===(o: E): Cond = Cmp("=", this, o)

  def children: Seq[Node] = this match {
    case Bin(_, l, r) => Seq(l, r)
    case Fn(_, args)  => args
    case If(c, t, f)  => Seq(c, t, f)
    case CastD(a)     => Seq(a)
    case l: Loop      => l.parts
    case Vec(xs)      => xs
    case At(v, k)     => Seq(v, k)
    case t: Trapz     => Seq(t.value, t.h)
    case _            => Nil
  }

  /** This node with `f` applied to each child expression and `g` to each
    * child condition. */
  def mapChildren(f: E => E, g: Cond => Cond): E = this match {
    case Bin(op, l, r) => Bin(op, f(l), f(r))
    case Fn(fn, args)  => Fn(fn, args.map(f))
    case If(c, t, e)   => If(g(c), f(t), f(e))
    case CastD(a)      => CastD(f(a))
    case l: Loop       => l.map(f, g)
    case Vec(xs)       => Vec(xs.map(f))
    case At(v, k)      => At(f(v), f(k))
    case t: Trapz      => t.copy(value = f(t.value), h = f(t.h))
    case leaf          => leaf
  }
}
final case class C(name: String) extends E                       // column ref
final case class Lit(v: Double) extends E {                      // double literal
  // equal by bits, as a double literal renders: NaN is itself, 0.0 is not -0.0
  override def equals(o: Any): Boolean = o match {
    case Lit(w) => java.lang.Double.doubleToLongBits(v) == java.lang.Double.doubleToLongBits(w)
    case _      => false
  }
  override def hashCode: Int = java.lang.Double.hashCode(v)
}
final case class ILit(v: Long) extends E                         // integer literal
final case class SLit(v: String) extends E                       // string literal
final case class Bin(op: String, l: E, r: E) extends E           // + - * / %
final case class Fn(fn: String, args: List[E]) extends E         // exp ln log10 sqrt abs pow least greatest round floor
final case class If(cond: Cond, t: E, f: E) extends E            // CASE WHEN
final case class CastD(a: E) extends E                           // cast to double
final case class Raw(column: Column, sql: String) extends E      // escape hatch

// The vector value, computed with Java's semantics inside a [[Loop]] only:
/** A vector loop's result per element: `xs.size` values ([[Loop.width]]). */
final case class Vec(xs: List[E]) extends E
/** Element `k` (an integer value, from 0) of the vector `v`: a vector loop
  * ([[Loop.width]]) that the enclosing loop may hold. */
final case class At(v: E, k: E) extends E
/** The trapezoid fold over the `n` points k = 0, 1, ... of `value`, which
  * reads k as `C(idx)`: from 0.0, in index order, the sum adds
  * (0.5 (v(k) + v(k - 1))) h for each k from 1, where v(k) is `value` at k.
  * Java computes each v(k) once and carries it to the next panel; SQL
  * renders `list_reduce` over the panels, which sums in the same order. */
final case class Trapz(idx: String, n: Int, value: E, h: E) extends E

/** Per-row loop, the solver node. `lets` are per-row constants, evaluated
  * once and in order; `init` seeds the state, in order; while fewer than
  * `maxIter` rounds ran and `cond` holds, `step` runs its assignments in
  * order (a name not in `init` is a temporary of the round); `result`
  * reads the lets and the final state. A bound name is visible only after
  * its binding, and a loop holds no loop but a memoised one (below). No
  * two of its names, bound or read from the input, differ only in case:
  * DuckDB resolves quoted names without regard to case.
  *
  * Inside a loop both backends compute with Java's double semantics: a
  * comparison with NaN is false, `ln`/`log10`/`sqrt` return Java's values
  * outside their domain, a division by zero gives Java's ±Infinity or NaN,
  * transcendentals are `java.lang.Math`'s. Spark runs a loop as one native
  * expression ([[graft.expressions.LoopExpression]]) that calls the loop's
  * kernel, compiled once per JVM ([[graft.expressions.LoopKernel]]), as
  * the scalar entry points do; [[Pipeline.toSql]] renders it as a
  * recursive CTE over the distinct values of its free columns.
  *
  * A loop's result depends on its free columns alone. With `memo` set,
  * its kernel keeps each result in a bounded per-JVM memo keyed by the
  * inputs' raw bits ([[graft.expressions.LoopExpression]]):
  * the model code sets it on a solve whose inputs repeat across rows (one
  * keyed by temperature), never on a per-row one. A loop may hold a
  * memoised loop that reads only the outer loop's free columns: its kernel
  * looks it up where a branch reaches it, and SQL joins its result in.
  *
  * With `width` n > 0 the loop is a vector loop: it runs once per element
  * index i = 0 .. n - 1, read as `C(Loop.index)`, and its value is the
  * vector of its elements' results, a [[Vec]] of m values per element
  * laid out value by value (value j of element i at j n + i). Only [[At]]
  * reads it. */
final case class Loop(lets: Seq[(String, E)], init: Seq[(String, E)],
                      step: Seq[(String, E)], cond: Cond, maxIter: Int,
                      result: E, memo: Boolean = false, width: Int = 0) extends E {
  val state: Seq[String] = init.map(_._1)
  val bound: Set[String] =
    (lets ++ init ++ step).map(_._1).toSet ++ (if (width > 0) Set(Loop.index) else Set.empty)

  // computed once: Catalyst hashes a LoopExpression, this loop included,
  // each time a plan rule copies it
  override val hashCode: Int = scala.util.hashing.MurmurHash3.productHash(this)

  // A loop travels as the serialised bytes of its parts and comes back
  // from a per-JVM memo, so a JVM builds each loop once. Every task
  // deserialises the plan it runs: a non-codegen operator (an
  // ObjectHashAggregate) captures its child plan, loops included, and
  // building a loop of a few thousand nodes per task cost more than the
  // rows it solved.
  private def writeReplace(): AnyRef = new Loop.Wire(Loop.bytes(this))

  def parts: Seq[Node] =
    (lets ++ init ++ step).map(_._2) ++ Seq(cond, result)

  /** The memoised loops this loop holds (computed once: a column asks per
    * task). */
  lazy val held: Seq[Loop] = parts.flatMap(Pipeline.loopsIn).distinct

  /** A vector loop's values per element: its [[Vec]], or its result. */
  def results: Seq[E] = result match {
    case Vec(xs) => xs
    case r       => Seq(r)
  }

  def map(f: E => E, g: Cond => Cond): Loop = {
    def each(xs: Seq[(String, E)]) = xs.map { case (n, e) => n -> f(e) }
    copy(each(lets), each(init), each(step), g(cond), maxIter, f(result))
  }

  /** This loop with its results memoised per JVM. */
  def memoised: Loop = copy(memo = true)

  /** This loop with each bound name `n` renamed `f(n)`. */
  def renamed(f: String => String): Loop = {
    def r(e: E): E = e match {
      case C(n) if bound(n) && n != Loop.index => C(f(n))
      case _: Loop          => e // it reads no bound name
      case _                => e.mapChildren(r, rc)
    }
    def rc(c: Cond): Cond = c.mapChildren(r, rc)
    def each(xs: Seq[(String, E)]) = xs.map { case (n, e) => f(n) -> r(e) }
    copy(each(lets), each(init), each(step), rc(cond), maxIter, r(result))
  }

  locally { // lets and state are bound once; a bound name is read in scope
    val defs = (lets ++ init).map(_._1)
    require(defs.distinct == defs && !step.exists(s => lets.exists(_._1 == s._1)),
      s"loop names bound twice: $defs, ${step.map(_._1)}")
    def check(scope: Set[String])(n: Node): Unit = n match {
      case C(x)    => require(!bound(x) || scope(x), s"loop name $x read before it is bound")
      case l: Loop => require(l.memo && E.freeVars(l).forall(!bound(_)),
        "a loop holds no loop but a memoised one over its free columns")
      case _       => n.children.foreach(check(scope))
    }
    def seq(scope: Set[String], xs: Seq[(String, E)]): Set[String] =
      xs.foldLeft(scope) { case (sc, (n, e)) => check(sc)(e); sc + n }
    val after = seq(seq(bound.filter(_ == Loop.index), lets), init)
    seq(after, step)
    Seq(cond, result).foreach(check(after))
    val alike = (bound.toSeq ++ E.freeVars(this)).groupBy(_.toLowerCase).values.filter(_.size > 1)
    require(alike.isEmpty, s"loop names differ only in case: ${alike.map(_.sorted).mkString(", ")}")
  }
}

object Loop {
  /** The element index of a vector loop, as a double. */
  val index = "__i"

  private val built = new graft.functions.Memo[java.nio.ByteBuffer, Loop](256)

  private def bytes(l: Loop): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream
    val o = new java.io.ObjectOutputStream(b)
    o.writeObject((l.lets, l.init, l.step, l.cond, l.maxIter, l.result, l.memo, l.width))
    o.close()
    b.toByteArray
  }

  /** A loop's serialised form: the bytes of its parts, read back once per
    * JVM (classes through the task's context loader, as Spark's own
    * deserialiser resolves them). A loop's parts may hold a loop, read back
    * while the outer one is, so the read runs outside the memo's fill; the
    * first loop stored is the JVM's one instance. */
  private final class Wire(bytes: Array[Byte]) extends Serializable {
    private def readResolve(): AnyRef = {
      val key = java.nio.ByteBuffer.wrap(bytes)
      Option(built.lookup(key)).getOrElse {
        val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes)) {
          override def resolveClass(d: java.io.ObjectStreamClass): Class[_] =
            try Class.forName(d.getName, false, Thread.currentThread.getContextClassLoader)
            catch { case _: ClassNotFoundException => super.resolveClass(d) }
        }
        val (lets, init, step, cond, maxIter, result, memo, width) = in.readObject().asInstanceOf[
          (Seq[(String, E)], Seq[(String, E)], Seq[(String, E)], Cond, Int, E, Boolean, Int)]
        val l = Loop(lets, init, step, cond, maxIter, result, memo, width)
        built.getOrFill(key)(l)
      }
    }
  }
}

sealed trait Cond extends Node {
  def &&(o: Cond): Cond = AndOr("AND", this, o)
  def ||(o: Cond): Cond = AndOr("OR", this, o)

  def children: Seq[Node] = this match {
    case Cmp(_, l, r)   => Seq(l, r)
    case AndOr(_, l, r) => Seq(l, r)
    case NotC(x)        => Seq(x)
  }

  def mapChildren(f: E => E, g: Cond => Cond): Cond = this match {
    case Cmp(op, l, r)   => Cmp(op, f(l), f(r))
    case AndOr(op, l, r) => AndOr(op, g(l), g(r))
    case NotC(x)         => NotC(g(x))
  }
}
final case class Cmp(op: String, l: E, r: E) extends Cond
final case class AndOr(op: String, l: Cond, r: Cond) extends Cond
final case class NotC(c: Cond) extends Cond

object E {
  implicit def fromDouble(v: Double): E = Lit(v)
  implicit def fromInt(v: Int): E = ILit(v.toLong)

  def exp(a: E): E = Fn("exp", List(a))
  def ln(a: E): E = Fn("ln", List(a))
  def log10(a: E): E = Fn("log10", List(a))
  def sqrt(a: E): E = Fn("sqrt", List(a))
  def cos(a: E): E = Fn("cos", List(a))
  def atan(a: E): E = Fn("atan", List(a))
  /** Nearest integer, ties to even (Java's `Math.rint`). */
  def rint(a: E): E = Fn("rint", List(a))
  /** Java's `Math.ulp`, for finite values below `Double.MaxValue`; only a
    * [[Loop]] computes it. */
  def ulp(a: E): E = Fn("ulp", List(a))
  def abs(a: E): E = Fn("abs", List(a))
  def pow(a: E, b: E): E = Fn("pow", List(a, b))
  def least(xs: E*): E = Fn("least", xs.toList)
  def greatest(xs: E*): E = Fn("greatest", xs.toList)
  def round(a: E, d: Int): E = Fn("round", List(a, ILit(d.toLong)))
  def floor(a: E): E = Fn("floor", List(a))
  def when(c: Cond, t: E, f: E): E = If(c, t, f)

  /** Compile to a Catalyst Column (the engine execution path). */
  // String helpers with identical Spark/DuckDB semantics (ASCII data):
  def length(a: E): E = Fn("length", List(a))
  def replace(s: E, find: E, repl: E): E = Fn("replace", List(s, find, repl))
  def lower(a: E): E = Fn("lower", List(a))
  def concatS(xs: E*): E = Fn("concat", xs.toList)
  def md5S(a: E): E = Fn("md5_str", List(a))
  /** Occurrences of `marker` in `padded` via length/replace arithmetic —
    * deterministic in both engines, no regex dialect issues. */
  def countOccurrences(padded: E, marker: String): E =
    CastD(length(padded) - length(replace(padded, SLit(marker), SLit("")))) /
      Lit(marker.length.toDouble)
  /** `suffix` appended after EVERY Unicode code point of `a` — the BPE
    * alphabet seeding, as the one regex both dialects agree on:
    * `(?s)(.)` matches exactly one code point (incl. newline via (?s),
    * incl. supplementary-plane chars as ONE match — java.util.regex and
    * RE2 both iterate code points, verified empirically), and the
    * backref replacement is `$1` in Java vs `\1` + the 'g' flag in
    * DuckDB, which is why this is a dedicated node instead of a generic
    * Fn rendering. `suffix` must not contain `$`/`\` (Java replacement
    * metachars) — the BPE separator (U+0001) never does. */
  def seedCp(a: E, suffix: String): E = Fn("seed_cp", List(a, SLit(suffix)))

  def toColumn(e: E): Column = e match {
    case C(n)    => F.col(n)
    case Lit(v)  => F.lit(v)
    case ILit(v) => F.lit(v)
    case SLit(v) => F.lit(v)
    case Bin("+", l, r) => toColumn(l) + toColumn(r)
    case Bin("-", l, r) => toColumn(l) - toColumn(r)
    case Bin("*", l, r) => toColumn(l) * toColumn(r)
    case Bin("/", l, r) => toColumn(l) / toColumn(r)
    case Bin("%", l, r) => toColumn(l) % toColumn(r)
    case Bin(op, _, _)  => throw new IllegalArgumentException(s"op $op")
    case Fn("exp", List(a))      => F.exp(toColumn(a))
    case Fn("ln", List(a))       => F.log(toColumn(a))
    case Fn("log10", List(a))    => F.log10(toColumn(a))
    case Fn("sqrt", List(a))     => F.sqrt(toColumn(a))
    case Fn("cos", List(a))      => F.cos(toColumn(a))
    case Fn("atan", List(a))     => F.atan(toColumn(a))
    case Fn("rint", List(a))     => F.rint(toColumn(a))
    case Fn("abs", List(a))      => F.abs(toColumn(a))
    case Fn("pow", List(a, b))   => F.pow(toColumn(a), toColumn(b))
    case Fn("least", xs)         => F.least(xs.map(toColumn): _*)
    case Fn("greatest", xs)      => F.greatest(xs.map(toColumn): _*)
    case Fn("round", List(a, ILit(d))) => F.round(toColumn(a), d.toInt)
    case Fn("floor", List(a))    => F.floor(toColumn(a))
    case Fn("length", List(a))   => F.length(toColumn(a))
    case Fn("replace", xs)       => F.call_function("replace", xs.map(toColumn): _*)
    case Fn("lower", List(a))    => F.lower(toColumn(a))
    case Fn("concat", xs)        => F.concat(xs.map(toColumn): _*)
    case Fn("md5_str", List(a))  => F.md5(toColumn(a).cast("binary"))
    case Fn("seed_cp", List(a, SLit(suffix))) =>
      F.regexp_replace(toColumn(a), "(?s)(.)", "$1" + suffix)
    case Fn(fn, _)               => throw new IllegalArgumentException(s"fn $fn")
    case If(c, t, f) => F.when(toCond(c), toColumn(t)).otherwise(toColumn(f))
    case CastD(a)    => toColumn(a).cast("double")
    case Raw(c, _)   => c
    case l: Loop     => graft.expressions.LoopExpression.column(l)
    case _: Vec | _: At | _: Trapz =>
      throw new IllegalArgumentException("a vector is computed only inside a Loop")
  }

  def toCond(c: Cond): Column = c match {
    case Cmp("<", l, r)  => toColumn(l) < toColumn(r)
    case Cmp("<=", l, r) => toColumn(l) <= toColumn(r)
    case Cmp(">", l, r)  => toColumn(l) > toColumn(r)
    case Cmp(">=", l, r) => toColumn(l) >= toColumn(r)
    case Cmp("=", l, r)  => toColumn(l) === toColumn(r)
    case Cmp(op, _, _)   => throw new IllegalArgumentException(s"cmp $op")
    case AndOr("AND", l, r) => toCond(l) && toCond(r)
    case AndOr("OR", l, r)  => toCond(l) || toCond(r)
    case AndOr(op, _, _)    => throw new IllegalArgumentException(s"bool $op")
    case NotC(x) => !toCond(x)
  }

  /** Render as DuckDB-compatible ANSI SQL (the oracle path). Where DuckDB
    * raises, the rendering follows the engine: outside a loop `ln`/`log10`
    * are NULL at and below 0 (Spark's `Log` is), and `sqrt` is NaN below 0
    * everywhere. With `java` (the parts of a [[Loop]]) it follows Java's
    * double semantics where DuckDB's differ: a comparison with NaN is false
    * (DuckDB orders NaN above every number), `ln`/`log10` give -Infinity at
    * 0 and NaN below, a division by zero gives ±Infinity, or NaN for 0 or
    * NaN over 0 (DuckDB gives NULL; the dividend times the infinity of the
    * zero's sign is Java's quotient), `cos` of ±Infinity is NaN (DuckDB
    * raises), and integer literals are doubles. So a
    * subtree `Cse` hoists out of its If branch is safe to evaluate on every
    * row. */
  def toSql(e: E): String = sql(e, java = false)

  private[expr] def sql(e: E, java: Boolean): String = {
    def r(x: E): String = sql(x, java)
    e match {
      case C(n)    => "\"" + n + "\""
      case Lit(v) if v.isNaN      => "'NaN'::DOUBLE"
      case Lit(v) if v.isInfinite => if (v > 0) "'Infinity'::DOUBLE" else "'-Infinity'::DOUBLE"
      case Lit(v)  => formatDouble(v)
      case ILit(v) => if (java) formatDouble(v.toDouble) else v.toString
      case SLit(v) => "'" + v.replace("'", "''") + "'"
      case Bin("/", l, Lit(d)) if java && d != 0.0 => s"(${r(l)} / ${r(Lit(d))})"
      case Bin("/", l, d) if java => // DuckDB's x / 0 is NULL; x * ±Infinity is Java's x / ±0
        val (x, y) = (r(l), r(d))
        s"coalesce(($x / $y), ($x * (CASE signbit($y) WHEN true THEN '-Infinity'::DOUBLE " +
          "WHEN false THEN 'Infinity'::DOUBLE END)))"
      case Bin(op, l, rr) => s"(${r(l)} $op ${r(rr)})"
      case Fn(f @ ("ln" | "log10"), List(a)) =>
        val x = r(a)
        if (java) s"(CASE WHEN $x > 0.0e0 THEN $f($x) WHEN $x = 0.0e0 THEN '-Infinity'::DOUBLE " +
          "ELSE 'NaN'::DOUBLE END)"
        else s"(CASE WHEN $x > 0.0e0 THEN $f($x) END)"
      case Fn("sqrt", List(a)) =>
        val x = r(a)
        s"(CASE WHEN $x >= 0.0e0 THEN sqrt($x) ELSE 'NaN'::DOUBLE END)"
      case Fn("cos", List(a)) if java => // DuckDB raises on cos(±Infinity), Java gives NaN
        val x = r(a)
        s"cos((CASE WHEN isinf($x) THEN 'NaN'::DOUBLE ELSE $x END))"
      case Fn("round", List(a, ILit(d))) => s"round(${r(a)}, $d)"
      case Fn("rint", List(a)) => s"round_even(${r(a)}, 0)"
      case Fn("ulp", List(a)) if java => // the gap above |x|
        val x = s"abs(${r(a)})"
        s"(nextafter($x, 'Infinity'::DOUBLE) - $x)"
      case Fn("ulp", _) => throw new IllegalArgumentException("ulp renders only inside a Loop")
      case Fn("md5_str", List(a)) => s"md5(${r(a)})"
      case Fn("seed_cp", List(a, SLit(suffix))) =>
        s"regexp_replace(${r(a)}, '(?s)(.)', " +
          s"'\\1${suffix.replace("'", "''")}', 'g')"
      case Fn(fn, xs) => s"$fn(${xs.map(r).mkString(", ")})"
      case If(c, t, f) => s"(CASE WHEN ${condSql(c, java)} THEN ${r(t)} ELSE ${r(f)} END)"
      case CastD(a)    => s"CAST(${r(a)} AS DOUBLE)"
      case Raw(_, s)   => s
      case At(v, k) if java => s"${r(v)}[CAST(${r(k)} AS BIGINT) + 1]"
      case Trapz(idx, n, value, h) if java => // DuckDB's list_reduce sums in index order
        def at(k: E): String = r(Pipeline.substitute(value, Map(idx -> k)))
        val k = C(idx)
        s"list_reduce(list_prepend(0.0e0, list_transform(CAST(range(1, $n) AS DOUBLE[]), " +
          s"${r(k)} -> ((0.5e0 * (${at(k)} + ${at(k - Lit(1.0))})) * ${r(h)}))), " +
          "(\"__a\", \"__b\") -> (\"__a\" + \"__b\"))"
      case _: Vec | _: At | _: Trapz =>
        throw new IllegalArgumentException("a vector renders only inside a Loop")
      case _: Loop     =>
        throw new IllegalArgumentException("a Loop renders only inside Pipeline.toSql")
    }
  }


  def condSql(c: Cond): String = condSql(c, java = false)

  private[expr] def condSql(c: Cond, java: Boolean): String = c match {
    case Cmp(op, l, r) if java =>
      // DuckDB orders NaN above every number and equal to itself, so a
      // NaN falsifies the comparison as in Java except on one side: the
      // right of < and <=, the left of >, >= and =
      val (a, b) = (sql(l, java), sql(r, java))
      val (x, s) = if (op == "<" || op == "<=") (r, b) else (l, a)
      x match {
        case Lit(v) if !v.isNaN => s"($a $op $b)"
        case _: ILit            => s"($a $op $b)"
        case _                  => s"(NOT isnan($s) AND ($a $op $b))"
      }
    case Cmp(op, l, r)   => s"(${sql(l, java)} $op ${sql(r, java)})"
    case AndOr(op, l, r) => s"(${condSql(l, java)} $op ${condSql(r, java)})"
    case NotC(x)         => s"(NOT ${condSql(x, java)})"
  }

  /** Names a tree reads from its input: column refs, minus names bound by
    * an enclosing [[Loop]]. In first-read order. */
  def freeVars(e: Node): Seq[String] = {
    val acc = scala.collection.mutable.LinkedHashSet.empty[String]
    def go(n: Node, bound: Set[String]): Unit = n match {
      case C(x)    => if (!bound(x)) acc += x
      case l: Loop => val inner = bound ++ l.bound; l.parts.foreach(go(_, inner))
      case t: Trapz => go(t.value, bound + t.idx); go(t.h, bound)
      case _       => n.children.foreach(go(_, bound))
    }
    go(e, Set.empty)
    acc.toSeq
  }

  /** Root of `g` on [[lo, hi]] by 60 halvings: `g > 0` moves `lo` up. Rows
    * where `valid` fails skip the loop and give `invalid`. `g` and `valid`
    * may read the `lets`; `g(x)` may read the names `temps(x)` binds, which
    * each round computes after `_mid`. */
  def bisect(lets: Seq[(String, E)], lo: Double, hi: Double, g: E => E,
             valid: Cond, invalid: E = Lit(Double.NaN),
             temps: E => Seq[(String, E)] = _ => Nil): Loop = {
    val (l, h, m, gm) = (C("_lo"), C("_hi"), C("_mid"), C("_g"))
    Loop(lets, Seq("_lo" -> Lit(lo), "_hi" -> Lit(hi)),
      Seq("_mid" -> (l + h) * Lit(0.5)) ++ temps(m) ++ Seq("_g" -> g(m),
        "_lo" -> If(gm > Lit(0.0), m, l), "_hi" -> If(gm > Lit(0.0), h, m)),
      valid, 60, If(valid, (l + h) * Lit(0.5), invalid))
  }

  /** Secant iteration from the points `x0` and `x1`, each (x, f(x)), with
    * `Solver.secant`'s exits: while |f(b)| > `tol` and f(b) differs from
    * f(a), at most `maxIter` rounds; gives the last iterate b. A NaN f(b)
    * ends it. `f` may read the `lets`, and `f(x)` the names `temps(x)`
    * binds. */
  def secant(lets: Seq[(String, E)], x0: (E, E), x1: (E, E), f: E => E,
             tol: Double = 1e-10, maxIter: Int = 100,
             temps: E => Seq[(String, E)] = _ => Nil): Loop = {
    val (a, fa, b, fb, c) = (C("_a"), C("_fa"), C("_b"), C("_fb"), C("_c"))
    Loop(lets, Seq("_a" -> x0._1, "_fa" -> x0._2, "_b" -> x1._1, "_fb" -> x1._2),
      Seq("_c" -> (b - fb * (b - a) / (fb - fa))) ++ temps(c) ++
        Seq("_a" -> b, "_fa" -> fb, "_b" -> c, "_fb" -> f(c)),
      abs(fb) > Lit(tol) && NotC(fb - fa === Lit(0.0)), maxIter, b)
  }

  /** Brent's method on the bracket `a`, `b`, each (x, f(x)), performing
    * `Solver.brent`'s operations in its order: an endpoint where f is 0 is
    * the root, and a bracket whose f values do not differ in sign gives
    * NaN. Rows where `valid` fails skip the loop and give `invalid`. `f`
    * may read the `lets`, and `f(x)` the names `temps(x)` binds.
    *
    * The state is the kernel's at the top of its round; the swap that
    * opens a round is recomputed where the condition and the result need
    * it, since the kernel returns the swapped iterate when it converges
    * and the unswapped one after `maxIter` rounds. */
  def brent(lets: Seq[(String, E)], a: (E, E), b: (E, E), f: E => E, valid: Cond,
            invalid: E = Lit(Double.NaN), temps: E => Seq[(String, E)] = _ => Nil,
            tol: Double = 1e-12, maxIter: Int = 200): Loop = {
    def v(n: String): E = C(s"_$n")
    def neg(x: E): E = x * Lit(-1.0) // -x but for NaN
    val sw = abs(v("fc")) < abs(v("fb"))
    val swap = Seq("a1" -> If(sw, v("b"), v("a")), "b1" -> If(sw, v("c"), v("b")),
      "c1" -> If(sw, v("b"), v("c")), "fa1" -> If(sw, v("fb"), v("fa")),
      "fb1" -> If(sw, v("fc"), v("fb")), "fc1" -> If(sw, v("fb"), v("fc")))
    val open = swap.toMap
    def tol1(b1: E): E = Lit(2.0) * ulp(abs(b1)) + Lit(0.5 * tol)
    val converged = abs(Lit(0.5) * (open("c1") - open("b1"))) <= tol1(open("b1")) ||
      open("fb1") === Lit(0.0)
    val bracketed = NotC(a._2 === Lit(0.0)) && NotC(b._2 === Lit(0.0)) &&
      a._2 * b._2 < Lit(0.0)
    val (xm, t1, p, q) = (v("xm"), v("t1"), v("p"), v("q2"))
    val interpolate = abs(v("e")) >= t1 && abs(v("fa1")) > abs(v("fb1"))
    val take = Lit(2.0) * p < Lit(3.0) * xm * q - abs(t1 * q) && Lit(2.0) * p < abs(v("e") * q)
    val same = v("fb") > Lit(0.0) && v("fc1") > Lit(0.0) ||
      NotC(v("fb") > Lit(0.0)) && NotC(v("fc1") > Lit(0.0))
    val inverse = v("a1") === v("c1")
    def named(as: Seq[(String, E)]) = as.map { case (n, e) => s"_$n" -> e }
    val step = named(swap ++ Seq(
      "t1" -> tol1(v("b1")), "xm" -> Lit(0.5) * (v("c1") - v("b1")),
      "s" -> v("fb1") / v("fa1"), "q0" -> v("fa1") / v("fc1"), "r" -> v("fb1") / v("fc1"),
      "p0" -> If(inverse, Lit(2.0) * xm * v("s"), v("s") * (Lit(2.0) * xm * v("q0") *
        (v("q0") - v("r")) - (v("b1") - v("a1")) * (v("r") - Lit(1.0)))),
      "q1" -> If(inverse, Lit(1.0) - v("s"),
        (v("q0") - Lit(1.0)) * (v("r") - Lit(1.0)) * (v("s") - Lit(1.0))),
      "q2" -> If(v("p0") > Lit(0.0), neg(v("q1")), v("q1")), "p" -> abs(v("p0")),
      "d1" -> If(interpolate && take, p / q, xm), "e1" -> If(interpolate && take, v("d"), xm),
      "a" -> v("b1"), "fa" -> v("fb1"),
      "b" -> (v("b1") + If(abs(v("d1")) > t1, v("d1"), If(xm > Lit(0.0), t1, neg(t1)))))) ++
      temps(v("b")) ++ named(Seq("fb" -> f(v("b")),
        "c" -> If(same, v("a"), v("c1")), "fc" -> If(same, v("fa"), v("fc1")),
        "d" -> If(same, v("b") - v("a"), v("d1")), "e" -> If(same, v("b") - v("a"), v("e1")),
        "i" -> (v("i") + Lit(1.0))))
    Loop(lets, named(Seq("a" -> a._1, "b" -> b._1, "c" -> a._1, "fa" -> a._2, "fb" -> b._2,
        "fc" -> a._2, "d" -> (b._1 - a._1), "e" -> (b._1 - a._1), "i" -> Lit(0.0))),
      step, valid && bracketed && NotC(converged), maxIter,
      If(valid, If(a._2 === Lit(0.0), a._1, If(b._2 === Lit(0.0), b._1,
        If(bracketed, If(v("i") < Lit(maxIter.toDouble), open("b1"), v("b")), Lit(Double.NaN)))),
        invalid))
  }

  /** `result` over the `lets` as a loop of no rounds: a closed form that
    * Spark computes with Java's semantics too, for values that must equal
    * a scalar kernel's bit for bit (Catalyst's `Exp` and `Log` are
    * `StrictMath`'s, and its division by zero is null). */
  def closed(lets: Seq[(String, E)], result: E): Loop =
    Loop(lets, Nil, Nil, Lit(0.0) < Lit(0.0), 0, result)

  /** Trapezoid sum, each panel times `scale`, of `value(x, r)` over the
    * `n` lattice points x0, x0 + dx, ... (a float walk), where `r` are the
    * results of the inner solves `solves` run at `x` in order: solve k is a
    * loop built at point `x` from the results of the solves before it. One
    * flattened loop: its state holds the point index `_gi`, the point
    * `_gx`, which solve runs (`_gph`) and its rounds (`_git`), every solve's
    * own state (names prefixed `_g<k>`), the results `_gr<k>`, the previous
    * point and value and the sum. A round runs one step of the running
    * solve; the round after its last step keeps its result, starts the next
    * solve and, after the last solve, folds the point into the sum. Up to
    * `maxPoints` points the round cap never cuts the lattice short; a loop
    * that ends on its cap gives NaN, and so does a NaN `n`. The `lets` are
    * per-row constants every solve may read. */
  def grid(lets: Seq[(String, E)], n: E, x0: Double, dx: Double, maxPoints: Int,
           scale: Double, solves: Seq[(E, Seq[E]) => Loop], value: (E, Seq[E]) => E): Loop = {
    def v(s: String): E = C(s"_g$s")
    val (i, x, ph, it, run) = (v("i"), v("x"), v("ph"), v("it"), v("run"))
    val rs = solves.indices.map(k => v(s"r$k"))
    val ls = solves.indices.map(k => solves(k)(x, rs.take(k)).renamed(m => s"_g$k$m"))
    val last = ls.size - 1
    def in(k: Int): Cond = ph === Lit(k.toDouble)
    val running = run === Lit(1.0)
    val finishing = run === Lit(0.0)
    val state = ls.flatMap(l => l.lets ++ l.init).map(_._1).toSet
    val done = finishing && in(last)
    // every solve's state starts at 0, the first one's as it starts
    val init = Seq("_gi" -> Lit(0.0), "_gx" -> Lit(x0), "_gph" -> Lit(0.0), "_git" -> Lit(0.0),
      "_gsum" -> Lit(0.0), "_gxp" -> Lit(0.0), "_gvp" -> Lit(0.0)) ++
      solves.indices.map(k => s"_gr$k" -> Lit(0.0)) ++ ls.head.lets ++ ls.head.init ++
      ls.tail.flatMap(l => l.lets ++ l.init).map(_._1 -> Lit(0.0))
    val go = ls.indices.foldRight(Lit(0.0): E) { (k, rest) =>
      If(in(k), If(it < Lit(ls(k).maxIter.toDouble) && ls(k).cond, Lit(1.0), Lit(0.0)), rest)
    }
    val step = Seq("_grun" -> go) ++
      ls.indices.flatMap(k => ls(k).step.map { case (m, e) =>
        m -> If(running && in(k), e, if (state(m)) C(m) else Lit(0.0)) }) ++
      Seq("_git" -> If(running, it + Lit(1.0), Lit(0.0))) ++
      ls.indices.map(k => s"_gr$k" -> If(finishing && in(k), ls(k).result, rs(k))) ++
      Seq("_gv" -> If(done, value(x, rs), Lit(0.0)),
        "_gsum" -> If(done && i > Lit(0.0),
          v("sum") + Lit(0.5) * (v("v") + v("vp")) * (x - v("xp")) * Lit(scale), v("sum")),
        "_gxp" -> If(done, x, v("xp")), "_gvp" -> If(done, v("v"), v("vp")),
        "_gi" -> If(done, i + Lit(1.0), i), "_gx" -> If(done, x + Lit(dx), x),
        "_gph" -> If(finishing, If(in(last), Lit(0.0), ph + Lit(1.0)), ph)) ++
      ls.indices.flatMap(k => (ls(k).lets ++ ls(k).init).map { case (m, e) =>
        m -> If(finishing && in(k), e, C(m)) })
    Loop(lets, init, step, i < n, maxPoints * ls.map(_.maxIter + 1).sum,
      If(i >= n, v("sum"), Lit(Double.NaN)))
  }

  /** Shortest decimal repr that round-trips (Java Double.toString) — DuckDB
    * parses it back to the identical IEEE double. Always rendered in
    * exponent notation: DuckDB types plain decimal literals as DECIMAL
    * (exact arithmetic), but e-notation literals as DOUBLE, which is what
    * Spark computes with. */
  def formatDouble(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite literal $v")
    val s = v.toString
    if (s.contains("E")) s.replace("E", "e") else s + "e0"
  }

  /** Left-assoc sum matching `cols.reduce(_ + _)` evaluation order. */
  def sumAll(xs: Seq[E]): E = xs.reduce(_ + _)
}

/** One SELECT stage: output column name -> expression over the previous
  * stage. Pipelines of stages compile to chained `df.select`s, or to a SQL
  * WITH-chain for the oracle. */
final case class Stage(cols: Seq[(String, E)])

/** Common-subexpression elimination over a stage: repeated subtrees (e.g.
  * the mole-sum denominator a normalisation divides EVERY element column
  * by, or the cation denominator a model references per cation) are hoisted
  * into a prelude projection stage and replaced by column references.
  *
  * Why this matters at scale: the expression generators inline conversion
  * chains, so one model stage can carry a dozen copies of a 40-node sum.
  * Catalyst's codegen-time subexpression elimination does not always save
  * such stages — the generated method blows past the JIT/codegen size
  * limits and execution falls back to interpreted eval (observed: the EP3
  * chain spending 23s at sf0.1 on arithmetic worth <2s). Hoisting keeps
  * each projection small and codegen-friendly. The SQL renderer consumes
  * the SAME rewritten stages, so engine and oracle still compute identical
  * arithmetic in identical order.
  */
object Cse {
  private def sizeOf(n: Node): Int = 1 + n.children.map(sizeOf).sum

  private def contains(hay: Node, needle: E): Boolean =
    hay == needle || hay.children.exists(contains(_, needle))

  /** Counts every expression subtree of at least `minSize` nodes. A
    * [[Loop]] is a scope: it is counted whole, and nothing inside it is,
    * so a hoist never moves a bound name out of its loop or a loop's part
    * out of Java semantics. */
  private def count(n: Node, acc: scala.collection.mutable.Map[E, Int]): Unit = {
    if (!n.isInstanceOf[Loop]) n.children.foreach(count(_, acc))
    n match {
      case e: E if sizeOf(e) >= minSize => acc.update(e, acc.getOrElse(e, 0) + 1)
      case _ => ()
    }
  }

  def rewrite(e: E, m: Map[E, String]): E = m.get(e) match {
    case Some(n)  => C(n)
    case None     => e match {
      case _: Loop => e
      case _       => e.mapChildren(rewrite(_, m), rewriteCond(_, m))
    }
  }
  def rewriteCond(c: Cond, m: Map[E, String]): Cond =
    c.mapChildren(rewrite(_, m), rewriteCond(_, m))

  private val minSize = 5
  private val maxPicks = 16

  /** Split a stage into (prelude, rewritten) when profitable; None when the
    * stage has no repeated subtree worth hoisting. */
  def split(stage: Stage): Option[(Stage, Stage)] = {
    val counts = scala.collection.mutable.Map.empty[E, Int]
    stage.cols.foreach { case (_, e) => count(e, counts) }
    // Rank by SAVED NODES (occurrences-1) x size, not raw size: a model's
    // cation-sum denominator repeats ~12x but is CONTAINED in pow/ln trees
    // that repeat only twice — size ordering picked the big twice-trees and
    // the non-overlap rule then excluded the denominator, leaving a dozen
    // inline copies whose generated code blew past the JIT method budget
    // (q_monte_carlo: 4s of JIT per WARM pass, warm == cold).
    // ties break on the tree's structure, not on HashMap order
    val candidates = counts.toSeq.collect {
      case (e, n) if n >= 2 => ((n - 1).toLong * sizeOf(e), e.toString, e)
    }.sortBy { case (saved, key, _) => (-saved, key) }
    if (candidates.isEmpty) return None
    // greedy non-overlapping pick, largest savings first
    val picked = scala.collection.mutable.ArrayBuffer.empty[E]
    candidates.iterator.takeWhile(_ => picked.size < maxPicks).foreach {
      case (_, _, e) =>
        if (!picked.exists(p => contains(p, e) || contains(e, p)))
          picked += e
    }
    if (picked.isEmpty) return None
    // prelude passes through every column the original stage reads; pick
    // names must dodge the free vars — a re-split of a REWRITTEN stage
    // sees the previous level's _cseN as inputs, and a colliding fresh
    // name would shadow the column it still references
    val fv = stage.cols.flatMap { case (_, e) => E.freeVars(e) }.distinct
    var idx = 0
    def fresh(): String = {
      while (fv.contains(s"_cse$idx")) idx += 1
      val n = s"_cse$idx"; idx += 1; n
    }
    val names = picked.map(e => e -> fresh()).toMap
    val prelude = Stage(fv.map(c => c -> (C(c): E)) ++
      picked.map(e => names(e) -> e))
    val rewritten = Stage(stage.cols.map { case (n, e) => n -> rewrite(e, names) })
    Some((prelude, rewritten))
  }

  /** Recursive: the prelude's hoisted definitions can themselves share
    * subtrees (a hoisted cation fraction still contains the hoisted
    * denominator), and the REWRITTEN stage can too (trees that overlapped
    * a bigger pick this round become independent once the pick is a column
    * ref), so re-split both sides until stable. Depth-bounded; every level
    * keeps arithmetic and op order identical. Consecutive projections fuse
    * inside one WholeStageCodegen span, so extra levels cost no per-row
    * materialisation — they only partition the generated code into
    * JIT-compilable methods. */
  def expand(stage: Stage, depth: Int = 4): Seq[Stage] = split(stage) match {
    case Some((p, r)) if depth > 0 => expand(p, depth - 1) ++ expand(r, depth - 1)
    case Some((p, r))              => Seq(p, r)
    case None                      => Seq(stage)
  }
}

object Pipeline {
  import E._

  def applySpark(df: DataFrame, stages: Seq[Stage]): DataFrame =
    stages.foldLeft(df) { (d, st) =>
      d.select(st.cols.map { case (n, e) => toColumn(e).as(n) }: _*)
    }

  /** `df` with column `name` = `value` after the solver `stages` (named
    * definitions, each over `df`'s columns and the stages before it); the
    * stage columns are dropped. */
  def derive(df: DataFrame, stages: Seq[Seq[(String, E)]], name: String, value: E): DataFrame =
    stages.foldLeft(df)((d, st) => d.withColumns(st.map { case (n, e) => n -> toColumn(e) }.toMap))
      .withColumn(name, toColumn(value)).drop(stages.flatten.map(_._1): _*)

  /** The expression that produces output column `name` of the LAST stage,
    * composed back over the SOURCE table's columns by inlining each
    * stage's definitions front to back. Lets a caller key a pre-compute
    * range repartition on the final sort key (guide §2.4: two operations
    * keyed the same way share one exchange): the repartition expression
    * and the stage's alias then canonicalize identically, so the final
    * `orderBy` needs no second exchange and — crucially — its range-bound
    * sampling pass runs over the cheap key projection instead of
    * re-executing the whole post-shuffle compute. Returns None when the
    * column is opaque (contains [[Raw]], whose Column equality is
    * unreliable, or a [[Loop]]) — callers then fall back to the plain
    * two-exchange shape. */
  def sourceExpr(stages: Seq[Stage], name: String): Option[E] = {
    val env = stages.foldLeft(Map.empty[String, E]) { (m, st) =>
      st.cols.map { case (n, e) => n -> substitute(e, m) }.toMap
    }
    env.get(name).filter(opaqueFree)
  }

  private def opaqueFree(n: Node): Boolean = n match {
    case _: Raw | _: Loop => false
    case _                => n.children.forall(opaqueFree)
  }

  /** `e` with each column ref replaced by its definition in `env`. A
    * [[Loop]] is kept as it is: it is opaque here, and a loop it reads
    * (an earlier stage's) could not be put inside it. */
  private[expr] def substitute(e: E, env: Map[String, E]): E = e match {
    case C(n)    => env.getOrElse(n, e)
    case _: Loop => e
    case _       => e.mapChildren(substitute(_, env), substituteCond(_, env))
  }
  private def substituteCond(c: Cond, env: Map[String, E]): Cond =
    c.mapChildren(substitute(_, env), substituteCond(_, env))

  /** Render stages as `WITH s0 AS (SELECT ... FROM <source>), s1 AS ...`
    * and a final SELECT with optional ORDER BY. `source` may itself be a
    * subquery: `(SELECT ... FROM lineitem)`.
    *
    * A stage holding [[Loop]]s first keeps its input in a MATERIALIZED CTE
    * (`sI_in`). A memoised loop ([[Loop.memo]]) is solved once per distinct
    * value of its free columns: a recursive CTE over `SELECT DISTINCT` of
    * them, LEFT JOINed back on them. DuckDB's `=` holds between 0.0 and
    * -0.0 and between NaNs, so the key also holds each column's `signbit`:
    * a -0.0 row and a NaN row each get their own loop row. Any other loop
    * is solved once per row, keyed by the row number `__rid` the input
    * then carries: its inputs seldom repeat, and a DISTINCT and a join-back
    * on them cost more than they save. Rows with a null free column are
    * left out of the solve and get a null result, as null in gives null
    * out. */
  def toSql(source: String, stages: Seq[Stage], orderBy: Seq[String]): String = {
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    def select(cols: Seq[(String, E)]): String =
      cols.map { case (n, e) => s"${E.toSql(e)} AS ${q(n)}" }.mkString(", ")
    stages.zipWithIndex.foreach { case (st, i) =>
      val from = if (i == 0) source else s"s${i - 1}"
      val loops = st.cols.flatMap { case (_, e) => loopsIn(e) }.distinct
      if (loops.isEmpty) ctes += s"s$i AS (SELECT ${select(st.cols)} FROM $from)"
      else {
        val in = s"s${i}_in"
        val rows = if (loops.forall(_.memo)) "" else s"row_number() OVER () AS ${q(rid)}, "
        ctes += s"$in AS MATERIALIZED (SELECT $rows* FROM $from)"
        val names: Map[E, String] =
          loops.zipWithIndex.map { case (l, j) => (l: E) -> s"s${i}_l$j" }.toMap
        loops.foreach(l => ctes ++= loopCtes(l, names(l), in))
        val cols = st.cols.map { case (n, e) => n -> Cse.rewrite(e, names) }
        val joins = loops.map(l => s" LEFT JOIN ${names(l)}_r ${joinOn(l, in, s"${names(l)}_r")}")
        ctes += s"s$i AS (SELECT ${select(cols)} FROM $in${joins.mkString})"
      }
    }
    val ob = if (orderBy.isEmpty) "" else orderBy.map(q).mkString(" ORDER BY ", ", ", "")
    val recursive = if (stages.exists(_.cols.exists(c => loopsIn(c._2).nonEmpty))) " RECURSIVE" else ""
    s"WITH$recursive ${ctes.mkString(", ")} SELECT * FROM s${stages.size - 1}$ob"
  }

  private val round = "__n"
  private val rid = "__rid"
  private def q(n: String): String = "\"" + n + "\""

  private[graft] def loopsIn(n: Node): Seq[Loop] = n match {
    case l: Loop => Seq(l)
    case _       => n.children.flatMap(loopsIn)
  }

  /** The join condition of the result CTE `r` of `l` to the rows `in`: the
    * row number of a per-row loop, the free columns and their sign bits of
    * a memoised one. */
  private def joinOn(l: Loop, in: String, r: String): String =
    if (!l.memo) s"USING (${q(rid)})"
    else E.freeVars(l).zipWithIndex.map { case (c, k) =>
      s"$in.${q(c)} = $r.${q(s"${r}_k$k")} AND signbit($in.${q(c)}) = $r.${q(s"${r}_s$k")}"
    }.mkString("ON ", " AND ", "")

  /** The recursive CTE `name` (a row per key, element of a vector loop
    * and round: the key, round, the names the step, condition and result
    * read, the state) and `name_r` (the key, and the last round's result;
    * a vector loop's lists its elements' values, value by value). A
    * memoised loop is keyed by its free columns and their sign bits
    * (`name_r_k<i>`/`name_r_s<i>`), over their distinct non-null values in
    * `input`; any other by the row number, over the rows with no null free
    * column. The seed joins in the results of the loops `l` holds, then
    * computes the lets and the initial state level by level; the recursive
    * member runs one step on the rows whose loop goes on; a row's last
    * round is the one that produced no successor. */
  private def loopCtes(l: Loop, name: String, input: String): Seq[String] = {
    def sql(e: E): String = E.sql(e, java = true)
    val free = E.freeVars(l)
    require(free.nonEmpty, s"a loop rendered as SQL reads a column: $name")
    val inner = l.held.zipWithIndex.map { case (h, j) => (h: E) -> s"${name}_j$j" }.toMap
    val lr = l.map(Cse.rewrite(_, inner), Cse.rewriteCond(_, inner))
    val signs = free.indices.map(k => s"__s$k")
    val ids = (if (l.memo) free ++ signs else Seq(rid)) ++
      (if (l.width > 0) Seq(Loop.index) else Nil)
    // inside a loop every read is a plain column ref
    val read = (Seq(lr.cond) ++ lr.results ++ lr.step.map(_._2)).flatMap(E.freeVars)
    val temps = lr.step.map(_._1).toSet -- lr.state
    val kept = ids ++ (read.distinct.filterNot(n => temps(n) || lr.state.contains(n) ||
      ids.contains(n)) ++ lr.state)
    val keep = kept.map(q).mkString(", ")
    val nonNull = s" FROM $input WHERE ${free.map(c => s"${q(c)} IS NOT NULL").mkString(" AND ")}"
    val rows = if (l.memo) s"SELECT DISTINCT ${free.map(q).mkString(", ")}, " +
        free.zip(signs).map { case (c, s) => s"signbit(${q(c)}) AS ${q(s)}" }.mkString(", ") + nonNull
      else s"SELECT ${(rid +: free).map(q).mkString(", ")}$nonNull"
    val elements = if (l.width == 0) rows else s"SELECT * FROM ($rows) CROSS JOIN " +
      s"(SELECT CAST(range AS DOUBLE) AS ${q(Loop.index)} FROM range(0, ${l.width}))"
    val joined = l.held.foldLeft(elements) { (from, h) =>
      val r = s"${inner(h)}_r"
      s"SELECT * FROM ($from) AS __f LEFT JOIN $r ${joinOn(h, "__f", r)}"
    }
    val seed = levels(lr.lets ++ lr.init).foldLeft(joined) { (from, level) =>
      s"SELECT *, ${level.map { case (n, e) => s"${sql(e)} AS ${q(n)}" }.mkString(", ")} FROM ($from)"
    }
    val go = s"(${q(round)} < ${l.maxIter} AND ${E.condSql(lr.cond, java = true)})"
    var cols = kept.toSet
    val stepped = levels(lr.step).foldLeft(s"SELECT * FROM $name WHERE $go") {
      (from, level) =>
        val (re, add) = level.partition { case (n, _) => cols(n) }
        cols ++= add.map(_._1)
        val replace = if (re.isEmpty) "" else
          re.map { case (n, e) => s"${sql(e)} AS ${q(n)}" }.mkString(" REPLACE (", ", ", ")")
        val more = add.map { case (n, e) => s", ${sql(e)} AS ${q(n)}" }.mkString
        s"SELECT *$replace$more FROM ($from)"
    }
    val key = if (!l.memo) q(rid) else free.indices.map(k => s"${q(free(k))} AS " +
      s"${q(s"${name}_r_k$k")}, ${q(signs(k))} AS ${q(s"${name}_r_s$k")}").mkString(", ")
    val last = s"FROM $name WHERE NOT coalesce($go, false)"
    val result = if (l.width == 0) s"${sql(lr.result)} AS ${q(name)} $last"
      else lr.results.map(x => s"list(${sql(x)} ORDER BY ${q(Loop.index)})").mkString(" || ") +
        s" AS ${q(name)} $last GROUP BY ${ids.init.map(q).mkString(", ")}"
    l.held.flatMap(h => loopCtes(h, inner(h), input)) ++ Seq(
      s"$name AS (SELECT 0 AS ${q(round)}, $keep FROM ($seed) " +
        s"UNION ALL SELECT ${q(round)} + 1, $keep FROM ($stepped))",
      s"${name}_r AS (SELECT $key, $result)")
  }

  /** Sequential assignments grouped into SELECT levels: an assignment sits
    * one level above the last earlier one that wrote a name it reads or
    * its own name, and no lower than an earlier one that reads its name
    * (a SELECT reads its input's values). */
  private def levels(as: Seq[(String, E)]): Seq[Seq[(String, E)]] = {
    val reads = as.map { case (_, e) => E.freeVars(e).toSet }
    val lv = new Array[Int](as.size)
    as.indices.foreach { k =>
      val n = as(k)._1
      lv(k) = (0 until k).map { j =>
        if (reads(k)(as(j)._1) || as(j)._1 == n) lv(j) + 1
        else if (reads(j)(n)) lv(j)
        else 0
      }.foldLeft(0)(math.max)
    }
    as.indices.groupBy(lv(_)).toSeq.sortBy(_._1).map(_._2.sorted.map(as))
  }
}
