package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot loops of similarity search and
  * MinHash dedup. Higher-order-function formulations re-evaluate their
  * input lambda trees per element (and projection collapse can inline an
  * expensive child into every use site — observed 16x shingle recomputation
  * in the LSH pipeline); a dedicated expression walks the arrays once.
  */

/** Elementwise dot product of two array<double> columns, whole-stage
  * codegen'd: the kernel of brute-force and LSH cosine search. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"DotProduct: vector length mismatch $n vs ${y.numElements()}")
    var sum = 0.0
    var i = 0
    while (i < n) { sum += x.getDouble(i) * y.getDouble(i); i += 1 }
    sum
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "DotProduct: vector length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** The nearest of literal `centroids` to an array<double> vector, as
  * struct<code: int, d2: double>: d2 is the squared L2 by the dot
  * identity, `vv - 2·dot(v, c) + cc` with each dot summed like
  * [[DotProduct]] and cc = Σ c², and ties go to the lowest code. That is
  * the value and code of `least` over the K distance columns and the first
  * `d === least` (NaN above every number, -0.0 equal to 0.0); a null
  * vector gets the last code and a null d2, as that `CASE` chain did.
  * One call per row, so a stage's generated code stays the same size at
  * any centroid count (K inlined distances outgrew janino's 64 KB method
  * limit). */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("code", IntegerType, nullable = false), StructField("d2", DoubleType)))

  @transient private lazy val cents: Array[Array[Double]] = centroids.map(_.toArray).toArray
  @transient private lazy val norms: Array[Double] = cents.map(_.foldLeft(0.0)((cc, x) => cc + x * x))

  /** Code and d2 of the centroid nearest to `v` (null: the last code). */
  def nearest(v: ArrayData): InternalRow = {
    if (v == null) return InternalRow(cents.length - 1, null)
    val n = v.numElements()
    var vv = 0.0
    var i = 0
    while (i < n) { vv += v.getDouble(i) * v.getDouble(i); i += 1 }
    var best = 0
    var bestD = 0.0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      if (n != c.length)
        throw new IllegalArgumentException(
          s"NearestCentroid: vector length mismatch $n vs ${c.length}")
      var dot = 0.0
      i = 0
      while (i < n) { dot += v.getDouble(i) * c(i); i += 1 }
      val d = vv - 2.0 * dot + norms(j)
      if (j == 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) { best = j; bestD = d }
      j += 1
    }
    InternalRow(best, bestD)
  }

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = nearest(child.eval(input).asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid", this)
    val v = child.genCode(ctx)
    ev.copy(code = v.code + code"""
      |InternalRow ${ev.value} = $self.nearest(${v.isNull} ? null : ${v.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** One-pass MinHash signature: word `shingleSize`-shingles of the token
  * array hashed with the `k` affine [[graft.ext.DualHash]] families over a
  * shared md5 base hash, min per family. Single traversal of the shingles
  * regardless of k, one md5 per shingle — and the identical arithmetic is
  * expressible in DuckDB, so the MinHash queries carry full oracles. */
case class MinHashSig(child: Expression, k: Int, shingleSize: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(tokensRaw: Any): Any = {
    val tokens = tokensRaw.asInstanceOf[ArrayData]
    val n = tokens.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    val nShingles = math.max(n - shingleSize + 1, 1)
    val sb = new java.lang.StringBuilder()
    var s = 0
    while (s < nShingles) {
      sb.setLength(0)
      var j = 0
      while (j < shingleSize && s + j < n) {
        if (j > 0) sb.append(' ')
        val t = tokens.getUTF8String(s + j)
        if (t != null) sb.append(t.toString)
        j += 1
      }
      val base = graft.ext.DualHash.base60(sb.toString)
      var seed = 0
      while (seed < k) {
        val h = graft.ext.DualHash.family(seed, base)
        if (h < mins(seed)) mins(seed) = h
        seed += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** One-pass SimHash of a token array: the 60-bit [[graft.ext.DualHash]]
  * md5 base hash per token, per-bit +1/-1 majority vote over bits 0-59
  * (bits 60-63 of the signature are always clear). The column-HOF
  * formulation (`transform` + per-bit `aggregate`s) re-evaluates the hash
  * lambda per BIT after projection collapse — same trap as the MinHash
  * shingles. The identical votes are expressible in DuckDB (unnest +
  * 60 conditional sums), so the SimHash queries carry full oracles. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(tokensRaw: Any): Any = {
    val tokens = tokensRaw.asInstanceOf[ArrayData]
    val n = tokens.numElements()
    val votes = new Array[Int](SimHash64.Bits)
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null) {
        val h = graft.ext.DualHash.base60(t.toString)
        var b = 0
        while (b < SimHash64.Bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < SimHash64.Bits) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Signature width: the dual-compilable base hash carries 60 bits. */
  val Bits = 60
}

/** Distinct word-shingle hash set (sorted array<long>), one pass: the
  * verification payload for n-gram Jaccard — set ops on longs instead of
  * repeated string shingle construction. */
case class ShingleHashes(child: Expression, shingleSize: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(tokensRaw: Any): Any = {
    val tokens = tokensRaw.asInstanceOf[ArrayData]
    val n = tokens.numElements()
    val nShingles = math.max(n - shingleSize + 1, 1)
    val set = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var s = 0
    while (s < nShingles) {
      sb.setLength(0)
      var j = 0
      while (j < shingleSize && s + j < n) {
        if (j > 0) sb.append(' ')
        val t = tokens.getUTF8String(s + j)
        if (t != null) sb.append(t.toString)
        j += 1
      }
      set.add(graft.ext.DualHash.base60(sb.toString))
      s += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object VectorExpressions {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCentroid(expression(v), centroids.map(_.toSeq).toSeq))
  def minhashSig(tokens: Column, k: Int, shingleSize: Int): Column =
    column(MinHashSig(expression(tokens), k, shingleSize))
  def simhash64(tokens: Column): Column =
    column(SimHash64(expression(tokens)))
  def shingleHashes(tokens: Column, shingleSize: Int): Column =
    column(ShingleHashes(expression(tokens), shingleSize))
}
