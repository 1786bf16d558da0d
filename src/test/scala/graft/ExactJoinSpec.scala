package graft

import org.apache.spark.sql.functions._
import graft.ext.{CountMin, Dedup, DualHash, RangeJoin, SetSimJoin}

/** Laws for the round-7 exact-join operators: the bucketed range join,
  * the prefix-filtered set-similarity join, and the count-min sketch.
  * Each is checked against a brute-force reference on a pseudo-random
  * fixture — the guarantee the oracle hash match then re-certifies on
  * the driver tables.
  */
class ExactJoinSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic pseudo-random doubles in [-100, 100). */
  private def prand(i: Int, salt: Int): Double =
    ((DualHash.base60(s"$salt:$i") % 200000L) / 1000.0) - 100.0

  // ---- range join --------------------------------------------------------

  private lazy val vals = (0 until 300).map(i => (i.toLong, prand(i, 1)))
    .toDF("id", "v")
  // overlapping, empty, negative, and sub-bucket-width intervals
  private lazy val ivs = (0 until 40).map { i =>
    val lo = prand(i, 2)
    (i.toLong, lo, lo + math.abs(prand(i, 3)) % 60.0)
  }.toDF("iid", "lo", "hi")

  test("rangeJoin equals the naive theta join, boundaries included") {
    val got = RangeJoin.rangeJoin(vals, "v", ivs, "lo", "hi", 7.0)
      .select("id", "iid").as[(Long, Long)].collect().toSet
    val want = vals.crossJoin(ivs)
      .where(col("v") >= col("lo") && col("v") < col("hi"))
      .select("id", "iid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture produced no matches — not a real test")
  }

  test("rangeJoin lo is inclusive and hi is exclusive") {
    val v = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val iv = Seq((7L, 10.0, 20.0)).toDF("iid", "lo", "hi")
    val got = RangeJoin.rangeJoin(v, "v", iv, "lo", "hi", 3.0)
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("rangeJoin fails fast when an interval exceeds the bucket cap") {
    val v = Seq((1L, 5.0)).toDF("id", "v")
    val iv = Seq((1L, 0.0, 1e9)).toDF("iid", "lo", "hi")
    spark.conf.set(RangeJoin.MaxBucketsKey, "100")
    try {
      val e = intercept[Exception] {
        RangeJoin.rangeJoin(v, "v", iv, "lo", "hi", 1.0).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("rangeJoin")), e.toString)
    } finally spark.conf.unset(RangeJoin.MaxBucketsKey)
  }

  test("rangeJoinAuto matches brute force on skewed interval lengths") {
    // many unit-length intervals plus one huge span: the median-picked
    // width (~1) would explode the big interval past a small cap, so the
    // auto-width must clamp to maxLen/cap and still match the theta join
    val v = (0 until 400).map(i =>
      (i.toLong, (DualHash.base60(s"av:$i") % 2000L).toDouble)).toDF("id", "v")
    val iv = ((0 until 60).map { i =>
      val lo = (DualHash.base60(s"ai:$i") % 1900L).toDouble
      (i.toLong, lo, lo + 1.0)
    } :+ (99L, 0.0, 1900.0)).toDF("iid", "lo", "hi")
    spark.conf.set(RangeJoin.MaxBucketsKey, "50")
    try {
      val got = RangeJoin.rangeJoinAuto(v, "v", iv, "lo", "hi")
        .select("id", "iid").as[(Long, Long)].collect().toSet
      val want = v.crossJoin(iv)
        .where(col("v") >= col("lo") && col("v") < col("hi"))
        .select("id", "iid").as[(Long, Long)].collect().toSet
      assert(got == want)
      assert(want.size > 300, s"fixture too sparse: ${want.size} matches")
    } finally spark.conf.unset(RangeJoin.MaxBucketsKey)
  }

  // ---- interval-overlap join --------------------------------------------

  private lazy val ivA = (0 until 60).map { i =>
    val lo = prand(i, 11)
    (i.toLong, lo, lo + math.abs(prand(i, 12)) % 40.0)
  }.toDF("aid", "a_lo", "a_hi")
  private lazy val ivB = (0 until 60).map { i =>
    val lo = prand(i, 13)
    (i.toLong, lo, lo + math.abs(prand(i, 14)) % 40.0)
  }.toDF("bid", "b_lo", "b_hi")

  test("intervalOverlapJoin equals the naive theta join, each pair once") {
    val got = RangeJoin.intervalOverlapJoin(ivA, "a_lo", "a_hi",
        ivB, "b_lo", "b_hi", bucketWidth = 5.0)
      .select("aid", "bid").as[(Long, Long)].collect()
    // no duplicates even though wide pairs share many buckets
    assert(got.length == got.toSet.size, "canonical-bucket dedup failed")
    val want = ivA.crossJoin(ivB)
      .where(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(got.toSet == want)
    assert(want.size > 100, s"fixture too sparse: ${want.size}")
  }

  test("intervalOverlapJoin with keys restricts pairs to equal keys") {
    val a = ivA.withColumn("k", (col("aid") % 4).cast("int"))
    val b = ivB.withColumn("k", (col("bid") % 4).cast("int"))
    val got = RangeJoin.intervalOverlapJoin(a, "a_lo", "a_hi",
        b, "b_lo", "b_hi", bucketWidth = 5.0, keys = Seq("k"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    val want = a.as("l").join(b.as("r"), col("l.k") === col("r.k") &&
        col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("intervalOverlapJoin rejects colliding non-key columns") {
    intercept[IllegalArgumentException] {
      RangeJoin.intervalOverlapJoin(ivA, "a_lo", "a_hi",
        ivB.withColumnRenamed("b_lo", "a_lo"), "a_lo", "b_hi", 5.0)
    }
  }

  test("rangeJoin plans a hash equi-join, not a nested loop") {
    val plan = RangeJoin.rangeJoin(vals, "v", ivs, "lo", "hi", 7.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  // ---- set-similarity join ----------------------------------------------

  /** 80 docs over a 30-token vocabulary, sizes 3-12 — dense enough that
    * many pairs clear the threshold and many near-misses don't. */
  private lazy val simDocs = ((0 until 80).map { i =>
    val n = 3 + (DualHash.base60(s"n:$i") % 10L).toInt
    val toks = (0 until n).map(j => s"t${DualHash.base60(s"d:$i:$j") % 30L}")
    (i.toLong, toks.distinct)
  } ++ Seq(
    // planted near-duplicates so the high-threshold legs have positives
    (100L, Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8", "t9")),
    (101L, Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8")),
    (102L, Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8", "t9"))
  )).toDF("doc_id", "toks")

  private def bruteForcePairs(threshold: Double): Set[(Long, Long, Long, Long)] = {
    val docs = simDocs.as[(Long, Seq[String])].collect()
    (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = sa.toSet.intersect(sb.toSet).size.toLong
      usz = sa.toSet.union(sb.toSet).size.toLong
      if inter.toDouble / usz >= threshold
    } yield (a, b, inter, usz)).toSet
  }

  test("jaccardJoin matches brute force exactly (recall 1, precision 1)") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = SetSimJoin.jaccardJoin(simDocs, "doc_id", col("toks"), t)
        .select("a_id", "b_id", "inter", "usz")
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = bruteForcePairs(t)
      assert(got == want, s"threshold $t: got ${got.size}, want ${want.size}")
      assert(want.nonEmpty, s"threshold $t matched nothing — weak fixture")
    }
  }

  test("containmentJoin matches directed brute force (recall 1, " +
      "precision 1) and is properly asymmetric") {
    val docs = simDocs.as[(Long, Seq[String])].collect()
    for (t <- Seq(0.6, 0.8, 1.0)) {
      val got = SetSimJoin.containmentJoin(simDocs, "doc_id", col("toks"), t)
        .select("a_id", "b_id", "inter", "a_size")
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = (for {
        (a, sa) <- docs; (b, sb) <- docs if a != b
        inter = sa.toSet.intersect(sb.toSet).size.toLong
        if inter.toDouble / sa.toSet.size >= t
      } yield (a, b, inter, sa.toSet.size.toLong)).toSet
      assert(got == want, s"threshold $t: got ${got.size}, want ${want.size}")
      assert(want.nonEmpty, s"threshold $t matched nothing — weak fixture")
    }
    // 101 ⊂ 100 (8 of 8 tokens) but NOT 100 ⊆ 101 (8 of 9): the directed
    // relation must see exactly one direction at t=1.0
    val strict = SetSimJoin.containmentJoin(simDocs, "doc_id", col("toks"), 1.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(strict.contains((101L, 100L)) && !strict.contains((100L, 101L)))
  }

  test("jaccardJoin at threshold 1.0 finds exactly the identical sets") {
    val docs = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "b", "a")), // same set, different order
      (3L, Seq("a", "b")),
      (4L, Seq("x", "y"))
    ).toDF("doc_id", "toks")
    val got = SetSimJoin.jaccardJoin(docs, "doc_id", col("toks"), 1.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  /** simDocs plus two docs without an id: one a copy of planted doc 100,
    * one that shares the commonest fixture tokens (it shifts the token
    * document frequencies, so the global prefix order changes). */
  private def withNullIds = simDocs.select(col("doc_id").cast("long"), col("toks"))
    .union(Seq[(Option[Long], Seq[String])](
      (None, Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8", "t9")),
      (None, (0 until 30).map(j => s"t$j"))).toDF("doc_id", "toks"))

  test("jaccardJoin and containmentJoin ignore docs with a null id") {
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.toSeq).toSet
    for (t <- Seq(0.3, 0.8)) {
      val want = rows(SetSimJoin.jaccardJoin(simDocs, "doc_id", col("toks"), t))
      assert(rows(SetSimJoin.jaccardJoin(withNullIds, "doc_id", col("toks"), t)) ==
        want, s"jaccard threshold $t")
      assert(want.map(r => (r(0), r(1), r(2), r(3))) == bruteForcePairs(t))
    }
    for (t <- Seq(0.6, 1.0)) {
      val want = rows(SetSimJoin.containmentJoin(simDocs, "doc_id", col("toks"), t))
      assert(rows(SetSimJoin.containmentJoin(withNullIds, "doc_id", col("toks"),
        t)) == want, s"containment threshold $t")
      assert(want.nonEmpty)
    }
  }

  // ---- count-min sketch --------------------------------------------------

  private lazy val cmsToks = (0 until 2000).map { i =>
    // Zipf-ish: token z<j> appears ~2000/(j+1) times
    val j = (0 to 40).find(j => DualHash.base60(s"z:$i") % (j + 1L) != 0)
      .getOrElse(41) - 1
    s"z$j"
  }.toDF("tok").select(col("tok"), Dedup.base60Col(col("tok")).as("h"))

  private def exactCounts: Map[String, Long] =
    cmsToks.groupBy("tok").count().as[(String, Long)].collect().toMap

  test("CMS estimates dominate exact counts and hit them when w is large") {
    val (d, w) = (4, 64) // small w: collisions guaranteed
    val sk = cmsToks.agg(CountMin.sketch(col("h"), d, w).as("sk"))
    val est = cmsToks.select("tok", "h").distinct()
      .crossJoin(broadcast(sk))
      .select(col("tok"), CountMin.estimate(col("sk"), col("h"), d, w).as("e"))
      .as[(String, Long)].collect().toMap
    val exact = exactCounts
    for ((t, c) <- exact) assert(est(t) >= c, s"$t: est ${est(t)} < exact $c")

    val wide = cmsToks.agg(CountMin.sketch(col("h"), 4, 1 << 16).as("sk"))
    val estW = cmsToks.select("tok", "h").distinct()
      .crossJoin(broadcast(wide))
      .select(col("tok"), CountMin.estimate(col("sk"), col("h"), 4, 1 << 16).as("e"))
      .as[(String, Long)].collect().toMap
    assert(estW == exact, "with 2^16 buckets the fixture should be collision-free")
  }

  test("CMS sketch is merge-order independent") {
    val (d, w) = (4, 64)
    val a = cmsToks.repartition(1).agg(CountMin.sketch(col("h"), d, w))
      .as[Seq[Long]].head()
    val b = cmsToks.repartition(7).agg(CountMin.sketch(col("h"), d, w))
      .as[Seq[Long]].head()
    assert(a == b)
  }
}
