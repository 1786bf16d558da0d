package graft

import org.apache.spark.sql.functions._
import graft.ext.{AsOfJoin, Bloom, PipelineOps}

/** Laws for the round-7 operators: the single-shuffle as-of join and the
  * Bloom-filter decontamination path. */
class AsOfBloomSpec extends SparkSpec {

  import spark.implicits._

  // ---- as-of join --------------------------------------------------------

  // (key, t, id) probes / (key, t, price) quotes covering: match before,
  // inclusive tie at equal t, no prior row, key isolation
  private lazy val probes = Seq(
    (1L, 10L, 100L), // after quote at 5 -> 5's price
    (1L, 20L, 101L), // equal t as quote at 20 -> inclusive
    (1L, 3L, 102L),  // before any quote -> null
    (2L, 50L, 103L), // key 2's own quote stream, not key 1's
    (3L, 9L, 104L)   // key with no quotes at all -> null
  ).toDF("k", "t", "id")

  private lazy val quotes = Seq(
    (1L, 5L, 1.5), (1L, 20L, 2.5), (1L, 30L, 3.5),
    (2L, 40L, 9.0)
  ).toDF("k", "t", "price")

  test("asof picks the latest right row at or before each left row") {
    val got = AsOfJoin.asof(probes, quotes, Seq("k"), "t", "t", Seq("price"))
      .collect().map(r => r.getLong(2) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got == Map(
      100L -> Some(1.5), 101L -> Some(2.5), 102L -> None,
      103L -> Some(9.0), 104L -> None), got.toString)
  }

  test("asof carries the winning right row ATOMICALLY when a payload " +
      "field is null") {
    // quote at t=20 (the winner for probe t=25) has a null `note`:
    // per-column carries would backfill `note` from the OLDER quote at
    // t=5, mixing two right rows — the struct carry must deliver the
    // winner's (2.5, null) as a unit (and match streamingAsOf's
    // state-row-as-a-unit semantics).
    val q = Seq[(Long, Long, java.lang.Double, String)](
      (1L, 5L, 1.5, "old"), (1L, 20L, 2.5, null))
      .toDF("k", "t", "price", "note")
    val p = Seq((1L, 25L, 100L)).toDF("k", "t", "id")
    val row = AsOfJoin.asof(p, q, Seq("k"), "t", "t", Seq("price", "note"))
      .collect().head
    assert(row.getDouble(3) == 2.5)
    assert(row.isNullAt(4),
      s"note backfilled from an older right row: ${row.get(4)}")
  }

  test("asof is invariant under input repartitioning") {
    def run(np: Int) =
      AsOfJoin.asof(probes.repartition(np), quotes.repartition(np),
        Seq("k"), "t", "t", Seq("price"))
        .orderBy("id").collect().toSeq
    assert(run(1) == run(7))
  }

  test("asof plans one shuffle and no join node") {
    val df = AsOfJoin.asof(probes, quotes, Seq("k"), "t", "t", Seq("price"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    val n = PlanShape.of(df).shuffles
    assert(n == 1, s"expected exactly 1 shuffle, got $n:\n$plan")
  }

  test("latestPerKeyTime collapses key+time ties to the max tie-break row") {
    val dup = Seq((1L, 5L, 10L, 1.0), (1L, 5L, 12L, 2.0), (1L, 6L, 11L, 3.0))
      .toDF("k", "t", "qid", "price")
    val got = AsOfJoin.latestPerKeyTime(dup, Seq("k"), "t", "qid")
      .orderBy("t").collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((12L, 2.0), (11L, 3.0)), got.toString)
  }

  test("asof rejects payload names colliding with left columns") {
    intercept[IllegalArgumentException] {
      AsOfJoin.asof(probes, quotes.withColumnRenamed("price", "t"),
        Seq("k"), "t", "t", Seq("t"))
    }
  }

  // ---- Bloom decontamination ---------------------------------------------

  private lazy val corpus = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma something else entirely here now"),
    (3L, "totally disjoint words with no shared shingles at all"),
    (4L, "spark spark spark spark spark spark spark spark spark one")
  ).toDF("doc_id", "text")

  test("bloom decontaminate never misses a true overlap (no false negatives)") {
    val exact = PipelineOps.decontaminate(corpus, col("doc_id") % 50 === 0)
      .filter(col("contaminated") === 1).select("doc_id").as[Long]
      .collect().toSet
    val bloom = Bloom.decontaminate(corpus, col("doc_id") % 50 === 0)
      .filter(col("contaminated") === 1).select("doc_id").as[Long]
      .collect().toSet
    assert(exact.subsetOf(bloom), s"missed: ${exact -- bloom}")
    // at 2^16 bits / a handful of shingles, false positives are ~0: equal
    assert(bloom == exact, s"unexpected false positives: ${bloom -- exact}")
  }

  test("bloom n_flagged matches exact n_shared when no false positives") {
    val exact = PipelineOps.decontaminate(corpus, col("doc_id") % 50 === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Bloom.decontaminate(corpus, col("doc_id") % 50 === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom == exact, s"bloom=$bloom exact=$exact")
  }

  test("bloom words are invariant under eval-side partitioning (OR merge)") {
    val ev = corpus.filter(col("doc_id") % 50 === 0)
    val a = Bloom.buildWords(ev.repartition(1))
    val b = Bloom.buildWords(ev.repartition(5))
    assert(a.toSeq == b.toSeq)
  }

  test("bloom filters built per partition OR-merge to the exact global " +
      "filter (mergeable artifact; false positives included)") {
    val ev = corpus.filter(col("doc_id") % 50 === 0)
    val whole = Bloom.buildWords(ev)
    val merged = Bloom.mergeWords(
      Bloom.buildWords(ev.filter(col("doc_id") % 100 === 0)),
      Bloom.buildWords(ev.filter(col("doc_id") % 100 =!= 0)))
    assert(merged.toSeq == whole.toSeq)
    assertThrows[IllegalArgumentException](
      Bloom.mergeWords(whole, new Array[Long](1)))
  }

  test("bloom probe is a shuffle-free projection (no join, no exchange)") {
    val words = Bloom.buildWords(corpus.filter(col("doc_id") % 50 === 0))
    val plan = Bloom.probe(corpus, words)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("bloom flags are identical for any mBits (determinism law), and a " +
      "tiny filter saturates to all-contaminated rather than missing docs") {
    // 64-bit filter with 5 docs x 4 hashes: essentially every bit set ->
    // everything flags (false positives), but never a false negative
    val tiny = Bloom.decontaminate(corpus, col("doc_id") % 50 === 0,
        mBits = 64)
      .filter(col("contaminated") === 1).select("doc_id").as[Long]
      .collect().toSet
    val exact = PipelineOps.decontaminate(corpus, col("doc_id") % 50 === 0)
      .filter(col("contaminated") === 1).select("doc_id").as[Long]
      .collect().toSet
    assert(exact.subsetOf(tiny))
  }
}
