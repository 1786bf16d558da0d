package graft

import org.apache.spark.sql.functions._
import graft.ext.{Bm25, SpanDedup}

/** Laws for the retrieval / substring-dedup / entropy operators:
  * hand-checkable fixtures where the expected output is computable by
  * inspection, independent of the DuckDB oracle.
  */
class RetrievalSpanSpec extends SparkSpec {

  import spark.implicits._

  // ---- duplicated-substring span coverage --------------------------------

  test("planted duplicated span is covered exactly; unique docs score zero") {
    // docs 1 and 2 share a verbatim 6-token run (>= k=4, so its three
    // 4-grams all repeat); doc 3 is unique
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"$shared five six seven eight nine"),
      (3L, "ten eleven twelve thirteen fourteen fifteen sixteen")
    ).toDF("doc_id", "text")
    val out = SpanDedup.dupSpanCoverage(docs, k = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    // doc 1: 10 tokens, shared run at positions 2..7 -> one span, 6 covered
    assert(out(1L) == ((10L, 1L, 6L, 0.6)))
    // doc 2: 11 tokens, shared run at positions 0..5
    assert(out(2L) == ((11L, 1L, 6L, math.rint(6.0 / 11.0 * 1e6) / 1e6)))
    // doc 3: nothing repeats
    assert(out(3L) == ((7L, 0L, 0L, 0.0)))
  }

  test("a document with a null id neither gets coverage nor makes another " +
      "document's grams duplicates") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq[(Option[Long], String)](
      (Some(1L), s"one two $shared three four"),
      (Some(2L), s"$shared five six seven eight nine"),
      (Some(3L), "ten eleven twelve thirteen fourteen fifteen sixteen"),
      // repeats doc 3's first 4-gram and doc 1's "three four", and its
      // own first 4-gram twice
      (None, "ten eleven twelve thirteen x three four y ten eleven twelve " +
        "thirteen"),
      (None, "ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val out = SpanDedup.dupSpanCoverage(docs, k = 4).collect()
    val byId = out.filterNot(_.isNullAt(0))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(byId == Map(
      1L -> ((10L, 1L, 6L, 0.6)),
      2L -> ((11L, 1L, 6L, math.rint(6.0 / 11.0 * 1e6) / 1e6)),
      3L -> ((7L, 0L, 0L, 0.0))))
    // null-id documents are reported, uncovered
    assert(out.filter(_.isNullAt(0)).map(r => (r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSet == Set((12L, 0L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("overlapping duplicated grams merge into one maximal span") {
    // "x y z w v" repeated twice inside ONE document: grams at positions
    // 0..1 and 6..7 (within-doc repeats count — corpus-wide multiplicity)
    val docs = Seq(
      (1L, "x y z w v pad x y z w v end")
    ).toDF("doc_id", "text")
    val out = SpanDedup.dupSpanCoverage(docs, k = 4).collect().head
    // both occurrences of the 5-token run are covered: spans [0,4], [6,10]
    assert(out.getLong(1) == 12L) // n_tokens
    assert(out.getLong(2) == 2L) // two maximal spans
    assert(out.getLong(3) == 10L) // 2 x 5 covered tokens
  }

  test("documents shorter than k produce zero grams, not an error") {
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = SpanDedup.dupSpanCoverage(docs, k = 4).collect()
    assert(out.forall(r => r.getLong(3) == 0L && r.getDouble(4) == 0.0))
  }

  test("coverage is antitone in k: every token covered at k+1 is covered " +
      "at k (property over a pseudo-random corpus)") {
    // a duplicated (k+1)-gram's k-sub-grams are all duplicated too, so
    // covered(k+1) ⊆ covered(k) per doc — the law that makes k a recall
    // dial, not a semantics change. Deterministic pseudo-random corpus
    // from a 6-word vocab (dense repeats at every k).
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val docs = (1L to 40L).map { id =>
      val n = 5 + (graft.ext.DualHash.base60(s"len:$id") % 20L).toInt
      val words = (0 until n).map(j =>
        vocab((graft.ext.DualHash.base60(s"w:$id:$j") % 6L).toInt))
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
    val byK = Seq(2, 3, 4, 5).map { k =>
      k -> SpanDedup.dupSpanCoverage(docs, k)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    }.toMap
    for (k <- Seq(2, 3, 4); (doc, cov) <- byK(k + 1)) {
      assert(cov <= byK(k)(doc),
        s"doc $doc: covered $cov at k=${k + 1} > ${byK(k)(doc)} at k=$k")
    }
    // the corpus is dense enough that the law is non-vacuous
    assert(byK(5).values.sum > 0, "fixture must produce k=5 duplicates")
  }

  // ---- BM25 --------------------------------------------------------------

  test("bm25: single-term query ranks the higher-tf shorter doc first") {
    val docs = Seq(
      (1L, "cat cat cat dog"), // tf=3, len 4
      (2L, "cat dog bird fish lion tiger bear wolf"), // tf=1, len 8
      (3L, "dog bird fish lion") // no match
    ).toDF("doc_id", "text")
    val out = Bm25.topK(docs, Seq(1L -> Seq("cat")), k = 5).collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 2L)) // doc 3 absent
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L)) // ranks 1, 2
    assert(out(0).getDouble(3) > out(1).getDouble(3))
  }

  test("bm25: multi-term query sums term scores; k truncates") {
    val docs = Seq(
      (1L, "cat dog mouse"), // matches both terms
      (2L, "cat fish fish"), // matches cat only
      (3L, "dog fish fish"), // matches dog only
      (4L, "fish fish fish")
    ).toDF("doc_id", "text")
    val both = Bm25.topK(docs, Seq(1L -> Seq("cat", "dog")), k = 2).collect()
    assert(both.length == 2)
    assert(both.head.getLong(2) == 1L, "two-term match must outrank one-term")
    // hand-check the top score: idf = ln(1 + (4 - 2 + 0.5)/(2 + 0.5)) = ln(2),
    // tf = 1, dl = 3 = avgdl -> per-term = ln(2) * 2.2 / (1 + 1.2) = ln(2)
    val expected = math.rint(2.0 * math.log(2.0) * 1e6) / 1e6
    assert(math.abs(both.head.getDouble(3) - expected) < 1e-9)
  }

  test("bm25: matches per query never exceed k and ranks are 1..n") {
    val docs = (1L to 30L).map(i => (i, s"term$i common word")).toDF("doc_id", "text")
    val out = Bm25.topK(docs, Seq(1L -> Seq("common"), 2L -> Seq("word")), k = 5)
      .collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(1L, 2L))
    for ((_, rows) <- byQ) {
      assert(rows.length == 5)
      assert(rows.map(_.getLong(1)).toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  // ---- character entropy -------------------------------------------------

  private def entropyOf(text: String): (Double, Double) = {
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val row = graft.expr.Pipeline.applySpark(docs, ExtQueries.charEntropyStages)
      .collect().head
    (row.getDouble(2), row.getDouble(3))
  }

  test("constant string has zero entropy; uniform pair has exactly 1 bit") {
    assert(entropyOf("aaaa") == ((0.0, 1.0)))
    val (h, eff) = entropyOf("abab")
    assert(h == 1.0)
    assert(eff == 2.0)
  }

  test("four uniform letters score 2 bits, effective alphabet 4") {
    val (h, eff) = entropyOf("abcd abcd")
    assert(h == 2.0)
    assert(eff == 4.0)
  }

  test("non-alphabet characters are excluded from the distribution") {
    // digits and punctuation don't shift the letter distribution
    val (h1, _) = entropyOf("abab")
    val (h2, _) = entropyOf("a1b2a?b! 77")
    assert(h1 == h2)
  }
}
