package graft

import org.apache.spark.sql.functions._
import graft.ext.{PipelineOps, SemDedup, Similarity}

/** Behavioural laws for SemDeDup and concat-and-chunk sequence packing;
  * no stage falls back from generated code ([[NoCodegenFallback]]). */
class SemDedupPackSpec extends SparkSpec with NoCodegenFallback {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.read(spark, sf, "documents")
  private lazy val emb = Tables.read(spark, sf, "embeddings")

  // ---- SemDedup ----------------------------------------------------------

  test("semdedup pairs are a subset of the exact all-pairs cosine set") {
    val sem = SemDedup.pairs(emb, k = 4, iters = 2, threshold = 0.35)
      .select(col("keep_id").as("id_a"), col("drop_id").as("id_b"))
    val exact = Similarity.cosineNearDupPairs(emb, threshold = 0.35)
      .select("id_a", "id_b")
    assert(sem.exceptAll(exact).isEmpty,
      "a within-cluster pair must also clear the exact global threshold")
    assert(sem.count() > 0, "corpus should contain semantic near-dups")
  }

  test("semdedup survivors = all ids minus ids with a lower-id near-dup") {
    val pairs = SemDedup.pairs(emb, k = 4, iters = 2, threshold = 0.35)
    val dropped = pairs.select(col("drop_id")).distinct().count()
    val surv = SemDedup.survivors(emb, k = 4, iters = 2, threshold = 0.35)
    assert(surv.count() + dropped == emb.count())
    // no survivor appears as a drop_id
    assert(surv.join(pairs, surv("vec_id") === pairs("drop_id")).isEmpty)
  }

  test("semdedup cap bounds the candidate block") {
    val capped = SemDedup.pairs(emb, k = 4, iters = 2, threshold = -1.0,
      cap = 10)
    // with threshold -1 every in-cluster pair survives; cap=10 means each
    // cluster contributes at most C(10,2)=45 pairs, 4 clusters <= 180
    assert(capped.count() <= 180)
  }

  test("semdedup cluster cap resolves from spark.graft.semdedup.clusterCap") {
    spark.conf.set(SemDedup.ClusterCapConfKey, "10")
    try {
      // same bound as the explicit cap=10 case: conf value must be live
      val capped = SemDedup.pairs(emb, k = 4, iters = 2, threshold = -1.0)
      assert(capped.count() <= 180)
      spark.conf.set(SemDedup.ClusterCapConfKey, "0")
      intercept[IllegalArgumentException] {
        SemDedup.pairs(emb, k = 4, iters = 2, threshold = -1.0)
      }
    } finally spark.conf.unset(SemDedup.ClusterCapConfKey)
  }

  // ---- ANN recall gate ----------------------------------------------------

  /** recall@5 of an approximate (qid, nid) set against the brute-force
    * truth: averaged per-query overlap fraction. */
  private def recallAt5(approx: Array[(Long, Long)],
                        truth: Map[Long, Set[Long]]): Double = {
    val byQ = approx.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = truth.iterator.map { case (q, t) =>
      (byQ.getOrElse(q, Set.empty) & t).size
    }.sum
    hits.toDouble / truth.iterator.map(_._2.size).sum
  }

  test("ANN recall gate: lshTopK and ivfTopK hold their recall@5 floors " +
      "against brute force on the embeddings fixture") {
    // The fixture's 64-dim embeddings are near-random (no cluster
    // structure), the hardest case for partition-based ANN: recall tracks
    // the probed fraction of the corpus. Measured curve (n=500):
    //   IVF cells=4 probes=3 -> 0.865   cells=16 probes=2 -> 0.332
    //   LSH planes=2 -> 0.380           planes=8 -> 0.022
    // Floors sit under those with headroom; they are quality budgets —
    // a change that breaks the bucket key or centroid assignment drops
    // recall to the random-candidates baseline (~probed fraction) and
    // fails here, not in production.
    val truth = Similarity.bruteForceTopK(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rIvfQuality = recallAt5(Similarity.ivfTopK(emb, 5, cells = 4,
      probes = 3).collect().map(r => (r.getLong(0), r.getLong(1))), truth)
    val rIvfDefault = recallAt5(Similarity.ivfTopK(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))), truth)
    val rLsh = recallAt5(Similarity.lshTopK(emb, 5, planes = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))), truth)
    info(f"ivf(4,3)=$rIvfQuality%.3f ivf(16,2)=$rIvfDefault%.3f " +
      f"lsh(planes=2)=$rLsh%.3f")
    assert(rIvfQuality >= 0.75, f"ivfTopK(cells=4,probes=3) $rIvfQuality%.3f < 0.75")
    // default (16,2) probes 1/8 of the corpus; random candidates would
    // score ~0.125 — 0.25 separates working from broken
    assert(rIvfDefault >= 0.25, f"ivfTopK defaults $rIvfDefault%.3f < 0.25")
    assert(rLsh >= 0.3, f"lshTopK(planes=2) $rLsh%.3f < 0.3")
  }

  test("int8-dequantized search recall: IVF over recon vectors tracks " +
      "the f32 index against the f32 brute-force truth — the 1-byte " +
      "tier is usable for search, not just storage") {
    import graft.ext.Quantize
    val truth = Similarity.bruteForceTopK(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recon = Quantize.reconEmbeddings(emb)
    // ~0.4% max per-element error (1/254 of max-abs) barely perturbs the
    // cosine ranking: dequantized IVF must hold the same floors as the
    // f32 IVF gate above (cells=4/probes=3 floor 0.75), and brute-force
    // over recon vectors must nearly reproduce the exact truth
    val rIvf = recallAt5(Similarity.ivfTopK(recon, 5, cells = 4,
      probes = 3).collect().map(r => (r.getLong(0), r.getLong(1))), truth)
    val rBrute = recallAt5(Similarity.bruteForceTopK(recon, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))), truth)
    info(f"int8 ivf(4,3)=$rIvf%.3f int8 brute=$rBrute%.3f")
    assert(rBrute >= 0.9, f"int8 brute recall $rBrute%.3f < 0.9: " +
      "quantization error is corrupting the ranking itself")
    assert(rIvf >= 0.75, f"int8 ivfTopK(4,3) recall $rIvf%.3f < 0.75")
  }

  test("residual-refined search recall: the f32 re-rank over the tiered " +
      "vectors is at least as good as the plain int8 IVF it refines") {
    import graft.ext.Quantize
    val truth = Similarity.bruteForceTopK(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rPlain = recallAt5(Similarity.ivfTopK(
        Quantize.reconEmbeddings(emb), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))), truth)
    val rRef = recallAt5(Quantize.residualRefinedTopK(emb, k = 5,
        shortlist = 10, qerrBudget = 4.0e-5).collect()
      .map(r => (r.getLong(0), r.getLong(1))), truth)
    info(f"int8 ivf=$rPlain%.3f residual-refined=$rRef%.3f")
    assert(rRef >= rPlain,
      f"residual re-rank LOWERED recall: $rRef%.3f < $rPlain%.3f")
    // a zero budget flags every vector -> the re-rank runs on exact f32
    // everywhere; recall must also hold the plain floor
    val rAll = recallAt5(Quantize.residualRefinedTopK(emb, k = 5,
        shortlist = 10, qerrBudget = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1))), truth)
    assert(rAll >= rPlain, f"all-residual re-rank $rAll%.3f < $rPlain%.3f")
  }

  // ---- product quantization laws ----------------------------------------

  test("PQ codes are valid, deterministic, and qerr shrinks with K") {
    import graft.ext.Pq
    val cb4 = Pq.train(emb, m = 2, k = 4, iters = 2, dim = 64)
    val enc = Pq.encode(emb, cb4)
    val stats = enc.agg(min("code_0"), max("code_0"), min("code_1"),
      max("code_1"), min("qerr"), sum("qerr")).head()
    assert(stats.getInt(0) >= 0 && stats.getInt(1) < 4)
    assert(stats.getInt(2) >= 0 && stats.getInt(3) < 4)
    assert(stats.getDouble(4) >= 0.0, "squared error cannot be negative")
    // determinism under partitioning: the dyadic-exact fit + argmin must
    // not care how the data is split
    val cbRep = Pq.train(emb.repartition(7), m = 2, k = 4, iters = 2, dim = 64)
    assert(cb4.flatten.flatten.toSeq == cbRep.flatten.flatten.toSeq,
      "codebooks changed under repartitioning")
    // more centroids -> total reconstruction error cannot grow (each
    // subspace's K=8 fit starts from the same 8-vector init superset and
    // every vector picks its argmin centroid)
    val cb8 = Pq.train(emb, m = 2, k = 8, iters = 2, dim = 64)
    val err8 = Pq.encode(emb, cb8).agg(sum("qerr")).head().getDouble(0)
    val err4 = stats.getDouble(5)
    info(f"total qerr: K=4 -> $err4%.1f, K=8 -> $err8%.1f")
    assert(err8 <= err4,
      f"K=8 reconstruction error $err8%.1f exceeds K=4's $err4%.1f")
  }

  test("ADC distance obeys the PQ triangle bound: |sqrt(adc) - " +
      "sqrt(true_d2)| <= sqrt(qerr of the neighbor), every pair") {
    import graft.ext.Pq
    // The PQ correctness THEOREM (L2 triangle inequality with the
    // reconstructed neighbor): adc(q,n) = d2(q, recon(n)), so its root
    // deviates from the true distance's root by at most the neighbor's
    // reconstruction distance sqrt(qerr_n). Data-independent — unlike a
    // top-k overlap gate, which the near-random fixture makes
    // uninformative (K^M = 16 distinct ADC values per query collapse
    // ranking to the tie-break; on clusterable data, where qerr -> 0,
    // this same bound forces ADC -> exact and overlap -> 1).
    val cb = Pq.train(emb, m = 2, k = 4, iters = 2, dim = 64)
    val adc = Pq.adcTopK(emb, cb, k = 5, planes = 2)
    val qerrs = Pq.encode(emb, cb).select(col("vec_id").as("nid"),
      col("qerr"))
    val b = emb.select(col("vec_id"),
      graft.ext.KMeansDet.quantize(col("embedding").cast("array<double>"))
        .as("v"))
    val joined = adc
      .join(b.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
      .join(b.select(col("vec_id").as("nid"), col("v").as("nv")), "nid")
      .join(qerrs, "nid")
      .withColumn("true_d2", Similarity.dot(col("qv"), col("qv")) -
        lit(2.0) * Similarity.dot(col("qv"), col("nv")) +
        Similarity.dot(col("nv"), col("nv")))
    val viol = joined.where(
      abs(sqrt(col("adist")) - sqrt(col("true_d2"))) >
        sqrt(col("qerr")) + lit(1e-3)).count()
    val n = joined.count()
    info(s"triangle bound checked on $n ADC pairs, $viol violations")
    assert(n > 0, "no ADC pairs produced — fixture degenerate")
    assert(viol == 0, s"$viol of $n pairs violate the PQ triangle bound")
  }

  /** Exact L2 top-5 truth on the quantized vectors `df` carries. */
  private def l2Truth(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
    import graft.ext.KMeansDet
    val e = df.select(col("vec_id"),
      KMeansDet.quantize(col("embedding").cast("array<double>")).as("v"))
    val a = e.select(col("vec_id").as("qid"), col("v").as("va"))
    val b = e.select(col("vec_id").as("nid"), col("v").as("vb"))
    val d2 = Similarity.dot(col("va"), col("va")) -
      lit(2.0) * Similarity.dot(col("va"), col("vb")) +
      Similarity.dot(col("vb"), col("vb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("d2"), col("nid"))
    a.crossJoin(b).filter(col("qid") =!= col("nid"))
      .withColumn("d2", d2)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  test("ivfPqTopK recall-vs-brute: high on clusterable data, monotone " +
      "in nprobe with floors on the near-random fixture") {
    import graft.ext.Pq
    import spark.implicits._
    // PQ's operating regime — clusterable data: 8 well-separated planted
    // centers + dyadic jitter. The coarse quantizer finds the centers,
    // residual energy is just the jitter, and nprobe=1 (the query's OWN
    // cell) already holds every true neighbor. Measured recall@5 0.941;
    // a routing or residual-encoding bug drops this to the tie-break
    // baseline (~0.06).
    val planted = (0 until 256).map { i =>
      val c = i % 8
      val v = Array.tabulate(64) { d =>
        ((c * 7 + d) % 5).toDouble + (((i * 13 + d * 5) % 9) - 4) / 32.0
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val rPlanted = recallAt5(
      Pq.ivfPqTopK(planted, coarseK = 8, coarseIters = 2, m = 8, pqK = 16,
        pqIters = 2, dim = 64, nprobe = 1, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))), l2Truth(planted))
    info(f"planted-cluster recall@5 (nprobe=1): $rPlanted%.3f")
    assert(rPlanted >= 0.9, f"clusterable-data recall $rPlanted%.3f < 0.9")
    // near-random embeddings are PQ's worst case (residual energy ~ full
    // energy, so quantization noise swamps the tiny neighbor gaps) —
    // recall is LOW by nature; the law here is monotonicity in nprobe
    // (routing correctness) plus floors above the broken-bucket baseline.
    // Measured (m=8, pqK=16): nprobe=1 -> 0.170, 2 -> 0.201, 4 -> 0.222.
    val truth = l2Truth(emb)
    val rs = Seq(1, 2, 4).map(p => p -> recallAt5(
      Pq.ivfPqTopK(emb, coarseK = 4, coarseIters = 2, m = 8, pqK = 16,
        pqIters = 2, dim = 64, nprobe = p, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))), truth))
    info(rs.map { case (p, r) => f"nprobe=$p -> $r%.3f" }.mkString(", "))
    rs.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra, f"recall fell from $ra%.3f (nprobe=$pa) to $rb%.3f (nprobe=$pb)")
    }
    assert(rs.toMap.apply(2) >= 0.15, f"nprobe=2 recall ${rs.toMap.apply(2)}%.3f < 0.15")
    assert(rs.toMap.apply(4) >= 0.17, f"nprobe=4 recall ${rs.toMap.apply(4)}%.3f < 0.17")
  }

  test("ivfPqTopK nprobe=coarseK equals a driver-side exhaustive ADC " +
      "ranking (candidate routing prunes nothing when every cell probes)") {
    import graft.ext.{KMeansDet, Pq}
    val e = emb.select(col("vec_id"),
      KMeansDet.quantize(col("embedding").cast("array<double>")).as("v"))
    def run(nprobe: Int) = Pq.ivfPqTopK(emb, coarseK = 4, coarseIters = 2,
      m = 2, pqK = 4, pqIters = 2, dim = 64, nprobe = nprobe, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // probing EVERY cell must equal the exhaustive ADC ranking over the
    // whole corpus with the same coarse cells + residual codebooks: at
    // nprobe=coarseK the inverted file prunes nothing, so any deviation
    // is a candidate-routing bug, not quantization error. The baseline
    // here is computed DRIVER-SIDE with plain Scala loops (independent
    // of the Catalyst expressions), bit-exact thanks to the dyadic grid.
    val allProbe = run(4).toSet
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val cells = KMeansDet.fitCentroids(emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding")), 4, 2)
    def dot(x: Array[Double], y: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }; s
    }
    def dd(x: Array[Double], c: Array[Double]): Double =
      dot(x, x) - 2.0 * dot(x, c) + dot(c, c)
    def amin(ds: Array[Double]): Int =
      ds.indices.minBy(j => (ds(j), j))
    val cid = vecs.map { case (_, v) => amin(cells.map(c => dd(v, c))) }
    val res = vecs.zip(cid).map { case ((_, v), ci) =>
      v.zip(cells(ci)).map { case (a, b) => a - b } }
    import spark.implicits._
    val cb = Pq.train(vecs.map(_._1).zip(res.map(_.toSeq))
      .toSeq.toDF("vec_id", "embedding"), m = 2, k = 4, iters = 2, dim = 64)
    val codes = res.map(r => Array.tabulate(2)(s =>
      amin(cb(s).map(c => dd(r.slice(s * 32, s * 32 + 32), c)))))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exhaustive = vecs.indices.flatMap { qi =>
      val (qid, qv) = vecs(qi)
      val ranked = vecs.indices.filter(_ != qi).map { ni =>
        val qr = qv.zip(cells(cid(ni))).map { case (x, c) => x - c }
        val d = round6((0 until 2).map(s =>
          dd(qr.slice(s * 32, s * 32 + 32), cb(s)(codes(ni)(s)))).sum)
        (d, vecs(ni)._1)
      }.sorted.take(5)
      ranked.map { case (_, nid) => (qid, nid) }
    }.toSet
    assert(allProbe == exhaustive,
      s"nprobe=coarseK diverged from driver-side exhaustive ADC: " +
        s"${(allProbe -- exhaustive).take(5)} vs ${(exhaustive -- allProbe).take(5)}")
  }

  test("ivfTopK recall@5 is monotone in the probe count") {
    val truth = Similarity.bruteForceTopK(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rs = Seq(2, 4, 8).map { p =>
      p -> recallAt5(Similarity.ivfTopK(emb, 5, cells = 8, probes = p)
        .collect().map(r => (r.getLong(0), r.getLong(1))), truth)
    }
    info(rs.map { case (p, r) => f"probes=$p -> $r%.3f" }.mkString(", "))
    rs.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra, f"recall fell from $ra%.3f (probes=$pa) to $rb%.3f (probes=$pb)")
    }
  }

  test("ivfTopK probe count resolves from spark.graft.ann.ivfProbes and " +
      "more probes never lose recall") {
    val truth = Similarity.bruteForceTopK(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rDefault = recallAt5(Similarity.ivfTopK(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))), truth)
    spark.conf.set(Similarity.IvfProbesConfKey, "16")
    try {
      // probing every cell makes the search exhaustive: recall must not drop
      val rAll = recallAt5(Similarity.ivfTopK(emb, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))), truth)
      info(f"probes=2 recall $rDefault%.3f -> probes=16 recall $rAll%.3f")
      assert(rAll >= rDefault)
      assert(rAll >= 0.999, f"16-of-16 probes must be exhaustive, got $rAll%.3f")
      spark.conf.set(Similarity.IvfProbesConfKey, "zero")
      intercept[IllegalArgumentException] { Similarity.ivfTopK(emb, 5) }
    } finally spark.conf.unset(Similarity.IvfProbesConfKey)
  }

  // ---- seqPack -----------------------------------------------------------

  private lazy val packed = PipelineOps.seqPack(docs, 512L)

  test("seqPack conserves every document's tokens") {
    val perDoc = packed.groupBy("doc_id")
      .agg(sum("n_in_seq").as("packed_tokens"))
    val truth = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val bad = perDoc.join(truth, "doc_id")
      .filter(col("packed_tokens") =!= col("n_tokens"))
    assert(bad.isEmpty, "token counts must survive packing exactly")
  }

  test("every sequence except the last is exactly full") {
    val perSeq = packed.groupBy("seq_id").agg(sum("n_in_seq").as("filled"))
    val lastSeq = perSeq.agg(max("seq_id")).head.getLong(0)
    val notFull = perSeq.filter(col("seq_id") < lastSeq &&
      col("filled") =!= 512L)
    assert(notFull.isEmpty, "interior sequences must be packed to seqLen")
  }

  test("offsets tile each sequence without gaps or overlaps") {
    // within a sequence, sorting chunks by offset must give contiguous
    // [off, off+n) intervals starting at 0
    val rows = packed.select("seq_id", "off_in_seq", "n_in_seq")
      .collect().groupBy(_.getLong(0))
    rows.foreach { case (_, rs) =>
      val sorted = rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      sorted.foldLeft(0L) { case (cursor, (off, n)) =>
        assert(off == cursor, s"gap/overlap at offset $off (expected $cursor)")
        off + n
      }
    }
  }

  test("seqPack output carries no text column") {
    assert(!packed.columns.contains("text"))
  }
}
