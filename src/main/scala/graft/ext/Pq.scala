package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import graft.expressions.VectorExpressions.nearestCentroid

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", IEEE TPAMI 2011) — the memory-compression lever for
  * embedding search at corpus scale: split each D-dim vector into M
  * subvectors, k-means each subspace independently (codebooks of K
  * centroids), store each vector as M small codes. A 64-dim float64
  * vector (512 B) becomes M bytes — the difference between an embedding
  * store that fits executor memory at 100 TB and one that does not — and
  * asymmetric distance computation (ADC) scans codes against
  * per-subspace lookup tables instead of touching raw vectors.
  *
  * Determinism: training reuses [[KMeansDet]]'s dyadic-grid exact
  * arithmetic on SLICED vectors, so codebooks, code assignments and ADC
  * distances are bit-identical across partitionings, retries and engines
  * — codes AND distances hash-match the DuckDB oracle, not just recall
  * bounds.
  *
  * Scale shape: training collects only M·K·(D/M) doubles (= K·D — the
  * footprint one KMeansDet iteration already collects); encoding is a
  * narrow codegen'd projection (M·K dot products per row against literal
  * centroids, no shuffle, no UDF); ADC search is the SAME candidate
  * topology as the other ANN paths (here: the LSH hyperplane-bucket
  * equi-join of `Similarity.lshTopK`) with the full-vector cosine
  * replaced by code-table lookups — at deployment the probe side carries
  * codes (bytes), never raw vectors.
  *
  * The reference (MagmaPandas) has no ANN surface; beyond-reference
  * pipeline operator alongside brute/LSH/IVF.
  */
object Pq {

  /** Per-subspace codebooks: result(m)(j) = centroid j of subspace m
    * (each of length dim/m). Deterministic — identical codebooks to one
    * [[KMeansDet.fitCentroids]] per sliced subspace (pinned by
    * `PqSpec`'s training-equivalence law, including the empty-cluster
    * keep-previous-centroid path), but ONE Spark job per
    * iteration instead of M: every iteration stacks the M per-subspace
    * assignments into a single exploded (s, cid, d, x) aggregation, so a
    * production M=16 build pays iters+1 jobs, not 16·(iters+1). Exact
    * dyadic arithmetic makes the fused aggregation order-irrelevant,
    * which is what licenses the fusion without a bit of drift. */
  def train(embeddings: DataFrame, m: Int, k: Int, iters: Int,
            dim: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val e = embeddings.select(col("vec_id"),
      KMeansDet.quantize(col("embedding").cast("array<double>")).as("v"))
    // init: the k lowest-id vectors, sliced per subspace — one collect
    val init = e.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    var cents: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => init.map(v => v.slice(s * sub, (s + 1) * sub)))
    // each subspace's slice once, in a projection below the explode,
    // which reads it twice (its nearest centroid and its coordinates)
    val sliced = e.select((0 until m).map(s => slice(col("v"), s * sub + 1, sub).as(s"v$s")): _*)
    for (_ <- 1 to iters) {
      val stacked = sliced.select(explode(array((0 until m).map { s =>
          val vs = col(s"v$s")
          struct(lit(s).as("s"),
            nearestCentroid(vs, cents(s)).getField("code").as("cid"), vs.as("sv"))
        }: _*)).as("t"))
        .select(col("t.s").as("s"), col("t.cid").as("cid"),
          posexplode(col("t.sv")).as(Seq("d", "x")))
      val rows = stacked.groupBy("s", "cid", "d")
        .agg((round(sum((col("x") * lit(KMeansDet.Scale)).cast("long"))
          .cast("double") / count(lit(1)).cast("double")) /
          lit(KMeansDet.Scale)).as("c"))
        .collect()
      val mp = rows.map(r =>
        (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      cents = Array.tabulate(m)(s => Array.tabulate(k)(j =>
        Array.tabulate(sub)(d => mp.getOrElse((s, j, d), cents(s)(j)(d)))))
    }
    cents
  }

  /** The pre-fusion reference trainer: one [[KMeansDet.fitCentroids]]
    * per sliced subspace (M·iters jobs). Kept as the equivalence oracle
    * for [[train]]'s fused single-job-per-iteration form — `PqSpec`'s
    * training-equivalence law asserts `train == trainPerSubspace`
    * element-for-element on the embeddings fixture and on an
    * empty-cluster fixture. */
  private[graft] def trainPerSubspace(embeddings: DataFrame, m: Int, k: Int,
                                      iters: Int,
                                      dim: Int): Array[Array[Array[Double]]] = {
    val sub = dim / m
    (0 until m).map { s =>
      KMeansDet.fitCentroids(
        embeddings.select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), s * sub + 1, sub)
            .as("embedding")),
        k, iters)
    }.toArray
  }

  /** Squared L2 of quantized `v` to each centroid via the dot identity
    * (exact dyadic arithmetic — same argmin on every engine). */
  private def d2Cols(v: Column, cents: Array[Array[Double]]): Seq[Column] = {
    val vv = Similarity.dot(v, v)
    cents.map { c =>
      val cc = c.map(x => x * x).sum
      vv - lit(2.0) * Similarity.dot(v, array(c.map(lit): _*)) + lit(cc)
    }.toSeq
  }

  /** `code_0..code_{M-1}`: the nearest codebook entry of each subspace of
    * `v` ([[graft.expressions.NearestCentroid]]: the [[d2Cols]] doubles,
    * ties to the lowest code like the oracle's `ORDER BY d2, j`). */
  private def codeCols(v: Column, codebooks: Array[Array[Array[Double]]]): Seq[Column] = {
    val sub = codebooks(0)(0).length
    codebooks.indices.map(s => nearestCentroid(slice(v, s * sub + 1, sub), codebooks(s))
      .getField("code").as(s"code_$s"))
  }

  /** Encode every vector: `vec_id, code_0..code_{M-1}, qerr` where qerr
    * is the total squared reconstruction error Σ_m d2(v_m, C_m[code_m])
    * — the number PQ recall tuning watches. One narrow projection. */
  def encode(embeddings: DataFrame,
             codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val q = KMeansDet.quantize(col("embedding").cast("array<double>"))
    val base = embeddings.select(col("vec_id"), q.as("v"))
    val parts = base.select(col("vec_id") +: (0 until m).map { s =>
      nearestCentroid(slice(col("v"), s * sub + 1, sub), codebooks(s)).as(s"n$s")
    }: _*)
    parts.select(
      col("vec_id") +:
        (0 until m).map(s => col(s"n$s.code").as(s"code_$s")) :+
        (0 until m).map(s => col(s"n$s.d2")).reduce(_ + _).as("qerr"): _*)
  }

  /** ADC top-k over LSH-bucket candidates: same hyperplane-bucket
    * equi-join as `Similarity.lshTopK` (planes, seed shared), but
    * candidates are ranked by the ASYMMETRIC PQ distance — the query's
    * exact subvectors against the neighbor's RECONSTRUCTED centroids,
    * i.e. Σ_m d2(q_m, C_m[code_m(n)]). The neighbor side needs only its
    * codes; reconstruction happens through literal centroid tables
    * (element_at over an array-of-structs is rendered as a CASE over K
    * codes — codegen'd, no UDF). */
  /** The classic ADC distance table, computed ON THE PROBE SIDE before
    * the candidate join: for subspace s and code j, `dt_{s}_{j}` =
    * d2(q_s, C_s[j]). Every candidate pair then reduces to M scalar CASE
    * lookups — without this, each of the ~bucket-size candidates per
    * query re-ran M·K slices and 32-dim dot products (measured 16.6 s →
    * 2 s warm on q_knn_ivfpq at sf0.1). Identical arithmetic, evaluated
    * once per probe row instead of once per pair. */
  private def dtabCols(qv: Column,
                       codebooks: Array[Array[Array[Double]]]): Seq[Column] = {
    val sub = codebooks(0)(0).length
    for {
      s <- codebooks.indices
      (d, j) <- d2Cols(slice(qv, s * sub + 1, sub), codebooks(s)).zipWithIndex
    } yield d.as(s"dt_${s}_$j")
  }

  /** Σ_s dtab[s][code_s] as a scalar CASE chain over the joined pair. */
  private def adcFromTable(codebooks: Array[Array[Array[Double]]]): Column =
    codebooks.indices.map { s =>
      val k = codebooks(s).length
      (1 until k).foldLeft(
        when(col(s"code_$s") === 0, col(s"dt_${s}_0"))) { (acc, j) =>
          acc.when(col(s"code_$s") === j, col(s"dt_${s}_$j"))
      }.otherwise(lit(Double.NaN))
    }.reduce(_ + _)

  def adcTopK(embeddings: DataFrame, codebooks: Array[Array[Array[Double]]],
              k: Int, planes: Int = 8, seed: Long = 42L): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val dim = m * sub
    val hp = Similarity.hyperplanes(dim, planes, seed)
    val q = KMeansDet.quantize(col("embedding").cast("array<double>"))
    val base = embeddings
      .select(col("vec_id"), q.as("v"),
        Similarity.lshBucket(col("embedding").cast("array<double>"), hp)
          .as("bucket"))
    // probe side ships (qid, bucket, M·K distance-table scalars) — the
    // raw vector never crosses the join
    val left = base.select(
      col("vec_id").as("qid") +: col("bucket") +:
        dtabCols(col("v"), codebooks): _*)
    // neighbor side carries ONLY (id, bucket, codes) — the compressed
    // representation; codes computed inline, no join
    val right = base.select(
      col("vec_id").as("nid") +: col("bucket") +: codeCols(col("v"), codebooks): _*)
    val pairs = left.join(right, "bucket").where(col("qid") =!= col("nid"))
    val ranked = pairs.withColumn("adist", round(adcFromTable(codebooks), 6))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("adist"), col("nid"))))
      .where(col("rk") <= k)
    ranked.select(col("qid"), col("nid"), col("adist"))
  }

  /** The coarse centroid array selected by a cell-id column: a literal
    * CASE over the K cells. */
  private def centroidFor(cid: Column,
                          cents: Array[Array[Double]]): Column = {
    val arrs = cents.map(c => array(c.map(lit): _*))
    if (arrs.length == 1) arrs.head
    else arrs.zipWithIndex.tail.init
      .foldLeft(when(cid === 0, arrs.head)) { case (acc, (a, j)) =>
        acc.when(cid === j, a)
      }.otherwise(arrs.last)
  }

  /** Composed IVF-PQ (Jégou 2011 §IV — the production ANN shape): a
    * coarse [[KMeansDet]] quantizer partitions the corpus into cells,
    * PQ codebooks are trained on the RESIDUALS v - c(cell) (residual
    * energy is what's left after the coarse fit, so the same code budget
    * quantizes much finer than raw-vector PQ), and each query probes its
    * `nprobe` nearest cells, ranking that cell's candidates by the
    * asymmetric distance between the QUERY's residual w.r.t. the probed
    * cell and the candidate's reconstructed residual.
    *
    * Scale shape: training collects coarseK·D + M·K·(D/M) doubles (two
    * KMeansDet footprints); the search is a cell-keyed equi-join — the
    * probe side carries nprobe rows per query, the candidate side ONLY
    * (id, cell, codes), never raw vectors — followed by one per-query
    * top-k window. Candidates per query ≈ nprobe/coarseK of the corpus,
    * the IVF contract. All arithmetic rides [[KMeansDet]]'s dyadic grid
    * (residuals of dyadic values are dyadic), so cells, codes AND
    * distances hash-match the DuckDB oracle. */
  /** A built IVF-PQ index: the coarse centroids, the residual codebooks
    * (driver-side — coarseK·dim + m·pqK·(dim/m) doubles, the same
    * footprint one training collect already holds) and the encoded
    * candidate table (nid, cell, code_0..code_{m-1}) — the compressed
    * representation the search joins against; raw vectors appear
    * nowhere. */
  final case class IvfPqIndex(cells: Array[Array[Double]],
                              codebooks: Array[Array[Array[Double]]],
                              codes: DataFrame)

  /** Train the index (coarse cells + residual codebooks + codes) without
    * persisting — the shared build half of [[ivfPqTopK]] and
    * [[writeIndex]]. */
  def fitIndex(embeddings: DataFrame, coarseK: Int, coarseIters: Int,
               m: Int, pqK: Int, pqIters: Int, dim: Int): IvfPqIndex = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val cells = KMeansDet.fitCentroids(
      embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")),
      coarseK, coarseIters)
    val q = KMeansDet.quantize(col("embedding").cast("array<double>"))
    val base = embeddings.select(col("vec_id"), q.as("v"))
    val cidCol = nearestCentroid(col("v"), cells).getField("code")
    // Materialize (id, v, cell, res) ONCE: the coarseK-branch centroid
    // CASE inside `res` would otherwise be re-inlined by projection
    // collapse into every downstream d2 column of every PQ-fit job (an
    // expression-tree blowup that OOMs analysis at coarseK=64), and the
    // k-means jobs would each recompute scan+assign. Materializing
    // residuals before codebook training is what every IVF-PQ trainer
    // does; the checkpoint is N x 2·dim doubles.
    val assigned = base.withColumn("cell", cidCol)
      .withColumn("res",
        zip_with(col("v"), centroidFor(col("cell"), cells), (a, b) => a - b))
      .localCheckpoint()
    // PQ codebooks on residuals (re-quantization is the identity: the
    // residual of two dyadic-grid values is on the grid)
    val codebooks = train(
      assigned.select(col("vec_id"), col("res").as("embedding")),
      m, pqK, pqIters, dim)
    val codes = assigned.select(
      col("vec_id").as("nid") +: col("cell") +: codeCols(col("res"), codebooks): _*)
    IvfPqIndex(cells, codebooks, codes)
  }

  /** ADC search against a built index: the nprobe nearest cells per
    * query — array_sort over (d2, cell) structs ties exactly like the
    * oracle's ORDER BY d2, j. Per probed cell, the M·K ADC distance
    * table over the query's residual w.r.t. THAT cell is computed on the
    * probe side, once, so the join ships (qid, cell, M·K scalars) and
    * each candidate pair is M CASE lookups against the codes table. */
  def searchIndex(queries: DataFrame, index: IvfPqIndex, nprobe: Int,
                  topK: Int): DataFrame = {
    val cells = index.cells
    val codebooks = index.codebooks
    require(nprobe >= 1 && nprobe <= cells.length)
    val q = KMeansDet.quantize(col("embedding").cast("array<double>"))
    val base = queries.select(col("vec_id"), q.as("v"))
    val cellRank = array_sort(array(d2Cols(col("v"), cells).zipWithIndex
      .map { case (d, j) => struct(d.as("d"), lit(j).as("j")) }: _*))
    val left = base
      .withColumn("pc", explode(slice(cellRank, 1, nprobe)))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("pc.j").as("cell"))
      .withColumn("qr",
        zip_with(col("qv"), centroidFor(col("cell"), cells), (a, b) => a - b))
      .select(col("qid") +: col("cell") +: dtabCols(col("qr"), codebooks): _*)
    // each candidate lives in exactly one cell, so the cell equi-join
    // yields every (query, candidate) pair at most once
    val pairs = left.join(index.codes, "cell")
      .where(col("qid") =!= col("nid"))
    pairs.withColumn("adist", round(adcFromTable(codebooks), 6))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("adist"), col("nid"))))
      .where(col("rk") <= topK)
      .select(col("qid"), col("nid"), col("adist"))
  }

  def ivfPqTopK(embeddings: DataFrame, coarseK: Int, coarseIters: Int,
                m: Int, pqK: Int, pqIters: Int, dim: Int,
                nprobe: Int, topK: Int): DataFrame =
    searchIndex(embeddings,
      fitIndex(embeddings, coarseK, coarseIters, m, pqK, pqIters, dim),
      nprobe, topK)

  // ---- persisted index artifact -----------------------------------------

  /** Persist a trained index under `path` as two parquet tables — the
    * production ANN shape: train ONCE, search many. `centroids` holds
    * every centroid row-wise ((kind, s, j, c): "coarse" rows are the
    * cell centroids, "pq" rows the per-subspace residual codebooks — a
    * few KB total), `codes` the encoded corpus, partitioned by nothing
    * (cell is a join key, not a pruning key, at these cardinalities; a
    * 100 TB deployment would bucket it by cell so the search join
    * co-locates without a shuffle). Parquet doubles round-trip exactly,
    * so a loaded index searches bit-identically to the in-memory one
    * (pinned by `PqSpec`'s write→read→search round-trip law). */
  def writeIndex(embeddings: DataFrame, coarseK: Int, coarseIters: Int,
                 m: Int, pqK: Int, pqIters: Int, dim: Int,
                 path: String): Unit = {
    val idx = fitIndex(embeddings, coarseK, coarseIters, m, pqK, pqIters, dim)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents =
      idx.cells.zipWithIndex.map { case (c, j) =>
        ("coarse", -1, j, c.toSeq) } ++
      (for (s <- idx.codebooks.indices; j <- idx.codebooks(s).indices)
        yield ("pq", s, j, idx.codebooks(s)(j).toSeq))
    cents.toSeq.toDF("kind", "s", "j", "c").repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    idx.codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Load a persisted index: one bounded driver collect for the
    * centroids (coarseK·dim + m·pqK·(dim/m) doubles), codes stay a lazy
    * parquet relation for the search join. */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): IvfPqIndex = {
    val cents = GraftParquet.read(spark, s"$path/centroids").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](3).toArray))
    val cells = cents.filter(_._1 == "coarse").sortBy(_._3).map(_._4)
    val pq = cents.filter(_._1 == "pq")
    val codebooks = pq.map(_._2).distinct.sorted.map(s =>
      pq.filter(_._2 == s).sortBy(_._3).map(_._4))
    IvfPqIndex(cells, codebooks, GraftParquet.read(spark, s"$path/codes"))
  }

  // one build per (corpus, params) per JVM: Verify/Bench re-invoke the
  // registry query many times; only the FIRST pays training, exactly the
  // build-once/search-many contract the artifact exists for. The memo /
  // path / fingerprint / cleanup mechanics live in the shared
  // [[Artifacts]] store (also backing the persisted dedup labels).

  /** The persisted index for (embeddings-at-`key`, params) — building
    * and writing it on the first call in this JVM, loading it from the
    * parquet artifact on every call after. `key` names the corpus (e.g.
    * its path) and an [[Artifacts.fingerprint]] snapshot is folded into the
    * memo key (and echoed into the artifact as `_fingerprint`), so a
    * corpus rewritten in place during the JVM's lifetime builds a fresh
    * index rather than silently serving the stale one. The memo key is
    * the full (key, fingerprint, params) string — collision-free by
    * construction — and the on-disk path component is its SHA-256, so
    * distinct keys can never share a directory. */
  def persistedIndex(embeddings: DataFrame, key: String, coarseK: Int,
                     coarseIters: Int, m: Int, pqK: Int, pqIters: Int,
                     dim: Int): IvfPqIndex = {
    val fp = Artifacts.fingerprint(embeddings, "vec_id", "embedding")
    val full = s"$key|fp=$fp|$coarseK|$coarseIters|$m|$pqK|$pqIters|$dim"
    val path = Artifacts.pathFor("ivfpq", full)(p =>
      writeIndex(embeddings, coarseK, coarseIters, m, pqK, pqIters, dim, p))
    readIndex(embeddings.sparkSession, path)
  }

  // ---- DuckDB oracle renderings -----------------------------------------

  private def sliceSql(expr: String, s: Int, sub: Int): String =
    s"($expr)[${s * sub + 1}:${(s + 1) * sub}]"

  /** WITH-clause stages: one prefixed KMeansDet fit per subspace
    * (`p0fin`, `p1fin`, ...) + a `codes` stage joining the per-subspace
    * argmin codes and the summed reconstruction error. */
  def oracleCodeStages(m: Int, k: Int, iters: Int, dim: Int): String = {
    val sub = dim / m
    val fits = (0 until m).map { s =>
      KMeansDet.oracleStages(k, iters, sub, prefix = s"p$s",
        vecExpr = sliceSql("CAST(\"embedding\" AS DOUBLE[])", s, sub),
        stagesOnly = true)
    }
    val joinChain = (1 until m)
      .map(s => s"JOIN p${s}fin f$s ON f$s.\"vec_id\" = f0.\"vec_id\"")
      .mkString(" ")
    val codeCols = (0 until m).map(s => s"f$s.cid AS code_$s").mkString(", ")
    val err = (0 until m).map(s => s"f$s.dist2").mkString(" + ")
    val codes =
      s"""codes AS (SELECT f0."vec_id", $codeCols, ($err) AS qerr
         | FROM p0fin f0 $joinChain)""".stripMargin.replace("\n", " ")
    s"WITH ${fits.mkString(", ")}, $codes"
  }

  def codesOracleSql(m: Int, k: Int, iters: Int, dim: Int): String = {
    val cols = (0 until m).map(s => s"code_$s AS \"code_$s\"").mkString(", ")
    oracleCodeStages(m, k, iters, dim) +
      s""" SELECT "vec_id", $cols, round(qerr, 6) AS "qerr"""" +
      " FROM codes ORDER BY \"vec_id\""
  }

  /** DuckDB rendering of [[ivfPqTopK]], stage for stage: the coarse fit
    * (prefix `cv`), the residual CTE, one per-subspace PQ fit OVER the
    * residual CTE (`fromTable = "cvres"`), the probe ranking (same
    * ORDER BY d2, j ties as the Spark array_sort), query residuals per
    * probed cell, and the ADC ranking against the iteration-final
    * residual codebooks. */
  def ivfPqOracleSql(coarseK: Int, coarseIters: Int, m: Int, pqK: Int,
                     pqIters: Int, dim: Int, nprobe: Int,
                     topK: Int): String = {
    val sub = dim / m
    val coarse = KMeansDet.oracleStages(coarseK, coarseIters, dim,
      prefix = "cv", stagesOnly = true)
    val cvc = s"cvc$coarseIters"
    val res =
      s"""cvres AS (SELECT f."vec_id",
         | list_transform(range(1, ${dim + 1}),
         |   i -> (f.v[i] - c.c[i])) AS residual
         | FROM cvfin f JOIN $cvc c ON c.j = f.cid)""".stripMargin
    val fits = (0 until m).map { s =>
      KMeansDet.oracleStages(pqK, pqIters, sub, prefix = s"p$s",
        vecExpr = sliceSql("residual", s, sub), stagesOnly = true,
        fromTable = "cvres")
    }
    val joinChain = (1 until m)
      .map(s => s"JOIN p${s}fin f$s ON f$s.\"vec_id\" = f0.\"vec_id\"")
      .mkString(" ")
    val codeCols = (0 until m).map(s => s"f$s.cid AS code_$s").mkString(", ")
    val codes =
      s"""codes AS (SELECT f0."vec_id", $codeCols
         | FROM p0fin f0 $joinChain)""".stripMargin
    val probe =
      s"""pb AS (SELECT "vec_id" AS qid, v AS qv, j AS cell FROM (
         | SELECT e."vec_id", e.v, c.j,
         |   row_number() OVER (PARTITION BY e."vec_id" ORDER BY
         |     (list_dot_product(e.v, e.v)
         |      - 2.0e0 * list_dot_product(e.v, c.c)
         |      + list_dot_product(c.c, c.c)), c.j) AS rk
         | FROM cve e CROSS JOIN $cvc c) WHERE rk <= $nprobe)""".stripMargin
    val qres =
      s"""qres AS (SELECT p.qid, p.cell,
         | list_transform(range(1, ${dim + 1}),
         |   i -> (p.qv[i] - c.c[i])) AS qr
         | FROM pb p JOIN $cvc c ON c.j = p.cell)""".stripMargin
    val cbJoins = (0 until m)
      .map(s => s"JOIN p${s}c$pqIters cb$s ON cb$s.j = c2.code_$s")
      .mkString(" ")
    val adc = (0 until m).map { s =>
      val qs = sliceSql("q.qr", s, sub)
      s"(list_dot_product($qs, $qs) - 2.0e0 * list_dot_product($qs, cb$s.c)" +
        s" + list_dot_product(cb$s.c, cb$s.c))"
    }.mkString(" + ")
    (s"WITH $coarse, $res, ${fits.mkString(", ")}, $codes, $probe, $qres, " +
      s"""pr AS (SELECT q.qid, f."vec_id" AS nid, round($adc, 6) AS adist
         | FROM qres q
         | JOIN cvfin f ON f.cid = q.cell AND f."vec_id" <> q.qid
         | JOIN codes c2 ON c2."vec_id" = f."vec_id" $cbJoins),
         | r AS (SELECT qid, nid, adist,
         |   row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rk
         |   FROM pr)
         | SELECT qid AS "qid", nid AS "nid", adist AS "adist"
         | FROM r WHERE rk <= $topK ORDER BY "qid", "nid"""".stripMargin)
      .replace("\n", " ")
  }

  /** Full ADC oracle: the PQ fits + codes, the shared LSH bucket
    * (`bucketSql` — same literal hyperplanes as the Spark plan), and the
    * ADC ranking. The reconstruction CASE mirrors the Spark plan: for
    * each subspace, d2 of the query's exact subvector to the centroid
    * selected by the neighbor's code, centroids read from the
    * iteration-final codebook CTE (`p{s}c{iters}`). */
  def adcOracleSql(m: Int, k: Int, iters: Int, dim: Int, topK: Int,
                   bucketSql: String): String = {
    val sub = dim / m
    val cbJoins = (0 until m)
      .map(s => s"JOIN p${s}c$iters cb$s ON cb$s.j = c.code_$s")
      .mkString(" ")
    val adc = (0 until m).map { s =>
      val qs = sliceSql("q.qv", s, sub)
      s"(list_dot_product($qs, $qs) - 2.0e0 * list_dot_product($qs, cb$s.c)" +
        s" + list_dot_product(cb$s.c, cb$s.c))"
    }.mkString(" + ")
    oracleCodeStages(m, k, iters, dim) +
      s""", b AS (SELECT "vec_id",
         |   list_transform(v, x -> round(x * ${KMeansDet.Scale}e0)
         |     / ${KMeansDet.Scale}e0) AS qv, $bucketSql AS bucket
         | FROM (SELECT "vec_id", CAST("embedding" AS DOUBLE[]) AS v
         |       FROM embeddings)),
         | pr AS (SELECT q."vec_id" AS qid, n."vec_id" AS nid,
         |   round($adc, 6) AS adist
         | FROM b q JOIN b n ON q.bucket = n.bucket
         |   AND q."vec_id" <> n."vec_id"
         | JOIN codes c ON c."vec_id" = n."vec_id" $cbJoins),
         | r AS (SELECT qid, nid, adist,
         |   row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rk
         |   FROM pr)
         | SELECT qid AS "qid", nid AS "nid", adist AS "adist"
         | FROM r WHERE rk <= $topK ORDER BY "qid", "nid"""".stripMargin
      .replace("\n", " ")
  }
}
