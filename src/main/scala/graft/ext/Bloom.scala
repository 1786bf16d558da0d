package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter decontamination: the scale path of
  * [[PipelineOps.decontaminate]] for evaluation sets too large to
  * broadcast as an exact shingle-hash set (decontaminating one corpus
  * against ANOTHER corpus, not a thousand-document benchmark).
  *
  * Why a Bloom filter fits the dual-compilation discipline when most
  * sketches don't: the filter is built by OR-ing bits, and OR is
  * commutative, associative and idempotent — the word array is the same
  * under any partitioning, merge order, or task retry. Both engines
  * derive bit positions from the same [[DualHash.base60]] shingle hash
  * with the same Kirsch–Mitzenmacher double hashing, so even the FALSE
  * POSITIVES are identical, and the DuckDB oracle hash-matches the flag
  * column exactly — the filter is deterministic approximation, not
  * nondeterministic estimation.
  *
  * Scale shape at 100 TB:
  *
  *  - build: one scan of the eval side, a per-row shingle explode to
  *    (word, bit) longs, and ONE partial aggregation down to a fixed
  *    `mBits/62`-row state (8 KB at the default 2^16 bits, tunable to
  *    GB-scale for billion-shingle eval corpora) — memory is O(mBits)
  *    no matter how many shingles the eval set has, where the exact-set
  *    broadcast of [[PipelineOps.decontaminate]] grows without bound;
  *  - probe: a shuffle-free projection over the training scan — the word
  *    array rides one literal (a broadcast-sized constant), and the
  *    per-shingle membership test is codegen'd array arithmetic (no UDF).
  *    The probe composes with Structured Streaming ingest like the
  *    decontamination edge: a pure per-row filter.
  *
  * Word layout: 62 usable bits per word (positions `p` map to word
  * `p / 62`, bit `p % 62`). Bit 63 would flip the sign and bit 62 is the
  * largest shift DuckDB's checked BIGINT `<<` accepts (`1 << 63` raises
  * Out of Range), so capping at 62 keeps the identical two's-complement
  * word values on both engines with headroom.
  */
object Bloom {

  /** Default filter width: 2^16 bit positions (~8 KB of words). With the
    * default 4 hash functions the false-positive rate stays under 1% up
    * to ~6k distinct eval shingles ((1-e^(-kn/m))^k); size `mBits` at
    * ~10 bits per expected distinct shingle. */
  val DefaultMBits: Int = 1 << 16

  /** Default hash-function count (k of the classic Bloom analysis). */
  val DefaultKHashes: Int = 4

  /** Usable bits per 64-bit word (see layout note above). */
  val BitsPerWord: Int = 62

  private def nWords(mBits: Int): Int = (mBits + BitsPerWord - 1) / BitsPerWord

  /** Bit position `i` of shingle hash `h` (a non-negative 60-bit
    * [[DualHash.base60]] value): Kirsch–Mitzenmacher double hashing —
    * `pos_i = (lo30(h) + i * (2 * hi30(h) + 1)) & (mBits - 1)`. The step
    * is forced odd so every stride is a unit of the power-of-two ring.
    * All intermediates stay under 2^36: exact in checked BIGINT on both
    * engines. */
  private[ext] def posCol(h: Column, i: Int, mBits: Int): Column =
    (h.bitwiseAND(lit(1073741823L)) +
      lit(i.toLong) * (shiftright(h, 30) * lit(2L) + lit(1L)))
      .bitwiseAND(lit((mBits - 1).toLong))

  /** The identical position arithmetic in DuckDB SQL. */
  private def posSql(hExpr: String, i: Int, mBits: Int): String =
    s"((($hExpr & 1073741823) + ($i * ((2 * ($hExpr >> 30)) + 1))) & ${mBits - 1})"

  /** Membership test of position-expression `p` against word-list column
    * `wsExpr` (1-based DuckDB list). */
  private def bitSetSql(wsExpr: String, p: String): String =
    s"(($wsExpr[CAST(($p // $BitsPerWord) AS BIGINT) + 1] & " +
      s"(CAST(1 AS BIGINT) << CAST(($p % $BitsPerWord) AS INTEGER))) <> 0)"

  /** Build the filter over the distinct word-shingle hashes of `docs`:
    * one scan + one bounded aggregation; the returned array has exactly
    * `mBits/62` (+1) words.
    *
    * NOTE: EAGER like [[PipelineOps.tokenBudget]] — the build runs a
    * Spark job at call time and snapshots the input. The collect is
    * bounded by construction (`nWords` longs, 8 KB at defaults), never
    * by data size. */
  def buildWords(docs: DataFrame, shingleSize: Int = 3,
                 mBits: Int = DefaultMBits,
                 kHashes: Int = DefaultKHashes): Array[Long] = {
    require(Integer.bitCount(mBits) == 1 && mBits >= 64,
      s"mBits must be a power of two >= 64, got $mBits")
    require(kHashes >= 1 && kHashes <= 16, s"kHashes out of range: $kHashes")
    val hs = docs.select(explode(array_distinct(
        graft.expressions.VectorExpressions.shingleHashes(
          split(col("text"), " "), shingleSize))).as("h"))
      .distinct()
    val pos = hs.select(explode(array(
      (0 until kHashes).map(i => posCol(col("h"), i, mBits)): _*)).as("p"))
    val rows = pos
      .groupBy((col("p") / lit(BitsPerWord)).cast("long").as("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        (col("p") % lit(BitsPerWord)).cast("int"))).as("word"))
      .collect()
    val arr = new Array[Long](nWords(mBits))
    rows.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** OR-merge of built filters — the mergeable-artifact form (store one
    * word array per eval-set partition, OR them at probe time): OR is
    * commutative/associative/idempotent, so partition-built filters
    * merge to the exact global filter, false positives included. */
  def mergeWords(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length,
      s"filter widths differ: ${a.length} vs ${b.length} words")
    Array.tabulate(a.length)(i => a(i) | b(i))
  }

  /** Look `docs` up in a built filter: per document, the count of its
    * distinct shingles whose every bit is set, and the contaminated flag.
    * Shuffle-free codegen'd projection; works unchanged on a streaming
    * DataFrame (the words array is a plan constant).
    *
    * @return doc_id, n_flagged, contaminated (0/1)
    */
  def probe(docs: DataFrame, words: Array[Long], shingleSize: Int = 3,
            mBits: Int = DefaultMBits,
            kHashes: Int = DefaultKHashes): DataFrame = {
    require(words.length == nWords(mBits),
      s"words length ${words.length} != ${nWords(mBits)} for mBits=$mBits")
    val wl = typedlit(words.toSeq)
    def allBitsSet(h: Column): Column =
      (0 until kHashes).map { i =>
        val p = posCol(h, i, mBits)
        val word = call_function("element_at", wl,
          (p / lit(BitsPerWord)).cast("int") + lit(1))
        val mask = call_function("shiftleft", lit(1L),
          (p % lit(BitsPerWord)).cast("int"))
        word.bitwiseAND(mask) =!= lit(0L)
      }.reduce(_ && _)
    docs.select(col("doc_id"), array_distinct(
        graft.expressions.VectorExpressions.shingleHashes(
          split(col("text"), " "), shingleSize)).as("hs"))
      .select(col("doc_id"),
        size(filter(col("hs"), h => allBitsSet(h))).cast("long").as("n_flagged"))
      .select(col("doc_id"), col("n_flagged"),
        when(col("n_flagged") > 0, 1L).otherwise(0L).as("contaminated"))
  }

  /** Build + probe composed, mirroring [[PipelineOps.decontaminate]]'s
    * signature: eval rows feed the filter, non-eval rows are probed.
    * EAGER (the build job runs at call time). */
  def decontaminate(docs: DataFrame, evalPred: Column, shingleSize: Int = 3,
                    mBits: Int = DefaultMBits,
                    kHashes: Int = DefaultKHashes): DataFrame = {
    val words = buildWords(docs.filter(evalPred), shingleSize, mBits, kHashes)
    probe(docs.filter(!evalPred), words, shingleSize, mBits, kHashes)
  }

  /** DuckDB oracle of [[decontaminate]] given the standard `tok`/`sh`
    * shingle CTEs (see [[graft.ExtQueries]]): identical position
    * arithmetic, a `bit_or` word build, and the unrolled k-way membership
    * test inside a list lambda. `evalPredSql` must reference `"doc_id"`. */
  def decontaminateOracleSql(evalPredSql: String, mBits: Int = DefaultMBits,
                             kHashes: Int = DefaultKHashes): String = {
    val tests = (0 until kHashes)
      .map(i => bitSetSql("ws", posSql("h", i, mBits))).mkString(" AND ")
    s""", ds AS (SELECT "doc_id", list_distinct(hs) AS hs2 FROM sh)
       |, ev AS (SELECT DISTINCT unnest(hs2) AS h FROM ds WHERE $evalPredSql)
       |, bpos AS (SELECT ((h & 1073741823) + (t.i * ((2 * (h >> 30)) + 1)))
       |    & ${mBits - 1} AS p FROM ev CROSS JOIN range(0, $kHashes) t(i))
       |, wd AS (SELECT (p // $BitsPerWord) AS w,
       |    bit_or(CAST(1 AS BIGINT) << CAST((p % $BitsPerWord) AS INTEGER)) AS word
       |  FROM bpos GROUP BY 1)
       |, wl AS (SELECT list(coalesce(wd.word, 0) ORDER BY r.w) AS ws
       |  FROM range(0, ${nWords(mBits)}) r(w) LEFT JOIN wd ON wd.w = r.w)
       |, pr AS (SELECT "doc_id",
       |    CAST(len(list_filter(hs2, h -> $tests)) AS BIGINT) AS n_flagged
       |  FROM ds CROSS JOIN wl WHERE NOT ($evalPredSql))
       | SELECT "doc_id", n_flagged AS "n_flagged",
       |   CAST(CASE WHEN n_flagged > 0 THEN 1 ELSE 0 END AS BIGINT)
       |     AS "contaminated"
       | FROM pr ORDER BY "doc_id"""".stripMargin.replace("\n", " ")
  }
}
