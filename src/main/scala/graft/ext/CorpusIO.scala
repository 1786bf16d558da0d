package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Corpus ingest/egress for training-data pipelines: JSONL (the lingua
  * franca of LLM corpus interchange) and partitioned parquet.
  *
  * 100 TB discipline, encoded in the API shape:
  *  - '''Explicit schema on JSONL read.''' Schema inference is a second
  *    full pass over the input before the first real job starts; at corpus
  *    scale that is hours of cluster time spent discovering five columns.
  *    `readJsonl` therefore *requires* the schema — there is no
  *    inference overload on purpose.
  *  - '''Bounded output files.''' `maxRecordsPerFile` caps rows per output
  *    file so a skewed upstream partition cannot emit a multi-hundred-GB
  *    file that downstream readers cannot split (gzip JSONL is
  *    unsplittable; even parquet readers want row groups of sane size).
  *  - '''Hive-style partition layout.''' `writePartitioned` lays the
  *    corpus out by low-cardinality columns (language, source, quality
  *    bucket) so downstream reads prune at the directory level — a
  *    language-filtered read touches only that language's files, verified
  *    in `CorpusIOSpec` against the scan's partition filters.
  *  - '''Corrupt-record quarantine, not job failure.''' A 100 TB JSONL
  *    crawl dump always contains malformed lines; `readJsonl` defaults to
  *    PERMISSIVE with an explicit quarantine column rather than failing
  *    the whole job at hour nine (`FAILFAST`) or silently dropping rows
  *    (`DROPMALFORMED`).
  */
object CorpusIO {

  /** Name of the quarantine column PERMISSIVE mode fills for malformed
    * lines (null for clean rows). Callers filter/route on it. Spark
    * refuses a query that references ONLY this column of a raw JSON scan
    * (`UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN`) — when
    * splitting good/bad rows, select data columns alongside it or
    * materialise the parsed frame first. */
  val CorruptRecordCol = "_corrupt_record"

  /** Write one JSON object per line. `compression` is a codec name
    * ("none", "gzip", "zstd", ...); note gzip JSONL is unsplittable — at
    * scale prefer "none" behind a splittable container or zstd with
    * bounded `maxRecordsPerFile`. `maxRecordsPerFile = 0` = unbounded. */
  def writeJsonl(df: DataFrame, path: String,
                 maxRecordsPerFile: Long = 0L,
                 compression: String = "none"): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", compression)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .json(path)

  /** Read JSONL with an explicit schema (no inference pass). Malformed
    * lines land whole in [[CorruptRecordCol]] when `quarantine` is true
    * (the column is appended to `schema`); with `quarantine` false the
    * read is strict FAILFAST — first bad line kills the job, for inputs
    * this pipeline itself wrote. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                quarantine: Boolean = false): DataFrame =
    if (quarantine) {
      val withQ = schema.add(CorruptRecordCol,
        org.apache.spark.sql.types.StringType)
      spark.read.schema(withQ)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CorruptRecordCol)
        .json(path)
    } else {
      spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    }

  /** Parquet laid out `path/col1=v1/col2=v2/...` for directory-level
    * pruning. Partition columns must be low-cardinality (language, source
    * bucket): each distinct combination is a directory, and a
    * high-cardinality key would explode the namenode/listing instead of
    * helping the reader. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       maxRecordsPerFile: Long = 0L): Unit =
    // REBALANCE by the partition columns before the write (guide §6):
    // without it every upstream task emits one file per partition value
    // it happens to hold (observed: 64 ~1 KB files for a 5-language
    // corpus slice — the classic small-files problem, paid again by
    // every downstream read). The AQE-backed rebalance coalesces small
    // post-shuffle partitions AND splits skewed ones (a plain
    // repartition(cols) would put each whole language in one task), so
    // output files track the advisory partition size at any scale;
    // `maxRecordsPerFile` still caps the extreme.
    df.hint("rebalance", partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Read a partitioned corpus back. Partition values come from directory
    * names; filters on those columns prune before any file is opened.
    * This is the one read that keeps Spark's own parquet inference (a
    * schema job at read time): partition discovery needs the directory
    * walk, which the flat-table reader `GraftParquet` leaves to Spark. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Persist a table bucketed (and optionally sorted) by join keys, the
    * co-located-join layout for 100 TB fact tables: two tables bucketed
    * by the same keys into the same bucket count join with NO shuffle on
    * either side — each task reads matching bucket files directly
    * (`BucketingSpec` pins the exchange-free plan). Catalog-backed
    * because bucket metadata lives in the table catalog, not the files. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int, sorted: Boolean = true): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: bucketCols must be non-empty")
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sorted) w.sortBy(bucketCols.head, bucketCols.tail: _*) else w
    ws.format("parquet").saveAsTable(table)
  }
}
