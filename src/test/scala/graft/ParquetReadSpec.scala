package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.JobCounter
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import graft.ext.{Artifacts, Dedup}

/** Laws of the one parquet reader ([[GraftParquet]]) and the one artifact
  * fingerprint ([[Artifacts.fingerprint]]):
  *
  *  - the reader's schema is the schema `spark.read.parquet` infers, for
  *    the driver tables, a Spark-written artifact directory and summary
  *    files, and it starts no Spark job;
  *  - a missing path and an empty directory fail as they fail in Spark;
  *  - nothing is cached: a rewrite at the same path reads the new schema;
  *  - the fingerprint is the `count:max:xor` aggregate it replaced, in one
  *    Spark job.
  */
class ParquetReadSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def jobs[T](body: => T): (T, Int) = JobCounter.jobsOf(spark.sparkContext)(body)

  private def tmpDir(): Path = Files.createTempDirectory("graft_parquet_read")

  private def sameAsSpark(path: String): Unit = {
    val (df, n) = jobs(GraftParquet.read(spark, path))
    assert(n == 0, s"$path: the read started $n Spark jobs")
    assert(df.schema == spark.read.parquet(path).schema, path)
  }

  private def withNanosAsLong[T](v: Boolean)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.get(key)
    spark.conf.set(key, v.toString)
    try body finally spark.conf.set(key, old)
  }

  test("driver tables: the footer schema is Spark's inferred schema, " +
      "with and without nanosAsLong, and no read starts a job") {
    for (nanos <- Seq(true, false); t <- tables) withNanosAsLong(nanos) {
      sameAsSpark(s"$sf/$t.parquet")
    }
  }

  test("a Spark-written artifact directory (part files and _SUCCESS) " +
      "reads with Spark's schema and rows") {
    val dir = tmpDir().resolve("art").toString
    spark.range(0, 50, 1, 3)
      .select(col("id"), (col("id") * 2).cast("int").as("x"),
        array(col("id").cast("double")).as("v"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"))
      .write.parquet(dir)
    assert(Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    sameAsSpark(dir)
    assert(GraftParquet.read(spark, dir).orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
  }

  test("summary files win: _common_metadata, else _metadata, over the " +
      "first data file, as in Spark's inference") {
    val root = tmpDir()
    val wide = root.resolve("wide").toString
    spark.conf.set("parquet.summary.metadata.level", "ALL")
    try spark.range(5).select(col("id"), col("id").cast("string").as("extra"))
      .coalesce(1).write.parquet(wide)
    finally spark.conf.unset("parquet.summary.metadata.level")
    for (summary <- Seq("_common_metadata", "_metadata")) {
      assert(Files.exists(java.nio.file.Paths.get(wide, summary)), summary)
      // a narrow table with the wide table's summary file: the summary's
      // schema is the one both readers must report
      val narrow = root.resolve(s"narrow$summary")
      spark.range(5).coalesce(1).write.parquet(narrow.toString)
      Files.copy(java.nio.file.Paths.get(wide, summary), narrow.resolve(summary),
        StandardCopyOption.REPLACE_EXISTING)
      assert(spark.read.parquet(narrow.toString).schema.fieldNames.toSeq ==
        Seq("id", "extra"), summary)
      sameAsSpark(narrow.toString)
    }
  }

  test("a missing path and an empty directory fail as spark.read.parquet " +
      "fails") {
    def condition(body: => DataFrame): String =
      intercept[AnalysisException](body).getCondition
    val missing = tmpDir().resolve("missing").toString
    assert(condition(GraftParquet.read(spark, missing)) ==
      condition(spark.read.parquet(missing)))
    val empty = tmpDir().toString
    assert(condition(GraftParquet.read(spark, empty)) ==
      condition(spark.read.parquet(empty)))
  }

  test("no schema cache: a file rewritten at the same path is read with " +
      "its new schema") {
    val dir = tmpDir().resolve("t").toString
    spark.range(3).write.parquet(dir)
    assert(GraftParquet.read(spark, dir).schema.fieldNames.toSeq == Seq("id"))
    spark.range(3).select(col("id").cast("string").as("name"), lit(1.5).as("w"))
      .write.mode("overwrite").parquet(dir)
    val again = GraftParquet.read(spark, dir)
    assert(again.schema == spark.read.parquet(dir).schema)
    assert(again.schema.fieldNames.toSeq == Seq("name", "w"))
    assert(again.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
  }

  /** The aggregate the fingerprint helper replaced, verbatim. */
  private def oldAggregate(df: DataFrame, id: String, payload: String): String = {
    val r = df.agg(
      count(lit(1)),
      coalesce(max(col(id).cast("long")), lit(-1L)),
      coalesce(bit_xor(xxhash64(col(id), col(payload))), lit(0L)))
      .head
    s"${r.getLong(0)}:${r.getLong(1)}:${java.lang.Long.toHexString(r.getLong(2))}"
  }

  test("the fingerprint is the old count:max:xor aggregate, in one Spark " +
      "job") {
    import spark.implicits._
    val docs = Tables.read(spark, sf, "documents")
    val emb = Tables.read(spark, sf, "embeddings", parallelismFloor = false)
    val labels = Dedup.nearDupClusters(docs, threshold = 0.0, k = 16,
      rowsPerBand = 2)
    val empty = docs.filter(lit(false))
    val nullIds = Seq[(Option[Long], String)]((Some(7L), "a"), (None, "b"),
      (Some(-3L), "c"), (None, null)).toDF("doc_id", "text")
    val allNull = Seq[(Option[Long], String)]((None, "x")).toDF("doc_id", "text")
    val cases = Seq(("documents", docs, "doc_id", "text"),
      ("embeddings", emb, "vec_id", "embedding"),
      ("labels", labels, "doc_id", "cluster_id"),
      ("empty", empty, "doc_id", "text"),
      ("null ids", nullIds, "doc_id", "text"),
      ("all-null ids", allNull, "doc_id", "text"))
    for ((name, df, id, payload) <- cases) {
      val (fp, n) = jobs(Artifacts.fingerprint(df, id, payload))
      assert(fp == oldAggregate(df, id, payload), name)
      if (name != "labels") assert(n == 1, s"$name: $n jobs")
    }
  }
}
