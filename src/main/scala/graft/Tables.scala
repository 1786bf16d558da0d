package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import graft.core._
import graft.expr._
import graft.expr.E._

/** Deterministic composition tables derived from the driver's TPC-H-ish
  * parquet (TESTDATA.md). The reference's domain needs oxide wt.%
  * compositions + (T,P) conditions; we derive them from integer key columns
  * with exact integer-modulo arithmetic so the Spark engine and the DuckDB
  * oracle compute bit-identical doubles. Value ranges mimic natural basaltic
  * melts / mineral compositions (FIXTURES.md §1-2).
  */
object Tables {

  /** Dimension of the `embeddings.embedding` column (TESTDATA.md). The
    * per-dimension aggregates (label centroids, centroid drift) unroll
    * one sum per dimension at PLAN time, so they need the width as a
    * constant — this is the single shared definition (the r14-advice
    * finding: two inline 64s would silently null-pad or truncate if the
    * table ever changed width while their oracles derive it from
    * len(v)). Pq call sites pass it explicitly as their `dim` param. */
  val EmbeddingDim = 64

  /** Read a driver table, spreading the scan across the cluster when the
    * file yields fewer partitions than cores. Parquet cannot split below
    * row-group granularity, so the small test files cap out at 1-3 tasks no
    * matter the split-size configs — which serializes every downstream
    * per-row computation (expression chains and solver UDFs alike). The
    * repartition shuffles only the scan's raw columns (cheap), and only
    * ever RAISES the partition count: at 100 TB the scan already has
    * thousands of row groups and this is a no-op. The read starts no Spark
    * job ([[GraftParquet]]); the floor estimate reuses its listing.
    *
    * @param parallelismFloor round-robin repartition up to core count when
    *   the file has fewer row groups — the floor that keeps per-row solver
    *   UDF queries parallel on small local files. Pass `false` when the
    *   FIRST downstream operator is itself a shuffle (window/groupBy on a
    *   key): the floor would shuffle the whole table once for nothing. */
  def read(spark: SparkSession, dir: String, table: String,
           parallelismFloor: Boolean = true): DataFrame = {
    val t = GraftParquet.listed(spark, s"$dir/$table.parquet")
    val target = spark.sparkContext.defaultParallelism
    if (parallelismFloor && scanPartitionEstimate(spark, t.dataFiles) < target)
      t.df.repartition(target)
    else t.df
  }

  /** Estimate of the scan's FilePartition count from the file listing,
    * without planning the query. It is NOT Spark's packing: it charges
    * `openCostInBytes` to each file and then divides by a split size of
    * min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)), and
    * for a small table that split size IS the open cost, so every
    * non-empty file counts as at least 2 splits. Spark packs small files
    * together: `meltsDF` at sf0.01 scans as 1 partition, yet estimates 2,
    * so at `local[2]` the floor never fires. Correcting the estimate adds
    * a shuffle in front of queries that do not want one (q_dedup_clusters'
    * warm build slowed in a trial), so the arithmetic stays as it is. */
  private def scanPartitionEstimate(spark: SparkSession,
                                    files: Seq[org.apache.hadoop.fs.FileStatus]): Long = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val totalBytes = files.map(_.getLen + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    files.map(f => ((f.getLen + openCost) + maxSplit - 1) / maxSplit).sum
  }

  /** Read a driver table range-partitioned by `keys` — the sort key of the
    * query's final `orderBy`. One exchange does double duty (guide §2.4):
    * it is the parallelism floor (compute downstream of it runs cluster-
    * wide) AND it already satisfies the final sort's required
    * distribution, so the `orderBy` plans as a LOCAL sort with no second
    * exchange. The shuffle carries only the scan's raw columns (project-
    * before-exchange, guide §2.3), and the range-bound sampling job runs
    * over the cheap key projection instead of re-executing the whole
    * downstream compute — the old shape paid every solver UDF twice
    * (once in the ensure-requirements exchange's sampling pass, once in
    * the real pass). Partition count is max(cores, shuffle.partitions):
    * locally both resolve to SPARK_GRAFT_CPUS; on a cluster the
    * configured shuffle.partitions dominates — explicit N so AQE cannot
    * coalesce the compute stage below the core count.
    *
    * Row-width tradeoff (r15 advice): this shuffles the scan's raw
    * columns UNCONDITIONALLY, which is cheap for the numeric tables but
    * carries full document text for `docsRanged`-style callers; the
    * floor it replaces was a no-op at scale (guarded by partition
    * count), so at 100 TB a text-carrying pipeline pays one full-text
    * shuffle it previously avoided. That buys back the orderBy's range
    * exchange + its bound-sampling re-execution of the per-row compute;
    * the trade is right when the downstream per-row stage dominates the
    * row bytes (every current caller — hashing/parsing/solver
    * pipelines), and wrong for cheap projections over wide text. A new
    * text-table query should prefer `read(...)` + a final orderBy (the
    * compute-then-narrow-range shape) unless the per-row stage is
    * provably the cost. */
  def readRangedBy(spark: SparkSession, dir: String, table: String,
                   keys: Seq[graft.expr.E]): DataFrame = {
    val df = GraftParquet.read(spark, s"$dir/$table.parquet")
    val n = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    df.repartitionByRange(n, keys.map(graft.expr.E.toColumn): _*)
  }

  /** events with an epoch-millisecond column. The driver's events table has
    * nanosecond timestamps, which Spark 4 only reads with
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/Bench) —
    * handle both the long-nanos and timestamp read paths. */
  def eventsWithMs(spark: SparkSession, dir: String,
                   parallelismFloor: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, unix_millis}
    import org.apache.spark.sql.types.LongType
    val ev = read(spark, dir, "events", parallelismFloor)
    val ms = ev.schema("ts").dataType match {
      // integer division: ns values exceed double's exact-integer range
      case LongType => expr("ts div 1000000")
      case _        => unix_millis(col("ts").cast("timestamp"))
    }
    ev.withColumn("ms", ms.cast("long"))
  }

  // ---- melts: one composition per lineitem row --------------------------
  val meltElements: Vector[String] =
    Vector("SiO2", "TiO2", "Al2O3", "FeO", "MnO", "MgO", "CaO", "Na2O", "K2O",
      "P2O5", "H2O", "CO2")
  val meltPass: Vector[String] = Vector("sample_id", "T_K", "P_bar")

  // sample_id must be a UNIQUE total-order key: the oracle compare sorts
  // rows by it, and (orderkey, linenumber) alone collides between rows with
  // different part/supp keys (different derived compositions). Encode all
  // four source keys with non-overlapping place values (partkey < 1e6,
  // suppkey < 1e5, linenumber < 10 up to sf1; max id ~1.5e18 < 2^63).
  private[graft] val sampleId: E =
    ((C("l_orderkey") * ILit(1000000) + C("l_partkey")) * ILit(100000) +
      C("l_suppkey")) * ILit(10) + C("l_linenumber")

  val meltSource: Stage = Stage(Seq(
    "sample_id" -> sampleId,
    "T_K" -> (Lit(1350.0) + C("l_orderkey") % ILit(250)),
    "P_bar" -> (Lit(1.0) + C("l_partkey") % ILit(10000)),
    "SiO2" -> (Lit(45.0) + (C("l_partkey") % ILit(1000)) * Lit(0.01)),
    "TiO2" -> (Lit(0.5) + (C("l_suppkey") % ILit(200)) * Lit(0.01)),
    "Al2O3" -> (Lit(12.0) + (C("l_partkey") % ILit(600)) * Lit(0.01)),
    "FeO" -> (Lit(7.0) + (C("l_orderkey") % ILit(400)) * Lit(0.01)),
    "MnO" -> (Lit(0.05) + (C("l_suppkey") % ILit(20)) * Lit(0.005)),
    "MgO" -> (Lit(5.0) + (C("l_partkey") % ILit(700)) * Lit(0.01)),
    "CaO" -> (Lit(8.0) + (C("l_orderkey") % ILit(500)) * Lit(0.01)),
    "Na2O" -> (Lit(2.0) + (C("l_suppkey") % ILit(250)) * Lit(0.01)),
    "K2O" -> (Lit(0.2) + (C("l_partkey") % ILit(180)) * Lit(0.01)),
    "P2O5" -> (Lit(0.1) + (C("l_orderkey") % ILit(60)) * Lit(0.01)),
    "H2O" -> ((C("l_partkey") % ILit(450)) * Lit(0.01)),
    "CO2" -> ((C("l_suppkey") % ILit(100)) * Lit(0.001))
  ))

  /** `meltSource` as a SQL select list over lineitem, for the oracles. */
  val meltCols: String = meltSource.cols
    .map { case (n, e) => s"""${E.toSql(e)} AS "$n"""" }.mkString(", ")

  /** Staged pipeline rooted at the melts table. */
  def melts: Staged =
    Staged(MagmaSchema(meltElements, meltPass, CUnit.WtPc, CType.Oxide),
      Vector(meltSource))

  /** Melts with the parent order key kept as a join column (J1 queries). */
  def meltsWithOrder: Staged =
    Staged(MagmaSchema(meltElements, meltPass :+ "order_id", CUnit.WtPc, CType.Oxide),
      Vector(Stage(meltSource.cols :+ ("order_id" -> (C("l_orderkey"): E)))))

  def meltsDF(spark: SparkSession, dir: String): DataFrame =
    Pipeline.applySpark(read(spark, dir, "lineitem"), Vector(meltSource))

  /** Melts range-partitioned by sample_id at the SCAN (guide §2.4): for
    * queries whose final `orderBy("sample_id")` is the only shuffle
    * requirement, the one explicit range exchange both spreads the
    * downstream per-row compute (solver UDFs included) across the cluster
    * and already satisfies the sort, so the orderBy plans as a local sort
    * — and its range-bound sampling job reads the cheap key projection
    * instead of re-executing the solver UDFs (the old ensure-requirements
    * exchange paid every per-row solve twice). */
  def meltsRangedDF(spark: SparkSession, dir: String): DataFrame =
    Pipeline.applySpark(readRangedBy(spark, dir, "lineitem", Seq(sampleId)),
      Vector(meltSource))

  // ---- olivines: one composition per orders row (join partner J1) -------
  val olivineElements: Vector[String] =
    Vector("SiO2", "FeO", "MnO", "MgO", "CaO", "NiO")
  val olivinePass: Vector[String] = Vector("sample_id")

  val olivineSource: Stage = Stage(Seq(
    "sample_id" -> (C("o_orderkey"): E),
    "SiO2" -> (Lit(39.0) + (C("o_custkey") % ILit(150)) * Lit(0.01)),
    "FeO" -> (Lit(12.0) + (C("o_orderkey") % ILit(800)) * Lit(0.01)),
    "MnO" -> (Lit(0.1) + (C("o_custkey") % ILit(30)) * Lit(0.005)),
    "MgO" -> (Lit(42.0) + (C("o_orderkey") % ILit(600)) * Lit(0.01)),
    "CaO" -> (Lit(0.2) + (C("o_custkey") % ILit(20)) * Lit(0.005)),
    "NiO" -> (Lit(0.3) + (C("o_orderkey") % ILit(15)) * Lit(0.005))
  ))

  def olivines: Staged =
    Staged(MagmaSchema(olivineElements, olivinePass, CUnit.WtPc, CType.Oxide),
      Vector(olivineSource))

  def olivinesDF(spark: SparkSession, dir: String): DataFrame =
    Pipeline.applySpark(read(spark, dir, "orders"), Vector(olivineSource))

  // ---- plagioclase: from customer -------------------------------------
  val plagElements: Vector[String] =
    Vector("SiO2", "Al2O3", "CaO", "Na2O", "K2O", "FeO")
  val plagSource: Stage = Stage(Seq(
    "sample_id" -> (C("c_custkey"): E),
    "SiO2" -> (Lit(50.0) + (C("c_custkey") % ILit(800)) * Lit(0.01)),
    "Al2O3" -> (Lit(26.0) + (C("c_nationkey") % ILit(25)) * Lit(0.1)),
    "CaO" -> (Lit(10.0) + (C("c_custkey") % ILit(400)) * Lit(0.01)),
    "Na2O" -> (Lit(3.0) + (C("c_nationkey") % ILit(20)) * Lit(0.1)),
    "K2O" -> (Lit(0.1) + (C("c_custkey") % ILit(50)) * Lit(0.01)),
    "FeO" -> (Lit(0.3) + (C("c_nationkey") % ILit(10)) * Lit(0.02))
  ))
  def plag: Staged =
    Staged(MagmaSchema(plagElements, Vector("sample_id"), CUnit.WtPc, CType.Oxide),
      Vector(plagSource))
  def plagDF(spark: SparkSession, dir: String): DataFrame =
    Pipeline.applySpark(read(spark, dir, "customer"), Vector(plagSource))

  // ---- magnetite / ilmenite: from part --------------------------------
  val magnetiteElements: Vector[String] =
    Vector("TiO2", "Al2O3", "FeO", "MnO", "MgO", "Cr2O3")
  val magnetiteSource: Stage = Stage(Seq(
    "sample_id" -> (C("p_partkey"): E),
    "TiO2" -> (Lit(8.0) + (C("p_partkey") % ILit(1500)) * Lit(0.01)),
    "Al2O3" -> (Lit(1.5) + (C("p_size") % ILit(30)) * Lit(0.05)),
    "FeO" -> (Lit(75.0) + (C("p_partkey") % ILit(700)) * Lit(0.01)),
    "MnO" -> (Lit(0.3) + (C("p_size") % ILit(15)) * Lit(0.02)),
    "MgO" -> (Lit(1.0) + (C("p_partkey") % ILit(300)) * Lit(0.01)),
    "Cr2O3" -> (Lit(0.05) + (C("p_size") % ILit(10)) * Lit(0.01))
  ))
  def magnetite: Staged =
    Staged(MagmaSchema(magnetiteElements, Vector("sample_id"), CUnit.WtPc, CType.Oxide),
      Vector(magnetiteSource))
  def magnetiteDF(spark: SparkSession, dir: String): DataFrame =
    Pipeline.applySpark(read(spark, dir, "part"), Vector(magnetiteSource))

  val ilmeniteElements: Vector[String] =
    Vector("TiO2", "Al2O3", "FeO", "MnO", "MgO")
  val ilmeniteSource: Stage = Stage(Seq(
    "sample_id" -> (C("p_partkey"): E),
    "TiO2" -> (Lit(44.0) + (C("p_partkey") % ILit(900)) * Lit(0.01)),
    "Al2O3" -> (Lit(0.1) + (C("p_size") % ILit(20)) * Lit(0.01)),
    "FeO" -> (Lit(45.0) + (C("p_partkey") % ILit(600)) * Lit(0.01)),
    "MnO" -> (Lit(0.4) + (C("p_size") % ILit(25)) * Lit(0.02)),
    "MgO" -> (Lit(2.0) + (C("p_partkey") % ILit(400)) * Lit(0.01))
  ))
  def ilmenite: Staged =
    Staged(MagmaSchema(ilmeniteElements, Vector("sample_id"), CUnit.WtPc, CType.Oxide),
      Vector(ilmeniteSource))
  def ilmeniteDF(spark: SparkSession, dir: String): DataFrame =
    Pipeline.applySpark(read(spark, dir, "part"), Vector(ilmeniteSource))
}
