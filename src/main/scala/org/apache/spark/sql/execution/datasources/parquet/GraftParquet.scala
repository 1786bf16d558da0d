package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.HadoopFSUtils

/** The one unpartitioned parquet reader. `spark.read.parquet(path)` infers
  * the schema with a Spark job (`ParquetFileFormat.mergeSchemasInParallel`
  * parallelizes the footer read even when it opens one file), so a read
  * would start a job while its query is still being built. This reader
  * lists the path once and reads, on the driver, the footer Spark's
  * non-merging inference would open: `_common_metadata`, else `_metadata`,
  * else the first data file in path order, with the session's converter
  * settings and `ignoreCorruptFiles`. It hands the schema to
  * `spark.read.schema(s).parquet(path)`, which plans the same relation
  * and starts no job.
  *
  * Everything else goes to Spark's own inference, unchanged: a path that
  * does not exist or is a glob (Spark's path errors), a directory with
  * sub-directories (partition discovery), and a directory with no
  * readable footer (Spark's empty-directory rule). It lives in this
  * package because `readParquetFootersInParallel` and `readSchema` are
  * `private[parquet]`. Nothing is cached: each call reads the footer
  * that is on disk now. */
object GraftParquet {

  /** A planned read and the data files its scan opens (summary files
    * excluded), from the one listing. */
  final case class Listed(df: DataFrame, dataFiles: Seq[FileStatus])

  def read(spark: SparkSession, path: String): DataFrame =
    listed(spark, path).df

  def listed(spark: SparkSession, path: String): Listed = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // None: not a flat file set this reader infers for
    val leaves: Option[Seq[FileStatus]] =
      try {
        val st = fs.getFileStatus(p)
        if (st.isFile) Some(Seq(st))
        else {
          val kids = fs.listStatus(p).toSeq
            .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
          if (kids.exists(_.isDirectory)) None
          else Some(kids.sortBy(_.getPath.toString))
        }
      } catch { case _: FileNotFoundException => None }
    val files = leaves.getOrElse(Nil)
    def named(n: String) = files.find(_.getPath.getName == n)
    val data = files.filterNot(f => isSummary(f.getPath))
    val footer = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(data.headOption)
    val schema = footer.flatMap(f => ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(f),
        spark.sessionState.conf.ignoreCorruptFiles), spark))
    val df = schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }
    Listed(df, data)
  }

  private def isSummary(p: Path): Boolean =
    p.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      p.getName == ParquetFileWriter.PARQUET_METADATA_FILE
}
