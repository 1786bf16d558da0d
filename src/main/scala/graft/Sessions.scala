package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder: `Bench`, `Verify`, `DumpPlans` and the
  * test suites all build their session here, so they run the same confs.
  * `spark.sql.codegen.cache.maxEntries` is static: it only takes effect
  * when this builds the JVM's first session. */
object Sessions {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the default 100-entry generated-class cache is evicted by one
      // registry sweep, so warm passes would re-pay janino compilation
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
