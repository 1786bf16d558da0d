package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local("4", Map(
    // the production wiring under test in GraftExtensionsSpec: native
    // kernels injected into the SQL function registry at session build
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // catalog-backed bucketed tables (BucketingSpec) go to a temp warehouse
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
}
