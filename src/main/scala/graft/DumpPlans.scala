package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Path, Paths}

/** Dev tool, not part of the driver contract: the plan of every registered
  * query (or of the named ones) to `<outDir>/<name>_<mode>.txt`, and one
  * [[PlanShape]] row per query to `<outDir>/_summary_<mode>.tsv`.
  *
  *  - `initial` plans only: the plan shipped to the scheduler.
  *  - `runtime` first executes the query (`toRdd.count()`) and records the
  *    plan after adaptive execution, where `real` counts the materialised
  *    shuffle exchanges and `reused` the ones served by exchange reuse.
  *
  * {{{runMain graft.DumpPlans <sfDir> <outDir> <initial|runtime> [q_a,q_b]}}}
  */
object DumpPlans {
  private val Modes: Set[String] = Set("initial", "runtime")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Modes(args(2)),
      "usage: DumpPlans <sfDir> <outDir> <initial|runtime> [q_a,q_b]")
    val spark = Sessions.local()
    try dump(spark, args(0), args(1), args(2), args.lift(3).map(_.split(",").toSet))
    finally spark.stop()
  }

  /** Writes the plans and the summary; returns the summary's path. A query
    * that fails to build, plan or run gets an `ERROR` row. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, mode: String,
           only: Option[Set[String]] = None): Path = {
    require(Modes(mode), s"mode must be one of ${Modes.mkString("|")}, got $mode")
    Files.createDirectories(Paths.get(outDir))
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          if (mode == "runtime") df.queryExecution.toRdd.count()
          Files.writeString(Paths.get(outDir, s"${name}_$mode.txt"),
            df.queryExecution.explainString(FormattedMode))
          val row = s"$name\t${PlanShape.of(df).tsv}"
          System.err.println(s"[plans] $row")
          row
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: $e")
          s"$name\tERROR\t${e.toString.linesIterator.nextOption().getOrElse("")}"
        }
      }
    Files.writeString(Paths.get(outDir, s"_summary_$mode.tsv"),
      rows.map(_ + "\n").mkString)
  }
}
