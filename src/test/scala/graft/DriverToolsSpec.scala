package graft

import java.nio.file.Files

/** The driver contract's entry point and the dev tools that sit beside it:
  * `SparkEntry.entry`, `Bench.timeOnce` and `DumpPlans.dump`. */
class DriverToolsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("SparkEntry.entry returns rows (the driver's smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Bench.timeOnce reports a throwing query as a failure, not a timing") {
    val boom = Bench.timeOnce(spark, sfDir,
      (_, _) => throw new IllegalStateException("deliberate failure"))
    assert(boom.left.exists(_.contains("deliberate failure")), boom)
    val ok = Bench.timeOnce(spark, sfDir, (s, _) => s.range(10).toDF())
    assert(ok.exists(_.sec >= 0), ok)
  }

  test("DumpPlans.dump writes one PlanShape row per query in both modes") {
    val names = Seq("q_agg_lineitem", "q_tfidf_topterms")
    val out = Files.createTempDirectory("graft_plans").toString
    for (mode <- Seq("initial", "runtime")) {
      val rows = Files.readAllLines(
        DumpPlans.dump(spark, sfDir, out, mode, Some(names.toSet))).toArray
        .map(_.toString.split("\t"))
      assert(rows.map(_.head).toSeq == names, rows.map(_.mkString(" ")).toSeq)
      assert(!rows.exists(_.contains("ERROR")), rows.map(_.mkString(" ")).toSeq)
      for (row <- rows) {
        val name = row.head
        val cols = row.tail.map { kv =>
          val Array(k, v) = kv.split("=")
          k -> v.toInt
        }.toMap
        val df = Queries.queries(name)(spark, sfDir)
        if (mode == "runtime") df.queryExecution.toRdd.count()
        val shape = PlanShape.of(df)
        assert(cols("real") == shape.shuffles && cols("reused") == shape.reused,
          s"$mode $name: summary $cols vs $shape")
        assert(Files.exists(java.nio.file.Paths.get(out, s"${name}_$mode.txt")))
      }
    }
  }
}
