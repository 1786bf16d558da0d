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

  test("Bench's compact line over the full registry is one line of JSON that " +
    "fits the stdout tail and carries warm seconds for its slowest cold queries") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 222, names.size)
    // the longest names slowest, and wide values: the longest line
    val cold = names.sortBy(n => (-n.length, n)).zipWithIndex
      .map { case (n, i) => n -> (999.999 - i) }
    val warm = cold.collect { case (n, c) if n != cold(1)._1 => n -> c / 7.0 }
    val diag = """{"gc_s":99.9,"gc_n":9999,"jit_s":999.9,"codegen_compiles":99999,""" +
      """"sentinel_s":99.999}"""
    val line = Bench.compactLine(cold, warm, 99999.999, s"""{"cold":$diag,"warm":$diag}""",
      Seq("q_failed_example"), "/data/graft/testdata/sf0.1")
    assert(!line.contains('\n') && line.length <= 2000, s"${line.length} chars: $line")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val queries = json.get("queries").fieldNames()
    val kept = Iterator.continually(queries).takeWhile(_.hasNext).map(_.next()).toSeq
    assert(kept.size > 10 && kept == cold.take(kept.size).map(_._1), kept)
    assert(json.get("queries_omitted").asInt == names.size - kept.size)
    val warmKept = (0 until json.get("queries_warm").size).map(json.get("queries_warm").get)
    // the same queries in the same order; null where no warm pass succeeded
    assert(warmKept.size == kept.size, warmKept)
    for ((n, w) <- kept.zip(warmKept))
      if (n == cold(1)._1) assert(w.isNull, n)
      else assert(math.abs(w.asDouble - cold.toMap.apply(n) / 7.0) < 1e-3, s"$n: $w")
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
