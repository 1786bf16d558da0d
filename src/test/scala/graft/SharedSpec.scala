package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Md5
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Range}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Laws of the [[Shared]] plan barrier: the optimizer neither pushes
  * filters into nor prunes columns from the shared relation, so every
  * consumer plans the same subtree and its exchanges run once; rows are
  * those of the unwrapped frame; the planner strategy is registered once
  * per session, whoever built the session. */
class SharedSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  private def base: DataFrame = spark.range(0, 200, 1, 4)
    .select(col("id"), (col("id") % 7).as("k"), (col("id") * 3).as("x"))

  private def sharedNodes(df: DataFrame): Seq[Shared.Node] =
    df.queryExecution.optimizedPlan.collect { case n: Shared.Node => n }

  test("a filter above Shared is not pushed below it") {
    val q = Shared(base).where(col("x") > 30 && col("k") === 2)
    val node = sharedNodes(q).head
    assert(node.child.collect { case f: Filter => f }.isEmpty,
      s"filter pushed into the shared relation:\n${q.queryExecution.optimizedPlan}")
    assert(q.queryExecution.optimizedPlan.collect {
      case f @ Filter(_, _: Shared.Node) => f
    }.size == 1)
    // the unwrapped frame pushes the same filter down to the range
    val plain = base.where(col("x") > 30 && col("k") === 2)
    assert(plain.queryExecution.optimizedPlan.collect {
      case f @ Filter(_, _: Range) => f
    }.size == 1, plain.queryExecution.optimizedPlan.toString)
  }

  test("a join's inferred null filters stay above Shared") {
    val s = Shared(base)
    val q = s.join(base.select(col("k").as("k2")), col("k") === col("k2"))
    assert(sharedNodes(q).forall(_.child.collect { case f: Filter => f }.isEmpty),
      q.queryExecution.optimizedPlan.toString)
  }

  test("the shared relation's columns are not pruned") {
    val q = Shared(base).select("k")
    val node = sharedNodes(q).head
    assert(node.child.output.map(_.name) == Seq("id", "k", "x"))
    assert(base.select("k").queryExecution.optimizedPlan.output.map(_.name) ==
      Seq("k"))
  }

  // a file scan, as in the corpus queries
  private lazy val ids: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_shared").resolve("ids")
    spark.range(0, 400, 1, 4).write.parquet(dir.toString)
    dir.toString
  }

  test("two consumers of a repartitioned md5 relation share one exchange " +
      "and hash once") {
    def run(wrap: DataFrame => DataFrame): (PlanShape, Int, Set[(String, Long)], String) = {
      val hashed = wrap(spark.read.parquet(ids)
        .select(col("id"), md5(col("id").cast("string")).as("h"))
        .repartition(4, col("id")))
      // one consumer reads every row, the other filters on the hash and
      // reads only the id
      val all = hashed.select(col("id").as("a"), col("h"))
      val hot = hashed.where(col("h").startsWith("a")).select(col("id").as("b"))
      val q = all.join(hot, col("a") === col("b")).groupBy("h").count()
      // collected through q itself, so its plan is the executed AQE one
      val rows = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val md5s = collectWithSubqueries(q.queryExecution.executedPlan) {
        case p if p.expressions.exists(_.exists(_.isInstanceOf[Md5])) => p
      }.size
      (PlanShape.of(q), md5s, rows, q.queryExecution.executedPlan.toString)
    }
    val (shared, sharedMd5, sharedRows, sharedPlan) = run(Shared(_))
    assert(shared.reused == 1, s"$shared\n$sharedPlan")
    assert(sharedMd5 == 1, s"md5 computed by $sharedMd5 operators")
    // unwrapped, pruning and the pushed filter make the two copies differ
    val (plain, plainMd5, plainRows, _) = run(identity)
    assert(plain.reused == 0 && plainMd5 >= 2, (plain, plainMd5))
    assert(sharedRows == plainRows && sharedRows.nonEmpty)
  }

  test("works on a session not built by Sessions.local") {
    val other = spark.newSession()
    assert(!other.experimental.extraStrategies.contains(Shared.Strategy))
    val df = other.range(0, 50).select(col("id"), (col("id") % 5).as("k"))
    val s = Shared(df)
    val got = s.join(s.groupBy("k").count(), "k").where(col("id") < 10)
      .select("id", "count").as[(Long, Long)].collect().toSet
    assert(got == (0L until 10L).map(i => (i, 10L)).toSet)
    assert(other.experimental.extraStrategies.count(_ == Shared.Strategy) == 1)
  }

  test("the strategy is registered once per session, under concurrent use") {
    val other = spark.newSession()
    val df = other.range(0, 10).toDF()
    val threads = (0 until 4).map(_ => new Thread(() =>
      (0 until 25).foreach(_ => Shared(df))))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(other.experimental.extraStrategies.count(_ == Shared.Strategy) == 1)
    (0 until 100).foreach(_ => Shared(base))
    assert(spark.experimental.extraStrategies.count(_ == Shared.Strategy) == 1)
  }

  test("rows equal those of the unwrapped frame") {
    def q(wrap: DataFrame => DataFrame): Set[(Long, Long, Long)] = {
      val s = wrap(base)
      val counts = s.groupBy("k").agg(max("x").as("mx"))
      s.join(counts, "k").where(col("x") === col("mx") || col("id") < 5)
        .select("id", "k", "mx").as[(Long, Long, Long)].collect().toSet
    }
    val want = q(identity)
    assert(want.size == 12)
    assert(q(Shared(_)) == want)
  }
}
