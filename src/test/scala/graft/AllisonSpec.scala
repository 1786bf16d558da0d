package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.core.Staged
import graft.expr._
import graft.functions.{Allison => A, IaconoMarziano => IM}
import graft.models.CompCtx

/** The Allison trees give the values of the scalar kernels they replaced,
  * bit for bit. Pins of the unrounded values — H2O and CO2 saturation,
  * mixed saturation (P, X), the H2O and CO2 fugacities at 1, 2000, 4000
  * and 8000 bar, and dissolved H2O and CO2 at x_fluid 0, 0.01, 0.25, 0.5
  * and 1 — were recorded from those kernels: for every sf0.001 melt row at
  * 2000 bar, a SHA-256 of each value's raw bits in sample_id order; for the
  * edge rows, the raw bits. The columns (generated code and interpreted)
  * and the scalar functions must meet them. */
class AllisonSpec extends SparkSpec {

  // the seed-42 sf0.001 tables (TESTDATA.md), as committed for the benchmark
  private val sf = "perfbench/data/sf0.001"
  private val els = Tables.meltElements
  private val xs = Seq(0.0, 0.01, 0.25, 0.5, 1.0)
  private val ps = Seq(1.0, 2000.0, 4000.0, 8000.0)

  private val digests = Seq(
    "b1097376b2f2247f5d81b7d5123bf129a4e37705198ce179101163430b2ccc3c",
    "04a274abdcc56df8ecc4bc5b3137c4ae61bb4f541bce026b871d5d27bf023620",
    "4257e44f1a9b5c1a74647c0466b14f126f2c7d9e3d0d314dba05a411323d823e",
    "a4fb59ddf3e93e9489541cf95cdaccaaa40f3303f8a0bd3927fdc1b4e46bef86",
    "495b5fb0b08f63df61c76b342cbb08728698076cfb2bcdc2c7658bbb13e62a05",
    "1a733f5a17d771e78df7bcfae2f6a12176a3fe13508a434635ef72b8ec612049",
    "c24f7a7463221adac778368fa2f584264502b4cd2e8a9ab2fd1662fb1ddffa1c",
    "9350ae440df22df2b7bc09bbd34fd0bbe9a9c2205fa129ff37a11374f45894a6",
    "559ca5bcd0ae150522cf2cb15ad934591b4958c93efcd82c31abe730551a0bf7",
    "42d013bae756e2967ab8d6e72b897f9d03adf36472a3fe50544564594f3c16ed",
    "372a9f61011e36c1f31af228fc6d987bb99791a97556526420454bdda21e9b76",
    "a7d6e5e4fbe7caba2e2cd16ecf6984a361a9692e246e17fd32bd055edc1c0985",
    "bb918147fe10391b43adeba4bd21b9ef32e5bd6c5076c3517733a05ed6dd0569",
    "e9d8ff72a78836eae3859c93910933f4a63234dc36414967ed2a8a5e50c74527",
    "e56befd432480eed51be42e5a4da5baf770a891dc5331c6d7f2d73cce448a9a1",
    "30cfff559c26774970a05131e737ea2e63755f32622c3da1fd8939c73e8c1da9",
    "8520a1e86cb54fffac74232306b002f2904e73c73b6db243edea830f4ab6c385",
    "ddbfe1092644fa0ae29e92ba31ca2d3bfb6f5fdbb1fefc5a717aac6577e2a065",
    "77d5465fa3ddae3187154a8829442e01d26dd70666f5450a10c49d92943335c1",
    "4c627ce67ce25ed8d83adf3579b32adbf306ebafaedf893141fe5b3a327a6c1c",
    "6fe24858150e81d343409053fab1f8315b778fbf1b86a34c664381f1ed4f843e",
    "bb918147fe10391b43adeba4bd21b9ef32e5bd6c5076c3517733a05ed6dd0569")

  // the fugacities and dissolved values of the basalt at 1473.15 K and
  // 2000 bar, which every row that changes only the composition shares;
  // the CO2 fugacity takes the trigonometric MRK branch at every pressure
  private val baseEos = Seq(0x3fefffcd24f4d58cL, 0x409f9d4198dd7aa5L, 0x40b18b10cef819a0L,
    0x40c877a795d3e2efL, 0x3ff000dc60878553L, 0x40a86ee11e2df631L, 0x40c38898d8dd102aL,
    0x40e9073f2dd03a53L, 0x0000000000000000L, 0x3fc60a8a75b13a7fL, 0x3fda073f3b735052L,
    0x3fc5df5f0f143ffbL, 0x4002e42025ef275dL, 0x3fc19d7ade8d8b16L, 0x400b97176f4208f2L,
    0x3fb94e9183ff9501L, 0x401425c5862d5b20L, 0x0000000000000000L)
  private val nan = 0x7ff8000000000000L

  // edge rows: a basalt at 1473.15 K and 2000 bar with one change each
  private val basalt = Seq(48.5, 1.2, 15.3, 9.0, 0.17, 7.8, 11.0, 2.6, 0.7, 0.25, 2.0, 0.05)
  private val edges: Seq[(String, Map[String, Double], Double, Double, Seq[Long])] = Seq(
    ("base", Map(), 1473.15, 2000.0, Seq(0x40777d8b546e87d8L, 0x40838e1ad5a0d438L,
      0x408dec9945a12c4aL, 0x3fd92c69eb65a9c7L) ++ baseEos),
    ("h2o_zero", Map("H2O" -> 0.0), 1473.15, 2000.0, Seq(0L, 0x40838e1ad5a0d438L,
      0x40838e1ad5a0d438L, 0L) ++ baseEos),
    ("co2_zero", Map("CO2" -> 0.0), 1473.15, 2000.0, Seq(0x40777d8b546e87d8L, 0L,
      0x40777d8b546e87d8L, 0x3ff0000000000000L) ++ baseEos),
    ("both_zero", Map("H2O" -> 0.0, "CO2" -> 0.0), 1473.15, 2000.0, Seq.fill(4)(0L) ++ baseEos),
    // a NaN temperature leaves the MRK cubic on neither branch: fugacity e P
    ("t_nan", Map(), Double.NaN, 2000.0, Seq(0x406129de14dbd4a0L, nan, nan, nan,
      0x4005bf0a8b145769L, 0x40b53c904bd1dd5cL, 0x40c53c904bd1dd5cL, 0x40d53c904bd1dd5dL,
      0x4005bf0a8b145769L, 0x40b53c904bd1dd5cL, 0x40c53c904bd1dd5cL, nan, 0L, nan,
      0x3fe655bf00aef6f8L, nan, 0x401035e3b0983ae0L, nan, 0x4017acda815036c6L, nan,
      0x402149e4fee6df38L, 0L)),
    // fH2O(1.5e4) lies below the target: the H2O and the outer mixed
    // brackets hold no root
    ("h2o_unbracketed", Map("H2O" -> 30.0), 1473.15, 2000.0, Seq(nan, 0x40838e1ad5a0d438L,
      nan, nan) ++ baseEos),
    // the CO2 brackets, pure and mixed, hold no root
    ("co2_unbracketed", Map("CO2" -> 5.0), 1473.15, 2000.0, Seq(0x40777d8b546e87d8L, nan,
      nan, nan) ++ baseEos),
    // the secant of dissolved CO2 is rejected at x = 0.01, 0.25 and 0.5: Brent
    ("secant_rejected", Map(), 1073.15, 14000.0, Seq(0x407956a56b3a1994L, 0x4082c6812f4b06deL,
      0x408ed9e6d6b3f8baL, 0x3fdcf2c6f42c611aL, 0x3feffe3eace8f77fL, 0x409809fd1b04c09cL,
      0x40a9540cd9204068L, 0x40c300e12564cd52L, 0x3ff000e41cc03123L, 0x40ab035f5cf8a42fL,
      0x40c9434a5e26befaL, 0x40f69bc13e15cf97L, 0L, 0x4005bd629b06e0d1L, 0x400049816914fc9dL,
      0x4005ab69c39327edL, 0x4027a4615782bb6fL, 0x4003c8d20c02f752L, 0x403143b4fad9c397L,
      0x4001379c69c4abbcL, 0x403936eb0c210f22L, 0L)),
    // past 15 kbar the CO2 partial pressure is beyond Brent's bracket: NaN
    ("brent_unbracketed", Map(), 1473.15, 1e5, Seq(0x40777d8b546e87d8L, 0x40838e1ad5a0d438L,
      0x408dec9945a12c4aL, 0x3fd92c69eb65a9c7L) ++ baseEos.take(8) ++ Seq(0L,
      0x4031216addb8291fL, 0x40967abc8d03b524L, nan, 0x40c050bc9a9939caL, nan,
      0x40c7d4104bfe4eb5L, nan, 0x40d166870546725cL, 0L)))

  private def edgeRows: DataFrame = {
    val schema = StructType(StructField("sample_id", LongType) +:
      (els ++ Seq("T_K", "P_bar")).map(StructField(_, DoubleType)))
    val rows = edges.zipWithIndex.map { case ((_, change, t, p, _), i) =>
      Row.fromSeq(i.toLong +: (els.zip(basalt).map { case (e, v) => change.getOrElse(e, v) } ++
        Seq(t, p)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** The 22 values of every row of `df` (sample_id, the melt elements,
    * T_K, P_bar) through the trees as columns, in sample_id order. */
  private def columns(df: DataFrame): Seq[Seq[Double]] = {
    val m = CompCtx(els)
    val base = Staged(els, Seq("sample_id", "T_K", "P_bar"))
    val t = C("T_K")
    def fug(p: Double, co2: Boolean): E = {
      val (s, f) = A.fugacitySteps(Lit(p), co2, "p")
      E.closed(A.eosLets(t) ++ s, f)
    }
    val mixed = A.mixedSaturationE(m, t)
    val sat = mixed.stages.foldLeft(base)(_ derive _).withStage(
      Seq("sample_id" -> C("sample_id"), "h" -> A.h2oSaturationE(m, t),
        "c" -> A.co2SaturationE(m, t), "p" -> mixed.p, "x" -> mixed.x) ++
        (for (co2 <- Seq(false, true); (p, i) <- ps.zipWithIndex)
          yield s"f${if (co2) "c" else "h"}$i" -> fug(p, co2)))
    def collect(st: Staged): Seq[Seq[Double]] = st.spark(df).orderBy("sample_id").collect()
      .toSeq.map(r => (1 until r.length).map(r.getDouble))
    val dissolved = xs.map { x =>
      val d = A.solubility(m, Lit(x), C("P_bar"), t)
      collect(d.stages.foldLeft(base)(_ derive _)
        .withStage(Seq("sample_id" -> C("sample_id"), "h" -> d.h2o, "c" -> d.co2)))
    }
    dissolved.foldLeft(collect(sat))((acc, d) => acc.zip(d).map { case (a, b) => a ++ b })
  }

  /** The same through the scalar functions. */
  private def scalars(df: DataFrame): Seq[Seq[Double]] =
    df.select(("sample_id" +: els :+ "T_K" :+ "P_bar").map(col): _*)
      .orderBy("sample_id").collect().toSeq.map { r =>
      val c = IM.Comp(els.toArray, els.indices.map(i => r.getDouble(i + 1)).toArray)
      val (t, p) = (r.getDouble(els.size + 1), r.getDouble(els.size + 2))
      val (mp, mx) = A.mixedSaturation(c, t)
      Seq(A.h2oSaturation(c, t), A.co2Saturation(c, t), mp, mx) ++
        Seq(false, true).flatMap(co2 => ps.map(A.fugacity(t, _, co2))) ++
        xs.flatMap(x => Seq(A.h2oSolubility(t, p, x), A.co2Solubility(c, t, p, x)))
    }

  private def melts: DataFrame = Tables.meltsDF(spark, sf).withColumn("P_bar", lit(2000.0))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def digest(values: Seq[Double]): String = {
    val bb = java.nio.ByteBuffer.allocate(8 * values.size)
    values.foreach(v => bb.putLong(bits(v)))
    java.security.MessageDigest.getInstance("SHA-256").digest(bb.array())
      .map("%02x".format(_)).mkString
  }

  private def check(path: String, rows: Seq[Seq[Double]], edgeValues: Seq[Seq[Double]]): Unit = {
    assert(rows.size == 6000, path)
    for (q <- digests.indices)
      assert(digest(rows.map(_(q))) == digests(q), s"$path: value $q")
    for (((label, _, _, _, want), got) <- edges.zip(edgeValues))
      assert(got.map(bits) == want, s"$path: $label")
  }

  test("the columns meet the kernels' pins with generated code and interpreted") {
    for (on <- Seq(true, false))
      LoopSpec.codegen(spark, on) {
        check(s"codegen=$on", columns(melts), columns(edgeRows))
      }
  }

  test("the scalar functions meet the kernels' pins") {
    check("scalar", scalars(melts), scalars(edgeRows))
  }

  test("isobarGrid runs Allison as columns: the grid values are the scalar ones") {
    val sample = edgeRows.filter(col("sample_id") === 0L)
      .select(("sample_id" +: "T_K" +: els).map(col): _*)
    val grid = functions.Isobars.isobarGrid(sample, els.toArray, Seq(1000.0, 14000.0),
      nPoints = 4, model = "allison2022").orderBy("P_bar", "xfl").collect()
    assert(grid.length == 10)
    val c = IM.Comp(els.toArray, basalt.toArray)
    for (r <- grid) {
      val (p, x) = (r.getAs[Double]("P_bar"), r.getAs[Double]("xfl"))
      assert(bits(r.getAs[Double]("H2O")) == bits(A.h2oSolubility(1473.15, p, x)), s"H2O $p $x")
      assert(bits(r.getAs[Double]("CO2")) == bits(A.co2Solubility(c, 1473.15, p, x)), s"CO2 $p $x")
    }
  }
}
