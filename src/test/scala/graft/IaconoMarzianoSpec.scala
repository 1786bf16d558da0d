package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.core.Staged
import graft.expr._
import graft.functions.{IaconoMarziano => IM}
import graft.models.CompCtx

/** The Iacono-Marziano trees give the values of the scalar kernels they
  * replaced, bit for bit. Pins of the unrounded values — H2O, CO2 and
  * mixed saturation (P, X) and dissolved H2O and CO2 at x_fluid 0, 0.25,
  * 0.5 and 1 — were recorded from those kernels: for every sf0.001 melt
  * row, a SHA-256 of each value's raw bits in sample_id order; for the edge
  * rows, the raw bits. The columns (generated code and interpreted) and the
  * scalar functions must meet them. */
class IaconoMarzianoSpec extends SparkSpec {

  // the seed-42 sf0.001 tables (TESTDATA.md), as committed for the benchmark
  private val sf = "perfbench/data/sf0.001"
  private val els = Tables.meltElements
  private val xs = Seq(0.0, 0.25, 0.5, 1.0)

  private val digests = Seq(
    "051dbb1c7dede588df95ab7e98ba724fd214336d2386e2b86ff748fc53bca857",
    "c294b27af489817c8a9828d4b8553b42cf361396cfb925c345fc8c4bba7000e7",
    "98ae4f0de00813a90139390a72cdd2322eac287ddd0c9b2fc320351a45000c8a",
    "c621bf05fbdd7e747a9eb79abac1aac6ce915f6eed164ca494d0aed59286f942",
    "bb918147fe10391b43adeba4bd21b9ef32e5bd6c5076c3517733a05ed6dd0569",
    "a9022c3c1d534df01f4b3c25488582ef4c955e72d024c804befd96d1935689a1",
    "fd9605fc2cb7febf5ed574b72f8263d05ff1ecef23f65463347deadca3c52c9d",
    "ccc18385c9023eb001b162e7e0d835445279d8c3394b3090bb09ce5a3dcf663f",
    "579c12c9b7bb7a0969de805a9b4282d43395cd3b2afa28bde7b35482588727ec",
    "a9e665921fcdd1f7753abf3ccf3eccfbcdf8718ff73130442a3a9cba71fb9af4",
    "c8a33a2c20d2bb77e0b8d87428501691ad7ee47c473844c96ed7d621b70ad8dc",
    "bb918147fe10391b43adeba4bd21b9ef32e5bd6c5076c3517733a05ed6dd0569")

  // edge rows: a basalt at 1473.15 K and 2000 bar with one change each
  private val basalt = Seq(48.5, 1.2, 15.3, 9.0, 0.17, 7.8, 11.0, 2.6, 0.7, 0.25, 2.0, 0.05)
  private val edges: Seq[(String, Map[String, Double], Double, Double, Seq[Long])] = Seq(
    ("base", Map(), 1473.15, 2000.0, Seq(0x4079fb795362ca3eL, 0x408ddc3c098d3ce8L,
      0x4091fe4c9209109aL, 0x3fd79af1d10ab6caL, 0x0000000000000000L, 0x3fbd2baf2db1174aL,
      0x4001676d5b4b86e9L, 0x3fbcfe1022d970afL, 0x400b10e6999797f9L, 0x3fb6e51ef475660eL,
      0x40163f22cfe0cffcL, 0x0000000000000000L)),
    ("h2o_zero", Map("H2O" -> 0.0), 1473.15, 2000.0, Seq(0x0000000000000000L,
      0x408ddc3c098d3ce8L, 0x408ddc3c098d3ce8L, 0x0000000000000000L, 0x0000000000000000L,
      0x3fbd2baf2db1174aL, 0x4001676d5b4b86e9L, 0x3fbcfe1022d970afL, 0x400b10e6999797f9L,
      0x3fb6e51ef475660eL, 0x40163f22cfe0cffcL, 0x0000000000000000L)),
    ("co2_zero", Map("CO2" -> 0.0), 1473.15, 2000.0, Seq(0x4079fb795362ca3eL,
      0x0000000000000000L, 0x4079fb795362ca3eL, 0x3ff0000000000000L, 0x0000000000000000L,
      0x3fbd1c40cc43293fL, 0x4001676d5b4b86e9L, 0x3fbcead70fd044ecL, 0x400b10e6999797f9L,
      0x3fb6d4a6c3350bc1L, 0x40163f22cfe0cffcL, 0x0000000000000000L)),
    ("p_zero", Map(), 1473.15, 0.0, Seq(0x4079fb795362ca3eL, 0x408ddc3c098d3ce8L,
      0x4091fe4c9209109aL, 0x3fd79af1d10ab6caL) ++ Seq.fill(8)(0L)),
    ("p_negative", Map(), 1473.15, -5.0, Seq(0x4079fb795362ca3eL, 0x408ddc3c098d3ce8L,
      0x4091fe4c9209109aL, 0x3fd79af1d10ab6caL) ++ Seq.fill(8)(0L)),
    ("t_nan", Map(), Double.NaN, 2000.0, Seq.fill(4)(0x7ff8000000000000L) ++
      Seq(0L) ++ Seq.fill(6)(0x7ff8000000000000L) ++ Seq(0L)),
    // both saturation brackets hold no root
    ("unbracketed", Map("H2O" -> 1e-10, "CO2" -> 1e-16), 1473.15, 2000.0, Seq(
      0x7ff8000000000000L, 0x7ff8000000000000L, 0x3d82354e5fedd674L, 0x3ed27b090cf10e34L,
      0x0000000000000000L, 0x3fbd1c40cc43293fL, 0x4001676d5b4b86e9L, 0x3fbcead70fd044ecL,
      0x400b10e6999797f9L, 0x3fb6d4a6c3350bc1L, 0x40163f22cfe0cffcL, 0x0000000000000000L)),
    // the dissolved-H2O secant ends far from the root at x = 1: bisection
    ("secant_rejected", Map(), 1473.15, 30000.0, Seq(0x4079fb795362ca3eL,
      0x408ddc3c098d3ce8L, 0x4091fe4c9209109aL, 0x3fd79af1d10ab6caL, 0x0000000000000000L,
      0x4030b96b464084a1L, 0x40212d73973a5f8cL, 0x4045764baf677922L, 0x403629920aac3078L,
      0x4069ce0d24441ad7L, 0x406431902f58ce02L, 0x0000000000000000L)))

  private def edgeRows: DataFrame = {
    val schema = StructType(StructField("sample_id", LongType) +:
      (els ++ Seq("T_K", "P_bar")).map(StructField(_, DoubleType)))
    val rows = edges.zipWithIndex.map { case ((_, change, t, p, _), i) =>
      Row.fromSeq(i.toLong +: (els.zip(basalt).map { case (e, v) => change.getOrElse(e, v) } ++
        Seq(t, p)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** The twelve values of every row of `df` (sample_id, the melt
    * elements, T_K, P_bar) through the trees as columns, in sample_id
    * order. */
  private def columns(df: DataFrame): Seq[Seq[Double]] = {
    val m = CompCtx(els)
    val base = Staged(els, Seq("sample_id", "T_K", "P_bar"))
    val (mp, mx) = IM.mixedSaturationE(m, C("T_K"))
    val sat = base.withStage(Seq("sample_id" -> C("sample_id"),
      "h" -> IM.h2oSaturationE(m, C("T_K")), "c" -> IM.co2SaturationE(m, C("T_K")),
      "p" -> mp, "x" -> mx))
    def collect(st: Staged): Seq[Seq[Double]] = st.spark(df).orderBy("sample_id").collect()
      .toSeq.map(r => (1 until r.length).map(r.getDouble))
    val dissolved = xs.map { x =>
      val d = IM.solubility(m, Lit(x), C("P_bar"), C("T_K"))
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
      val (mp, mx) = IM.mixedSaturation(c, t)
      Seq(IM.h2oSaturation(c, t), IM.co2Saturation(c, t), mp, mx) ++
        xs.flatMap(x => Seq(IM.h2oSolubility(c, x, p, t), IM.co2Solubility(c, x, p, t)))
    }

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
    val melts = Tables.meltsDF(spark, sf)
    for (on <- Seq(true, false))
      LoopSpec.codegen(spark, on) {
        check(s"codegen=$on", columns(melts), columns(edgeRows))
      }
  }

  test("the scalar functions meet the kernels' pins") {
    check("scalar", scalars(Tables.meltsDF(spark, sf)), scalars(edgeRows))
  }
}
