package graft.models

import org.apache.spark.sql.Column
import graft.expr._
import graft.expr.E._
import graft.expressions.LoopExpression

/** Olivine-melt Fe-Mg exchange coefficient (Kd) models
  * (reference `Kd/Ol_melt/FeMg/Kd_models.py`).
  *
  * Closed-form models are expressions; the Kd<->Fo fixed-point iteration
  * (`Kd_iterate.py:31-100`) of toplis2005, blundy2020 and saper2022 is a
  * row-local [[Loop]] in the same AST — one narrow stage, no shuffle,
  * ~3-10 rounds per row.
  */
object Kd {

  val R = 8.31446261815324

  /** Normalised wt.% of a composition — putirka2016_8x convert mol
    * fractions back to wt.% (`Kd_models.py:482`). From a wt.% ctx that is
    * just normalisation to 100. */
  private def wtNorm(m: CompCtx, ox: String): E =
    if (!m.has(ox)) Lit(0.0)
    else m.wt(ox) / sumAll(m.elements.map(m.wt)) * Lit(100.0)

  /** Putirka (2016) eq. 8a: constant 0.33 (`Kd_models.py:422-445`). */
  def putirka2016_8a: E = Lit(0.33)

  /** Putirka (2016) eq. 8b, P > 1 GPa (`Kd_models.py:446-491`). */
  def putirka2016_8b(m: CompCtx, pBar: E): E = {
    val alk = wtNorm(m, "Na2O") + wtNorm(m, "K2O")
    Lit(0.21) + Lit(8e-3) * (pBar / Lit(1e4)) +
      Lit(2.5e-3) * wtNorm(m, "SiO2") + Lit(-3.63e-4) * (alk * alk)
  }

  /** Putirka (2016) eq. 8c, P < 1 GPa (`Kd_models.py:494-533`). */
  def putirka2016_8c(m: CompCtx): E = {
    val alk = wtNorm(m, "Na2O") + wtNorm(m, "K2O")
    Lit(0.25) + Lit(1.8e-3) * wtNorm(m, "SiO2") + Lit(-3.27e-4) * (alk * alk)
  }

  /** Putirka (2016) eq. 8d, alkaline liquids (`Kd_models.py:536-593`). */
  def putirka2016_8d(m: CompCtx, pBar: E): E = {
    val si = wtNorm(m, "SiO2")
    val al = wtNorm(m, "Al2O3")
    val alk = wtNorm(m, "Na2O") + wtNorm(m, "K2O")
    val alNumber = al / (al + si)
    Lit(0.6) + Lit(1.3e-2) * (pBar / Lit(1e4)) + Lit(1.6e-2) * si +
      Lit(-1.73e-4) * (si * si) + Lit(1.79e-2) * al + Lit(-2.6) * alNumber +
      Lit(2.11e-1) * ln(alNumber) + Lit(3.19e-5) * (alk * alk * alk)
  }

  /** Sun & Dasgupta (2020) eq. 7 (`Kd_models.py:596-652`). Note the 2.45
    * Na2O coefficient deliberately deviates from the published 2.45/xx to
    * reproduce the paper's spreadsheet (`Kd_models.py:645-646`). */
  def sun2020(m: CompCtx, fe3fe2: E): E = {
    val vf = m.volatileFree
    val kdFeTotal = exp(Lit(-1.65) +
      Lit(1.22) * sqrt(vf.catPerOxygen("MgO")) +
      Lit(2.45) * vf.catPerOxygen("Na2O") +
      Lit(0.54) * (wtNorm(m, "H2O") / Lit(100.0)))
    val fe3FeTotal = fe3fe2 / (Lit(1.0) + fe3fe2)
    kdFeTotal / (Lit(1.0) - fe3FeTotal)
  }

  /** Toplis (2005) Kd at FIXED forsterite — the closed-form core
    * (`Kd_models.py:185-215`). Inputs in mole PERCENT. */
  def toplis2005Fixed(m: CompCtx, forsterite: E, tK: E, pBar: E): E = {
    def mp(ox: String): E = m.molNorm(ox) * Lit(100.0)
    val si = mp("SiO2"); val na = mp("Na2O"); val k = mp("K2O")
    val phi = If(si > Lit(60.0),
      (Lit(11.0) - Lit(5.5) * (Lit(100.0) / (Lit(100.0) - si))) *
        exp(Lit(-0.31) * (na + k)),
      (Lit(0.46) * (Lit(100.0) / (Lit(100.0) - si)) - Lit(0.93)) * (na + k) +
        (Lit(-5.33) * (Lit(100.0) / (Lit(100.0) - si)) + Lit(9.69)))
    val sio2A0 = si + phi * (na + k)
    val sio2A = if (m.has("H2O")) sio2A0 + Lit(0.8) * mp("H2O") else sio2A0
    exp((Lit(-6766.0) / (Lit(R) * tK) - Lit(7.34 / R)) +
      ln(Lit(0.036) * sio2A - Lit(0.22)) +
      (Lit(3000.0) * (Lit(1.0) - Lit(2.0) * forsterite) / (Lit(R) * tK)) +
      (Lit(0.035) * (pBar - Lit(1.0)) / (Lit(R) * tK)))
  }

  // ---- the Kd <-> equilibrium-Fo fixed point, written once as a Loop -----

  /** The per-row iteration shared by toplis2005 / blundy2020 / saper2022
    * (`Kd_iterate.py:31-100`): Kd from Fo, equilibrium Fo from Kd
    * (1/(1+Kd*Fe2Mg_liq)), repeat while the relative Fo step exceeds 1e-3,
    * at most 100 rounds. Only the model's Kd(Fo) kernel `kdAt` and its
    * per-row constants `lets` differ. */
  private def iterateKdFo(lets: Seq[(String, E)], kdAt: E => E, feOmol: E,
                          mgOmol: E, fe3fe2: E): Loop = {
    val (foi, foe, kd, f2m) = (C("_foi"), C("_foe"), C("_kd"), C("_f2m"))
    def eqFo(k: E): E = Lit(1.0) / (Lit(1.0) + k * f2m)
    val delta = abs(foi - foe) / foi
    Loop(lets :+ ("_f2m" -> feOmol * (Lit(1.0) / (Lit(1.0) + fe3fe2)) / mgOmol),
      Seq("_foi" -> Lit(0.85), "_kd" -> kdAt(foi), "_foe" -> eqFo(kd),
        "_delta" -> delta),
      Seq("_kd" -> kdAt(foi), "_foi" -> foe, "_foe" -> eqFo(kd),
        "_delta" -> delta),
      C("_delta") > Lit(0.001), 100, kd)
  }

  /** Toplis (2005) with the Fo iteration (`Kd_models.py:185-215`); inputs
    * in mole PERCENT (oxides) and mol fractions (FeO, MgO). phi and
    * SiO2_A do not depend on Fo, so the ln and pressure terms are per-row
    * constants and only 3000(1-2Fo)/RT iterates. */
  def toplis2005Iterative(siO2mp: E, na2Omp: E, k2Omp: E, h2Omp: E,
                          feOmol: E, mgOmol: E, fe3fe2: E, tK: E, pBar: E): Loop = {
    val (si, nk, rt) = (C("_si"), C("_na") + C("_k2"), C("_rt"))
    val phi = If(si > Lit(60.0),
      (Lit(11.0) - Lit(5.5) * (Lit(100.0) / (Lit(100.0) - si))) * exp(Lit(-0.31) * nk),
      (Lit(0.46) * (Lit(100.0) / (Lit(100.0) - si)) - Lit(0.93)) * nk +
        (Lit(-5.33) * (Lit(100.0) / (Lit(100.0) - si)) + Lit(9.69)))
    val sio2A = si + phi * nk + Lit(0.8) * C("_h2")
    iterateKdFo(Seq("_si" -> siO2mp, "_na" -> na2Omp, "_k2" -> k2Omp,
        "_h2" -> h2Omp, "_rt" -> Lit(R) * tK,
        "_bs" -> (Lit(-6766.0) / rt - Lit(7.34) / Lit(R) +
          ln(Lit(0.036) * sio2A - Lit(0.22))),
        "_pt" -> Lit(0.035) * (pBar - Lit(1.0)) / rt),
      fo => exp(C("_bs") + Lit(3000.0) * (Lit(1.0) - Lit(2.0) * fo) / rt + C("_pt")),
      feOmol, mgOmol, fe3fe2)
  }

  /** Blundy (2020) eq. 8 with the Fo iteration (`Kd_models.py:271-419`):
    * Kd_Fe2 = 0.3642 exp(312.7 (1-2Fo)/T) — the Fe3/FeTotal factor cancels
    * between Kd_Fe_total and the Fe2 correction; Fe3Fe2 (forced to
    * borisov2018 by the reference, `:352-362`) enters via equilibrium Fo. */
  def blundy2020Iterative(feOmol: E, mgOmol: E, fe3fe2Borisov: E, tK: E): Loop =
    iterateKdFo(Seq("_tk" -> tK),
      fo => Lit(0.3642) * exp(Lit(312.7) * (Lit(1.0) - Lit(2.0) * fo) / C("_tk")),
      feOmol, mgOmol, fe3fe2Borisov)

  /** Saper & Stolper (2022) eq. 10 with the Fo iteration (`Kd_models.py:
    * 655-752`): the Gibbs and melt cation interaction terms are a per-row
    * constant. */
  def saper2022Iterative(feOmol: E, mgOmol: E, catSi: E, catTi: E, catNaK: E,
                         fe3fe2: E, tK: E): Loop = {
    val (si, rt) = (C("_si"), C("_rt"))
    iterateKdFo(Seq("_si" -> catSi, "_ti" -> catTi, "_nak" -> catNaK,
        "_tk" -> tK, "_rt" -> Lit(R) * C("_tk"),
        "_bs" -> ((Lit(-6766.0) - Lit(7.34) * C("_tk")) / rt + Lit(1.0445) * si -
          Lit(1.3125) * C("_ti") - Lit(3.0550) * si * C("_nak"))),
      fo => exp(C("_bs") + Lit(3040.0) * (Lit(1.0) - Lit(2.0) * fo) / rt),
      feOmol, mgOmol, fe3fe2)
  }

  // The scalar and Column entry points run the same loops over arguments
  // named x0, x1, ...; a scalar one is built once per JVM
  private def args(n: Int): IndexedSeq[E] = (0 until n).map(i => C(s"x$i"))
  private def scalar(tree: String, l: => Loop, xs: Double*): Double =
    LoopExpression.scalar(s"Kd.$tree", xs.indices.map(i => s"x$i"))((Nil, l))(xs.toArray)
  private def column(l: Loop, xs: Column*): Column =
    LoopExpression.column(l, xs.indices.map(i => s"x$i" -> xs(i)).toMap)

  private lazy val toplis = {
    val a = args(9)
    toplis2005Iterative(a(0), a(1), a(2), a(3), a(4), a(5), a(6), a(7), a(8))
  }
  private lazy val blundy = { val a = args(4); blundy2020Iterative(a(0), a(1), a(2), a(3)) }
  private lazy val saper = {
    val a = args(7); saper2022Iterative(a(0), a(1), a(2), a(3), a(4), a(5), a(6))
  }

  private[graft] def toplisIterate(
      siO2mp: Double, na2Omp: Double, k2Omp: Double, h2Omp: Double,
      feOmol: Double, mgOmol: Double,
      fe3fe2: Double, tK: Double, pBar: Double): Double =
    scalar("toplis", toplis, siO2mp, na2Omp, k2Omp, h2Omp, feOmol, mgOmol, fe3fe2, tK, pBar)

  private[graft] def blundy2020Iterate(feOmol: Double, mgOmol: Double,
                                       fe3fe2Borisov: Double, tK: Double): Double =
    scalar("blundy", blundy, feOmol, mgOmol, fe3fe2Borisov, tK)

  private[graft] def saper2022Iterate(feOmol: Double, mgOmol: Double,
                                      catSi: Double, catTi: Double, catNaK: Double,
                                      fe3fe2: Double, tK: Double): Double =
    scalar("saper", saper, feOmol, mgOmol, catSi, catTi, catNaK, fe3fe2, tK)

  def blundy2020(feOmol: Column, mgOmol: Column, fe3fe2Borisov: Column,
                 tK: Column): Column =
    column(blundy, feOmol, mgOmol, fe3fe2Borisov, tK)

  def saper2022(feOmol: Column, mgOmol: Column, catSi: Column, catTi: Column,
                catNaK: Column, fe3fe2: Column, tK: Column): Column =
    column(saper, feOmol, mgOmol, catSi, catTi, catNaK, fe3fe2, tK)

  /** Column-level toplis2005 iterative Kd over mole-percent/mol-fraction
    * columns. */
  def toplis2005(siO2mp: Column, na2Omp: Column, k2Omp: Column, h2Omp: Column,
                 feOmol: Column, mgOmol: Column,
                 fe3fe2: Column, tK: Column, pBar: Column): Column =
    column(toplis, siO2mp, na2Omp, k2Omp, h2Omp, feOmol, mgOmol, fe3fe2, tK, pBar)

  /** Observed Kd from measured olivine+melt pair (J1 join query;
    * `core/MagmaFrames/olivine.py:60-95`): melt and olivine mol fractions
    * with melt Fe2+ from Fe3Fe2. Column names are prefixed by side. */
  def observed(meltFeMol: E, meltMgMol: E, olFeMol: E, olMgMol: E, fe3fe2: E): E = {
    val fe2Melt = meltFeMol * (Lit(1.0) / (Lit(1.0) + fe3fe2))
    (olFeMol / olMgMol) / (fe2Melt / meltMgMol)
  }
}
