package graft.models

import graft.chem.Elements
import graft.expr._
import graft.expr.E._

/** Expression-building context over an oxide wt.% composition whose element
  * columns are in scope. Inlines the reference's conversion chains (moles,
  * anhydrous, cations, cation-moles-per-oxygen) as closed-form arithmetic so
  * a whole model evaluates in ONE Catalyst projection stage.
  *
  * Missing components read as 0.0, mirroring the reference's
  * `check_components` zero-fill (`parse_io/parse.py:47-66`).
  */
final case class CompCtx(elements: Vector[String]) {
  def has(e: String): Boolean = elements.contains(e)
  private def w(e: String): Double = Elements.chemicalWeight(e).get

  /** Oxide wt.% (0 when absent). */
  def wt(e: String): E = if (has(e)) C(e) else Lit(0.0)

  /** Non-normalised oxide moles x/weight. */
  def mol(e: String): E = if (has(e)) C(e) / Lit(w(e)) else Lit(0.0)

  def molSum: E = sumAll(elements.map(mol))

  /** Normalised oxide mol fraction. */
  def molNorm(e: String): E = mol(e) / molSum

  def without(drop: String*): CompCtx =
    CompCtx(elements.filterNot(drop.toSet))

  def anhydrous: CompCtx = without("H2O")
  def volatileFree: CompCtx = without("H2O", "CO2", "F", "S", "Cl")

  /** Oxide for a cation symbol present in this composition (FeO for "Fe",
    * Fe2O3 for "Fe3", ...). */
  def oxideOf(cation: String): Option[String] =
    elements.find(ox => Elements.cationName(ox) == cation)

  /** Normalised cation mol fraction (reference `cations()`,
    * `magmaFrame.py:225-264`); 0 when the cation's oxide is absent. */
  def cat(cation: String): E = oxideOf(cation) match {
    case None => Lit(0.0)
    case Some(ox) =>
      val num = mol(ox) * Lit(Elements.cationAmount(ox))
      val den = sumAll(elements.map(o => mol(o) * Lit(Elements.cationAmount(o))))
      num / den
  }

  /** Cation moles per 1 mole total oxygen (reference
    * `cation_moles_per_oxygen`, `tools/modify_compositions.py:38-74`),
    * computed on the volatile-free subcomposition by callers that need it.
    * Key by ORIGINAL oxide name. */
  def catPerOxygen(ox: String): E = {
    val withO = elements.filter(e => Elements.oxygenAmount(e) > 0)
    if (!withO.contains(ox)) Lit(0.0)
    else {
      val oTot = sumAll(withO.map(o => mol(o) * Lit(Elements.oxygenAmount(o))))
      mol(ox) * Lit(Elements.oxygenAmount(ox)) / oTot *
        Lit(Elements.cationAmount(ox) / Elements.oxygenAmount(ox))
    }
  }
}
