package graft.core

import org.apache.spark.sql.DataFrame
import graft.chem.Elements
import graft.expr._
import graft.expr.E._

/** Units / datatype enums (reference `core/enums.py:4-14`). */
sealed trait CUnit
object CUnit {
  case object WtPc extends CUnit
  case object MolFrac extends CUnit
  case object Ppm extends CUnit
}
sealed trait CType
object CType {
  case object Oxide extends CType
  case object Cation extends CType
}

/** Column classification of a composition table: `elements` are chemical
  * columns (order matters — row totals are left-assoc sums in schema order),
  * `passthrough` are id/condition columns carried unchanged (sample_id, T_K,
  * P_bar, ...). The reference classifies by attempting a formula-weight
  * calculation per column (`parse_io/readers.py:50-57`). */
final case class MagmaSchema(
    elements: Vector[String],
    passthrough: Vector[String],
    units: CUnit,
    datatype: CType
) {
  def weights: Vector[Double] =
    elements.map(e => Elements.chemicalWeight(e).getOrElse(
      throw new IllegalArgumentException(s"not a chemical column: $e")))
}

/** A staged composition pipeline: a schema plus the SELECT stages that
  * produce it from the source. This is the engine's expression compiler —
  * every reference conversion (SURVEY.md §2.6) appends pure-arithmetic
  * stages. Compile with `spark(df)` (chained Catalyst projections, fully
  * codegen'd) or render the identical arithmetic as SQL for the DuckDB
  * oracle via `Pipeline.toSql`. */
final case class Staged(schema: MagmaSchema, stages: Vector[Stage]) {
  import Staged._

  private def pass: Seq[(String, E)] = schema.passthrough.map(c => c -> (C(c): E))
  private def ids: Seq[(String, E)] = schema.elements.map(e => e -> (C(e): E))
  private def sumEls: E = sumAll(schema.elements.map(C(_): E))

  /** Stages pass through [[Cse]]: repeated subtrees (normalisation
    * denominators, cation sums) are hoisted into prelude projections so
    * every stage stays small enough for whole-stage codegen. */
  def withStage(cols: Seq[(String, E)]): Staged =
    copy(stages = stages ++ Cse.expand(Stage(cols)))

  /** total = Σ element columns — the invariant the reference maintains on
    * every mutation (`magmaFrame.py:156-174`); here a derived column. */
  def withTotal: Staged = withStage(pass ++ ids :+ ("total" -> sumEls))

  /** ppm <-> wt.% (`magmaFrame.py:340-353`). */
  def convertPpmWtPc: Staged = {
    val (factor, newUnits) = schema.units match {
      case CUnit.WtPc => (Lit(1e4), CUnit.Ppm)
      case CUnit.Ppm  => (Lit(1e-4), CUnit.WtPc)
      case u          => throw new IllegalArgumentException(s"ppm conversion from $u")
    }
    copy(schema = schema.copy(units = newUnits))
      .withStage(pass ++ schema.elements.map(e => e -> (C(e) * factor: E)))
  }

  /** wt.% <-> mol, the workhorse conversion (`magmaFrame.py:355-385`).
    * wt.%->mol: x/weight; mol->wt.%: x*weight; optional normalisation
    * (and x100 when converting mol->wt.%). */
  private def convertMolesWtPc(normalise: Boolean): Staged = {
    val toMol = schema.units == CUnit.WtPc
    val ws = schema.weights
    val s1 = schema.elements.zip(ws).map { case (e, w) =>
      e -> (if (toMol) C(e) / Lit(w) else C(e) * Lit(w): E)
    }
    val base = copy(schema =
      schema.copy(units = if (toMol) CUnit.MolFrac else CUnit.WtPc))
      .withStage(pass ++ s1)
    if (!normalise) base.withTotal
    else {
      val norm = base.withStage(base.pass ++ base.schema.elements.map(e =>
        e -> (C(e) / base.sumEls: E)))
      if (toMol) norm.withTotal
      else // mol -> wt.%: scale everything (incl. total) by 100
        norm.withStage(norm.pass ++ norm.schema.elements.map(e =>
          e -> (C(e) * Lit(100.0): E)) :+ ("total" -> (norm.sumEls * Lit(100.0): E)))
    }
  }

  /** C1: data as mol fractions (`magmaFrame.py:177-192`). */
  def moles(normalise: Boolean = true): Staged = schema.units match {
    case CUnit.MolFrac => this
    case CUnit.WtPc    => convertMolesWtPc(normalise)
    case CUnit.Ppm     => convertPpmWtPc.convertMolesWtPc(normalise)
  }

  /** C2: data as wt.% (`magmaFrame.py:194-207`). */
  def wtPc(normalise: Boolean = true): Staged = schema.units match {
    case CUnit.WtPc    => this
    case CUnit.MolFrac => convertMolesWtPc(normalise)
    case CUnit.Ppm     => convertPpmWtPc
  }

  /** C3: data as ppm (`magmaFrame.py:209-223`). */
  def ppm: Staged = schema.units match {
    case CUnit.Ppm     => this
    case CUnit.WtPc    => convertPpmWtPc
    case CUnit.MolFrac => convertMolesWtPc(true).convertPpmWtPc
  }

  /** C6: scale elements so Σ = `to` (`magmaFrame.py:418-447`). */
  def normalise(to: Option[Double] = None): Staged = {
    val norm = to.getOrElse(if (schema.units == CUnit.WtPc) 100.0 else 1.0)
    val s = withStage(pass ++ schema.elements.map(e =>
      e -> (C(e) / sumEls * Lit(norm): E)))
    s.withTotal
  }

  /** C4: oxide -> cation mol fractions (`magmaFrame.py:225-264`).
    * Oxide moles x cations-per-oxide, columns renamed to cation names
    * (Al2O3->Al, Fe2O3->Fe3), normalised to `normTo`. */
  def cations(normalise: Boolean = true, normTo: Double = 1.0,
              molFractions: Boolean = true): Staged = {
    require(schema.datatype == CType.Oxide, "cations() needs oxide data")
    val m = moles(normalise = false)
    // multiply by cations-per-oxide and rename
    val renamed = m.schema.elements.map { ox =>
      Elements.cationName(ox) -> (C(ox) * Lit(Elements.cationAmount(ox)): E)
    }
    val catNames = renamed.map(_._1)
    val c0 = m.copy(schema = m.schema.copy(elements = catNames,
        datatype = CType.Cation, units = CUnit.MolFrac))
      .withStage(m.pass ++ renamed)
    val (c1, finalNorm) =
      if (molFractions) (c0, normTo)
      else { // cation wt.%: x weights, norm to 100
        val ws = c0.schema.weights
        (c0.copy(schema = c0.schema.copy(units = CUnit.WtPc))
          .withStage(c0.pass ++ c0.schema.elements.zip(ws).map { case (e, w) =>
            e -> (C(e) * Lit(w): E)
          }), 100.0)
      }
    if (!normalise) c1.withTotal
    else c1.withStage(c1.pass ++ c1.schema.elements.map(e =>
        e -> (C(e) / c1.sumEls * Lit(finalNorm): E)) :+
        ("total" -> (Lit(finalNorm): E)))
  }

  /** C5: cation -> oxide data (`magmaFrame.py:266-313`), optional explicit
    * oxidation states, e.g. Map("Fe" -> 3) -> Fe2O3. */
  def oxides(normalise: Boolean = true,
             oxidationState: Map[String, Int] = Map.empty): Staged = {
    val origUnits = schema.units
    val cs =
      if (schema.datatype == CType.Cation) {
        // cation wt.% input still needs the mole conversion first
        if (schema.units == CUnit.MolFrac) this else moles(normalise = false)
      } else cations(normalise = false)
    val renamed = cs.schema.elements.map { cat =>
      val el = cat.replaceAll("\\d+", "")
      val ox = oxidationState.get(el)
        .map(st => Elements.oxideNameWithState(cat, st))
        .getOrElse(Elements.oxideName(cat))
      ox -> (C(cat) / Lit(Elements.cationAmount(ox)): E)
    }
    val o0 = cs.copy(schema = cs.schema.copy(elements = renamed.map(_._1).toVector,
        datatype = CType.Oxide, units = CUnit.MolFrac))
      .withStage(cs.pass ++ renamed)
    val o1 = o0.withTotal
    if (origUnits == CUnit.MolFrac) { if (normalise) o1.normalise() else o1 }
    else { val w = o1.wtPc(normalise = false); if (normalise) w.normalise() else w }
  }

  /** C9: oxygen atoms per 1 mole cations (`magmaFrame.py:315-338`). */
  def withOxygen(as: String = "oxygen"): Staged = {
    val cs = if (schema.datatype == CType.Cation) this else cations()
    val terms = cs.schema.elements.map { cat =>
      val ox = Elements.oxideName(cat)
      val opc = Elements.oxygenAmount(ox) / Elements.cationAmount(ox)
      C(cat) * Lit(opc): E
    }
    cs.withStage(cs.pass ++ cs.ids :+ (as -> sumAll(terms)))
  }

  /** C8: mineral formula normalised to `nO` oxygens p.f.u.
    * (`magmaFrame.py:387-416`). */
  def mineralFormula(nO: Double): Staged = {
    val oxideEls = schema.elements // oxide names drive O-per-cation
    val cs = cations()
    val opcs = oxideEls.map(ox =>
      Elements.oxygenAmount(ox) / Elements.cationAmount(ox))
    val oxyTotal = sumAll(cs.schema.elements.zip(opcs).map { case (c, opc) =>
      C(c) * Lit(opc): E
    })
    cs.withStage(cs.pass ++ cs.schema.elements.map(c =>
      c -> (C(c) * (Lit(nO) / oxyTotal): E)) :+ ("O" -> (Lit(nO): E)))
  }

  /** C11: split total Fe (as FeO) into FeO + Fe2O3 from an Fe3+/Fe2+ ratio
    * expression, back to normalised wt.% (`core/MagmaFrames/melt.py:225-274`). */
  def feSplit(fe3fe2: E, wtpc: Boolean = true): Staged = {
    val m = moles()
    val fe2FeTot = Lit(1.0) / (Lit(1.0) + fe3fe2)
    val cols = m.pass ++ m.schema.elements.map {
      case "FeO" => "FeO" -> (C("FeO") * fe2FeTot: E)
      case e     => e -> (C(e): E)
    } :+ ("Fe2O3" -> (C("FeO") * (Lit(1.0) - fe2FeTot) / Lit(2.0): E))
    val split = m.copy(schema = m.schema.copy(
      elements = m.schema.elements :+ "Fe2O3")).withStage(cols).withTotal
    if (wtpc) split.wtPc() else split
  }

  /** C13: melt polymerisation — tetrahedral cations, NBO, NBO/T
    * (`core/MagmaFrames/melt.py:113-160`). */
  def meltPolymerisation: Staged = {
    val cs = cations()
    val tetSet = Set("Si", "Ti", "Al", "P")
    val tetEls = cs.schema.elements.filter(tetSet.contains)
    val terms = cs.schema.elements.map { cat =>
      val ox = Elements.oxideName(cat)
      val opc = Elements.oxygenAmount(ox) / Elements.cationAmount(ox)
      C(cat) * Lit(opc): E
    }
    val s1 = cs.withStage(cs.pass ++ cs.ids :+
      ("oxygen" -> sumAll(terms)) :+
      ("tetrahedral" -> sumAll(tetEls.map(C(_): E))))
    s1.withStage(s1.pass ++ s1.ids ++ Seq(
      "oxygen" -> (C("oxygen"): E),
      "tetrahedral" -> (C("tetrahedral"): E),
      "NBO" -> (Lit(2.0) * C("oxygen") - Lit(4.0) * C("tetrahedral"): E),
      "NBO_T" -> ((Lit(2.0) * C("oxygen") - Lit(4.0) * C("tetrahedral")) / C("tetrahedral"): E)))
  }

  /** C16/C17: Fo# / Mg# = Mg/(Mg+Fe) in moles (`olivine.py:33-51`,
    * `clinopyroxene.py:32-50`). */
  def withMgNumber(as: String): Staged = {
    val m = if (schema.units == CUnit.WtPc) moles() else this
    val (mg, fe) = if (schema.datatype == CType.Oxide) ("MgO", "FeO") else ("Mg", "Fe")
    m.withStage(m.pass ++ m.ids :+ (as -> (C(mg) / (C(fe) + C(mg)): E)))
  }

  /** C19: magnetite-ulvospinel endmembers, Lindsley/QUILF
    * (`core/MagmaFrames/magnetite.py:17-43`): cations normalised to 3. */
  def magnetiteEndmembers: Staged = {
    val cs = cations(normTo = 3.0)
    def c(n: String): E = C(n)
    val mt0 = ((c("Mg") + c("Mn") + c("Fe")) - Lit(2.0) * c("Ti") -
      c("Al") / Lit(2.0)) / Lit(3.0)
    val usp0 = c("Ti") - c("Mn") / Lit(2.0) - c("Mg") / Lit(2.0)
    val total = mt0 + usp0 + c("Mg") / Lit(2.0)
    val usp = (usp0 + c("Mg") / Lit(2.0)) / total
    cs.withStage(cs.pass ++ Seq(
      "magnetite" -> (Lit(1.0) - usp: E), "ulvospinel" -> (usp: E)))
  }

  /** C19b: magnetite Fe speciation (Fe3 = 2 x magnetite fraction at 3
    * cations; `magnetite.py:45-117`), returned as cation fractions. */
  def magnetiteFeSpeciation: Staged = {
    val cs = cations(normTo = 3.0)
    def c(n: String): E = C(n)
    val mt = ((c("Mg") + c("Mn") + c("Fe")) - Lit(2.0) * c("Ti") -
      c("Al") / Lit(2.0)) / Lit(3.0)
    val fe3 = Lit(2.0) * mt
    val fe2 = mt + Lit(2.0) * c("Ti") + c("Al") / Lit(2.0) - c("Mg") - c("Mn")
    val others = cs.schema.elements.filterNot(_ == "Fe")
    val out = cs.withStage(cs.pass ++ others.map(e => e -> (C(e): E)) ++
      Seq("Fe" -> (fe2: E), "Fe3" -> (fe3: E)))
    out.copy(schema = out.schema.copy(elements = others :+ "Fe" :+ "Fe3"))
  }

  /** C20: ilmenite endmembers, Andersen/QUILF (`ilmenite.py:17-50`):
    * cations normalised to 2. */
  def ilmeniteEndmembers: Staged = {
    val cs = cations(normTo = 2.0)
    def c(n: String): E = C(n)
    val hemM = ((c("Fe") + c("Mg") + c("Mn")) - c("Ti")) / Lit(2.0)
    val fe2 = c("Ti") - c("Mg") - c("Mn")
    val ilmM = fe2 + c("Al") / Lit(2.0)
    val tot = hemM + ilmM + c("Mn") + c("Mg")
    cs.withStage(cs.pass ++ Seq(
      "hematite" -> (hemM / tot: E), "ilmenite" -> (ilmM / tot: E),
      "geikielite" -> (c("Mg") / tot: E), "pyrophanite" -> (c("Mn") / tot: E)))
  }

  /** C18: plagioclase An/Ab/Or endmembers (`plagioclase.py:40-52`). */
  def plagEndmembers: Staged = {
    val cs = cations()
    val denom = C("Ca") + C("Na") + C("K")
    cs.withStage(cs.pass ++ Seq(
      "anorthite" -> (C("Ca") * Lit(100.0) / denom: E),
      "albite" -> (C("Na") * Lit(100.0) / denom: E),
      "orthoclase" -> (C("K") * Lit(100.0) / denom: E)))
  }

  /** Keep only the listed output columns (projection; Catalyst prunes the
    * upstream stages automatically). */
  def select(cols: String*): Staged = withStage(cols.map(c => c -> (C(c): E)))

  /** Rewrite every element column through `f` (passthroughs carried) —
    * e.g. per-element perturbation or rounding. */
  def mapElements(f: (String, Int) => E): Staged =
    withStage(pass ++ schema.elements.zipWithIndex.map { case (e, i) =>
      e -> f(e, i) })

  /** Add a derived column from an expression over the current stage; the new
    * column becomes passthrough for later stages (so derives chain). */
  def derive(name: String, e: E): Staged = derive(Seq(name -> e))

  /** The same for several columns, added in one stage. */
  def derive(cols: Seq[(String, E)]): Staged = {
    val st = withStage(pass ++ ids ++ cols)
    st.copy(schema = st.schema.copy(passthrough = st.schema.passthrough ++ cols.map(_._1)))
  }

  /** Compile to a Spark DataFrame. */
  def spark(df: DataFrame): DataFrame = Pipeline.applySpark(df, stages)

  /** Render the oracle SQL over a named source table/subquery. */
  def sql(source: String, orderBy: Seq[String]): String =
    Pipeline.toSql(source, stages, orderBy)
}

object Staged {
  /** Entry point: declare a source's schema; stage list starts empty (the
    * source stage itself is prepended by the caller, e.g. the derived-table
    * definitions in [[graft.Tables]]). */
  def apply(elements: Seq[String], passthrough: Seq[String],
            units: CUnit = CUnit.WtPc, datatype: CType = CType.Oxide): Staged =
    Staged(MagmaSchema(elements.toVector, passthrough.toVector, units, datatype),
      Vector.empty)
}

/** User-facing wrapper: a DataFrame tagged with composition schema, with
  * eager conversion methods (the library surface a MagmaPandas user would
  * call). Thin veneer over [[Staged]]. */
final case class MagmaDF(df: DataFrame, staged: Staged) {
  private def run(f: Staged => Staged): MagmaDF = {
    val next = f(Staged(staged.schema, Vector.empty))
    MagmaDF(Pipeline.applySpark(df, next.stages), next.copy(stages = Vector.empty))
  }
  def elements: Seq[String] = staged.schema.elements
  def units: CUnit = staged.schema.units
  def datatype: CType = staged.schema.datatype
  /** Re-derive the row total from the current element columns — the same
    * recompute the reference does at read time (`parse_io/readers.py:59-61`
    * `df["total"] = df[elements].sum(axis=1)`; any stale input total was
    * already dropped at wrap). */
  def total: MagmaDF = run(_.withTotal)
  def moles(normalise: Boolean = true): MagmaDF = run(_.moles(normalise))
  def wtPc(normalise: Boolean = true): MagmaDF = run(_.wtPc(normalise))
  def ppm: MagmaDF = run(_.ppm)
  def normalise(to: Option[Double] = None): MagmaDF = run(_.normalise(to))
  def cations(normalise: Boolean = true, normTo: Double = 1.0,
              molFractions: Boolean = true): MagmaDF =
    run(_.cations(normalise, normTo, molFractions))
  def oxides(normalise: Boolean = true,
             oxidationState: Map[String, Int] = Map.empty): MagmaDF =
    run(_.oxides(normalise, oxidationState))
  def mineralFormula(nO: Double): MagmaDF = run(_.mineralFormula(nO))
  def feSplit(fe3fe2: E): MagmaDF = run(_.feSplit(fe3fe2))
}

object MagmaDF {
  /** Wrap a DataFrame: classify columns as chemical vs passthrough the way
    * the reference does at read time (`parse_io/readers.py:50-57`). */
  def wrap(df: DataFrame, units: CUnit, datatype: CType,
           keep: Seq[String] = Seq.empty): MagmaDF = {
    val els = df.columns.filter(c => c != "total" && Elements.isChemical(c)).toVector
    val keepSet = keep.toSet
    val pass = df.columns.filter(c =>
      !els.contains(c) && c != "total" &&
        (keepSet.isEmpty || keepSet.contains(c))).toVector
    MagmaDF(df, Staged(MagmaSchema(els, pass, units, datatype), Vector.empty))
  }
}
