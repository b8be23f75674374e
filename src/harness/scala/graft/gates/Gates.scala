package graft
package gates

/** The gate registry: every gate and bench-only row, family by family. */
object Gates {

  /** Every gate, in family and definition order. */
  lazy val all: Seq[Gate] = unique(Seq(RelationalGates, CatalogScanGates, CatalogGates,
    DedupGates, SimilarityGates, TextGates, MultimodalGates, EventGates).flatMap(_.gates))

  /** `gates`, refusing a name that appears twice. */
  def unique(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate name(s): ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }

  def apply(name: String): Gate =
    all.find(_.name == name).getOrElse(throw new NoSuchElementException(s"no gate named $name"))

  def tagged(tag: Tag): Seq[Gate] = all.filter(_.tags(tag))

  /** The gates `Verify` dumps: every one with an oracle. */
  def checked: Seq[Gate] = all.filter(_.oracle.isDefined)
}
