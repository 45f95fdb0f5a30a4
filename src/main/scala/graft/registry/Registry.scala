package graft.registry

/** Every registered query, family by family, in declaration order. A new
  * query is one [[QuerySpec]] in its family's file; nothing else lists it.
  * A family object declares its SQL helpers above its `specs`: object vals
  * initialize in order, and `specs` reads the helpers as it is built.
  */
object Registry {

  val specs: Seq[QuerySpec] = Seq(
    RelationalQueries.specs,
    PlayStoreQueries.specs,
    EventsQueries.specs,
    DedupQueries.specs,
    SimilarityQueries.specs,
    TextQueries.specs,
    CorpusQueries.specs,
    GraphQueries.specs,
    MultimodalQueries.specs,
  ).flatten

  private val names: Set[String] = specs.map(_.name).toSet

  /** The names of the specs whose bench role satisfies `p`, in declaration order. */
  def benchRows(p: BenchRole => Boolean): Seq[String] =
    specs.filter(s => p(s.bench)).map(_.name)

  /** `requested` unchanged once every name is registered; otherwise throws
    * listing the unknown ones, so a misspelled filter fails instead of
    * silently running nothing for that name.
    */
  def known(requested: Seq[String]): Seq[String] = {
    val unknown = requested.filterNot(names)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    requested
  }
}
