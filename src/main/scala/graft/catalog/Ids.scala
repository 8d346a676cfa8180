package graft.catalog

/** Identity of a schema object — the reference's `SchemaId`
  * (the reference corpus's jobs/webcompat-kb/webcompat_kb/bqhelpers.py:28-129),
  * `project.dataset.name`.
  */
final case class SchemaId(project: String, dataset: String, name: String) {
  override def toString: String = s"$project.$dataset.$name"
  /** Spark-side identifier (catalog-safe, no ':'). */
  def sparkName: String = s"${project}_${dataset}_$name".replaceAll("[^A-Za-z0-9_]", "_")
}

/** Staging indirection (projectdata.py:579-633): every id has a
  * canonical form; a mapper rewrites dataset ids to `<dataset>_test` in
  * staging and decides per-object whether to read prod or staging. */
final case class StagingMapper(staging: Boolean, stagingSuffix: String = "_test",
    readFromProd: Set[String] = Set.empty) {
  def mapId(id: SchemaId): SchemaId =
    if (!staging || readFromProd.contains(id.name)) id
    else id.copy(dataset = id.dataset + stagingSuffix)
}
