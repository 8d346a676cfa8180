package graft.catalog

/** Identity model for datasets and schema objects — mirrors the
  * reference's `DatasetId`/`SchemaId` semantics
  * (/root/reference/jobs/webcompat-kb/webcompat_kb/bqhelpers.py:28-129):
  * `project:dataset.name` / `project.dataset.name` / partial forms, with
  * defaults filled from the ambient context.
  */
final case class DatasetId(project: String, dataset: String) {
  override def toString: String = s"$project.$dataset"
}

object DatasetId {
  /** Parse `project:dataset`, `project.dataset`, or bare `dataset` (with
    * default project). */
  def fromString(s: String, defaultProject: Option[String] = None): DatasetId = {
    val norm = s.replace(':', '.')
    norm.split('.') match {
      case Array(p, d) => DatasetId(p, d)
      case Array(d) => DatasetId(
        defaultProject.getOrElse(sys.error(s"DatasetId '$s': no project and no default")), d)
      case _ => sys.error(s"Invalid dataset id: '$s'")
    }
  }
}

final case class SchemaId(project: String, dataset: String, name: String) {
  override def toString: String = s"$project.$dataset.$name"
  /** Spark-side identifier (catalog-safe, no ':'). */
  def sparkName: String = s"${project}_${dataset}_$name".replaceAll("[^A-Za-z0-9_]", "_")
}

object SchemaId {
  /** Parse `project:dataset.name`, `project.dataset.name`,
    * `dataset.name`, or bare `name` against defaults. */
  def fromString(s: String, defaultProject: Option[String] = None,
      defaultDataset: Option[String] = None): SchemaId = {
    val norm = s.replace(':', '.')
    norm.split('.') match {
      case Array(p, d, n) => SchemaId(p, d, n)
      case Array(d, n) => SchemaId(
        defaultProject.getOrElse(sys.error(s"SchemaId '$s': missing project")), d, n)
      case Array(n) =>
        (defaultProject, defaultDataset) match {
          case (Some(p), Some(d)) => SchemaId(p, d, n)
          case _ => sys.error(s"SchemaId '$s': missing dataset/project defaults")
        }
      case _ => sys.error(s"Invalid schema id: '$s'")
    }
  }
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
