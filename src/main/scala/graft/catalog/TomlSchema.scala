package graft.catalog

import TomlLite.{Doc, Section, TStr}

/** Bridge from the reference's `table.toml` / `meta.toml` schema files
  * to [[TableSchemaDef]] (TOML layer of projectdata.py:455-562:
  * `TableSchemaCreator.create_table_schema` renders the template, parses
  * TOML, and maps each `[field]` section to a SchemaField).
  *
  * Field sections are `[name]` with `type`/`mode` keys; nested RECORD
  * fields use dotted sections `[parent.fields.child]`
  * (e.g. data/sql/webcompat_knowledge_base/tables/bugs_history/table.toml).
  * `meta.toml` carries the table name plus optional `[partition]` with
  * `type="range"`, field/start/end/interval
  * (crux_imported/tables/host_min_ranks/meta.toml).
  */
object TomlSchema {

  /** Parse a (Jinja-rendered) table.toml body into field definitions. */
  def tableSchema(tableToml: String, metaToml: Option[String] = None): TableSchemaDef = {
    val doc = TomlLite.parse(tableToml)
    val top = doc.sections.filter(_.path.length == 1)
    val fields = top.map { sec => buildField(doc, sec) }
    TableSchemaDef(fields, metaToml.flatMap(partition))
  }

  private def buildField(doc: Doc, sec: Section): FieldDef = {
    val name = sec.path.last
    val tpe = doc.str(sec, "type").getOrElse(sys.error(s"field ${sec.path.mkString(".")} missing type"))
    val mode = doc.str(sec, "mode").getOrElse("NULLABLE") match {
      case "REQUIRED" => FieldMode.Required
      case "REPEATED" => FieldMode.Repeated
      case _ => FieldMode.Nullable
    }
    val children =
      if (tpe.equalsIgnoreCase("RECORD") || tpe.equalsIgnoreCase("STRUCT")) {
        val prefix = sec.path :+ "fields"
        doc.sections.filter(s => s.path.length == prefix.length + 1 && s.path.startsWith(prefix))
          .map(buildField(doc, _))
      } else Nil
    FieldDef(name, normalizeType(tpe), mode, children)
  }

  /** BigQuery type spellings used in the corpus → FieldDef vocabulary. */
  private def normalizeType(t: String): String = t.toUpperCase match {
    case "INTEGER" => "INT64"
    case "FLOAT" => "FLOAT64"
    case "BOOLEAN" => "BOOL"
    case other => other
  }

  def tableName(metaToml: String): Option[String] =
    TomlLite.parse(metaToml).root.get("name").collect { case TStr(s) => s }

  def partition(metaToml: String): Option[RangePartition] = {
    val doc = TomlLite.parse(metaToml)
    doc.section(Seq("partition")).flatMap { sec =>
      if (doc.str(sec, "type").contains("range"))
        for {
          field <- doc.str(sec, "field")
          start <- doc.int(sec, "start")
          end <- doc.int(sec, "end")
        } yield RangePartition(field, start, end, doc.int(sec, "interval").getOrElse(1L))
      else None
    }
  }
}
