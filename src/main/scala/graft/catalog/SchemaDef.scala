package graft.catalog

import org.apache.spark.sql.types._

/** Declarative schema definitions → Spark StructType.
  *
  * Mirrors `SchemaField`/`SchemaRecordField`
  * (the reference corpus's jobs/webcompat-kb/webcompat_kb/bqhelpers.py:138-180).
  */
sealed trait FieldMode
object FieldMode {
  case object Nullable extends FieldMode
  case object Required extends FieldMode
  case object Repeated extends FieldMode
}

final case class FieldDef(
    name: String,
    fieldType: String, // STRING INT64 FLOAT64 BOOL NUMERIC DATE DATETIME TIMESTAMP JSON RECORD
    mode: FieldMode = FieldMode.Nullable,
    fields: Seq[FieldDef] = Nil) {

  def sparkType: DataType = {
    val base: DataType = fieldType.toUpperCase match {
      case "STRING" | "JSON" => StringType
      case "INT64" | "INTEGER" => LongType
      case "FLOAT64" | "FLOAT" => DoubleType
      case "BOOL" | "BOOLEAN" => BooleanType
      case "NUMERIC" => DecimalType(38, 9)
      case "DATE" => DateType
      case "DATETIME" | "TIMESTAMP" => TimestampType
      case "RECORD" | "STRUCT" => StructType(fields.map(_.sparkField))
      case other => sys.error(s"Unsupported field type: $other")
    }
    mode match {
      case FieldMode.Repeated => ArrayType(base, containsNull = false)
      case _ => base
    }
  }

  def sparkField: StructField =
    StructField(name, sparkType, nullable = mode != FieldMode.Required)
}

final case class TableSchemaDef(fields: Seq[FieldDef],
    rangePartition: Option[RangePartition] = None) {
  def toStructType: StructType = StructType(fields.map(_.sparkField))
}

/** Integer range partitioning (bqhelpers.py:246-252, 288-301) — maps to
  * partitioned parquet on the bucketed column. */
final case class RangePartition(field: String, start: Long, end: Long, interval: Long)
