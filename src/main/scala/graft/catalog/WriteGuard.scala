package graft.catalog

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Write guard + write-targets whitelist (SURVEY §2.10 D5) — the
  * reference's `write=False` dry-run and `write_targets` enforcement
  * (/root/reference/jobs/webcompat-kb/webcompat_kb/bqhelpers.py:367-395,
  * 434-438, 582-593): a disallowed target raises; write=false logs the
  * would-be effect instead of executing. Load-bearing for tests there,
  * same role here.
  */
final class WriteDeniedException(msg: String) extends RuntimeException(msg)

final case class WriteGuard(
    write: Boolean,
    writeTargets: Option[Set[String]] = None,
    log: String => Unit = s => System.err.println(s"[write-guard] $s")) {

  // appended by concurrent writers (a pack writes its tables in parallel)
  private var dryRunLogBuf: List[String] = Nil
  def dryRunLog: List[String] = synchronized(dryRunLogBuf.reverse)

  private def check(target: SchemaId): Unit =
    writeTargets.foreach { allowed =>
      if (!allowed.contains(target.name))
        throw new WriteDeniedException(
          s"write to ${target.name} not in write_targets ${allowed.mkString("{", ",", "}")}")
    }

  /** Guarded parquet write. Returns true when the write executed. */
  def writeTable(df: DataFrame, target: SchemaId, path: String,
      mode: SaveMode, partitionBy: Seq[String] = Nil): Boolean = {
    check(target)
    if (!write) {
      val msg = s"DRY-RUN $mode $target -> $path (${df.schema.fieldNames.mkString(",")})"
      synchronized { dryRunLogBuf ::= msg }
      log(msg)
      false
    } else {
      val w = df.write.mode(mode)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
      true
    }
  }
}
