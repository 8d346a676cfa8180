package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // (the driver passes two args = full sweep; the filter is dev-loop only)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // GraftSession runs the window-top-k rewrite GLOBALLY here: every
    // window-top-k idiom in the query surface goes through the rule, and
    // the DuckDB oracle replays the window form — so the full gate
    // doubles as the rule's suite-wide semantic proof (every ORDER BY in
    // the surface is total, so ties cannot diverge).
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A thrown query must surface as FAIL, never as absence: write a
        // one-row marker result (schema can't match any oracle → the
        // driver's compare records a mismatch row) plus an error sidecar
        // with the full message for humans.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(s"GRAFT_QUERY_FAILED: ${e.getClass.getName}: ${e.getMessage}")
            .toDF("graft_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          val errDir = Paths.get(s"$outDir/_errors")
          Files.createDirectories(errDir)
          Files.writeString(errDir.resolve(s"$name.txt"),
            s"${e.getClass.getName}: ${e.getMessage}\n" +
              e.getStackTrace.take(20).mkString("", "\n", "\n"))
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
