package graft.tools

/** Dev tool: dump `.explain("formatted")` of named queries to
  * individual files — the before/after plan evidence for optimization
  * rounds (`plans/rNN/<query>_<suffix>.txt`). Not part of the query
  * surface.
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <suffix> <q1,q2,...>
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "PlanSnap <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, names) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // the session Verify/Bench use, so the plans are theirs
    val spark = graft.GraftSession.getOrCreate("ERROR", cpus = 8)
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(outDir))
    names.split(",").foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Path.of(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
