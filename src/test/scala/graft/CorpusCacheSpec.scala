package graft

import java.nio.file.{Files, Path}
import graft.dag.CorpusLoader

/** The treehash short-circuit on the fused corpus exec sweep
  * (CorpusLoader.deployAndExecuteCached): a byte-identical corpus tree
  * must NOT be redeployed within a session — the reference's
  * update_schema.py treehash gate — and ANY byte change anywhere in
  * sql/ or metrics/ must invalidate. */
class CorpusCacheSpec extends SparkTestBase {

  /** Minimal but complete corpus: one dataset, one table stand-in, one
    * view over it, and minimal metrics globals — self-contained, so it
    * runs without the reference corpus. */
  private def makeCorpus(): Path = {
    val root = Path.of(scratch.dir("corpus_cache"))
    val ds = root.resolve("sql/demo")
    Files.createDirectories(ds.resolve("tables/base"))
    Files.createDirectories(ds.resolve("views/v1"))
    Files.writeString(ds.resolve("meta.toml"), "name = \"demo\"\n")
    Files.writeString(ds.resolve("tables/base/meta.toml"), "name = \"base\"\n")
    Files.writeString(ds.resolve("tables/base/table.toml"),
      """[id]
        |type = "INTEGER"
        |mode = "REQUIRED"
        |
        |[v]
        |type = "STRING"
        |""".stripMargin)
    Files.writeString(ds.resolve("views/v1/view.sql"),
      "SELECT id, v FROM {{ ref('demo.base') }} WHERE id IS NOT NULL")
    // the Jinja globals: one metric and one rank, enough for the loader
    // (the view uses neither)
    Files.createDirectories(root.resolve("metrics"))
    Files.writeString(root.resolve("metrics/metrics.toml"),
      "[all]\ntype = \"unconditional\"\n")
    Files.writeString(root.resolve("metrics/ranks.toml"), "[global_rank]\n")
    root
  }

  test("unchanged tree: second sweep returns the recorded outcomes, no redeploy") {
    val root = makeCorpus()
    val first = CorpusLoader.deployAndExecuteCached(spark, root, rowsPerTable = 8)
    val second = CorpusLoader.deployAndExecuteCached(spark, root, rowsPerTable = 8)
    assert(second._1 eq first._1, "cache missed on an identical tree")
    assert(first._1.failures.isEmpty, s"deploy failed: ${first._1.failures}")
    assert(first._2.nonEmpty && first._2.forall(_.ok))
  }

  test("any byte change in the tree invalidates the cache") {
    val root = makeCorpus()
    val first = CorpusLoader.deployAndExecuteCached(spark, root, rowsPerTable = 8)
    val h0 = CorpusLoader.corpusTreeHash(root)
    val viewFile = root.resolve("sql/demo/views/v1/view.sql")
    Files.writeString(viewFile, Files.readString(viewFile) + " -- touched")
    assert(CorpusLoader.corpusTreeHash(root) != h0, "hash blind to an edit")
    val second = CorpusLoader.deployAndExecuteCached(spark, root, rowsPerTable = 8)
    assert(!(second._1 eq first._1), "stale cache served after an edit")
    assert(second._1.failures.isEmpty)
  }

  test("different fixture params are distinct cache keys") {
    val root = makeCorpus()
    val a = CorpusLoader.deployAndExecuteCached(spark, root, rowsPerTable = 8)
    val b = CorpusLoader.deployAndExecuteCached(spark, root, rowsPerTable = 16)
    assert(!(a._1 eq b._1))
  }
}
