package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Row, SaveMode}
import graft.catalog.{MutableTable, SchemaId, WriteDeniedException, WriteGuard}
import graft.dag.{ViewDag, ViewDef}
import graft.llm.TextDedup
import graft.operators.{Closure, Collect, Dedup, Incremental}

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  test("Dedup.latestPerKey keeps exactly one latest row per key") {
    val df = Seq((1, 10, "a"), (1, 20, "b"), (2, 5, "c")).toDF("k", "ts", "v")
    val got = Dedup.latestPerKey(df, Seq("k"), Seq(col("ts").desc))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getString(2))).toSeq
    assert(got == Seq((1, "b"), (2, "c")))
  }

  test("Collect.orderedLimitedCollect returns top-k in order") {
    val df = Seq((1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (2, 9, "z")).toDF("g", "ord", "v")
    val got = df.groupBy("g")
      .agg(Collect.orderedLimitedCollect(col("ord"), col("v"), 2).as("top"))
      .orderBy("g").collect().map(_.getSeq[String](1)).toSeq
    assert(got == Seq(Seq("a", "b"), Seq("z")))
  }

  test("ViewDag: refs, topo sort, cycle detection, tree hash, short-circuit") {
    assert(ViewDag.extractRefs("SELECT * FROM {{ ref('a') }} JOIN {{ref(\"b\")}}") ==
      Seq("a", "b"))
    val views = Seq(
      ViewDef("c", "SELECT * FROM {{ ref('b') }}"),
      ViewDef("b", "SELECT * FROM {{ ref('a') }}"),
      ViewDef("a", "SELECT 1 AS x"))
    assert(ViewDag.topoSort(views) == Seq("a", "b", "c"))
    val cyc = Seq(ViewDef("a", "{{ ref('b') }}"), ViewDef("b", "{{ ref('a') }}"))
    intercept[RuntimeException](ViewDag.topoSort(cyc))
    val h = ViewDag.treeHash(views)
    assert(ViewDag.deploy(spark, views, lastHash = Some(h)).skipped)
    val res = ViewDag.deploy(spark, views, lastHash = Some("stale"))
    assert(!res.skipped && res.deployed == Seq("a", "b", "c"))
    assert(spark.table("c").collect().toSeq == Seq(Row(1)))
  }

  test("WriteGuard: dry-run logs instead of writing; whitelist enforced") {
    val dir = scratch.dir("wg")
    val df = Seq((1, "x")).toDF("id", "v")
    val dry = WriteGuard(write = false, log = _ => ())
    assert(!dry.writeTable(df, SchemaId("p", "d", "t"), s"$dir/t", SaveMode.Overwrite))
    assert(dry.dryRunLog.exists(_.contains("DRY-RUN")))
    assert(!new java.io.File(s"$dir/t").exists())
    val guarded = WriteGuard(write = true, writeTargets = Some(Set("allowed")))
    intercept[WriteDeniedException](
      guarded.writeTable(df, SchemaId("p", "d", "denied"), s"$dir/x", SaveMode.Overwrite))
    assert(guarded.writeTable(df, SchemaId("p", "d", "allowed"), s"$dir/ok", SaveMode.Overwrite))
    assert(spark.read.parquet(s"$dir/ok").count() == 1)
  }

  test("MutableTable: update-from + delete-where rewrite semantics") {
    val dir = scratch.dir("mt")
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)).toDF("id", "grp", "bal")
      .write.parquet(dir + "/t")
    val tbl = MutableTable(spark, dir + "/t")
    tbl.updateFrom(Seq((1, 99.0), (3, 77.0)).toDF("id", "newbal"),
      Seq("id"), Map("bal" -> "newbal"))
    tbl.deleteWhere(col("grp") === "b")
    val got = tbl.read.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getDouble(2))).toSeq
    assert(got == Seq((1, 99.0), (3, 77.0)))
  }

  test("Closure.transitiveClosure reaches fixpoint on a chain + respects maxIter") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val full = Closure.transitiveClosure(edges).orderBy("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    val capped = Closure.transitiveClosure(edges, maxIter = 1)
    assert(capped.count() == 5) // base 3 + one expansion round (2 new pairs)
  }

  test("Incremental: unprocessed + gates") {
    val un = Incremental.unprocessed(
      Seq(1, 2, 3).toDF("k"), Seq(2).toDF("k"), Seq("k"))
    assert(un.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    assert(Incremental.stableCountGate(10, Some(10)))
    assert(!Incremental.stableCountGate(10, Some(9)))
    assert(!Incremental.stableCountGate(10, None))
  }

  test("TextDedup: shingles + jaccard + minhash candidates find planted dup") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different words appear in this unrelated document body"))
      .toDF("doc_id", "text")
    val cands = TextDedup.minhashCandidates(docs, k = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
    val j = TextDedup.verifyJaccard(Seq((1L, 2L)).toDF("doc_a", "doc_b"),
        docs, threshold = 0.0)
      .collect().head.getDouble(2)
    assert(j > 0.5 && j < 1.0)
  }

  test("TextDedup.incrementalCandidates equals the batch-involving subset of full batch mode") {
    // real corpus slice, default xxhash64 hashes (the scale path)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val index = TextDedup.bandedSignatures(existing, k = 32, bands = 8, shingleW = 1)
    val incr = TextDedup.incrementalCandidates(batch, index,
        k = 32, bands = 8, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullAll: Set[(Long, Long)] =
      TextDedup.minhashCandidates(docs, k = 32, bands = 8, shingleW = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = fullAll.filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }
    assert(incr == full, s"incremental ${incr.size} pairs vs batch-filtered ${full.size}")
    assert(incr.nonEmpty) // the corpus plants near-dups across the split
    // no old-vs-old pair ever leaks in
    assert(incr.forall { case (a, b) => a % 5 == 0 || b % 5 == 0 })
  }
}
