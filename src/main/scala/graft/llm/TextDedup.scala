package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data deduplication over a `documents(doc_id, text, ...)`
  * table: exact, MinHash-LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (the point of these operators at 100 TB):
  *  - Exact dedup is a hash-groupBy on a 128-bit content digest — one
  *    shuffle keyed by digest, no text comparison after hashing.
  *  - MinHash-LSH emits (band, band-signature) keys and joins WITHIN
  *    buckets only — candidate generation is linear + one shuffle on the
  *    band key; there is NO all-pairs crossJoin anywhere. Bucket-local
  *    pair expansion is quadratic only in bucket size, which LSH keeps
  *    tiny by construction.
  *  - SimHash buckets by the 64-bit signature (or signature bands for
  *    Hamming-distance tolerance).
  *  - Exact n-gram Jaccard is reserved for candidate *verification*,
  *    never discovery.
  *
  * All hashing uses xxhash64 with distinct integer seeds — stable across
  * runs/executors, codegen'd, no UDFs in the row path.
  */
object TextDedup {

  /** Normalized content digest for exact dedup (whitespace-collapsed,
    * lowercased — the usual normalization before exact matching). */
  def contentKey(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Word w-shingles of a text column → array<string>. */
  def shingles(text: Column, w: Int = 3): Column = {
    val words = split(text, " ")
    val n = size(words)
    when(n >= w,
      transform(sequence(lit(0), n - lit(w)),
        i => array_join(slice(words, i + 1, lit(w)), " ")))
      .otherwise(array(array_join(words, " ")))
  }

  /** Candidate near-dup pairs via banded MinHash-LSH. Returns
    * (doc_a, doc_b) with doc_a < doc_b, distinct.
    *
    * Shape: explode shingles → k seeded hashes per shingle row →
    * groupBy(doc) min per seed (one shuffle, map-side combined) → band
    * keys → equi-join on (band, key). The explode materializes each
    * shingle string exactly once; computing the signature as k
    * `transform`s over an inlined shingle expression instead re-evaluates
    * the shingling k times (Catalyst collapses the projection), which is
    * a k× CPU regression — measured, not hypothetical. */
  def minhashCandidates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 16, bands: Int = 4,
      shingleW: Int = 3, portable: Boolean = false): DataFrame = {
    val banded = bandedSignatures(docs, textCol, idCol, k, bands, shingleW, portable)
    val a = banded.alias("a"); val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** The banded LSH signature table (id, band, key) — the INDEX a
    * production dedup pipeline persists between batches so each new
    * batch is signed once and joined against stored signatures instead
    * of recomputing the corpus (see [[incrementalCandidates]]). */
  def bandedSignatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 16, bands: Int = 4,
      shingleW: Int = 3, portable: Boolean = false): DataFrame = {
    val rows = k / bands
    require(rows * bands == k, "k must be divisible by bands")
    // Shingles never materialize as strings: a shingle is the xxhash64 of
    // its word w-tuple, and the k signature hashes reseed that long. Pure
    // integer arithmetic per row after the split — no per-shingle string
    // allocation (which dominated CPU/GC in the string-shingle variant).
    // shingleW=3 blocks on word ORDER (document near-dup); shingleW=1 is
    // token-set minhash — the right blocking when the verifier is
    // token-set Jaccard (reordered near-dups share tokens, not shingles).
    val w = shingleW
    val words = split(col(textCol), " ")
    val exploded = docs
      .select(col(idCol).as("id"), words.as("ws"))
      .select(col("id"),
        explode(sequence(lit(0), greatest(size(col("ws")) - w, lit(0)))).as("i"),
        col("ws"))
      .select(col("id"), {
        // portable: shingle = its space-joined words (concat_ws skips the
        // nulls a short doc produces, same as DuckDB's), hashed with the
        // md5-derived portableHash so an external engine can recompute the
        // signature bit-for-bit. xxhash64 stays the scale default — no md5
        // string round-trip per shingle.
        val wcols = (1 to w).map(o => try_element_at(col("ws"), col("i") + o))
        (if (portable) portableHash(concat_ws(" ", wcols: _*))
         else xxhash64(wcols: _*)).as("sh")
      })
    // portable seeded hashes: ONE md5 per shingle (above), then k
    // pure-integer 60-bit mixes — not k md5-string round-trips, which
    // were measured at 18× the xxhash64 path's cost at sf0.1.
    val seeds = if (portable) portableSeeds(k) else IndexedSeq.empty[Long]
    val hashed = exploded.select(col("id") +:
      (0 until k).map { s =>
        (if (portable) portableMix(col("sh"), seeds(s))
         else xxhash64(col("sh"), lit(s))).as(s"h$s")
      }: _*)
    val sig = hashed.groupBy("id")
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(s => min(col(s"h$s")).as(s"m$s")): _*)
    sig.select(col("id"), explode(array((0 until bands).map { b =>
      val mins = ((b * rows) until ((b + 1) * rows)).map(i => col(s"m$i"))
      struct(lit(b).as("band"),
        // the key only needs to be a deterministic function of the band's
        // min-vector; the portable form skips the hash entirely
        (if (portable) concat_ws("_", mins.map(_.cast(StringType)): _*)
         else xxhash64(mins :+ lit(b): _*)).as("key"))
    }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Storage-partition prefix for the persisted signature index: a
    * stable hash prefix of the bucket key, `pkey = xxhash64(key) mod
    * parts`. The index is laid out `partitionBy("band", "pkey")`, so a
    * probe filtered to its touched pkeys reads only those directories —
    * partition PRUNING at the scan, not a full index pass. `band` never
    * prunes a minhash probe (every doc emits every band) but gives
    * single-band interactive lookups a static first-level prune and
    * keeps band-locality on disk. `parts` scales with the corpus (8 at
    * test SF; thousands at 100 TB so a daily batch touches a fraction
    * of the directories). */
  def sigPartition(key: Column, parts: Int): Column =
    pmod(xxhash64(key), lit(parts.toLong)).cast(IntegerType)

  /** Write `sigs` (id, band, key) as the persisted signature index at
    * `path`, partitioned by (band, pkey) — see [[sigPartition]]. The
    * pre-write repartition on the partition columns collapses the
    * output to ~one file per directory (otherwise every write task
    * emits a sliver into every directory — tasks × dirs small files,
    * which taxes every subsequent listing, probe, and append). */
  def writeSigIndex(sigs: DataFrame, path: String, parts: Int,
      mode: String = "overwrite"): Unit =
    sigs.withColumn("pkey", sigPartition(col("key"), parts))
      .repartition(col("band"), col("pkey"))
      .write.mode(mode).partitionBy("band", "pkey").parquet(path)

  /** Incremental LSH dedup: candidates INVOLVING a new batch, computed
    * by signing only the batch and equi-joining against the persisted
    * signature index (old ∪ new) — never re-signing or self-joining the
    * existing corpus. Returns exactly the batch-involving subset of what
    * [[minhashCandidates]] over (index docs ∪ new docs) would return
    * (signatures are per-doc, so batch membership cannot change them —
    * spec-asserted). At 100 TB this is THE daily-dedup shape: cost is
    * O(batch signatures + bucket-join against the index), not O(corpus).
    * Pairs are canonicalized (doc_a < doc_b) regardless of which side
    * is newer.
    *
    * With `pruneParts > 0` the index is expected to carry the `pkey`
    * partition column ([[writeSigIndex]] layout); the batch's touched
    * pkeys (≤ pruneParts values — a bounded driver-side pin by
    * construction) become a static `isin` filter on the partition
    * column, so the index scan PRUNES to the touched directories
    * instead of reading the whole index. Rows outside those partitions
    * cannot equi-join the batch (pkey is a function of key), so the
    * result is identical. The extra pass that computes the touched set
    * re-signs only the batch — the cheap side, per the contract. */
  def incrementalCandidates(newDocs: DataFrame, indexSigs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 16,
      bands: Int = 4, shingleW: Int = 3,
      portable: Boolean = false, pruneParts: Int = 0): DataFrame = {
    val rawSigs = bandedSignatures(newDocs, textCol, idCol, k, bands,
      shingleW, portable)
    // The pruned path consumes the batch signatures TWICE (touched-pkey
    // collect + the join); localCheckpoint materializes them once —
    // batch-sized by contract, executor-resident, freed by the context
    // cleaner when the result DF is dropped. Without it the batch is
    // re-signed per consumer (measured 2x on q117).
    val newSigs = if (pruneParts > 0) rawSigs.localCheckpoint() else rawSigs
    val index =
      if (pruneParts <= 0) indexSigs.select("id", "band", "key")
      else {
        val touched = newSigs
          .select(sigPartition(col("key"), pruneParts).as("pkey"))
          .distinct().collect().map(_.getInt(0)).toSeq
        indexSigs.filter(col("pkey").isin(touched: _*))
          .select("id", "band", "key")
      }
    val all = index.union(newSigs.select("id", "band", "key"))
    newSigs.alias("a").join(all.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("doc_a"),
        greatest(col("a.id"), col("b.id")).as("doc_b"))
      .distinct()
  }

  /** Exact token-set Jaccard verification of (doc_a, doc_b) candidate
    * pairs against `docs`, at hashed-token cost: tokens become xxhash64
    * longs (distinct counts are preserved short of a 2⁻⁶⁴ collision, so
    * the Jaccard value is identical to the string-set one), and a
    * size-ratio prefilter (J ≤ min(|A|,|B|)/max(|A|,|B|)) skips the
    * O(|A|+|B|) intersection for pairs that cannot reach `threshold`.
    * Measured 7× faster than string-array intersection at equal results
    * (sf0.1, 525k candidates: 9.4 s → 1.3 s). */
  def verifyJaccard(candidates: DataFrame, docs: DataFrame,
      threshold: Double, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
      array_distinct(transform(split(col(textCol), " "), t => xxhash64(t))).as("toks"))
      .select(col(idCol), col("toks"), size(col("toks")).as("n"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    candidates
      .join(toks.select(col(idCol).as("doc_a"), col("toks").as("ta"), col("n").as("na")), Seq("doc_a"))
      .join(toks.select(col(idCol).as("doc_b"), col("toks").as("tb"), col("n").as("nb")), Seq("doc_b"))
      .filter(least(col("na"), col("nb")).cast(DoubleType) /
        greatest(col("na"), col("nb")).cast(DoubleType) >= threshold)
      .withColumn("jaccard",
        inter.cast(DoubleType) / (col("na") + col("nb") - inter).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** End-to-end fuzzy-dedup cluster assignment — the full training-data
    * dedup pipeline: LSH candidates → exact Jaccard verification →
    * connected components → canonical keeper per cluster (min doc id).
    *
    * Every stage is the bucketed/linear scale path: candidates come from
    * [[minhashCandidates]] (banded equi-join, never all-pairs),
    * verification touches candidates only, and clustering is min-label
    * propagation ([[graft.operators.ConnectedComponents]]) whose state is
    * one label per doc — a boilerplate cluster with 10⁹ members costs
    * shuffle volume, not executor memory.
    *
    * @return (doc_id, cluster_id, is_canonical) for EVERY input doc;
    *         singletons are their own cluster. is_canonical = 1 marks the
    *         row to keep (cluster minimum).
    */
  def clusterAssignments(docs: DataFrame, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 16,
      bands: Int = 4, shingleW: Int = 3, maxIter: Int = 20): DataFrame = {
    val verified = verifyJaccard(
      minhashCandidates(docs, textCol, idCol, k, bands, shingleW),
      docs, threshold, textCol, idCol)
    // The edge list feeds FOUR plan branches (the CC operator's
    // symmetrized union twice, edgeVerts' union twice) and none share an
    // exchange subtree, so without a barrier the whole LSH→verify
    // pipeline re-executes per branch (measured: 4 full candidate+verify
    // passes at sf0.1). The verified pair set is candidate-bounded and
    // tiny by construction — checkpoint it once, every branch reads the
    // materialized rows. (r16; guide §2.4 — remove repeated work before
    // tuning anything inside it.)
    val edges = verified.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint()
    // Iterate ONLY the non-trivial subgraph: in a dedup corpus nearly
    // all docs are singletons (no verified edge), and their label is
    // their own id by definition — excluding them shrinks every CC
    // round's join/shuffle to the duplicate-involved minority, then a
    // single left join stamps the singletons back in.
    val edgeVerts = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val nonTrivial = graft.operators.ConnectedComponents
      .connectedComponents(edgeVerts, edges, maxIter)
    docs.select(col(idCol).as("id")).join(nonTrivial, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("comp"), col("id")).as("cluster_id"),
        (coalesce(col("comp"), col("id")) === col("id"))
          .cast(IntegerType).as("is_canonical"))
  }

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5,
    * parsed as an integer — computable identically in Spark and DuckDB
    * (or any engine with md5), which is what lets a simhash be
    * oracle-checked bit-for-bit. xxhash64 stays the scale default
    * (no md5 per token at all). Implemented as the native
    * [[graft.functions.PortableHash60]] expression — same value as the
    * `conv(substring(md5(c), 1, 15), 16, 10)` derivation (spec-gated)
    * without the hex-string/substring/base-16-parse round trip per
    * token. */
  def portableHash(c: Column): Column = graft.functions.PortableHash60(c)

  // ---- Engine-portable integer seed-mixing --------------------------
  // The portable MinHash pipeline needs k seeded re-hashes of each
  // shingle hash. Re-md5'ing a string per (shingle, seed) is the
  // dominant-cost variant (k× string alloc + md5); instead the seeded
  // hashes are a pure-integer xorshift-add mix of the one md5-derived
  // shingle hash. Every intermediate stays in the non-negative 60-bit
  // domain, so signed BIGINT semantics (Spark, DuckDB, anything)
  // agree: arithmetic >> equals logical >> (no sign bit), x + C < 2^61
  // never overflows, and left shifts pre-mask to 39 bits so the result
  // is exactly (x << 21) mod 2^60 without touching bit 63.

  /** 60-bit mask: the portable-hash domain. */
  val M60: Long = (1L << 60) - 1
  private val MIXC1: Long = 0xA24BAED4963EE407L & M60
  private val MIXC2: Long = 0x9FB21C651E98DF25L & M60
  private val SHIFT_PREMASK: Long = (1L << 39) - 1 // (x & this) << 21 stays < 2^60

  /** k distinct 60-bit seed constants (splitmix64 of the seed index,
    * computed once driver-side — plain JVM wraparound is fine here
    * because only the *constant* ships into the query). */
  def portableSeeds(k: Int): IndexedSeq[Long] = (0 until k).map { s =>
    var z = s.toLong + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & M60
  }

  /** Seeded 60-bit mix of a [[portableHash]] value, as a Spark Column —
    * integer-only (xor / shift / add / mask), codegen'd, no strings. */
  def portableMix(h: Column, seed: Long): Column = {
    val x0 = h.bitwiseXOR(lit(seed))
    val x1 = x0.bitwiseXOR(shiftright(x0, 29))
    val x2 = (x1 + lit(MIXC1)).bitwiseAND(lit(M60))
    val x3 = x2.bitwiseXOR(shiftleft(x2.bitwiseAND(lit(SHIFT_PREMASK)), 21))
    val x4 = x3.bitwiseXOR(shiftright(x3, 17))
    val x5 = (x4 + lit(MIXC2)).bitwiseAND(lit(M60))
    x5.bitwiseXOR(shiftright(x5, 23))
  }

  /** The same mix as portable SQL text (DuckDB dialect: `xor()` builtin,
    * `&`/`<<`/`>>` operators) — generated from the one set of constants
    * so the Spark and oracle sides cannot drift. */
  def portableMixSql(x: String, seed: String): String = {
    val x0 = s"xor($x, $seed)"
    val x1 = s"xor($x0, ($x0) >> 29)"
    val x2 = s"((($x1) + $MIXC1) & $M60)"
    val x3 = s"xor($x2, ((($x2) & $SHIFT_PREMASK) << 21))"
    val x4 = s"xor($x3, ($x3) >> 17)"
    val x5 = s"((($x4) + $MIXC2) & $M60)"
    s"xor($x5, ($x5) >> 23)"
  }

  /** SimHash signatures, DataFrame-level: explode tokens, hash,
    * majority-vote per bit via one grouped aggregation (`bits`
    * conditional sums in a single shuffle — the scalable shape), then
    * recombine the sign bits into one long.
    *
    * Scale: linear in total tokens, one shuffle on the doc id; the
    * bit-count columns are map-side partially aggregated.
    *
    * @param tokenHash per-token hash column; xxhash64 by default,
    *                  [[portableHash]] for engine-portable signatures
    */
  def simhashDf(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", bits: Int = 64,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val tokens = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .select(col("id"), tokenHash(col("tok")).as("h"))
    val bitSums = (0 until bits).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1L)).as(s"b$i"))
    val counted = tokens.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sig = (0 until bits).map(i =>
      when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    counted.select(col("id"), sig.as("sig"))
  }
}
