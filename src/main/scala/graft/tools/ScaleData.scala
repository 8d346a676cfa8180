package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev tool: build an N×-scaled copy of an sf dir's `documents` and
  * `embeddings` tables (the LLM-block inputs) for scaling checkpoints —
  * evidence that the dedup/ANN plans grow linearly, not quadratically.
  *
  * Copies are made DISSIMILAR on purpose: exact replication would give
  * every doc ~N identical siblings, exploding the near-dup candidate
  * sets ~N× beyond what a real corpus at N× scale would produce (a data
  * artifact, not a plan property). First attempt inserted a salt token
  * every 5 words — not enough: copies of one doc still shared ~83% of
  * their TOKENS, so token-minhash near-dup (q71) saw a 10× dup-rate
  * and went 16× super-linear on a 10× corpus. The construction that
  * measures PLAN scaling rather than artificial dup-rate growth:
  * each copy k:
  *   - documents: every token of copy k>0 gets a `·k` suffix — zero
  *     cross-copy token/shingle overlap, so within-copy dup structure
  *     mirrors the original and the corpus dup-rate is scale-invariant
  *     (as in a real N× corpus); doc_id' = doc_id*N + k keeps ids
  *     unique and id-derived workload splits (doc_id % m) intact.
  *   - embeddings: copy k>0 applies a per-(k, dim) ±1 sign mask PLUS a
  *     deterministic magnitude factor in [0.9, 1.1) per (vec_id, k, i),
  *     and label' = label*N + k — the label space grows with the corpus
  *     (as domains do in a real corpus), so label-blocked operators
  *     (q81) keep bounded block sizes instead of inheriting N× blocks.
  *     The sign mask is the cosine analogue of the doc-side token
  *     suffix: within one copy every vector gets the SAME signed
  *     diagonal map, so within-copy dot products are sign-preserved
  *     (s² = 1) and the copy mirrors the original's near-dup
  *     structure — but across copies the masks differ in ~half the
  *     dims, so cross-copy cosines collapse to ~0. The first
  *     construction (magnitude jitter only) kept cross-copy cosines at
  *     ~0.998: every original had N semantic near-dups, the corpus
  *     dup-RATE grew N×, and cosine-space operators (q87/q122) paid an
  *     N× artifact — 200k vectors landed in 1570 sign-cells (max cell
  *     500) instead of ~n/occupancy balanced ones.
  * Remaining tables are copied verbatim. Usage:
  *   runMain graft.tools.ScaleData <srcSfDir> <outDir> <factor>
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val n = factorS.toInt
    // GraftSession reads events.parquet's TIMESTAMP(NANOS) as a long, so
    // the scaled copy carries a plain INT64 ts, which util.Tables.t
    // converts back to a timestamp
    val spark = graft.GraftSession.getOrCreate("WARN", graft.GraftSession.cpus(32))
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(out))

    val copies = explode(sequence(lit(0), lit(n - 1))).as("k")

    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(col("*"), copies)
    val salted = docs.select(
      (col("doc_id") * n + col("k")).as("doc_id"),
      when(col("k") === 0, col("text")).otherwise(
        // suffix every token with ·k: zero cross-copy token overlap
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("·"), col("k").cast(StringType))), " "))
        .as("text"),
      col("lang"), col("source"))
    salted.withColumn("n_chars", length(col("text")))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("*"), copies)
    emb.select(
      (col("vec_id") * n + col("k")).as("vec_id"),
      when(col("k") === 0, col("embedding")).otherwise(
        transform(col("embedding"), (v, i) =>
          (v * (pmod(xxhash64(col("k"), i), lit(2)) * 2 - 1).cast(DoubleType)
            * (lit(0.9) + pmod(col("vec_id") * 31 + col("k") * 17 + i, lit(200))
              .cast(DoubleType) / 1000.0)).cast(FloatType)))
        .as("embedding"),
      (col("label") * n + col("k")).cast(IntegerType).as("label"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    // events: copy k>0 suffixes event_type — the forecast family
    // (q104/q110/q114/q121) fits per segment = event_type, so an N×
    // corpus means N× INDEPENDENT segments with identical per-segment
    // series (the real shape: more products, not denser history). ids
    // stay unique; ts/value are copied verbatim so every copy fits the
    // same closed-form model as its original.
    spark.read.parquet(s"$src/events.parquet")
      .select(col("*"), copies)
      .select(
        (col("event_id") * n + col("k")).as("event_id"), col("ts"),
        (col("user_id") * n + col("k")).as("user_id"),
        when(col("k") === 0, col("event_type"))
          .otherwise(concat(col("event_type"), lit("·"),
            col("k").cast(StringType))).as("event_type"),
        col("value"), col("props"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$out/events.parquet")

    // remaining tables verbatim (single-file parquet from the generator)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Path.of(s"$src/$t.parquet"),
        java.nio.file.Path.of(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"scaled $src -> $out x$n: " +
      s"${spark.read.parquet(s"$out/documents.parquet").count()} docs, " +
      s"${spark.read.parquet(s"$out/embeddings.parquet").count()} vecs")
    spark.stop()
  }
}
