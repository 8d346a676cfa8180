package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefix-filtered exact containment join (the AllPairs/PPJoin family,
  * Bayardo et al. 2007; Xiao et al. 2008): find ordered pairs (a, b)
  * with containment(a→b) = |S(a) ∩ S(b)| / |S(a)| ≥ t, without the
  * naive shingle self-join whose volume is Σ_s df(s)² — quadratic in
  * corpus size under a fixed vocabulary.
  *
  * Prefix theorem: if b misses more than (1−t)·|S(a)| of a's shingles,
  * containment < t; so any qualifying b shares at least one of a's
  * ⌊(1−t)·|S(a)|⌋+1 RAREST shingles (the prefix, under the global-df
  * ordering). Candidates = prefix-shingles(a) ⋈ all-shingles(b) —
  * complete by construction, and the join blocks are the rare tail of
  * the df distribution instead of the whole corpus.
  *
  * The exact intersection is then computed per candidate pair with
  * array_intersect over the two docs' (sorted, distinct) shingle
  * arrays — per-doc state, no second wide join.
  *
  * Scale shape: one df shuffle, one per-doc window for prefix ranks,
  * a candidate join bounded by rare-shingle blocks, and two doc-id
  * equi-joins to attach the arrays. Nothing is ever all-pairs.
  */
object ContainmentJoin {

  /** Ordered pairs (a, b, inter, size_a) with inter·den ≥ size_a·num
    * (containment ≥ num/den), over distinct `shingleW`-shingle sets of
    * `textCol`.
    *
    * The shingle sets and the rarity ranks each feed several joins, so
    * each is materialized once behind an eager `localCheckpoint`. Its
    * blocks belong to the returned plan and go when that plan is
    * garbage. Not `cache()`: that registers with the CacheManager every
    * session in the JVM shares, so the entry would outlive the query
    * and any later plan with a matching subplan would read it instead
    * of recomputing. */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
      shingleW: Int, num: Int, den: Int): DataFrame = {
    // shingles become portable 60-bit md5 ids BEFORE any shuffle: the
    // join/intersect key is a long, not a ~35-byte string (identical
    // ids on both engines, so the oracle replays exactly).
    // MATERIALIZED: the set frame feeds the shingle explode AND both
    // sides of the final array-attach join — recomputed, Spark re-runs
    // the per-doc shingle hashing up to 4x, which (not the verify join)
    // was q184's actual cost at sf0.1 (probe: 3.8 s of the 10 s
    // budget per recompute). The blocks spill to disk at corpus scale —
    // compute-once-reuse-thrice is the plan you'd want at 100 TB too.
    // sz rides along from size(sset): a column, not a second window.
    val sets = docs.select(col(idCol).as("id"),
      array_distinct(transform(
        TextDedup.shingles(col(textCol), shingleW),
        s => TextDedup.portableHash(s))).as("sset"))
      .withColumn("sz", size(col("sset")).cast("long"))
      .localCheckpoint(true)
    val sh = sets.select(col("id"), col("sz"), explode(col("sset")).as("sh"))
    val dfs = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // every doc's shingles ranked by GLOBAL rarity (df, sh) — the same
    // total order on both sides, which is what makes the positional
    // bound below valid. Materialized: probed by the prefix side AND
    // the full side of the candidate join.
    val byRarity = Window.partitionBy("id").orderBy(col("df"), col("sh"))
    val ranked = sh.join(dfs, "sh")
      .withColumn("rk", row_number().over(byRarity))
      .localCheckpoint(true)
    // prefix size ⌊(1-t)·sz⌋+1 = sz - ceil(t·sz) + 1 = sz - ⌈sz·num/den⌉ + 1
    val prefixes = ranked
      .filter(col("rk") <= col("sz") - expr(s"cast(ceil(sz * $num / $den) as bigint)") + 1)
      .select(col("id").as("a"), col("sh"),
        col("rk").as("rka"), col("sz").as("sza"))
    // Candidate pruning BEFORE the expensive array-attach joins (the
    // r11 verdict's watch item — the verify join dominated q184):
    //  - size filter: containment needs inter ≥ ⌈t·sz_a⌉ and
    //    inter ≤ sz_b, so sz_b·den < sz_a·num can never qualify;
    //  - positional filter (PPJoin): a match at ranks (rka, rkb) under
    //    the shared rarity order splits the remaining common shingles
    //    into strictly-before and strictly-after, so
    //    inter ≤ 1 + min(rka−1, rkb−1) + min(sza−rka, szb−rkb);
    //    per pair the TIGHTEST matched bound applies (min over matches,
    //    folded into the same shuffle that deduped pairs before).
    val cands = prefixes
      .join(ranked.select(col("id").as("b"), col("sh"),
        col("rk").as("rkb"), col("sz").as("szb")), Seq("sh"))
      .filter(col("a") =!= col("b"))
      .filter(col("szb") * den >= col("sza") * num)
      .withColumn("ub", lit(1) +
        least(col("rka") - 1, col("rkb") - 1) +
        least(col("sza") - col("rka"), col("szb") - col("rkb")))
      .groupBy("a", "b", "sza")
      .agg(min("ub").as("ub"))
      .filter(col("ub") * den >= col("sza") * num)
      .select("a", "b")
    cands
      .join(sets.select(col("id").as("a"), col("sset").as("sa")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("sset").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("size_a"))
      .filter(col("inter") * den >= col("size_a") * num)
  }
}
