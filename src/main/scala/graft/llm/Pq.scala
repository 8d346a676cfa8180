package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Ann.Q40

/** Product-quantization ANN: each corpus vector is compressed to `m`
  * small codes (one per embedding subspace), queries score candidates
  * against a per-query lookup table over the codebooks (ADC —
  * asymmetric distance computation), and only the top candidates get an
  * exact re-rank.
  *
  * Why this is the memory-bounded scale path at 100 TB: the corpus scan
  * during search reads `m` byte-sized codes per vector instead of the
  * full float vector — with dim=64/m=4 that is a 64× drop in scanned
  * bytes (256 B → 4 B + id), which is the difference between an ANN
  * sweep that fits in page cache and one that re-reads the whole
  * embedding table per query batch. Codebooks are k-means per SUBSPACE
  * (ksub^m effective cells from m·ksub centroids), trained here with the
  * same deterministic seeding + Lloyd refinement as [[Ann.ivfTopK]].
  *
  * All stages are DataFrame-native: codebook training is a
  * broadcast-join + grouped mean (map-side combined), encoding is a
  * broadcast argmin, the ADC scan is an equi-join of the code table
  * against a broadcast per-query LUT followed by one grouped sum, and
  * the exact re-rank touches `refine·k` rows per query. No stage ever
  * holds a subspace, cell, or candidate set in driver memory.
  */
object Pq {

  // native codegen'd kernel (bit-identical to the HOF fold it replaced):
  // k-means assignment evaluates this ksub times per (row, subspace, iter)
  private def l2(a: Column, b: Column): Column =
    graft.functions.ArrayKernels.dist2Arr(a, b)

  /** (vec_id, j, sv): the m per-subspace slices of each vector, exploded
    * so every downstream stage is ONE pipeline keyed by subspace j
    * rather than m parallel column pipelines. */
  private def subspaces(df: DataFrame, dim: Int, m: Int,
      idAs: String): DataFrame = {
    val sub = dim / m
    val entries = (0 until m).map { j =>
      struct(lit(j).as("j"),
        transform(slice(col("embedding"), j * sub + 1, sub),
          x => x.cast(DoubleType)).as("sv"))
    }
    df.select(col("vec_id").as(idAs), explode(array(entries: _*)).as("e"))
      .select(col(idAs), col("e.j").as("j"), col("e.sv").as("sv"))
  }

  /** Per-subspace codebooks: deterministic seed (lowest `ksub` vec ids'
    * subvectors) + `iters` Lloyd steps. Returns (j, code, cvec). */
  private def codebooks(subs: DataFrame, ksub: Int, iters: Int): DataFrame = {
    val seedIds = subs.select("cid").distinct().orderBy("cid").limit(ksub)
      .withColumn("code", row_number().over(Window.orderBy("cid")))
    val seed = subs.join(broadcast(seedIds), "cid")
      .select(col("j"), col("code"), col("sv").as("cvec"))
    (1 to iters).foldLeft(seed) { (cur, _) =>
      val assigned = subs.join(broadcast(cur), "j")
        .withColumn("d", l2(col("sv"), col("cvec")))
        .groupBy(col("cid"), col("j"))
        .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"),
          min_by(col("sv"), struct(col("d"), col("code"))).as("sv"))
      assigned
        .select(col("j"), col("code"), posexplode(col("sv")))
        // exact-integer mean — order-independent (see Ann.lloydStep)
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(sum(floor(col("col") * lit(Q40)).cast(DecimalType(38, 0))).as("s"),
          count(lit(1)).as("n"))
        .select(col("j"), col("code"), col("pos"),
          (col("s").cast(DoubleType) /
            (col("n").cast(DoubleType) * lit(Q40))).as("mu"))
        .groupBy(col("j"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
          e => e.getField("mu")).as("cvec"))
    }
  }

  /** Encode every corpus vector: nearest centroid per subspace →
    * (cid, j, code). This plus the id is ALL the search scan reads. */
  private def encode(subs: DataFrame, books: DataFrame): DataFrame =
    subs.join(broadcast(books), "j")
      .withColumn("d", l2(col("sv"), col("cvec")))
      .groupBy(col("cid"), col("j"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))

  /** Top-k cosine neighbors per query via PQ-ADC with exact re-rank of
    * the `refine * k` best approximate candidates. Output matches
    * [[Ann.bruteForceTopK]]: (qid, rank, cid, cosine). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 4, ksub: Int = 16, lloydIters: Int = 1,
      refine: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val csubs = subspaces(corpus, dim, m, "cid")
    // pinned: encode and the LUT both consume the codebooks — unpinned,
    // each re-runs the per-subspace k-means (2 corpus scans per iter)
    val books = Ann.pin(codebooks(csubs, ksub, lloydIters))
    val codes = encode(csubs, books)
    // per-query LUT: partial dot of each query subvector with every
    // centroid — nq × m × ksub rows, broadcast to the code scan
    val lut = subspaces(queries, dim, m, "qid")
      .join(broadcast(books), "j")
      .select(col("qid"), col("j"), col("code"),
        graft.functions.ArrayKernels.qdotArr(col("sv"), col("cvec")).as("pdot"),
        graft.functions.ArrayKernels.qdotArr(col("cvec"), col("cvec")).as("cpart"))
    // ADC: approximate dot = sum of LUT entries selected by the codes;
    // ranking proxy is cosine against the RECONSTRUCTED vector (norm² =
    // Σ centroid-part norms), so high-norm corpus vectors don't crowd
    // out true neighbors — |q| is constant per query and drops out
    val approx = codes.join(broadcast(lut), Seq("j", "code"))
      .filter(col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid"))
      // long sums of exact-integer partial dots: the m terms accumulate
      // order-independently (integer addition), so a near-tied ADC rank
      // can never flip run-to-run (see Ann scaladoc)
      .agg((sum(col("pdot")).cast(DoubleType) /
        sqrt(greatest(sum(col("cpart")), lit(1L)).cast(DoubleType))).as("adot"))
    val wApprox = Window.partitionBy("qid").orderBy(col("adot").desc, col("cid"))
    val candidates = approx.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= refine * k)
      .select("qid", "cid")
    exactRerank(candidates, corpus, queries, k)
  }

  /** Exact integer-dot re-rank of (qid, cid) survivors only — the q81
    * two-phase trick; touches `refine·k` rows per query. */
  private def exactRerank(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame =
    Ann.exactTopK(candidates.join(Ann.corpusSide(corpus), "cid")
      .join(broadcast(Ann.querySide(queries)), "qid"), k)

  /** IVF-PQ: the canonical 100 TB ANN layout — a coarse quantizer
    * (shared with [[Ann.ivfTopK]]) prunes the scan to `nProbe` cells
    * per query, and within the probed cells the ADC scan reads only
    * the `m` PQ codes per vector. The two compressions compose
    * multiplicatively: the scan touches ~(nProbe/nCells) of the corpus
    * and reads ~(m + id) bytes per touched vector instead of the full
    * float embedding — at dim=64/m=8 and nProbe/nCells=1/2 that is a
    * ~32× drop in scanned bytes before the exact re-rank, which still
    * touches only `refine·k` full vectors per query. Same deterministic
    * builds (exact-integer Lloyd means, pinned centroids/codebooks) as the
    * component operators, so the whole path is bit-reproducible and a
    * pinned-recall oracle can gate it.
    *
    * Reference semantics: the corpus-survey ANN block (SURVEY.md §2
    * "similarity search — IVF or LSH-bucketed variant as the scale
    * path"); composition follows Jégou et al.'s IVFADC structure
    * (coarse cells + per-cell code scan, exact re-rank), expressed as
    * three equi-joins — no stage ever materializes a cell or candidate
    * set on the driver. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 4, ksub: Int = 16, nCells: Int = 16, nProbe: Int = 4,
      lloydIters: Int = 1, kmeansIters: Int = 1, refine: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val c = Ann.corpusSide(corpus)
    val q = Ann.querySide(queries)
    // coarse routing: corpus→1 cell, query→nProbe cells
    val centroids = Ann.cellCentroids(c, corpus, nCells, kmeansIters)
    val assigned = Ann.nearestCells(c, "cid", "ce", "cn2", 1, centroids)
      .select("cid", "cell")
    val probed = Ann.nearestCells(q, "qid", "qe", "qn2", nProbe, centroids)
      .select("qid", "cell")
    // PQ codes over the whole corpus (codebooks trained globally; the
    // cell restriction happens at scan time, as in IVFADC)
    val csubs = subspaces(corpus, dim, m, "cid")
    val books = Ann.pin(codebooks(csubs, ksub, lloydIters))
    val codes = encode(csubs, books).join(assigned, "cid")
    val lut = subspaces(queries, dim, m, "qid")
      .join(broadcast(books), "j")
      .select(col("qid"), col("j"), col("code"),
        graft.functions.ArrayKernels.qdotArr(col("sv"), col("cvec")).as("pdot"),
        graft.functions.ArrayKernels.qdotArr(col("cvec"), col("cvec")).as("cpart"))
    // ADC over probed cells only: the cell equi-join IS the IVF prune
    val approx = codes.join(probed, "cell")
      .join(broadcast(lut), Seq("qid", "j", "code"))
      .filter(col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid"))
      .agg((sum(col("pdot")).cast(DoubleType) /
        sqrt(greatest(sum(col("cpart")), lit(1L)).cast(DoubleType))).as("adot"))
    val wApprox = Window.partitionBy("qid").orderBy(col("adot").desc, col("cid"))
    val candidates = approx.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= refine * k)
      .select("qid", "cid")
    exactRerank(candidates, corpus, queries, k)
  }
}
