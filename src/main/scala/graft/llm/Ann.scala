package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding array<float>, label)`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k for a bounded query set.
  *    The query side must be small (it is broadcast); the corpus side
  *    streams. This is the correctness baseline.
  *  - [[lshTopK]] — random-hyperplane LSH: corpus and queries are
  *    bucketed by an nBits sign-signature, candidates come only from the
  *    query's bucket (plus optional multi-probe neighbors), and exact
  *    cosine re-ranks within buckets. Candidate generation is linear and
  *    the bucket join is an equi-join — the 100 TB path; no crossJoin.
  *
  * Exact-cosine arithmetic: each vector is quantized to floor(v·2²⁰)
  * longs and dotted in exact integer arithmetic ([[dotExact]], the
  * native [[graft.functions.QDotArr]] kernel) — order-independent
  * (integer addition is associative) AND engine-independent (floor of
  * an exact double shift computes the same integer on Spark and
  * DuckDB), so results survive any partitioning and the oracle
  * hash-compare. This retired the earlier DECIMAL(30,15) accumulator,
  * whose double→decimal cast rounded differently across engines (the
  * q185 r11 red): the floor(v·2^k) integer scheme proven by
  * [[Pooling]]/q256 is now the ONLY exact-dot path in the library.
  */
object Ann {

  /** EXACT integer dot product of two float-array columns:
    * Σ floor(aᵢ·2²⁰)·floor(bᵢ·2²⁰), as a long. The 2⁻²⁰ quantization
    * is ~10⁻⁵ of float32's own relative precision; the scale factor
    * cancels in cosine ratios. */
  def dotExact(a: Column, b: Column): Column =
    graft.functions.ArrayKernels.qdotArr(a, b)

  /** Squared L2 norm in the same quantized-integer scheme (long). */
  def norm2Exact(a: Column): Column = dotExact(a, a)

  /** Quantization scale for exact-integer MEANS (Lloyd centroids):
    * 2⁴⁰, exact in double; matches [[Pooling]]'s accumulator. */
  private[llm] val Q40 = math.pow(2, 40)

  /** Fast (order-dependent, ±ulp) double dot product — the HOF
    * reference the codegen'd [[graft.functions.DotArr]] kernel is
    * bit-identity-tested against; prefilter use only. */
  def dotDouble(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  /** Materialize a SMALL frame (centroids/codebooks — bounded by
    * construction, never data-sized) as a local relation: multi-consumer
    * plans would otherwise re-execute the whole upstream k-means once
    * per consumer, and a local relation broadcast-joins for free. */
  private[llm] def pin(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Cosine similarity from precomputed exact-integer dot + norms
    * (the 2⁴⁰ quantization scale cancels in the ratio). */
  def cosineFrom(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast(DoubleType) / (sqrt(n2a.cast(DoubleType)) * sqrt(n2b.cast(DoubleType)))

  /** The corpus side of a re-rank: (cid, ce, cn2). */
  private[llm] def corpusSide(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      norm2Exact(col("embedding")).as("cn2"))

  /** The query side of a re-rank: (qid, qe, qn2). */
  private[llm] def querySide(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      norm2Exact(col("embedding")).as("qn2"))

  /** The scoring tail every ANN path ends in: exact integer-dot cosine
    * of the (qe, ce, qn2, cn2) candidate rows, top `k` per query in
    * (cosine desc, cid) order — the tie order the recall gates pin —
    * as (qid, `qCols`, rank, cid, `cCols`, cosine rounded to 6 places). */
  private[llm] def exactTopK(cand: DataFrame, k: Int,
      qCols: Seq[Column] = Nil, cCols: Seq[Column] = Nil): DataFrame = {
    val scored = cand
      .withColumn("dot", dotExact(col("qe"), col("ce")))
      .withColumn("cosine", cosineFrom(col("dot"), col("qn2"), col("cn2")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((col("qid") +: qCols) ++ (col("rank") +: col("cid") +: cCols) :+
        round(col("cosine"), 6).as("cosine"): _*)
  }

  /** Two-phase re-rank of in-bucket candidates: a cheap double cosine
    * prunes to k+8 per query — covering the ≤ ~1e-4 double-vs-quantized
    * cosine drift — and only the survivors pay the exact integer dot.
    * At scale the candidate volume is bucket occupancy × probes per
    * query, so keeping the exact arithmetic off that path is what makes
    * the re-rank affordable. */
  private def twoPhaseTopK(cand: DataFrame, k: Int): DataFrame = {
    val wFast = Window.partitionBy("qid").orderBy(col("cos_fast").desc, col("cid"))
    exactTopK(cand
      // native codegen'd dot (bit-identical summation to dotDouble) —
      // the HOF chain allocates an intermediate array per candidate row.
      // Both norms are quantized (×2⁴⁰ each) while the double dot is
      // unscaled; the exact 2⁴⁰ factor keeps cos_fast in true-cosine
      // units (rank-equivalent either way).
      .withColumn("cos_fast",
        graft.functions.ArrayKernels.dotArr(col("qe"), col("ce")) * Q40 /
          (sqrt(col("qn2").cast(DoubleType)) * sqrt(col("cn2").cast(DoubleType))))
      .withColumn("fast_rank", row_number().over(wFast))
      .filter(col("fast_rank") <= k + 8), k)
  }

  /** Exact cosine top-k of `queries` against `corpus` (both shaped
    * (id, embedding)). Queries must be small/broadcastable. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    exactTopK(corpusSide(corpus)
      .join(broadcast(querySide(queries)), col("cid") =!= col("qid")), k)

  /** HARD-NEGATIVE mining for contrastive training: for each query
    * vector, the k nearest candidates with a DIFFERENT label — the
    * "looks similar, means different" pairs a contrastive/embedding
    * fine-tune wants (in-batch negatives are mostly easy; these are
    * the informative ones). Same exact-integer cosine and tie order as
    * [[bruteForceTopK]], plus the label-mismatch join predicate.
    *
    * Scale: the query set broadcasts (bounded by contract, like the
    * brute path); at corpus scale the candidates come from the IVF/LSH
    * bucket probes instead and this exact form is their recall oracle. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("embedding").as("ce"), norm2Exact(col("embedding")).as("cn2"))
    val q = queries.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      col("embedding").as("qe"), norm2Exact(col("embedding")).as("qn2"))
    exactTopK(c.join(broadcast(q),
        col("cid") =!= col("qid") && col("clabel") =!= col("qlabel")), k,
      qCols = Seq(col("qlabel")), cCols = Seq(col("clabel").as("neg_label")))
  }

  /** Deterministic pseudo-random hyperplane weight for (dim i, plane p):
    * uniform in [-0.5, 0.5), derived from xxhash64 — no RNG state, same
    * on every executor. */
  private def planeWeight(i: Column, p: Int): Column =
    (pmod(xxhash64(i, lit(p)), lit(1000000L)).cast(DoubleType) / 1000000.0) - 0.5

  /** Plane weights are row-INDEPENDENT (a function of (dim, plane)
    * only), so they are computed once driver-side — with the same
    * catalyst XxHash64 the per-row expression evaluates, so signatures
    * are bit-identical to [[lshSignatureHof]] — and shipped as one
    * array literal per plane. Covers dims < 1024 (dot_arr truncates to
    * the embedding length). */
  private val maxPlaneDim = 1024
  private val planeWeightCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]
  private def planeWeights(p: Int): Array[Double] =
    planeWeightCache.computeIfAbsent(p, _ => Array.tabulate(maxPlaneDim) { i =>
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      val h = new XxHash64(Seq(Literal(i), Literal(p))).eval(null)
        .asInstanceOf[Long]
      (java.lang.Math.floorMod(h, 1000000L).toDouble / 1000000.0) - 0.5
    })

  /** nBits-bit sign signature of an embedding against the deterministic
    * hyperplane family starting at `planeOffset` — distinct offsets give
    * statistically independent families (the multi-table recall knob).
    * Each bit is one native-kernel dot against a constant weight array;
    * the per-row cost is nBits tight codegen loops, not nBits
    * HOF-walks each re-hashing every dimension index. */
  def lshSignature(emb: Column, nBits: Int, planeOffset: Int = 0): Column = {
    val sig = (0 until nBits).map { p =>
      val proj = graft.functions.ArrayKernels.dotArr(emb,
        typedLit(planeWeights(planeOffset + p)))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    // The plane arrays are materialized to maxPlaneDim entries and
    // dot_arr stops at the shorter operand, so a longer embedding would
    // silently hash only its first maxPlaneDim dims — diverging from
    // lshSignatureHof with no error and degrading recall. Fail loudly.
    when(size(emb) <= maxPlaneDim, sig).otherwise(raise_error(concat(
      lit("lshSignature: embedding dim "), size(emb).cast(StringType),
      lit(s" exceeds materialized plane dim $maxPlaneDim"))))
  }

  /** The original per-row HOF signature (element-wise xxhash64 inside a
    * zip_with/aggregate walk) — kept as the reference implementation for
    * the bit-identity spec. */
  private[graft] def lshSignatureHof(emb: Column, nBits: Int,
      planeOffset: Int = 0): Column =
    (0 until nBits).map { p =>
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, i) => x.cast(DoubleType) * planeWeight(i, planeOffset + p)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Nearest `n` centroid cells per row. The side's squared norm is the
    * PRECOMPUTED `n2Col` (computing it inside this broadcast join would
    * redo the exact-dot array fold once per centroid). Cell assignment is
    * an approximate routing decision, so double arithmetic is enough. */
  private[llm] def nearestCells(side: DataFrame, idCol: String, embCol: String,
      n2Col: String, n: Int, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(col("cell_cos").desc, col("cell"))
    side.crossJoin(broadcast(centroids))
      // n2Col is the quantized norm² (×2⁴⁰) while the centroid dot is
      // unscaled — the exact 2²⁰ factor restores true-cosine units (a
      // per-row constant either way, so ranking is unaffected)
      .withColumn("cell_cos",
        graft.functions.ArrayKernels.dotArr(col(embCol), col("centroid")) * lit(1048576.0) /
          (sqrt(col(n2Col).cast(DoubleType)) * sqrt(col("centn2"))))
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= n)
      .drop("centroid", "centn2", "cell_cos", "cell_rank")
  }

  /** One Lloyd refinement: assign the corpus to the current centroids,
    * recompute each cell's mean vector. Bounds the cell skew that
    * arbitrary (lowest-id) seeding produces. */
  private def lloydStep(c: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = nearestCells(c, "cid", "ce", "cn2", 1, centroids)
    assigned
      .select(col("cell"), posexplode(col("ce")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      // exact-integer mean (the Pooling scheme): double-sum order varies
      // with partitioning, and a ~1e-16 centroid wobble can flip a
      // near-tied cell assignment — summing floor(v·2⁴⁰) integers in
      // DECIMAL(38,0) (unbounded cell sizes at corpus scale would
      // overflow a long sum) makes the whole IVF build bit-deterministic
      // (required for the pinned-recall oracle gate)
      .agg(sum(floor(col("v").cast(DoubleType) * lit(Q40))
          .cast(DecimalType(38, 0))).as("s"), count(lit(1)).as("n"))
      .select(col("cell"), col("pos"),
        (col("s").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(Q40))).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("centroid"))
      .withColumn("centn2",
        graft.functions.ArrayKernels.dotArr(col("centroid"), col("centroid")))
  }

  /** Coarse-quantizer centroids for a prepared (cid, ce, cn2) frame:
    * lowest-id seeding + `kmeansIters` Lloyd steps, PINNED (multi-
    * consumer plans would otherwise re-run the whole fold per consumer).
    * Shared by [[ivfTopK]] and [[Pq.ivfPqTopK]]. */
  private[llm] def cellCentroids(c: DataFrame, corpus: DataFrame,
      nCells: Int, kmeansIters: Int): DataFrame = {
    val seed = corpus.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("centroid"))
      .withColumn("centn2",
        graft.functions.ArrayKernels.dotArr(col("centroid"), col("centroid")))
    pin((1 to kmeansIters).foldLeft(seed)((cur, _) => lloydStep(c, cur)))
  }

  /** IVF-style ANN: `nCells` centroids seeded from the lowest-id corpus
    * vectors and refined with `kmeansIters` Lloyd steps; the corpus is
    * assigned once to its nearest cell, each query probes its `nProbe`
    * nearest cells, and candidates are re-ranked two-phase (double
    * prefilter keeps top k+8 per query — covering the ≤ ~1e-4
    * double-vs-quantized cosine drift — then the exact integer dot on
    * survivors, the q81 scheme).
    *
    * Scale: centroid build is bounded work (broadcast assignments, one
    * elementwise-mean shuffle per iteration); probing turns all-pairs
    * search into an equi-join on cell id over ~nProbe/nCells of the
    * corpus. The inverted-file layout is the same partition-pruning idea
    * as partitioned parquet — a query touches only its cells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 1): DataFrame = {
    val c = corpusSide(corpus)
    val centroids = cellCentroids(c, corpus, nCells, kmeansIters)
    val assigned = nearestCells(c, "cid", "ce", "cn2", 1, centroids)
    val probed = nearestCells(querySide(queries), "qid", "qe", "qn2", nProbe,
      centroids)
    ivfRerank(assigned, probed, k)
  }

  /** In-cell candidate re-rank shared by [[ivfTopK]] and
    * [[ivfTopKFromIndex]]. */
  private def ivfRerank(assigned: DataFrame, probed: DataFrame, k: Int): DataFrame =
    twoPhaseTopK(assigned.join(probed, Seq("cell"))
      .filter(col("cid") =!= col("qid")), k)

  /** Persist the IVF index: the trained centroids plus the corpus
    * assignments laid out as parquet PARTITIONED BY cell — the 100 TB
    * ANN serving layout (mirroring [[Bm25.buildIndex]] for the lexical
    * side): the expensive train+assign pass is amortized once, and a
    * query batch's probe reads only its nProbe cells' directories. */
  def writeIvfIndex(corpus: DataFrame, nCells: Int, kmeansIters: Int,
      path: String): Unit = {
    val c = corpusSide(corpus)
    val centroids = cellCentroids(c, corpus, nCells, kmeansIters)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    nearestCells(c, "cid", "ce", "cn2", 1, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/assignments")
  }

  /** IVF top-k against a [[writeIvfIndex]] layout: probe cells from the
    * (tiny, pinned) persisted centroids, then scan ONLY the touched
    * cell partitions (an isin partition filter the reader prunes on —
    * the same prune contract as the q117 signature index) and re-rank
    * identically to [[ivfTopK]]. Results are bit-identical to the
    * in-query form on the same corpus by construction. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val centroids = pin(spark.read.parquet(s"$path/centroids"))
    val probed = nearestCells(querySide(queries), "qid", "qe", "qn2", nProbe,
      centroids)
    // bounded collect: at most |queries| * nProbe cell ids
    val touched = probed.select("cell").distinct().collect()
      .map(_.get(0).toString.toLong)
    val asg = spark.read.parquet(s"$path/assignments")
    // partition-column type inference may read `cell` narrower than the
    // written long — match the literals to the inferred type so the
    // isin stays a pruning partition filter (no cast above the column)
    val cellLits: Seq[Any] = asg.schema("cell").dataType match {
      case IntegerType => touched.toSeq.map(_.toInt)
      case _           => touched.toSeq
    }
    val assigned = asg.filter(col("cell").isin(cellLits: _*))
      .withColumn("cell", col("cell").cast(LongType))
    ivfRerank(assigned, probed, k)
  }

  /** LSH-bucketed ANN: equi-join on the signature bucket, exact cosine
    * re-rank within buckets, top-k per query. With `multiProbe` the
    * query side also probes every Hamming-distance-1 bucket (nBits+1
    * probes), recovering most of the recall a near-boundary vector loses
    * to a single sign flip — which is what makes HIGHER nBits (smaller
    * buckets) usable at scale: candidate volume per
    * query stays ~(nBits+1)·occupancy instead of one giant bucket. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int = 8,
      multiProbe: Boolean = true, nTables: Int = 1): DataFrame = {
    // one signature per table; table t draws planes [t*nBits, (t+1)*nBits)
    // so tables are independent. Bucket key is (table, sig) — an equi-join
    // key; the corpus is replicated nTables× (the standard multi-table LSH
    // space/recall trade: linear in nTables, never quadratic).
    def sigs(emb: Column): Column =
      array((0 until nTables).map { t =>
        struct(lit(t).as("t"), lshSignature(emb, nBits, t * nBits).as("sig"))
      }: _*)
    val c = corpus.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      norm2Exact(col("embedding")).as("cn2"),
      explode(sigs(col("embedding"))).as("ts"))
      .select(col("cid"), col("ce"), col("cn2"),
        concat_ws(":", col("ts.t"), col("ts.sig")).as("bucket"))
    val qBase = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      norm2Exact(col("embedding")).as("qn2"),
      explode(sigs(col("embedding"))).as("ts"))
      .select(col("qid"), col("qe"), col("qn2"),
        col("ts.t").as("t"), col("ts.sig").as("sig"))
    val probes =
      if (multiProbe)
        array(col("sig") +: (0 until nBits).map(i => col("sig").bitwiseXOR(lit(1L << i))): _*)
      else array(col("sig"))
    val q = qBase.select(col("qid"), col("qe"), col("qn2"), col("t"),
        explode(probes).as("psig"))
      .select(col("qid"), col("qe"), col("qn2"),
        concat_ws(":", col("t"), col("psig")).as("bucket"))
    // with nTables > 1 a (qid, cid) pair can collide in several tables —
    // dedupe BEFORE any scoring so each candidate is scored once
    val cand = c.join(q, Seq("bucket"))
      .filter(col("cid") =!= col("qid"))
      .dropDuplicates("qid", "cid")
    // candidate volume is (nBits+1)·nTables·occupancy per query
    twoPhaseTopK(cand, k)
  }
}
