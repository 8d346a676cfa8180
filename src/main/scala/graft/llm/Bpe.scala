package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BPE merge learning — the tokenizer-training step of an LLM data
  * pipeline: starting from characters, repeatedly merge the most
  * frequent adjacent symbol pair across the corpus. Expressed the way
  * real BPE trainers work: merges are learned over the DISTINCT-word
  * frequency table (explode + count — the corpus pass), so per-merge
  * cost follows the vocabulary, which SATURATES as the corpus grows
  * (the q132 distinct-name principle); only the initial word count
  * touches corpus-sized data.
  *
  * Determinism contract (the q123 k-means idiom): merge counts are
  * integer sums, the winning pair is argmax by (weight DESC, left ASC,
  * right ASC) — a total order — and merge application is LITERAL
  * left-to-right string replacement on the sentinel-padded symbol
  * sequence (` a b ` → ` ab `), semantics shared bit-for-bit by
  * Spark's `replace` and DuckDB's `replace`. Fixed merge count, no
  * convergence test: the learned table is a pure function of the
  * corpus, and [[unrolledSql]] (generated from the same constants)
  * replays every step.
  *
  * Scale shape: each merge step is one groupBy over the vocabulary's
  * adjacent pairs plus a 1-row argmax collect (bounded — a scalar per
  * step, the only driver traffic). The evolving vocab table is
  * localCheckpoint'd per step so lineage stays flat at any merge
  * count; the checkpoint blocks are context-cleaned when dropped.
  */
object Bpe {

  /** Learn `m` merges over the corpus text. Returns one row per merge:
    * (step, l, r, weight) — step 1-based, weight = the summed word
    * frequency the (l, r) adjacency had when it won. */
  def learnMerges(docs: DataFrame, m: Int, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val merges = learnMergeList(docs, m, textCol)
    spark.createDataFrame(
      java.util.Arrays.asList(merges.map(t => Row(t._1, t._2, t._3, t._4)): _*),
      StructType(Seq(StructField("step", IntegerType, nullable = false),
        StructField("l", StringType), StructField("r", StringType),
        StructField("weight", LongType))))
  }

  /** [[learnMerges]] as a local list (bounded: one scalar row per
    * step) — the form [[encodeCorpus]] consumes. */
  def learnMergeList(docs: DataFrame, m: Int,
      textCol: String = "text"): Seq[(Int, String, String, Long)] =
    learnMergeListWithRounds(docs, m, textCol)._1

  /** Candidates a batched round may accept from one top-K collect.
    * Candidate 1 is the round's true argmax (always safe). Candidate
    * i > 1 is accepted only when the sequential algorithm PROVABLY
    * would pick it at its round without a recount:
    *
    *  (1) its symbols are disjoint from every previously accepted
    *      merge's {l, r, l+r} — so earlier replaces can neither
    *      destroy nor (via symbol collision with a freshly minted
    *      l+r) inflate its adjacency count: it stays EXACTLY w_i;
    *  (2) w_i strictly exceeds nextW + Σ interference, where nextW
    *      bounds every non-accepted pair (the next snapshot weight; 0
    *      past the end of a COMPLETE list) and each accepted merge j
    *      contributes B_j = max(leftoverBound_j, newPairBound_j):
    *      leftover (l_j, r_j) adjacencies — the ones literal
    *      left-to-right replace skips in runs — each sit between two
    *      occurrences, i.e. require an (r_j, l_j) adjacency, so
    *      leftovers ≤ min(⌊w_j/2⌋, count_before(r_j, l_j));
    *      newPairBound_j bounds every pair the new symbol
    *      c_j = l_j+r_j can form: count(x, c_j) ≤ count_before(x, l_j)
    *      and count(c_j, y) ≤ count_before(r_j, y), maximized over the
    *      snapshot's known matching pairs. When the collected list is
    *      SHORTER than K it is the complete pair table and absent
    *      pairs are exactly 0; otherwise the unknown tail is bounded
    *      by the K-th weight.
    *
    * Acceptance stops at the FIRST failure (prefix-only), so every
    * non-accepted pair sorts at-or-after nextW and the bound in (2)
    * covers it. The next round recounts exactly, so bounds never
    * accumulate across rounds. */
  private[graft] def acceptBatch(cand: IndexedSeq[(String, String, Long)],
      complete: Boolean): Seq[(String, String, Long)] = {
    if (cand.isEmpty) return Nil
    // weight of a snapshot pair not in the collected list
    val unknown = if (complete) 0L else cand.last._3
    def known(l: String, r: String): Long =
      cand.collectFirst { case (pl, pr, pw) if pl == l && pr == r => pw }
        .getOrElse(unknown)
    val accepted = scala.collection.mutable.ListBuffer[(String, String, Long)]()
    val syms = scala.collection.mutable.Set[String]()
    var interference = 0L
    var i = 0
    var stop = false
    while (i < cand.length && !stop) {
      val (l, r, w) = cand(i)
      val nextW =
        if (i + 1 < cand.length) Some(cand(i + 1)._3)
        else if (complete) Some(0L)
        else None // unbounded tail: cannot certify anything past the list
      val ok =
        if (i == 0) true
        else nextW.exists(nw => !syms.contains(l) && !syms.contains(r) &&
          w > nw + interference)
      if (ok) {
        accepted += ((l, r, w))
        syms ++= Seq(l, r, l + r)
        val leftoverBound = math.min(w / 2, known(r, l))
        val newPairBound = (unknown +: cand.collect {
          case (pl, pr, pw) if (pr == l || pl == r) && (pl, pr) != ((l, r)) => pw
        }).max
        interference += math.max(leftoverBound, newPairBound)
        i += 1
      } else stop = true
    }
    accepted.toSeq
  }

  /** Batched merge learning: per ROUND one vocabulary aggregation and
    * one bounded top-K collect (K scalar rows — the only driver
    * traffic), then [[acceptBatch]] takes the provably-safe prefix and
    * all accepted replaces apply as one chained projection before a
    * single checkpoint. Returns (merges, rounds): the merge list is
    * bit-identical to the one-collect-per-merge loop (BpeSpec pins the
    * equivalence by property), rounds ≤ m shows the driver round-trip
    * saving — at real tokenizer merge counts (30k+) this is the
    * difference between a driver-latency-bound loop and one bounded by
    * the corpus passes. */
  private[graft] def learnMergeListWithRounds(docs: DataFrame, m: Int,
      textCol: String = "text",
      topK: Int = 16): (Seq[(Int, String, String, Long)], Int) = {
    val words = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("n"),
        concat(lit(" "), array_join(split(col("word"), ""), " "), lit(" "))
          .as("seq"))
    var cur = words.localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer[(Int, String, String, Long)]()
    var step = 1
    var rounds = 0
    var exhausted = false
    while (step <= m && !exhausted) {
      val syms = split(trim(col("seq")), " ")
      val pairs = cur
        .select(col("n"), syms.as("a"))
        .withColumn("p", explode(zip_with(
          slice(col("a"), lit(1), greatest(size(col("a")) - 1, lit(0))),
          slice(col("a"), lit(2), greatest(size(col("a")) - 1, lit(0))),
          (l, r) => struct(l.as("l"), r.as("r")))))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("w"))
      // bounded collect: at most topK scalar rows per round
      val top = pairs.orderBy(desc("w"), col("l"), col("r")).limit(topK)
        .collect().map { case Row(l: String, r: String, w: Long) => (l, r, w) }
        .toIndexedSeq
      rounds += 1
      if (top.isEmpty) exhausted = true
      else {
        val batch = acceptBatch(top, complete = top.length < topK)
          .take(m - step + 1)
        val applied = batch.foldLeft(cur) { case (df, (l, r, _)) =>
          // literal replace with Column args (no SQL-literal quoting
          // pitfalls), chained in acceptance order — identical to the
          // sequential rounds because accepted symbols are disjoint
          df.withColumn("seq",
            call_function("replace", col("seq"), lit(s" $l $r "), lit(s" $l$r ")))
        }
        batch.foreach { case (l, r, w) => merges += ((step, l, r, w)); step += 1 }
        cur = applied.localCheckpoint()
      }
    }
    (merges.toSeq, rounds)
  }

  /** ENCODE the corpus with the learned merges — the tokenizer-apply
    * step: every distinct word's char sequence gets the m literal
    * replaces (one narrow chained projection over the vocabulary, no
    * shuffle), token count = final symbol count, and the corpus joins
    * back to the vocab on the word (vocab-sized build side — broadcast
    * at today's SF, an ordinary equi-join shuffle at 100 TB). Report =
    * per-source word and token totals, the "how many tokens is my
    * corpus" question every training-budget estimate starts with. */
  def encodeCorpus(docs: DataFrame, m: Int, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val merges = learnMergeList(docs, m, textCol)
    val words = docs
      .select(col(sourceCol).as("source"),
        explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    val vocab0 = words.select("word").distinct()
      .withColumn("seq",
        concat(lit(" "), array_join(split(col("word"), ""), " "), lit(" ")))
    val vocab = merges.foldLeft(vocab0) { case (v, (_, l, r, _)) =>
      v.withColumn("seq",
        call_function("replace", col("seq"), lit(s" $l $r "), lit(s" $l$r ")))
    }
    val toks = vocab.withColumn("n_tokens",
      size(split(trim(col("seq")), " ")).cast(LongType))
    words.join(toks.select("word", "n_tokens"), "word")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tokens")).as("n_tokens"))
  }

  /** DuckDB replay of [[encodeCorpus]]: the [[unrolledSql]] learning
    * chain with the word column carried through every step, then token
    * counts per word joined back onto the exploded corpus. */
  def encodeSql(m: Int, maxSyms: Int = 64): String = {
    val steps = (1 to m).map { i =>
      s"""c$i AS (
         |  SELECT l, r, SUM(n)::BIGINT AS w FROM (
         |    SELECT n, a[i] AS l, a[i + 1] AS r
         |    FROM (SELECT n, string_split_regex(trim(seq), ' ') AS a FROM s${i - 1})
         |    CROSS JOIN generate_series(1, $maxSyms) g(i)
         |    WHERE i <= len(a) - 1)
         |  GROUP BY l, r),
         |b$i AS (SELECT l, r, w FROM c$i ORDER BY w DESC, l, r LIMIT 1),
         |s$i AS (
         |  SELECT word, n, replace(seq, ' ' || b$i.l || ' ' || b$i.r || ' ',
         |    ' ' || b$i.l || b$i.r || ' ') AS seq
         |  FROM s${i - 1}, b$i)""".stripMargin
    }
    s"""WITH w0 AS (
       |  SELECT word, COUNT(*)::BIGINT AS n FROM (
       |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |s0 AS (
       |  SELECT word, n,
       |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq
       |  FROM w0),
       |${steps.mkString(",\n")},
       |tok AS (
       |  SELECT word, len(string_split(trim(seq), ' '))::BIGINT AS n_tokens
       |  FROM s$m),
       |corpus AS (
       |  SELECT source, word FROM (
       |    SELECT source,
       |      unnest(string_split_regex(lower(text), '\\s+')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0)
       |SELECT source, COUNT(*)::BIGINT AS n_words,
       |  SUM(n_tokens)::BIGINT AS n_tokens
       |FROM corpus JOIN tok USING (word)
       |GROUP BY 1 ORDER BY source""".stripMargin
  }

  /** DuckDB replay of [[learnMerges]] over the `documents` table: same
    * word counts, same sentinel-padded char sequences, one unrolled
    * (counts → argmax → replace) CTE triple per merge step.
    * `maxSyms` bounds the adjacency index series (any value ≥ the max
    * initial word length is exact; corpus words are far shorter). */
  def unrolledSql(m: Int, maxSyms: Int = 64): String = {
    val steps = (1 to m).map { i =>
      s"""c$i AS (
         |  SELECT l, r, SUM(n)::BIGINT AS w FROM (
         |    SELECT n, a[i] AS l, a[i + 1] AS r
         |    FROM (SELECT n, string_split_regex(trim(seq), ' ') AS a FROM s${i - 1})
         |    CROSS JOIN generate_series(1, $maxSyms) g(i)
         |    WHERE i <= len(a) - 1)
         |  GROUP BY l, r),
         |b$i AS (SELECT l, r, w FROM c$i ORDER BY w DESC, l, r LIMIT 1),
         |s$i AS (
         |  SELECT n, replace(seq, ' ' || b$i.l || ' ' || b$i.r || ' ',
         |    ' ' || b$i.l || b$i.r || ' ') AS seq
         |  FROM s${i - 1}, b$i)""".stripMargin
    }
    val union = (1 to m)
      .map(i => s"SELECT $i AS step, l, r, w AS weight FROM b$i")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH w0 AS (
       |  SELECT word, COUNT(*)::BIGINT AS n FROM (
       |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
       |    FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |s0 AS (
       |  SELECT n,
       |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq
       |  FROM w0),
       |${steps.mkString(",\n")}
       |SELECT step, l, r, weight FROM (
       |  $union)
       |ORDER BY step""".stripMargin
  }
}
