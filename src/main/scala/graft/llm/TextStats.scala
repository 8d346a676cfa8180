package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language-ID heuristic, document fingerprinting.
  *
  * Everything is a codegen'd Column expression — per-document work is
  * embarrassingly parallel and pipelines inside the parquet scan stage
  * (no shuffle until the caller aggregates).
  */
object TextStats {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, "\\s+"))

  /** BPE-ish token count: letter runs, digit runs, and single other
    * non-space chars (the usual pre-tokenizer regex shape). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Mean token length (exact rational: int sums → one double division).
    *
    * The token-length sum is `length(text minus all \s runs)`: split on
    * `\s+` concatenates back to exactly the non-whitespace characters
    * (a leading empty token contributes 0 to both forms), so one
    * codegen'd regexp_replace replaces the interpreted
    * aggregate(transform(...)) fold over the token array (HOFs are
    * CodegenFallback — the q193/r16 lesson applied down the sub-second
    * band, r17). Identical integers, identical division. */
  def meanTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast(DoubleType) /
      size(split(text, "\\s+"))

  /** Stopword ratio against a fixed lexicon. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = split(lower(text), "\\s+")
    size(filter(toks, t => t.isin(stopwords: _*))).cast(DoubleType) / size(toks)
  }

  /** Punctuation character ratio (per char). */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,;:!?'\"()\\[\\]{}-]", "")))
      .cast(DoubleType) / length(text)

  /** Composite quality score in [0,1]: length band + stopword presence −
    * punctuation excess. Deterministic rational arithmetic. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val nTok = tokenCount(text)
    val lengthOk = when(nTok.between(10, 1000), lit(0.5)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatio(text, stopwords) > 0.01, lit(0.3)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(text) < 0.2, lit(0.2)).otherwise(lit(0.0))
    lengthOk + stopOk + punctOk
  }

  /** [[qualityScore]] in integer deci-units (5/3/2 for the length,
    * stopword and punctuation bands), so threshold comparisons are
    * exact on any engine. Int-typed; callers cast to the width they
    * aggregate in. */
  def qualityScore10(text: Column, stopwords: Seq[String]): Column =
    when(tokenCount(text).between(10, 1000), lit(5)).otherwise(lit(0)) +
      when(stopwordRatio(text, stopwords) > 0.01, lit(3)).otherwise(lit(0)) +
      when(punctRatio(text) < 0.2, lit(2)).otherwise(lit(0))

  /** [[qualityScore10]] of `text` in DuckDB SQL, the oracle side. */
  def qualityScore10Sql(stopwords: Seq[String]): String = {
    val words = stopwords.map(w => s"'$w'").mkString(", ")
    raw"""CASE WHEN len(string_split_regex(text, '\s+')) BETWEEN 10 AND 1000 THEN 5 ELSE 0 END +
       |  CASE WHEN CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
       |    t -> t IN ($words))) AS DOUBLE)
       |    / len(string_split_regex(lower(text), '\s+')) > 0.01 THEN 3 ELSE 0 END +
       |  CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
       |    / length(text) < 0.2 THEN 2 ELSE 0 END""".stripMargin
  }

  /** Language-ID n-gram/stopword heuristic: per-language marker hit
    * counts, argmax with alphabetical tiebreak. Markers are tiny fixed
    * lexica — the real-world shape (fastText-style scoring) with a
    * deterministic, engine-portable core. */
  def languageGuess(text: Column, markers: Map[String, Seq[String]]): Column = {
    val toks = split(lower(text), "\\s+")
    def hits(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words: _*)))
    // Argmax as ONE `greatest` over (hits, -langIndex) structs: ties go
    // to the alphabetically smaller language (higher -index), and — the
    // point — every language's filter() evaluates exactly once per row.
    // The previous when()-chain fold copied BOTH accumulator branches
    // into each step, so the innermost hits expression was duplicated
    // 2^|langs| times, all of them interpreted (HOFs are
    // CodegenFallback) — measured 1.7 s → 0.7 s on q77 at sf0.1 with
    // identical results. The old fold's "und" start could never win
    // (any hits ≥ 0 beats its -1 sentinel), so dropping it is exact for
    // non-empty marker maps.
    val sorted = markers.toSeq.sortBy(_._1)
    require(sorted.nonEmpty, "languageGuess needs at least one language")
    val entries = sorted.zipWithIndex.map { case ((_, words), i) =>
      struct(hits(words).as("h"), lit(-i).as("ni"))
    }
    val best = if (entries.size == 1) entries.head else greatest(entries: _*)
    // single reference to `best` (an element_at over a literal name
    // array) — a when()-chain here would re-evaluate the whole greatest
    // tree once per language again
    val names = array(sorted.map(x => lit(x._1)): _*)
    element_at(names, (lit(0) - best.getField("ni")) + 1)
  }

  /** Polynomial rolling-hash fingerprint over tokens, mod 1e9+7 —
    * a deterministic document signature computable in any engine
    * (per-token value: length*17 + first-char code). */
  def rollingFingerprint(text: Column): Column = {
    val toks = split(text, "\\s+")
    aggregate(toks, lit(0L),
      (acc, tok) => pmod(acc * 31 + (length(tok) * 17 + ascii(tok)), lit(1000000007L)))
  }

  /** Hashed word n-gram keys: xxhash64 over the token slice instead of
    * building the joined gram STRING. Tokens come from split(text, " ")
    * so they cannot contain a space, which makes join-with-space
    * injective — two grams have equal strings iff their token slices
    * are equal — so distinct counts over these keys match the string
    * grams short of a 2⁻⁶⁴ hash collision (same argument as
    * [[graft.llm.TextDedup.verifyJaccard]]'s hashed tokens). Avoiding
    * the two string allocations per token position measured 4× on q57. */
  def wordGramKeys(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    // hash every token ONCE, then combine n consecutive token hashes
    // by chaining xxhash64(acc, next) — fixed 16-byte hashes per gram
    // position and zero allocation, vs re-hashing the token bytes (or
    // worse, building the joined gram string) for every gram. The
    // hashed-token array is LET-BOUND through a single-element
    // transform: a bare subexpression referenced inside the position
    // lambda is re-evaluated per position (no CSE across lambda
    // boundaries — measured O(tokens²): 15 s vs 0.7 s on q57), while a
    // lambda variable is materialized once per row. (A Horner
    // multiply-fold would be cheaper still but ANSI mode makes i64
    // overflow throw, and these are load-bearing wraps.)
    def keysFrom(hs: Column): Column =
      transform(sequence(lit(0), size(hs) - n), i =>
        (1 until n).foldLeft(element_at(hs, i + 1))((acc, j) =>
          xxhash64(acc, element_at(hs, i + (j + 1)))))
    when(size(ws) >= n,
      element_at(transform(array(transform(ws, t => xxhash64(t))),
        hs => keysFrom(hs)), 1))
      .otherwise(array(xxhash64(ws)))
  }

  /** Within-document duplicate n-gram fraction — the Gopher/FineWeb
    * repetition signal: 1 - distinct_grams/grams. High values flag
    * boilerplate/looping text. Pure per-row array arithmetic over
    * hashed gram keys ([[wordGramKeys]]): no explode, no shuffle, no
    * gram-string building — the whole signal pipelines inside the
    * scan. */
  def repetitionRatio(text: Column, n: Int): Column = {
    val grams = wordGramKeys(text, n)
    round(lit(1.0) - size(array_distinct(grams)).cast(DoubleType)
      / size(grams).cast(DoubleType), 6)
  }

  /** PII-bearing-span counts and a redacted text digest. The patterns
    * are the usual first-pass scrubber set (emails, URLs); the digest of
    * the redacted text lets the caller verify byte-identical scrubbing
    * across engines without shipping the text itself. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^\\s]+"

  def redacted(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"), urlRe, "<URL>")
}
