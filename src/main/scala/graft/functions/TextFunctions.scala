package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting, shingling.
  * All pure Column expressions (codegen-friendly; no UDFs) so they survive
  * whole-stage codegen at 100 TB scale.
  */
object TextFunctions {

  /** Whitespace tokenizer (drops empty tokens). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish sub-word tokenizer: letter runs, digit runs, and single
    * punctuation marks each become a token — a cheap deterministic proxy for
    * byte-pair encoding used for token counting. */
  def bpeishTokens(text: Column): Column =
    filter(split(lower(text), "(?<=[a-z])(?=[^a-z])|(?<=[0-9])(?=[^0-9])|(?<=[^a-z0-9])"),
      t => length(trim(t)) > 0)

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Tiny, deterministic, public-knowledge lists. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "in", "von", "zu", "den", "mit", "ist"),
  )

  /** Count of tokens that appear in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val lit_ = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(lit_, lower(t))))
  }

  /** Language-ID heuristic: pick the language whose stopword list scores the
    * most hits; ties and zero hits fall back to "und" (undetermined).
    * Deterministic tie-break: language codes in lexicographic order win.
    * Single-pass native expression (see expressions.LangScoreExpr). */
  def langId(text: Column): Column =
    graft.functions.expressions.LangScoreExpr(tokens(text), stopwords)

  /** Quality-score components: character count, token count, mean token
    * length, punctuation ratio, stopword ratio (English list). Returns a
    * struct; callers pick fields or combine into a single score. */
  def qualityStats(text: Column): Column = {
    val toks = tokens(text)
    val nChars = length(text)
    val nToks = size(toks)
    // Long accumulator: an Int one would overflow (ANSI: runtime error) at
    // 2^31 total token chars — inside Spark's 2 GB string ceiling.
    val toksLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val punct = length(text) - length(regexp_replace(text, "[.,!?;:]", ""))
    val stops = stopwordHits(toks, stopwords("en"))
    struct(
      nChars.as("n_chars"),
      nToks.as("n_tokens"),
      (toksLen.cast("double") / nToks.cast("double")).as("mean_token_len"),
      (punct.cast("double") / nChars.cast("double")).as("punct_ratio"),
      (stops.cast("double") / nToks.cast("double")).as("stopword_ratio"),
    )
  }

  /** Rolling fingerprint over whitespace tokens (rotate-left-5 XOR of
    * per-token xxhash64 — bitwise, so it wraps safely under ANSI mode) —
    * order-sensitive document fingerprint; equal documents get equal
    * fingerprints, reordered ones don't. */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) =>
      shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)).bitwiseXOR(xxhash64(t)))

  /** Exact Jaccard over two SORTED distinct array<long> columns
    * ([[md5Prefix60]] output) — one merge pass (JaccardSortedExpr). */
  def jaccardSorted(a: Column, b: Column): Column =
    graft.functions.expressions.JaccardSortedExpr(a, b)

  /** Engine-portable hashed shingle set: sorted distinct md5-hex of each
    * n-gram shingle. md5 is bit-identical in Spark and DuckDB, so pipelines
    * built on this (unlike xxhash64-based ones) carry real
    * DuckDB oracles end to end. Single native pass (tokens → shingle md5s
    * → sorted distinct) — see expressions.Md5ShinglesExpr. */
  def md5Shingles(text: Column, n: Int): Column =
    graft.functions.expressions.Md5ShinglesExpr(tokens(text), n)

  /** Engine-portable MinHash signature over [[md5Shingles]] output: element
    * j = min over the set of md5(j ":" hex). See expressions.MinHashMd5Expr. */
  def minhashMd5(md5ShingleCol: Column, k: Int): Column =
    graft.functions.expressions.MinHashMd5Expr(md5ShingleCol, k)

  /** LSH band keys from a string MinHash signature — md5 of the joined band
    * rows (DuckDB: `md5(array_to_string(sg[b*r+1 : b*r+r], ','))`). Native
    * single pass: the transform(sequence…) form re-evaluates the signature
    * subtree once per band (see expressions.LshBandKeysMd5Expr). */
  def lshBandKeysMd5(signature: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.expressions.LshBandKeysMd5Expr(signature, bands, rowsPerBand)

  /** Exact Jaccard over two SORTED distinct array<string> columns
    * ([[md5Shingles]] output) — one merge pass, no per-pair hash sets
    * (DuckDB: `len(list_intersect(a,b)) / len(list_distinct(list_concat))`). */
  def jaccardSets(a: Column, b: Column): Column =
    graft.functions.expressions.JaccardSortedStrExpr(a, b)

  /** 60-bit compaction of a [[md5Shingles]] set for the candidate-VERIFY
    * join: sorted distinct longs from each shingle's first 15 hex chars —
    * ~6× fewer shuffle bytes than the hex strings and a long-merge Jaccard
    * ([[jaccardSorted]]). DuckDB mirror:
    * `list_sort(list_distinct(list_transform(s, h -> ('0x'||h[1:15])::BIGINT)))`. */
  def md5Prefix60(md5ShingleCol: Column): Column =
    graft.functions.expressions.Md5Prefix60Expr(md5ShingleCol)

  /** Word n-gram shingles of size n (space-joined), for MinHash/Jaccard. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** MinHash signature: k minimums of seeded xxhash64 over the shingle set.
    * Deterministic (seed = hash-function index). Single-pass native
    * Catalyst expression (see expressions.MinHashSignatureExpr). */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.expressions.MinHashSignatureExpr(shingleCol, k)

  /** 64-bit SimHash over whitespace tokens: per-bit vote of each token's
    * xxhash64; bit set iff the weighted vote is positive. Single-pass native
    * Catalyst expression (see expressions.SimHash64Expr — the pure-Column
    * formulation builds a 64-wide tree that dominated dedup at sf0.1). */
  def simhash64(text: Column): Column =
    graft.functions.expressions.SimHash64Expr(tokens(text))

  /** Engine-portable SimHash: per-token 64-bit hash from md5 instead of
    * xxhash64, so the dedup query carries a DuckDB oracle. See
    * expressions.SimHashMd5Expr. */
  def simhashMd5(text: Column): Column =
    graft.functions.expressions.SimHashMd5Expr(tokens(text))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
