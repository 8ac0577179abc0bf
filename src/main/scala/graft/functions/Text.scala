package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline operators:
  * tokenization, document fingerprinting, language-ID, quality scoring,
  * shingling for MinHash/Jaccard dedup.
  *
  * All pure built-in-function trees (codegen'd); the per-document cost is
  * O(len(text)), embarrassingly parallel — scales linearly with input
  * partitions, no shuffle.
  */
object Text {

  /** Whitespace tokenizer. `\s+` on trimmed text = no empty tokens. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword chunk count: letter runs, digit runs, punctuation runs
    * — the pre-tokenizer split pattern BPE vocabularies are trained over.
    * Same RE2-compatible pattern evaluates identically in other engines. */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit(bpePattern), lit(0)))

  /** Order-sensitive polynomial rolling hash over the token stream
    * (Rabin–Karp): h ← (h·31 + hash60(token) mod 10^6) mod p. Unlike the
    * set-based [[fingerprint]], token ORDER changes the value. Single
    * compiled pass ([[RollingHash60Expr]]) — the aggregate/transform HOF
    * form ran an interpreted lambda per token; same left fold, same
    * values, bit-identical in any engine. */
  def rollingHash(c: Column): Column = HashExpr.rollingHash60(normTokens(c))

  /** Canonical text: lowercase, whitespace collapsed. */
  def normalized(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** The whitespace tokens of the canonical text. */
  def normTokens(c: Column): Column = tokens(normalized(c))

  /** Deterministic document fingerprint = md5 of normalized text.
    * Used for exact dedup keys and cheap equality pre-filter. */
  def fingerprint(c: Column): Column = md5(normalized(c))

  /** Distinct word n-gram shingle set (for Jaccard / MinHash) — one
    * compiled pass ([[ShingleSetExpr]]); tokens shorter than n collapse to
    * a single whole-text shingle. */
  def shingleSet(c: Column, n: Int): Column = HashExpr.shingleSet(normTokens(c), n)

  // ---- minhash / simhash -------------------------------------------------

  /** One md5-derived 60-bit hash per shingle — computed ONCE in a compiled
    * pass ([[ArrayHash60Expr]]); permutations are cheap affine maps inside
    * [[MinHashBandKeysExpr]]. */
  def shingleHashes(shingles: Column): Column =
    HashExpr.arrayHash60(shingles)

  /** LSH band keys: `bands` strings, each `"<band>:<min>_..._<min>"`.
    * Docs sharing any band key become candidate pairs — the classic
    * shingle→minhash→band→bucket-join dedup at any scale. Single-pass
    * custom expression; md5 per shingle evaluated exactly once. */
  def minhashBands(shingles: Column, perms: Int, bands: Int): Column =
    HashExpr.minhashBandKeys(shingleHashes(shingles), perms, bands)

  /** Frequency-weighted 60-bit SimHash over whitespace tokens. Each token
    * hashes to 60 bits; bit j of the result is the sign of
    * sum over tokens of (bit j of hash ? +1 : -1). Single-pass custom
    * expression over the hashed-token array. 60 bits = the full entropy of
    * the md5-derived token hash, supporting 4×15-bit LSH bands (32k
    * buckets/band) for hamming-≤3 dedup at scale. */
  def simhash60(c: Column): Column =
    HashExpr.simhash(HashExpr.arrayHash60(normTokens(c), "simhash|"), 60)

  // ---- language ID -------------------------------------------------------
  // Marker-word heuristic: count distinct marker hits per language over the
  // token set, argmax with a fixed priority order on ties. Deterministic and
  // expressible identically in the DuckDB oracle.
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "de"),
    "fr" -> Seq("le", "les", "et", "est", "un", "une", "dans", "pour"))

  def langScore(c: Column, lang: String): Column = {
    val words = markers.toMap.apply(lang)
    size(array_intersect(array_distinct(normTokens(c)), array(words.map(lit): _*)))
  }

  /** Predicted language code; ties resolve in declaration order (en first). */
  def langId(c: Column): Column = {
    val scores = markers.map { case (l, _) => l -> langScore(c, l) }
    val Seq(en, de, es, fr) = scores.map(_._2)
    when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  // ---- quality scoring ---------------------------------------------------
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def charCount(c: Column): Column = length(c)

  /** Count of punctuation characters. */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,!?;:]", ""))

  def stopwordCount(c: Column): Column = HashExpr.countInSet(normTokens(c), stopwords)

  /** Mean token length (double; identical IEEE ops on both engines). */
  def avgTokenLen(c: Column): Column = {
    val toks = normTokens(c)
    (length(array_join(toks, "")).cast("double")) / size(toks).cast("double")
  }
}
