package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, token counting,
  * fingerprinting. All are pure `Column` expression programs — they stay
  * inside whole-stage codegen (no UDFs), so they cost one scan at any scale.
  */
object TextFunctions {

  /** Whitespace tokenization (the `documents.text` fixture is
    * space-separated lowercase words).
    */
  def tokens(text: Column): Column = split(text, " ")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  def tokenCount(text: Column): Column = size(tokens(text))

  def uniqueTokenCount(text: Column): Column = size(distinctTokens(text))

  def charCount(text: Column): Column = length(text)

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric glyphs — a cheap, deterministic proxy for an LLM
    * tokenizer's token count.
    */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def bpeishTokenCount(text: Column): Column = regexp_count(lower(text), lit(bpeishPattern))

  /** Ratio of non-alphanumeric/space characters — punctuation density. */
  def punctRatio(text: Column): Column = {
    val stripped = regexp_replace(lower(text), "[a-z0-9 ]", "")
    length(stripped).cast("double") / length(text)
  }

  val defaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks)
  }

  /** Composite quality score in [0,1]-ish: long enough, low punctuation,
    * sane stopword density. Weights are heuristic; the value is the
    * deterministic pipeline, not the constants.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punct = punctRatio(text)
    val stop = stopwordRatio(text)
    lenScore * 0.4 + (lit(1.0) - punct) * 0.3 + least(stop * 5.0, lit(1.0)) * 0.3
  }

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Classification = argmax of distinct-token hits, ties broken
    * by list order (en, es, fr, de).
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den"))

  def langScore(text: Column, lang: String): Column = {
    val words = langStopwords.toMap.apply(lang)
    size(array_intersect(distinctTokens(text), array(words.map(lit): _*)))
  }

  /** Heuristic language ID: argmax language score, 'und' when no list hits. */
  def langId(text: Column): Column = {
    val scores = langStopwords.map { case (lang, _) => lang -> langScore(text, lang) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(best <= 0, "und")) { case (acc, (lang, sc)) =>
      acc.when(sc === best, lang)
    }.otherwise("und")
  }

  /** Content fingerprint for exact-duplicate detection at scale: md5 is
    * portable (identical in DuckDB), xxhash64 is the cheap engine-native one.
    */
  def fingerprintMd5(text: Column): Column = md5(text)
  def fingerprintXx(text: Column): Column = xxhash64(text)

  /** Rolling polynomial hash over tokens (order-sensitive, unlike the set
    * fingerprints): h = fold(h * P + xxhash64(token)). Expression-only.
    */
  def rollingTokenHash(text: Column, prime: Long = 1000003L): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc * prime + xxhash64(t))

  /** Word n-gram shingles (n >= 1) as an array column; the substrate for
    * MinHash / Jaccard dedup.
    *
    * The token array is bound as a lambda variable (via a 1-element array
    * wrapper) so `split` runs ONCE per row. Referencing `tokens(text)`
    * directly inside the inner lambda would inline the split expression into
    * every `element_at` call — O(shingles × n) full re-splits per document,
    * and the same expression blowup would be copied into optimizer-inferred
    * not-null filters.
    */
  def shingles(text: Column, n: Int): Column =
    flatten(transform(array(tokens(text)), toks =>
      when(size(toks) < n, array().cast("array<string>")).otherwise(
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))))

  /** The ascending distinct `xxhash64` values of the word `n`-gram
    * shingles of [[shingles]] (`n = 1`: of [[distinctTokens]]), hashed in
    * place by the native [[ShingleHashes]] kernel — no shingle string is
    * built. Needs no session registration.
    */
  def shingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      ShingleHashes(org.apache.spark.sql.graft.ColumnBridge.expression(text), n))

  /** The `numBands` MinHash LSH band hashes of a shingle-hash set
    * (`numBands × rowsPerBand` permutations), by the native
    * [[MinHashBands]] kernel; `posexplode` gives `(band, bh)` rows. Needs
    * no session registration.
    */
  def minHashBands(ths: Column, numBands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      MinHashBands(org.apache.spark.sql.graft.ColumnBridge.expression(ths), numBands, rowsPerBand))

  /** Overlapping fixed-size token chunks — the pretraining/RAG chunker:
    * windows of `chunkSize` tokens advancing by `chunkSize - overlap`, so
    * consecutive chunks share `overlap` tokens; every token is covered and
    * the final chunk may run short. Returns array<struct<chunk, n_toks>>
    * (pair with `posexplode` for a 1-based chunk index).
    *
    * Same lambda-binding discipline as [[shingles]]: the token array binds
    * once per row, and the whole thing is a codegen'd column program — a
    * 100 TB corpus chunks as a scan, no shuffle, no UDF.
    */
  def chunkTokens(text: Column, chunkSize: Int, overlap: Int): Column =
    chunkTokensBy(tokens(text), chunkSize, overlap)

  /** [[chunkTokens]] generalized over ANY token-array column — the
    * `tokenizer=` seam: pass `tokens(text)` for whitespace units (the
    * historical behavior) or [[bpeTokens]] for real subword units, so a
    * chunker feeding a subword-budgeted trainer counts in the same unit it
    * packs.
    */
  def chunkTokensBy(toks0: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > 0, s"chunkTokens: chunkSize must be positive, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"chunkTokens: overlap must be in [0, chunkSize), got $overlap")
    val step = chunkSize - overlap
    flatten(transform(array(toks0), toks =>
      transform(sequence(lit(1), greatest(size(toks) - overlap, lit(1)), lit(step)),
        s => struct(
          concat_ws(" ", slice(toks, s, lit(chunkSize))).as("chunk"),
          least(lit(chunkSize), size(toks) - s + 1).cast("int").as("n_toks")))))
  }

  /** REAL greedy merges-table BPE token count (the native codegen'd
    * [[BpeTokenCount]]; fixture merges, no network) — the subword unit a
    * training-data budget actually meters, vs [[tokenCount]]'s whitespace
    * proxy. Pass to `packSequences` / `lengthBucketStats` /
    * `sampleToTokenBudget` as their `nTokens` argument to run the curation
    * family on subword budgets. Requires [[GraftFunctions.register]] (or
    * the GraftExtensions conf) on the session.
    */
  def bpeTokenCount(text: Column): Column = call_function("bpe_token_count", text)

  /** [[bpeTokenCount]] over the production-sized checked-in merges table
    * ([[BpeTokenizer.large]], ~1.5k ranks) — the realistic-scale tier,
    * gated by q_ext_tok3's lookup-join oracle.
    */
  def bpeTokenCountLarge(text: Column): Column =
    call_function("bpe_token_count_large", text)

  /** The BPE tokens themselves (array<string>) — feeds [[chunkTokensBy]]. */
  def bpeTokens(text: Column): Column = call_function("bpe_tokens", text)
}
