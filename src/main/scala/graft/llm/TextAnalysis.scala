package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting,
  * chunking, sampling. Everything evaluates as Catalyst expressions —
  * built-ins where they fit, the [[graft.functions]] codegen scan
  * expressions ([[shingles]], [[chunkByTokens]], [[winnowedFingerprints]],
  * [[repetitionRatio]], [[charPairs]]) where a one-pass JVM scan is
  * needed (see [[Hashing]] for why Catalyst higher-order functions are
  * the wrong tool there). The one remaining Scala udf is
  * [[spellVariantPairs]]' deletion-neighborhood generator — vocabulary-
  * sized input by construction.
  */
object TextAnalysis {

  /** RE2's \s class written out: the JVM-side regexes must use this
    * instead of \s because Java's \s also matches vertical tab U+000B —
    * a DuckDB oracle using '\s' (RE2) would silently diverge on such
    * input. (Cleaning.scala keeps Java \s deliberately: its parity
    * partner is the Python reference, whose \s ≈ Java's.)
    */
  private[llm] final val Ws = "[ \t\n\f\r]"

  /** Column plumbing for the codegen text-scan expressions: wrap the
    * column's expression, return a column.
    */
  private def expr2col(
      build: org.apache.spark.sql.catalyst.expressions.Expression =>
        org.apache.spark.sql.catalyst.expressions.Expression,
      c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      build(org.apache.spark.sql.graftshim.ColumnBridge.expression(c)))

  /** Whitespace tokenization — the universal baseline tokenizer. SQL
    * split semantics end-to-end (edge empties kept, mirrored by the
    * token-family oracles' string_split_regex(trim(text))).
    */
  def tokens(text: Column): Column = split(trim(text), s"$Ws+")

  def tokenCount(text: Column): Column =
    // whitespace-class emptiness test: trim() strips only ASCII spaces,
    // so a tabs-only string would otherwise count phantom tokens
    when(length(regexp_replace(text, Ws, "")) === 0, 0)
      .otherwise(size(tokens(text)))

  /** BPE-ish subword segmentation count: alpha runs, digit runs, and
    * punctuation clusters counted as separate tokens (a cheap,
    * deterministic proxy for BPE token counts used for corpus budgeting).
    * The pattern is RE2-safe (no lookbehind) so independent engines can
    * reproduce it.
    */
  def subwordCount(text: Column): Column =
    // the punctuation class excludes the FULL [[Ws]] set — leaving \r\f
    // out counted every CR in CRLF-line-ending text as a phantom
    // punctuation token, inflating corpus token budgets by one per line
    size(regexp_extract_all(lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]+"), lit(0)))

  /** Word n-gram shingles (distinct, first-seen order), the unit for
    * MinHash/Jaccard dedup. Docs with fewer than n words yield an empty
    * set. A codegen expression since r10 ([[graft.functions.Shingles]]
    * — one in-place pass per row inside whole-stage codegen; the
    * Catalyst higher-order-function formulation would re-evaluate the
    * token split per element — see [[Hashing]] — and the former Scala
    * udf paid the serialization boundary on every dedup query's
    * hottest pass).
    */
  def shingles(text: Column, n: Int = 3): Column =
    expr2col(graft.functions.Shingles(_, n), text)

  /** Exact Jaccard similarity of two shingle sets. Two empty sets score
    * 0.0 (no similarity evidence), not 0/0 — under ANSI mode the bare
    * division would throw DIVIDE_BY_ZERO for a pair of sub-n-word docs.
    */
  def jaccard(a: Column, b: Column): Column = {
    val union = size(array_distinct(concat(a, b)))
    when(union === 0, lit(0.0)).otherwise(
      size(array_intersect(a, b)).cast("double") / union.cast("double"))
  }

  /** Ratio of lowercase-alpha characters — a quality signal (boilerplate
    * and garbled text skew low).
    */
  def alphaRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(lower(text), "[^a-z]", "")).cast("double") /
        length(text).cast("double"))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** Stopword hits per document — low counts flag non-prose/garbled text. */
  def stopwordCount(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    size(filter(tokens(lower(text)), t => t.isin(stopwords.map(lit): _*)))

  /** Composite quality score in [0,1]: alpha-heavy, some stopwords, sane
    * length. Deterministic arithmetic only.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordCount(text).cast("double") / 5.0, lit(1.0))
    (alphaRatio(text) + lenScore + stopScore) / 3.0
  }

  /** Stopword-profile language ID — the classic cheap heuristic: score
    * each candidate language by its marker-token hit count, take the
    * argmax (ties resolve in declaration order). N-gram-free so it stays
    * a pure expression; real corpora would extend the marker lists.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es"))

  def langId(text: Column): Column = {
    val t = tokens(lower(text))
    val scores = langMarkers.map { case (lang, markers) =>
      lang -> size(filter(t, w => w.isin(markers.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lang).otherwise(acc)
    }
  }

  /** Document fingerprint: 64-bit hex digest of the canonicalized text
    * (lowercase, whitespace-collapsed) — the exact-dedup key. md5-based so
    * independent engines agree.
    */
  /** Edit-distance-1 pairs within a word list — SymSpell deletion-
    * neighborhood candidate generation (two words are within distance 1
    * iff their {word} ∪ delete-one sets intersect) + exact Levenshtein
    * verify. Bucket join, never all-pairs over the vocabulary.
    */
  def spellVariantPairs(words: org.apache.spark.sql.DataFrame,
      wordCol: String): org.apache.spark.sql.DataFrame = {
    val delUdf = udf { (w: String) =>
      if (w == null) Array.empty[String]
      else (w +: Array.tabulate(w.length)(i =>
        w.substring(0, i) + w.substring(i + 1))).distinct
    }
    val keyed = words.select(col(wordCol).as("word"),
      explode(delUdf(col(wordCol))).as("v"))
    keyed.as("a").join(keyed.as("b"),
        col("a.v") === col("b.v") && col("a.word") < col("b.word"))
      .select(col("a.word").as("w1"), col("b.word").as("w2"))
      .distinct()
      .filter(levenshtein(col("w1"), col("w2")) <= 1)
  }

  /** Adjacent character pairs within one word — the unit BPE tokenizer
    * training counts to pick its first merge. Codegen expression (the
    * higher-order-function formulation re-evaluates per element and
    * falls out of codegen — see [[Hashing]]).
    */
  def charPairs(word: Column): Column =
    expr2col(graft.functions.CharPairs(_), word)

  /** Positional word bigrams with multiplicity — the bigram-LM unit.
    * Codegen expression for the same reason as [[shingles]].
    */
  def wordBigrams(text: Column): Column =
    expr2col(graft.functions.WordBigrams(_), text)

  def fingerprint(text: Column): Column =
    // collapse FIRST, trim second: trim() strips only ASCII spaces, so
    // trim-first left edge tabs/newlines behind as a residual leading/
    // trailing space in the canonical form — "foo bar" and "foo bar\n"
    // then keyed differently and exact dupes survived the dedup.
    // Collapsing turns any edge-whitespace run into one edge space,
    // which trim then removes. Mirrored in the DuckDB twins
    // (CorpusQueries.fingerprintExpr, text_fingerprint oracle).
    substring(md5(trim(regexp_replace(lower(text), s"$Ws+", " "))), 1, 16)

  /** Context-window packing: split a document into chunks of at most
    * `maxTokens` whitespace tokens (the training-data prep step that fits
    * documents into a model's context budget). Codegen expression for
    * the same reason as [[shingles]].
    */
  def chunkByTokens(text: Column, maxTokens: Int): Column =
    expr2col(graft.functions.ChunkByTokens(_, maxTokens), text)

  /** Winnowing fingerprints ([[Hashing.winnow]]): the distinct window-min
    * md5 hashes of positional word n-grams. Codegen expression for the
    * same reason as [[shingles]].
    */
  def winnowedFingerprints(text: Column, n: Int = 3, window: Int = 4): Column =
    expr2col(graft.functions.Winnow(_, n, window), text)

  /** Positional word n-gram fingerprints ([[Hashing.gramHashes]]) — the
    * repeated-span unit. Codegen expression for the same reason as
    * [[shingles]].
    */
  def gramHashes(text: Column, n: Int): Column =
    expr2col(graft.functions.GramHashes(_, n), text)

  /** 60-bit SimHash signature over word n-gram shingles
    * ([[Hashing.simhash]]); NULL for null/sub-n-word docs — see
    * [[graft.functions.SimhashSig]] for the nullability contract.
    */
  def simhashSig(text: Column, n: Int = 3): Column =
    expr2col(graft.functions.SimhashSig(_, n), text)

  /** Positional (non-distinct) word 2-gram count: clean tokens − 1,
    * floored at 0. The denominator of the repetition ratio. Uses the
    * [[graft.functions.Tokenize]] codegen expression — the ONE
    * [[Hashing.words]] convention every shingle-family oracle mirrors —
    * rather than a hand-rolled regexp chain that would have to be kept
    * in lockstep manually. ([[tokens]] above keeps SQL split semantics
    * — phantom empties on edge whitespace — for the token-count family,
    * whose oracles mirror THAT; the two conventions must not be mixed
    * within one compared quantity.)
    */
  def bigramTotal(text: Column): Column =
    greatest(size(graft.functions.Tokenize(text)) - 1, lit(0))

  /** Distinct word 2-gram count — the numerator's complement. Shares
    * [[Hashing.words]] tokenization with [[bigramTotal]]'s clean tokens.
    */
  def bigramDistinct(text: Column): Column = size(shingles(text, 2))

  /** Gopher-style repetition signal: fraction of duplicate word 2-grams,
    * `1 − distinct/total` (0.0 for docs with <2 tokens). Boilerplate,
    * keyword-stuffed, and looping generated text skew high.
    *
    * One-pass codegen expression ([[graft.functions.RepetitionRatio]]):
    * the built-in-expression formulation ([[bigramTotal]] referenced by
    * both `when` branches + [[bigramDistinct]]) tokenizes the document
    * THREE times per row — measured 3.4× slower than `length(text)` as a
    * full-corpus pass, the hottest term of the pipeline quality gates.
    * Tokenization ([[Hashing.words]]) and arithmetic are bit-identical to
    * that version, so the oracles' w2-list reimplementation is untouched.
    */
  def repetitionRatio(text: Column): Column =
    expr2col(graft.functions.RepetitionRatio(_), text)

  /** PII patterns, RE2-safe (no lookaround) so independent engines agree.
    * Deliberately high-precision/low-recall: a corpus scrub wants few
    * false redactions; recall comes from running several narrow passes.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(phonePattern), lit(0)))
  def ipv4Count(text: Column): Column =
    size(regexp_extract_all(text, lit(ipv4Pattern), lit(0)))

  /** Redact PII in place. Email first (an address would otherwise have
    * its host dots eaten by the IP pass), then IPs, then phones.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Deterministic hash sampling: keep a row iff its key hashes into the
    * chosen per-mille band — reproducible across runs/clusters (unlike
    * `df.sample`, whose output depends on partitioning), and stable under
    * data appends: a kept row stays kept. Null keys are EXCLUDED
    * (xxhash64(null) collapses to one constant, which would put the whole
    * null population in a single all-or-nothing band).
    */
  def sampleByHash(keyCol: Column, perMille: Int): Column =
    keyCol.isNotNull && pmod(xxhash64(keyCol), lit(1000)) < perMille

  /** Cross-engine twin of [[sampleByHash]]: the band test runs on the
    * md5-derived 60-bit uniform (first 15 hex chars → BIGINT) instead of
    * xxhash64, so DuckDB reproduces the exact kept-set —
    * `('0x' || substring(md5(k),1,15))::BIGINT % 1000 < p`. Same
    * stability properties (reproducible, append-stable, nulls excluded);
    * xxhash64 stays the hot-path default (one codegen'd op, no hex
    * round-trip), this is the auditable variant.
    */
  def sampleByHashMd5(keyCol: Column, perMille: Int): Column =
    keyCol.isNotNull &&
      pmod(conv(substring(md5(keyCol.cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(1000)) < perMille
}
