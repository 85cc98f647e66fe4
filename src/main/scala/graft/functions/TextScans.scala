package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-document text scans of [[graft.llm.TextAnalysis]], each a
  * static kernel `scan` that Spark's `StaticInvoke` calls from the
  * generated operator (the [[Tokenize]] precedent extended to the whole
  * scan family, r9 verdict item 7): each former Scala `udf` paid the
  * serialization boundary AND split whole-stage codegen around the
  * hottest corpus passes (shingling feeds every dedup query, repetition
  * feeds every quality gate). The string work itself stays in
  * [[graft.llm.Hashing]] — the ONE copy of each convention the DuckDB
  * oracles mirror; the kernels only convert between it and Catalyst's
  * physical types.
  *
  * Shared null contract (identical to the udfs replaced): null text →
  * EMPTY array / 0.0, never null — `explode` drops the row identically
  * and array consumers see a well-typed empty list. [[SimhashSig]] is
  * the one nullable scan.
  *
  * Column-API only (the n/window parameters are query-construction
  * constants, not data) — SQL registration would need foldable-literal
  * builders like `kmv_estimate`'s and no query needs it yet.
  */
private[functions] object TextScans {
  /** The array type every string-array scan returns. */
  val Strings: DataType = ArrayType(StringType, containsNull = false)

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Runs `scan` over the text and re-encodes its strings; null text and
    * an empty scan give the shared empty array.
    */
  def strings(s: UTF8String)(scan: String => Array[String]): ArrayData =
    if (s == null) Empty
    else {
      val w = scan(s.toString)
      if (w.isEmpty) Empty
      else new GenericArrayData(w.map(x => UTF8String.fromString(x): Any))
    }

  /** The one builder: `kernel.scan(text, params...)` as a `StaticInvoke`.
    * The kernel sees null text itself (no null propagation) and the
    * result is non-null unless `nullable`; the declared string input
    * makes the analyzer cast non-string text.
    */
  def invoke(kernel: AnyRef, dataType: DataType, text: Expression,
      params: Seq[Int] = Nil, nullable: Boolean = false): Expression =
    StaticInvoke(kernel.getClass, dataType, "scan",
      text +: params.map(Literal(_)), StringType +: params.map(_ => IntegerType),
      propagateNull = false, returnNullable = nullable)
}

/** Distinct word n-gram shingles, first-seen order ([[graft.llm.Hashing.shingles]]). */
object Shingles {
  def apply(text: Expression, n: Int): Expression =
    TextScans.invoke(this, TextScans.Strings, text, Seq(n))
  def scan(s: UTF8String, n: Int): ArrayData =
    TextScans.strings(s)(graft.llm.Hashing.shingles(_, n))
}

/** Context-window chunks of at most `maxTokens` whitespace tokens. */
object ChunkByTokens {
  def apply(text: Expression, maxTokens: Int): Expression =
    TextScans.invoke(this, TextScans.Strings, text, Seq(maxTokens))
  def scan(s: UTF8String, maxTokens: Int): ArrayData =
    TextScans.strings(s)(
      graft.llm.Hashing.words(_).grouped(maxTokens).map(_.mkString(" ")).toArray)
}

/** Winnowing fingerprints ([[graft.llm.Hashing.winnow]]). */
object Winnow {
  def apply(text: Expression, n: Int, window: Int): Expression =
    TextScans.invoke(this, TextScans.Strings, text, Seq(n, window))
  def scan(s: UTF8String, n: Int, window: Int): ArrayData =
    TextScans.strings(s)(graft.llm.Hashing.winnow(_, n, window))
}

/** Positional (non-distinct) word bigrams, multiplicity kept — the
  * unit the bigram LM ([[graft.llm.CorpusQueries.bigramNllScores]])
  * counts: a looping doc must pay per occurrence. Same
  * [[graft.llm.Hashing.words]] token convention as every shingle
  * oracle; below 2 tokens → empty.
  */
object WordBigrams {
  def apply(text: Expression): Expression =
    TextScans.invoke(this, TextScans.Strings, text)
  def scan(s: UTF8String): ArrayData = TextScans.strings(s) { text =>
    val w = graft.llm.Hashing.words(text)
    if (w.length < 2) Array.empty[String]
    else Array.tabulate(w.length - 1)(i => w(i) + " " + w(i + 1))
  }
}

/** Adjacent character pairs within one word — the unit BPE training counts. */
object CharPairs {
  def apply(word: Expression): Expression =
    TextScans.invoke(this, TextScans.Strings, word)
  def scan(s: UTF8String): ArrayData = TextScans.strings(s) { w =>
    if (w.length < 2) Array.empty[String]
    else Array.tabulate(w.length - 1)(i => w.substring(i, i + 2))
  }
}

/** Positional word n-gram fingerprints ([[graft.llm.Hashing.gramHashes]])
  * — the repeated-span unit ([[graft.llm.RepeatedSpans]]); slot i of the
  * array is the gram starting at word offset i, so `posexplode` recovers
  * the position the coverage window arithmetic needs.
  */
object GramHashes {
  def apply(text: Expression, n: Int): Expression =
    TextScans.invoke(this, TextScans.Strings, text, Seq(n))
  def scan(s: UTF8String, n: Int): ArrayData =
    TextScans.strings(s)(graft.llm.Hashing.gramHashes(_, n))
}

/** Gopher-style duplicate word-2-gram fraction (`1 − distinct/total`,
  * 0.0 below 2 tokens) — one pass, bit-identical arithmetic to the udf
  * it replaces (TextAnalysis r8) and to the oracles' w2-list
  * reimplementation.
  */
object RepetitionRatio {
  def apply(text: Expression): Expression =
    TextScans.invoke(this, DoubleType, text)
  def scan(s: UTF8String): Double =
    if (s == null) 0.0
    else {
      val w = graft.llm.Hashing.words(s.toString)
      val total = w.length - 1
      if (total <= 0) 0.0
      else {
        val seen = new java.util.HashSet[String](total * 2)
        var i = 0
        while (i < total) {
          seen.add(w(i) + " " + w(i + 1))
          i += 1
        }
        1.0 - seen.size.toDouble / total.toDouble
      }
    }
}

/** 60-bit SimHash signature over word `n`-gram shingles
  * ([[graft.llm.Hashing.simhash]]). NULLABLE by contract, unlike the
  * array scans: null text and sub-n-word docs yield NULL (all of them
  * would simhash to 0 and pairwise-collide in every pigeonhole chunk —
  * see [[graft.llm.SimHash]]'s guard rationale), so the nullability
  * travels with the expression instead of a separate filter convention.
  */
object SimhashSig {
  def apply(text: Expression, n: Int): Expression =
    TextScans.invoke(this, LongType, text, Seq(n), nullable = true)
  def scan(s: UTF8String, n: Int): java.lang.Long =
    if (s == null) null
    else {
      val sh = graft.llm.Hashing.shingles(s.toString, n)
      if (sh.isEmpty) null
      else java.lang.Long.valueOf(graft.llm.Hashing.simhash(sh))
    }
}
