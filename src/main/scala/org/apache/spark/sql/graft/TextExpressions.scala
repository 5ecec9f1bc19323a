package org.apache.spark.sql.graft

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass scalar text expressions for the hot analysis paths. Each
  * replaces a relational encoding whose only purpose was dodging
  * interpreted higher-order functions — per-row scalars (depending only on
  * the row's own text/tokens) belong in ONE tight loop, not an explode →
  * shuffle → N-aggregate plan (SimHash-md5) or a stack of interpreted
  * `filter()` lambdas re-walking the token array per profile (lang-id,
  * quality stats). Same design notes as [[SimHash64]]: CodegenFallback is
  * deliberate — the loop body dwarfs the boxing, and correctness is
  * oracle-gated bit-for-bit against DuckDB twins.
  */

/** 60-bit SimHash with md5-derived token hashes — the oracle-expressible
  * twin of [[SimHash64]] (DuckDB has no xxhash64, but md5 is portable).
  * Token hash = first 15 hex chars of md5(token) as a 60-bit integer —
  * identical to `conv(substring(md5(t),1,15),16,10)` and to DuckDB's
  * `CAST('0x'||substr(md5(t),1,15) AS BIGINT)`. Per-bit frequency-weighted
  * majority vote; null/empty tokens skipped; no real tokens → NULL.
  */
case class SimHash60Md5(child: Expression)
    extends TokenArrayExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash60_md5"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](60)
    var seen = false
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i) // bind once: each getter allocates a view
        if (t.numBytes > 0) {
          seen = true
          val h = Md5Bits60(t.getBytes)
          var b = 0
          while (b < 60) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
      }
      i += 1
    }
    if (!seen) return null
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60Md5 =
    copy(child = newChild)
}

/** First 60 bits of md5(bytes) — bit-identical to
  * `conv(substring(md5(t),1,15),16,10)` (first 15 hex chars = first 8
  * bytes big-endian `>>> 4`). ONE definition for [[SimHash60Md5]] and
  * [[WinnowFingerprints]], whose portable-recipe contracts require the
  * same bits; the digest is per-THREAD — the previous per-expression
  * mutable MessageDigest silently corrupted hashes if one expression
  * instance was ever evaluated from two threads.
  */
private[graft] object Md5Bits60 {
  private val tl = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  def apply(bytes: Array[Byte]): Long = {
    val md = tl.get()
    md.reset()
    val d = md.digest(bytes)
    var acc = 0L
    var j = 0
    while (j < 8) { acc = (acc << 8) | (d(j) & 0xffL); j += 1 }
    acc >>> 4
  }
}

/** Stopword-profile language ID over a token array, one pass. Semantics
  * are EXACTLY the Column form it replaces
  * (`greatest(struct(hits, lang))` over the four profiles): winner = max
  * hit count, ties broken by lexicographically-greatest language code,
  * zero hits → "und". Null/empty tokens are skipped so callers can pass a
  * raw codegen'd `split`.
  */
case class LangId(child: Expression)
    extends TokenArrayExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "lang_id"

  import LangId._

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val hits = new Array[Int](langs.length)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val mask = profileWords.get(arr.getUTF8String(i))
        if (mask != null) {
          var l = 0
          while (l < langs.length) {
            if ((mask.intValue() & (1 << l)) != 0) hits(l) += 1
            l += 1
          }
        }
      }
      i += 1
    }
    // langs is sorted ascending; >= keeps the lexicographically-last max
    var best = 0
    var l = 1
    while (l < langs.length) { if (hits(l) >= hits(best)) best = l; l += 1 }
    if (hits(best) == 0) und else langs(best)
  }

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

object LangId {
  // lexicographic order is the tie-break order (see class doc)
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"))
  private val langs: Array[UTF8String] =
    profiles.map(p => UTF8String.fromString(p._1)).toArray
  private val und = UTF8String.fromString("und")
  // word → bitmask of profile indexes ("la" is both es and fr)
  private val profileWords: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    for (((_, words), idx) <- profiles.zipWithIndex; w <- words) {
      val k = UTF8String.fromString(w)
      val prev = m.get(k)
      m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << idx)))
    }
    m
  }
}

/** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03 —
  * the MOSS local-fingerprinting algorithm): hash every word k-gram
  * (md5-derived 60-bit hash, the portable recipe shared with
  * [[SimHash60Md5]]), slide a window of `w` consecutive gram hashes, keep
  * each window's MINIMUM, return the distinct selected hashes sorted
  * ascending. Guarantee: any shared token run of length ≥ k + w − 1
  * contributes at least one IDENTICAL fingerprint to both documents — the
  * detection floor for exact-substring dedup is structural, not
  * probabilistic. Fewer grams than w ⇒ the single global min; no real
  * tokens ⇒ NULL. Null/empty tokens are skipped so callers can pass a raw
  * codegen'd `split`.
  *
  * Winnowing selects by VALUE only (positions are discarded before the
  * distinct), so the classic rightmost-vs-leftmost tie rule is moot here.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends TokenArrayExpression with CodegenFallback {
  require(k >= 1 && w >= 1, "k and w must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "winnow_fingerprints"

  private def hash60(s: String): Long =
    Md5Bits60(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val toks = new scala.collection.mutable.ArrayBuffer[String](arr.numElements())
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i) // bind once: each getter allocates
        if (t.numBytes > 0) toks += t.toString
      }
      i += 1
    }
    if (toks.isEmpty) return null
    val hs: Array[Long] =
      if (toks.length < k) Array(hash60(toks.mkString(" ")))
      else {
        val g = toks.length - k + 1
        val out = new Array[Long](g)
        val sb = new java.lang.StringBuilder
        var s = 0
        while (s < g) {
          sb.setLength(0)
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(toks(s + j))
            j += 1
          }
          out(s) = hash60(sb.toString)
          s += 1
        }
        out
      }
    // one loop covers both regimes: when hs.length <= w the single
    // window spans the whole array (lastStart 0, end clamped)
    val sel = new java.util.TreeSet[java.lang.Long]()
    val lastStart = math.max(0, hs.length - w)
    var s = 0
    while (s <= lastStart) {
      val end = math.min(hs.length, s + w)
      var m = hs(s); var j = s + 1
      while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
      sel.add(m)
      s += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** Whitespace-token statistics in one pass:
  * struct(n_tokens, n_distinct, n_stopwords, n_punct). Token semantics are
  * EXACTLY `split(text, " ")` (Java split with limit -1: empty tokens from
  * runs/edges are kept and count toward n_tokens/n_distinct); n_punct is
  * the number of `\p{P}` code points, i.e. `length(text) -
  * length(regexp_replace(text, "\\p{P}", ""))` with Spark's code-point
  * `length`. Replaces four interpreted array walks (size/array_distinct/
  * filter-isin/regexp_replace) over the same tokens.
  */
case class TextStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("n_stopwords", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false)))
  override def prettyName: String = "text_stats"

  import TextStats._

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val toks = s.split(" ", -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    var stops = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      seen.add(t)
      if (stopwords.contains(t)) stops += 1
      i += 1
    }
    var punct = 0
    val m = punctPattern.matcher(s)
    while (m.find()) punct += 1 // \p{P} matches exactly one code point
    InternalRow(toks.length, seen.size, stops, punct)
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {
  private val stopwords = new java.util.HashSet[String](java.util.Arrays.asList(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it"))
  private val punctPattern = Pattern.compile("\\p{P}")
}

/** One-pass PII redaction (emails → `<EMAIL>`, IPv4 → `<IP>`) — the
  * hot-path twin of the portable three-pass `regexp_replace` chain in
  * `graft.functions.TextFunctions.redactPii` (email pass + two consuming
  * IPv4 passes; reference msgvault redacts at ingest, dedup.go-adjacent
  * normalize paths). One alternation scan replaces three full traversals:
  * the IPv4 context chars become zero-width lookarounds instead of
  * consumed-and-restored captures, which is also why a single pass
  * suffices — the char separating adjacent IPs is no longer eaten, so the
  * second "cleanup" IPv4 pass has nothing left to find. The email
  * alternative is listed first: every IPv4 character is a valid email
  * local-part character, so any address overlapping a dotted-quad also
  * matches from the quad's first character and must win, exactly as it
  * does when the email pass runs first. Byte-equality with the portable
  * chain is oracle-gated (`text_pii_redact` md5 fingerprint vs DuckDB
  * running the three-pass recipe).
  */
case class RedactPii(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "redact_pii"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val m = RedactPii.pattern.matcher(s)
    if (!m.find()) return input // no PII: hand back the original bytes
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    var more = true
    while (more) {
      sb.append(s, last, m.start())
      sb.append(if (m.start(1) >= 0) "<EMAIL>" else "<IP>")
      last = m.end()
      more = m.find()
    }
    sb.append(s, last, s.length)
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): RedactPii =
    copy(child = newChild)
}

object RedactPii {
  // MUST stay textually in sync with TextFunctions.{emailPattern,
  // ipv4Octet} (different root package, so the private[graft] strings
  // aren't visible here); the shared-recipe equivalence is spec- and
  // oracle-gated.
  private val octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  private[graft] val pattern = Pattern.compile(
    "([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,})" +
      s"|(?<![0-9.])$octet(?:\\.$octet){3}(?![0-9.])")
}

/** BPE subwords of one word under a learned merge table: the symbols
  * `graft.operators.BpeVocab.tokenizeWord` produces, as an
  * array<string>. Null in → null out.
  *
  * Words repeat Zipf-style, so each task keeps a memo from word to its
  * subword array: a word is rewritten once per task and every later
  * occurrence is one hash lookup. The memo is `@transient`, so every
  * deserialized copy of the expression (one per task, both in
  * generated code and in interpreted projections) starts empty and is
  * only ever touched by its task's thread. Keys are copied: the input
  * `UTF8String` may point into a reused row buffer. The memo is cleared
  * when it reaches [[BpeSubwords.MemoWords]] entries, so a hostile
  * corpus of all-distinct words costs a rewrite per occurrence instead
  * of unbounded task memory.
  */
case class BpeSubwords(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_subwords"
  // the merge table can hold 10⁴+ pairs: print its size, not its body
  override def toString: String = s"$prettyName($child, ${merges.size} merges)"

  @transient private lazy val table = merges.toArray
  @transient private lazy val memo =
    new java.util.HashMap[UTF8String, ArrayData]()

  override def nullSafeEval(input: Any): Any = {
    val w = input.asInstanceOf[UTF8String]
    val hit = memo.get(w)
    if (hit != null) return hit
    val subs = graft.operators.BpeVocab.tokenizeWord(w.toString, table)
    val out = new GenericArrayData(subs.map(UTF8String.fromString).toArray[Any])
    if (memo.size >= BpeSubwords.MemoWords) memo.clear()
    memo.put(w.clone(), out)
    out
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSubwords =
    copy(child = newChild)
}

object BpeSubwords {
  /** Memo capacity per task: far above a natural-language partition's
    * word types (~10⁴), small enough (~10 MB) to bound task memory. */
  private val MemoWords = 1 << 16
}

object TextExpressions {
  def simhash60Md5(toks: Column): Column =
    ExpressionUtils.column(SimHash60Md5(ExpressionUtils.expression(toks)))

  def langId(toks: Column): Column =
    ExpressionUtils.column(LangId(ExpressionUtils.expression(toks)))

  def textStats(text: Column): Column =
    ExpressionUtils.column(TextStats(ExpressionUtils.expression(text)))

  def winnowFingerprints(toks: Column, k: Int, w: Int): Column =
    ExpressionUtils.column(
      WinnowFingerprints(ExpressionUtils.expression(toks), k, w))

  def redactPii(text: Column): Column =
    ExpressionUtils.column(RedactPii(ExpressionUtils.expression(text)))

  def bpeSubwords(word: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeSubwords(ExpressionUtils.expression(word), merges))
}
