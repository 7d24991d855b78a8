package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass byte scanners for the corpus-filter hot path.
  *
  * Why custom: the Column-composed forms of [[graft.llm.TextOps.langId]] and
  * [[graft.llm.TextOps.gopherC4Rules]] re-walk the document many times —
  * `element_at` on a 50-entry MAP literal is a LINEAR scan of string
  * compares per token (plus a DECIMAL(38,0) add), and the rule stats pay a
  * regex split for tokens, another for lines, two per-line `rlike`s, a
  * per-token `rlike`, and two whole-text `regexp_replace`s. Measured at the
  * sf10 funnel (500k docs): langId 17 s, rules-beyond-wordcount 20 s. Each
  * expression below walks the UTF-8 bytes ONCE with primitive counters.
  *
  * Exactness contract (pinned by TextScanDifferentialSpec, which runs the
  * old Column formulas side by side on adversarial inputs):
  *  - tokens == `filter(split(trim(text), "\\s+"), length(_) > 0)`: maximal
  *    runs of non-`\s` bytes. Java's `\s` is ASCII-only
  *    (`[ \t\n\x0B\f\r]`), and in UTF-8 no multi-byte char contains bytes
  *    < 0x80, so byte-level whitespace scanning is char-exact.
  *  - token lowercase: ASCII `A-Z → a-z` when the token is pure ASCII,
  *    `UTF8String.toLowerCase` otherwise (the stopword keys are all ASCII,
  *    and no non-ASCII char Unicode-lowercases to a bare ASCII letter that
  *    appears in any key — the Kelvin-sign caveat is checked in the spec).
  *  - `length()` counts CHARS: bytes with `(b & 0xC0) != 0x80`.
  */
object TextScan {
  private val wsTable: Array[Boolean] = {
    val t = new Array[Boolean](256)
    Seq(' ', '\t', '\n', 0x0B.toChar, '\f', '\r').foreach(c => t(c.toInt) = true)
    t
  }
  @inline def isWs(b: Byte): Boolean = (b & 0xFF) < 256 && wsTable(b & 0xFF)

  /** Pack an ASCII-lowercased word of <= 8 bytes into a long (little-endian,
    * length-salted so "a" and "a\0" can't collide). */
  @inline def pack(bytes: Array[Byte], off: Int, len: Int): Long = {
    var v = len.toLong << 56
    var i = 0
    while (i < len) {
      var b = bytes(off + i)
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      v |= (b & 0xFFL) << (i * 8)
      i += 1
    }
    v
  }

  /** Sorted-array word table: packed-long keys -> int mask, zero-alloc
    * binary-search lookup. All keys must be ASCII and <= 8 bytes. */
  final class WordTable(entries: Map[String, Int]) {
    require(entries.keys.forall(w => w.length <= 8 && w.forall(_ < 128)),
      "WordTable keys must be ASCII, <= 8 bytes")
    val maxLen: Int = if (entries.isEmpty) 0 else entries.keys.map(_.length).max
    private val sorted = entries.toSeq.map { case (w, m) =>
      val b = w.getBytes("US-ASCII"); (pack(b, 0, b.length), m)
    }.sortBy(_._1)
    private val keys = sorted.map(_._1).toArray
    private val masks = sorted.map(_._2).toArray
    /** mask for the packed word, or 0. */
    @inline def lookup(packed: Long): Int = {
      val i = java.util.Arrays.binarySearch(keys, packed)
      if (i >= 0) masks(i) else 0
    }
    /** mask for a token given as bytes, handling the non-ASCII fallback
      * (Unicode lowercase, then re-check ASCII) exactly like
      * `lower(token)` would. */
    def maskOf(bytes: Array[Byte], off: Int, len: Int): Int = {
      var ascii = true
      var i = 0
      while (i < len && ascii) { if (bytes(off + i) < 0) ascii = false; i += 1 }
      if (ascii) {
        if (len > maxLen) 0 else lookup(pack(bytes, off, len))
      } else {
        val low = UTF8String.fromBytes(bytes, off, len).toLowerCase
        val lb = low.getBytes
        var allAscii = true
        var j = 0
        while (j < lb.length && allAscii) { if (lb(j) < 0) allAscii = false; j += 1 }
        if (!allAscii || lb.length > maxLen) 0 else lookup(pack(lb, 0, lb.length))
      }
    }
  }
}

/** `langId(text)` as one byte pass: exact stopword-hit counts per language,
  * argmax with ties broken by sorted language order, zero hits => "und",
  * NULL text => "und" (matching the Column formula, where the null
  * propagates into the `when` condition and falls through to the
  * otherwise). Exact for documents up to 2^31-1 tokens — strictly wider
  * than the packed-DECIMAL form's 10^7 guard. */
case class LangIdExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "lang_id_scan"

  /** CodegenFallback is a MEASURED choice, not an omission (r14 verdict
    * #6): a doGenCode static-call shim that kept the WholeStageCodegen
    * span intact was A/B'd at the sf10 funnel and lost 35-40% (best-of-3
    * 34.4-36.5 s vs 24.2-26.5 s, two interleaved pairs) — fusing the
    * funnel's wide projection into one span produces a generated method
    * past the JIT's compile threshold, while the fallback splits the
    * stage into methods that all JIT. Details in BASELINE.md round-14. */

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) LangIdExpr.und
    else LangIdExpr.idOf(v.asInstanceOf[UTF8String])
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

object LangIdExpr {
  import TextScan._

  val langs: IndexedSeq[String] =
    graft.llm.TextOps.stopwords.keys.toSeq.sorted.toIndexedSeq
  private val table = new WordTable(
    langs.zipWithIndex.flatMap { case (l, i) =>
      graft.llm.TextOps.stopwords(l).map(w => (w, 1 << i))
    }.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).reduce(_ | _)) })
  private val out: Array[UTF8String] =
    langs.map(UTF8String.fromString).toArray
  private[functions] val und = UTF8String.fromString("und")

  def idOf(text: UTF8String): UTF8String = {
    val bytes = text.getBytes
    val n = bytes.length
    val counts = new Array[Int](langs.length)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        val m = table.maskOf(bytes, start, i - start)
        if (m != 0) {
          var b = 0
          while (b < counts.length) {
            if ((m & (1 << b)) != 0) counts(b) += 1
            b += 1
          }
        }
      }
    }
    var best = -1
    var bestC = 0
    var j = 0
    while (j < counts.length) {
      if (counts(j) > bestC) { bestC = counts(j); best = j }
      j += 1
    }
    if (best < 0) und else out(best)
  }

  def apply(text: Column): Column =
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(text)))
}

/** All [[graft.llm.TextOps.gopherC4Rules]] raw statistics in ONE byte pass.
  * Returns a struct with the exact integer/boolean inputs the rule columns
  * are derived from; the ratio/round/threshold math stays in the Column
  * layer so the downstream double ops are bit-identical to the old form.
  *
  * Field semantics (each == its Column-formula twin, see the Scaladoc on
  * the file header for the tokenization contract):
  *  - n_words, sum_word_chars: token count / total CHAR length of tokens
  *  - alpha_words: tokens containing at least one `[A-Za-z]` byte
  *  - required_hits: DISTINCT Gopher required words present (array_contains
  *    semantics, not hit counts)
  *  - n_lines: `split("\n")` segments with `length(trim(seg)) > 0` — note
  *    Spark `trim` strips SPACES only, so a tab-only line still counts
  *  - short_lines: such lines with < 5 tokens
  *  - bullet_lines: such lines matching `^\s*[-*•]` (bullet = '-', '*', or
  *    U+2022); `\s` here can't include '\n' (never inside a line)
  *  - ellipsis_lines: such lines matching `(\.\.\.|…)\s*$` (U+2026)
  *  - n_sentences: `split("[.!?]")` segments with `length(trim(seg)) > 0`
  *  - hash_count: '#' chars
  *  - ellipsis_count: non-overlapping left-to-right "..." matches
  *  - has_lorem: `contains(lower(text), "lorem ipsum")` — ASCII
  *    case-insensitive search is exact here (no Unicode char lowercases
  *    into a bare ASCII letter of the needle in a way `contains` would see;
  *    pinned in the differential spec)
  *  - has_brace: contains '{'
  * NULL text => NULL struct (every downstream rule column then matches the
  * old form's null propagation). */
case class GopherStatsExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = GopherStatsExpr.schema
  override def prettyName: String = "gopher_stats_scan"
  // CodegenFallback measured faster than a doGenCode shim — see the
  // [[LangIdExpr]] note (r14 A/B, BASELINE.md)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    GopherStatsExpr.scan(v.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(
      newChild: Expression): GopherStatsExpr = copy(child = newChild)
}

object GopherStatsExpr {
  import TextScan._

  val schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("sum_word_chars", LongType, nullable = false),
    StructField("alpha_words", IntegerType, nullable = false),
    StructField("required_hits", IntegerType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("short_lines", IntegerType, nullable = false),
    StructField("bullet_lines", IntegerType, nullable = false),
    StructField("ellipsis_lines", IntegerType, nullable = false),
    StructField("n_sentences", IntegerType, nullable = false),
    StructField("hash_count", IntegerType, nullable = false),
    StructField("ellipsis_count", IntegerType, nullable = false),
    StructField("has_lorem", BooleanType, nullable = false),
    StructField("has_brace", BooleanType, nullable = false)))

  private val requiredTable = new WordTable(
    graft.llm.TextOps.gopherRequiredWords.zipWithIndex
      .map { case (w, i) => (w, 1 << i) }.toMap)
  private val lorem = "lorem ipsum".getBytes("US-ASCII")

  @inline private def asciiLower(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  // U+2022 BULLET and U+2026 ELLIPSIS in UTF-8
  @inline private def isBulletAt(b: Array[Byte], i: Int, end: Int): Boolean =
    b(i) == '-' || b(i) == '*' ||
      (i + 2 < end && b(i) == 0xE2.toByte && b(i + 1) == 0x80.toByte &&
        b(i + 2) == 0xA2.toByte)

  // line-local whitespace (\s minus \n, which can't occur inside a line)
  @inline private def isLineWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == 0x0B || b == '\f' || b == '\r'

  def scan(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length

    // --- token pass (whole text) ---
    var nWords = 0
    var sumChars = 0L
    var alphaWords = 0
    var requiredMask = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      var chars = 0
      var hasAlpha = false
      while (i < n && !isWs(bytes(i))) {
        val b = bytes(i)
        if ((b & 0xC0) != 0x80) chars += 1
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) hasAlpha = true
        i += 1
      }
      if (i > start) {
        nWords += 1
        sumChars += chars
        if (hasAlpha) alphaWords += 1
        requiredMask |= requiredTable.maskOf(bytes, start, i - start)
      }
    }

    // --- line pass ---
    var nLines = 0
    var shortLines = 0
    var bulletLines = 0
    var ellipsisLines = 0
    var ls = 0
    while (ls <= n) {
      var le = ls
      while (le < n && bytes(le) != '\n') le += 1
      // non-empty after space-only trim (Spark trim strips ' ' only)
      var hasNonSpace = false
      var p = ls
      while (p < le && !hasNonSpace) { if (bytes(p) != ' ') hasNonSpace = true; p += 1 }
      if (hasNonSpace) {
        nLines += 1
        // tokens in line < 5?
        var tc = 0
        var q = ls
        while (q < le && tc < 5) {
          while (q < le && isWs(bytes(q))) q += 1
          if (q < le) { tc += 1; while (q < le && !isWs(bytes(q))) q += 1 }
        }
        if (tc < 5) shortLines += 1
        // ^\s*[-*•]
        var bp = ls
        while (bp < le && isLineWs(bytes(bp))) bp += 1
        if (bp < le && isBulletAt(bytes, bp, le)) bulletLines += 1
        // (\.\.\.|…)\s*$
        var ep = le
        while (ep > ls && isLineWs(bytes(ep - 1))) ep -= 1
        val dots = ep - ls >= 3 && bytes(ep - 1) == '.' && bytes(ep - 2) == '.' &&
          bytes(ep - 3) == '.'
        val uni = ep - ls >= 3 && bytes(ep - 1) == 0xA6.toByte &&
          bytes(ep - 2) == 0x80.toByte && bytes(ep - 3) == 0xE2.toByte
        if (dots || uni) ellipsisLines += 1
      }
      ls = le + 1
    }

    // --- sentence / char-count pass ---
    var nSentences = 0
    var hashCount = 0
    var ellipsisCount = 0
    var hasBrace = false
    var segHasNonSpace = false
    var k = 0
    while (k < n) {
      val b = bytes(k)
      if (b == '.' || b == '!' || b == '?') {
        if (segHasNonSpace) nSentences += 1
        segHasNonSpace = false
        if (b == '.' && k + 2 < n && bytes(k + 1) == '.' && bytes(k + 2) == '.') {
          ellipsisCount += 1
          // consume the remaining 2 dots as plain sentence splits with
          // empty segments between them (split-by-single-char semantics)
          k += 2
        }
      } else {
        if (b != ' ') segHasNonSpace = true
        if (b == '#') hashCount += 1
        if (b == '{') hasBrace = true
      }
      k += 1
    }
    if (segHasNonSpace) nSentences += 1

    // --- lorem search (ASCII case-insensitive) ---
    var hasLorem = false
    if (n >= lorem.length) {
      var s = 0
      val last = n - lorem.length
      while (s <= last && !hasLorem) {
        var m = 0
        while (m < lorem.length && asciiLower(bytes(s + m)) == lorem(m)) m += 1
        if (m == lorem.length) hasLorem = true
        s += 1
      }
    }

    InternalRow(nWords, sumChars, alphaWords,
      Integer.bitCount(requiredMask), nLines, shortLines, bulletLines,
      ellipsisLines, nSentences, hashCount, ellipsisCount, hasLorem, hasBrace)
  }

  def apply(text: Column): Column =
    ColumnBridge.column(GopherStatsExpr(ColumnBridge.expression(text)))
}
