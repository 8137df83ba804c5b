package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels of the C4 and Gopher quality gates (Raffel et al. 2020
  * §2.2; Rae et al. 2021). Each gate reads its text once, in one linear
  * walk over the decoded string, where the composed Column forms
  * (`TextFunctions.Composed`) split, lowercase and fold through
  * higher-order-function lambdas that Spark evaluates row by row in
  * interpreted mode — and that Catalyst copies into every pushed-down
  * filter, so a Gopher gate over C4Clean's output re-ran the whole C4
  * kept-lines lambda about ten times per row.
  *
  * The walks reproduce the composed forms' Java semantics exactly
  * (`QualityKernelSpec` pins equality):
  *  - lines are `split(page, "\n")`: every `\n` cuts, empty lines count;
  *  - `rlike("[.!?\"]$")` is Java's non-MULTILINE `$`, which also matches
  *    before ONE final line terminator (`\r`, `\u0085`, `\u2028`,
  *    `\u2029`, or `\r\n`);
  *  - `trim` strips ASCII spaces only, and `split(_, "\\s+")` cuts at runs
  *    of Java's `\s` = `[ \t\n\x0B\f\r]`, keeping a leading empty token
  *    before a leading tab and a trailing one after a trailing tab: the
  *    word count is one more than the number of runs;
  *  - `lower(x).contains(needle)` with an all-ASCII lowercase needle is an
  *    ASCII case-insensitive search: the only non-ASCII characters whose
  *    lowercase holds an ASCII letter are U+212A (→ `k`) and U+0130
  *    (→ `i` + U+0307), and neither can complete "javascript" or
  *    "lorem ipsum";
  *  - word lengths are in code points, as Spark's `length`.
  * The input is decoded with `UTF8String.toString`, the same decode the
  * composed forms' `split` runs, so malformed UTF-8 maps alike.
  */
private[functions] object QualityKernels {

  private[functions] def checkString(e: Expression, name: String): TypeCheckResult =
    if (e.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name needs a string, got ${e.dataType.catalogString}")

  /** Java regex `\s`. */
  @inline def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isPunct(c: Char): Boolean =
    c == '.' || c == '!' || c == '?' || c == '"'

  /** A terminator Java's `$` may precede at the end of input. */
  @inline private def isTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** `s[from, to)` matches `[.!?"]$` under `find()`. */
  def endsInPunct(s: String, from: Int, to: Int): Boolean = {
    val n = to - from
    (n >= 1 && isPunct(s.charAt(to - 1))) ||
      // `$` before one final terminator; a `\n` right after `\r` is not a
      // match point, but then the char before it is `\r`, not punctuation
      (n >= 2 && isTerminator(s.charAt(to - 1)) && isPunct(s.charAt(to - 2))) ||
      (n >= 3 && s.charAt(to - 2) == '\r' && s.charAt(to - 1) == '\n' &&
        isPunct(s.charAt(to - 3)))
  }

  /** `s[from, to)` contains `needle` (ASCII lowercase) ignoring ASCII case. */
  def containsAsciiCI(s: String, from: Int, to: Int, needle: String): Boolean = {
    val m = needle.length
    val first = needle.charAt(0)
    var i = from
    val last = to - m
    while (i <= last) {
      if (lowerAscii(s.charAt(i)) == first) {
        var j = 1
        while (j < m && lowerAscii(s.charAt(i + j)) == needle.charAt(j)) j += 1
        if (j == m) return true
      }
      i += 1
    }
    false
  }

  @inline private def lowerAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Word count of `split(trim(s[from, to)), "\\s+")`: one more than the
    * number of `\s` runs inside the space-trimmed range (an all-space or
    * empty range trims to "", one empty token).
    */
  def trimmedWordCount(s: String, from: Int, to: Int): Int = {
    var a = from
    var b = to
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    var words = 1
    var inRun = false
    while (a < b) {
      val sp = isSpace(s.charAt(a))
      if (sp && !inRun) words += 1
      inRun = sp
      a += 1
    }
    words
  }

  /** `TextFunctions.c4KeepLine` over `s[from, to)`. */
  def keepLine(s: String, from: Int, to: Int, minWords: Int): Boolean =
    endsInPunct(s, from, to) && !hasBrace(s, from, to) &&
      !containsAsciiCI(s, from, to, "javascript") &&
      trimmedWordCount(s, from, to) >= minWords

  private def hasBrace(s: String, from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) { if (s.charAt(i) == '{') return true; i += 1 }
    false
  }

  /** Kept lines of `page`; stops once `limit` lines are kept. */
  def keptLines(page: String, minWords: Int, limit: Int): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    var from = 0
    val n = page.length
    while (from <= n && out.size() < limit) {
      var to = page.indexOf('\n', from)
      if (to < 0) to = n
      if (keepLine(page, from, to, minWords)) out.add(page.substring(from, to))
      from = to + 1
    }
    out
  }

  def c4KeptLines(page: UTF8String, minWords: Int): ArrayData = {
    val kept = keptLines(page.toString, minWords, Int.MaxValue)
    val arr = new Array[Any](kept.size())
    var i = 0
    while (i < arr.length) { arr(i) = UTF8String.fromString(kept.get(i)); i += 1 }
    new GenericArrayData(arr)
  }

  def c4Passes(page: UTF8String, minKept: Int, minWords: Int): Boolean =
    page != null && {
      val s = page.toString
      !containsAsciiCI(s, 0, s.length, "lorem ipsum") &&
        keptLines(s, minWords, math.max(minKept, 0)).size() >= minKept
    }

  /** The Gopher gate: the token count of `tokens(text)` within
    * [minWords, maxWords], the mean token length in code points within
    * [2, 12], and the exact duplicate-bigram fraction
    * `1 − distinct/total` at most `maxDupBigram`. Null or space-only text
    * has no tokens and fails.
    */
  def gopherPasses(text: UTF8String, minWords: Long, maxWords: Long,
      maxDupBigram: Double): Boolean = {
    if (text == null) return false
    val s = text.toString
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == b) return false // no tokens: mean length 0 fails [2, 12]
    // token t spans [bounds(2t), bounds(2t+1)); runs of \s separate tokens
    var bounds = new Array[Int](32)
    var count = 0
    var codePoints = 0L
    var start = a
    var i = a
    while (i <= b) {
      if (i == b || isSpace(s.charAt(i))) {
        if (2 * count + 2 > bounds.length)
          bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
        bounds(2 * count) = start
        bounds(2 * count + 1) = i
        count += 1
        // skip the rest of the run
        while (i + 1 < b && isSpace(s.charAt(i + 1))) i += 1
        start = i + 1
      } else if (!Character.isLowSurrogate(s.charAt(i)) || i == a ||
          !Character.isHighSurrogate(s.charAt(i - 1))) {
        codePoints += 1
      }
      i += 1
    }
    if (count < minWords || count > maxWords) return false
    val mean = codePoints.toDouble / count.toDouble
    if (!(mean >= 2.0 && mean <= 12.0)) return false
    dupBigramFraction(s, bounds, count) <= maxDupBigram
  }

  /** `1 − distinct/total` over the `count − 1` adjacent token pairs
    * (0 below two tokens). Pairs are compared by their characters in an
    * open-addressing table of pair indices, so the count is exact.
    */
  private def dupBigramFraction(s: String, bounds: Array[Int], count: Int): Double = {
    val total = count - 1
    if (total <= 0) return 0.0
    val th = new Array[Int](count)
    var t = 0
    while (t < count) {
      var h = 0
      var k = bounds(2 * t)
      val e = bounds(2 * t + 1)
      while (k < e) { h = 31 * h + s.charAt(k); k += 1 }
      th(t) = h
      t += 1
    }
    var cap = 16
    while (cap < 2 * total) cap <<= 1
    val mask = cap - 1
    val slots = new Array[Int](cap) // pair index + 1; 0 = empty
    var distinct = 0
    var p = 0
    while (p < total) {
      var slot = mix(th(p) * 0x9E3779B9 + th(p + 1)) & mask
      var found = false
      while (!found && slots(slot) != 0) {
        val q = slots(slot) - 1
        if (th(q) == th(p) && th(q + 1) == th(p + 1) &&
            sameToken(s, bounds, q, p) && sameToken(s, bounds, q + 1, p + 1)) found = true
        else slot = (slot + 1) & mask
      }
      if (!found) { slots(slot) = p + 1; distinct += 1 }
      p += 1
    }
    1.0 - distinct.toDouble / total.toDouble
  }

  @inline private def mix(h: Int): Int = {
    val x = h ^ (h >>> 16)
    x * 0x85EBCA6B
  }

  private def sameToken(s: String, bounds: Array[Int], x: Int, y: Int): Boolean = {
    val xs = bounds(2 * x)
    val len = bounds(2 * x + 1) - xs
    len == bounds(2 * y + 1) - bounds(2 * y) && s.regionMatches(xs, s, bounds(2 * y), len)
  }
}

/** `c4_kept_lines(page)`: the lines of `page` that pass
  * `TextFunctions.c4KeepLine` — [[QualityKernels]]' one walk in place of
  * `filter(split(page, "\n"), c4KeepLine)`. Null page → null.
  */
case class C4KeptLines(child: Expression, minWords: Int) extends UnaryExpression {

  override def prettyName: String = "c4_kept_lines"
  override def checkInputDataTypes(): TypeCheckResult = QualityKernels.checkString(child, prettyName)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  def keptOf(page: UTF8String): ArrayData = QualityKernels.c4KeptLines(page, minWords)

  override protected def nullSafeEval(input: Any): Any =
    keptOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("c4KeptLines", this, classOf[C4KeptLines].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.keptOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): C4KeptLines =
    copy(child = newChild)
}

/** Shared shape of the two gates: a non-null boolean of one string, false
  * for a null input (a filter drops null and false alike).
  */
abstract class TextGate extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = QualityKernels.checkString(child, prettyName)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  def passes(text: UTF8String): Boolean

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    passes(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val c = child.genCode(ctx)
    val arg = if (child.nullable) s"${c.isNull} ? null : ${c.value}" else c.value.toString
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = $ref.passes($arg);""", isNull = FalseLiteral)
  }
}

/** `c4_passes(page)`: `TextFunctions.c4Passes` — no "lorem ipsum" in any
  * case, and at least `minKept` kept lines (the walk stops at `minKept`).
  */
case class C4Passes(child: Expression, minKept: Int, minWords: Int) extends TextGate {
  override def prettyName: String = "c4_passes"
  override def passes(page: UTF8String): Boolean =
    QualityKernels.c4Passes(page, minKept, minWords)
  override protected def withNewChildInternal(newChild: Expression): C4Passes =
    copy(child = newChild)
}

/** `gopher_passes(text)`: `TextFunctions.gopherPasses` in one walk. */
case class GopherPasses(child: Expression, minWords: Long, maxWords: Long,
    maxDupBigram: Double) extends TextGate {
  override def prettyName: String = "gopher_passes"
  override def passes(text: UTF8String): Boolean =
    QualityKernels.gopherPasses(text, minWords, maxWords, maxDupBigram)
  override protected def withNewChildInternal(newChild: Expression): GopherPasses =
    copy(child = newChild)
}
