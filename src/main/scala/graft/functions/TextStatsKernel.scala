package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass language-ID + token-count kernel over the raw text.
  *
  * The Column formulation (ops/TextAnalysis.langIdTokens over
  * `tokens(text)`) pays a java.util.regex split into an intermediate
  * array, then three interpreted `filter` walks (HigherOrderFunction is
  * CodegenFallback) plus an `rlike` Han scan — five passes, per-token
  * boxing. This expression computes the identical answer in one walk of
  * the string's code points: token boundaries from the same
  * `\p{L}\p{N}_` word class (lib/logstorage/tokenizer.go:12-60 uses the
  * same class — see WordMatch), stopword hits via a length-gated hash
  * lookup, Han detection via Character.UnicodeScript. Parity with the
  * Column spec is pinned by ExprPropertySpec.
  */
case class LangTextStatsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_text_stats needs string, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    TextStatsKernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextStatsKernel.eval($s);")

  override protected def withNewChildInternal(newChild: Expression): LangTextStatsExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_text_stats"
}

object TextStatsKernel {

  /** Stopword lists — the single source of truth shared with the Column
    * spec (ops/TextAnalysis). Keys map to the language's counter index. */
  val enStop = Seq("the", "a", "of", "and", "is", "to", "in")
  val esStop = Seq("el", "la", "de", "los", "que", "y", "en")
  val deStop = Seq("der", "die", "und", "das", "ist", "nicht")

  private val maxStopLen = (enStop ++ esStop ++ deStop).map(_.length).max

  private val LANGS = Array(UTF8String.fromString("en"),
    UTF8String.fromString("es"), UTF8String.fromString("de"))
  private val ZH = UTF8String.fromString("zh")
  private val UND = UTF8String.fromString("und")

  /** Stopword lookup keyed by UTF-8 BYTES (UTF8String equality), so the
    * byte-direct walks below never materialize token Strings. Stopwords
    * are pure ASCII, so byte equality ⇔ string equality, and a byte
    * length ≤ maxStopLen gate is exact for them (any multi-byte token
    * has byteLen > charLen and can never equal an ASCII stopword).
    * The value type MUST be the boxed Integer: with a primitive Int value
    * type, scalac unboxes get()'s null-on-miss to 0 — silently counting
    * every short token as language 0. */
  private val stopLangU8: java.util.HashMap[UTF8String, java.lang.Integer] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Integer]()
    for ((ws, lang) <- Seq(enStop, esStop, deStop).zipWithIndex; w <- ws)
      m.put(UTF8String.fromString(w), Int.box(lang))
    m
  }

  /** Script(Han)'s lowest code point is U+2E80 (CJK Radicals Supplement)
    * — gate the UnicodeScript.of binary search (it runs per CODE POINT
    * and dominated ASCII text) on that floor. Semantics unchanged: every
    * cp below the floor is non-Han by definition. */
  @inline private def isHanCp(cp: Int): Boolean =
    cp >= 0x2E80 &&
      Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN

  def eval(text: UTF8String): InternalRow = {
    // one pass over the UTF-8 bytes, the only walk for every input:
    // malformed sequences decode to U+FFFD as `toString` would
    // (Shingles.decodeCp); no toString decode, stopwords matched as byte
    // slices, the Han check range-gated
    val nb = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var i = 0
    var nTokens = 0L
    var tokStart = -1
    var han = false
    val counts = new Array[Int](3)
    def endToken(end: Int): Unit = {
      nTokens += 1L
      if (end - tokStart <= maxStopLen) {
        val lang = stopLangU8.get(UTF8String.fromAddress(base, off + tokStart,
          end - tokStart))
        if (lang != null) counts(lang.intValue) += 1
      }
      tokStart = -1
    }
    while (i < nb) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      var cp = 0
      var clen = 1
      if (b >= 0) cp = b
      else {
        val d = Shingles.decodeCp(base, off, i, nb)
        cp = d >>> 3; clen = d & 7
      }
      if (Shingles.isWordCp(cp)) {
        if (tokStart < 0) tokStart = i
        if (!han && isHanCp(cp)) han = true
      } else {
        if (tokStart >= 0) endToken(i)
        // the Han regex scans the WHOLE text, word char or not
        if (!han && isHanCp(cp)) han = true
      }
      i += clen
    }
    if (tokStart >= 0) endToken(nb)
    val lang =
      if (han) ZH
      else if (counts(0) >= counts(1) && counts(0) >= counts(2) && counts(0) > 0) LANGS(0)
      else if (counts(1) >= counts(2) && counts(1) > 0) LANGS(1)
      else if (counts(2) > 0) LANGS(2)
      else UND
    new GenericInternalRow(Array[Any](lang, nTokens))
  }

  private def ensureRegistered(): Unit = GraftFunctions.ensure()

  def textStats(text: Column): Column = {
    ensureRegistered()
    call_function("graft_text_stats", text)
  }

  /** Counters for the quality gate (ops/TextAnalysis.withQuality) in the
    * same single code-point walk: token count (same `\p{L}\p{N}_` class),
    * punctuation bytes (the ASCII `[!-/:-@\[-`{-~]` class the regex
    * counted — all single-byte, so byte count = char count), English
    * stopword hits. COUNTERS ONLY: the ratio/score arithmetic stays in
    * Column space, identical ops in identical order, so the doubles are
    * bit-identical to the regexp tower this replaces. */
  def qualityCountsEval(text: UTF8String): InternalRow = {
    // byte-direct walk, same structure as [[eval]] (one walk; malformed
    // sequences decode to U+FFFD)
    val nb = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var i = 0
    var nTokens = 0L
    var punct = 0L
    var stops = 0L
    var tokStart = -1
    def endToken(end: Int): Unit = {
      nTokens += 1L
      if (end - tokStart <= maxStopLen) {
        val lang = stopLangU8.get(UTF8String.fromAddress(base, off + tokStart,
          end - tokStart))
        if (lang != null && lang.intValue == 0) stops += 1
      }
      tokStart = -1
    }
    while (i < nb) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      var cp = 0
      var clen = 1
      if (b >= 0) cp = b
      else {
        val d = Shingles.decodeCp(base, off, i, nb)
        cp = d >>> 3; clen = d & 7
      }
      if (Shingles.isWordCp(cp)) {
        if (tokStart < 0) tokStart = i
      } else if (tokStart >= 0) endToken(i)
      // independent of tokenization: the regex class includes `_`, which
      // is ALSO a word char — membership is tested for every code point
      if ((cp >= '!' && cp <= '/') || (cp >= ':' && cp <= '@') ||
          (cp >= '[' && cp <= '`') || (cp >= '{' && cp <= '~')) punct += 1
      i += clen
    }
    if (tokStart >= 0) endToken(nb)
    new GenericInternalRow(Array[Any](nTokens, punct, stops))
  }

  def qualityCounts(text: Column): Column = {
    ensureRegistered()
    call_function("graft_quality_counts", text)
  }
}

/** struct(n_tokens, punct_bytes, stop_hits) for the quality gate —
  * see [[TextStatsKernel.qualityCountsEval]]. */
case class QualityCountsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_quality_counts needs string, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("punct_bytes", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    TextStatsKernel.qualityCountsEval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextStatsKernel.qualityCountsEval($s);")

  override protected def withNewChildInternal(newChild: Expression): QualityCountsExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_quality_counts"
}
