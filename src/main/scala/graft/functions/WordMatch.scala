package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word/phrase filter as a direct substring scan with word-boundary char
  * checks — the engine's hottest predicate (every bare `error` /
  * `field:phrase` / `prefix*` filter), previously a java.util.regex
  * pattern with lookbehind/lookahead built by TextMatch. The reference
  * matches the same way natively (filter_phrase.go:48-76 matchPhrase:
  * substring search + isTokenChar edge checks, no regex engine);
  * lookbehind alternation is several times slower per row and sits inside
  * every full-scan filter at 100 TB.
  *
  * Semantics (identical to the regex tower it replaces):
  *   - phrase mode: an occurrence of `phrase` whose edges don't butt
  *     against word chars (letters/digits/_), with each edge check applied
  *     only when the phrase's own edge is a word char (filter_phrase.go:61)
  *   - prefix mode (`phrase*`): left boundary only — any word starting
  *     with `phrase`.
  * Differentially tested against the regex in ExprPropertySpec.
  */
case class WordMatchExpr(child: Expression, phrase: String,
                         prefixMode: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_word_match needs a string input, got ${t.sql}")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  private val startW =
    phrase.nonEmpty && Shingles.isWordCp(phrase.codePointAt(0))
  private val endW =
    phrase.nonEmpty && Shingles.isWordCp(phrase.codePointBefore(phrase.length))

  override def nullSafeEval(input: Any): Any =
    WordMatch.matches(input.asInstanceOf[UTF8String].toString, phrase,
      prefixMode, startW, endW)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val ph = ctx.addReferenceObj("phrase", phrase, "java.lang.String")
      s"${ev.value} = graft.functions.WordMatch.matches($s.toString(), $ph, $prefixMode, $startW, $endW);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordMatchExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_word_match"
}

/** `seq(p1, p2, ...)` — the phrases in order, each with the same
  * word-boundary edge checks the single-phrase filter applies
  * (filter_sequence.go). Greedy earliest-valid occurrence per phrase is
  * optimal: matching earlier only grows the remaining suffix. */
case class SeqMatchExpr(child: Expression, phrases: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_seq_match needs a string input, got ${t.sql}")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  private lazy val phraseArr = phrases.toArray

  override def nullSafeEval(input: Any): Any =
    WordMatch.matchesSeq(input.asInstanceOf[UTF8String].toString, phraseArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val ph = ctx.addReferenceObj("phrases", phraseArr, "java.lang.String[]")
      s"${ev.value} = graft.functions.WordMatch.matchesSeq($s.toString(), $ph);"
    })

  override protected def withNewChildInternal(newChild: Expression): SeqMatchExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_seq_match"
}

object WordMatch {
  import Shingles.isWordCp

  /** Substring scan with boundary checks; code-point-aware so
    * supplementary-plane letters count as word chars exactly like the
    * regex \p{L} did. */
  def matches(s: String, p: String, prefix: Boolean,
              startW: Boolean, endW: Boolean): Boolean = {
    val plen = p.length
    var from = 0
    while (from <= s.length) {
      val i = s.indexOf(p, from)
      if (i < 0) return false
      val lok = !startW || i == 0 || !isWordCp(s.codePointBefore(i))
      val rok = prefix || !endW || i + plen >= s.length ||
        !isWordCp(s.codePointAt(i + plen))
      if (lok && rok) return true
      from = i + 1
    }
    false
  }

  /** First boundary-valid occurrence of `p` in `s` at index ≥ from; -1 if
    * none. Edge checks apply only when p's own edge is a word char. */
  private def firstValid(s: String, p: String, from0: Int): Int = {
    val startW = p.nonEmpty && isWordCp(p.codePointAt(0))
    val endW = p.nonEmpty && isWordCp(p.codePointBefore(p.length))
    val plen = p.length
    var from = from0
    while (from <= s.length) {
      val i = s.indexOf(p, from)
      if (i < 0) return -1
      val lok = !startW || i == 0 || !isWordCp(s.codePointBefore(i))
      val rok = !endW || i + plen >= s.length || !isWordCp(s.codePointAt(i + plen))
      if (lok && rok) return i
      from = i + 1
    }
    -1
  }

  def matchesSeq(s: String, ps: Array[String]): Boolean = {
    var from = 0
    var k = 0
    while (k < ps.length) {
      val i = firstValid(s, ps(k), from)
      if (i < 0) return false
      from = i + ps(k).length
      k += 1
    }
    true
  }

  private def ensureRegistered(): Unit = GraftFunctions.ensure()

  /** Column API (same call_function registration route as Ipv4Parse). */
  def wordMatch(c: Column, phrase: String, prefixMode: Boolean): Column = {
    ensureRegistered()
    call_function("graft_word_match", c, lit(phrase), lit(prefixMode))
  }

  def seqMatch(c: Column, phrases: Seq[String]): Column = {
    ensureRegistered()
    call_function("graft_seq_match", c, lit(phrases.toArray))
  }
}
