package graft.functions

import java.util.regex.Pattern

/** The regex formulation of the word/phrase filters that WordMatch's
  * codegen'd scans replaced — kept as the semantic spec for the
  * differential property tests in ExprPropertySpec (a phrase matches when
  * it occurs bounded by non-word chars, filter_phrase.go; a prefix needs
  * the left boundary only; a sequence is the phrases in order,
  * filter_sequence.go). */
object TextMatchRegex {
  private val wordClass = "\\p{L}\\p{N}_"

  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Left word-boundary lookbehind, only when the edge char is a word char
    * (boundary checks don't apply to non-word edges — filter_phrase.go:61). */
  private def lb(s: String): String =
    if (s.nonEmpty && isWordChar(s.head)) s"(?<![$wordClass])" else ""

  private def rb(s: String): String =
    if (s.nonEmpty && isWordChar(s.last)) s"(?![$wordClass])" else ""

  def phraseRegex(phrase: String): String =
    lb(phrase) + Pattern.quote(phrase) + rb(phrase)

  def prefixRegex(prefix: String): String =
    lb(prefix) + Pattern.quote(prefix)

  def sequenceRegex(phrases: Seq[String]): String =
    "(?s)" + phrases.map(p => lb(p) + Pattern.quote(p) + rb(p)).mkString(".*?")
}
