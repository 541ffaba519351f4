package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenized full-text matching, mirroring the reference semantics
  * (lib/logstorage/tokenizer.go:12-60 — words are runs of Unicode
  * letters/digits/underscore; lib/logstorage/filter_phrase.go — a phrase
  * matches when it occurs in the value bounded by non-word chars).
  * Matching compiles to WordMatch's codegen'd scans; rows are tokenized
  * by the `graft_tokens` kernel (Shingles.tokens).
  */
object TextMatch {
  private val wordClass = "\\p{L}\\p{N}_"

  /** `field:phrase` — empty phrase matches empty/missing value. Compiled
    * to the codegen'd substring+boundary scan (WordMatch), not a regex —
    * this predicate sits inside every full-scan filter. */
  def matchPhrase(c: Column, phrase: String): Column =
    if (phrase.isEmpty) c === ""
    else WordMatch.wordMatch(c, phrase, prefixMode = false)

  /** `field:prefix*` — empty prefix matches any non-empty value. */
  def matchPrefix(c: Column, prefix: String): Column =
    if (prefix.isEmpty) c =!= ""
    else WordMatch.wordMatch(c, prefix, prefixMode = true)

  def matchAnyCasePhrase(c: Column, phrase: String): Column =
    matchPhrase(lower(c), phrase.toLowerCase)

  def matchAnyCasePrefix(c: Column, prefix: String): Column =
    matchPrefix(lower(c), prefix.toLowerCase)

  /** `field:seq(w1, w2, ...)` — phrases in order (filter_sequence.go);
    * codegen'd greedy scan, not a chained-lookbehind regex. */
  def matchSequence(c: Column, phrases: Seq[String]): Column =
    if (phrases.isEmpty) lit(true)
    else WordMatch.seqMatch(c, phrases)

  /** Query-side tokens (tokenizer.go): runs of letters/digits/underscore,
    * the same tokens `graft_tokens` yields per row — pinned to the
    * reference's goldens by KernelConformanceSpec and to the kernel by
    * Utf8ByteKernelSpec. */
  def tokenizeString(s: String): Seq[String] =
    s.split(s"[^$wordClass]+").toSeq.filter(_.nonEmpty)
}
