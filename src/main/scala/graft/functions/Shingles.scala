package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass word n-gram shingle set — the per-row kernel under every
  * shingle-based dedup op (MinHash/LSH, n-gram Jaccard, decontamination,
  * exact-substring spans; ops/Dedup.scala). Replaces the higher-order
  * Column tower `array_distinct(transform(sequence(0, max(|t|-n, 0)),
  * i => concat_ws(" ", slice(tokens, i+1, n))))`, which allocates an
  * array per HOF step and re-walks the token array per shingle —
  * measured 13s of a 15.5s MinHash-signature pass over 100k docs.
  * Tokenization, shingle assembly, and first-occurrence dedup happen in
  * one scan of the string; values are bit-identical to the tower
  * (differential property test in ExprPropertySpec):
  *
  *   - tokens = maximal runs of `[\p{L}\p{N}_]` (split-regex parity:
  *     Unicode Letter, Unicode Number (Nd/Nl/No), underscore);
  *   - one shingle per i in 0..max(|tokens|-n, 0): tokens i..i+n-1 (or
  *     fewer at the tail / when |tokens| < n) joined by single spaces —
  *     including the degenerate "" when there are no tokens;
  *   - distinct, first occurrence kept in order.
  */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles needs string, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Shingles.shinglesEval(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Shingles.shinglesEval($s, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_shingles"
}

/** Word tokens (maximal `[\p{L}\p{N}_]` runs) in one code-point scan —
  * the kernel form of `filter(split(text, "[^\p{L}\p{N}_]+"), _ != "")`
  * shared by simhash, fingerprints, repetition stats, the unigram LM,
  * and duplicate-span shingling. Values pinned to the split+filter spec
  * by ExprPropertySpec. */
case class TokensExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_tokens needs string, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Shingles.tokensEval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Shingles.tokensEval($s);")

  override protected def withNewChildInternal(newChild: Expression): TokensExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_tokens"
}

/** Rolling 64-bit hashes of every k-CODE-POINT window of the raw string —
  * the char-level ExactSubstr kernel (Lee et al., "Deduplicating Training
  * Data Makes Language Models Better": suffix-level duplication operates
  * on the character stream, not token windows). One O(n) scan: the
  * polynomial hash rolls (h·B + cp, dropping cp_{i-k}·B^k), so the cost is
  * independent of k — a per-window substring hash would be O(n·k).
  * Windows are code points, matching DuckDB/SQL `substr` character
  * semantics in the oracle replica. Equal windows hash equal; distinct
  * windows collide with ~2^-64 probability (mod-2^64 polynomial, odd
  * base) — fine for frequency counting, not adversarial-input-proof. */
case class CharWindowHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_char_windows needs string, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Shingles.charWindowHashesEval(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Shingles.charWindowHashesEval($s, $k);")

  override protected def withNewChildInternal(newChild: Expression): CharWindowHashesExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_char_windows"
}

/** Per-document window-hash → repetitions map — the pre-aggregated
  * form of [[CharWindowHashesExpr]]/[[TokenWindowHashesExpr]]: the
  * in-doc rollup the ExactSubstr pipelines previously paid a full
  * (id, h) shuffle+aggregate for happens inside the kernel's one pass,
  * so the plan's first exchange partitions by h directly (one fewer
  * shuffle at every scale; the map is bounded by windows-per-document).
  * MapType over two primitive UnsafeArrayData buffers, not
  * array<struct<h,reps>>: char windows are mostly unique, so a struct
  * row per entry allocated ~n objects per document — the map form is
  * two flat long buffers regardless of entry count (measured 2-4× on
  * the kernel microbench, fe09239).
  * `chars`=true rolls code-point windows, false rolls token windows. */
case class WindowHashCountsExpr(child: Expression, k: Int, chars: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_window_hash_counts needs string, got ${t.sql}")
  }

  override def dataType: DataType =
    MapType(LongType, LongType, valueContainsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Shingles.windowHashCountsEval(input.asInstanceOf[UTF8String], k, chars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Shingles.windowHashCountsEval($s, $k, $chars);")

  override protected def withNewChildInternal(newChild: Expression): WindowHashCountsExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_window_hash_counts"
}

/** Rolling hashes of every k-TOKEN window — see
  * [[Shingles.tokenWindowHashesEval]]. */
case class TokenWindowHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_token_windows expects a string column, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Shingles.tokenWindowHashesEval(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Shingles.tokenWindowHashesEval($s, $k);")

  override protected def withNewChildInternal(newChild: Expression): TokenWindowHashesExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_token_windows"
}

object Shingles {

  /** `[\p{L}\p{N}_]` per Java regex Unicode categories — the engine's one
    * word class (lib/logstorage/tokenizer.go:12-60): every kernel here,
    * TextStatsKernel, WordMatch, the contains-set tokenizer and the bloom
    * prefix trim call it, so a token a filter needs is a token the bloom
    * saw. NOT isLetterOrDigit, which misses \p{Nl}/\p{No} ('Ⅻ', '²'). */
  @inline def isWordCp(cp: Int): Boolean = {
    if (cp < 128)
      (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9') || cp == '_'
    else if (Character.isLetter(cp)) true
    else {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }
  }

  private final val Repl = 0xFFFD << 3

  /** Decode the code point whose first byte sits at byte index `i` of the
    * UTF8String addressed by (base, off, n). Returns `(cp << 3) | byteLen`
    * (cp ≤ 0x10FFFF = 21 bits, so the pack fits an Int). A malformed
    * sequence decodes to U+FFFD over exactly the bytes `UTF8String.toString`
    * (`new String(bytes, UTF_8)`) replaces, so one walk serves every input
    * and yields the code points the String decode would:
    *   - `80–C1` and `F5–FF` are one U+FFFD each;
    *   - a `C2–DF` lead takes 1 continuation, `E0–EF` 2, `F0–F4` 3; the
    *     first must be `A0–BF` after `E0`, `90–BF` after `F0`, `80–8F`
    *     after `F4` and `80–BF` otherwise (`ED` included), later ones
    *     `80–BF`; when continuation k is missing or out of range the
    *     lead and the k−1 accepted continuations are one U+FFFD;
    *   - a complete `ED A0–BF xx` (a surrogate) is one U+FFFD over its 3
    *     bytes — the JDK decoder's rule, not Unicode's maximal subpart.
    * Pinned exhaustively against `toString` by Utf8ByteKernelSpec.
    *
    * Why bytes at all: every per-row text kernel previously started with
    * `text.toString`, i.e. a full UTF-8 → UTF-16 decode plus a char[]
    * allocation per row, before doing its single pass. Decoding straight
    * off the UnsafeRow/ColumnVector bytes allocates nothing. */
  @inline private[functions] def decodeCp(base: AnyRef, off: Long, i: Int,
      n: Int): Int = {
    import org.apache.spark.unsafe.Platform
    @inline def cont(j: Int): Int = // continuation byte at j, or -1
      if (j >= n) -1
      else {
        val v = Platform.getByte(base, off + j) & 0xFF
        if ((v & 0xC0) == 0x80) v else -1
      }
    val v0 = Platform.getByte(base, off + i) & 0xFF
    if (v0 < 0x80) (v0 << 3) | 1
    else if (v0 < 0xC2) Repl | 1 // bare continuation or overlong 2-byte lead
    else if (v0 < 0xE0) {
      val v1 = cont(i + 1)
      if (v1 < 0) Repl | 1
      else ((((v0 & 0x1F) << 6) | (v1 & 0x3F)) << 3) | 2
    } else if (v0 < 0xF0) {
      val v1 = cont(i + 1)
      if (v1 < 0 || (v0 == 0xE0 && v1 < 0xA0)) return Repl | 1
      val v2 = cont(i + 2)
      if (v2 < 0) return Repl | 2
      val cp = ((v0 & 0x0F) << 12) | ((v1 & 0x3F) << 6) | (v2 & 0x3F)
      if (cp >= 0xD800 && cp <= 0xDFFF) Repl | 3 else (cp << 3) | 3
    } else if (v0 < 0xF5) {
      val v1 = cont(i + 1)
      if (v1 < 0 || (v0 == 0xF0 && v1 < 0x90) || (v0 == 0xF4 && v1 > 0x8F))
        return Repl | 1
      val v2 = cont(i + 2)
      if (v2 < 0) return Repl | 2
      val v3 = cont(i + 3)
      if (v3 < 0) return Repl | 3
      ((((v0 & 0x07) << 18) | ((v1 & 0x3F) << 12) | ((v2 & 0x3F) << 6) |
        (v3 & 0x3F)) << 3) | 4
    } else Repl | 1
  }

  def shinglesEval(text: UTF8String, n: Int): GenericArrayData = {
    // token [start, end) BYTE ranges in one pass over the UTF-8 bytes —
    // no String materialization; shingle text is the byte ranges joined
    // by ' ' (one byte in UTF-8, so byte-level join == char-level join)
    val nb = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var m = 0
    var i = 0
    var runStart = -1
    while (i < nb) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      var cp = 0
      var len = 1
      if (b >= 0) cp = b
      else {
        val d = decodeCp(base, off, i, nb)
        cp = d >>> 3; len = d & 7
      }
      val w = isWordCp(cp)
      if (w && runStart < 0) runStart = i
      if (!w && runStart >= 0) {
        if (m == starts.length) {
          starts = java.util.Arrays.copyOf(starts, m * 2)
          ends = java.util.Arrays.copyOf(ends, m * 2)
        }
        starts(m) = runStart; ends(m) = i; m += 1; runStart = -1
      }
      i += len
    }
    if (runStart >= 0) {
      if (m == starts.length) {
        starts = java.util.Arrays.copyOf(starts, m + 1)
        ends = java.util.Arrays.copyOf(ends, m + 1)
      }
      starts(m) = runStart; ends(m) = nb; m += 1
    }
    val count = math.max(m - n, 0) + 1
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    var k = 0
    while (k < count) {
      val hi = math.min(k + n, m)
      if (hi <= k) seen.add(UTF8String.EMPTY_UTF8)
      else if (hi - k == 1) // a view: see tokensEval's validity contract
        seen.add(UTF8String.fromAddress(base, off + starts(k),
          ends(k) - starts(k)))
      else {
        var total = hi - k - 1 // separators
        var j = k
        while (j < hi) { total += ends(j) - starts(j); j += 1 }
        val buf = new Array[Byte](total)
        var o = 0
        j = k
        while (j < hi) {
          if (j > k) { buf(o) = ' '; o += 1 }
          val l = ends(j) - starts(j)
          org.apache.spark.unsafe.Platform.copyMemory(base, off + starts(j),
            buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + o, l)
          o += l
          j += 1
        }
        seen.add(UTF8String.fromBytes(buf))
      }
      k += 1
    }
    val out = new Array[Any](seen.size())
    var o = 0
    val it = seen.iterator()
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Tokens in one pass over the UTF-8 bytes — the one walk for every
    * input: a malformed sequence decodes to U+FFFD as `toString` would
    * ([[decodeCp]]), and U+FFFD is not a word code point, so a token never
    * holds replaced bytes and equals the token of the decoded String.
    * Each token is a zero-copy
    * `UTF8String.fromAddress` view into `text`'s buffer (one-token
    * shingles from [[shinglesEval]] are views too). Spark builtins do not
    * do this — `UTF8String.substring` copies — so the contract is this
    * kernel's own: a view is valid only until the next input row, whose
    * bytes may overwrite the same buffer. A consumer that keeps the
    * array or its strings past the current row must copy them; Spark's
    * buffering operators (aggregation buffers, sorts, collect) do —
    * pinned by the retaining-consumer cases in Utf8ByteKernelSpec and
    * ExprPropertySpec. */
  def tokensEval(text: UTF8String): GenericArrayData = {
    val nb = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val out = new java.util.ArrayList[Any]()
    var i = 0
    var runStart = -1
    while (i < nb) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      var cp = 0
      var len = 1
      if (b >= 0) cp = b
      else {
        val d = decodeCp(base, off, i, nb)
        cp = d >>> 3; len = d & 7
      }
      val w = isWordCp(cp)
      if (w && runStart < 0) runStart = i
      if (!w && runStart >= 0) {
        out.add(UTF8String.fromAddress(base, off + runStart, i - runStart))
        runStart = -1
      }
      i += len
    }
    if (runStart >= 0)
      out.add(UTF8String.fromAddress(base, off + runStart, nb - runStart))
    new GenericArrayData(out.toArray)
  }

  private def ensureRegistered(): Unit = GraftFunctions.ensure()

  def shingles(text: Column, n: Int): Column = {
    ensureRegistered()
    call_function("graft_shingles", text, lit(n))
  }

  def tokens(text: Column): Column = {
    ensureRegistered()
    call_function("graft_tokens", text)
  }

  private val RollBase = 0x100000001b3L // odd (FNV prime); invertible mod 2^64

  /** 64-bit finalizer (the MurmurHash3 fmix64 constants): avalanche-mixes
    * a linearly-built hash so related inputs get unrelated outputs.
    * REQUIRED before feeding symbol hashes into the linear window roll —
    * a roll over hashes that are themselves polynomials in RollBase
    * aligns both on the same power basis, and small symbol differences at
    * aligned positions cancel EXACTLY mod 2^64 (e.g. fixed-width tokens
    * differing by one digit at two positions collided systematically in
    * the 1M-doc rehearsal: +δ·B^i in one token, −δ·B^{i+len} in the
    * next). After mixing, colliding pairs are structureless → birthday-
    * bounded like any 64-bit hash. */
  @inline private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Primitive form of [[charWindowHashesEval]] — no per-window boxing. */
  def charWindowHashesRaw(text: UTF8String, k: Int): Array[Long] = {
    // SQL callers can pass any literal k: non-positive windows have no
    // defined hash — empty result, never an unset array slot (k = 0
    // would leave out(0) null inside a containsNull=false array) or a
    // negative index crash
    if (k <= 0) return Array.emptyLongArray
    // decode code points straight off the UTF-8 bytes (one pass, no
    // String materialization); cps can never outnumber bytes, so the
    // buffer is sized once
    val nb = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val cps = new Array[Int](nb)
    var i = 0; var n = 0
    while (i < nb) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b >= 0) { cps(n) = b; n += 1; i += 1 }
      else {
        val d = decodeCp(base, off, i, nb)
        cps(n) = d >>> 3; n += 1; i += d & 7
      }
    }
    if (n < k) return Array.emptyLongArray
    // B^k mod 2^64 for the rolling drop-term
    var bk = 1L
    var e = 0
    while (e < k) { bk *= RollBase; e += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    var j = 0
    // roll over MIXED code points (see fmix64): raw cps keep the window
    // hash a sparse small-coefficient polynomial in RollBase, where a
    // short lattice vector (a few positions with bounded char deltas) can
    // cancel mod 2^64; mixed symbols make any colliding pair structureless
    while (j < n) {
      h = h * RollBase + fmix64(cps(j).toLong)
      if (j >= k) h -= bk * fmix64(cps(j - k).toLong)
      if (j >= k - 1) out(j - k + 1) = h
      j += 1
    }
    out
  }

  def charWindowHashesEval(text: UTF8String,
      k: Int): org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(charWindowHashesRaw(text, k))

  def charWindowHashes(text: Column, k: Int): Column = {
    ensureRegistered()
    call_function("graft_char_windows", text, lit(k))
  }

  /** Hashes of every k-TOKEN window (ExactSubstr token granularity): one
    * code-point scan tokenizes (same word-cp classes as [[tokensEval]]),
    * each token gets a 64-bit content hash, and windows combine k token
    * hashes with the same invertible rolling scheme as
    * [[charWindowHashesEval]] — O(n) total, in-doc multiplicity kept.
    * Replaces the transform(sequence)/xxhash64/slice HOF tower, which
    * interpreted per element AND broke plan canonicalization (lambda
    * variables defeat ReuseExchange, so the rollup shuffled twice).
    * Primitive form of [[tokenWindowHashesEval]] — no per-window boxing. */
  def tokenWindowHashesRaw(text: UTF8String, k: Int): Array[Long] = {
    if (k <= 0) return Array.emptyLongArray
    // per-token content hashes in one pass over the UTF-8 bytes (the
    // token hash rolls over CODE POINTS, the same ones a String decode
    // yields)
    val nb = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var toks = new Array[Long](math.max(16, nb / 6))
    var m = 0
    var i = 0
    var inRun = false
    var th = 0L
    while (i < nb) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      var cp = 0
      var len = 1
      if (b >= 0) cp = b
      else {
        val d = decodeCp(base, off, i, nb)
        cp = d >>> 3; len = d & 7
      }
      val w = isWordCp(cp)
      if (w) {
        if (!inRun) { inRun = true; th = 1125899906842597L }
        th = th * RollBase + cp
      } else if (inRun) {
        if (m == toks.length) toks = java.util.Arrays.copyOf(toks, m * 2)
        toks(m) = fmix64(th); m += 1; inRun = false
      }
      i += len
    }
    if (inRun) {
      if (m == toks.length) toks = java.util.Arrays.copyOf(toks, m + 1)
      toks(m) = fmix64(th); m += 1
    }
    if (m < k) return Array.emptyLongArray
    var bk = 1L
    var e = 0
    while (e < k) { bk *= RollBase; e += 1 }
    val out = new Array[Long](m - k + 1)
    var h = 0L
    var j = 0
    while (j < m) {
      h = h * RollBase + toks(j)
      if (j >= k) h -= bk * toks(j - k)
      if (j >= k - 1) out(j - k + 1) = h
      j += 1
    }
    out
  }

  def tokenWindowHashesEval(text: UTF8String,
      k: Int): org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(tokenWindowHashesRaw(text, k))

  def tokenWindowHashes(text: Column, k: Int): Column = {
    ensureRegistered()
    call_function("graft_token_windows", text, lit(k))
  }

  /** In-doc (window hash → repetitions) rollup in the same pass that
    * produces the hashes — see [[WindowHashCountsExpr]]. Delegates to the
    * plain window evals so the hash values are bit-identical to
    * explode+groupBy of those kernels (pinned by ExprPropertySpec). */
  def windowHashCountsEval(text: UTF8String, k: Int,
      chars: Boolean): org.apache.spark.sql.catalyst.util.ArrayBasedMapData = {
    val hs = if (chars) charWindowHashesRaw(text, k)
             else tokenWindowHashesRaw(text, k)
    val n = hs.length
    // open-addressing long→count table (no boxing — the LinkedHashMap
    // version spent the kernel's win re-boxing every window hash);
    // first-occurrence output order keeps the kernel deterministic
    // (plan canonicalization and the diff tests rely on it)
    // Long arithmetic: for n > 2^30 windows `n * 2` overflows Int negative,
    // which would leave cap at 16 and let the table fill — the linear
    // probe below then never terminates (ADVICE r13). capBits is bounded
    // at 30 (a larger Array[Long] can't be allocated), so documents with
    // ≥2^30 windows fall back to a boxed-map rollup instead.
    var capBits = 4
    while (capBits < 30 && (1L << capBits) < n.toLong * 2L) capBits += 1
    val cap = 1 << capBits
    if (n >= cap) {
      // pathological ≥1G-window document: degrade gracefully, don't hang
      val m = new java.util.LinkedHashMap[java.lang.Long, java.lang.Long]()
      var j = 0
      while (j < n) {
        val h: java.lang.Long = hs(j)
        val c = m.get(h)
        m.put(h, if (c == null) 1L else c + 1L)
        j += 1
      }
      val ks2 = new Array[Long](m.size()); val vs2 = new Array[Long](m.size())
      var d = 0
      m.forEach { (k, v) => ks2(d) = k; vs2(d) = v; d += 1 }
      import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      return new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        UnsafeArrayData.fromPrimitiveArray(ks2),
        UnsafeArrayData.fromPrimitiveArray(vs2))
    }
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val counts = new Array[Long](cap) // 0 = empty slot (counts start at 1)
    val order = new Array[Int](n) // slot indices in first-occurrence order
    var distinct = 0
    var i = 0
    while (i < n) {
      val h = hs(i)
      // hashes are already fmix-mixed; fold halves for the table index
      var slot = ((h ^ (h >>> 32)).toInt) & mask
      while (counts(slot) != 0L && keys(slot) != h) slot = (slot + 1) & mask
      if (counts(slot) == 0L) {
        keys(slot) = h; counts(slot) = 1L
        order(distinct) = slot; distinct += 1
      } else counts(slot) += 1L
      i += 1
    }
    val ks = new Array[Long](distinct)
    val vs = new Array[Long](distinct)
    var j = 0
    while (j < distinct) {
      val slot = order(j)
      ks(j) = keys(slot); vs(j) = counts(slot)
      j += 1
    }
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      UnsafeArrayData.fromPrimitiveArray(ks),
      UnsafeArrayData.fromPrimitiveArray(vs))
  }

  def windowHashCounts(text: Column, k: Int, chars: Boolean): Column = {
    ensureRegistered()
    call_function("graft_window_hash_counts", text, lit(k), lit(chars))
  }

  /** (field-name, xxhash64(token)) pairs for every word token of every
    * field of a struct of rendered values — the FieldBloom BUILD kernel.
    * One pass per row over all covered fields; hashes are bit-identical
    * to `xxhash64(tok)` on the tokenized column (same XxHash64Function,
    * seed 42 — pinned by ExprPropertySpec), so the probe side's
    * MsgBloom.tokenHashes keys the same bitmaps. Replaces the per-field
    * `transform(array_distinct(tokenize(...)))` HOF tower (r13 verdict
    * #4: HOFs are CodegenFallback and allocate per step — the repo's own
    * documented anti-pattern since r11). Duplicate tokens are NOT
    * deduped here: BloomAgg's bit-OR is idempotent and the partial
    * aggregate collapses them map-side. */
  def fieldTokenHashesEval(row: org.apache.spark.sql.catalyst.InternalRow,
                           names: Array[UTF8String]): GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
    val out = new java.util.ArrayList[Any]()
    var f = 0
    while (f < names.length) {
      if (!row.isNullAt(f)) {
        val s = row.getUTF8String(f)
        // tokenize and hash straight off the UTF-8 bytes: the token hash
        // is xxhash64 over the token's UTF-8 bytes (what the StringType
        // dispatch computes), so hashing the byte range in place skips
        // both the toString decode and the per-token String+UTF8String
        // allocations
        val nb = s.numBytes()
        val base = s.getBaseObject
        val off = s.getBaseOffset
        var i = 0
        var runStart = -1
        while (i < nb) {
          val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
          var cp = 0
          var len = 1
          if (b >= 0) cp = b
          else {
            val d = decodeCp(base, off, i, nb)
            cp = d >>> 3; len = d & 7
          }
          val w = isWordCp(cp)
          if (w && runStart < 0) runStart = i
          if (!w && runStart >= 0) {
            out.add(new GenericInternalRow(Array[Any](names(f),
              XXH64.hashUnsafeBytes(base, off + runStart, i - runStart, 42L))))
            runStart = -1
          }
          i += len
        }
        if (runStart >= 0)
          out.add(new GenericInternalRow(Array[Any](names(f),
            XXH64.hashUnsafeBytes(base, off + runStart, nb - runStart, 42L))))
      }
      f += 1
    }
    new GenericArrayData(out.toArray)
  }

  def fieldTokenHashes(values: Column): Column = {
    ensureRegistered()
    call_function("graft_field_token_hashes", values)
  }
}

/** See [[Shingles.fieldTokenHashesEval]]. The child is a struct of
  * rendered (string) field values whose STRUCT FIELD NAMES carry the
  * covered-field names — names travel in the type, so the kernel stays
  * unary and codegen-friendly. */
case class FieldTokenHashesExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if s.fields.forall(_.dataType.isInstanceOf[StringType]) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_field_token_hashes needs struct<string,...>, got ${t.sql}")
  }

  private lazy val names: Array[UTF8String] = child.dataType match {
    case s: StructType => s.fieldNames.map(UTF8String.fromString)
    case _ => Array.empty
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("field", StringType, nullable = false),
    StructField("hash", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Shingles.fieldTokenHashesEval(
      input.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], names)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val namesRef = ctx.addReferenceObj("names", names,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Shingles.fieldTokenHashesEval($s, $namesRef);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : FieldTokenHashesExpr = copy(child = newChild)

  override def prettyName: String = "graft_field_token_hashes"
}
