package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r15 byte-direct kernel rewrites (Shingles/MinHashSim).
  *
  * Each byte-direct kernel has one walk for every byte sequence,
  * including invalid UTF-8: Shingles.decodeCp decodes a malformed
  * sequence to U+FFFD over exactly the bytes `toString` replaces, so the
  * walk sees the code points the String decode would. The decoder is
  * checked against `toString` exhaustively on short inputs; the kernels
  * by the differential `kernel(raw) == kernel(normalize(raw))` with
  * `normalize = fromString(raw.toString)`: on valid input normalize is
  * the identity; on invalid input the left side walks the malformed bytes
  * and the right side their replacement-normalized form, so a decoder
  * that splits a malformed sequence differently from Java shows up as a
  * value difference. */
class Utf8ByteKernelSpec extends AnyFunSuite {

  private def norm(raw: UTF8String): UTF8String =
    UTF8String.fromString(raw.toString)

  private def strings(a: Any): Seq[String] = {
    val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  private val targeted: Seq[Array[Byte]] = Seq(
    Array[Byte](), // empty
    "plain ascii words_123 here!".getBytes("UTF-8"),
    "mixé ünïcode wörds ånd 数字123 αβγ".getBytes("UTF-8"),
    "😀 emoji astral 🤖 ok".getBytes("UTF-8"), // 4-byte cps
    Array[Byte](0x61, 0x80.toByte, 0x62), // bare continuation between ascii
    Array[Byte](0x61, 0xC0.toByte, 0xAF.toByte, 0x62), // overlong 2-byte
    Array[Byte](0x61, 0xE0.toByte, 0x80.toByte, 0x80.toByte), // overlong 3-byte
    Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte, 0x77), // surrogate D800
    Array[Byte](0xF5.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte), // > U+10FFFF lead
    Array[Byte](0x77, 0x6F, 0x72, 0x64, 0xC3.toByte), // truncated 2-byte at end
    Array[Byte](0x77, 0xE2.toByte, 0x82.toByte), // truncated 3-byte at end
    Array[Byte](0xF0.toByte, 0x9F.toByte, 0x98.toByte), // truncated 4-byte at end
    ("valid start " + "x" * 40).getBytes("UTF-8") ++
      Array[Byte](0xFF.toByte) ++ " tail words".getBytes("UTF-8"))

  private def randomCases: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(421)
    (0 until 300).map { i =>
      val n = rnd.nextInt(60)
      if (i % 3 == 0) { // valid text of words/separators
        val seps = " .,;-漢字é"
        (0 until n).map(_ => if (rnd.nextBoolean()) ('a' + rnd.nextInt(26)).toChar
          else seps.charAt(rnd.nextInt(seps.length))).mkString.getBytes("UTF-8")
      } else { // arbitrary bytes — mostly invalid UTF-8
        val b = new Array[Byte](n); rnd.nextBytes(b); b
      }
    }
  }

  private def allCases = targeted ++ randomCases

  /** Code points decodeCp yields walking all of `bytes`. */
  private def decoded(bytes: Array[Byte]): Array[Int] = {
    val u = UTF8String.fromBytes(bytes)
    val out = new Array[Int](bytes.length)
    var i = 0; var n = 0
    while (i < bytes.length) {
      val d = Shingles.decodeCp(u.getBaseObject, u.getBaseOffset, i,
        bytes.length)
      out(n) = d >>> 3; n += 1; i += d & 7
    }
    java.util.Arrays.copyOf(out, n)
  }

  test("decodeCp ≡ toString's code points on every short byte string") {
    val all = (0 until 256).map(_.toByte)
    val cases = Iterator(Array.emptyByteArray) ++
      all.iterator.map(a => Array(a)) ++
      all.iterator.flatMap(a => all.iterator.map(b => Array(a, b))) ++
      all.iterator.filter(a => (a & 0xFF) >= 0xC0).flatMap(a =>
        all.iterator.flatMap(b => all.iterator.map(c => Array(a, b, c))))
    val suffix = "a".getBytes("UTF-8")
    var checked = 0
    var bad = 0
    val firstBad = Seq.newBuilder[String]
    for (b <- cases; bytes <- Iterator(b, b ++ suffix)) {
      val want = UTF8String.fromBytes(bytes).toString.codePoints().toArray
      if (!java.util.Arrays.equals(decoded(bytes), want)) {
        if (bad < 10) firstBad += bytes.map(x => f"$x%02x").mkString(" ")
        bad += 1
      }
      checked += 1
    }
    // 1 + 256 + 256² + 64·256² inputs, each bare and with the suffix
    assert(checked == 2 * (1 + 256 + 65536 + 64 * 65536))
    if (bad > 0) fail(s"$bad mismatches, first: ${firstBad.result()}")
  }

  test("tokensEval ≡ tokenizeString on non-Nd numbers and astral letters") {
    // ² (No), Ⅻ (Nl), 𝐀 (astral Lu, a surrogate pair), ٣ (Nd, Arabic-
    // Indic), _ and é are word code points; the rest separate tokens
    val word = Seq("²", "Ⅻ", "𝐀", "٣", "_", "é", "a", "7")
    val sep = Seq(" ", ".", "-", "—", "\u00A0", "😀", "\t")
    val rnd = new scala.util.Random(17)
    val inputs = Seq("", "ab²", "ab²c", "errⅫ", "x𝐀", "𝐀𝐀 ٣٣") ++
      (0 until 2000).map(_ => (0 until rnd.nextInt(14)).map { _ =>
        if (rnd.nextInt(3) == 0) sep(rnd.nextInt(sep.size))
        else word(rnd.nextInt(word.size))
      }.mkString)
    for (s <- inputs)
      assert(strings(Shingles.tokensEval(UTF8String.fromString(s))) ==
        TextMatch.tokenizeString(s), s"input '$s'")
  }

  test("tokensEval: byte path + fallback ≡ toString semantics") {
    for (bytes <- allCases) {
      val raw = UTF8String.fromBytes(bytes)
      assert(strings(Shingles.tokensEval(raw)) ==
        strings(Shingles.tokensEval(norm(raw))),
        s"bytes=${bytes.map(b => f"$b%02x").mkString(" ")}")
    }
  }

  test("shinglesEval: byte path + fallback ≡ toString semantics") {
    for (bytes <- allCases; n <- Seq(1, 3)) {
      val raw = UTF8String.fromBytes(bytes)
      assert(strings(Shingles.shinglesEval(raw, n)) ==
        strings(Shingles.shinglesEval(norm(raw), n)),
        s"n=$n bytes=${bytes.map(b => f"$b%02x").mkString(" ")}")
    }
  }

  test("charWindowHashesRaw: byte path + fallback ≡ toString semantics") {
    for (bytes <- allCases; k <- Seq(1, 4, 24)) {
      val raw = UTF8String.fromBytes(bytes)
      assert(java.util.Arrays.equals(Shingles.charWindowHashesRaw(raw, k),
        Shingles.charWindowHashesRaw(norm(raw), k)),
        s"k=$k bytes=${bytes.map(b => f"$b%02x").mkString(" ")}")
    }
  }

  test("tokenWindowHashesRaw: byte path + fallback ≡ toString semantics") {
    for (bytes <- allCases; k <- Seq(1, 3, 8)) {
      val raw = UTF8String.fromBytes(bytes)
      assert(java.util.Arrays.equals(Shingles.tokenWindowHashesRaw(raw, k),
        Shingles.tokenWindowHashesRaw(norm(raw), k)),
        s"k=$k bytes=${bytes.map(b => f"$b%02x").mkString(" ")}")
    }
  }

  test("fieldTokenHashesEval: byte path + per-field fallback, no dup/loss") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val names = Array(UTF8String.fromString("a"), UTF8String.fromString("b"))
    def pairs(r1: UTF8String, r2: UTF8String): Seq[(String, Long)] = {
      val row = new GenericInternalRow(Array[Any](r1, r2))
      val arr = Shingles.fieldTokenHashesEval(row, names)
      (0 until arr.numElements()).map { i =>
        val s = arr.getStruct(i, 2)
        (s.getUTF8String(0).toString, s.getLong(1))
      }
    }
    for (b1 <- targeted; b2 <- targeted.take(4)) {
      val (r1, r2) = (UTF8String.fromBytes(b1), UTF8String.fromBytes(b2))
      assert(pairs(r1, r2) == pairs(norm(r1), norm(r2)),
        s"f1=${b1.map(b => f"$b%02x").mkString(" ")} " +
          s"f2=${b2.map(b => f"$b%02x").mkString(" ")}")
    }
    // null field emits nothing (unchanged from r14)
    val row = new GenericInternalRow(Array[Any](null,
      UTF8String.fromString("one two")))
    assert(Shingles.fieldTokenHashesEval(row, names).numElements() == 2)
  }

  test("TextStatsKernel eval/qualityCounts: byte path + fallback ≡ toString") {
    val withHan = Seq("漢字 han text 的".getBytes("UTF-8"),
      "the of and is to in a".getBytes("UTF-8"),
      "el la de los que y en punct!!! ___".getBytes("UTF-8"))
    for (bytes <- allCases ++ withHan) {
      val raw = UTF8String.fromBytes(bytes)
      val (a, b) = (TextStatsKernel.eval(raw), TextStatsKernel.eval(norm(raw)))
      assert(a.getUTF8String(0) == b.getUTF8String(0) &&
        a.getLong(1) == b.getLong(1),
        s"eval bytes=${bytes.map(x => f"$x%02x").mkString(" ")}")
      val (c, d) = (TextStatsKernel.qualityCountsEval(raw),
        TextStatsKernel.qualityCountsEval(norm(raw)))
      assert((0 until 3).forall(j => c.getLong(j) == d.getLong(j)),
        s"quality bytes=${bytes.map(x => f"$x%02x").mkString(" ")}")
    }
  }

  test("simhash64 SWAR vote ≡ per-bit vote across the 255-token lane flush") {
    def perBitRef(tokens: Seq[String]): Long = {
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val votes = new Array[Int](64)
      tokens.foreach { t =>
        val u = UTF8String.fromString(t)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.numBytes(), 42L)
        (0 until 64).foreach { b =>
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1 }
      }
      (0 until 64).foldLeft(0L)((acc, b) =>
        if (votes(b) > 0) acc | (1L << b) else acc)
    }
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 2, 100, 254, 255, 256, 509, 510, 511, 1000)) {
      val toks = (0 until n).map(_ => "t" + rnd.nextInt(50))
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t): Any).toArray)
      assert(MinHashSim.simhash64Eval(arr) == perBitRef(toks), s"n=$n")
    }
    // null entries don't vote and don't advance the token count
    val withNulls = new GenericArrayData(Array[Any](
      UTF8String.fromString("x"), null, UTF8String.fromString("y"), null))
    val noNulls = new GenericArrayData(Array[Any](
      UTF8String.fromString("x"), UTF8String.fromString("y")))
    assert(MinHashSim.simhash64Eval(withNulls) ==
      MinHashSim.simhash64Eval(noNulls))
  }

  test("token views track the input buffer; a copied array keeps its row") {
    // one reused row buffer, as Spark's row readers reuse theirs
    val buf = "alpha beta".getBytes("UTF-8")
    val row = UTF8String.fromBytes(buf)
    val views = Shingles.tokensEval(row)
    val oneTokenShingles = Shingles.shinglesEval(row, 1)
    val kept = views.copy()
    val keptShingles = oneTokenShingles.copy()
    System.arraycopy("gamma zeta".getBytes("UTF-8"), 0, buf, 0, buf.length)
    // the views now read the next row's bytes: valid only until then
    assert(strings(views) == Seq("gamma", "zeta"))
    assert(strings(oneTokenShingles) == Seq("gamma", "zeta"))
    // a consumer that copied (GenericArrayData.copy, as buffering
    // operators do) still holds the first row's values
    assert(strings(kept) == Seq("alpha", "beta"))
    assert(strings(keptShingles) == Seq("alpha", "beta"))
  }
}
