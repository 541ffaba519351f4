package graft.ops

import java.awt.image.BufferedImage
import scala.collection.mutable.ArrayBuffer

/** Pure-JVM MPEG-1 video (ISO/IEC 11172-2) decoder — I, P, AND B
  * pictures.
  *
  * Sequence header (incl. loadable intra AND non-intra quantizer
  * matrices), GOP/picture headers, slice layer, intra macroblocks with
  * DC prediction, the COMPLETE dct_coeff VLC (table B.5 through the
  * 16-bit tail groups — all 48 tail codes transcribed from the public
  * ISO/IEC 11172-2 table, prefix-freeness machine-checked in OpsSpec —
  * plus full escape coding), dequantization with
  * mismatch control (intra and non-intra forms), inverse zigzag, 8×8
  * IDCT, 4:2:0 upsample and BT.601-style YCbCr→RGB. P-pictures decode
  * with full forward motion compensation: motion VLC (table B.4) +
  * f_code-scaled residuals with modulo wrap, half-pel bilinear
  * interpolation, full_pel scaling, coded_block_pattern (table B.3),
  * skipped-macroblock co-located copy, intra recode inside P, and
  * signed non-intra residual blocks. B-pictures add backward and
  * interpolated (rounded-average) prediction from the two most recent
  * reference pictures, per-direction motion predictors with their own
  * f_codes, skip-repeats-previous-mode semantics (§2.4.4.4), and
  * display-order reordering (decode order I P B B… emits as I B B P…
  * via a hold-one reference buffer). The remaining declared stub
  * boundary is modern codecs (H.264 etc.) in Multimodal.decodeStub.
  *
  * The companion [[encodeIntra]] writes a spec-shaped I-only elementary
  * stream (used by tests/oracles as the deterministic fixture, the same
  * pattern as Multimodal.testAvi): solid blocks carry only the DC
  * coefficient, whose reconstruction is exact through the IDCT, so the
  * decoder's output channel means are pinned, not approximate.
  */
object Mpeg1 {

  final case class Mpeg1Video(frames: IndexedSeq[BufferedImage],
                              usPerFrame: Long)

  /** Allocation bounds for attacker-controlled header dimensions: one
    * frame ≤ 2048×2048 pixels (covers 1080p; a 12-bit header maxes at
    * 4095×4095 ≈ 67 MB/frame, which a few-KB crafted stream must not
    * command), whole stream ≤ 16M pixels (~64 MB of RGB). */
  private val MaxFramePixels: Long = 2048L * 2048L
  private val MaxTotalPixels: Long = 16L * 1024L * 1024L

  // ------------------------------------------------------------ bit I/O

  private final class BitReader(data: Array[Byte], startBit: Long, endBit: Long) {
    var pos: Long = startBit
    def bitsLeft: Long = endBit - pos
    private def bitAt(p: Long): Int =
      if (p >= endBit) 0 // zero-fill past the end (start-code probing)
      else (data((p >>> 3).toInt) >> (7 - (p & 7)).toInt) & 1
    def read(n: Int): Int = {
      if (pos + n > endBit) throw new IllegalStateException("bitstream underrun")
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bitAt(pos); pos += 1; i += 1 }
      v
    }
    def peek(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bitAt(pos + i); i += 1 }
      v
    }
  }

  private final class BitWriter {
    private val bytes = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nAcc = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1)
        nAcc += 1
        if (nAcc == 8) { bytes.write(acc); acc = 0; nAcc = 0 }
        i -= 1
      }
    }
    def align(): Unit = while (nAcc != 0) put(0, 1)
    def startCode(code: Int): Unit = { align(); put(0, 8); put(0, 8); put(1, 8); put(code, 8) }
    def result(): Array[Byte] = { align(); bytes.toByteArray }
  }

  // ------------------------------------------------------------- tables

  /** Default intra quantizer matrix (11172-2 §2.4.3.2), raster order. */
  private val DefaultIntraQ: Array[Int] = Array(
    8, 16, 19, 22, 26, 27, 29, 34,
    16, 16, 22, 24, 27, 29, 34, 37,
    19, 22, 26, 27, 29, 34, 34, 38,
    22, 22, 26, 27, 29, 34, 37, 40,
    22, 26, 27, 29, 32, 35, 40, 48,
    26, 27, 29, 32, 35, 40, 48, 58,
    26, 27, 29, 34, 38, 46, 56, 69,
    27, 29, 35, 38, 46, 56, 69, 83)

  /** Zigzag scan: position i of the coefficient stream → raster index. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** picture_rate code → microseconds per frame (11172-2 table 2-D.4). */
  private val RateUs: Array[Long] = Array(0L, 41708L, 41667L, 40000L,
    33367L, 33333L, 20000L, 16683L, 16667L)

  /** macroblock_address_increment (table B.1), code string → increment. */
  private val AddrIncTable: Map[String, Int] = Map(
    "1" -> 1, "011" -> 2, "010" -> 3, "0011" -> 4, "0010" -> 5,
    "00011" -> 6, "00010" -> 7, "0000111" -> 8, "0000110" -> 9,
    "00001011" -> 10, "00001010" -> 11, "00001001" -> 12, "00001000" -> 13,
    "00000111" -> 14, "00000110" -> 15,
    "0000010111" -> 16, "0000010110" -> 17, "0000010101" -> 18,
    "0000010100" -> 19, "0000010011" -> 20, "0000010010" -> 21,
    "00000100011" -> 22, "00000100010" -> 23, "00000100001" -> 24,
    "00000100000" -> 25, "00000011111" -> 26, "00000011110" -> 27,
    "00000011101" -> 28, "00000011100" -> 29, "00000011011" -> 30,
    "00000011010" -> 31, "00000011001" -> 32, "00000011000" -> 33)
  private val AddrEscape = "00000001000" // +33, then another code
  private val AddrStuffing = "00000001111" // discarded

  /** dct_coeff run/level codes WITHOUT the trailing sign bit — the
    * COMPLETE table B.5 through the 16-bit groups; '10' = EOB and the
    * escape '000001' are handled separately. `private[ops]` so OpsSpec
    * can machine-check prefix-freeness and group structure. */
  private[ops] val AcTable: Map[String, (Int, Int)] = Map(
    "11" -> ((0, 1)), "011" -> ((1, 1)),
    "0100" -> ((0, 2)), "0101" -> ((2, 1)),
    "00101" -> ((0, 3)), "00111" -> ((3, 1)), "00110" -> ((4, 1)),
    "000110" -> ((1, 2)), "000111" -> ((5, 1)), "000101" -> ((6, 1)),
    "000100" -> ((7, 1)),
    "0000110" -> ((0, 4)), "0000100" -> ((2, 2)), "0000111" -> ((8, 1)),
    "0000101" -> ((9, 1)),
    "00100110" -> ((0, 5)), "00100001" -> ((0, 6)), "00100101" -> ((1, 3)),
    "00100100" -> ((3, 2)), "00100111" -> ((10, 1)), "00100011" -> ((11, 1)),
    "00100010" -> ((12, 1)), "00100000" -> ((13, 1)),
    "0000001010" -> ((0, 7)), "0000001100" -> ((1, 4)),
    "0000001011" -> ((2, 3)), "0000001111" -> ((4, 2)),
    "0000001001" -> ((5, 2)), "0000001110" -> ((14, 1)),
    "0000001101" -> ((15, 1)), "0000001000" -> ((16, 1)),
    "000000011101" -> ((0, 8)), "000000011000" -> ((0, 9)),
    "000000010011" -> ((0, 10)), "000000010000" -> ((0, 11)),
    "000000011011" -> ((1, 5)), "000000010100" -> ((2, 4)),
    "000000011100" -> ((3, 3)), "000000010010" -> ((4, 3)),
    "000000011110" -> ((6, 2)), "000000010101" -> ((7, 2)),
    "000000010001" -> ((8, 2)), "000000011111" -> ((17, 1)),
    "000000011010" -> ((18, 1)), "000000011001" -> ((19, 1)),
    "000000010111" -> ((20, 1)), "000000010110" -> ((21, 1)),
    "0000000011010" -> ((0, 12)), "0000000011001" -> ((0, 13)),
    "0000000011000" -> ((0, 14)), "0000000010111" -> ((0, 15)),
    "0000000010110" -> ((1, 6)), "0000000010101" -> ((1, 7)),
    "0000000010100" -> ((2, 5)), "0000000010011" -> ((3, 4)),
    "0000000010010" -> ((5, 3)), "0000000010001" -> ((9, 2)),
    "0000000010000" -> ((10, 2)), "0000000011111" -> ((22, 1)),
    "0000000011110" -> ((23, 1)), "0000000011101" -> ((24, 1)),
    "0000000011100" -> ((25, 1)), "0000000011011" -> ((26, 1)),
    // 14-bit group (table B.5g): run 0, levels 16-31 — suffix codes
    // descend 11111..10000 as the level ascends
    "00000000011111" -> ((0, 16)), "00000000011110" -> ((0, 17)),
    "00000000011101" -> ((0, 18)), "00000000011100" -> ((0, 19)),
    "00000000011011" -> ((0, 20)), "00000000011010" -> ((0, 21)),
    "00000000011001" -> ((0, 22)), "00000000011000" -> ((0, 23)),
    "00000000010111" -> ((0, 24)), "00000000010110" -> ((0, 25)),
    "00000000010101" -> ((0, 26)), "00000000010100" -> ((0, 27)),
    "00000000010011" -> ((0, 28)), "00000000010010" -> ((0, 29)),
    "00000000010001" -> ((0, 30)), "00000000010000" -> ((0, 31)),
    // 15-bit group (B.5h): run 1 levels 8-14, then run 0 levels 32-40
    "000000000011111" -> ((1, 8)), "000000000011110" -> ((1, 9)),
    "000000000011101" -> ((1, 10)), "000000000011100" -> ((1, 11)),
    "000000000011011" -> ((1, 12)), "000000000011010" -> ((1, 13)),
    "000000000011001" -> ((1, 14)), "000000000011000" -> ((0, 32)),
    "000000000010111" -> ((0, 33)), "000000000010110" -> ((0, 34)),
    "000000000010101" -> ((0, 35)), "000000000010100" -> ((0, 36)),
    "000000000010011" -> ((0, 37)), "000000000010010" -> ((0, 38)),
    "000000000010001" -> ((0, 39)), "000000000010000" -> ((0, 40)),
    // 16-bit group (B.5i): runs 27-31 at level 1, runs 11-16 at level 2,
    // (6,3), run 1 levels 15-18
    "0000000000011111" -> ((27, 1)), "0000000000011110" -> ((28, 1)),
    "0000000000011101" -> ((29, 1)), "0000000000011100" -> ((30, 1)),
    "0000000000011011" -> ((31, 1)), "0000000000011010" -> ((11, 2)),
    "0000000000011001" -> ((12, 2)), "0000000000011000" -> ((13, 2)),
    "0000000000010111" -> ((14, 2)), "0000000000010110" -> ((15, 2)),
    "0000000000010101" -> ((16, 2)), "0000000000010100" -> ((6, 3)),
    "0000000000010011" -> ((1, 15)), "0000000000010010" -> ((1, 16)),
    "0000000000010001" -> ((1, 17)), "0000000000010000" -> ((1, 18)))

  /** motion_code VLC (table B.4): structurally the address-increment
    * table — code |m| is addr(2m) with its last bit replaced by the sign
    * (0 positive, 1 negative); 0 is the lone '1'. Built from
    * [[AddrIncTable]] so the two stay consistent. */
  private val MotionTable: Map[String, Int] = {
    val rev = AddrIncTable.map(_.swap)
    Map("1" -> 0) ++ (1 to 16).flatMap { m =>
      val base = rev(2 * m).dropRight(1)
      Seq((base + "0") -> m, (base + "1") -> -m)
    }
  }

  /** coded_block_pattern VLC (table B.3); bit 32>>i flags block i coded
    * (4 luma, Cb, Cr). */
  private val CbpTable: Map[String, Int] = Map(
    "111" -> 60,
    "1101" -> 4, "1100" -> 8, "1011" -> 16, "1010" -> 32,
    "10011" -> 12, "10010" -> 48, "10001" -> 20, "10000" -> 40,
    "01111" -> 28, "01110" -> 44, "01101" -> 52, "01100" -> 56,
    "01011" -> 1, "01010" -> 61, "01001" -> 2, "01000" -> 62,
    "001111" -> 24, "001110" -> 36, "001101" -> 3, "001100" -> 63,
    "0010111" -> 5, "0010110" -> 9, "0010101" -> 17, "0010100" -> 33,
    "0010011" -> 6, "0010010" -> 10, "0010001" -> 18, "0010000" -> 34,
    "00011111" -> 7, "00011110" -> 11, "00011101" -> 19, "00011100" -> 35,
    "00011011" -> 13, "00011010" -> 49, "00011001" -> 21, "00011000" -> 41,
    "00010111" -> 14, "00010110" -> 50, "00010101" -> 22, "00010100" -> 42,
    "00010011" -> 15, "00010010" -> 51, "00010001" -> 23, "00010000" -> 43,
    "00001111" -> 25, "00001110" -> 37, "00001101" -> 26, "00001100" -> 38,
    "00001011" -> 29, "00001010" -> 45, "00001001" -> 53, "00001000" -> 57,
    "00000111" -> 30, "00000110" -> 46, "00000101" -> 31, "00000100" -> 47,
    "000000111" -> 55, "000000110" -> 59, "000000101" -> 27, "000000100" -> 39,
    "000000011" -> 58, "000000010" -> 54)

  // prefix-decoded views: length → (value → payload)
  private def byLength[V](m: Map[String, V]): Map[Int, Map[Int, V]] =
    m.groupBy(_._1.length).view.mapValues(_.map { case (k, v) =>
      Integer.parseInt(k, 2) -> v }.toMap).toMap
  private val AddrByLen = byLength(AddrIncTable)
  private val AcByLen = byLength(AcTable)
  /** (run, |level|) → code, for the fixture encoder's VLC plant. */
  private val AcInverse: Map[(Int, Int), String] = AcTable.map(_.swap)
  private val MotionByLen = byLength(MotionTable)
  private val CbpByLen = byLength(CbpTable)

  private def decodePrefix[V](br: BitReader, byLen: Map[Int, Map[Int, V]],
                              maxLen: Int): Option[V] = {
    var len = 1
    while (len <= maxLen) {
      byLen.get(len).flatMap(_.get(br.peek(len))) match {
        case Some(v) => br.read(len); return Some(v)
        case None => len += 1
      }
    }
    None
  }

  // --------------------------------------------------------------- IDCT

  private val CosTab: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** f(x,y) = 1/4 ΣΣ C(u)C(v) F(u,v) cos.. — direct separable form.
    * `lo` is 0 for intra blocks (samples) and -255 for non-intra blocks
    * (signed residuals added onto a motion-compensated prediction). */
  private def idct8x8(in: Array[Int], out: Array[Int], lo: Int = 0): Unit = {
    val tmp = new Array[Double](64)
    // rows: over u for each (v fixed) — first pass over x
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) 0.70710678118654752 else 1.0
          s += cu * in(v * 8 + u) * CosTab(u * 8 + x)
          u += 1
        }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) {
          val cv = if (vv == 0) 0.70710678118654752 else 1.0
          s += cv * tmp(vv * 8 + x) * CosTab(vv * 8 + y)
          vv += 1
        }
        val p = math.round(s / 4.0).toInt
        out(y * 8 + x) = math.max(lo, math.min(255, p))
        x += 1
      }
      y += 1
    }
  }

  // ------------------------------------------------------------ decoder

  def decode(content: Array[Byte], maxFrames: Int = 256): Option[Mpeg1Video] = {
    if (content == null || content.length < 12 ||
        content(0) != 0 || content(1) != 0 || content(2) != 1 ||
        (content(3) & 0xff) != 0xB3) return None
    try {
      // start-code scan (byte level; codes are byte-aligned by spec)
      val codes = ArrayBuffer[(Int, Int)]() // (code, offset AFTER the 4 bytes)
      var i = 0
      while (i + 3 < content.length) {
        if (content(i) == 0 && content(i + 1) == 0 && content(i + 2) == 1) {
          codes += (((content(i + 3) & 0xff), i + 4)); i += 4
        } else i += 1
      }
      var w = 0; var h = 0; var usPerFrame = 33333L
      var intraQ = DefaultIntraQ
      var nonIntraQ: Array[Int] = Array.fill(64)(16)
      var mbW = 0; var mbH = 0
      var yPlane: Array[Int] = null
      var cbPlane: Array[Int] = null
      var crPlane: Array[Int] = null
      // reference planes: B-pictures predict FORWARD from the older
      // (refPrev*) and BACKWARD from the newer (refY*) of the two most
      // recent I/P pictures; P-pictures predict from refY* (the most
      // recent). Decode order is I0 P3 B1 B2 P6 B4 B5…, display order
      // I0 B1 B2 P3 B4 B5 P6 — the hold-one reorder below restores it.
      var refY: Array[Int] = null
      var refCb: Array[Int] = null
      var refCr: Array[Int] = null
      var refPrevY: Array[Int] = null
      var refPrevCb: Array[Int] = null
      var refPrevCr: Array[Int] = null
      var picType = 0 // 0 = skipped/none, 1 = I, 2 = P, 3 = B
      var fullPelF = false
      var fCodeF = 1
      var fullPelB = false
      var fCodeB = 1
      var picOk = false
      val frames = ArrayBuffer[BufferedImage]()
      // display-order reorder: each completed I/P is HELD and flushed when
      // the next I/P completes (or at stream end); completed B pictures
      // emit immediately — they display before the held reference
      var heldImg: BufferedImage = null
      var emitted = 0L // display-order pixel budget accounting

      def render(): BufferedImage = {
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val yy = yPlane(y * (mbW * 16) + x)
            val cb = cbPlane((y / 2) * (mbW * 8) + (x / 2))
            val cr = crPlane((y / 2) * (mbW * 8) + (x / 2))
            def cl(v: Double): Int = math.max(0, math.min(255, math.round(v).toInt))
            val r = cl(yy + 1.402 * (cr - 128))
            val g = cl(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
            val b = cl(yy + 1.772 * (cb - 128))
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        img
      }

      def flushHeld(): Unit = if (heldImg != null) {
        if (frames.size < maxFrames) frames += heldImg
        heldImg = null
      }

      def budgetLeft: Boolean =
        frames.size < maxFrames && emitted + w.toLong * h <= MaxTotalPixels

      def emit(): Unit = if (picType != 0 && picOk && yPlane != null) {
        if (picType == 3) {
          // B: display-order position is before the held reference
          if (budgetLeft) { frames += render(); emitted += w.toLong * h }
        } else {
          flushHeld()
          if (budgetLeft) { heldImg = render(); emitted += w.toLong * h }
          // a good I/P becomes the backward reference; the previous one
          // moves to the forward slot
          refPrevY = refY; refPrevCb = refCb; refPrevCr = refCr
          refY = yPlane; refCb = cbPlane; refCr = crPlane
        }
      }

      var ci = 0
      while (ci < codes.length) {
        val (code, off) = codes(ci)
        val end = if (ci + 1 < codes.length) codes(ci + 1)._2 - 4 else content.length
        val br = new BitReader(content, off.toLong * 8, end.toLong * 8)
        code match {
          case 0xB3 =>
            val nw = br.read(12); val nh = br.read(12)
            // header dimensions are attacker-controlled (these bytes flow
            // straight from corpus rows via extractFeatures): bound the
            // per-frame AND whole-stream pixel allocation like decodeAvi
            // bounds its containers — a few-KB stream must not command
            // gigabytes of BufferedImages. Keep-what-we-have, like bad
            // slices: a corrupt trailing header must not discard frames
            // already decoded
            if (nw.toLong * nh > MaxFramePixels) {
              emit() // flush the pending picture before going dead
              picOk = false; picType = 0; mbW = 0; mbH = 0
            } else {
              if (nw != w || nh != h) {
                refY = null; refCb = null; refCr = null
                refPrevY = null; refPrevCb = null; refPrevCr = null
              }
              w = nw; h = nh; mbW = (w + 15) / 16; mbH = (h + 15) / 16
            }
            br.read(4) // pel aspect
            val rate = br.read(4)
            if (rate >= 1 && rate <= 8) usPerFrame = RateUs(rate)
            br.read(18); br.read(1); br.read(10); br.read(1)
            if (br.read(1) == 1) { // load_intra_quantizer_matrix, zigzag order
              val q = new Array[Int](64)
              var k = 0
              while (k < 64) { q(Zigzag(k)) = br.read(8); k += 1 }
              intraQ = q
            }
            if (br.bitsLeft > 0 && br.read(1) == 1) { // load_non_intra matrix
              val q = new Array[Int](64)
              var k = 0
              while (k < 64) { q(Zigzag(k)) = br.read(8); k += 1 }
              nonIntraQ = q
            }
          case 0x00 => // picture header: emit the previous picture first
            emit()
            picOk = false
            br.read(10) // temporal reference
            val ptype = br.read(3)
            picType = ptype match { case 1 => 1; case 2 => 2; case 3 => 3; case _ => 0 }
            if (picType == 2 || picType == 3) {
              br.read(16) // vbv_delay
              fullPelF = br.read(1) == 1
              fCodeF = br.read(3)
              if (fCodeF < 1 || fCodeF > 7) picType = 0
            }
            if (picType == 3) {
              fullPelB = br.read(1) == 1
              fCodeB = br.read(3)
              if (fCodeB < 1 || fCodeB > 7) picType = 0
            }
            val pixelBudgetLeft =
              frames.size < maxFrames &&
                emitted + w.toLong * h <= MaxTotalPixels
            if (picType != 0 && mbW > 0 && pixelBudgetLeft) {
              val planeLen = mbW * 16 * mbH * 16
              // P needs the most recent reference; B needs BOTH (forward
              // from the older, backward from the newer) at this geometry
              val refsOk = picType match {
                case 2 => refY != null && refY.length == planeLen
                case 3 => refY != null && refY.length == planeLen &&
                          refPrevY != null && refPrevY.length == planeLen
                case _ => true
              }
              if (!refsOk) picType = 0
              else {
                yPlane = new Array[Int](planeLen)
                cbPlane = new Array[Int](mbW * 8 * mbH * 8)
                crPlane = new Array[Int](mbW * 8 * mbH * 8)
                if (picType == 2) {
                  // prefill with the reference: skipped macroblocks (and
                  // MBs no slice covers) ARE the co-located reference MB
                  System.arraycopy(refY, 0, yPlane, 0, refY.length)
                  System.arraycopy(refCb, 0, cbPlane, 0, refCb.length)
                  System.arraycopy(refCr, 0, crPlane, 0, refCr.length)
                } else if (picType == 3) {
                  // defensive prefill only — every legal B macroblock is
                  // either decoded or skip-rendered with its predecessor's
                  // mode+vectors; uncovered MBs fall back to forward copy
                  System.arraycopy(refPrevY, 0, yPlane, 0, refPrevY.length)
                  System.arraycopy(refPrevCb, 0, cbPlane, 0, refPrevCb.length)
                  System.arraycopy(refPrevCr, 0, crPlane, 0, refPrevCr.length)
                }
              }
            } else picType = 0 // over budget: skip, keep what we have
          case sc if sc >= 0x01 && sc <= 0xAF =>
            if (picType != 0 && mbW > 0) {
              // a bad slice (unsupported VLC tail, malformed bits) aborts
              // THIS picture only — earlier frames already decoded stay,
              // later pictures still get their chance
              try {
                val pc = PicCtx(
                  isP = picType == 2, isB = picType == 3,
                  fullPelF = fullPelF, fCodeF = fCodeF,
                  fullPelB = fullPelB, fCodeB = fCodeB,
                  fwdY = if (picType == 3) refPrevY else refY,
                  fwdCb = if (picType == 3) refPrevCb else refCb,
                  fwdCr = if (picType == 3) refPrevCr else refCr,
                  bwdY = refY, bwdCb = refCb, bwdCr = refCr)
                decodeSlice(br, sc, mbW, mbH, intraQ, nonIntraQ,
                  yPlane, cbPlane, crPlane, pc)
                picOk = true
              } catch {
                case _: Exception =>
                  picOk = false; picType = 0
              }
            }
          case _ => () // GOP, user data, extensions, sequence end
        }
        ci += 1
      }
      emit() // last picture
      flushHeld()
      if (frames.isEmpty || w <= 0 || h <= 0) None
      else Some(Mpeg1Video(frames.toIndexedSeq, usPerFrame))
    } catch {
      case _: Exception => None
    }
  }

  /** Per-picture prediction context for [[decodeSlice]]: picture kind,
    * forward/backward vector ranges, and the reference planes each
    * direction predicts from (for P, fwd == bwd == the newest I/P). */
  private final case class PicCtx(isP: Boolean, isB: Boolean,
                                  fullPelF: Boolean, fCodeF: Int,
                                  fullPelB: Boolean, fCodeB: Int,
                                  fwdY: Array[Int], fwdCb: Array[Int],
                                  fwdCr: Array[Int],
                                  bwdY: Array[Int], bwdCb: Array[Int],
                                  bwdCr: Array[Int])

  private def decodeSlice(br: BitReader, sliceCode: Int, mbW: Int, mbH: Int,
                          intraQ: Array[Int], nonIntraQ: Array[Int],
                          yP: Array[Int], cbP: Array[Int], crP: Array[Int],
                          pc: PicCtx): Unit = {
    import pc.{isP, isB}
    var qScale = br.read(5)
    // extra_information_slice: '1'-flagged bytes, then a consumed '0'
    while (br.peek(1) == 1) { br.read(9) }
    br.read(1)
    var dcY = 1024; var dcCb = 1024; var dcCr = 1024
    var pmvX = 0; var pmvY = 0 // forward motion vector predictor
    var pmvBX = 0; var pmvBY = 0 // backward predictor (B pictures)
    // B skipped macroblocks repeat the PREVIOUS macroblock's prediction
    // mode and vectors (§2.4.4.4) — track them
    var prevMf = true; var prevMb = false
    var mbAddr = (sliceCode - 1) * mbW - 1
    val coeffs = new Array[Int](64)
    val pix = new Array[Int](64)

    def decodeBlock(isLuma: Boolean, pred: Int): Int = {
      java.util.Arrays.fill(coeffs, 0)
      // DC size (tables B.2/B.3)
      val size =
        if (isLuma) {
          br.peek(2) match {
            case 0 => br.read(2); 1
            case 1 => br.read(2); 2
            case _ =>
              if (br.peek(3) == 4) { br.read(3); 0 }
              else if (br.peek(3) == 5) { br.read(3); 3 }
              else if (br.peek(3) == 6) { br.read(3); 4 }
              else {
                // 1110=5, 11110=6, 111110=7, 1111110=8
                var ones = 3; br.read(3)
                while (ones < 7 && br.read(1) == 1) ones += 1
                ones + 2
              }
          }
        } else {
          br.peek(2) match {
            case 0 => br.read(2); 0
            case 1 => br.read(2); 1
            case 2 => br.read(2); 2
            case _ =>
              // 110=3, 1110=4, 11110=5, 111110=6, 1111110=7, 11111110=8
              var ones = 2; br.read(2)
              while (ones < 8 && br.read(1) == 1) ones += 1
              ones + 1
          }
        }
      val diff =
        if (size == 0) 0
        else {
          val v = br.read(size)
          if ((v >> (size - 1)) != 0) v else v - ((1 << size) - 1)
        }
      val reconDc = pred + diff * 8
      coeffs(0) = reconDc
      // AC run/level until EOB
      var idx = 0
      var done = false
      while (!done) {
        if (br.peek(2) == 2) { br.read(2); done = true } // '10' EOB
        else if (br.peek(6) == 1) { // '000001' escape
          br.read(6)
          val run = br.read(6)
          val l8 = br.read(8)
          val level =
            if (l8 == 0) br.read(8)
            else if (l8 == 128) br.read(8) - 256
            else if (l8 > 128) l8 - 256
            else l8
          idx += run + 1
          if (idx > 63 || level == 0) throw new IllegalStateException("bad escape")
          coeffs(Zigzag(idx)) = dequantIntra(level, qScale, intraQ(Zigzag(idx)))
        } else decodePrefix(br, AcByLen, 16) match {
          case Some((run, lvl)) =>
            val sign = br.read(1)
            val level = if (sign == 1) -lvl else lvl
            idx += run + 1
            if (idx > 63) throw new IllegalStateException("coeff overflow")
            coeffs(Zigzag(idx)) = dequantIntra(level, qScale, intraQ(Zigzag(idx)))
          case None =>
            // the table is complete through 16 bits; this is a malformed
            // bitstream, not an unsupported code
            throw new IllegalStateException("bad dct_coeff VLC")
        }
      }
      idct8x8(coeffs, pix)
      reconDc
    }

    def place(plane: Array[Int], stride: Int, px: Int, py: Int): Unit = {
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          plane((py + y) * stride + (px + x)) = pix(y * 8 + x)
          x += 1
        }
        y += 1
      }
    }

    // ---------------------------------------------------- P-picture parts

    /** Non-intra dct_coeff block: no DC prediction; the FIRST coefficient
      * may be the 1-bit '1'+sign (run 0, level ±1 — '10' would otherwise
      * collide with EOB, which cannot appear first), the rest use the
      * shared table/escape. Fills `pix` with a SIGNED residual. */
    def decodeResidualBlock(): Unit = {
      java.util.Arrays.fill(coeffs, 0)
      var idx = -1
      var first = true
      var done = false
      while (!done) {
        if (first && br.peek(1) == 1) {
          br.read(1)
          val sign = br.read(1)
          idx = 0
          coeffs(0) = dequantNonIntra(if (sign == 1) -1 else 1, qScale, nonIntraQ(0))
        } else if (!first && br.peek(2) == 2) { br.read(2); done = true } // EOB
        else if (br.peek(6) == 1) { // escape
          br.read(6)
          val run = br.read(6)
          val l8 = br.read(8)
          val level =
            if (l8 == 0) br.read(8)
            else if (l8 == 128) br.read(8) - 256
            else if (l8 > 128) l8 - 256
            else l8
          idx += run + 1
          if (idx > 63 || level == 0) throw new IllegalStateException("bad escape")
          coeffs(Zigzag(idx)) = dequantNonIntra(level, qScale, nonIntraQ(Zigzag(idx)))
        } else decodePrefix(br, AcByLen, 16) match {
          case Some((run, lvl)) =>
            val sign = br.read(1)
            val level = if (sign == 1) -lvl else lvl
            idx += run + 1
            if (idx > 63) throw new IllegalStateException("coeff overflow")
            coeffs(Zigzag(idx)) = dequantNonIntra(level, qScale, nonIntraQ(Zigzag(idx)))
          case None =>
            throw new IllegalStateException("bad dct_coeff VLC")
        }
        first = false
      }
      idct8x8(coeffs, pix, lo = -255)
    }

    /** One reconstructed forward-vector component (§2.4.4.2): VLC code,
      * f_code-scaled residual, predictor add, modulo wrap into
      * [-16f, 16f-1]. */
    def readMvComponent(pred: Int, fCode: Int): Int = {
      val code = decodePrefix(br, MotionByLen, 11)
        .getOrElse(throw new IllegalStateException("bad motion code"))
      val rSize = fCode - 1
      val f = 1 << rSize
      val delta =
        if (code == 0 || f == 1) code
        else {
          val r = br.read(rSize)
          val m = (math.abs(code) - 1) * f + r + 1
          if (code < 0) -m else m
        }
      var v = pred + delta
      val max = 16 * f - 1
      val min = -16 * f
      if (v > max) v -= 32 * f else if (v < min) v += 32 * f
      v
    }

    /** Motion-compensated prediction copy with half-pel bilinear rounding
      * (§2.4.4.2): writes a size×size block into `dst` at (px, py) from
      * `ref` displaced by (vx, vy) half-pels. Out-of-picture references
      * are malformed-stream territory → loud abort. */
    def mcCopy(ref: Array[Int], dst: Array[Int], stride: Int, rows: Int,
               px: Int, py: Int, size: Int, vx: Int, vy: Int): Unit = {
      val xi = vx >> 1; val xh = vx & 1
      val yi = vy >> 1; val yh = vy & 1
      if (px + xi < 0 || py + yi < 0 ||
          px + xi + size - 1 + xh > stride - 1 ||
          py + yi + size - 1 + yh > rows - 1)
        throw new IllegalStateException("motion vector out of picture")
      var y = 0
      while (y < size) {
        var x = 0
        while (x < size) {
          val sx = px + x + xi
          val sy = py + y + yi
          val a = ref(sy * stride + sx)
          val v =
            if (xh == 0 && yh == 0) a
            else if (xh == 1 && yh == 0) (a + ref(sy * stride + sx + 1) + 1) >> 1
            else if (xh == 0 && yh == 1) (a + ref((sy + 1) * stride + sx) + 1) >> 1
            else (a + ref(sy * stride + sx + 1) + ref((sy + 1) * stride + sx) +
                  ref((sy + 1) * stride + sx + 1) + 2) >> 2
          dst((py + y) * stride + (px + x)) = v
          x += 1
        }
        y += 1
      }
    }

    /** Add `pix` (signed residual) onto the already-written prediction. */
    def addResidual(plane: Array[Int], stride: Int, px: Int, py: Int): Unit = {
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val i = (py + y) * stride + (px + x)
          val v = plane(i) + pix(y * 8 + x)
          plane(i) = math.max(0, math.min(255, v))
          x += 1
        }
        y += 1
      }
    }

    var interpY: Array[Int] = null
    var interpCb: Array[Int] = null
    var interpCr: Array[Int] = null

    /** Write this MB's motion-compensated prediction into the planes:
      * forward, backward, or the rounded average of both (§2.4.4.3).
      * Vectors are half-pels post-full_pel scaling. */
    def renderPrediction(mbX: Int, mbY: Int, mf: Boolean, mb: Boolean,
                         fvx: Int, fvy: Int, bvx: Int, bvy: Int): Unit = {
      val lumaStride = mbW * 16; val lumaRows = mbH * 16
      val chStride = mbW * 8; val chRows = mbH * 8
      if (mf && mb) {
        // interpolated: average the two predictions with //2 rounding
        // (scratch planes allocated once per slice, lazily)
        if (interpY == null) {
          interpY = new Array[Int](lumaStride * lumaRows)
          interpCb = new Array[Int](chStride * chRows)
          interpCr = new Array[Int](chStride * chRows)
        }
        val tmpY = interpY
        val tmpCb = interpCb
        val tmpCr = interpCr
        mcCopy(pc.fwdY, yP, lumaStride, lumaRows, mbX * 16, mbY * 16, 16, fvx, fvy)
        mcCopy(pc.bwdY, tmpY, lumaStride, lumaRows, mbX * 16, mbY * 16, 16, bvx, bvy)
        mcCopy(pc.fwdCb, cbP, chStride, chRows, mbX * 8, mbY * 8, 8, fvx / 2, fvy / 2)
        mcCopy(pc.bwdCb, tmpCb, chStride, chRows, mbX * 8, mbY * 8, 8, bvx / 2, bvy / 2)
        mcCopy(pc.fwdCr, crP, chStride, chRows, mbX * 8, mbY * 8, 8, fvx / 2, fvy / 2)
        mcCopy(pc.bwdCr, tmpCr, chStride, chRows, mbX * 8, mbY * 8, 8, bvx / 2, bvy / 2)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val i = (mbY * 16 + y) * lumaStride + mbX * 16 + x
            yP(i) = (yP(i) + tmpY(i) + 1) >> 1
            if (y < 8 && x < 8) {
              val j = (mbY * 8 + y) * chStride + mbX * 8 + x
              cbP(j) = (cbP(j) + tmpCb(j) + 1) >> 1
              crP(j) = (crP(j) + tmpCr(j) + 1) >> 1
            }
            x += 1
          }
          y += 1
        }
      } else if (mb) {
        mcCopy(pc.bwdY, yP, lumaStride, lumaRows, mbX * 16, mbY * 16, 16, bvx, bvy)
        mcCopy(pc.bwdCb, cbP, chStride, chRows, mbX * 8, mbY * 8, 8, bvx / 2, bvy / 2)
        mcCopy(pc.bwdCr, crP, chStride, chRows, mbX * 8, mbY * 8, 8, bvx / 2, bvy / 2)
      } else {
        mcCopy(pc.fwdY, yP, lumaStride, lumaRows, mbX * 16, mbY * 16, 16, fvx, fvy)
        mcCopy(pc.fwdCb, cbP, chStride, chRows, mbX * 8, mbY * 8, 8, fvx / 2, fvy / 2)
        mcCopy(pc.fwdCr, crP, chStride, chRows, mbX * 8, mbY * 8, 8, fvx / 2, fvy / 2)
      }
    }

    def scaledF(v: Int): Int = if (pc.fullPelF) v << 1 else v
    def scaledB(v: Int): Int = if (pc.fullPelB) v << 1 else v

    /** macroblock_type, P-pictures (table B.2b) →
      * (quant, motionForward, coded, intra). */
    def readPMbType(): (Boolean, Boolean, Boolean, Boolean) = {
      if (br.read(1) == 1) (false, true, true, false) // '1'
      else if (br.read(1) == 1) (false, false, true, false) // '01'
      else if (br.read(1) == 1) (false, true, false, false) // '001'
      else br.peek(2) match { // consumed '000'
        case 3 => br.read(2); (false, false, false, true) // '00011'
        case 2 => br.read(2); (true, true, true, false) // '00010'
        case 1 => br.read(2); (true, false, true, false) // '00001'
        case _ =>
          if (br.peek(3) == 1) { br.read(3); (true, false, false, true) } // '000001'
          else throw new IllegalStateException("bad P mb type")
      }
    }

    /** macroblock_type, B-pictures (table B.2c) →
      * (quant, motionForward, motionBackward, coded, intra). */
    def readBMbType(): (Boolean, Boolean, Boolean, Boolean, Boolean) = {
      if (br.read(1) == 1) {
        if (br.read(1) == 1) (false, true, true, true, false) // '11' interp+coded
        else (false, true, true, false, false) // '10' interp
      } else if (br.read(1) == 1) {
        if (br.read(1) == 1) (false, false, true, true, false) // '011' bwd+coded
        else (false, false, true, false, false) // '010' bwd
      } else if (br.read(1) == 1) {
        if (br.read(1) == 1) (false, true, false, true, false) // '0011' fwd+coded
        else (false, true, false, false, false) // '0010' fwd
      } else br.peek(2) match { // consumed '000'
        case 3 => br.read(2); (false, false, false, false, true) // '00011' intra
        case 2 => br.read(2); (true, true, true, true, false) // '00010' interp+coded+q
        case _ => br.peek(3) match {
          case 3 => br.read(3); (true, true, false, true, false) // '000011' fwd+coded+q
          case 2 => br.read(3); (true, false, true, true, false) // '000010' bwd+coded+q
          case 1 => br.read(3); (true, false, false, false, true) // '000001' intra+q
          case _ => throw new IllegalStateException("bad B mb type")
        }
      }
    }

    var more = br.bitsLeft > 0 && br.peek(23) != 0 /* slice end: 23 zero bits (peek zero-fills past the end, so a tail MB shorter than 23 bits still decodes) */
    while (more) {
      // address increment: stuffing discarded, escapes accumulate
      var inc = 0
      var reading = true
      while (reading) {
        if (br.peek(11) == Integer.parseInt(AddrStuffing, 2)) br.read(11)
        else if (br.peek(11) == Integer.parseInt(AddrEscape, 2)) {
          br.read(11); inc += 33
        } else decodePrefix(br, AddrByLen, 11) match {
          case Some(v) => inc += v; reading = false
          case None => throw new IllegalStateException("bad addr increment")
        }
      }
      val prevAddr = mbAddr
      mbAddr += inc
      if (mbAddr >= mbW * mbH) throw new IllegalStateException("mb overflow")
      if (inc > 1) {
        // skipped MBs reset DC prediction everywhere. In P they ALSO
        // reset the vector predictor and their pixels are the co-located
        // reference MB (already in place via the picture-level prefill);
        // in B they REUSE the previous macroblock's prediction mode and
        // vectors (§2.4.4.4) and must be rendered explicitly
        dcY = 1024; dcCb = 1024; dcCr = 1024
        if (isB) {
          var sk = prevAddr + 1
          while (sk < mbAddr) {
            renderPrediction(sk % mbW, sk / mbW, prevMf, prevMb,
              scaledF(pmvX), scaledF(pmvY), scaledB(pmvBX), scaledB(pmvBY))
            sk += 1
          }
        } else { pmvX = 0; pmvY = 0 }
      }
      val mbX = mbAddr % mbW
      val mbY = mbAddr / mbW
      if (!isP && !isB) {
        // macroblock_type, I-pictures (table B.2a): 1=intra, 01=intra+quant
        if (br.read(1) == 0) {
          if (br.read(1) != 1) throw new IllegalStateException("bad mb type")
          qScale = br.read(5)
        }
        var b = 0
        while (b < 4) {
          dcY = decodeBlock(isLuma = true, dcY)
          place(yP, mbW * 16, mbX * 16 + (b % 2) * 8, mbY * 16 + (b / 2) * 8)
          b += 1
        }
        dcCb = decodeBlock(isLuma = false, dcCb)
        place(cbP, mbW * 8, mbX * 8, mbY * 8)
        dcCr = decodeBlock(isLuma = false, dcCr)
        place(crP, mbW * 8, mbX * 8, mbY * 8)
      } else if (isB) {
        val (quant, mf, mb, coded, intra) = readBMbType()
        if (quant) qScale = br.read(5)
        if (intra) {
          // intra MB inside B: resets BOTH vector predictors (§2.4.4.4)
          pmvX = 0; pmvY = 0; pmvBX = 0; pmvBY = 0
          prevMf = true; prevMb = false
          var b = 0
          while (b < 4) {
            dcY = decodeBlock(isLuma = true, dcY)
            place(yP, mbW * 16, mbX * 16 + (b % 2) * 8, mbY * 16 + (b / 2) * 8)
            b += 1
          }
          dcCb = decodeBlock(isLuma = false, dcCb)
          place(cbP, mbW * 8, mbX * 8, mbY * 8)
          dcCr = decodeBlock(isLuma = false, dcCr)
          place(crP, mbW * 8, mbX * 8, mbY * 8)
        } else {
          dcY = 1024; dcCb = 1024; dcCr = 1024
          // unlike P, an absent direction keeps its predictor (a later MB
          // reusing the mode continues from it); only read what's coded
          if (mf) {
            pmvX = readMvComponent(pmvX, pc.fCodeF)
            pmvY = readMvComponent(pmvY, pc.fCodeF)
          }
          if (mb) {
            pmvBX = readMvComponent(pmvBX, pc.fCodeB)
            pmvBY = readMvComponent(pmvBY, pc.fCodeB)
          }
          prevMf = mf; prevMb = mb
          renderPrediction(mbX, mbY, mf, mb,
            scaledF(pmvX), scaledF(pmvY), scaledB(pmvBX), scaledB(pmvBY))
          if (coded) {
            val cbp = decodePrefix(br, CbpByLen, 9)
              .getOrElse(throw new IllegalStateException("bad coded_block_pattern"))
            var b = 0
            while (b < 4) {
              if ((cbp & (32 >> b)) != 0) {
                decodeResidualBlock()
                addResidual(yP, mbW * 16, mbX * 16 + (b % 2) * 8, mbY * 16 + (b / 2) * 8)
              }
              b += 1
            }
            if ((cbp & 2) != 0) {
              decodeResidualBlock()
              addResidual(cbP, mbW * 8, mbX * 8, mbY * 8)
            }
            if ((cbp & 1) != 0) {
              decodeResidualBlock()
              addResidual(crP, mbW * 8, mbX * 8, mbY * 8)
            }
          }
        }
      } else {
        val (quant, mc, coded, intra) = readPMbType()
        if (quant) qScale = br.read(5)
        if (intra) {
          // intra MB inside a P picture: same path as an I macroblock;
          // resets the vector predictor
          pmvX = 0; pmvY = 0
          var b = 0
          while (b < 4) {
            dcY = decodeBlock(isLuma = true, dcY)
            place(yP, mbW * 16, mbX * 16 + (b % 2) * 8, mbY * 16 + (b / 2) * 8)
            b += 1
          }
          dcCb = decodeBlock(isLuma = false, dcCb)
          place(cbP, mbW * 8, mbX * 8, mbY * 8)
          dcCr = decodeBlock(isLuma = false, dcCr)
          place(crP, mbW * 8, mbX * 8, mbY * 8)
        } else {
          // every non-intra MB resets the DC predictors
          dcY = 1024; dcCb = 1024; dcCr = 1024
          if (mc) {
            pmvX = readMvComponent(pmvX, pc.fCodeF)
            pmvY = readMvComponent(pmvY, pc.fCodeF)
          } else { pmvX = 0; pmvY = 0 }
          // full_pel vectors count whole pels: scale for use, predictor
          // keeps the unscaled reconstruction (§2.4.4.2); chroma vector =
          // luma/2 with truncation toward zero (inside renderPrediction)
          renderPrediction(mbX, mbY, mf = false, mb = false,
            scaledF(pmvX), scaledF(pmvY), 0, 0)
          if (coded) {
            val cbp = decodePrefix(br, CbpByLen, 9)
              .getOrElse(throw new IllegalStateException("bad coded_block_pattern"))
            var b = 0
            while (b < 4) {
              if ((cbp & (32 >> b)) != 0) {
                decodeResidualBlock()
                addResidual(yP, mbW * 16, mbX * 16 + (b % 2) * 8, mbY * 16 + (b / 2) * 8)
              }
              b += 1
            }
            if ((cbp & 2) != 0) {
              decodeResidualBlock()
              addResidual(cbP, mbW * 8, mbX * 8, mbY * 8)
            }
            if ((cbp & 1) != 0) {
              decodeResidualBlock()
              addResidual(crP, mbW * 8, mbX * 8, mbY * 8)
            }
          }
        }
      }
      more = br.bitsLeft > 0 && br.peek(23) != 0 /* slice end: 23 zero bits (peek zero-fills past the end, so a tail MB shorter than 23 bits still decodes) */
    }
  }

  /** Intra AC reconstruction (11172-2 §2.4.4.1): scale, then mismatch
    * control (even values step toward zero), then clamp. */
  private def dequantIntra(level: Int, qScale: Int, q: Int): Int = {
    var v = (2 * level * qScale * q) / 16
    if ((v & 1) == 0) v = if (v > 0) v - 1 else if (v < 0) v + 1 else 0
    math.max(-2048, math.min(2047, v))
  }

  /** Non-intra reconstruction (§2.4.4.2): ((2·level + sign)·q_scale·q)/16
    * with the same mismatch control and clamp. */
  private def dequantNonIntra(level: Int, qScale: Int, q: Int): Int = {
    if (level == 0) return 0
    val sgn = if (level < 0) -1 else 1
    var v = ((2 * level + sgn) * qScale * q) / 16
    if ((v & 1) == 0) v = if (v > 0) v - 1 else v + 1
    math.max(-2048, math.min(2047, v))
  }

  // ------------------------------------------------------------ encoder

  /** Deterministic I-only MPEG-1 elementary stream of solid-color frames
    * (the video-fixture pattern of Multimodal.testAvi): one slice per
    * picture, every macroblock intra with DC-only blocks, so the decode
    * is exact. Dimensions must be multiples of 16.
    *
    * `acPlantLuma`: optionally plant one escape-coded AC (run, level)
    * after each luma DC — the test hook that drives the escape parse,
    * zigzag placement, dequantization, and IDCT through a coefficient
    * pattern whose expected pixels a test can derive independently. */
  def encodeIntra(frameRgbs: Seq[Int], w: Int = 16, h: Int = 16,
                  acPlantLuma: Option[(Int, Int)] = None,
                  acPlantViaVlc: Boolean = false): Array[Byte] = {
    require(w % 16 == 0 && h % 16 == 0 && w > 0 && h > 0,
      s"dimensions must be multiples of 16, got ${w}x$h")
    val bw = new BitWriter
    bw.startCode(0xB3)
    bw.put(w, 12); bw.put(h, 12)
    bw.put(1, 4) // pel_aspect_ratio: square
    bw.put(5, 4) // picture_rate: 30 fps
    bw.put(0x3FFFF, 18); bw.put(1, 1) // bit_rate (variable) + marker
    bw.put(0, 10); bw.put(0, 1) // vbv_buffer_size, constrained flag
    bw.put(0, 1); bw.put(0, 1) // no loaded quantizer matrices
    bw.startCode(0xB8) // GOP
    bw.put(0, 25); bw.put(1, 1); bw.put(0, 1)
    val mbW = w / 16; val mbH = h / 16
    frameRgbs.zipWithIndex.foreach { case (rgb, idx) =>
      val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
      val yV = math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt
      val cbV = math.max(0, math.min(255, math.round(128 + 0.564 * (b - yV)).toInt))
      val crV = math.max(0, math.min(255, math.round(128 + 0.713 * (r - yV)).toInt))
      bw.startCode(0x00) // picture
      bw.put(idx & 0x3FF, 10); bw.put(1, 3); bw.put(0xFFFF, 16)
      bw.put(0, 1) // extra_bit_picture = 0
      bw.startCode(0x01) // single slice, vertical position 1
      bw.put(8, 5) // quantizer_scale
      bw.put(0, 1) // extra_bit_slice = 0
      def putDc(diff: Int, luma: Boolean): Unit = {
        val mag = math.abs(diff)
        val size = 32 - Integer.numberOfLeadingZeros(mag) // 0 when diff == 0
        if (luma) size match {
          case 0 => bw.put(4, 3) // '100'
          case 1 => bw.put(0, 2)
          case 2 => bw.put(1, 2)
          case 3 => bw.put(5, 3)
          case 4 => bw.put(6, 3)
          case n => bw.put((1 << (n - 1)) - 2, n - 1) // 1110, 11110, ...
        } else size match {
          case 0 => bw.put(0, 2)
          case 1 => bw.put(1, 2)
          case 2 => bw.put(2, 2)
          case n => bw.put((1 << n) - 2, n) // 110, 1110, ...
        }
        if (size > 0) {
          val bits = if (diff > 0) diff else diff + (1 << size) - 1
          bw.put(bits, size)
        }
      }
      var mb = 0
      while (mb < mbW * mbH) {
        bw.put(1, 1) // address increment 1
        bw.put(1, 1) // macroblock_type: intra
        var blk = 0
        while (blk < 6) {
          val first = mb == 0 && (blk == 0 || blk == 4 || blk == 5)
          val diff =
            if (!first) 0
            else if (blk == 0) yV - 128
            else if (blk == 4) cbV - 128
            else crV - 128
          putDc(diff, luma = blk < 4)
          if (blk < 4) acPlantLuma.foreach { case (run, level) =>
            require(run >= 0 && run < 63 && level != 0 &&
              level >= -127 && level <= 127 && level != -128,
              s"unplantable escape ($run, $level)")
            if (acPlantViaVlc) {
              // emit the table-B.5 code + sign bit — the hook that drives
              // the decoder's VLC path (incl. the 14-16-bit tail groups)
              // for the SAME (run, level) the escape form plants, so a
              // test can assert both encodings decode identically
              val code = AcInverse.getOrElse((run, math.abs(level)),
                sys.error(s"($run, $level) has no VLC code"))
              bw.put(Integer.parseInt(code, 2), code.length)
              bw.put(if (level < 0) 1 else 0, 1)
            } else {
              bw.put(1, 6) // escape '000001'
              bw.put(run, 6)
              bw.put(level & 0xff, 8)
            }
          }
          bw.put(2, 2) // EOB '10'
          blk += 1
        }
        mb += 1
      }
    }
    bw.startCode(0xB7) // sequence end
    bw.result()
  }

  // ----------------------------------------------- I+P fixture encoder

  /** Per-macroblock P-picture coding mode for [[encodeIPStream]]. */
  sealed trait PMb
  object PMb {
    /** '001' — motion-compensated, no residual: the MB becomes the
      * reference block displaced by (dxHalf, dyHalf) half-pels. */
    final case class Move(dxHalf: Int, dyHalf: Int) extends PMb
    /** '01' — zero vector, one ±1 first-coefficient residual on luma
      * block 0 (cbp = 32): exercises the non-intra dct path + dequant. */
    final case class Residual(positive: Boolean) extends PMb
    /** '00011' — intra recode with the given luma (chroma neutral). */
    final case class Intra(luma: Int) extends PMb
    /** address-increment gap: co-located copy from the reference. Must
      * not be the first or last MB of a slice (spec). */
    case object Skip extends PMb
  }

  /** Per-macroblock B-picture coding mode for [[encodeIPBStream]]. */
  sealed trait BMb
  object BMb {
    /** '0010' — forward-only MC from the older reference. */
    final case class Fwd(dxHalf: Int, dyHalf: Int) extends BMb
    /** '010' — backward-only MC from the newer reference. */
    final case class Bwd(dxHalf: Int, dyHalf: Int) extends BMb
    /** '10' — interpolated: rounded average of both predictions. */
    final case class Interp(fdx: Int, fdy: Int, bdx: Int, bdy: Int) extends BMb
    /** '00011' — intra recode. */
    final case class Intra(luma: Int) extends BMb
    /** gap: repeats the PREVIOUS macroblock's mode and vectors
      * (§2.4.4.4) — so only legal after a non-intra mode. */
    case object Skip extends BMb
  }

  private lazy val AddrCodeOf: Map[Int, String] = AddrIncTable.map(_.swap)
  private lazy val MotionCodeOf: Map[Int, String] = MotionTable.map(_.swap)

  /** Deterministic I+P elementary stream: one I picture of per-MB solid
    * luma tiles (`iTiles`, raster order, chroma neutral 128), then one P
    * picture per `pFrames` entry with per-MB modes — the planted-motion
    * fixture for the forward-MC decode path. `fCode` bounds vectors to
    * ±(16·2^(fCode-1) − 1) half-pels. */
  def encodeIPStream(iTiles: Seq[Int], pFrames: Seq[Seq[PMb]],
                     w: Int, h: Int, fCode: Int = 3,
                     qScale: Int = 8): Array[Byte] = {
    require(w % 16 == 0 && h % 16 == 0 && w > 0 && h > 0,
      s"dimensions must be multiples of 16, got ${w}x$h")
    val mbW = w / 16; val mbH = h / 16
    require(iTiles.length == mbW * mbH, s"need ${mbW * mbH} I tiles")
    val bw = new BitWriter
    bw.startCode(0xB3)
    bw.put(w, 12); bw.put(h, 12)
    bw.put(1, 4); bw.put(5, 4)
    bw.put(0x3FFFF, 18); bw.put(1, 1)
    bw.put(0, 10); bw.put(0, 1)
    bw.put(0, 1); bw.put(0, 1) // no loaded quantizer matrices
    bw.startCode(0xB8)
    bw.put(0, 25); bw.put(1, 1); bw.put(0, 1)

    def putDc(diff: Int, luma: Boolean): Unit = {
      val mag = math.abs(diff)
      val size = 32 - Integer.numberOfLeadingZeros(mag)
      if (luma) size match {
        case 0 => bw.put(4, 3)
        case 1 => bw.put(0, 2)
        case 2 => bw.put(1, 2)
        case 3 => bw.put(5, 3)
        case 4 => bw.put(6, 3)
        case n => bw.put((1 << (n - 1)) - 2, n - 1)
      } else size match {
        case 0 => bw.put(0, 2)
        case 1 => bw.put(1, 2)
        case 2 => bw.put(2, 2)
        case n => bw.put((1 << n) - 2, n)
      }
      if (size > 0) {
        val bits = if (diff > 0) diff else diff + (1 << size) - 1
        bw.put(bits, size)
      }
    }
    def putBits(s: String): Unit = s.foreach(c => bw.put(c - '0', 1))
    def putAddrInc(inc0: Int): Unit = {
      var inc = inc0
      while (inc > 33) { putBits(AddrEscape); inc -= 33 }
      putBits(AddrCodeOf(inc))
    }
    def putMv(delta: Int): Unit = {
      val f = 1 << (fCode - 1)
      if (delta == 0) putBits(MotionCodeOf(0))
      else {
        val m = math.abs(delta)
        val c = (m + f - 1) / f
        val r = m - (c - 1) * f - 1
        require(c <= 16, s"delta $delta too large for fCode $fCode")
        putBits(MotionCodeOf(if (delta < 0) -c else c))
        if (f > 1) bw.put(r, fCode - 1)
      }
    }

    // ---- I picture: per-MB luma tiles, DC prediction chained ----
    bw.startCode(0x00)
    bw.put(0, 10); bw.put(1, 3); bw.put(0xFFFF, 16); bw.put(0, 1)
    bw.startCode(0x01)
    bw.put(qScale, 5); bw.put(0, 1)
    var prevY = 128; var prevCb = 128; var prevCr = 128
    iTiles.foreach { tile =>
      bw.put(1, 1) // addr inc 1
      bw.put(1, 1) // intra
      var blk = 0
      while (blk < 6) {
        val diff =
          if (blk == 0) tile - prevY
          else if (blk == 4) 128 - prevCb
          else if (blk == 5) 128 - prevCr
          else 0
        putDc(diff, luma = blk < 4)
        bw.put(2, 2) // EOB
        blk += 1
      }
      prevY = tile; prevCb = 128; prevCr = 128
    }

    // ---- P pictures ----
    pFrames.zipWithIndex.foreach { case (mbs, pi) =>
      require(mbs.length == mbW * mbH, s"need ${mbW * mbH} P modes")
      require(!mbs.head.isInstanceOf[PMb.Skip.type] &&
        !mbs.last.isInstanceOf[PMb.Skip.type], "slice edges cannot skip")
      bw.startCode(0x00)
      bw.put((pi + 1) & 0x3FF, 10); bw.put(2, 3); bw.put(0xFFFF, 16)
      bw.put(0, 1) // full_pel_forward_vector = 0
      bw.put(fCode, 3)
      bw.put(0, 1) // extra_bit_picture
      bw.startCode(0x01)
      bw.put(qScale, 5); bw.put(0, 1)
      var pmvX = 0; var pmvY = 0
      var dcPredY = 128
      var pendingSkip = 0
      mbs.foreach {
        case PMb.Skip =>
          pendingSkip += 1
          pmvX = 0; pmvY = 0 // decoder resets on skip; keep the model in sync
          dcPredY = 128
        case PMb.Move(dx, dy) =>
          putAddrInc(1 + pendingSkip); pendingSkip = 0
          putBits("001") // MC, not coded
          putMv(dx - pmvX); putMv(dy - pmvY)
          pmvX = dx; pmvY = dy
          dcPredY = 128
        case PMb.Residual(pos) =>
          putAddrInc(1 + pendingSkip); pendingSkip = 0
          putBits("01") // no MC, coded
          pmvX = 0; pmvY = 0
          putBits("1010") // cbp = 32: luma block 0 only
          bw.put(1, 1) // first coefficient '1'
          bw.put(if (pos) 0 else 1, 1) // sign
          bw.put(2, 2) // EOB
          dcPredY = 128
        case PMb.Intra(l) =>
          putAddrInc(1 + pendingSkip); pendingSkip = 0
          putBits("00011")
          pmvX = 0; pmvY = 0
          var blk = 0
          while (blk < 6) {
            val diff = if (blk == 0) l - dcPredY else 0
            putDc(diff, luma = blk < 4)
            bw.put(2, 2)
            blk += 1
          }
          // DC prediction carries into an ADJACENT intra MB (no reset
          // between consecutive intra MBs with increment 1)
          dcPredY = l
      }
    }
    bw.startCode(0xB7)
    bw.result()
  }

  /** Deterministic I+P+B elementary stream in DECODE order (I, P, B…);
    * display order is I, B…, P — the decoder's hold-one reorder is part
    * of what the fixture pins. The I picture is per-MB solid luma tiles,
    * the P picture per-MB [[PMb]] modes (forward ref = I), each B
    * picture per-MB [[BMb]] modes (forward ref = I, backward ref = P). */
  def encodeIPBStream(iTiles: Seq[Int], pMbs: Seq[PMb],
                      bFrames: Seq[Seq[BMb]],
                      w: Int, h: Int, fCode: Int = 3,
                      qScale: Int = 8): Array[Byte] = {
    require(w % 16 == 0 && h % 16 == 0 && w > 0 && h > 0,
      s"dimensions must be multiples of 16, got ${w}x$h")
    val mbW = w / 16; val mbH = h / 16
    // reuse the I+P writer for the shared prefix, then strip its
    // sequence-end code and append the B pictures
    val prefix = encodeIPStream(iTiles, Seq(pMbs), w, h, fCode, qScale)
    val bw = new BitWriter
    def putBits(str: String): Unit = str.foreach(c => bw.put(c - '0', 1))
    def putAddrInc(inc0: Int): Unit = {
      var inc = inc0
      while (inc > 33) { putBits(AddrEscape); inc -= 33 }
      putBits(AddrCodeOf(inc))
    }
    def putMv(delta: Int): Unit = {
      val f = 1 << (fCode - 1)
      if (delta == 0) putBits(MotionCodeOf(0))
      else {
        val m = math.abs(delta)
        val c = (m + f - 1) / f
        val r = m - (c - 1) * f - 1
        require(c <= 16, s"delta $delta too large for fCode $fCode")
        putBits(MotionCodeOf(if (delta < 0) -c else c))
        if (f > 1) bw.put(r, fCode - 1)
      }
    }
    def putDcLuma(diff: Int): Unit = {
      val mag = math.abs(diff)
      val size = 32 - Integer.numberOfLeadingZeros(mag)
      size match {
        case 0 => bw.put(4, 3)
        case 1 => bw.put(0, 2)
        case 2 => bw.put(1, 2)
        case 3 => bw.put(5, 3)
        case 4 => bw.put(6, 3)
        case n => bw.put((1 << (n - 1)) - 2, n - 1)
      }
      if (size > 0) {
        val bits = if (diff > 0) diff else diff + (1 << size) - 1
        bw.put(bits, size)
      }
    }
    bFrames.zipWithIndex.foreach { case (mbs, bi) =>
      require(mbs.length == mbW * mbH, s"need ${mbW * mbH} B modes")
      require(mbs.head != BMb.Skip && mbs.last != BMb.Skip,
        "slice edges cannot skip")
      bw.startCode(0x00)
      bw.put((bi + 2) & 0x3FF, 10); bw.put(3, 3); bw.put(0xFFFF, 16)
      bw.put(0, 1); bw.put(fCode, 3) // forward: full_pel=0, f_code
      bw.put(0, 1); bw.put(fCode, 3) // backward: full_pel=0, f_code
      bw.put(0, 1) // extra_bit_picture
      bw.startCode(0x01)
      bw.put(qScale, 5); bw.put(0, 1)
      var pmvFx = 0; var pmvFy = 0
      var pmvBx = 0; var pmvBy = 0
      var dcPredY = 128
      var pendingSkip = 0
      mbs.foreach {
        case BMb.Skip =>
          pendingSkip += 1 // predictors and mode repeat — nothing changes
          dcPredY = 128
        case BMb.Fwd(dx, dy) =>
          putAddrInc(1 + pendingSkip); pendingSkip = 0
          putBits("0010")
          putMv(dx - pmvFx); putMv(dy - pmvFy)
          pmvFx = dx; pmvFy = dy
          dcPredY = 128
        case BMb.Bwd(dx, dy) =>
          putAddrInc(1 + pendingSkip); pendingSkip = 0
          putBits("010")
          putMv(dx - pmvBx); putMv(dy - pmvBy)
          pmvBx = dx; pmvBy = dy
          dcPredY = 128
        case BMb.Interp(fdx, fdy, bdx, bdy) =>
          putAddrInc(1 + pendingSkip); pendingSkip = 0
          putBits("10")
          putMv(fdx - pmvFx); putMv(fdy - pmvFy)
          putMv(bdx - pmvBx); putMv(bdy - pmvBy)
          pmvFx = fdx; pmvFy = fdy; pmvBx = bdx; pmvBy = bdy
          dcPredY = 128
        case BMb.Intra(l) =>
          putAddrInc(1 + pendingSkip); pendingSkip = 0
          putBits("00011")
          pmvFx = 0; pmvFy = 0; pmvBx = 0; pmvBy = 0
          var blk = 0
          while (blk < 6) {
            if (blk < 4) putDcLuma(if (blk == 0) l - dcPredY else 0)
            else bw.put(0, 2) // chroma DC size 0 (diff 0)
            bw.put(2, 2) // EOB
            blk += 1
          }
          dcPredY = l
      }
    }
    bw.put(0, 8); bw.put(0, 8); bw.put(1, 8); bw.put(0xB7, 8)
    // prefix without ITS sequence-end (last 4 bytes) + the B pictures
    prefix.dropRight(4) ++ bw.result()
  }
}
