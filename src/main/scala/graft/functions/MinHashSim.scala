package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash signature and SimHash over a token/shingle array —
  * the hot per-row kernels of the dedup ops (ops/Dedup.scala). The Column
  * formulations they replace (`transform(sequence(0,127), seed =>
  * array_min(transform(shingles, xxhash64(_, seed))))` and the 64-wide
  * zip_with bit-vote) allocate an array per higher-order step: 128×|set|
  * intermediate arrays per row for MinHash. These expressions compute the
  * same values (XxHash64Function, identical seeds) in primitive loops;
  * differential property tests pin parity with the Column spec.
  */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig needs array<string>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    MinHashSim.minhashSigEval(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.MinHashSim.minhashSigEval($s, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

case class BandHashesExpr(child: Expression, bands: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_band_hashes needs array<bigint>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    MinHashSim.bandHashesEval(input.asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.MinHashSim.bandHashesEval($s, $bands);")

  override protected def withNewChildInternal(newChild: Expression): BandHashesExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_band_hashes"
}

case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 needs array<string>, got ${t.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    MinHashSim.simhash64Eval(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.MinHashSim.simhash64Eval($s);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash64"
}

object MinHashSim {

  /** min over tokens of xxhash64(token, seedIdx) for seedIdx = 0..n-1.
    * The SQL form chains its children — hash(seedIdx, IntegerType,
    * hash(token, StringType, 42)) — so the expensive string hash is
    * computed ONCE per token and each seed adds one cheap int mix, while
    * values stay bit-identical to the Column formulation. Empty/all-null
    * input yields null entries (array_min-over-empty parity). */
  def minhashSigEval(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val s = arr.getUTF8String(i)
        // direct XXH64 statics, not XxHash64Function.hash: the generic
        // entry pattern-matches on (value, dataType) PER CALL — in the
        // inner loop that dispatch ran numHashes times per token and
        // dominated the kernel (c78dfce). The statics are exactly
        // what codegen'd xxhash64 emits, so values are bit-identical
        // (pinned by the ExprPropertySpec differential tests).
        val h1 = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        var seed = 0
        while (seed < numHashes) {
          val h = XXH64.hashInt(seed, h1)
          if (h < mins(seed)) mins(seed) = h
          seed += 1
        }
      }
      i += 1
    }
    if (any)
      // no nulls in the signature: primitive UnsafeArrayData, no boxing
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(mins)
    else {
      val out = new Array[Any](numHashes) // all-null (empty token set)
      new GenericArrayData(out)
    }
  }

  /** Per-bit majority vote of xxhash64(token) (seed 42, the SQL default),
    * bits with positive vote set. */
  def simhash64Eval(arr: ArrayData): Long = {
    // SWAR bit vote: 8 accumulators of 8 byte lanes count the ONES of
    // bits (k, k+8, ..., k+56) — 8 shift+mask+adds per token instead of
    // the previous 64-iteration per-bit loop. Lanes saturate at 255
    // increments, so counts flush to the int array every 255 tokens.
    // votes(b) = ones - zeros = 2*ones - nTok, so "votes > 0" is exactly
    // "2*ones > nTok" — bit-identical to the per-bit loop.
    val n = arr.numElements()
    val ones = new Array[Int](64)
    val acc = new Array[Long](8)
    var block = 0
    var nTok = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        nTok += 1
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        var k = 0
        while (k < 8) {
          acc(k) += (h >>> k) & 0x0101010101010101L
          k += 1
        }
        block += 1
        if (block == 255) { flushVotes(acc, ones); block = 0 }
      }
      i += 1
    }
    flushVotes(acc, ones)
    var out = 0L
    var b = 0
    while (b < 64) {
      if (2L * ones(b) > nTok) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Drain the SWAR lane counters into the per-bit ones counts: acc(k)'s
    * byte lane j holds the count for bit k + 8*j. */
  @inline private def flushVotes(acc: Array[Long], ones: Array[Int]): Unit = {
    var k = 0
    while (k < 8) {
      val a = acc(k); acc(k) = 0L
      var j = 0
      while (j < 8) {
        ones(k + 8 * j) += ((a >>> (8 * j)) & 0xFFL).toInt
        j += 1
      }
      k += 1
    }
  }

  /** Per-band LSH bucket ids from a MinHash signature: band b's id chains
    * xxhash64 over its rowsPerBand signature longs, seeded with the band
    * index — so one long IS the bucket key (no (band_idx, hash) pair, no
    * `concat_ws` string render of the slice, which allocated a string per
    * band per row and dominated the candidate pass at 500k docs). Null
    * entries (empty-token signatures) are skipped, like concat_ws did.
    * Any injective-enough id works here: bucket SEMANTICS (same bucket ⇔
    * same band values) are what the dedup result depends on. */
  def bandHashesEval(arr: ArrayData, bands: Int): ArrayData = {
    val n = arr.numElements()
    val rpb = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      // direct XXH64 statics (what codegen'd xxhash64 emits) — the
      // generic XxHash64Function.hash dispatch pattern-matched per call
      var h = XXH64.hashInt(b, 42L)
      var j = b * rpb
      val end = j + rpb
      while (j < end) {
        if (!arr.isNullAt(j))
          h = XXH64.hashLong(arr.getLong(j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  private def ensureRegistered(): Unit = GraftFunctions.ensure()

  def minhashSig(tokens: Column, numHashes: Int): Column = {
    ensureRegistered()
    call_function("graft_minhash_sig", tokens, lit(numHashes))
  }

  def bandHashes(sig: Column, bands: Int): Column = {
    ensureRegistered()
    call_function("graft_band_hashes", sig, lit(bands))
  }

  def simhash64(tokens: Column): Column = {
    ensureRegistered()
    call_function("graft_simhash64", tokens)
  }
}
