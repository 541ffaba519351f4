package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Single-threaded microbench of the per-row text kernels in
  * `graft.functions`, over the documents corpus of one scale factor.
  * Calling the kernels' eval entry points directly isolates per-row cost
  * from Spark scheduling and plan noise: at sf0.1 the dedup queries cap
  * their doc counts, so a kernel change is invisible under the bench's
  * per-query job floor and shows here (or in OpsScaleProbe) instead.
  * A kernel rewrite is A/B'd by running this at both commits; git history
  * keeps the earlier kernels.
  *
  * Each row is the median of 7 timed passes over every document after 3
  * warm-up passes. The array-input kernels (simhash64, minhashSig128) run
  * over precomputed token/shingle arrays, so they time only the kernel.
  *
  * Usage: runMain graft.tools.KernelBench <sfDir>
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: KernelBench <sfDir>")
    val d = args(0)
    val spark = SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    spark.stop()
    println(s"KERNELBENCH docs=${texts.length} totalChars=${texts.map(_.numChars()).sum}")

    def bench(name: String)(f: Int => Any): Unit = {
      var sink = 0L
      def pass(): Unit = {
        var i = 0
        while (i < texts.length) { sink += f(i).hashCode(); i += 1 }
      }
      (0 until 3).foreach(_ => pass())
      val runs = (0 until 7).map { _ =>
        val t0 = System.nanoTime()
        pass()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"KERNELBENCH $name%-24s median=${runs(3)}%8.2f ms  min=${runs.head}%8.2f  [$sink%x]")
    }

    import graft.functions.{CollapseNums, MinHashSim, Shingles, TextStatsKernel}
    val tokenArrs = texts.map(Shingles.tokensEval)
    val shingleArrs = texts.map(t => Shingles.shinglesEval(t, 3))
    bench("tokens")(i => Shingles.tokensEval(texts(i)))
    bench("shingles(3)")(i => Shingles.shinglesEval(texts(i), 3))
    bench("charWindows(24)")(i => Shingles.charWindowHashesRaw(texts(i), 24))
    bench("charPlain(50)")(i => Shingles.charWindowHashesEval(texts(i), 50))
    bench("tokenPlain(8)")(i => Shingles.tokenWindowHashesEval(texts(i), 8))
    bench("charCounts(50)")(i =>
      Shingles.windowHashCountsEval(texts(i), 50, chars = true))
    bench("tokenCounts(8)")(i =>
      Shingles.windowHashCountsEval(texts(i), 8, chars = false))
    bench("textStats")(i => TextStatsKernel.eval(texts(i)))
    bench("qualityCounts")(i => TextStatsKernel.qualityCountsEval(texts(i)))
    bench("collapseNums")(i => CollapseNums.eval(texts(i), prettify = false))
    bench("simhash64")(i => MinHashSim.simhash64Eval(tokenArrs(i)))
    bench("minhashSig128")(i => MinHashSim.minhashSigEval(shingleArrs(i), 128))
  }
}
