package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B of the LSH bucket-build shape over the OpsScaleProbe 500k-doc
  * corpus. ONE-PASS (a single groupBy with the CappedIds
  * typed-imperative aggregate) is the shape `Dedup.minhashLSH` and
  * `Dedup.simhashCandidates` ship; TWO-PHASE (codegen'd count →
  * semi-join → collect over the ≥2-member buckets only, the r12 shape)
  * is the alternative preserved here for the A/B. One-pass shuffles the
  * exploded band table once instead of twice, at the price of pushing
  * every band bucket — ~16M, almost all singletons on a deduplicated
  * corpus — through ObjectHashAggregate, which falls back to sort-based
  * aggregation past 128 hash-map groups. Measured r15 on RAM shuffle
  * scratch: one-pass 2.30s vs two-phase 3.62-5.20s. Both variants
  * produce the identical candidate-pair set (asserted).
  *
  * Usage: runMain graft.tools.MinhashShapeProbe [docsPath]
  */
object MinhashShapeProbe {
  def main(args: Array[String]): Unit = {
    val docsPath = args.headOption
      .getOrElse("/root/repo/target/graft_opsscale/v1/docs500000")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // shuffle scratch on RAM: this sandbox's disk stalls for seconds at
      // a time (measured 6-500 MB/s on consecutive 64 MiB writes), which
      // drowns the shape difference this probe exists to measure — the
      // A/B compares ALGORITHM cost, and both variants get the same
      // scratch. Not a bench setting.
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").canWrite) "/dev/shm/graft_shape_probe"
        else System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(docsPath)

    // shared signature/band table, materialized once so the A/B times the
    // BUCKET BUILD + pair generation, not shingling/minhash
    val sigs = docs.select(col("doc_id").as("id"),
        graft.ops.Dedup.minhashSignature(col("text"), 3, 128).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    val bandRows = sigs.select(col("id"),
      explode(graft.functions.MinHashSim.bandHashes(col("sig"), 32))
        .as("band_hash"))
    val maxBucketSize = 10000

    def pairsOf(buckets: org.apache.spark.sql.DataFrame) = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()

    def twoPhase() = {
      val hot = bandRows.groupBy("band_hash")
        .agg(count(lit(1)).as("__c"))
        .filter(col("__c").between(2, maxBucketSize))
        .select("band_hash")
      pairsOf(bandRows.join(hot, Seq("band_hash"), "left_semi")
        .groupBy("band_hash")
        .agg(array_sort(collect_list(col("id"))).as("ids"))
        .select(col("ids")))
    }
    def onePass() = {
      pairsOf(bandRows.groupBy("band_hash")
        .agg(graft.functions.CappedIds
          .idsWithCount(col("id"), maxBucketSize + 1).as("r"))
        .filter(col("r._2").between(2, maxBucketSize))
        .select(array_sort(col("r._1")).as("ids")))
    }

    def time(label: String)(f: => Long): Long = {
      val runs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val out = f
        ((System.nanoTime() - t0) / 1e9, out)
      }
      val med = runs.sortBy(_._1).apply(1)
      println(f"SHAPE $label%-12s median=${med._1}%7.2fs  " +
        f"runs=${runs.map(r => f"${r._1}%.2f").mkString(" ")}  pairs=${med._2}")
      med._2
    }
    val a = time("two_phase")(twoPhase().count())
    val b = time("one_pass")(onePass().count())
    println(s"SHAPE pair counts equal: ${a == b} (must be true)")
    // identical SETS, not just counts
    val diff = twoPhase().union(onePass())
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 2).count()
    println(s"SHAPE symmetric-difference rows: $diff (must be 0)")
    spark.stop()
  }
}
