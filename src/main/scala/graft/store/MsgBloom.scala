package graft.store

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.Shingles

/** M7 token-bloom sidecar: per-file bloom filters over `_msg` word tokens,
  * the Spark-layout analogue of the reference's per-block bloom pruning
  * (bloomfilter.go:22-110, matchBloomFilterAllTokens filter_phrase.go:122).
  *
  * Build: one pass over the store computes a bitmap per parquet file from
  * the xxhash64 of each distinct `_msg` token (double-hashing, k probes).
  * Query: phrase/word filters check the (tiny) sidecar table first and
  * scan only files whose bloom contains EVERY required token — full-text
  * needle queries skip the bulk of a 100 TB table without reading it.
  */
object MsgBloom {

  val DefaultBits: Int = 1 << 20 // 128 KiB per file
  val NumHashes: Int = 4

  private[store] def probes(hash: Long, mBits: Int): Seq[Int] = {
    val h1 = hash
    val h2 = (hash >>> 32) | (hash << 32)
    (0 until NumHashes).map { i =>
      (((h1 + i * h2) % mBits + mBits) % mBits).toInt
    }
  }

  private[store] class BloomAgg(mBits: Int)
      extends Aggregator[Long, Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](mBits / 64)
    def reduce(buf: Array[Long], hash: Long): Array[Long] = {
      probes(hash, mBits).foreach(p => buf(p >>> 6) |= (1L << (p & 63)))
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Array[Byte] = {
      // little-endian so byte (p>>>3) bit (p&7) addresses bit p directly
      val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.foreach(bb.putLong)
      bb.array()
    }
    def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def mightContain(bloom: Array[Byte], tokenHash: Long): Boolean = {
    val mBits = bloom.length * 8
    probes(tokenHash, mBits).forall { p =>
      val byte = bloom(p >>> 3)
      (byte & (1 << (p & 7))) != 0
    }
  }

  /** xxhash64 of a token via direct Catalyst expression eval — the exact
    * implementation the build side's `xxhash64(...)` column uses, without
    * paying a Spark job per probe (the handful of tokens evaluate on the
    * driver in microseconds). */
  def tokenHashes(spark: SparkSession, tokens: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    tokens.map { t =>
      t -> XxHash64(Seq(Literal.create(t, org.apache.spark.sql.types.StringType)),
          42L) // the same default seed the xxhash64 SQL function uses
        .eval(null).asInstanceOf[Long]
    }.toMap
  }

  private val built = scala.collection.mutable.Set.empty[String]

  /** Idempotently build the sidecar once per (dir, JVM). */
  def ensure(spark: SparkSession, dir: String): Unit = synchronized {
    if (!built.contains(dir) && !Fs.exists(s"$dir/msg_bloom/_SUCCESS"))
      build(spark, dir)
    built += dir
  }

  /** Build the sidecar: `<dir>/msg_bloom` with (file, bloom) per data file. */
  def build(spark: SparkSession, dir: String, mBits: Int = DefaultBits): Unit = {
    val logs = LogStore.read(spark, dir)
    val agg = udaf(new BloomAgg(mBits), Encoders.scalaLong)
    logs
      .select(input_file_name().as("file"),
        explode(array_distinct(Shingles.tokens(col("_msg")))).as("tok"))
      .groupBy("file")
      .agg(agg(xxhash64(col("tok"))).as("bloom"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("compression", LogStore.ParquetCodec)
      .parquet(s"$dir/msg_bloom")
  }

  /** input_file_name()/inputFiles URI → the path spark.read accepts
    * (scheme+authority preserved for hdfs://, s3a://). */
  private[store] def onDisk(uri: String): String = {
    val u = new java.net.URI(uri)
    if (u.getScheme == null || u.getScheme == "file") u.getPath
    else new java.net.URI(u.getScheme, u.getAuthority, u.getPath,
      null, null).toString
  }

  /** Inverse of [[onDisk]] for writing sidecar rows: a URI string whose
    * onDisk decode yields `p` again. Local paths re-acquire a `file:`
    * scheme with '%' re-quoted (the multi-arg URI constructor always
    * quotes '%', so a partition dir's literal `%3A` survives the round
    * trip); remote URI strings are already in stored form — onDisk is
    * idempotent on them. */
  private[store] def asStored(p: String): String =
    if (p.startsWith("/")) new java.net.URI("file", null, p, null).toString
    else p

  /** Incremental sidecar maintenance: bloom the data files NOT yet in the
    * sidecar (flush/compaction output) and append their rows; when at
    * least half the sidecar references deleted files, rewrite it pruned.
    * A full rebuild rescans the whole store — a non-starter at 100 TB;
    * refresh scans only the delta, the same blooms-made-at-part-creation
    * shape as the reference (bloom sidecar files per part,
    * lib/logstorage/block_header.go). Correctness never depends on this
    * running: missing files always scan, dead rows drop in
    * candidateFiles' reconciliation. Returns (filesBloomeed, rowsPruned).
    */
  def refresh(spark: SparkSession, dir: String,
              mBits: Int = DefaultBits): (Int, Int) = synchronized {
    if (!Fs.exists(s"$dir/msg_bloom/_SUCCESS")) return (0, 0)
    // sweep swap leftovers from a crash between renames: an orphaned
    // .msg_bloom_old_* means the swap lost the live dir — restore it
    Fs.list(dir).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(".msg_bloom_tmp_")) Fs.delete(p.toString)
      else if (n.startsWith(".msg_bloom_old_")) {
        if (!Fs.exists(s"$dir/msg_bloom")) Fs.rename(p.toString, s"$dir/msg_bloom")
        else Fs.delete(p.toString)
      }
    }
    val current =
      try LogStore.read(spark, dir).inputFiles.toSeq.map(onDisk).toSet
      catch { case _: Exception => // store emptied (retention) → no pruning
        invalidate(dir); return (0, 0) }
    val have = spark.read.parquet(s"$dir/msg_bloom")
      .select("file").collect().map(r => onDisk(r.getString(0))).toSet
    val missing = (current -- have).toSeq.sorted
    if (missing.nonEmpty) {
      val agg = udaf(new BloomAgg(mBits), Encoders.scalaLong)
      val bloomed = spark.read.option("basePath", s"$dir/logs")
        .parquet(missing: _*)
        .select(input_file_name().as("file"),
          explode(array_distinct(Shingles.tokens(col("_msg")))).as("tok"))
        .groupBy("file")
        .agg(agg(xxhash64(col("tok"))).as("bloom"))
        .persist()
      try {
        bloomed.coalesce(1)
          .write.mode("append")
          .option("compression", LogStore.ParquetCodec)
          .parquet(s"$dir/msg_bloom")
        // files whose rows are all token-less produce no agg row; give them
        // an explicit all-zero bloom (nothing can match — maximal pruning)
        // or they would stay "missing" and be re-read on every tick. The
        // stored form is derived from the missing paths THEMSELVES (not
        // read off the files via input_file_name: a zero-ROW parquet file
        // yields no rows at all, so it would never get a sidecar entry and
        // be re-read forever). Every consumer decodes stored values with
        // onDisk, so any URI form that decodes back to the path works —
        // asStored is that exact inverse.
        val covered = bloomed.select("file").collect()
          .map(r => onDisk(r.getString(0))).toSet
        val tokenless = missing.filterNot(covered)
        if (tokenless.nonEmpty) {
          import scala.jdk.CollectionConverters._
          val empty = new Array[Byte](mBits / 8)
          val rows = tokenless.map(f =>
            org.apache.spark.sql.Row(asStored(f), empty): org.apache.spark.sql.Row).asJava
          spark.createDataFrame(rows, bloomed.schema)
            .coalesce(1).write.mode("append")
            .option("compression", LogStore.ParquetCodec)
            .parquet(s"$dir/msg_bloom")
        }
      } finally bloomed.unpersist(blocking = false)
    }
    val dead = (have -- current).size
    if (dead * 2 >= math.max(1, have.size)) {
      // snapshot-rewrite-swap, same crash-safe move as swapStreams. The
      // rewrite is a distributed semi-join against the (small) live file
      // list — bitmaps never pass through the driver (candidateFiles'
      // 12 GiB-at-100k-files argument applies here too).
      val liveList = spark.createDataset(current.toSeq)(Encoders.STRING)
        .toDF("__disk")
      val toDisk = udf((s: String) => onDisk(s))
      val pruned = spark.read.parquet(s"$dir/msg_bloom")
        .join(broadcast(liveList), toDisk(col("file")) === col("__disk"),
          "left_semi")
      val tmp = s"$dir/.msg_bloom_tmp_${java.util.UUID.randomUUID()}"
      pruned.coalesce(1).write
        .option("compression", LogStore.ParquetCodec).parquet(tmp)
      val old = s"$dir/.msg_bloom_old_${java.util.UUID.randomUUID()}"
      Fs.rename(s"$dir/msg_bloom", old)
      Fs.rename(tmp, s"$dir/msg_bloom")
      Fs.delete(old)
      (missing.size, dead)
    } else (missing.size, 0)
  }

  /** Files of `dir` whose bloom may contain ALL `tokens`; None when no
    * sidecar exists (scan everything).
    *
    * The probe runs in the EXECUTORS: the handful of token hashes ships in
    * the UDF closure and the sidecar relation is filtered there — only
    * (path, matched) pairs ever reach the driver, never the 128 KiB
    * bitmaps (at 100 TB / ~100k files a full-bloom collect would be
    * ~12 GiB of driver memory per query).
    *
    * The sidecar may be stale after appends: files absent from it are
    * always-scan candidates (a stale sidecar must only ADD scans, never
    * drop rows), and files deleted since the build drop out via the
    * reconciliation against the store's current file list. `optimize`
    * rebuilds the sidecar to restore pruning power for appended files. */
  /** Driver-side manifest cache: the sidecar re-read + probe UDF cost a
    * Spark job per query, which dominates needle-query latency once the
    * data scan itself is pruned. Bitmaps are cached in driver memory only
    * while the sidecar stays small (≤ [[MaxCachedManifestBytes]] on
    * disk); a 100 TB store's ~100k-file sidecar (~12 GiB of bitmaps)
    * keeps the distributed probe. Keyed by the sidecar files' summed
    * length + max mtime, so refresh/prune swaps invalidate naturally. */
  private[store] val MaxCachedManifestBytes: Long = 64L << 20
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), Array[(String, Array[Byte])])]()

  private def sidecarSignature(dir: String): (Long, Long) = {
    val fs = Fs.list(s"$dir/msg_bloom").filter(_.isFile)
    (fs.map(_.getLen).sum, fs.map(_.getModificationTime).maxOption.getOrElse(0L))
  }

  private def cachedManifest(spark: SparkSession,
                             dir: String): Option[Array[(String, Array[Byte])]] = {
    val sig = sidecarSignature(dir)
    if (sig._1 > MaxCachedManifestBytes) return None
    Option(manifestCache.get(dir)) match {
      case Some((s, m)) if s == sig => Some(m)
      case _ =>
        val m = spark.read.parquet(s"$dir/msg_bloom")
          .select(col("file"), col("bloom")).collect()
          .map(r => onDisk(r.getString(0)) -> r.getAs[Array[Byte]](1))
        manifestCache.put(dir, (sig, m))
        Some(m)
    }
  }

  def candidateFiles(spark: SparkSession, dir: String,
                     tokens: Seq[String]): Option[Seq[String]] = {
    if (tokens.isEmpty) return None
    if (!Fs.exists(s"$dir/msg_bloom/_SUCCESS")) return None
    val hashes = tokenHashes(spark, tokens).values.toSeq
    val probe = udf((bloom: Array[Byte]) => hashes.forall(mightContain(bloom, _)))
    // both input_file_name() (sidecar build) and DataFrame.inputFiles yield
    // the same double-escaped URI form; onDisk's URI decode recovers the
    // path spark.read needs (scheme + authority preserved for hdfs://,
    // s3a://).
    // The sidecar is an OPTIMIZATION: any read failure (e.g. racing the
    // refresh prune's rename swap) degrades to scan-everything, never to
    // a client-visible error or a dropped row.
    try {
      // small sidecars probe against the cached in-driver manifest (no
      // job); big ones keep the executor-side UDF probe
      val sidecar: Map[String, Boolean] = cachedManifest(spark, dir) match {
        case Some(m) =>
          m.iterator.map { case (p, bloom) =>
            p -> hashes.forall(mightContain(bloom, _))
          }.toMap
        case None =>
          spark.read.parquet(s"$dir/msg_bloom")
            .select(col("file"), probe(col("bloom")).as("m"))
            .collect()
            .map(r => onDisk(r.getString(0)) -> r.getBoolean(1)).toMap
      }
      val out = LogStore.read(spark, dir).inputFiles.toSeq.flatMap { uri =>
        val p = onDisk(uri)
        sidecar.get(p) match {
          case Some(matched) => if (matched) Some(p) else None
          case None => Some(p) // written after the sidecar build: must scan
        }
      }
      Some(out)
    } catch { case _: Exception => None }
  }

  /** Drop the sidecar (called by the store's optimize job before rebuild). */
  def invalidate(dir: String): Unit = synchronized {
    Fs.delete(s"$dir/msg_bloom/_SUCCESS")
    built -= dir
    relCache.filterInPlace { case ((_, d, _), _) => d != dir }
  }

  // relation per (session, dir, candidate file set): repeated probes with
  // the same candidates reuse the file index + parquet footers instead of
  // rebuilding a reader per query. Keyed by the file list itself — a
  // 32-bit hash key could collide two different candidate sets and serve
  // a relation over the WRONG files. Insertion-order-bounded so a
  // long-lived server with many distinct token sets can't grow it forever.
  private val relCache = scala.collection.mutable.LinkedHashMap
    .empty[(SparkSession, String, Seq[String]), DataFrame]
  private val MaxRelCacheEntries = 32

  /** The store's log relation restricted to files that may match all
    * `tokens` (basePath keeps the partition columns). An empty candidate
    * list yields an empty relation with the full schema. */
  def prunedLogs(spark: SparkSession, dir: String,
                 tokens: Seq[String]): DataFrame =
    applyCandidates(spark, dir, candidateFiles(spark, dir, tokens))

  /** Relation for a bloom candidate verdict: None → full store scan,
    * Some(Nil) → empty relation (full schema), Some(files) → only those
    * files. Shared by the `_msg` and per-field sidecar paths. */
  def applyCandidates(spark: SparkSession, dir: String,
                                     cand: Option[Seq[String]]): DataFrame =
    cand match {
      case None => LogStore.read(spark, dir)
      case Some(Nil) => LogStore.read(spark, dir).where(lit(false))
      case Some(files) => relationFor(spark, dir, files.sorted)
    }

  private[store] def relationFor(spark: SparkSession, dir: String,
                                 sorted: Seq[String]): DataFrame = {
    val key = (spark, dir, sorted)
    synchronized {
      relCache.get(key) match {
        case Some(df) => df
        case None =>
          val df = spark.read.option("basePath", s"$dir/logs")
            .parquet(sorted: _*)
          relCache.put(key, df)
          while (relCache.size > MaxRelCacheEntries)
            relCache.remove(relCache.head._1)
          df
      }
    }
  }

  /** Intersect candidate verdicts from two sidecars: a None (no sidecar /
    * sidecar unreadable) contributes no constraint. */
  def intersect(a: Option[Seq[String]],
                               b: Option[Seq[String]]): Option[Seq[String]] =
    (a, b) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(x), Some(y)) => val ys = y.toSet; Some(x.filter(ys))
    }

  /** Word/phrase tokens that every matching row must contain, from the
    * query's top-level AND filters on `_msg` (the same tokens the
    * reference feeds its bloom check — filter_phrase.go:61-122). */
  def requiredMsgTokens(f: graft.logql.Filter): Seq[String] =
    FieldBloom.requiredTokensByField(f).getOrElse("_msg", Nil)

  /** Run a LogsQL query over the store with bloom-assisted file pruning:
    * `_msg` tokens consult this sidecar, non-`_msg` field tokens consult
    * the per-field sidecar ([[FieldBloom]]) when it exists — the analogue
    * of the reference pruning every column through its own bloom.bin
    * (filter_and.go:105 applies matchBloomFilterAllTokens per field). */
  def query(spark: SparkSession, dir: String, queryText: String): DataFrame = {
    val q = graft.logql.Parser.parse(queryText,
      System.currentTimeMillis() * 1000000L)
    val byField = FieldBloom.requiredTokensByField(q.filter)
    val msgCand = candidateFiles(spark, dir,
      byField.getOrElse("_msg", Nil).distinct)
    val fieldCand = FieldBloom.candidateFiles(spark, dir, byField - "_msg")
    val logs = applyCandidates(spark, dir, intersect(msgCand, fieldCand))
    graft.logql.Compiler.run(logs, q, System.currentTimeMillis() * 1000000L)
  }
}
