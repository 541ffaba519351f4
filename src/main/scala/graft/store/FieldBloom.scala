package graft.store

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

import graft.functions.{Shingles, TextMatch}
import graft.logql.Compiler

/** Per-field token-bloom sidecar: the Spark-layout analogue of the
  * reference storing a token bloom for EVERY column, not just `_msg`
  * (`bloom.bin` per column — filenames.go:4-24,
  * columnHeader.bloomFilterOffset/Size block_header.go:584-615 — and
  * matchBloomFilterAllTokens pruning phrase/prefix/seq/exact filters on
  * any field, filter_phrase.go:302, filter_and.go:105).
  *
  * Layout: `<dir>/field_bloom/` parquet with one row per (data file,
  * covered field) — `file`, `field`, `bloom` — plus a `_fields.json`
  * manifest (underscore-prefixed so parquet listing ignores it) that
  * records the covered fields and each field's bloom size. Covered
  * fields default to every atomic top-level column of the store (the
  * promoted / schema columns) plus the hottest dynamic `fields`-map keys
  * by FieldNameMeta hit count — the reference blooms every column it
  * materializes; we bloom the columns a filter can actually name.
  *
  * Per-field sizing: bits = 16 × the field's max per-part distinct-value
  * count (FieldNameMeta v2's `nd`), clamped to [2 KiB, 256 KiB] bitmaps.
  * A low-cardinality field (level, event_type) costs 2 KiB per file; a
  * high-cardinality ID field gets a bitmap sized to stay useful. The
  * probe side never needs the manifest's size — `mightContain` derives
  * bits from the stored bitmap length — so mixed-size sidecars from
  * different builds coexist.
  *
  * Query semantics (why zero blooms are correct): a LogsQL word/phrase/
  * prefix/sequence filter on field f matches a row only if the row's
  * RENDERED value of f contains every complete token of the needle; a
  * missing field renders as "" (keyConcepts.md — empty value IS a
  * missing field). So a file where f never holds a matching token —
  * including files where f is entirely absent, which get explicit
  * all-zero bitmaps — can be skipped without reading it.
  *
  * Staleness contract (same as [[MsgBloom]]): files absent from the
  * sidecar always scan; a stale sidecar can only ADD scans, never drop
  * rows. Incremental [[refresh]] blooms only the delta files.
  */
object FieldBloom {

  /** Default bitmap bits when FieldNameMeta has no `nd` for a field. */
  val DefaultBits: Int = 1 << 17 // 16 KiB

  val MinBits: Int = 1 << 14 // 2 KiB
  // High-cardinality fields (request/trace ids) legitimately need big
  // bitmaps: ~16 bits per distinct value is the reference's own bloom
  // budget (bloomFilterHashesCount sizing). A 666k-distinct-values file
  // needs 2^24 bits (2 MiB) to hold ~0.03% fpp; the earlier 256 KiB cap
  // measured 27-33% false-positive files on the 20M probe store.
  val MaxBits: Int = 1 << 24 // 2 MiB

  /** Max dynamic map keys covered beyond the top-level columns. */
  val DefaultMaxDynamicFields: Int = 8

  /** Fields a phrase filter can't meaningfully bloom: `_msg` has its own
    * sidecar, `_time`/`_day` take range filters, stream filters have the
    * streams table, `tenant` is a partition column. */
  private val Excluded =
    Set("_msg", "_time", "_day", "tenant", "_stream", "_stream_id", "fields")

  private def sidecar(dir: String) = s"$dir/field_bloom"
  private def manifestPath(dir: String) = s"$dir/field_bloom/_fields.json"

  // ---------------------------------------------------------------------
  // token extraction (query side, shared with MsgBloom.requiredMsgTokens)
  // ---------------------------------------------------------------------

  /** Tokens of `s` excluding a trailing incomplete token — the prefix
    * filter's bloom tokens (filter_prefix.go:354 getTokensSkipLast: the
    * last run of word runes may continue past the prefix, so only the
    * tokens before it are guaranteed complete in a match). */
  def tokensSkipLast(s: String): Seq[String] = {
    // walk back by CODE POINT through the row tokenizer's word class: a
    // trailing \p{Nl}/\p{No} or astral letter still continues the token,
    // and requiring that incomplete token would prune matching files
    var end = s.length
    while (end > 0 && Shingles.isWordCp(s.codePointBefore(end)))
      end = s.offsetByCodePoints(end, -1)
    TextMatch.tokenizeString(s.substring(0, end))
  }

  /** Per-field word tokens that every matching row must contain, from the
    * query's top-level AND filters (the reference's per-filter `tokens`
    * feeding matchBloomFilterAllTokens — filter_phrase.go:53,
    * filter_sequence.go:53, filter_exact.go:45, filter_prefix.go:51).
    *
    * Exact/ExactPrefix on a NUMERIC-looking literal are skipped for
    * non-`_msg` fields: on a numeric store column the compiler matches
    * numerically (`value:=1e2` matches 100.0 whose rendering is "100"),
    * so the literal's own tokens are not required in the stored
    * rendering. Phrase/Prefix/Sequence always compare against the
    * rendered string, so their tokens are required regardless of the
    * column's physical type. `_msg` is always a string column, so its
    * Exact tokens stay unguarded (pre-existing MsgBloom behavior). */
  def requiredTokensByField(f: graft.logql.Filter): Map[String, Seq[String]] = {
    import graft.logql.Filter._
    def one(fld: String, ts: Seq[String]): Map[String, Seq[String]] =
      if (ts.isEmpty || fld.contains("*")) Map.empty else Map(fld -> ts)
    def exactSafe(fld: String, v: String): Boolean =
      fld == "_msg" || graft.logql.NumLit.parse(v).isEmpty
    f match {
      case And(fs) =>
        fs.map(requiredTokensByField)
          .foldLeft(Map.empty[String, Seq[String]]) { (acc, m) =>
            m.foldLeft(acc) { case (a, (k, v)) =>
              a.updated(k, (a.getOrElse(k, Nil) ++ v).distinct)
            }
          }
      case Phrase(fld, p) => one(fld, TextMatch.tokenizeString(p))
      case Sequence(fld, ps) => one(fld, ps.flatMap(TextMatch.tokenizeString))
      case ContainsAll(fld, vs) => one(fld, vs.flatMap(TextMatch.tokenizeString))
      case Exact(fld, v) if exactSafe(fld, v) =>
        one(fld, TextMatch.tokenizeString(v))
      case Prefix(fld, p) => one(fld, tokensSkipLast(p))
      case ExactPrefix(fld, v) if exactSafe(fld, v) =>
        one(fld, tokensSkipLast(v))
      case _ => Map.empty
    }
  }

  // ---------------------------------------------------------------------
  // build side
  // ---------------------------------------------------------------------

  /** Covered fields and their bitmap sizes for a fresh build: atomic
    * top-level columns (string + numeric — numerics bloom their GoFloat
    * rendering, the same strings the filters compare against) plus the
    * top-K dynamic map keys by FieldNameMeta hits. */
  def chooseFields(spark: SparkSession, dir: String,
                   maxDynamic: Int = DefaultMaxDynamicFields): Map[String, Int] = {
    val logs = LogStore.read(spark, dir)
    val top = logs.schema.fields.toSeq
      .filter(f => f.dataType == StringType ||
        f.dataType.isInstanceOf[NumericType])
      .map(_.name).filterNot(Excluded)
    val stats = FieldNameMeta.load(dir)
    // max per-part distinct count per field (the nd facet written by
    // FieldNameMeta v2); -1 when unknown
    val nd = scala.collection.mutable.Map.empty[String, Long]
    stats.values.foreach(_.foreach { case (f, s) =>
      nd.updateWith(f)(v => Some(math.max(v.getOrElse(-1L), s.nd)))
    })
    def admissible(k: String) =
      !top.contains(k) && !Excluded(k) && !k.contains("*")
    val dynFromMeta = stats.values.flatten
      .groupMapReduce(_._1)(_._2.hits)(_ + _)
      .view.filterKeys(admissible)
      .toSeq.sortBy { case (k, h) => (-h, k) }
      .take(maxDynamic).map(_._1)
    // FieldNameMeta is written by bulk ingest and compaction, not the
    // flush path — a young append-only store has no stats yet. Fall back
    // to one map-keys aggregation (reads only the `fields` column, far
    // cheaper than the tokenizing build scan that follows).
    val dynamic =
      if (dynFromMeta.size >= maxDynamic ||
          !logs.schema.fieldNames.contains("fields")) dynFromMeta
      else {
        val scanned = logs
          .select(explode(map_keys(col("fields"))).as("k"))
          .groupBy("k").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("k").asc)
          .limit(maxDynamic * 4).collect()
          .map(_.getString(0)).filter(admissible)
        (dynFromMeta ++ scanned.filterNot(dynFromMeta.contains)).take(maxDynamic)
      }
    (top ++ dynamic).map { f =>
      f -> bitsFor(nd.getOrElse(f, -1L))
    }.toMap
  }

  private def bitsFor(maxNd: Long): Int = {
    if (maxNd <= 0) return DefaultBits
    var bits = MinBits
    while (bits < MaxBits && bits.toLong < 16L * maxNd) bits <<= 1
    bits
  }

  /** Bloom rows for `df` restricted to `fields` of one bitmap size —
    * (file, field, bloom), one scan. Token hashes come from ONE
    * codegen'd kernel pass over a struct of the rendered field values
    * (functions/FieldTokenHashesExpr) — the r13 build path ran a
    * `transform(array_distinct(...))` HOF per covered field per row,
    * which is CodegenFallback and allocates per step (r13 verdict #4). */
  private def bloomRows(df: DataFrame, fields: Seq[String],
                        mBits: Int): DataFrame = {
    val agg = udaf(new MsgBloom.BloomAgg(mBits), Encoders.scalaLong)
    val rendered = struct(fields.map(f => Compiler.strF(df, f).as(f)): _*)
    df.select(input_file_name().as("file"),
        explode(graft.functions.Shingles.fieldTokenHashes(rendered)).as("ft"))
      .select(col("file"), col("ft.field").as("field"), col("ft.hash").as("h"))
      .groupBy("file", "field")
      .agg(agg(col("h")).as("bloom"))
  }

  /** Sentinel byte-length for "field has no tokens anywhere in this
    * file": mightContain derives bits from the bitmap length, and every
    * probe of an all-zero bitmap misses, so ONE zero byte prunes exactly
    * like a full-size zero bitmap. */
  private[store] val SentinelBytes = 1

  /** Zero-bitmap rows for the (file, field) pairs the aggregation did not
    * produce (field empty/absent in the whole file, or a zero-row file):
    * nothing in them can match, so an all-zero bloom prunes maximally —
    * and without the row the file would be treated as never-bloomed and
    * rescanned forever (same reasoning as MsgBloom's tokenless fill).
    * Rows carry a 1-byte sentinel bitmap, NOT a full-size zero array: the
    * r13 shape materialized one `Array[Byte](bits/8)` per missing pair on
    * the driver — a late-added 2^24-bit field absent from a 100k-file
    * store's older files would have been ~200 GB of driver arrays (r13
    * verdict #3). */
  private def zeroFill(spark: SparkSession, allFiles: Seq[String],
                       fieldBits: Map[String, Int],
                       covered: Set[(String, String)]): Option[DataFrame] = {
    import scala.jdk.CollectionConverters._
    val rows = (for {
      f <- allFiles
      (fld, _) <- fieldBits
      if !covered((f, fld))
    } yield org.apache.spark.sql.Row(
      MsgBloom.asStored(f), fld, new Array[Byte](SentinelBytes))
      : org.apache.spark.sql.Row).asJava
    if (rows.isEmpty) None
    else Some(spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file", StringType),
      org.apache.spark.sql.types.StructField("field", StringType),
      org.apache.spark.sql.types.StructField("bloom",
        org.apache.spark.sql.types.BinaryType)))))
  }

  private def writeManifest(dir: String, fieldBits: Map[String, Int]): Unit = {
    val json = fieldBits.toSeq.sortBy(_._1).map { case (f, b) =>
      s""""${f.replace("\\", "\\\\").replace("\"", "\\\"")}":$b"""
    }.mkString("{", ",", "}")
    Fs.writeAll(manifestPath(dir), json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The covered-field → bitmap-bits manifest, empty when no sidecar. */
  def manifest(dir: String): Map[String, Int] = {
    if (!Fs.exists(manifestPath(dir))) return Map.empty
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Fs.readAll(manifestPath(dir)))
      import scala.jdk.CollectionConverters._
      node.fields().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
    } catch { case _: Exception => Map.empty }
  }

  private val built = scala.collection.mutable.Set.empty[String]

  /** Idempotently build the sidecar once per (dir, JVM). */
  def ensure(spark: SparkSession, dir: String): Unit = synchronized {
    if (!built.contains(dir) &&
        !(Fs.exists(s"${sidecar(dir)}/_SUCCESS") && Fs.exists(manifestPath(dir))))
      build(spark, dir)
    built += dir
  }

  /** Build the sidecar for `fields` (auto-chosen when empty). One
    * aggregation job per distinct bitmap size over the same store scan;
    * the sizes collapse to 1-3 classes in practice. */
  def build(spark: SparkSession, dir: String,
            fields: Map[String, Int] = Map.empty): Unit = {
    val fieldBits = if (fields.nonEmpty) fields else chooseFields(spark, dir)
    if (fieldBits.isEmpty) return
    val logs = LogStore.read(spark, dir)
    val byBits = fieldBits.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toSeq
    val parts = byBits.map { case (bits, fs) => bloomRows(logs, fs, bits) }
    val all = parts.reduce(_ union _)
    all.coalesce(1)
      .write.mode("overwrite")
      .option("compression", LogStore.ParquetCodec)
      .parquet(sidecar(dir))
    val coveredPairs = spark.read.parquet(sidecar(dir))
      .select("file", "field").collect()
      .map(r => (MsgBloom.onDisk(r.getString(0)), r.getString(1))).toSet
    val allFiles = logs.inputFiles.toSeq.map(MsgBloom.onDisk)
    zeroFill(spark, allFiles, fieldBits, coveredPairs).foreach {
      _.coalesce(1).write.mode("append")
        .option("compression", LogStore.ParquetCodec)
        .parquet(sidecar(dir))
    }
    writeManifest(dir, fieldBits)
  }

  /** Incremental maintenance, mirroring [[MsgBloom.refresh]]: bloom the
    * data files not yet in the sidecar (flush/compaction output) under
    * the manifest's field set, and rewrite pruned when at least half the
    * sidecar references deleted files. Returns (filesBloomeed, deadPruned). */
  def refresh(spark: SparkSession, dir: String): (Int, Int) = synchronized {
    if (!Fs.exists(s"${sidecar(dir)}/_SUCCESS")) return (0, 0)
    val fieldBits = manifest(dir)
    if (fieldBits.isEmpty) { invalidate(dir); return (0, 0) }
    Fs.list(dir).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(".field_bloom_tmp_")) Fs.delete(p.toString)
      else if (n.startsWith(".field_bloom_old_")) {
        if (!Fs.exists(sidecar(dir))) Fs.rename(p.toString, sidecar(dir))
        else Fs.delete(p.toString)
      }
    }
    val current =
      try LogStore.read(spark, dir).inputFiles.toSeq.map(MsgBloom.onDisk).toSet
      catch { case _: Exception => invalidate(dir); return (0, 0) }
    val have = spark.read.parquet(sidecar(dir))
      .select("file").distinct().collect()
      .map(r => MsgBloom.onDisk(r.getString(0))).toSet
    val missing = (current -- have).toSeq.sorted
    if (missing.nonEmpty) {
      val delta = spark.read.option("basePath", s"$dir/logs")
        .parquet(missing: _*)
      val byBits = fieldBits.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toSeq
      val bloomed = byBits.map { case (bits, fs) => bloomRows(delta, fs, bits) }
        .reduce(_ union _).persist()
      try {
        bloomed.coalesce(1).write.mode("append")
          .option("compression", LogStore.ParquetCodec)
          .parquet(sidecar(dir))
        val coveredPairs = bloomed.select("file", "field").collect()
          .map(r => (MsgBloom.onDisk(r.getString(0)), r.getString(1))).toSet
        zeroFill(spark, missing, fieldBits, coveredPairs).foreach {
          _.coalesce(1).write.mode("append")
            .option("compression", LogStore.ParquetCodec)
            .parquet(sidecar(dir))
        }
      } finally bloomed.unpersist(blocking = false)
    }
    val dead = (have -- current).size
    if (dead * 2 >= math.max(1, have.size)) {
      val liveList = spark.createDataset(current.toSeq)(Encoders.STRING)
        .toDF("__disk")
      val toDisk = udf((s: String) => MsgBloom.onDisk(s))
      val pruned = spark.read.parquet(sidecar(dir))
        .join(broadcast(liveList), toDisk(col("file")) === col("__disk"),
          "left_semi")
      val tmp = s"$dir/.field_bloom_tmp_${java.util.UUID.randomUUID()}"
      pruned.coalesce(1).write
        .option("compression", LogStore.ParquetCodec).parquet(tmp)
      // the swap drops _fields.json with the old dir — rewrite it after
      val old = s"$dir/.field_bloom_old_${java.util.UUID.randomUUID()}"
      Fs.rename(sidecar(dir), old)
      Fs.rename(tmp, sidecar(dir))
      Fs.delete(old)
      writeManifest(dir, fieldBits)
      (missing.size, dead)
    } else (missing.size, 0)
  }

  /** Drop the sidecar (store optimize calls this before a full rebuild). */
  def invalidate(dir: String): Unit = synchronized {
    Fs.delete(s"${sidecar(dir)}/_SUCCESS")
    Fs.delete(manifestPath(dir))
    built -= dir
  }

  // ---------------------------------------------------------------------
  // probe side
  // ---------------------------------------------------------------------

  /** Served-probe counter (observable in /metrics and FieldBloomSpec —
    * "the field sidecar actually pruned"). */
  val probed = new java.util.concurrent.atomic.AtomicLong

  /** Probes answered from the (signature, token-set) verdict memo without
    * re-scanning any bitmap. */
  val memoHits = new java.util.concurrent.atomic.AtomicLong

  /** Probes skipped because every queried token hit the per-field
    * intersection bloom (no file could have been pruned). */
  val unprunableSkips = new java.util.concurrent.atomic.AtomicLong

  /** Per-field INTERSECTION of every file's bitmap (None when the
    * field's bitmaps mix sizes — sentinel rows, rebuilds): a token
    * present in the intersection is present in EVERY file's bloom, so
    * the per-file probe cannot prune and is skipped (r13 verdict #5:
    * the probe cost was paid even when it couldn't prune). */
  private final case class CachedSidecar(
      rows: Array[(String, String, Array[Byte])],
      intersections: Map[String, Option[Array[Byte]]])

  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), CachedSidecar)]()

  /** Memoized per-(sidecar signature, queried token-hash set) verdicts:
    * a dashboard re-issuing the same needle on a plan-cache miss was
    * re-scanning every bitmap (149ms at 30.6k files, FIELDBLOOM_r13). */
  private val verdictCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Boolean]]()
  private val VerdictCacheMax = 1024

  private def sidecarSignature(dir: String): (Long, Long) = {
    val fs = Fs.list(sidecar(dir)).filter(_.isFile)
    (fs.map(_.getLen).sum, fs.map(_.getModificationTime).maxOption.getOrElse(0L))
  }

  private def cachedBitmaps(spark: SparkSession, dir: String,
                            sig: (Long, Long)): Option[CachedSidecar] = {
    if (sig._1 > MsgBloom.MaxCachedManifestBytes) return None
    Option(manifestCache.get(dir)) match {
      case Some((s, m)) if s == sig => Some(m)
      case _ =>
        val rows = spark.read.parquet(sidecar(dir))
          .select(col("file"), col("field"), col("bloom")).collect()
          .map(r => (MsgBloom.onDisk(r.getString(0)), r.getString(1),
            r.getAs[Array[Byte]](2)))
        val inter = rows.groupBy(_._2).map { case (field, rs) =>
          val sizes = rs.iterator.map(_._3.length).toSet
          field -> (if (sizes.size != 1) None
          else {
            val acc = rs.head._3.clone()
            rs.iterator.drop(1).foreach { case (_, _, b) =>
              var i = 0
              while (i < acc.length) { acc(i) = (acc(i) & b(i)).toByte; i += 1 }
            }
            Some(acc)
          })
        }
        val m = CachedSidecar(rows, inter)
        manifestCache.put(dir, (sig, m))
        Some(m)
    }
  }

  /** Files of `dir` that may satisfy ALL of `byField`'s token sets; None
    * when no sidecar exists or no queried field is covered. A file whose
    * (file, field) row is missing scans (stale sidecar adds scans, never
    * drops rows); a file absent from the sidecar entirely scans. */
  def candidateFiles(spark: SparkSession, dir: String,
                     byField: Map[String, Seq[String]]): Option[Seq[String]] = {
    if (byField.isEmpty) return None
    if (!Fs.exists(s"${sidecar(dir)}/_SUCCESS")) return None
    val covered = manifest(dir)
    val eff = byField.collect {
      case (f, ts) if covered.contains(f) && ts.nonEmpty => f -> ts.distinct
    }
    if (eff.isEmpty) return None
    try {
      val hashesByField: Map[String, Seq[Long]] = eff.map { case (f, ts) =>
        f -> MsgBloom.tokenHashes(spark, ts).values.toSeq
      }
      val nQueried = eff.size
      val sig = sidecarSignature(dir)
      val memoKey = s"$dir|${sig._1}|${sig._2}|" + hashesByField.toSeq.sortBy(_._1)
        .map { case (f, hs) => f + ":" + hs.sorted.mkString(",") }.mkString(";")
      // verdict per file: true = every queried field's bloom holds every
      // token; absent verdict = scan
      val memo = Option(verdictCache.get(memoKey))
      memo.foreach(_ => memoHits.incrementAndGet())
      val verdict: Map[String, Boolean] = memo.getOrElse(
        cachedBitmaps(spark, dir, sig) match {
        case Some(cached) =>
          // skip-probe guard: every queried token hitting a field's
          // intersection bloom means no file can fail on that field; if
          // that holds for ALL queried fields the probe can't prune —
          // return "no verdicts" (every file scans) without touching the
          // 30k per-file bitmaps
          val unprunable = hashesByField.forall { case (f, hs) =>
            cached.intersections.get(f).flatten.exists(inter =>
              hs.forall(MsgBloom.mightContain(inter, _)))
          }
          if (unprunable) {
            unprunableSkips.incrementAndGet()
            Map.empty[String, Boolean]
          } else {
            val okCount = scala.collection.mutable.Map.empty[String, Int]
            val failed = scala.collection.mutable.Set.empty[String]
            cached.rows.foreach { case (file, field, bloom) =>
              hashesByField.get(field).foreach { hs =>
                if (hs.forall(MsgBloom.mightContain(bloom, _)))
                  okCount.updateWith(file)(v => Some(v.getOrElse(0) + 1))
                else failed += file
              }
            }
            (okCount.keysIterator ++ failed.iterator).map { f =>
              f -> (!failed(f) && okCount.getOrElse(f, 0) == nQueried)
            }.toMap
          }
        case None =>
          // executor-side probe: ship the token hashes in the closure,
          // reduce to one (file, allOk, seenFields) row per file — the
          // bitmaps never reach the driver (MsgBloom's 100k-file / 12 GiB
          // argument applies per covered field here)
          val hf = hashesByField
          val probeUdf = udf((field: String, bloom: Array[Byte]) =>
            hf(field).forall(MsgBloom.mightContain(bloom, _)))
          spark.read.parquet(sidecar(dir))
            .where(col("field").isin(eff.keys.toSeq: _*))
            .select(col("file"), probeUdf(col("field"), col("bloom")).as("ok"))
            .groupBy("file")
            .agg(count(lit(1)).as("n"), min(col("ok").cast("long")).as("ok"))
            .collect()
            .map(r => MsgBloom.onDisk(r.getString(0)) ->
              (r.getLong(1) == nQueried.toLong && r.getLong(2) == 1L)).toMap
      })
      if (memo.isEmpty) {
        if (verdictCache.size >= VerdictCacheMax) verdictCache.clear()
        verdictCache.put(memoKey, verdict)
      }
      probed.incrementAndGet()
      Some(LogStore.read(spark, dir).inputFiles.toSeq.flatMap { uri =>
        val p = MsgBloom.onDisk(uri)
        verdict.get(p) match {
          case Some(ok) => if (ok) Some(p) else None
          case None => Some(p) // written after the sidecar build: must scan
        }
      })
    } catch { case _: Exception => None } // sidecar race → scan everything
  }
}
