package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** M0 log-store layout (SURVEY.md §1.4, §7): the Spark-native analogue of
  * the reference's day-partitioned LSM storage + stream index.
  *
  * Layout on disk:
  * {{{
  *   <dir>/logs/tenant=<t>/_day=<yyyy-MM-dd>/part-*.parquet
  *   <dir>/streams/part-*.parquet      // _stream_id → label map (indexdb analogue)
  * }}}
  *
  * - Partitioning by (tenant, day(_time)) mirrors partition.go's per-day
  *   partitions (storage_search.go:1070-1081 prunes by day) — `_time:`
  *   filters compile to `_day` partition predicates (Compiler.TimeRange).
  * - `_stream_id` = tenant hex prefix + xxhash64 hex of the canonical
  *   sorted label string (stream_id.go:12-24 embeds TenantID next to a
  *   128-bit hash of canonicalized stream tags; the 64-bit name hash is a
  *   documented deviation, collision-safe at per-tenant stream
  *   cardinalities).
  * - Rows are sorted by (_stream_id, _time) within each file so parquet
  *   row-group min/max stats prune stream- and time-scoped scans inside a
  *   day (block_header.go's per-block ranges).
  * - The `streams` table replaces indexdb (indexdb.go:182 searchStreamIDs):
  *   metadata queries and stream-filter semi-joins read it instead of the
  *   log data.
  */
object LogStore {

  /** Store parquet codec: zstd, like the reference's part compression
    * (docs/victorialogs/README.md:132 claims ≥10× columnar+zstd ratios) —
    * at 100 TB the scan is IO-bound, so smaller files beat snappy's
    * slightly cheaper decode. */
  val ParquetCodec = "zstd"

  /** Row-group byte target for store data files. The layout keeps each
    * stream's rows together in one file per (day, salt) — great for
    * stream-filter pruning, but parquet only splits at row-group
    * boundaries, so a HOT stream's file must not be one monolithic
    * group: with the 128 MiB default a stream holding 50% of a day
    * scanned as ONE task (max/median task ratio 10-42×, 4b3d22b).
    * 8 MiB groups keep such files splittable (a 32-way executor saturates
    * on any file > ~256 MiB) at a negligible compression cost. */
  val ParquetRowGroupBytes: Long = 8L << 20

  /** Canonical "k1=v1,k2=v2" (keys sorted) — stream_tags.go canonical
    * form. Absent/empty fields are OMITTED, not rendered as empty labels:
    * in the reference's data model an empty value IS a missing field
    * (keyconcepts.md; apptest key_concepts case 3 pins `{foo="bar"}` for
    * a row missing the other configured stream fields). */
  def canonicalStream(streamFields: Seq[String]): Column =
    concat_ws(",", streamFields.sorted.map { f =>
      val v = col(f).cast(StringType)
      when(v.isNotNull && v =!= "", concat(lit(f + "="), v))
    }: _*) // concat_ws skips the nulls of absent fields

  /** Stream id string: hex8(accountID) + hex8(projectID) + hex16(xxhash64
    * of the canonical stream name). The reference's streamID embeds the
    * TenantID next to the 128-bit name hash and marshals the same way
    * (stream_id.go:12-24, marshalString) — the tenant PREFIX is what
    * keeps equal label sets in different tenants distinct (cross-tenant
    * stream_context and `_stream_id:in(...)` must not leak). 64-bit name
    * hash width is the documented deviation (SURVEY §8). */
  def streamIdCol(streamFields: Seq[String], tenant: String): Column =
    concat(lit(tenantHexPrefix(tenant)),
      lower(hex(xxhash64(canonicalStream(streamFields)))))

  /** `acct:proj` → 16 hex chars; a non-numeric segment falls back to its
    * 32-bit string hash so exotic tenant names still get distinct ids. */
  def tenantHexPrefix(tenant: String): String = {
    def part(s: String): Long =
      s.toLongOption.filter(v => v >= 0 && v <= 0xFFFFFFFFL)
        .getOrElse(s.hashCode.toLong & 0xFFFFFFFFL)
    val (a, p) = tenant.split(":", 2) match {
      case Array(x, y) => (part(x), part(y))
      case _ => (part(tenant), 0L)
    }
    f"$a%08x$p%08x"
  }

  /** The `_stream` label map, absent/empty fields omitted (see
    * [[canonicalStream]]). Built from per-field singletons under
    * map_concat instead of map_filter — higher-order functions interpret
    * their lambda per entry per row, and this sits on the flush path. */
  def streamMapCol(streamFields: Seq[String]): Column = {
    val empty = map().cast(MapType(StringType, StringType))
    val singles = streamFields.sorted.map { f =>
      val v = col(f).cast(StringType)
      when(v.isNotNull && v =!= "", map(lit(f), v)).otherwise(empty)
    }
    if (singles.isEmpty) empty else map_concat(singles: _*)
  }

  /** Batch-ingest `df` (must carry `_time` TimestampType + the stream label
    * columns) into the layout. `filesPerDay` spreads each day partition
    * over multiple writer tasks — one file per day would serialize the
    * write path at scale. */
  def ingest(df: DataFrame, dir: String, streamFields: Seq[String],
             tenant: String = "0:0", filesPerDay: Int = 4): Unit =
      // serialized against protocol appends (StoreLocks.logsAppend — the
      // same lock Ingest.appendBatch holds): an unserialized overwrite
      // could delete `logs/` BETWEEN a concurrent append's file commit
      // and its manifest union, leaving the append's files (fields-map
      // shape) present but unrecorded — the reset manifest would then
      // hide that shape from every read (r13 verdict #8). Under the lock
      // an append lands wholly before (its rows are replaced — the
      // documented overwrite semantic) or wholly after (its shape unions
      // into the fresh manifest).
      StoreLocks.logsAppend(dir).synchronized {
    val sorted = streamFields.sorted
    val withMeta = applyPromotion(df, promotedFields(dir).map(_._1))
      .withColumn("_stream", streamMapCol(sorted))
      .withColumn("_stream_id", streamIdCol(sorted, tenant))
      .withColumn("tenant", lit(tenant))
      .withColumn("_day", to_date(col("_time")))
    withMeta
      .repartition(col("tenant"), col("_day"),
        pmod(xxhash64(col("_stream_id")), lit(filesPerDay)))
      // _day leads: the planned write needs rows grouped by partition
      // column and would otherwise put its own Sort [_day] on top, which
      // replaces the (_stream_id, _time) order. `tenant` is a visible
      // constant here, which that check drops from what it requires, so
      // it must not lead the sort (contrast Ingest.appendBatch)
      .sortWithinPartitions(col("_day"), col("_stream_id"), col("_time"))
      .write.mode("overwrite")
      .option("compression", LogStore.ParquetCodec)
      .option("parquet.block.size", LogStore.ParquetRowGroupBytes)
      .partitionBy("tenant", "_day")
      .parquet(s"$dir/logs")
    withMeta.select(col("_stream_id"), col("_stream"))
      .dropDuplicates("_stream_id")
      .write.mode("overwrite")
      .option("compression", LogStore.ParquetCodec)
      .parquet(s"$dir/streams")
    // write-time metadata, ONE fused entries job for both sidecars:
    // per-part value-type verdicts (the columnHeader.valueType analogue)
    // and per-part field-name hit counts (the columnsHeader field list)
    // — previously two batch-scale aggregations plus a map explode
    val stats = ValueTypeMeta.batchStats(withMeta)
    ValueTypeMeta.record(dir, stats.map { case (k, (t, _)) => k -> t },
      overwrite = true)
    FieldNameMeta.record(dir, stats.map { case (k, (_, h)) => k -> h },
      overwrite = true)
    // mode=overwrite replaced every file — reset the schema manifest to
    // exactly this load's shape (see recordWrittenSchema)
    recordWrittenSchema(dir, withMeta.schema, sorted, cur = None)
    invalidate(dir)
  }  // releases StoreLocks.logsAppend(dir)

  // memoized per (session, dir) so queries reuse the partition-discovery
  // file index; invalidated on every write into the dir
  private val readCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]

  // monotonically bumped on every store mutation (write/compaction/
  // retention/external invalidateCaches) — serving-path caches key their
  // compiled plans on this, so a cached plan can never serve data from
  // before a write it should see. One global counter: coarser than
  // per-dir (any write invalidates every cached plan) but never wrong.
  private val generationCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Current store-mutation generation (see [[invalidateCaches]]). */
  def generation: Long = generationCounter.get

  private def invalidate(dir: String): Unit = synchronized {
    generationCounter.incrementAndGet()
    readCache.filterInPlace { case ((_, d), _) => !d.startsWith(dir) }
  }

  /** Drop cached relations under `dir` after an external write. */
  def invalidateCaches(dir: String): Unit = invalidate(dir)

  /** Canonical store schema for an EMPTY (not-yet-ingested) store: a
    * query against a fresh server must return zero rows like the
    * reference does, not a PATH_NOT_FOUND error (caught by ChaosProbe —
    * every request 400'd until the first ingest landed). */
  private def emptyRelation(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_time", TimestampType),
      StructField("_msg", StringType),
      StructField("fields", MapType(StringType, StringType)),
      StructField("_stream", MapType(StringType, StringType)),
      StructField("_stream_id", StringType),
      StructField("tenant", StringType),
      StructField("_day", DateType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  def read(spark: SparkSession, dir: String): DataFrame = synchronized {
    if (!Fs.exists(s"$dir/logs")) return emptyRelation(spark)
    def build(): DataFrame = {
      val pf = promotedFields(dir)
      val manifest0 = readSchemaManifest(dir)
      // a store that previously had a manifest must not silently fall
      // back to single-footer inference (mixed-store data invisibility):
      // retry once — the atomic renameOver swap makes absence vanishingly
      // rare — and count the fallback when it persists
      val manifest = manifest0.orElse {
        if (!manifestSeen.contains(dir)) None
        else readSchemaManifest(dir).orElse {
          graft.server.Metrics.schemaManifestFallbacks.incrementAndGet()
          None
        }
      }
      manifest.foreach(_ => manifestSeen.add(dir))
      manifest match {
        case Some((manifest, streamFields)) =>
          // manifest-declared schema: the exact union of every writer's
          // shape, so bulk columns AND the protocol `fields` map are both
          // present regardless of which footer inference would sample
          val schema = pf.map(_._1).foldLeft(manifest)((sch, k) =>
            if (sch.fieldNames.contains(k)) sch else sch.add(k, StringType))
          val df = spark.read.schema(schema).parquet(s"$dir/logs")
          foldMixedColumns(
            applyPromotion(df, pf.filter(!_._2).map(_._1)),
            pf.map(_._1).toSet, streamFields)
        case None =>
          val raw = spark.read.parquet(s"$dir/logs")
          if (pf.isEmpty) raw
          else {
            // explicit schema: files written before a promotion lack the
            // column, files written after have it — single-footer
            // inference would silently drop it for everyone
            val schema = pf.map(_._1).foldLeft(raw.schema)((sch, k) =>
              if (sch.fieldNames.contains(k)) sch else sch.add(k, StringType))
            val df = spark.read.schema(schema).parquet(s"$dir/logs")
            // pending keys still live in the map inside unrewritten
            // files — coalesce per row; done keys are physical everywhere
            applyPromotion(df, pf.filter(!_._2).map(_._1))
          }
      }
    }
    readCache.get((spark, s"$dir/logs")) match {
      case Some(df) => df
      case None =>
        // schema inference reads a footer chosen from a directory listing;
        // a lifecycle swap (compaction/retention) can delete that exact
        // file between the listing and the read. Files are immutable, so a
        // fresh listing is consistent — retry the build once. No sleep:
        // this runs under the object lock, and stalling every concurrent
        // reader of every store is worse than the small chance the re-list
        // still sees a mid-delete file (callers' withStaleRetry covers
        // that tail).
        val df =
          try Some(build())
          catch {
            case e: Throwable if isStaleFileError(e) =>
              graft.server.Metrics.staleIndexRetries.incrementAndGet()
              Some(build())
            case e: org.apache.spark.sql.AnalysisException
                if String.valueOf(e.getMessage).contains("UNABLE_TO_INFER_SCHEMA") =>
              // the dir exists but holds no committed parquet yet — the
              // FIRST write's _temporary staging races this read (caught
              // by ChaosProbe). The store is empty RIGHT NOW; do not
              // cache, the next read re-lists after the write commits.
              None
          }
        df match {
          case Some(d) => readCache((spark, s"$dir/logs")) = d; d
          case None => emptyRelation(spark)
        }
    }
  }

  /** The failure came from a file that a lifecycle swap deleted between a
    * directory listing and the read (the reference refcounts parts instead,
    * datadb.go; with immutable parquet the contract is invalidate + retry
    * once). Deliberately narrow — only a real FileNotFound in the cause
    * chain or Spark's FILE_NOT_EXIST error class qualify; loose phrases
    * like "does not exist" could be echoed from client-supplied text. */
  def isStaleFileError(e: Throwable): Boolean = {
    var c = e
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      if (String.valueOf(c.getMessage)
            .contains("FAILED_READ_FILE.FILE_NOT_EXIST")) return true
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  /** Run `f` against the store under `dir`; on a stale-file failure,
    * invalidate the cached relation and retry once against the fresh
    * listing. This is the documented client contract for readers that
    * race a compaction/retention swap (QueryServer applies the same
    * policy inline so it can also check response-commit state). */
  def withStaleRetry[T](dir: String)(f: => T): T =
    try f
    catch {
      case e: Throwable if isStaleFileError(e) =>
        graft.server.Metrics.staleIndexRetries.incrementAndGet()
        invalidate(dir)
        f
    }

  // ------------------------------------------------- hot-field promotion

  /** Manifest of `fields`-map keys promoted to top-level parquet columns
    * (`<dir>/_promoted`, one `name<TAB>pending|done` per line). The
    * reference stores EVERY field as its own column (block columnar
    * layout); a parquet map column can be neither pruned nor predicate-
    * pushed, so hot fields earn real columns: `promoteFields` marks them,
    * every subsequent write materializes them, reads stay correct over the
    * mixed backlog via coalesce, and `Compaction.materializePromotion`
    * rewrites the backlog so the coalesce (and with it the pushdown
    * barrier) disappears. Returns (name, done). */
  def promotedFields(dir: String): Seq[(String, Boolean)] =
    if (!Fs.exists(s"$dir/_promoted")) Nil
    else new String(Fs.readAll(s"$dir/_promoted"), "UTF-8")
      .linesIterator.map(_.trim).filter(_.nonEmpty).map { l =>
        val parts = l.split("\t")
        (parts(0), parts.length > 1 && parts(1) == "done")
      }.toSeq

  private val ReservedCols =
    Set("_time", "_msg", "_stream", "_stream_id", "fields", "tenant", "_day")

  /** Mark `keys` as promoted (state `pending`). Takes effect on the next
    * read/write; no data moves until writes/compaction materialize it. */
  def promoteFields(dir: String, keys: Seq[String]): Unit = {
    keys.foreach(k => require(!ReservedCols.contains(k) && k.nonEmpty,
      s"cannot promote reserved or empty field name '$k'"))
    val cur = promotedFields(dir).toMap
    val merged = (cur ++ keys.filterNot(cur.contains).map(_ -> false)).toSeq.sortBy(_._1)
    writeManifest(dir, merged)
    invalidate(dir)
  }

  private[store] def markPromotionDone(dir: String): Unit = {
    writeManifest(dir, promotedFields(dir).map { case (k, _) => (k, true) })
    invalidate(dir)
  }

  private def writeManifest(dir: String, entries: Seq[(String, Boolean)]): Unit = {
    val body = entries.map { case (k, done) =>
      s"$k\t${if (done) "done" else "pending"}"
    }.mkString("\n")
    val tmp = s"$dir/._promoted_tmp_${java.util.UUID.randomUUID()}"
    Fs.writeAll(tmp, body.getBytes("UTF-8"))
    Fs.delete(s"$dir/_promoted")
    Fs.rename(tmp, s"$dir/_promoted")
  }

  /** Mixed bulk+protocol store view: a bulk load ([[ingest]]) writes its
    * batch's non-reserved columns physically, while protocol appends
    * carry the same field names inside the dynamic `fields` map — so a
    * store that was bulk-loaded and then appended to holds one field in
    * two places, and a plain column read silently misses every appended
    * row's value (found by the 200M soak's lose-nothing check:
    * `event_type:soak` counted 0 of 936k appended rows). When the merged
    * schema shows BOTH a `fields` map and non-reserved non-promoted
    * physical columns, fold each such column through the same
    * string-coalesce + map-strip view pending promotion uses. Pure bulk
    * stores (no map in the schema) and pure protocol stores (only
    * reserved + promoted columns) never reach this — their plans,
    * output types, and parquet pushdown are untouched. On a mixed store
    * the coalesce is a pushdown barrier for those fields, exactly like
    * an unmaterialized promotion — and `promoteFields` +
    * `Compaction.materializePromotion` is the documented way to
    * converge the store and get the pushdown back. Doubles render via
    * GoFloat first so the folded string equals what strF produced from
    * the native column. */
  private def foldMixedColumns(df: DataFrame, promoted: Set[String],
                               streamFields: Set[String]): DataFrame = {
    if (!df.columns.contains("fields")) return df
    val mixed = df.schema.fields.filter(f =>
      !ReservedCols.contains(f.name) && !promoted.contains(f.name) &&
      // stream-field columns are physical on BOTH write paths and both
      // strip them from the map — never mixed, and folding them would
      // cost their pushdown for nothing
      !streamFields.contains(f.name))
    if (mixed.isEmpty) df
    else {
      val rendered = mixed.foldLeft(df) { (d, f) =>
        f.dataType match {
          case DoubleType | FloatType => d.withColumn(f.name,
            graft.functions.GoFloat.render(col("`" + f.name + "`")))
          case _ => d
        }
      }
      applyPromotion(rendered, mixed.map(_.name).toSeq)
    }
  }

  // ---------------------------------------------------------------------
  // store schema manifest (`<dir>/_store_schema.json`)
  // ---------------------------------------------------------------------
  // The union of every writer's data schema plus the store's stream
  // fields — the columnsHeader analogue. Without it, reads and partition
  // compactions infer the schema from ONE parquet footer, and a store
  // holding bulk files (physical batch columns, no `fields` map) next to
  // protocol-append files (fixed columns + `fields` map) silently loses
  // whichever shape the sampled footer lacks — the 200M soak measured
  // 0 of 936k appended rows visible. Bulk loads write it; appends union
  // into it (under the append lock; it only ever grows); reads use it as
  // the explicit schema when present (legacy stores fall back to
  // inference, whose single-shape footers are self-consistent).

  private def schemaManifestPath(dir: String) = s"$dir/_store_schema.json"

  private[graft] def readSchemaManifest(
      dir: String): Option[(StructType, Set[String])] =
    if (!Fs.exists(schemaManifestPath(dir))) None
    else try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(Fs.readAll(schemaManifestPath(dir)), "UTF-8"))
      val schema = DataType.fromJson(root.get("schema").asText())
        .asInstanceOf[StructType]
      val sf = (0 until root.get("streamFields").size())
        .map(i => root.get("streamFields").get(i).asText()).toSet
      Some((schema, sf))
    } catch { case _: Exception => None } // unreadable → inference

  private def writeSchemaManifest(dir: String, schema: StructType,
                                  streamFields: Set[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val body = s"""{"schema": ${q(schema.json)}, "streamFields": [${
      streamFields.toSeq.sorted.map(q).mkString(",")}]}"""
    val tmp = s"$dir/._store_schema_tmp_${java.util.UUID.randomUUID()}"
    Fs.writeAll(tmp, body.getBytes("UTF-8"))
    // atomic swap (ADVICE r14): the previous delete-then-rename left a
    // window where a concurrent read() saw NO manifest, fell back to
    // single-footer inference on a mixed store, and cached the wrong
    // schema until the next write-side invalidate
    Fs.renameOver(tmp, schemaManifestPath(dir))
    manifestSeen.add(dir)
  }

  /** Stores that have EVER shown a schema manifest to this JVM: a later
    * absent/unreadable manifest on such a store is a transient race (or
    * real corruption), not a legacy store — read() retries once and
    * counts the fallback so persistent failure is observable. */
  private val manifestSeen =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Union `written` (one writer's data schema) into `cur`, the manifest
    * as the caller read it under `StoreLocks.logsAppend(dir)` (None: no
    * manifest, or a reset), and write the result when it changed. Every
    * manifest writer holds that lock, so `cur` is still current.
    * First-writer-wins on a name collision: the manifest records what is
    * physically in the files, and files are immutable. */
  private[graft] def recordWrittenSchema(dir: String, written: StructType,
                                         streamFields: Seq[String],
                                         cur: Option[(StructType, Set[String])]): Unit = {
    val (baseSchema, baseSf) = cur.getOrElse((new StructType(), Set.empty[String]))
    val merged = addMissing(baseSchema, written)
    val sf = baseSf ++ streamFields
    if (cur.isEmpty || merged != baseSchema || sf != baseSf)
      writeSchemaManifest(dir, merged, sf)
  }

  /** `base` plus the fields of `more` whose names it lacks, in order. */
  private[graft] def addMissing(base: StructType, more: StructType): StructType =
    more.fields.foldLeft(base)((m, f) =>
      if (m.fieldNames.contains(f.name)) m else m.add(f))

  /** Force manifest entries for `keys` to StringType — called after a
    * promotion MATERIALIZATION physically rewrote every file's promoted
    * column as a string (applyPromotion's cast): first-writer-wins must
    * not keep claiming the old numeric type for files that no longer
    * hold it, or the explicit-schema read throws
    * PARQUET_COLUMN_DATA_TYPE_MISMATCH at query time (ADVICE r14). */
  private[graft] def overrideManifestStringTypes(dir: String,
                                                 keys: Seq[String]): Unit = {
    readSchemaManifest(dir).foreach { case (schema, sf) =>
      val ks = keys.toSet
      val updated = StructType(schema.fields.map(f =>
        if (ks.contains(f.name) && f.dataType != StringType)
          f.copy(dataType = StringType)
        else f))
      if (updated != schema) writeSchemaManifest(dir, updated, sf)
    }
  }

  /** Cast `df`'s columns to the types of `cur`, the store manifest as
    * read under the append lock, where they differ. Parquet cannot serve
    * two physical types under one column name across files
    * (PARQUET_COLUMN_DATA_TYPE_MISMATCH — verified, both readers), so
    * the FIRST writer's physical type is canonical and
    * later appenders conform their data before writing: string→numeric
    * through try_cast (unparseable → null), numeric→string through the
    * same GoFloat rendering strF uses. Incompatible shapes (map/struct
    * collisions) pass through unchanged — first-writer-wins stands and
    * the conform counter makes the collision observable. */
  private[graft] def conformToManifest(
      df: DataFrame, cur: Option[(StructType, Set[String])]): DataFrame =
    cur match {
      case None => df
      case Some((manifest, _)) =>
        def scalar(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
          case _: MapType | _: ArrayType | _: StructType => false
          case _ => true
        }
        val byName = manifest.fields.iterator.map(f => f.name -> f.dataType).toMap
        df.schema.fields.foldLeft(df) { (d, f) =>
          byName.get(f.name) match {
            case Some(t) if t == f.dataType => d
            case Some(StringType) if scalar(f.dataType) =>
              graft.server.Metrics.schemaConformCasts.incrementAndGet()
              val c = col("`" + f.name + "`")
              d.withColumn(f.name, f.dataType match {
                case DoubleType | FloatType => graft.functions.GoFloat.render(c)
                case _ => c.cast(StringType)
              })
            case Some(t) if scalar(t) && scalar(f.dataType) =>
              graft.server.Metrics.schemaConformCasts.incrementAndGet()
              d.withColumn(f.name, col("`" + f.name + "`").try_cast(t))
            case _ => d
          }
        }
    }

  /** Parquet column-bloom write options for the store's high-cardinality
    * string columns (nd ≥ 50k per FieldNameMeta) — the ROW-GROUP-level
    * pruning layer under the file-level token sidecars: with the exact/
    * in/prefix filters compiling to bare-column PushedFilters, the
    * parquet reader skips row groups whose bloom rejects the needle
    * (2.9× on a needle-in-one-row-group scan, 3d3968b; the
    * reference's analogue is its per-8M-row-block bloom,
    * block_header.go:584-615). Sorted columns (_stream_id) and _msg
    * (token sidecar's job, not equality-probed) are excluded; min/max
    * column indexes already serve low-cardinality columns. */
  private[graft] def bloomWriteOptions(dir: String,
                                       schema: StructType): Map[String, String] = {
    val nd = scala.collection.mutable.Map.empty[String, Long]
    FieldNameMeta.load(dir).values.foreach(_.foreach { case (f, s) =>
      nd.updateWith(f)(v => Some(math.max(v.getOrElse(-1L), s.nd)))
    })
    schema.fields.iterator
      .filter(f => f.dataType == StringType &&
        !Set("_msg", "_stream_id", "tenant").contains(f.name) &&
        nd.getOrElse(f.name, -1L) >= 50000L)
      .flatMap(f => Seq(
        s"parquet.bloom.filter.enabled#${f.name}" -> "true",
        // whole-part nd as the per-row-group NDV hint: an overestimate
        // only oversizes the bitmap, and parquet.bloom.filter.max.bytes
        // (1 MiB default) caps it per row group
        s"parquet.bloom.filter.expected.ndv#${f.name}" ->
          String.valueOf(math.min(nd(f.name), 10000000L))))
      .toMap
  }

  /** Project promoted keys out of the `fields` map into top-level string
    * columns (coalescing with an existing physical column when present)
    * and drop them from the map — the invariant every promoted-store
    * reader and writer shares. */
  private[graft] def applyPromotion(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty || !df.columns.contains("fields")) df
    else {
      val withCols = keys.foldLeft(df) { (d, k) =>
        val top =
          if (d.columns.contains(k)) col("`" + k + "`").cast(StringType)
          else lit(null).cast(StringType)
        d.withColumn(k, coalesce(top, element_at(col("fields"), k)))
      }
      withCols.withColumn("fields",
        map_filter(col("fields"), (kk, _) => !kk.isin(keys: _*)))
    }

  def streams(spark: SparkSession, dir: String): DataFrame = synchronized {
    readCache.getOrElseUpdate((spark, s"$dir/streams"),
      spark.read.parquet(s"$dir/streams"))
  }

  /** Days present in the store, newest first (Hadoop FS walk — works on
    * hdfs:// and s3a:// stores, not just local disk). */
  def listDays(dir: String): Seq[String] = {
    Fs.list(s"$dir/logs")
      .filter(_.isDirectory)
      .flatMap(t => Fs.list(t.getPath.toString))
      .map(_.getPath.getName).filter(_.startsWith("_day="))
      .map(_.stripPrefix("_day=")).distinct.sorted.reverse
  }

  /** All (tenant, day) parts present on disk, as sidecar part keys
    * ("tenant=0:0/_day=2024-01-05", path-unescaped). Sidecar readers use
    * this to check a metadata file COVERS the store before trusting it:
    * an entry can be missing because an append invalidated it, and a
    * verdict built from the remaining entries would silently misclassify
    * the uncovered part's rows. Cached per store generation — every
    * write/compaction/retention bumps the generation, so the listing is
    * re-walked at most once per mutation. */
  def listPartKeys(dir: String): Set[String] = {
    val gen = generation
    partKeysCache.synchronized(partKeysCache.get(dir)) match {
      case Some((g, v)) if g == gen => v
      case _ =>
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
        val keys = Fs.list(s"$dir/logs")
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("tenant="))
          .flatMap { t =>
            Fs.list(t.getPath.toString)
              .filter(d => d.isDirectory && d.getPath.getName.startsWith("_day="))
              .map(d => s"${unescapePathName(t.getPath.getName)}/" +
                unescapePathName(d.getPath.getName))
          }.toSet
        partKeysCache.synchronized { partKeysCache(dir) = (gen, keys) }
        keys
    }
  }

  private val partKeysCache =
    scala.collection.mutable.Map.empty[String, (Long, Set[String])]

  /** Data-file names of one part (sidecar readers check a per-file
    * verdict set covers the part's CURRENT files before trusting it).
    * Cached per store generation like [[listPartKeys]]. */
  def listPartFiles(dir: String, partKey: String): Set[String] = {
    val gen = generation
    partFilesCache.synchronized(partFilesCache.get((dir, partKey))) match {
      case Some((g, v)) if g == gen => v
      case _ =>
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
        val i = partKey.lastIndexOf("/_day=")
        val tenant = partKey.substring("tenant=".length, i)
        val day = partKey.substring(i + "/_day=".length)
        val pdir = s"$dir/logs/tenant=${escapePathName(tenant)}/_day=${escapePathName(day)}"
        val files = Fs.list(pdir).collect {
          case f if f.isFile && f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_") =>
            f.getPath.getName
        }.toSet
        partFilesCache.synchronized { partFilesCache((dir, partKey)) = (gen, files) }
        files
    }
  }

  private val partFilesCache =
    scala.collection.mutable.Map.empty[(String, String), (Long, Set[String])]

  /** Newest-first last-N descent (CanReturnLastNResults parser.go:470 +
    * getLastNQueryResults logsql.go:1005-1074): for "latest N matching
    * rows" queries, scan the newest day partitions first and widen
    * (doubling) until N rows are found — a needle query over years of
    * retention touches days, not the table. Returns the rows plus the
    * number of days actually scanned. */
  /** CanReturnLastNResults gate (parser.go:470-500): pipes that aggregate,
    * reorder, or change cardinality make an early return over a partial
    * newest-days window silently WRONG — those queries must full-scan.
    * Conformance: the reference's TestQueryCanReturnLastNResults table
    * (LastNConformanceSpec); deliberately STRICTER than the reference on
    * bare unpack_json/unpack_logfmt (dynamic keys can overwrite `_time`,
    * and this descent re-sorts by the _time COLUMN after pipes run,
    * whereas the reference orders by the storage timestamp). */
  private[graft] def canReturnLastN(q: graft.logql.Query): Boolean =
    q.pipes.forall(lastNSafe)

  private def lastNSafe(p: graft.logql.Pipe): Boolean = {
    import graft.logql.Pipe._
    def matchesTime(fs: Seq[String]): Boolean =
      fs.exists(f => f == "_time" ||
        (f.endsWith("*") && "_time".startsWith(f.dropRight(1))))
    p match {
      case BlockStats | _: BlocksCount | _: Facets | _: FieldNames |
           _: FieldValues | _: Join | _: Limit | _: Offset | _: Top |
           _: Sample | _: Sort | _: Stats | _: Union | _: Uniq |
           _: StreamContext => false
      case Fields(fs) => matchesTime(fs)
      case Delete(fs) => !matchesTime(fs)
      // pipes that rename _time away or overwrite it with computed values
      // break the descent's newest-by-_time ordering. The reference's gate
      // stops at fields/delete (parser.go:470-500) because it orders by the
      // STORAGE timestamp; this descent re-sorts by the _time COLUMN after
      // the pipes ran, so every static write target must be checked, and
      // dynamic-key unpacks are conservatively unsafe
      case Rename(ps) =>
        !ps.exists(p => matchesTime(Seq(p._1)) || matchesTime(Seq(p._2)))
      case Copy(ps) => !ps.exists(p => matchesTime(Seq(p._2)))
      case Math(es) => !es.exists(_._2 == "_time")
      case f: Format => f.out != "_time"
      case Len(_, out) => out != "_time"
      case Hash(_, out) => out != "_time"
      case JsonArrayLen(_, out) => out != "_time"
      case UnpackWords(_, out, _, _) => out != "_time"
      case Replace(_, _, at, _, _) => at != "_time"
      case ReplaceRegexp(_, _, at, _, _) => at != "_time"
      case e: Extract => !e.steps.exists(_.field.contains("_time"))
      case er: ExtractRegexp => !er.re.contains("_time")
      case u: UnpackJson =>
        u.fieldsList.nonEmpty &&
          !u.fieldsList.exists(f => matchesTime(Seq(u.prefix + f)))
      case u: UnpackLogfmt =>
        u.fieldsList.nonEmpty &&
          !u.fieldsList.exists(f => matchesTime(Seq(u.prefix + f)))
      case PackJson(out, _) => out != "_time"
      case PackLogfmt(out, _) => out != "_time"
      // in-place rewrites: the field keeps its name but holds new values
      case Decolorize(f) => f != "_time"
      case CollapseNums(f, _, _) => f != "_time"
      case Unroll(fs, _) => !fs.contains("_time")
      case s: UnpackSyslog =>
        !Seq("timestamp", "hostname", "app_name", "proc_id", "msg_id",
             "message", "priority", "facility", "severity", "format")
          .exists(n => s.prefix + n == "_time")
      case _ => true
    }
  }

  def lastN(spark: SparkSession, dir: String, filterText: String,
            n: Int): (org.apache.spark.sql.DataFrame, Int) = {
    val nowNs = System.currentTimeMillis() * 1000000L
    lastN(spark, dir, graft.logql.Parser.parse(filterText, nowNs), n, nowNs)
  }

  /** Query-AST form, used by the HTTP endpoint: `scope` is applied to the
    * store relation before compiling (tenant filters must bind to the
    * SOURCE so subqueries stay scoped too — see QueryServer.scopedSource). */
  def lastN(spark: SparkSession, dir: String, q: graft.logql.Query, n: Int,
            nowNs: Long,
            scope: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity)
      : (org.apache.spark.sql.DataFrame, Int) = {
    val days = listDays(dir)
    val logs = scope(read(spark, dir))
    // the full-scan path is the reference's CanReturnLastNResults=false
    // branch: newest-N semantics do NOT apply — the limit is a plain head
    // over the query's own output, so a `| sort by (value)` keeps its
    // sorted prefix instead of being re-ordered by _time
    def fullScan(): org.apache.spark.sql.DataFrame =
      graft.logql.Compiler.run(logs, q, nowNs).limit(n)
    if (!canReturnLastN(q)) return (fullScan(), days.length)
    var take = 1
    while (take < days.length) {
      val window = days.take(take)
      val sub = logs.filter(col("_day").isin(window: _*))
      val res0 = graft.logql.Compiler.run(sub, q, nowNs)
      // belt-and-suspenders: a pipe the static gate admits can still drop
      // _time (unpack writing over it, etc.) — fall back rather than throw
      if (!res0.columns.contains("_time")) return (fullScan(), days.length)
      val res = res0.orderBy(col("_time").desc).limit(n)
      // one execution per descent step: the window is already limited to
      // ≤n rows, so materialize it once and hand back a local relation
      // instead of returning the plan for the caller to re-execute
      val rows = res.collect()
      if (rows.length >= n)
        return (spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), res.schema), take)
      take = math.min(take * 2, days.length)
    }
    (fullScan(), days.length)
  }

  // ---------------------------------------------------------- dev helpers

  private val built = scala.collection.mutable.Set.empty[String]

  /** Idempotently materialize the driver `events` table as a log store
    * (streams keyed by event_type). Shared by CORRECTNESS entries and
    * tests; one write per (sfDir, JVM). */
  def ensureFromEvents(spark: SparkSession, sfDir: String): String = synchronized {
    val name = new org.apache.hadoop.fs.Path(sfDir).getName
    // bump the version segment whenever the layout changes — stale stores
    // from previous builds must not satisfy the marker check
    // v2: bulk loads end with a small-file merge (below)
    // v3: ingest writes the value-type sidecar (ValueTypeMeta)
    // v4: _stream/_stream_id omit absent/empty stream fields
    //     (canonicalStream/streamMapCol — key-concepts conformance)
    // v5: _stream_id carries the tenant hex prefix (stream_id.go:12-24 —
    //     equal label sets in different tenants must not share an id)
    // v6: ingest writes the field-name hit-count sidecar (FieldNameMeta)
    // v7: FieldNameMeta v2 — nd/maxlen/dicts for the facets assist
    val dir = s"/root/repo/target/graft_store/v7/$name"
    if (!built.contains(dir) && !Fs.exists(s"$dir/logs/_SUCCESS")) {
      ingest(graft.Tables.eventsLog(spark, sfDir), dir, Seq("event_type"))
      // merge the write-parallelism salt's small files per day partition —
      // the reference background-merges freshly flushed parts the same way
      // (datadb.go:210-259), and every subsequent scan of the store pays
      // per-file open cost. Partitions already at target size are left
      // alone by the size gate, so a genuinely large bulk load is not
      // rewritten.
      Compaction.optimize(spark, dir, minFilesToCompact = 2,
        skipAtTargetSize = true)
    }
    built += dir
    dir
  }
}
