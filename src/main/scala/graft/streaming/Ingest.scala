package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.FlushInstant
import graft.store.LogStore

/** M6 streaming ingestion: Structured Streaming sources parsed with the
  * same expressions the unpack_* pipes use, written through the LogStore
  * layout via foreachBatch (SURVEY §2.4; reference app/vlinsert).
  *
  * Protocol parsers are pure `DataFrame => DataFrame` transforms over a
  * `value: String` line column, so they serve both the streaming path and
  * one-shot batch backfills.
  */
object Ingest {

  /** JSON-lines payload (app/vlinsert/jsonline/jsonline.go): one object
    * per line; `_time`/`_msg` are special, everything else lands in the
    * `fields` map (keyConcepts.md:16-120 schemaless model). Lines that
    * fail to parse are logged and DROPPED like the reference
    * (jsonline_test.go "invalid lines among valid lines" golden). */
  def parseJsonline(lines: DataFrame, timeField: String = "_time",
                    msgField: String = "_msg"): DataFrame =
    parseJsonlineMulti(lines, splitFields(timeField), splitFields(msgField))

  /** `_time_field`/`_msg_field` accept comma-separated FALLBACK lists
    * (insertutil common_params.go:55-60 GetArray; apptest key_concepts
    * cases 2 and 4): per row, the first listed field that is present
    * wins and is consumed; the others stay ordinary fields. */
  private[graft] def splitFields(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  def parseJsonlineMulti(lines: DataFrame, timeFields: Seq[String],
                         msgFields: Seq[String]): DataFrame =
    // reference logjson shape (json_parser.go appendLogFields): nested
    // objects flatten into dot-separated field names, duplicate keys
    // first-wins, arrays keep their raw JSON — the same JsonFlatten
    // kernel unpack_json uses, so ingest and query agree byte-for-byte.
    // One parse per line: the generator picks the time/msg keys and
    // drops malformed lines itself (see JsonLineGen)
    lines.select(graft.functions.JsonFlattenExpr.jsonLines(
        col("value"), timeFields, msgFields))
      .select(
        // reference-exact ingest timestamp parse (insertutil.parseTimestamp:
        // RFC3339Nano incl. SQL datetimes + magnitude-inferred unix values —
        // try_cast silently dropped unix timestamps to ingestion time);
        // unparseable values still degrade to now (lenient deviation: the
        // reference 400s the request)
        coalesce(graft.functions.GoTime.parseCol(col("time")),
          FlushInstant.now()).as("_time"),
        col("_msg"), col("fields"))

  /** Syslog RFC3164/RFC5424 lines via the unpack_syslog expressions
    * (syslog_parser.go; app/vlinsert/syslog/syslog.go:38-60). */
  def parseSyslog(lines: DataFrame): DataFrame = {
    // the progressive parser yields a field MAP (incl. dynamic
    // structured-data keys — they all ingest as fields)
    val unpacked = graft.logql.Compiler.applyUnpackSyslog(
      lines.withColumnRenamed("value", "_msg"), "_msg", "")
    val f = col("fields")
    unpacked.select(
      coalesce(element_at(f, "timestamp").try_cast("timestamp"),
        FlushInstant.now()).as("_time"),
      coalesce(element_at(f, "message"), lit("")).as("_msg"),
      map_filter(f, (k, _) =>
        k =!= "timestamp" && k =!= "message").as("fields"))
  }

  /** Elasticsearch bulk payload (app/vlinsert/elasticsearch/
    * elasticsearch.go): action metadata lines are dropped, document lines
    * parse like jsonline with `@timestamp`/`message` as the specials. */
  def parseElasticsearchBulk(lines: DataFrame,
                             timeField: String = "@timestamp",
                             msgField: String = "message"): DataFrame = {
    val isAction = col("value").rlike(
      """^\s*\{\s*"(index|create|update|delete)"\s*:""")
    parseJsonline(lines.filter(!isAction), timeField, msgField)
  }

  /** Loki push JSON payload (app/vlinsert/loki/loki_json.go):
    * `{"streams":[{"stream":{labels},"values":[["<ts>","line",{meta}],
    * ...]}]}` — one input row per POST body, exploded to one row per log
    * line. Timestamps parse with the reference's lenient unix parser
    * (parseLokiTimestamp → timeutil.TryParseUnixTimestamp: plain nanos,
    * fractional seconds like "1686026123.62", scientific "147.78369e9";
    * empty → ingestion time). The optional third tuple element is
    * Loki structured metadata — its keys merge into the fields after the
    * stream labels (loki_json.go:156-170). */
  def parseLokiJson(payloads: DataFrame): DataFrame = {
    // the third tuple element is a JSON OBJECT; with a StringType target
    // Spark's JSON parser captures it as its raw JSON text
    val schema = StructType(Seq(StructField("streams", ArrayType(StructType(Seq(
      StructField("stream", MapType(StringType, StringType)),
      StructField("values", ArrayType(ArrayType(StringType)))))))))
    payloads
      .select(explode(from_json(col("value"), schema).getField("streams")).as("s"))
      // duplicate label keys inside one stream object: dedup first-wins
      // so the stored fields map never poisons later map rebuilds. The
      // labels are taken BEFORE the values explode: computed beside the
      // explode, they keep the whole stream `s` in every exploded row,
      // and copying it out per row made a one-stream body quadratic
      // (4000 values did not fit a 1 GiB heap)
      .select(graft.functions.MapOps.dedupKeysFirst(col("s.stream")).as("labels"),
        col("s.values").as("values"))
      .select(col("labels"), explode(col("values")).as("v"))
      .select(
        coalesce(graft.functions.GoTime.parseCol(coalesce(
          col("v").getItem(0), lit(""))), FlushInstant.now()).as("_time"),
        coalesce(col("v").getItem(1), lit("")).as("_msg"),
        graft.functions.MapOps.concatLastWins(
          col("labels"),
          coalesce(
            from_json(get(col("v"), lit(2)), MapType(StringType, StringType)),
            map().cast(MapType(StringType, StringType)))).as("fields"))
  }

  /** OpenTelemetry logs JSON payload (app/vlinsert/opentelemetry/
    * opentelemetry.go): resourceLogs → scopeLogs → logRecords. */
  def parseOtlpJson(payloads: DataFrame): DataFrame = {
    val attr = StructType(Seq(
      StructField("key", StringType),
      StructField("value", StructType(Seq(StructField("stringValue", StringType))))))
    val schema = StructType(Seq(StructField("resourceLogs", ArrayType(StructType(Seq(
      StructField("resource", StructType(Seq(StructField("attributes", ArrayType(attr))))),
      StructField("scopeLogs", ArrayType(StructType(Seq(
        StructField("logRecords", ArrayType(StructType(Seq(
          StructField("timeUnixNano", StringType),
          StructField("severityText", StringType),
          StructField("body", StructType(Seq(StructField("stringValue", StringType)))),
          StructField("attributes", ArrayType(attr))))))))))))))))
    payloads
      .select(explode(from_json(col("value"), schema).getField("resourceLogs")).as("rl"))
      .select(col("rl.resource.attributes").as("res_attrs"),
        explode(col("rl.scopeLogs")).as("sl"))
      .select(col("res_attrs"), explode(col("sl.logRecords")).as("r"))
      .select(
        timestamp_micros((col("r.timeUnixNano").cast(LongType) / 1000L).cast(LongType)).as("_time"),
        coalesce(col("r.body.stringValue"), lit("")).as("_msg"),
        // defined LAST_WIN precedence (resource attrs < record attrs <
        // severity): repeated attribute keys — legal OTLP, e.g. the same
        // key on resource AND record — previously threw DUPLICATED_MAP_KEY
        // out of map_concat/map_from_entries and failed the batch
        graft.functions.MapOps.concatLastWins(
          attrsToMap(col("res_attrs")),
          attrsToMap(col("r.attributes")),
          when(col("r.severityText").isNotNull,
            map(lit("severity"), col("r.severityText")))
            .otherwise(map().cast(MapType(StringType, StringType)))).as("fields"))
  }

  private def attrsToMap(attrs: org.apache.spark.sql.Column) =
    coalesce(
      graft.functions.MapOps.entriesLastWins(transform(attrs, a =>
        struct(a.getField("key").as("key"),
               coalesce(a.getField("value").getField("stringValue"), lit("")).as("value")))),
      map().cast(MapType(StringType, StringType)))

  /** DataDog logs JSON payload (app/vlinsert/datadog/datadog.go): an array
    * of `{message, ddtags, hostname, service, ...}` objects. */
  def parseDatadogJson(payloads: DataFrame): DataFrame = {
    // Each record keeps ALL its keys as fields verbatim (datadog.go:185-250
    // default branch — ddsource/hostname/service/anything); specials:
    //  - message: a string becomes _msg; the serverless nested-object form
    //    maps message.message → _msg, message.status → status, and
    //    message.lamdba.* → bare lambda keys (appendMsgFields, :114-170);
    //  - timestamp: millis (>0) replace the ingestion time;
    //  - ddtags "k:v,k2:v2": split on ','/':'; a value-less tag reads
    //    "no_label_value".
    // Records parse as raw JSON strings and flatten with the shared
    // logjson kernel, so nested shapes need no fixed schema.
    val m = graft.functions.JsonFlattenExpr.flattenColStrict(col("r"))
    val emptyMap = map().cast(MapType(StringType, StringType))
    val ddtags = coalesce(
      graft.functions.MapOps.entriesLastWins(transform(
        filter(split(coalesce(element_at(m, "ddtags"), lit("")), ","),
          t => t =!= ""),
        t => struct(
          substring_index(t, ":", 1).as("key"),
          when(t.contains(":"), regexp_replace(t, "^[^:]*:", ""))
            .otherwise(lit("no_label_value")).as("value")))),
      emptyMap)
    val lambdaFields = graft.functions.MapOps.entriesLastWins(
      filter(transform(map_entries(m), e =>
        struct(
          when(e.getField("key").startsWith("message.lamdba."),
            substring(e.getField("key"), 16, Int.MaxValue)).as("key"),
          e.getField("value").as("value"))),
        e => e.getField("key").isNotNull))
    val statusMap = when(element_at(m, "message.status").isNotNull,
      map(lit("status"), element_at(m, "message.status"))).otherwise(emptyMap)
    val others = map_filter(m, (k, _) =>
      k =!= "message" && !k.startsWith("message.") &&
      k =!= "timestamp" && k =!= "ddtags")
    payloads
      .select(explode(from_json(col("value"), ArrayType(StringType))).as("r"))
      .select(
        coalesce(
          when(element_at(m, "timestamp").try_cast("long") > 0,
            timestamp_micros(element_at(m, "timestamp").try_cast("long") * 1000L)),
          FlushInstant.now()).as("_time"),
        coalesce(element_at(m, "message.message"),
          element_at(m, "message"), lit("")).as("_msg"),
        graft.functions.MapOps.concatLastWins(
          others, statusMap, coalesce(lambdaFields, emptyMap), ddtags)
          .as("fields"))
  }

  /** journald export format (app/vlinsert/journald/journald.go): entries
    * are blank-line-separated `FIELD=value` blocks; `value` carries one
    * block per row (pre-split by the transport). */
  def parseJournaldExport(blocks: DataFrame): DataFrame = {
    val pairs = filter(split(col("value"), "\n"), l => l.contains("="))
    // journald entries may legally repeat a FIELD — last wins instead of
    // a DUPLICATED_MAP_KEY batch failure
    val m = graft.functions.MapOps.entriesLastWins(transform(pairs, l =>
      struct(substring_index(l, "=", 1).as("key"),
             regexp_replace(l, "^[^=]*=", "").as("value"))))
    blocks.select(
      coalesce(
        timestamp_micros(element_at(m, "__REALTIME_TIMESTAMP").try_cast("long")),
        FlushInstant.now()).as("_time"),
      coalesce(element_at(m, "MESSAGE"), lit("")).as("_msg"),
      map_filter(m, (k, _) =>
        k =!= "MESSAGE" && k =!= "__REALTIME_TIMESTAMP").as("fields"))
  }

  /** Promote stream label fields out of the `fields` map so LogStore can
    * derive `_stream_id` from them. */
  private def promote(df: DataFrame, streamFields: Seq[String]): DataFrame = {
    val withCols = streamFields.foldLeft(df)((d, f) =>
      d.withColumn(f, coalesce(element_at(col("fields"), f), lit(""))))
    // the labels now live in real columns; keeping the map copy would
    // store every label twice AND double-count it in field_names (the
    // reference stores a stream field once — storage_search_test.go
    // field_names-all pins hits == rows for stream fields)
    if (streamFields.isEmpty) withCols
    else withCols.withColumn("fields",
      map_filter(col("fields"), (k, _) => !k.isin(streamFields: _*)))
  }

  /** Append one parsed micro-batch into the store layout (the streaming
    * counterpart of LogStore.ingest, mode=append). Rows beyond
    * `maxFutureDays` are dropped (storage.go's maxAllowedDay bound): a
    * corrupt client timestamp must not create stray far-future day
    * partitions that retention would keep alive for years.
    *
    * By default the rows are salted across the session's shuffle width
    * before the write. With `salt = false` each partition of `parsed` is
    * written by the task that parsed it: one Spark job, no exchange
    * (GroupCommitter does this for a batch it parses in one slice). */
  def appendBatch(parsed: DataFrame, dir: String, streamFields: Seq[String],
                  tenant: String = "0:0", salt: Boolean = true,
                  maxFutureDays: Int = 2): Unit = {
    val sorted = streamFields.sorted
    // one instant for the whole batch, held by reference so the generated
    // code does not change from flush to flush (see FlushInstant)
    val now = FlushInstant.now()
    // null _time (missing/unparseable client timestamps — Loki JSON, OTLP
    // JSON) defaults to now, like the reference substitutes the current
    // time for zero timestamps; without the coalesce the bound predicate
    // evaluates to null and silently DROPS those rows
    val bounded = parsed
      .withColumn("_time", coalesce(col("_time"), now))
      .filter(col("_time") <= now + expr(s"INTERVAL $maxFutureDays DAYS"))
    val withMeta0 = graft.store.LogStore.applyPromotion(
        promote(bounded, sorted),
        graft.store.LogStore.promotedFields(dir).map(_._1))
      .withColumn("_stream", LogStore.streamMapCol(sorted))
      .withColumn("_stream_id", LogStore.streamIdCol(sorted, tenant))
      .withColumn("tenant", lit(tenant))
      .withColumn("_day", to_date(col("_time")))
    // withMeta is deliberately NOT cached: the only second consumer (the
    // streams-table upsert below) is skipped on steady-state flushes
    // entirely, and when it does run it re-parses one micro-batch —
    // cheaper than serializing every flush's map-typed rows into the
    // block store
    // serialized per store: concurrent appends of one path share the
    // FileOutputCommitter staging dir and corrupt each other (see
    // StoreLocks.logsAppend) — the group committer already serializes the
    // HTTP protocols, this covers cross-path concurrency (syslog TCP/UDP
    // flushers, test backfills) too
    graft.store.StoreLocks.logsAppend(dir).synchronized {
      // the manifest is read ONCE, inside the lock: a protocol append onto
      // a bulk store whose manifest records a colliding column (stream
      // field, promoted key) under a different physical type must write
      // the manifest's type — parquet cannot serve two physical types
      // under one name — and every manifest writer (this one, the bulk
      // overwrite, promotion's type override) holds this same lock, so
      // the copy read here stays current through the union below
      val manifest = graft.store.LogStore.readSchemaManifest(dir)
      val withMeta = graft.store.LogStore.conformToManifest(withMeta0, manifest)
      // the /metrics ingested-rows count AND the batch's distinct stream
      // ids ride along as observed metrics instead of costing separate jobs
      val obs = org.apache.spark.sql.Observation()
      // the touched-part set rides the same observe (one tiny
      // collect_set): an append STALES those parts' value-type verdicts,
      // which are invalidated after the commit and re-classified exactly
      // by the next compaction of the part (ValueTypeMeta — classifying
      // here cost ~35% of flush throughput, measured)
      val observed = withMeta
        .observe(obs, count(lit(1)).as("rows"),
          collect_set(col("_stream_id")).as("sids"),
          graft.store.ValueTypeMeta.partsAgg)
      // writer width: the encode+zstd stage is the CPU-bound part of a
      // wide flush, so salt it across the session's shuffle width (≈
      // cluster write slots) — a 4-way salt left 28 of 32 cores idle
      // (measured ~2x slower flushes). Background compaction (lifecycle
      // optimize / force_merge) merges flush files down, the same
      // small-parts-then-merge shape as the reference's datadb.
      val spread =
        if (!salt) observed
        else observed.repartition(col("tenant"), col("_day"),
          pmod(xxhash64(col("_stream_id")), lit(math.max(4,
            parsed.sparkSession.sessionState.conf.numShufflePartitions))))
      // the partition columns lead the sort: the planned write needs rows
      // grouped by them and would otherwise put its own Sort [_day] on
      // top, which replaces the (_stream_id, _time) order. The observe
      // hides that `tenant` is a constant, so the check requires it too
      // (contrast LogStore.ingest)
      spread
        .sortWithinPartitions(col("tenant"), col("_day"), col("_stream_id"),
          col("_time"))
        .write.mode("append")
        .option("compression", graft.store.LogStore.ParquetCodec)
        .partitionBy("tenant", "_day")
        .parquet(s"$dir/logs")
      // only read after a successful write — get blocks until the
      // observed action completes
      graft.server.Metrics.rowsIngested.addAndGet(
        obs.get("rows").asInstanceOf[Long])
      // schema manifest: union this writer's shape in (no-op write once
      // stable) so reads see bulk columns AND the fields map on stores
      // that mix bulk loads with protocol appends. First append to a
      // LEGACY store (no manifest yet): seed with a one-time mergeSchema
      // sweep of the whole store — a partial manifest seeded from this
      // append alone would HIDE the legacy bulk columns from reads.
      // Best-effort: the sweep can race a background compaction swap
      // (stale-retried once, the standard contract), and no seeding
      // failure may fail the FLUSH — the rows are committed either way
      // and the next flush re-attempts the seed.
      try {
        val written =
          if (manifest.isDefined) withMeta.schema
          else graft.store.LogStore.addMissing(
            graft.store.LogStore.withStaleRetry(dir)(
              parsed.sparkSession.read.option("mergeSchema", "true")
                .parquet(s"$dir/logs").schema),
            withMeta.schema)
        graft.store.LogStore.recordWrittenSchema(dir, written, sorted, manifest)
      } catch { case e: Exception =>
        // counted, not just logged: persistent failure means reads of a
        // mixed store silently fall back to single-footer inference —
        // the exact data-invisibility shape the manifest exists to
        // prevent (ADVICE r14; surfaced in /metrics and the soak checks)
        graft.server.Metrics.schemaManifestUpdateFailures.incrementAndGet()
        System.err.println(s"[ingest] schema-manifest update failed " +
          s"(will retry next flush): ${e.getMessage}")
      }
      graft.store.ValueTypeMeta.invalidateParts(dir, obs.get(_))
      // field-name counts go stale the same way (additive in principle,
      // but the flush path stays job-free); compaction re-counts exactly
      graft.store.FieldNameMeta.invalidateParts(dir, obs.get(_))
      val sids = obs.get("sids").asInstanceOf[Seq[_]].map(String.valueOf)
      // steady-state flushes carry only already-registered streams — skip
      // the per-flush streams-table job entirely then. The in-memory set
      // is an optimization, not the truth: on restart it is empty and one
      // redundant append happens per stream, which readers already
      // tolerate (appends were never deduped ACROSS flushes) and lifecycle
      // dedupStreams consolidates.
      if (hasNewStreams(dir, sids)) {
        // serialized against lifecycle dedup/prune swaps of the same dir
        // (see StoreLocks.streams) — an unlocked append can be wiped by a
        // concurrent snapshot-and-swap rewrite
        graft.store.StoreLocks.streams(dir).synchronized {
          // the 1-wide repartition's HashPartitioning(_stream_id) satisfies
          // the dedup's required distribution, so the partial aggregate runs
          // parallel on the cached batch and only distinct pairs move — vs
          // dropDuplicates alone paying a full-width exchange per flush
          withMeta.select(col("_stream_id"), col("_stream"))
            .repartition(1, col("_stream_id"))
            .dropDuplicates("_stream_id")
            .write.mode("append")
            .option("compression", graft.store.LogStore.ParquetCodec)
            .parquet(s"$dir/streams")
        }
        registerStreams(dir, sids)
      }
    }
    LogStore.invalidateCaches(dir)
  }

  // per-store set of stream ids known to be in the streams table; bounded
  // so a pathological stream-id churn can't grow driver memory forever
  // (overflow clears → worst case is redundant appends, as on restart)
  private val knownStreams =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
  private val MaxKnownStreams = 1000000

  private def hasNewStreams(dir: String, sids: Seq[String]): Boolean =
    knownStreams.synchronized {
      val known = knownStreams.getOrElseUpdate(dir,
        scala.collection.mutable.Set.empty[String])
      sids.exists(!known.contains(_))
    }

  /** Called by lifecycle jobs that REMOVE streams rows (pruneStreams):
    * a pruned stream that starts emitting again must re-register. */
  def forgetKnownStreams(dir: String): Unit =
    knownStreams.synchronized { knownStreams.remove(dir) }

  private def registerStreams(dir: String, sids: Seq[String]): Unit =
    knownStreams.synchronized {
      val known = knownStreams.getOrElseUpdate(dir,
        scala.collection.mutable.Set.empty[String])
      if (known.size + sids.size > MaxKnownStreams) known.clear()
      known ++= sids
    }

  /** Structured-Streaming live tail over the store layout: a streaming
    * parquet source on `<dir>/logs` (new files appear as micro-batch rows)
    * filtered through the same LogsQL compiler the batch path uses — the
    * Spark-native counterpart of the HTTP poll tail (logsql.go:497).
    * Filter-shaped queries run in append mode; aggregating pipes need the
    * caller to pick an output mode that supports them. */
  def tailStream(spark: SparkSession, dir: String,
                 filterText: String): DataFrame = {
    val schema = graft.store.LogStore.read(spark, dir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("basePath", s"$dir/logs")
      .parquet(s"$dir/logs")
    graft.logql.Compiler.run(stream, filterText)
  }

  /** Streaming windowed stats over the store: the Structured-Streaming
    * counterpart of `| stats by (_time:step, groupFields...) count()`.
    * New files stream in as micro-batches, pass the LogsQL FILTER, and
    * aggregate into event-time tumbling windows with a watermark bounding
    * state — the piece the reference lacks entirely (its "streaming" is a
    * poll loop re-running the query; logsql.go:497). Aggregating pipes
    * can't stream in append mode, so `filterText` must be filter-shaped;
    * the stats shape is declared here instead.
    *
    * Output schema: (window struct, groupFields..., hits). Run with
    * `.outputMode("update")` (or "append" after the watermark closes a
    * window). */
  def windowedStatsStream(spark: SparkSession, dir: String,
                          filterText: String, step: String,
                          groupFields: Seq[String] = Nil,
                          watermarkDelay: String = "10 minutes"): DataFrame = {
    tailStream(spark, dir, filterText)
      .withWatermark("_time", watermarkDelay)
      .groupBy(window(col("_time"), step).as("window") +:
        groupFields.map(col): _*)
      .agg(count(lit(1)).as("hits"))
  }

  /** File-source streaming ingest: text lines under `srcDir` → parser →
    * store layout. `format` ∈ jsonline | syslog. */
  def fileStream(spark: SparkSession, srcDir: String, storeDir: String,
                 format: String, streamFields: Seq[String],
                 checkpointDir: String): StreamingQuery = {
    val parser: DataFrame => DataFrame = format match {
      case "jsonline" => parseJsonline(_)
      case "syslog" => parseSyslog(_)
      case "elasticsearch" => parseElasticsearchBulk(_)
      case "loki" => parseLokiJson
      case "otlp" => parseOtlpJson
      case "datadog" => parseDatadogJson
      case "journald" => parseJournaldExport
      case other => throw new IllegalArgumentException(s"unknown format '$other'")
    }
    spark.readStream.text(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        appendBatch(parser(batch), storeDir, streamFields)
      }
      .start()
  }
}
