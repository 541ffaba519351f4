package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import graft.logql._

/** HTTP query API (SURVEY §2.4; reference app/vlselect/logsql/logsql.go):
  *
  *   - `/select/logsql/query`             → NDJSON rows           (logsql.go:901)
  *   - `/select/logsql/hits`              → count-by-time series  (logsql.go:116)
  *   - `/select/logsql/facets`            → per-field top values  (logsql.go:34)
  *   - `/select/logsql/stats_query`       → Prometheus vector     (logsql.go:828)
  *   - `/select/logsql/stats_query_range` → Prometheus matrix     (logsql.go:694)
  *   - `/select/logsql/field_names`       → names + hits          (logsql.go:291)
  *   - `/select/logsql/field_values`      → values + hits         (logsql.go:330)
  *   - `/select/logsql/tail`              → NDJSON poll loop      (logsql.go:497)
  *
  * Each endpoint is a LogsQL rewrite compiled through the same
  * [[Compiler]]; results stream to the client via `toLocalIterator` (one
  * partition in memory at a time, never a full collect of raw rows).
  */
final class QueryServer(spark: SparkSession, sourceProvider: () => DataFrame,
                        port: Int,
                        maxConcurrentQueries: Int = 16,
                        queueTimeoutMs: Long = 10000L,
                        maxSeriesPoints: Int = 200000,
                        storeDir: Option[String] = None,
                        maxQueryDurationMs: Long = 30000L) {
  import QueryServer.extraFilter

  /** Fixed-relation convenience constructor (tests, ad-hoc views). A
    * log-store caller should pass `() => LogStore.read(spark, dir)` so
    * appends (which invalidate the memoized relation) become visible to
    * queries without a restart. */
  def this(spark: SparkSession, source: DataFrame, port: Int) =
    this(spark, () => source, port)

  def this(spark: SparkSession, source: DataFrame) = this(spark, source, 0)

  /** Store-backed servers route the relation through the interactive
    * small-input session (Sessions.route): ad-hoc first-run HTTP queries
    * then skip the per-exchange AQE stage jobs exactly like the library
    * entry points — the plan cache already covered repeats, this covers
    * plan-cache MISSES. Generic sources keep the caller's session. */
  private def source: DataFrame = storeDir match {
    case Some(dir) =>
      graft.Sessions.route(spark)(s => graft.store.LogStore.read(s, dir))
    case None => sourceProvider()
  }

  @volatile private var serverOpt: Option[HttpServer] = None
  @volatile private var stopped = false

  /** Mount the select routes on an externally-owned HttpServer (the
    * unified single-port binary registers ingest + query on one server,
    * like the reference's port 9428). */
  def attach(server: HttpServer): Unit = {
    server.createContext("/select/logsql/query", handler(handleQuery))
    server.createContext("/select/logsql/hits", handler(handleHits))
    server.createContext("/select/logsql/facets", handler(handleFacets))
    server.createContext("/select/logsql/stats_query_range", handler(handleStatsQueryRange))
    server.createContext("/select/logsql/stats_query", handler(handleStatsQuery))
    server.createContext("/select/logsql/field_names", handler(handleFieldNames))
    server.createContext("/select/logsql/field_values", handler(handleFieldValues))
    // tail is NOT admission-gated: a long-lived poll loop would pin a
    // query slot for its whole client lifetime; it is lifetime-capped
    // instead (handleTail), matching the reference's separate treatment
    server.createContext("/select/logsql/tail", handler(handleTail, gated = false))
    server.createContext("/select/logsql/streams", handler(handleStreams))
    server.createContext("/select/logsql/stream_ids", handler(handleStreamIds))
    server.createContext("/select/logsql/stream_field_names", handler(handleStreamFieldNames))
    server.createContext("/select/logsql/stream_field_values", handler(handleStreamFieldValues))
    // cluster-internal select protocol (internalselect.go:44-52): a
    // reference vlselect front can fan out to this engine as a storage
    // node — same admission gate and deadline as the public endpoints
    server.createContext("/internal/select/query", handler(handleInternalQuery))
    server.createContext("/internal/select/field_names", handler(handleInternalFieldNames))
    server.createContext("/internal/select/field_values", handler(handleInternalFieldValues))
    server.createContext("/internal/select/streams", handler(handleInternalStreams))
    server.createContext("/internal/select/stream_ids", handler(handleInternalStreamIds))
    server.createContext("/internal/select/stream_field_names", handler(handleInternalStreamFieldNames))
    server.createContext("/internal/select/stream_field_values", handler(handleInternalStreamFieldValues))
    // built-in query UI (the reference serves its vmui bundle here)
    server.createContext("/select/vmui", (ex: HttpExchange) => {
      try {
        val bytes = WebUi.html.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    // Prometheus text exposition, like the reference binary's /metrics
    Metrics.registerGauge("graft_select_concurrent",
      () => (maxConcurrentQueries - querySem.availablePermits).toLong)
    server.createContext("/metrics", (ex: HttpExchange) => {
      try {
        val bytes = Metrics.render().getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
  }

  def start(): Int = {
    // fixed call site before the handler pool spawns (local properties
    // inherit at thread creation): skips the per-RDD driver stack walk
    // on every served query (~20ms/fresh plan, CallSiteProbe)
    spark.sparkContext.setCallSite("graft-serve")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    serverOpt = Some(server)
    attach(server)
    // cached pool: long-lived tail connections must not starve the other
    // endpoints the way a fixed 4-thread pool would (each tail handler
    // blocks in its poll-sleep loop for the lifetime of the client)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = { stopped = true; serverOpt.foreach(_.stop(0)) }

  // ------------------------------------------------------------- plumbing

  /** Query admission control (reference app/vlselect/main.go:23-50,
    * 172-197): at most `maxConcurrentQueries` requests execute at once;
    * excess requests queue up to `queueTimeoutMs` and are rejected with
    * 429 on overflow — N concurrent heavy queries must not thrash the one
    * Spark scheduler behind the server. */
  private val querySem =
    new java.util.concurrent.Semaphore(maxConcurrentQueries, true)

  /** Per-query execution deadline (reference -search.maxQueryDuration,
    * 30s default, overridable DOWN via the `timeout` arg — main.go:278-285):
    * a runaway query must not pin its admission slot forever. The handler
    * thread runs inside a Spark job group; a scheduled cancel interrupts
    * the group's jobs at the deadline and the action surfaces the
    * cancellation, mapped to 503. */
  private val deadlineTimer = {
    val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val th = new Thread(r, "graft-query-deadline"); th.setDaemon(true); th })
    t
  }

  private def handler(f: (HttpExchange, Map[String, Seq[String]]) => Unit,
                      gated: Boolean = true): HttpHandler =
    (ex: HttpExchange) => {
      try {
        Metrics.selectRequests.incrementAndGet()
        if (gated && !querySem.tryAcquire(queueTimeoutMs,
            java.util.concurrent.TimeUnit.MILLISECONDS)) {
          Metrics.selectRejected.incrementAndGet()
          respond(ex, 429,
            s"""{"error":"too many concurrent queries (limit $maxConcurrentQueries); retry later"}""")
        } else if (!gated) {
          // tail: no deadline — it is lifetime-capped in handleTail instead
          f(ex, params(ex))
        } else try {
          // EVERYTHING after a successful acquire sits inside this
          // try/finally: a parse error in params or a malformed `timeout`
          // must not leak the admission slot
          val ps = params(ex)
          // `timeout` only shortens the cap, as in the reference
          val capMs = one(ps, "timeout").map(s => (s.toDouble * 1000).toLong)
            .filter(t => t > 0 && t < maxQueryDurationMs)
            .getOrElse(maxQueryDurationMs)
          val group = "req-" + java.util.UUID.randomUUID()
          val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
          spark.sparkContext.setJobGroup(group, ex.getRequestURI.getPath,
            interruptOnCancel = true)
          // ...AndFutureJobs: a multi-job handler (toLocalIterator runs one
          // job per partition) would otherwise slip later jobs past a
          // cancel that fired between two of them
          val cancel = deadlineTimer.schedule(new Runnable {
            def run(): Unit = {
              timedOut.set(true)
              spark.sparkContext.cancelJobGroupAndFutureJobs(group)
            }
          }, capMs, java.util.concurrent.TimeUnit.MILLISECONDS)
          // a lifecycle swap (compaction/retention) replaced files between
          // this query's cached file index and its execution — the
          // reference refcounts parts instead (datadb.go); with immutable
          // parquet the contract is invalidate + retry against the fresh
          // listing. BOUNDED LOOP, not retry-once: under continuous
          // background compaction a freshly re-planned query can straddle
          // the NEXT swap too (ChaosProbe reproduced double-straddles at
          // 3s compaction ticks). Only before the status line is committed
          // (a later retry could never be delivered) and only for
          // store-backed sources (nothing to refresh otherwise).
          var staleRetries = 0
          var doneReq = false
          try while (!doneReq) {
            try { f(ex, ps); doneReq = true }
            catch {
              // a cancel that fires after the headers went out can only
              // truncate the stream; the attempt to say so is best-effort
              case _: Throwable if timedOut.get() =>
                try respond(ex, 503,
                  s"""{"error":"query exceeded its deadline of ${capMs}ms; pass a larger 'timeout' arg"}""")
                catch { case _: Exception => () }
                doneReq = true
              case e: Throwable
                  if isStaleFileError(e) && !committed(ex) &&
                     storeDir.isDefined && staleRetries < 3 =>
                staleRetries += 1
                Metrics.staleIndexRetries.incrementAndGet()
                storeDir.foreach(graft.store.LogStore.invalidateCaches)
            }
          }
          finally {
            cancel.cancel(false)
            spark.sparkContext.clearJobGroup()
          }
        } finally querySem.release()
      } catch {
        case e: Throwable =>
          val msg = jsonStr(Option(e.getMessage).getOrElse(e.toString))
          respond(ex, 400, s"""{"error":$msg}""")
      } finally ex.close()
    }

  private def params(ex: HttpExchange): Map[String, Seq[String]] = {
    val fromUrl = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val fromBody =
      if (ex.getRequestMethod == "POST")
        new String(ex.getRequestBody.readAllBytes(), UTF_8)
      else ""
    (fromUrl + "&" + fromBody).split("&").toSeq.filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
  }

  private def one(ps: Map[String, Seq[String]], k: String): Option[String] =
    ps.get(k).flatMap(_.headOption).filter(_.nonEmpty)

  /** A scan failed because a file in the plan's cached index no longer
    * exists (replaced by a lifecycle swap mid-query). Deliberately
    * narrow: matching loose phrases like "does not exist" would let a
    * client-crafted parse error (the text echoes the query) trigger a
    * cache flush plus a doubled execution on demand. */
  private def isStaleFileError(e: Throwable): Boolean =
    graft.store.LogStore.isStaleFileError(e)

  /** True once the status line is on the wire — after this, an error can
    * only truncate the stream; a retry could never deliver its result
    * (the stale-file retry checks it). getResponseCode is -1 until
    * sendResponseHeaders; NOT HttpExchange attributes, which the JDK
    * stores on the shared HttpContext, where one request's flag would
    * poison every later one. */
  private def committed(ex: HttpExchange): Boolean =
    ex.getResponseCode != -1

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  // reference-exact JSON string quoting (quicktemplate AppendJSONString —
  // shared with the CLI formatter)
  private def jsonStr(s: String): String = graft.CliFormat.js(s)

  private def nowNs: Long = System.currentTimeMillis() * 1000000L

  /** Parse `start`/`end` args (epoch seconds or ISO8601) to epoch nanos. */
  private def parseTime(s: String): Long =
    if (s.matches("-?\\d+(\\.\\d+)?")) (s.toDouble * 1e9).toLong
    else if (s.length == 10) // yyyy-MM-dd
      java.time.LocalDate.parse(s).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000000L
    else java.time.Instant.parse(if (s.endsWith("Z")) s else s + "Z").toEpochMilli * 1000000L

  /** Parse query + optional [start, end) range + extra filters into an AST. */
  private def parseQ(ex: HttpExchange, ps: Map[String, Seq[String]]): Query = {
    val text = one(ps, "query").getOrElse(throw new IllegalArgumentException("missing 'query' arg"))
    // evaluation timestamp (logsql.go:1155-1171): the `time` arg pins it
    // (reproducible dashboards re-resolve `_time:5m` identically), else
    // the `end` bound, else the wall clock — minus 1ns so an exact
    // month/day/hour boundary doesn't capture the next period's first ns
    val evalNs = one(ps, "time").map(parseTime)
      .orElse(one(ps, "end").map(parseTime))
      .getOrElse(nowNs) - 1
    val q0 = Parser.parse(text, evalNs)
    val q1 = (one(ps, "start"), one(ps, "end")) match {
      case (None, None) => q0
      case (lo, hi) =>
        // Query.addTimeFilter reaches subqueries too (parser.go:537-541):
        // a join/in() subquery over years of retention is bounded exactly
        // like its parent instead of scanning all history. The `end` arg
        // is EXCLUSIVE at the HTTP layer (this server's [start, end)
        // contract), so the inclusive AddTimeFilter gets end-1.
        val startNs = lo.map(parseTime).getOrElse(Long.MinValue)
        val endNs = hi.map(parseTime)
          .map(e => if (e == Long.MaxValue) e else e - 1)
          .getOrElse(Long.MaxValue)
        Query.addTimeFilter(q0, startNs, endNs)
    }
    val extras =
      ps.getOrElse("extra_filters", Nil).filter(_.nonEmpty)
        .map(extraFilter(_, stream = false, evalNs)) ++
      ps.getOrElse("extra_stream_filters", Nil).filter(_.nonEmpty)
        .map(extraFilter(_, stream = true, evalNs))
    if (extras.isEmpty) q1
    // AddExtraFilters visits subqueries the same way (parser.go:567-576)
    else Query.transformWithSubqueries(q1)(q =>
      q.copy(filter = Filter.And(extras ++ Seq(q.filter))))
  }

  /** Request tenants (tenant_id.go:15-21): missing headers default to 0:0 —
    * a headerless request must NOT see every tenant's rows. Queries may
    * address a tenant LIST (storage_search.go:102 takes []TenantID):
    * repeated or comma-separated header values; an AccountID entry may
    * also carry a full `acct:proj` pair. A lone ProjectID value applies
    * to every account; otherwise accounts and projects pair positionally. */
  def tenantsOf(ex: HttpExchange): Seq[String] = {
    import scala.jdk.CollectionConverters._
    def vals(h: String): Seq[String] =
      Option(ex.getRequestHeaders.get(h)).map(_.asScala.toSeq).getOrElse(Nil)
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val accts = vals("AccountID")
    val projs = vals("ProjectID")
    val bare = accts.filter(!_.contains(":"))
    val tenants =
      if (accts.isEmpty && projs.isEmpty) Seq("0:0")
      else if (accts.isEmpty) projs.map(p => s"0:$p")
      else if (bare.length == 1 && projs.length > 1)
        // a lone account fans out to every project (and pre-paired
        // `acct:proj` entries pass through unchanged)
        accts.flatMap(a => if (a.contains(":")) Seq(a)
                           else projs.map(p => s"$a:$p"))
      else if (projs.length > bare.length)
        // silently dropping surplus projects would exclude tenants from
        // the result with no signal — reject as a client error instead
        throw new IllegalArgumentException(
          s"ProjectID lists ${projs.length} projects for ${bare.length} " +
          "account(s): pair them 1:1, or send one account, or use " +
          "AccountID: acct:proj pairs")
      else if (projs.length > 1 && bare.length > projs.length)
        // the mirror of the surplus-projects case: which project the
        // unpaired accounts belong to is a guess — reject, don't guess
        throw new IllegalArgumentException(
          s"AccountID lists ${bare.length} bare accounts for " +
          s"${projs.length} projects: pair them 1:1, send one project " +
          "to fan out, or use AccountID: acct:proj pairs")
      else {
        // pair projects against BARE accounts only — pre-paired
        // `acct:proj` entries pass through and must not shift the
        // positional pairing of the entries that still need a project
        var bi = -1
        accts.map { a =>
          if (a.contains(":")) a
          else {
            bi += 1
            val p = if (projs.isEmpty) "0"
                    else if (bi < projs.length) projs(bi)
                    else projs.head // the lone project fans out to all accounts
            s"$a:$p"
          }
        }
      }
    tenants.map(QueryServer.canonTenant).distinct
  }

  /** Tenant scoping happens on the SOURCE relation, before Compiler.run:
    * subqueries (join / union / in(subquery) pipes) execute against
    * ctx.source, so an AST-level filter on the outer query would leak
    * other tenants' rows through them. A plain-column predicate on the
    * `tenant` partition column also prunes whole tenant directories. */
  private def tenantScope(ex: HttpExchange)(df: DataFrame): DataFrame =
    if (df.columns.contains("tenant"))
      df.filter(col("tenant").isin(tenantsOf(ex): _*))
    else df

  private def scopedSource(ex: HttpExchange): DataFrame = tenantScope(ex)(source)

  /** Store relation for `q`, file-pruned through the token-bloom sidecars
    * when the query's top-level AND filters demand word tokens (the
    * reference consults per-column bloom.bin on every such filter,
    * filter_and.go:105) — a needle query on a 100 TB store skips the
    * files whose blooms lack the tokens instead of scanning them. Any
    * sidecar problem degrades to the full scan; files missing from a
    * stale sidecar always scan (MsgBloom's staleness contract). */
  private def bloomScopedSource(ex: HttpExchange, q: Query): DataFrame =
    storeDir match {
      case Some(dir) =>
        try {
          import graft.store.{FieldBloom, MsgBloom}
          val byField = FieldBloom.requiredTokensByField(q.filter)
          if (byField.isEmpty) scopedSource(ex)
          else {
            val msgCand = MsgBloom.candidateFiles(spark, dir,
              byField.getOrElse("_msg", Nil).distinct)
            val fieldCand = FieldBloom.candidateFiles(spark, dir, byField - "_msg")
            MsgBloom.intersect(msgCand, fieldCand) match {
              case None => scopedSource(ex)
              case cand =>
                tenantScope(ex)(graft.Sessions.route(spark)(s =>
                  MsgBloom.applyCandidates(s, dir, cand)))
            }
          }
        } catch { case _: Exception => scopedSource(ex) }
      case None => scopedSource(ex)
    }

  private def runQ(ex: HttpExchange, q: Query): DataFrame =
    Compiler.run(bloomScopedSource(ex, q), q,
      if (q.evalNs != 0L) q.evalNs else nowNs)

  // ---------------------------------------------- compiled-plan cache

  /** Serving-path plan cache: repeated dashboard/tail-style requests pay
    * parse → compile → analyze → day-descent on EVERY hit (~0.5s for a
    * `limit=100` over one day partition — all plan work, no row work).
    * Entries memoize the finished DataFrame (and for fully-materialized
    * endpoints the rendered body) keyed by the full request signature,
    * tenant scope, and the STORE GENERATION — LogStore bumps the
    * generation on every write/compaction/retention, so a cached plan can
    * never serve stale data; stale-generation keys simply stop hitting
    * and age out of the LRU. Reusing one DataFrame object also reuses its
    * materialized AQE stages, so a hit re-runs only the final stage. */
  private final case class PlanCacheEntry(jsonDf: Option[DataFrame],
                                          daysScanned: Option[Long],
                                          body: Option[String],
                                          bounded: Boolean = false)
  private val planCacheMax = 32
  private val planCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, PlanCacheEntry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, PlanCacheEntry]): Boolean =
        size > planCacheMax
    })

  /** Cache key, or None when the request must not be cached. Cacheable =
    * store-backed source (only those have a mutation-generation signal)
    * AND the plan provably doesn't depend on the wall clock: either the
    * `time`/`end` arg pins the evaluation timestamp (and is part of the
    * key), or relative-time constructs are absent — detected by parsing
    * twice with two different eval timestamps and comparing ASTs, since
    * `_time:5m`-style filters resolve against `now` during parsing. */
  private def planCacheKey(kind: String, ex: HttpExchange,
                           ps: Map[String, Seq[String]]): Option[String] = {
    if (storeDir.isEmpty) return None
    val text = one(ps, "query").getOrElse(return None)
    val pinned = one(ps, "time").isDefined || one(ps, "end").isDefined
    val extras = ps.getOrElse("extra_filters", Nil) ++
      ps.getOrElse("extra_stream_filters", Nil)
    val invariant = pinned || {
      val t1 = 1600000000000000000L
      val t2 = 1700000000000000000L
      try {
        Parser.parse(text, t1).copy(evalNs = 0L) ==
          Parser.parse(text, t2).copy(evalNs = 0L) &&
        extras.filter(_.nonEmpty).forall(s =>
          extraFilter(s, stream = false, t1) == extraFilter(s, stream = false, t2))
      } catch { case _: Exception => false }
    }
    if (!invariant) return None
    // key on the CANONICAL query text (Canon.query) so spacing/quoting
    // variants of the same query share one plan entry
    val canonText =
      try graft.logql.Canon.query(Parser.parse(text, 1700000000000000000L))
      catch { case _: Exception => text }
    val sig = (ps + ("query" -> Seq(canonText))).toSeq.sortBy(_._1)
      .map { case (k, vs) => k + "=" + vs.mkString("\u0001") }
      .mkString("\u0002")
    Some(kind + "\u0003" + tenantsOf(ex).mkString(",") + "\u0003" +
      graft.store.LogStore.generation + "\u0003" + sig)
  }

  /** Look up / populate the plan cache around `build`; on a hit the
    * response is produced from the memoized entry. `emit` runs for both
    * paths; a failure while emitting a cached entry evicts it (a
    * cancelled run can poison materialized stages) and rethrows. */
  private def withPlanCache(kind: String, ex: HttpExchange,
                            ps: Map[String, Seq[String]])
                           (build: => PlanCacheEntry)
                           (emit: PlanCacheEntry => Unit): Unit = {
    val key = planCacheKey(kind, ex, ps)
    val cached = key.flatMap(k => Option(planCache.get(k)))
    ex.getResponseHeaders.set("X-Graft-Plan-Cache",
      if (cached.isDefined) "hit" else if (key.isDefined) "miss" else "bypass")
    val entry = cached.getOrElse {
      val e = build
      key.foreach(k => planCache.put(k, e))
      e
    }
    try emit(entry)
    catch {
      case t: Throwable =>
        key.foreach(planCache.remove(_))
        throw t
    }
  }

  /** Render a driver-side value like the reference's marshalers:
    * strings as-is, floats through Go strconv 'f'/-1
    * ([[graft.functions.GoFloat]] — "5" not "5.0", fixed notation,
    * "+Inf"). */
  private def render(v: Any): String = v match {
    case null => ""
    case d: java.lang.Double => graft.functions.GoFloat.format(d)
    case f: java.lang.Float => graft.functions.GoFloat.formatFloat(f)
    case other => other.toString
  }

  /** Reference-shape NDJSON row column: every value a STRING (the
    * reference's field model — a `count()` result reads `"c":"5"`, not
    * `"c":5`), Go float rendering ([[Render.goDouble]]), `_stream` as
    * its label string, `_time` RFC3339 with trailing fraction zeros
    * trimmed, residual `fields`-map entries splatted top-level,
    * empty/missing values skipped (MarshalFieldsToJSON, rows.go:144-162)
    * and the store's internal partition columns hidden. */
  private def refJson(df: DataFrame, names: Seq[String]): org.apache.spark.sql.Column =
    to_json(refMap(df, names))

  /** The flattened field map behind every row-shaped response: top-level
    * columns canonically stringified (Go float/RFC3339 rendering), the
    * `fields` map folded in underneath, store internals hidden. The NDJSON
    * endpoint JSON-encodes it; /internal/select/query columnarizes it
    * into native DataBlocks. */
  private def refMap(df: DataFrame, names: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val hidden = Set("_day", "tenant", "fields")
    val entries = names.filterNot(hidden).map { name =>
      val cc = col("`" + name + "`")
      val s = df.schema(name).dataType match {
        case _: MapType => Compiler.mapLabel(cc)
        case DoubleType | FloatType => Render.goDouble(cc)
        case TimestampType | TimestampNTZType => Render.rfc3339(cc)
        case _ => cc.cast(StringType)
      }
      struct(lit(name).as("key"), s.as("value"))
    }
    val base = map_from_entries(filter(array(entries: _*),
      e => e.getField("value").isNotNull && e.getField("value") =!= ""))
    val full =
      if (!names.contains("fields") || !df.columns.contains("fields")) base
      else graft.functions.MapOps.concatLastWins(
        map_filter(coalesce(col("fields"),
          map().cast("map<string,string>")), (_, v) => v.isNotNull && v =!= ""),
        base) // top-level columns win on a key collision
    full
  }

  // ------------------------------------------------------------ endpoints

  /** Above this, the lastN descent's driver-side materialization of the
    * result window is no longer a "handful of rows" — fall back to the
    * streaming plan (the reference's default limit is 1000). */
  private val maxLastNLimit = 100000

  private def handleQuery(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    withPlanCache("query", ex, ps) {
      val q = parseQ(ex, ps)
      val (df, days) = (one(ps, "limit").map(_.toInt), storeDir) match {
        // the reference's limit contract is the NEWEST n rows, found by
        // binary-searching the time range instead of scanning history
        // (logsql.go:1005-1133, CanReturnLastNResults parser.go:470) — for
        // store-backed sources route through the day-descent, which also
        // enforces newest-first and falls back internally for pipes that
        // cannot early-return over a partial window
        case (Some(n), Some(dir)) if n > 0 && n <= maxLastNLimit =>
          val (res, daysScanned) = graft.store.LogStore.lastN(
            spark, dir, q, n, if (q.evalNs != 0L) q.evalNs else nowNs,
            scope = tenantScope(ex))
          (res, Some(daysScanned.toLong))
        case (Some(n), _) => (runQ(ex, q).limit(n), None)
        case (None, _) => (runQ(ex, q), None)
      }
      val json = df.select(refJson(df, df.columns.toSeq))
      PlanCacheEntry(Some(json), days, None,
        bounded = one(ps, "limit").exists(n => n.toInt > 0 && n.toInt <= maxLastNLimit))
    } { entry =>
      entry.daysScanned.foreach(d =>
        ex.getResponseHeaders.set("X-Graft-Days-Scanned", d.toString))
      // bounded results (an explicit limit ≤ maxLastNLimit) collect in ONE
      // job: toLocalIterator runs one sequential job per partition, which
      // turns a 100-row lastN response into 32 scheduler round-trips
      // (~450ms measured) against collect's ~3ms. Unbounded queries keep
      // the streaming iterator (one partition in memory at a time).
      val it: Iterator[org.apache.spark.sql.Row] =
        if (entry.bounded) entry.jsonDf.get.collect().iterator
        else {
          val li = entry.jsonDf.get.toLocalIterator()
          // force the first partition's job BEFORE committing the 200:
          // compile errors and deadline cancels map to a real error
          // response instead of a truncated stream (later partitions can
          // still only truncate)
          li.hasNext
          scala.jdk.CollectionConverters.IteratorHasAsScala(li).asScala
        }
      ex.getResponseHeaders.set("Content-Type", "application/stream+json")
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      while (it.hasNext) {
        out.write(it.next().getString(0).getBytes(UTF_8))
        out.write('\n')
      }
    }
  }

  /** `| stats by (_time:step [, fields]) count() hits`, grouped to series
    * (AddCountByTimePipe, parser.go:408-446; pipes are dropped first). */
  private def handleHits(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit =
    // fully-materialized endpoint → memoize the rendered body (same
    // generation-keyed invalidation as the /query plan cache)
    withPlanCache("hits", ex, ps) {
      PlanCacheEntry(None, None, Some(hitsBody(ex, ps)))
    } { entry => respond(ex, 200, entry.body.get) }

  private def hitsBody(ex: HttpExchange, ps: Map[String, Seq[String]]): String = {
    val step = one(ps, "step").getOrElse("1d")
    val off = one(ps, "offset")
    val fields = ps.getOrElse("field", Nil)
    val base = parseQ(ex, ps)
    val stats = Pipe.Stats(
      ByField("_time", Some(step), off) +: fields.map(f => ByField(f, None, None)),
      Seq(StatsFuncAs(StatsFunc.Count(Nil), "hits", None)))
    val rows = collectBounded(runQ(ex, Query(base.filter, Seq(stats))), "hits")
    val tIdx = 0
    val series0 = rows.groupBy(r => fields.indices.map(i => r.get(i + 1)).toSeq)
      .toSeq.sortBy(_._1.map(String.valueOf).mkString(","))
      .map { case (labels, rs) =>
        val sorted = rs.sortBy(_.getAs[java.sql.Timestamp](tIdx).getTime)
        val pts = sorted.map(r =>
          (r.getAs[java.sql.Timestamp](tIdx).toInstant.toString, r.getAs[Long]("hits"))).toSeq
        val fieldsJson = fields.zip(labels)
          .map { case (f, v) => jsonStr(f) + ":" + jsonStr(render(v)) }
          .mkString("{", ",", "}")
        (fieldsJson, pts)
      }
    // fields_limit: keep the top-N series by total hits, fold the rest into
    // one empty-fields "other" series (getTopHitsSeries, logsql.go:224-262)
    val fieldsLimit = one(ps, "fields_limit").map(_.toInt).getOrElse(0)
    val series =
      if (fieldsLimit <= 0 || series0.size <= fieldsLimit) series0
      else {
        val ranked = series0.sortBy(-_._2.map(_._2).sum)
        val other = ranked.drop(fieldsLimit).flatMap(_._2)
          .groupBy(_._1).view.mapValues(_.map(_._2).sum)
          .toSeq.sortBy(_._1)
        ranked.take(fieldsLimit) :+ ("{}", other)
      }
    series.map { case (fieldsJson, pts) =>
      val ts = pts.map(p => jsonStr(p._1)).mkString(",")
      val vs = pts.map(_._2.toString).mkString(",")
      s"""{"fields":$fieldsJson,"timestamps":[$ts],"values":[$vs],"total":${pts.map(_._2).sum}}"""
    }.mkString("""{"hits":[""", ",", "]}")
  }

  private def handleFacets(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    val n = one(ps, "limit").map(_.toLong).getOrElse(10L)
    // default 1000 like the parser/pipe (pipe_facets.go:21) — fields with
    // more unique values than this are skipped, independent of `limit`
    val maxPerField = one(ps, "max_values_per_field").map(_.toLong).getOrElse(1000L)
    val maxLen = one(ps, "max_value_len").map(_.toLong).getOrElse(128L)
    // keep_const_fields=1 keeps fields whose value is constant across all
    // matching rows (dropped by default as non-discriminating; logsql.go:56)
    val keepConst = one(ps, "keep_const_fields")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    // "Pipes must be dropped, since it is expected facets are obtained
    // from the real logs stored in the database" (logsql.go:58-60;
    // DropAllPipes, parser.go:366 — leading `| filter` pipes were already
    // folded into the query filter by Optimize, like the reference)
    val base = parseQ(ex, ps)
    val rows = runQ(ex, Query(base.filter,
      Seq(Pipe.Facets(n, maxPerField, maxLen, keepConst))))
      .collect()
    val byField = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1)
    val body = byField.map { case (fname, rs) =>
      val vals = rs.map(r =>
        s"""{"field_value":${jsonStr(r.getString(1))},"hits":${r.getLong(2)}}""").mkString(",")
      s"""{"field_name":${jsonStr(fname)},"values":[$vals]}"""
    }.mkString("""{"facets":[""", ",", "]}")
    respond(ex, 200, body)
  }

  /** Query must end in `| stats ...`; emits a Prometheus instant vector. */
  private def handleStatsQuery(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit =
    // the rendered body embeds `t` = wall clock when `time` is absent, so
    // only time-pinned requests are body-cacheable (planCacheKey would
    // admit an unpinned-but-parse-invariant query, freezing its t)
    if (one(ps, "time").isDefined)
      withPlanCache("stats_query", ex, ps) {
        PlanCacheEntry(None, None, Some(statsQueryBody(ex, ps)))
      } { entry => respond(ex, 200, entry.body.get) }
    else respond(ex, 200, statsQueryBody(ex, ps))

  private def statsQueryBody(ex: HttpExchange, ps: Map[String, Seq[String]]): String = {
    val q = parseQ(ex, ps)
    val (byFields, statCols) = statsInfo(q)
    val t = one(ps, "time").map(parseTime).getOrElse(nowNs) / 1e9
    val rows = runQ(ex, q).collect()
    val items = rows.flatMap { r =>
      statCols.map { sc =>
        val labels = byFields.map(b =>
          "," + jsonStr(b) + ":" + jsonStr(render(r.getAs[Any](b)))).mkString
        s"""{"metric":{"__name__":${jsonStr(sc)}$labels},"value":[$t,${jsonStr(render(r.getAs[Any](sc)))}]}"""
      }
    }
    s"""{"status":"success","data":{"resultType":"vector","result":[${items.mkString(",")}]}}"""
  }

  /** Injects `_time:step` grouping into every stats pipe, step-divided
    * rate funcs, and per-step sort partitioning
    * (GetStatsByFieldsAddGroupingByTime, parser.go:748 — conformance:
    * StatsByFieldsConformanceSpec). */
  private def handleStatsQueryRange(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit =
    // fully-materialized endpoint (like hits): every Grafana panel
    // refresh re-issues the same query/start/end/step — memoize the
    // rendered body under the generation-keyed plan cache (measured
    // 280ms → ~2ms warm on the 20M store, a77f8f3)
    withPlanCache("stats_query_range", ex, ps) {
      PlanCacheEntry(None, None, Some(statsQueryRangeBody(ex, ps)))
    } { entry => respond(ex, 200, entry.body.get) }

  private def statsQueryRangeBody(ex: HttpExchange, ps: Map[String, Seq[String]]): String = {
    val stepStr = one(ps, "step").getOrElse("1d")
    // duration string ("1d", "5m") or a Prometheus-style plain number of
    // seconds; must be positive (logsql.go:712-719)
    val stepNs = graft.logql.NumLit.durationNanos(stepStr)
      .orElse(graft.logql.NumLit.parse(stepStr).map(s => (s * 1e9).toLong))
      .filter(_ > 0L)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse 'step' arg '$stepStr'"))
    val q0 = parseQ(ex, ps)
    val (q2, byAll, statCols) = StatsByFields.addGroupingByTime(q0, stepNs)
      .fold(e => throw new IllegalArgumentException(e), identity)
    val byFields = byAll.filterNot(_ == "_time")
    val rows = collectBounded(runQ(ex, q2), "stats_query_range")
    val series = rows.flatMap { r =>
      val t = r.getAs[java.sql.Timestamp]("_time").getTime / 1000.0
      statCols.map { sc =>
        val key = byFields.map(b => String.valueOf(r.getAs[Any](b)))
        ((sc, key), (t, render(r.getAs[Any](sc))))
      }
    }.groupBy(_._1).toSeq.sortBy(x => (x._1._1, x._1._2.mkString(",")))
    val items = series.map { case ((sc, key), pts) =>
      val labels = byFields.zip(key).map { case (b, v) =>
        "," + jsonStr(b) + ":" + jsonStr(v)
      }.mkString
      val vals = pts.map(_._2).sortBy(_._1)
        .map { case (t, v) => s"[$t,${jsonStr(v)}]" }.mkString(",")
      s"""{"metric":{"__name__":${jsonStr(sc)}$labels},"values":[$vals]}"""
    }
    s"""{"status":"success","data":{"resultType":"matrix","result":[${items.mkString(",")}]}}"""
  }

  /** Bounded driver materialization for the series-pivot endpoints: a
    * step=1s range over a year of a high-cardinality field would otherwise
    * collect millions of points onto the driver. The limit rides in the
    * plan (`limit maxSeriesPoints+1`), so the executors stop early too. */
  private def collectBounded(df: DataFrame,
                             what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxSeriesPoints + 1).collect()
    if (rows.length > maxSeriesPoints)
      throw new IllegalArgumentException(
        s"$what result exceeds $maxSeriesPoints points; increase 'step', narrow the time range, or reduce grouping cardinality")
    rows
  }

  /** (labels, metrics) of the query's stats output — the reference's
    * GetStatsByFields contract (parser.go:741; StatsByFields), so
    * trailing sort/filter/math/keep/drop/copy/mv/format pipes after the
    * stats pipe are accepted exactly like the reference. */
  private def statsInfo(q: Query): (Seq[String], Seq[String]) =
    StatsByFields.get(q)
      .fold(e => throw new IllegalArgumentException(e), identity)

  private def valuesWithHits(df: DataFrame, valueIdx: Int, hitsIdx: Int): String = {
    val items = df.collect().map(r =>
      s"""{"value":${jsonStr(String.valueOf(r.get(valueIdx)))},"hits":${r.getLong(hitsIdx)}}""")
    s"""{"values":[${items.mkString(",")}]}"""
  }

  private def handleFieldNames(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    // pipes dropped: field names come from the real stored logs
    // (logsql.go:298-300)
    val q = parseQ(ex, ps)
    respond(ex, 200,
      valuesWithHits(runQ(ex, Query(q.filter, Seq(Pipe.FieldNames("name")))), 0, 1))
  }

  private def handleFieldValues(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    val fld = one(ps, "field").getOrElse(throw new IllegalArgumentException("missing 'field' arg"))
    val lim = one(ps, "limit").map(_.toLong)
    // pipes dropped like field_names (logsql.go:341-343)
    val q = parseQ(ex, ps)
    respond(ex, 200,
      valuesWithHits(runQ(ex, Query(q.filter, Seq(Pipe.FieldValues(fld, lim)))), 0, 1))
  }

  // stream metadata discovery (Storage.GetStreams / GetStreamFieldNames /
  // GetStreamFieldValues, storage_search.go:188-489) — served from the
  // `_stream` label map of the matching rows

  private def requireStream(): Unit =
    if (!source.columns.contains("_stream"))
      throw new IllegalArgumentException("source has no _stream column (not a log-store view)")

  // the (value, hits) plans behind the stream-metadata family, shared by
  // the public JSON endpoints and the native /internal/select/* encodings
  private def streamsAgg(df: DataFrame): DataFrame = {
    val canon = concat(lit("{"), concat_ws(",",
      transform(array_sort(map_entries(col("_stream"))),
        e => concat(e.getField("key"), lit("=\""), e.getField("value"), lit("\"")))), lit("}"))
    df.groupBy(canon.as("v")).agg(count(lit(1)).as("hits"))
      .orderBy(col("hits").desc, col("v"))
  }

  private def streamIdsAgg(df: DataFrame): DataFrame =
    df.groupBy(col("_stream_id").as("v")).agg(count(lit(1)).as("hits"))
      .orderBy(col("hits").desc, col("v"))

  private def streamFieldNamesAgg(df: DataFrame): DataFrame =
    df.select(explode(map_keys(col("_stream"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("hits")).orderBy("v")

  private def streamFieldValuesAgg(df: DataFrame, fld: String): DataFrame =
    df.select(element_at(col("_stream"), fld).as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("hits"))
      .orderBy(col("hits").desc, col("v"))

  private def handleStreams(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    requireStream()
    // pipes dropped across the stream-metadata family (logsql.go:369-481)
    val out = streamsAgg(runQ(ex, dropPipes(parseQ(ex, ps))))
    respond(ex, 200, valuesWithHits(limited(out, ps), 0, 1))
  }

  private def handleStreamIds(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    requireStream()
    val out = streamIdsAgg(runQ(ex, dropPipes(parseQ(ex, ps))))
    respond(ex, 200, valuesWithHits(limited(out, ps), 0, 1))
  }

  private def handleStreamFieldNames(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    requireStream()
    val out = streamFieldNamesAgg(runQ(ex, dropPipes(parseQ(ex, ps))))
    respond(ex, 200, valuesWithHits(limited(out, ps), 0, 1))
  }

  private def handleStreamFieldValues(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    requireStream()
    val fld = one(ps, "field").getOrElse(throw new IllegalArgumentException("missing 'field' arg"))
    val out = streamFieldValuesAgg(runQ(ex, dropPipes(parseQ(ex, ps))), fld)
    respond(ex, 200, valuesWithHits(limited(out, ps), 0, 1))
  }

  // ------------------------------------------- cluster-internal endpoints
  // app/vlselect/internalselect/internalselect.go: the native protocol a
  // reference vlselect front uses to fan a query out to storage nodes.
  // Args arrive as URL query params (netselect.go:234 getCommonArgs);
  // `tenant_ids` is RAW BINARY (u32be pairs) URL-escaped, so it must be
  // percent-decoded to bytes — the UTF-8 form decoder would mangle it.

  private def urlDecodeBytes(s: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '%' if i + 2 < s.length =>
          out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
        case '+' => out.write(' '); i += 1
        case c => out.write(c.toInt); i += 1
      }
    }
    out.toByteArray
  }

  private def rawArg(ex: HttpExchange, name: String): Option[Array[Byte]] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").iterator
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name => urlDecodeBytes(v) }

  private final case class InternalParams(tenants: Seq[String], q: Query,
                                          compress: Boolean)

  private def internalParams(ex: HttpExchange,
                             ps: Map[String, Seq[String]]): InternalParams = {
    val version = one(ps, "version").getOrElse("")
    if (version != InternalProto.SelectProtocolVersion)
      throw new IllegalArgumentException(
        s"unexpected version=$version; want ${InternalProto.SelectProtocolVersion}")
    val tenants = InternalProto.parseTenantIds(
        rawArg(ex, "tenant_ids").getOrElse(Array.emptyByteArray))
      .map(QueryServer.canonTenant).distinct
    val ts = one(ps, "timestamp").getOrElse(
      throw new IllegalArgumentException("cannot parse timestamp")).toLong
    val text = one(ps, "query").getOrElse(
      throw new IllegalArgumentException("missing 'query' arg"))
    // ParseQueryAtTimestamp: relative time filters resolve at the
    // timestamp the FRONT pinned, not this node's clock
    val q = Parser.parse(text, ts)
    val compress = !one(ps, "disable_compression").getOrElse(
      throw new IllegalArgumentException("cannot parse disable_compression"))
      .toBoolean
    InternalParams(tenants, q, compress)
  }

  /** Tenant scoping by explicit list (the internal protocol carries
    * tenants as an arg, not headers). Zero tenants select zero rows. */
  private def tenantScopeT(tenants: Seq[String])(df: DataFrame): DataFrame =
    if (!df.columns.contains("tenant")) df
    else if (tenants.isEmpty) df.filter(lit(false))
    else df.filter(col("tenant").isin(tenants: _*))

  private def runQT(tenants: Seq[String], q: Query): DataFrame =
    Compiler.run(tenantScopeT(tenants)(source), q,
      if (q.evalNs != 0L) q.evalNs else nowNs)

  private def respondVH(ex: HttpExchange, df: DataFrame, compress: Boolean,
                        limit: Option[Long]): Unit = {
    val bounded = limit.filter(_ > 0)
      .map(l => df.limit(math.min(l, Int.MaxValue.toLong).toInt)).getOrElse(df)
    val rows = collectBounded(bounded, "values")
    val b = new ByteArrayOutputStream()
    InternalProto.marshalValuesWithHits(b,
      rows.toSeq.map(r => String.valueOf(r.get(0)) -> r.getLong(1)))
    val data = if (compress) InternalProto.zstdCompress(b.toByteArray)
               else b.toByteArray
    ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
    if (data.isEmpty) ex.sendResponseHeaders(200, -1)
    else {
      ex.sendResponseHeaders(200, data.length.toLong)
      ex.getResponseBody.write(data)
    }
  }

  private def requiredLimit(ps: Map[String, Seq[String]]): Option[Long] =
    Some(one(ps, "limit").getOrElse(
      throw new IllegalArgumentException("cannot parse limit")).toLong)

  private def handleInternalQuery(ex: HttpExchange,
                                  ps: Map[String, Seq[String]]): Unit = {
    val ip = internalParams(ex, ps)
    val df = runQT(ip.tenants, ip.q)
    val rows = df.select(refMap(df, df.columns.toSeq).as("m"))
    // force the first partition's job BEFORE committing the 200 (compile
    // errors map to a real error status, like the NDJSON endpoint)
    val li = rows.toLocalIterator()
    li.hasNext
    ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
    ex.sendResponseHeaders(200, 0)
    val out = ex.getResponseBody
    val buf = new ByteArrayOutputStream()
    def flushBuf(): Unit = if (buf.size() > 0) {
      val data = if (ip.compress) InternalProto.zstdCompress(buf.toByteArray)
                 else buf.toByteArray
      val lenB = new ByteArrayOutputStream(8)
      InternalProto.putU64(lenB, data.length.toLong)
      out.write(lenB.toByteArray)
      out.write(data)
      buf.reset()
    }
    val chunk = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    def flushChunk(): Unit = if (chunk.nonEmpty) {
      // columnarize: the chunk's field-name union, first-seen order;
      // a row lacking a field carries "" (VL's missing == empty)
      val keys = chunk.iterator.flatMap(_.keys).toSeq.distinct
      val cols = keys.map(k => chunk.map(_.getOrElse(k, "")).toArray)
      InternalProto.marshalDataBlock(buf, keys, cols, chunk.size)
      chunk.clear()
      // 1 MiB send threshold, like internalselect.go:106
      if (buf.size() >= (1 << 20)) flushBuf()
    }
    while (li.hasNext) {
      val r = li.next()
      chunk += (if (r.isNullAt(0)) Map.empty[String, String]
                else r.getMap[String, String](0).toMap)
      if (chunk.size >= 4096) flushChunk()
    }
    flushChunk()
    flushBuf()
  }

  private def handleInternalFieldNames(ex: HttpExchange,
                                       ps: Map[String, Seq[String]]): Unit = {
    val ip = internalParams(ex, ps)
    respondVH(ex,
      runQT(ip.tenants, Query(ip.q.filter, Seq(Pipe.FieldNames("name")))),
      ip.compress, None)
  }

  private def handleInternalFieldValues(ex: HttpExchange,
                                        ps: Map[String, Seq[String]]): Unit = {
    val ip = internalParams(ex, ps)
    val fld = one(ps, "field").getOrElse("")
    val lim = requiredLimit(ps)
    respondVH(ex,
      runQT(ip.tenants,
        Query(ip.q.filter, Seq(Pipe.FieldValues(fld, lim.filter(_ > 0))))),
      ip.compress, None)
  }

  private def handleInternalStreams(ex: HttpExchange,
                                    ps: Map[String, Seq[String]]): Unit = {
    requireStream()
    val ip = internalParams(ex, ps)
    respondVH(ex, streamsAgg(runQT(ip.tenants, dropPipes(ip.q))),
      ip.compress, requiredLimit(ps))
  }

  private def handleInternalStreamIds(ex: HttpExchange,
                                      ps: Map[String, Seq[String]]): Unit = {
    requireStream()
    val ip = internalParams(ex, ps)
    respondVH(ex, streamIdsAgg(runQT(ip.tenants, dropPipes(ip.q))),
      ip.compress, requiredLimit(ps))
  }

  private def handleInternalStreamFieldNames(ex: HttpExchange,
                                             ps: Map[String, Seq[String]]): Unit = {
    requireStream()
    val ip = internalParams(ex, ps)
    respondVH(ex, streamFieldNamesAgg(runQT(ip.tenants, dropPipes(ip.q))),
      ip.compress, None)
  }

  private def handleInternalStreamFieldValues(ex: HttpExchange,
                                              ps: Map[String, Seq[String]]): Unit = {
    requireStream()
    val ip = internalParams(ex, ps)
    val fld = one(ps, "field").getOrElse("")
    respondVH(ex, streamFieldValuesAgg(runQT(ip.tenants, dropPipes(ip.q)), fld),
      ip.compress, requiredLimit(ps))
  }

  /** Query.DropAllPipes (parser.go:366): metadata endpoints read the
    * stored logs, not pipe output. Leading `| filter` pipes were already
    * folded into the filter at parse (Optimize), so they survive. */
  private def dropPipes(q: Query): Query = q.copy(pipes = Nil)

  private def limited(df: DataFrame, ps: Map[String, Seq[String]]): DataFrame =
    one(ps, "limit").map(l => df.limit(l.toInt)).getOrElse(df)

  /** Live tail (logsql.go:497-660): poll loop re-running the query over
    * `[lastSeen, now-offset]`, streaming new rows as NDJSON with
    * per-stream timestamp dedup ([[TailState]]). `max_polls` bounds the
    * loop (tests); production clients just hang up. The tailability gate
    * is [[QueryServer.canLiveTail]]. */
  private def handleTail(ex: HttpExchange, ps: Map[String, Seq[String]]): Unit = {
    val q0 = parseQ(ex, ps)
    q0.pipes.find(!QueryServer.canLiveTail(_)).foreach { p =>
      throw new IllegalArgumentException(
        s"cannot tail results of query with pipe ${p.getClass.getSimpleName
          .toLowerCase}: it aggregates or reorders the whole result set")
    }
    // the poll loop tracks progress by each row's _time, but projection
    // pipes may drop it (`| fields event_id`) — keep it flowing through
    // the pipeline and strip it from the emitted JSON afterwards, so the
    // client sees exactly the fields it asked for
    def keepsTime(fs: Seq[String]): Boolean =
      fs.exists(f => f == "_time" ||
        (f.endsWith("*") && "_time".startsWith(f.dropRight(1))))
    var stripTime = false
    // scratch column for carrying _time across a wildcard delete — no
    // leading underscore, so `_*` (the common "drop internals" delete)
    // doesn't match it; a wildcard that DOES cover it (`*`, `g*`) deletes
    // it too and the _time guard below rejects the tail as un-trackable
    val tScratch = "graftTailTime"
    val pipes2 = q0.pipes.flatMap {
      case Pipe.Fields(fs) if !keepsTime(fs) =>
        stripTime = true; Seq(Pipe.Fields(fs :+ "_time"))
      case Pipe.Delete(fs) if keepsTime(fs) =>
        stripTime = true
        // exact `_time` entries just drop from the list; a wildcard that
        // covers _time must still delete its OTHER matches, so park _time
        // in the scratch column across the delete and restore it after
        val (wild, rest0) = fs.partition(f => f != "_time" && keepsTime(Seq(f)))
        val rest = rest0.filter(_ != "_time")
        // a delete that ALSO covers the scratch (`delete *`, or the
        // scratch named outright) leaves nothing to restore — the Rename
        // would resurrect `_time` as a null column and the poll loop
        // would stream garbage; reject it as un-tailable up front
        def covers(f: String, name: String): Boolean =
          f == name || (f.endsWith("*") && name.startsWith(f.dropRight(1)))
        if (wild.nonEmpty && fs.exists(covers(_, tScratch)))
          throw new IllegalArgumentException(
            "cannot tail a query whose pipes delete _time: tailing tracks " +
            "progress by row time")
        if (wild.isEmpty) Seq(Pipe.Delete(rest))
        else Seq(
          Pipe.Copy(Seq("_time" -> tScratch)),
          Pipe.Delete(rest ++ wild),
          Pipe.Rename(Seq(tScratch -> "_time")))
      case p => Seq(p)
    }
    val q = q0.copy(pipes = pipes2)
    // a pipe this rewrite doesn't cover can still lose _time (`mv _time
    // as t`) — fail as a client error BEFORE the 200 header goes out
    if (!runQ(ex, q).columns.contains("_time"))
      throw new IllegalArgumentException(
        "cannot tail a query whose pipes drop _time: tailing tracks " +
        "progress by row time")
    val refreshMs = one(ps, "refresh_interval").map(_.toLong).getOrElse(1000L)
    val maxPolls = one(ps, "max_polls").map(_.toInt).getOrElse(Int.MaxValue)
    // default lifetime cap: tails are not admission-gated, so an abandoned
    // client must not poll the store forever (clients reconnect to resume)
    val maxDurationSecs = one(ps, "max_duration_secs").map(_.toLong).getOrElse(3600L)
    val deadlineNs = System.nanoTime() + maxDurationSecs * 1000000000L
    ex.getResponseHeaders.set("Content-Type", "application/stream+json")
    ex.sendResponseHeaders(200, 0)
    val out = ex.getResponseBody
    // poll windows overlap at the boundary (window from lastSeen
    // INCLUSIVE); re-delivered rows are skipped per stream by timestamp —
    // the reference's tailProcessor semantics (logsql.go:581-689), now in
    // [[TailState]] (conformance-tested against a verbatim transcription
    // of the Go algorithm in TailConformanceSpec)
    // start_offset: how far back the first poll reaches (reference default
    // 5s; here the default tails from the beginning — friendlier for a
    // batch store and for tests — and the arg opts into reference
    // behavior). offset: stay this far behind realtime so slow writers'
    // rows land before their window is polled (logsql.go:512-526).
    val startOffsetMs = one(ps, "start_offset").map(_.toLong)
    val offsetMs = one(ps, "offset").map(_.toLong).getOrElse(1000L)
    var lastSeenUs = startOffsetMs
      .map(so => (System.currentTimeMillis() - so) * 1000L)
      .getOrElse(Long.MinValue)
    val tail = new TailState
    var polls = 0
    // idle-poll elision: a poll can only surface new rows if the store
    // mutated since the last executed poll (generation bump) OR the
    // previous poll saw rows "from the future" (beyond its hi bound —
    // they enter the window as hi advances, with no new write). On an
    // idle tail this skips ALL Spark work per refresh tick instead of
    // re-compiling and re-running the same plan every second (the
    // reference's tail re-polls storage too; with an immutable batch
    // store we can prove the poll is a no-op). Only store-backed sources
    // have the generation signal; fixed-DF sources always poll.
    var lastGen = -1L
    var pendingFuture = true // first poll always runs
    try {
      while (!stopped && polls < maxPolls && System.nanoTime() < deadlineNs) {
        val gen = graft.store.LogStore.generation
        val mayHaveNew = storeDir.isEmpty || pendingFuture || gen != lastGen
        if (mayHaveNew) {
          val hiUs = (System.currentTimeMillis() - offsetMs) * 1000L
          val loNs = if (lastSeenUs == Long.MinValue) Long.MinValue
                     else lastSeenUs * 1000L
          // the query window is [lo, +inf) — the hi bound applies at
          // emission, so rows already written with future timestamps are
          // VISIBLE here (they set pendingFuture and keep the poll loop
          // live until hi catches up, instead of being invisible to the
          // generation gate and silently dropped)
          val windowed = q.copy(filter = Filter.And(Seq(
            Filter.TimeRange(loNs, Long.MaxValue), q.filter)))
          val df = runQ(ex, windowed)
          val withT = df.withColumn("__tus",
            unix_micros(col("_time")))
          val outCols = df.columns.filter(c => !(stripTime && c == "_time"))
          // per-stream delivery state keys on _stream_id when the row
          // carries one ("" otherwise), exactly like the reference's
          // tailProcessor.writeBlock (logsql.go:633-645)
          val sidCol =
            if (df.columns.contains("_stream_id"))
              coalesce(col("_stream_id").cast("string"), lit(""))
            else lit("")
          val rows = withT
            .select(refJson(withT, outCols.toSeq), col("__tus"), sidCol.as("__sid"))
            .collect()
          val (future, emit) = rows.partition(_.getLong(1) > hiUs)
          pendingFuture = future.nonEmpty
          lastGen = gen
          tail.advance(emit.toSeq.map(r =>
            (r.getString(2), r.getLong(1), r.getString(0)))
          ).foreach { case (_, _, json) =>
            out.write(json.getBytes(UTF_8)); out.write('\n')
          }
          if (emit.nonEmpty)
            lastSeenUs = math.max(lastSeenUs, emit.map(_.getLong(1)).max)
          out.flush()
        }
        polls += 1
        if (polls < maxPolls) Thread.sleep(refreshMs)
      }
    } catch { case _: java.io.IOException => /* client hung up */ }
  }
}

object QueryServer {

  /** Canonical `acct:proj` tenant string: empty numeric segments read as
    * 0, like the reference's ParseTenantID ("123:" → 123:0, ":456" →
    * 0:456, "123" → 123:0 — tenant_id.go GetTenantIDFromString). Tenants
    * with non-numeric segments pass through unchanged. */
  def canonTenant(t: String): String = {
    def seg(s: String): Option[String] =
      if (s.isEmpty) Some("0")
      else if (s.forall(_.isDigit)) Some(s.dropWhile(_ == '0') match {
        case "" => "0"; case x => x
      })
      else None
    val (a, p) = t.split(":", 2) match {
      case Array(x, y) => (x.trim, y.trim)
      case _ => (t.trim, "")
    }
    (seg(a), seg(p)) match {
      case (Some(x), Some(y)) => s"$x:$y"
      case _ => t
    }
  }
  /** canLiveTail gate (pipe.go:24; logsql.go:506 rejects non-tailable
    * queries with 400): a poll loop re-runs the query over successive time
    * windows, so only per-row transforms keep their semantics — a pipe
    * that aggregates, reorders, or windows over the whole relation would
    * silently recompute per poll instead. The per-pipe verdicts mirror the
    * reference's canLiveTail methods exactly (conformance: the
    * TestQueryCanLiveTail golden table, parser_test.go:2922) — note `join`
    * and `sample` ARE tailable there (pipe_join.go:49, pipe_sample.go:32):
    * both are per-row w.r.t. the streamed side. */
  private[server] def canLiveTail(p: Pipe): Boolean = p match {
    case Pipe.BlockStats | _: Pipe.BlocksCount | _: Pipe.Facets |
         _: Pipe.FieldNames | _: Pipe.FieldValues |
         _: Pipe.Limit | _: Pipe.Offset | _: Pipe.Sort |
         _: Pipe.Stats | _: Pipe.StreamContext | _: Pipe.Top |
         _: Pipe.Union | _: Pipe.Uniq => false
    case _ => true
  }

  /** `extra_filters` / `extra_stream_filters` args (logsql.go:1191-1283):
    * either a raw LogsQL filter string, or `{"field":"v"|["v1","v2"]}`
    * JSON shorthand — exact/in() filters for the plain variant, stream
    * label matchers for the stream variant. Every query the UI issues
    * carries its selected-filter state this way. Pure function of
    * (text, variant, eval time) — lives on the companion so conformance
    * suites can call it without standing up a server. */
  private[server] def extraFilter(s: String, stream: Boolean, evalNs: Long): Filter = {
    val trimmed = s.trim
    def quote(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val text =
      if (!trimmed.startsWith("{\"")) trimmed
      else {
        import scala.jdk.CollectionConverters._
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(trimmed)
        val kvs = node.fields().asScala.toSeq.map { e =>
          val vals =
            if (e.getValue.isArray) e.getValue.elements().asScala.toSeq.map { el =>
              // the reference REJECTS non-string array members
              // (parseExtraFiltersJSON, logsql.go:1290+)
              if (!el.isTextual) throw new IllegalArgumentException(
                s"extra filter values for '${e.getKey}' must be strings")
              el.asText()
            }
            else Seq(e.getValue.asText())
          e.getKey -> vals
        }.filter(_._2.nonEmpty) // empty arrays constrain nothing — skipped
        if (stream)
          kvs.map { case (k, vals) =>
            if (vals.size == 1) s"${quote(k)}=${quote(vals.head)}"
            else s"${quote(k)}=~${quote(vals.map(goRegexQuote).mkString("|"))}"
          }.mkString("{", ",", "}")
        else
          kvs.map { case (k, vals) =>
            if (vals.size == 1) s"${quote(k)}:=${quote(vals.head)}"
            else s"${quote(k)}:in(${vals.map(quote).mkString(",")})"
          }.mkString(" ")
      }
    if (text.trim.isEmpty) return Filter.Noop
    val q = Parser.parse(text, evalNs)
    // parseExtraFilters uses ParseFilter: pipes are an error, never
    // silently dropped (`foo | count()` as an extra filter is a 400)
    if (q.pipes.nonEmpty)
      throw new IllegalArgumentException(
        s"unexpected pipes in extra filter '$s'")
    q.filter
  }

  /** Go regexp.QuoteMeta: escape regex specials with a backslash (the
    * JVM's Pattern.quote emits \\Q..\\E markers, which the canonical
    * strings don't carry). */
  private def goRegexQuote(s: String): String = {
    val sb = new StringBuilder
    s.foreach { c =>
      if ("\\.+*?()|[]{}^$".indexOf(c) >= 0) sb += '\\'
      sb += c
    }
    sb.result()
  }
}
