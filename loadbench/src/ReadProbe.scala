package loadbench

import java.util.SplittableRandom

/** Read side of the traced `ingest` run. After the last merge, the run
  * builds the `MsgBloom`/`FieldBloom` sidecars of the store it ingested and
  * sends [[PerClass]] seeded, never-repeating requests of each class over
  * HTTP:
  *   - needle: a rare id with `limit=50` (last-N day descent, bloom pruning);
  *   - stats: a host's stream filter with `| stats by`;
  *   - hits: `/hits` with a step over a random window;
  *   - field_values and facets;
  *   - phrase: two words with `| sort | limit`.
  * Each request has its own time range, so none hits the plan cache. After
  * each request the probe calls the public functions behind it with the
  * same text (`Parser.parse`, `Compiler.run` without executing,
  * `LogStore.lastN`, `MsgBloom`/`FieldBloom.candidateFiles`) and records
  * each as a direct span of the request. Per-host `stats count()` requests
  * are checked against the generator's tallies. */
object ReadProbe {
  val PerClass = 4
  val CheckedHosts = 3
  val Classes = Seq("needle", "stats", "hits", "field_values", "facets", "phrase")

  final case class Result(ops: Seq[Op], spans: Seq[Span], layers: Map[String, Any],
                          check: (String, Boolean, String))

  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** The k-th request: (class, endpoint path, params). */
  def request(rareIds: IndexedSeq[String], days: Int, rnd: SplittableRandom,
              k: Int): (String, String, Seq[(String, String)]) = {
    val cls = Classes(k % Classes.length)
    val span = (2 + rnd.nextInt(days * 20)) * 3600000L + rnd.nextInt(3600) * 1000L
    val start = Corpus.EndMs - days * Corpus.DayMs + rnd.nextLong(days * Corpus.DayMs - span)
    val range = Seq("start" -> iso(start), "end" -> iso(start + span))
    def word() = Corpus.Vocab(rnd.nextInt(Corpus.Vocab.length))
    cls match {
      case "needle" =>
        // newest-first descent: no time range, the id picks the request
        (cls, "/select/logsql/query",
          Seq("query" -> Corpus.q(rareIds(k / Classes.length % rareIds.length)), "limit" -> "50"))
      case "stats" =>
        val host = Corpus.host(rnd.nextInt(Corpus.Hosts))
        (cls, "/select/logsql/query",
          Seq("query" -> s"""{host="$host"} | stats by (level) count() c""") ++ range)
      case "hits" =>
        val step = Seq("10m", "30m", "1h", "3h")(rnd.nextInt(4))
        (cls, "/select/logsql/hits", Seq("query" -> "*", "step" -> step) ++ range)
      case "field_values" =>
        val f = Seq("level", "region", "app", "status")(rnd.nextInt(4))
        (cls, "/select/logsql/field_values", Seq("query" -> "*", "field" -> f) ++ range)
      case "facets" =>
        (cls, "/select/logsql/facets", Seq("query" -> Corpus.q(word())) ++ range)
      case _ =>
        (cls, "/select/logsql/query",
          Seq("query" -> s"${Corpus.q(word() + " " + word())} | sort by (_time) desc | limit 10") ++ range)
    }
  }

  /** Parse a response body; returns the number of result records, or -1
    * when the body is not what the endpoint promises. */
  def records(path: String, body: String): Long =
    try {
      if (path == "/select/logsql/query") {
        val lines = body.split('\n').filter(_.nonEmpty)
        if (lines.forall(l => Json.mapper.readTree(l).isObject)) lines.length.toLong else -1L
      } else {
        val t = Json.mapper.readTree(body)
        if (!t.isObject) -1L
        else Option(t.get("values")).orElse(Option(t.get("hits"))).orElse(Option(t.get("facets")))
          .map(_.size.toLong).getOrElse(1L)
      }
    } catch { case _: Exception => -1L }

  /** `rareIds` are ids the store holds; `hostTally(h)` is host h's row count. */
  def run(ctx: Ctx, tr: Tracer, base: String, dir: String, days: Int,
          rareIds: IndexedSeq[String], hostTally: Int => Long): Result = {
    val spark = ctx.spark
    graft.store.MsgBloom.build(spark, dir)
    graft.store.FieldBloom.build(spark, dir)
    val rnd = new SplittableRandom(ctx.seed * 1000003L + 11L)
    val direct = scala.collection.mutable.ArrayBuffer.empty[Span]
    val figures = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def timed[T](op: Long, name: String)(f: => T): T = {
      val t0 = Clock.now()
      val v = f
      val t1 = Clock.now()
      direct += Span(tr.nextId(), op, name, t0, t1, direct = true)
      figures += name -> (t1 - t0) / 1e6
      v
    }
    val nowNs = Corpus.EndMs * 1000000L
    val total = math.max(1, Store.dataFiles(dir).length).toDouble
    val ops = (0 until PerClass * Classes.length).map { k =>
      val (cls, path, params) = request(rareIds, days, rnd, k)
      val t0 = Clock.now()
      val r = try Http.get(base + path + "?" + Http.form(params))
              catch { case e: Exception => Http.Resp(-1, e.toString, Map.empty) }
      val t1 = Clock.now()
      val n = if (r.status == 200) records(path, r.body) else -1L
      val id = ctx.nextOpId()
      // the public functions behind the request, called with its text
      val q = timed(id, "logql.parse")(graft.logql.Parser.parse(params.toMap.getOrElse("query", "*"), nowNs))
      timed(id, "logql.compile")(graft.logql.Compiler.run(graft.store.LogStore.read(spark, dir), q, nowNs))
      val kept = cls match {
        case "needle" =>
          timed(id, "store.lastn")(graft.store.LogStore.lastN(spark, dir, q, 50, nowNs))
          Some(timed(id, "store.bloom_probe")(graft.store.MsgBloom.candidateFiles(
            spark, dir, graft.store.MsgBloom.requiredMsgTokens(q.filter))))
        case "stats" =>
          Some(timed(id, "store.bloom_probe")(graft.store.FieldBloom.candidateFiles(
            spark, dir, graft.store.FieldBloom.requiredTokensByField(q.filter))))
        case _ => None
      }
      kept.foreach(k => figures += "store.bloom_kept" -> k.map(_.size / total).getOrElse(1.0))
      Loop.count(Op(id, cls, t0, t1, r.status == 200 && n >= 0, r.status, math.max(n, 0L), path,
        Map("plan_cache" -> r.headers.getOrElse("X-Graft-Plan-Cache", ""),
          "days_scanned" -> r.headers.get("X-Graft-Days-Scanned").map(_.toLong).getOrElse(-1L))))
    }

    // per-host counts through the server against the generator's tallies
    val pick = new SplittableRandom(ctx.seed + 5L)
    val hosts = Seq.fill(CheckedHosts)(pick.nextInt(Corpus.Hosts)).distinct
    val counted = hosts.map { h =>
      val q = s"""{host="${Corpus.host(h)}"} | stats count() c"""
      val r = Http.get(base + "/select/logsql/query?" + Http.form(Seq("query" -> q)))
      Loop.count(Op(0L, "check", 0L, 0L, r.status == 200, r.status, 1L))
      val got = scala.util.Try(Json.mapper.readTree(r.body.trim).get("c").asText.toLong).getOrElse(-1L)
      (Corpus.host(h), got, hostTally(h))
    }

    val byName = figures.groupBy(_._1).view.mapValues(xs => xs.map(_._2).sum / xs.length).toMap
    val cached = ops.map(_.note.getOrElse("plan_cache", "")).filter(_ != "bypass")
    val days0 = ops.map(_.note.getOrElse("days_scanned", -1L).asInstanceOf[Long]).filter(_ >= 0)
    Result(ops, direct.toSeq, Map(
      "server.plan_cache_hit_ratio" ->
        (if (cached.isEmpty) 0.0 else cached.count(_ == "hit").toDouble / cached.length),
      "server.days_scanned" -> (if (days0.isEmpty) 0.0 else days0.sum.toDouble / days0.length),
      "logql.parse_ms" -> byName.getOrElse("logql.parse", 0.0),
      "logql.compile_ms" -> byName.getOrElse("logql.compile", 0.0),
      "store.lastn_ms" -> byName.getOrElse("store.lastn", 0.0),
      "store.bloom_probe_ms" -> byName.getOrElse("store.bloom_probe", 0.0),
      "store.bloom_kept_ratio" -> byName.getOrElse("store.bloom_kept", 0.0)),
      ("read_per_host_counts_match", counted.forall(x => x._2 == x._3),
        counted.map(x => s"${x._1}:${x._2}/${x._3}").mkString(" ")))
  }
}
