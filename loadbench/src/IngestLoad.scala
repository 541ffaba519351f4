package loadbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

/** `ingest`: four closed-loop clients POST seeded 250-row
  * `/insert/jsonline` bodies into a fresh, empty store. Background
  * compaction is never started: the benchmark calls `Compaction.optimize`
  * itself, beside the load once [[CompactAt]] posts are acknowledged, and
  * once more after the timed windows to size the merged store. Warm-up
  * ends at [[WarmPosts]] acknowledged posts and after that merge, so every
  * run's window starts at the same point of the same work and no merge
  * overlaps it (a 6-10 s merge against a 10 s window split the post
  * latencies into two modes whose balance moved from run to run). */
object IngestLoad extends Workload {
  val Clients = 4
  val RowsPerPost = 250
  val SetupReps = 3
  val WarmPosts = 70
  val CompactAt = 20
  /** Seeded think time before each post, uniform in [0, ThinkMs]. Without
    * it the four clients lock into phase with the group committer, either
    * all four in every flush or two alternating pairs, and which of the two
    * a run settled into moved its post latency by half. */
  val ThinkMs = 200
  val Streams = Corpus.Hosts * Corpus.Apps

  final class Post(val body: Array[Byte], val streams: Array[Int], val rare: Array[String])

  def body(c: Corpus): Post = {
    val rows = Array.fill(RowsPerPost)(c.nextRow())
    new Post(rows.map(_.json).mkString("\n").getBytes(UTF_8), rows.map(_.stream), rows.flatMap(_.rare))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tally = new AtomicLongArray(Streams)
    val ackedRows = new AtomicLong
    val ackedBytes = new AtomicLong
    val ackedPosts = new AtomicLong
    val ackedRare = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def ack(p: Post): Unit = {
      p.streams.foreach(s => tally.incrementAndGet(s))
      p.rare.foreach(ackedRare.add)
      ackedRows.addAndGet(p.streams.length)
      ackedBytes.addAndGet(p.body.length)
      ackedPosts.incrementAndGet()
    }

    // set-up: a fresh store, the server on it, and its first acknowledged
    // post; repeated, and the last store is the one loaded
    var http: com.sun.net.httpserver.HttpServer = null
    var dir = ""
    var base = ""
    val setupCorpus = new Corpus(ctx.seed * 7919L + 101L, days = 3)
    val setupS = (0 until SetupReps).map { i =>
      if (http != null) http.stop(0)
      dir = ctx.dir(s"ingest/store$i")
      for (k <- 0 until Streams) tally.set(k, 0L)
      ackedRows.set(0); ackedBytes.set(0); ackedPosts.set(0); ackedRare.clear()
      val p = body(setupCorpus)
      val t = System.nanoTime()
      val (h, port) = graft.Server.start(spark, dir, 0)
      http = h
      base = s"http://127.0.0.1:$port"
      val r = Http.post(base + "/insert/jsonline?_stream_fields=host,app", p.body)
      Loop.count(Op(0L, "setup", 0L, 0L, r.status == 200, r.status, RowsPerPost))
      if (r.status != 200) sys.error(s"set-up post failed: ${r.status} ${r.body.take(200)}")
      ack(p)
      (System.nanoTime() - t) / 1e9
    }

    val compactions = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def compact(label: String): Unit = {
      val before = Store.dataFiles(dir)
      val t0 = Clock.now()
      graft.store.Compaction.optimize(spark, dir)
      val t1 = Clock.now()
      val after = Store.dataFiles(dir).map(_._1).toSet
      val rewritten = before.filterNot(f => after.contains(f._1)).map(_._2).sum
      compactions.synchronized {
        compactions += Map("label" -> label, "at" -> ackedPosts.get, "ms" -> (t1 - t0) / 1e6,
          "bytes_rewritten" -> rewritten, "files_before" -> before.length, "files_after" -> after.size)
      }
    }

    val corpora = (0 until Clients).map(c => new Corpus(ctx.seed * 7919L + c, days = 3))
    val think = (0 until Clients).map(c => new java.util.SplittableRandom(ctx.seed * 7919L + 50L + c))
    val url = base + "/insert/jsonline?_stream_fields=host,app"
    def step(c: Int): Op = {
      val p = body(corpora(c))
      Thread.sleep(think(c).nextInt(ThinkMs + 1).toLong)
      val t0 = Clock.now()
      val r = try Http.post(url, p.body) catch { case e: Exception => Http.Resp(-1, e.toString, Map.empty) }
      val t1 = Clock.now()
      if (r.status == 200) ack(p)
      Op(ctx.nextOpId(), "post", t0, t1, r.status == 200, r.status, RowsPerPost, "/insert/jsonline")
    }

    ctx.note(s"set-up done: ${setupS.mkString(" ")}")
    Loop.closed(Clients, Long.MaxValue, () => ackedPosts.get >= CompactAt)(step)
    val merge = new Thread(() => compact("warm-up"), "loadbench-merge")
    merge.start()
    Loop.closed(Clients, Long.MaxValue, () => ackedPosts.get >= WarmPosts)(step)
    merge.join()
    ctx.note("warm-up done")

    def measured(label: String, seconds: Double): Window = {
      val m0 = Http.metrics(base)
      val files0 = Store.dataFiles(dir).length
      val (t0, t1, ops, jvm) = Loop.window(Clients, seconds)(step)
      val m1 = Http.metrics(base)
      val files1 = Store.dataFiles(dir).length
      def d(k: String) = m1.getOrElse(k, 0.0) - m0.getOrElse(k, 0.0)
      val commits = math.max(1.0, d("graft_ingest_commits_total"))
      Window(label, t0, t1, ops, jvm, Map(
        "server.rows_per_flush" -> d("graft_rows_ingested_total") / commits,
        "server.posts_per_flush" -> d("graft_ingest_requests_total") / commits,
        "server.rejected" -> d("graft_select_rejected_total"),
        "server.stale_retries" -> d("graft_stale_index_retries_total"),
        "store.files_per_flush" -> (files1 - files0).toDouble / commits), Nil)
    }

    // traced runs split the untraced window in two halves around the
    // traced one, so that warm-up drift cancels out of the overhead
    val traced = ctx.tracer.map { tr =>
      val first = measured("plain", ctx.seconds / 2.0)
      tr.drain(); tr.on = true
      val w = measured("traced", ctx.seconds)
      tr.drain(); tr.on = false
      val second = measured("plain.2", ctx.seconds / 2.0)
      // direct pass: Ingest.appendBatch at the batch size the committer formed
      val rows = math.max(1, math.round(w.layers("server.rows_per_flush").asInstanceOf[Double]).toInt)
      val scratch = ctx.dir("ingest/direct")
      val dc = new Corpus(ctx.seed * 7919L + 977L, days = 3)
      import spark.implicits._
      val appendMs = (0 until 6).map { _ =>
        val lines = Seq.fill(rows)(dc.nextRow().json)
        val t0 = Clock.now()
        graft.streaming.Ingest.appendBatch(
          graft.streaming.Ingest.parseJsonline(spark.createDataset(lines).toDF("value")),
          scratch, Seq("app", "host"))
        val t1 = Clock.now()
        tr.spans.add(Span(tr.nextId(), 0L, "streaming.append", t0, t1, direct = true))
        (t1 - t0) / 1e6
      }
      val spans = tr.assemble(w.ops, shareJobs = true)
      Seq(first, w.copy(spans = spans, layers = w.layers ++ Tracing.sparkLayers(tr, w) ++ Map(
        "streaming.append_ms" -> Loop.pct(appendMs.drop(1), 50),
        "streaming.append_rows" -> rows)), second)
    }
    val windows = traced.getOrElse(Seq(measured("plain", ctx.seconds)))
    ctx.note("windows done")
    // settle the layout before sizing the store: one last merge
    compact("final")
    val last = compactions.last
    val read = ctx.tracer.map { tr =>
      val ids = ackedRare.toArray(new Array[String](0)).sorted
      val order = new java.util.SplittableRandom(ctx.seed * 31L + 7L)
      for (i <- ids.indices.reverse) {
        val j = order.nextInt(i + 1)
        val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      val r = ReadProbe.run(ctx, tr, base, dir, days = 3, ids.toIndexedSeq,
        h => (0 until Corpus.Apps).map(a => tally.get(h * Corpus.Apps + a)).sum)
      ctx.note("read probe done")
      r
    }

    // correctness against the generator's tallies
    val logs = graft.store.LogStore.read(spark, dir)
    val total = logs.count()
    val byStream = graft.logql.Compiler.run(logs, "* | stats by (host, app) count() c")
      .collect().map(r => (r.getAs[Any]("host").toString, r.getAs[Any]("app").toString) ->
        r.getAs[Any]("c").toString.toLong).toMap
    val expected = (0 until Streams).filter(tally.get(_) > 0).map { s =>
      (Corpus.host(s / Corpus.Apps), Corpus.app(s % Corpus.Apps)) -> tally.get(s)
    }.toMap
    val files = Store.dataFiles(dir)
    val storeBytes = files.map(_._2).sum
    val checks = read.map(_.check).toSeq ++ Seq(
      ("row_count_equals_acked", total == ackedRows.get, s"store=$total acked=${ackedRows.get}"),
      ("per_stream_counts_match", byStream == expected,
        s"streams store=${byStream.size} generator=${expected.size} " +
          s"mismatched=${(byStream.keySet ++ expected.keySet).count(k => byStream.get(k) != expected.get(k))}"))
    http.stop(0)
    val readWindow = read.map(r => Window("read", r.ops.head.t0, r.ops.last.t1, r.ops, Map.empty, r.layers, r.spans))
    Outcome(setupS, windows ++ readWindow, checks, Loop.attempted.get, Loop.failed.get, Map(
      "acked_rows" -> ackedRows.get, "acked_bytes" -> ackedBytes.get,
      "store.files" -> files.length, "store.bytes" -> storeBytes,
      "store_bytes_per_input_byte" -> storeBytes.toDouble / ackedBytes.get,
      "store.compaction_ms" -> last("ms"),
      "store.compaction_bytes_rewritten" -> last("bytes_rewritten"),
      "compactions" -> compactions.toSeq))
  }
}

/** Store listing helpers (data files under `<dir>/logs`). */
object Store {
  /** (path, bytes) of every parquet data file; retried when a concurrent
    * compaction swaps files out mid-walk. */
  def dataFiles(dir: String, attempts: Int = 5): Seq[(String, Long)] = {
    def walk(f: java.io.File): Seq[(String, Long)] =
      Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { c =>
        if (c.isDirectory) walk(c)
        else if (c.getName.endsWith(".parquet")) Seq(c.getPath -> c.length())
        else Nil
      }
    try walk(new java.io.File(dir, "logs"))
    catch { case _: Exception if attempts > 1 => dataFiles(dir, attempts - 1) }
  }
}
