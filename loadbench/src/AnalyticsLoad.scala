package loadbench

/** `analytics`: one client runs the catalogue queries of
  * `graft.SparkEntry.queries` named in [[Queries]], after one untimed
  * warm-up pass, in a seeded rotation of the catalogue order, over tables
  * generated in set-up. Each pass runs every query once; the window ends
  * with the first pass that finishes after `--seconds`. */
object AnalyticsLoad extends Workload {
  val SetupReps = 3
  /** One to four catalogue queries per family; see README.md for why the
    * whole catalogue does not fit a run. */
  val Queries: Seq[String] = Seq(
    "q_lql_unpack_json", "q_lql_filter_stats", "q_lql_top",
    "q_dedup_exact", "q_dedup_simhash",
    "q_sim_topk",
    "q_text_stats", "q_text_bm25",
    "q_multimodal_rle",
    "q_stream_dedup",
    "q_store_prune", "q_store_bloom",
    "q_agg_stats", "q_join_broadcast")
  val Families = Seq("lql", "dedup", "sim", "text", "multimodal", "stream", "store", "other")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    var sfDir = ""
    val setupS = (0 until SetupReps).map { i =>
      sfDir = ctx.dir(s"analytics/sfbench$i")
      val t = System.nanoTime()
      AnalyticsData.materialize(spark, sfDir)
      AnalyticsData.install(spark, sfDir)
      (System.nanoTime() - t) / 1e9
    }
    val names = Queries
    val counts = scala.collection.mutable.Map.empty[String, Seq[Long]]
    def one(n: String): Op = {
      val t0 = Clock.now()
      val (ok, rows) =
        try (true, graft.SparkEntry.queries(n)(spark, sfDir).collect().length.toLong)
        catch { case e: Exception =>
          System.err.println(s"query $n failed: $e"); (false, -1L) }
      val t1 = Clock.now()
      counts(n) = counts.getOrElse(n, Nil) :+ rows
      Loop.count(Op(ctx.nextOpId(), n, t0, t1, ok, if (ok) 200 else 500, math.max(rows, 0L), n))
    }
    ctx.note(s"set-up done: ${setupS.mkString(" ")}")
    // untimed warm-up pass in the catalogue order: it pays each query's
    // one-off costs (store builds, code generation)
    names.foreach { n =>
      val o = one(n)
      ctx.note(f"warm-up ${o.cls} ${o.ms}%.0f ms")
    }
    ctx.note("warm-up pass done")

    // the seed picks where in the catalogue each pass starts; every pass
    // runs the same rotation, so runs with different seeds execute the same
    // cyclic sequence of work (a fresh shuffle per pass gave each seed its
    // own sequence, and the seeds' throughputs differed by up to 20%)
    val start = new java.util.SplittableRandom(ctx.seed).nextInt(names.length)
    val order = names.drop(start) ++ names.take(start)
    def measured(label: String, seconds: Double): Window = {
      val probe = new Jvm.Probe
      val t0 = Clock.now()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
      var passes = 0
      while (passes == 0 || System.nanoTime() < deadline) {
        order.foreach(n => ops += one(n))
        passes += 1
      }
      val t1 = Clock.now()
      Window(label, t0, t1, ops.toSeq, probe.delta(), Map("passes" -> passes), Nil)
    }

    val traced = ctx.tracer.map { tr =>
      val first = measured("plain", ctx.seconds / 2.0)
      tr.drain(); tr.on = true
      val w = measured("traced", ctx.seconds)
      tr.drain(); tr.on = false
      val second = measured("plain.2", ctx.seconds / 2.0)
      val passes = w.layers("passes").asInstanceOf[Int].toDouble
      val fam = w.ops.groupBy(o => family(o.cls))
      val famLayers = Families.flatMap { f =>
        val os = fam.getOrElse(f, Nil)
        Seq(s"ops.${f}_s" -> os.map(o => (o.t1 - o.t0) / 1e9).sum / passes,
          s"ops.${f}_cpu_s" -> os.map(o => tr.jobCpuNs(o.t0, o.t1)).sum / 1e9 / passes)
      }
      Seq(first, w.copy(spans = tr.assemble(w.ops, shareJobs = false),
        layers = w.layers ++ Tracing.sparkLayers(tr, w) ++ famLayers), second)
    }
    val windows = traced.getOrElse(Seq(measured("plain", ctx.seconds)))
    ctx.note("windows done")

    val expectedFile = new java.io.File(ctx.srcRoot, "loadbench/analytics_counts.json")
    val observed = names.map(n => n -> counts(n).distinct).toMap
    val stable = observed.forall(_._2.length == 1)
    val expected = Counts.read(expectedFile)
    val mismatched = names.filter(n => !expected.get(n).contains(observed(n).head))
    val checks = Seq(
      ("row_counts_stable_across_passes", stable,
        observed.filter(_._2.length != 1).map { case (n, c) => s"$n:${c.mkString("/")}" }.mkString(" ")),
      ("row_counts_match_recorded", mismatched.isEmpty,
        mismatched.map(n => s"$n:${observed(n).head}/${expected.getOrElse(n, -1L)}").mkString(" ")))
    Outcome(setupS, windows, checks, Loop.attempted.get, Loop.failed.get,
      Map("queries" -> names.length, "store_bytes_per_input_byte" -> storeRatio(ctx, sfDir)))
  }

  /** Bytes of the log store the catalogue built from `events`, per byte of
    * the events table's JSON-lines rendering. */
  private def storeRatio(ctx: Ctx, sfDir: String): Double = {
    val dir = graft.store.LogStore.ensureFromEvents(ctx.spark, sfDir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(ctx.spark.sessionState.newHadoopConf())
    val stored = fs.getContentSummary(new org.apache.hadoop.fs.Path(dir, "logs")).getLength
    val input = graft.Tables.eventsLog(ctx.spark, sfDir).toJSON.rdd.map(_.length + 1L).sum()
    stored / input
  }

  def family(q: String): String = {
    val n = q.stripPrefix("q_")
    if (n.startsWith("lql_")) "lql"
    else if (n.startsWith("dedup_") || n == "embed_neardup" || n == "decontaminate") "dedup"
    else if (n.startsWith("sim_")) "sim"
    else if (n.startsWith("text_")) "text"
    else if (n.startsWith("multimodal_")) "multimodal"
    else if (n.startsWith("stream_")) "stream"
    else if (n.startsWith("store_")) "store"
    else "other"
  }
}

/** Reader for the flat `{"query": count}` file of recorded row counts. */
object Counts {
  def read(f: java.io.File): Map[String, Long] =
    if (!f.exists()) Map.empty
    else {
      val t = Json.mapper.readTree(f)
      scala.jdk.CollectionConverters.IteratorHasAsScala(t.fieldNames()).asScala
        .map(k => k -> t.get(k).asLong).toMap
    }
}
