package graft.streaming

import graft.SparkSuite
import graft.server.GroupCommitter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}

/** The fixed cost of one ingest flush: each line is parsed once, a
  * steady-state flush generates the same code as the one before it (so
  * its classes come from the compile cache), a batch of one slice is
  * written by one job with no exchange, and every file a flush writes is
  * sorted by (_stream_id, _time). */
class FlushCostSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def tmp(name: String): String = {
    val d = s"target/flush_cost_test/$name-${System.nanoTime()}"
    Files.createDirectories(Paths.get(d))
    d
  }

  private def drainBus(): Unit = {
    // listenerBus is private[spark] at the source level, public in
    // bytecode (same reflection ValueTypeMetaSpec uses)
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }

  /** Runs `body`; returns the query executions of the `<dir>/logs` writes
    * it made, and the number of Spark jobs it ran. */
  private def traced(body: => Unit): (Seq[QueryExecution], Int) = {
    drainBus()
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = qes.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    try { body; drainBus() }
    finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
    import scala.jdk.CollectionConverters._
    val writes = qes.asScala.toSeq.filter(_.optimizedPlan.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand
        if c.outputPath.toString.endsWith("/logs") => c
    }.isDefined)
    (writes, jobs.get)
  }

  private def jsonLines(n: Int, seed: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val day = 5 + r.nextInt(3)
      val sec = r.nextInt(86400)
      val ts = f"2024-01-0${day}T${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02dZ"
      s"""{"_time":"$ts","_msg":"line $i of $seed","app":"a${r.nextInt(7)}",""" +
        s""""host":"h${r.nextInt(5)}","level":"info"}"""
    }
  }

  private def linesDf(lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(lines, 1)).toDF("value")
  }

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount

  private def exchanges(qe: QueryExecution): Seq[SparkPlan] =
    collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }

  private val Fields = Seq("app", "host")

  /** A committer on a fresh store, warmed by one flush of every stream
    * the corpus uses, so later flushes are steady-state ones. */
  private def warmCommitter(name: String): (String, GroupCommitter) = {
    val dir = tmp(name)
    val gc = new GroupCommitter(spark, dir)
    val all = for (a <- 0 until 7; h <- 0 until 5) yield
      s"""{"_time":"2024-01-05T00:00:00Z","_msg":"warm","app":"a$a","host":"h$h"}"""
    gc.append(GroupCommitter.Lines(all), "k", Ingest.parseJsonline(_), Fields, "0:0")
    (dir, gc)
  }

  test("a jsonline flush parses each line once") {
    val dir = tmp("parse-once")
    val lines = jsonLines(40, 1)
    val (qes, _) = traced {
      Ingest.appendBatch(Ingest.parseJsonline(linesDf(lines)), dir, Fields)
      Ingest.appendBatch(Ingest.parseElasticsearchBulk(linesDf(
        """{"index":{}}""" +: lines), "_time", "_msg"), dir, Fields)
    }
    assert(qes.size == 2)
    qes.foreach { qe =>
      val parses = qe.optimizedPlan.flatMap(_.expressions.flatMap(
        _.collect { case e if e.prettyName.startsWith("graft_json") => e }))
      assert(parses.size == 1,
        s"${parses.size} JSON parses per line in\n${qe.optimizedPlan}")
    }
  }

  test("a steady-state flush generates the code of the one before it") {
    val (_, gc) = warmCommitter("codegen")
    try {
      def flush(seed: Int): (QueryExecution, Long) = {
        val c0 = compiles
        val (qes, _) = traced {
          gc.append(GroupCommitter.Lines(jsonLines(300, seed)), "k",
            Ingest.parseJsonline(_), Fields, "0:0")
        }
        (qes.head, compiles - c0)
      }
      val (a, _) = flush(2)
      Thread.sleep(5) // a later flush instant
      val (b, compiled) = flush(3)
      import org.apache.spark.sql.execution.debug.codegenStringSeq
      val codeA = codegenStringSeq(a.executedPlan).map(_._2)
      val codeB = codegenStringSeq(b.executedPlan).map(_._2)
      assert(codeA.nonEmpty && codeA == codeB,
        codeA.zip(codeB).find(p => p._1 != p._2).map(p =>
          s"first differing stage:\n${p._1}\n--- vs ---\n${p._2}").getOrElse(""))
      // covers the operators outside whole-stage codegen too (their
      // projections and predicates compile on first use)
      assert(compiled == 0, s"the second flush compiled $compiled classes")
    } finally gc.close()
  }

  test("a one-slice batch is one job with no exchange; a wide batch is salted") {
    val (dir, gc) = warmCommitter("width")
    try {
      val (small, jobs) = traced {
        gc.append(GroupCommitter.Lines(jsonLines(300, 4)), "k",
          Ingest.parseJsonline(_), Fields, "0:0")
      }
      assert(jobs == 1, s"a one-slice flush ran $jobs jobs")
      assert(exchanges(small.head).isEmpty, small.head.executedPlan.toString)
      // wide enough for several slices: ~3 MB of lines
      val pad = "x" * 1000
      val wide = jsonLines(3000, 5).map(_.replace("\"level\"", s"\"pad\":\"$pad\",\"level\""))
      assert(GroupCommitter.slices(wide.map(_.length + 1L).sum, wide.size) > 1)
      val (big, _) = traced {
        gc.append(GroupCommitter.Lines(wide), "k", Ingest.parseJsonline(_),
          Fields, "0:0")
      }
      assert(exchanges(big.head).nonEmpty, big.head.executedPlan.toString)
      // one body larger than a slice is still parsed by one task, so it
      // is not salted either
      val n = (GroupCommitter.SliceChars / 100).toInt
      val values = (0 until n).map(i =>
        s"""["${1704412800000000000L + i * 1000000L}","${"v" * 100} $i"]""")
      val body = s"""{"streams":[{"stream":{"app":"a1","host":"h1"},""" +
        s""""values":[${values.mkString(",")}]}]}"""
      assert(body.length > GroupCommitter.SliceChars)
      assert(GroupCommitter.slices(body.length + 1L, 1) == 1)
      val (loki, _) = traced {
        gc.append(GroupCommitter.Lines(Seq(body)), "loki",
          Ingest.parseLokiJson(_), Fields, "0:0")
      }
      assert(exchanges(loki.head).isEmpty, loki.head.executedPlan.toString)
      assert(graft.logql.Compiler.run(graft.store.LogStore.read(spark, dir),
        "* | stats count() c").collect().head.getLong(0) ==
        35 + 300 + 3000 + n)
    } finally gc.close()
  }

  test("a batch parses in one slice per started SliceChars, one per line at most") {
    import GroupCommitter.{SliceChars, slices}
    assert(slices(0, 0) == 1)
    assert(slices(1, 1) == 1)
    assert(slices(SliceChars, 100000) == 1)
    assert(slices(SliceChars + 1, 100000) == 2)
    assert(slices(3 * SliceChars, 2) == 2)
    assert(slices(100 * SliceChars, 100000) == 32)
  }

  /** (_stream_id, _time micros) of every row, per data file, in file order. */
  private def fileOrders(dir: String): Seq[(String, Seq[(String, Long)])] = {
    val files = Files.walk(Paths.get(dir, "logs")).iterator()
    import scala.jdk.CollectionConverters._
    files.asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.map { f =>
      f -> spark.read.parquet(f)
        .selectExpr("_stream_id", "unix_micros(_time)").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1)))
    }
  }

  private def assertSorted(dir: String): Unit = {
    val orders = fileOrders(dir)
    assert(orders.nonEmpty)
    val unsorted = orders.filter { case (_, rows) =>
      rows != rows.sortBy(identity)
    }.map(_._1)
    assert(unsorted.isEmpty,
      s"${unsorted.size} of ${orders.size} files not sorted by (_stream_id, _time)")
  }

  test("every file a flush writes is sorted by (_stream_id, _time)") {
    val lines = jsonLines(400, 6)
    val one = tmp("sorted-one")
    Ingest.appendBatch(Ingest.parseJsonline(linesDf(lines)), one, Fields,
      salt = false)
    assertSorted(one)
    val salted = tmp("sorted-salted")
    Ingest.appendBatch(Ingest.parseJsonline(linesDf(lines)), salted, Fields)
    assertSorted(salted)
    // the bulk load writes the same layout
    val bulk = tmp("sorted-bulk")
    graft.store.LogStore.ingest(Ingest.parseJsonline(linesDf(lines))
      .selectExpr("_time", "_msg", "fields['app'] AS app", "fields['host'] AS host"),
      bulk, Fields)
    assertSorted(bulk)
  }
}
