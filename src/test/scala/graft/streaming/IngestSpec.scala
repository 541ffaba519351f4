package graft.streaming

import graft.SparkSuite
import graft.store.LogStore
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Streaming ingest tests: lines in → queryable store, counts match
  * (reference apptest/tests/ingestprotocols_test.go shape). */
class IngestSpec extends SparkSuite {

  private def tmp(name: String): String = {
    val d = s"/root/repo/target/ingest_test/$name-${System.nanoTime()}"
    Files.createDirectories(Paths.get(d))
    d
  }

  test("jsonline parser: specials split from fields map, bad lines dropped") {
    import spark.implicits._
    val lines = Seq(
      """{"_time":"2024-01-05T10:00:00Z","_msg":"hello","app":"web","level":"info"}""",
      """{"_msg":"no time","app":"api"}""",
      "not json at all").toDF("value")
    val out = Ingest.parseJsonline(lines).collect()
    val byMsg = out.map(r => r.getAs[String]("_msg") -> r).toMap
    assert(byMsg("hello").getAs[java.sql.Timestamp]("_time").toInstant.toString
      == "2024-01-05T10:00:00Z")
    assert(byMsg("hello").getAs[Map[String, String]]("fields") ==
      Map("app" -> "web", "level" -> "info"))
    // malformed lines are logged and dropped like the reference
    // (jsonline_test.go "invalid lines among valid lines")
    assert(!byMsg.contains("not json at all"))
    assert(out.length == 2)
  }

  test("jsonline _time_field and _msg_field may name the same key") {
    // each list picks its first present key on its own; a key picked by
    // both serves both and leaves the fields once
    import spark.implicits._
    val lines = Seq(
      """{"ts":"2024-01-05T10:00:00Z","app":"web"}""",
      """{"at":"2024-01-06T10:00:00Z","ts":"2024-01-07T10:00:00Z","app":"api"}""")
      .toDF("value")
    val out = Ingest.parseJsonline(lines, "at,ts", "ts").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("_time").toInstant.toString,
        r.getAs[String]("_msg"), r.getAs[Map[String, String]]("fields")))
      .sortBy(_._1).toSeq
    assert(out == Seq(
      ("2024-01-05T10:00:00Z", "2024-01-05T10:00:00Z", Map("app" -> "web")),
      ("2024-01-06T10:00:00Z", "2024-01-07T10:00:00Z", Map("app" -> "api"))), out)
  }

  test("jsonline ingest flattens nested objects into dot-path fields") {
    // json_parser.go appendLogFields: {"k8s":{"pod":{"name":"x"}}} is
    // stored as the single field k8s.pod.name=x; arrays keep raw JSON
    import spark.implicits._
    val lines = Seq(
      """{"_msg":"m","k8s":{"pod":{"name":"x"},"labels":["a","b"]}}""")
      .toDF("value")
    val f = Ingest.parseJsonline(lines).collect().head
      .getAs[Map[String, String]]("fields")
    assert(f == Map("k8s.pod.name" -> "x", "k8s.labels" -> """["a","b"]"""), f)
  }

  test("syslog parser: RFC3164 and RFC5424") {
    import spark.implicits._
    val lines = Seq(
      "<34>1 2024-01-05T10:11:12Z host1 myapp 77 ID1 - emergency happened",
      "<13>Jan  5 10:11:12 host2 cron[123]: scheduled run").toDF("value")
    val out = Ingest.parseSyslog(lines).collect()
    val m = out.map(r => r.getAs[String]("_msg") -> r.getAs[Map[String, String]]("fields")).toMap
    assert(m("emergency happened")("app_name") == "myapp")
    assert(m("emergency happened")("severity") == "2")
    assert(m("scheduled run")("hostname") == "host2")
  }

  test("elasticsearch bulk parser drops action lines") {
    import spark.implicits._
    val lines = Seq(
      """{"index":{"_index":"logs"}}""",
      """{"@timestamp":"2024-01-05T10:00:00Z","message":"doc one","level":"info"}""",
      """{"create":{}}""",
      """{"message":"doc two","app":"x"}""").toDF("value")
    val out = Ingest.parseElasticsearchBulk(lines).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("_msg")).toSet == Set("doc one", "doc two"))
  }

  test("loki push JSON explodes streams and values") {
    import spark.implicits._
    val payload =
      """{"streams":[{"stream":{"app":"web","env":"prod"},
         "values":[["1704449000000000000","line a"],["1704449001000000000","line b"]]}]}"""
        .replaceAll("\n\\s*", "")
    val out = Ingest.parseLokiJson(Seq(payload).toDF("value")).collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Map[String, String]]("fields")("app") == "web"))
    assert(out.map(_.getAs[String]("_msg")).toSet == Set("line a", "line b"))
    assert(out.head.getAs[java.sql.Timestamp]("_time").toInstant.toString
      == "2024-01-05T10:03:20Z")
  }

  test("OTLP logs JSON flattens resource and record attributes") {
    import spark.implicits._
    val payload =
      """{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"cart"}}]},
         "scopeLogs":[{"logRecords":[
           {"timeUnixNano":"1704449000000000000","severityText":"INFO",
            "body":{"stringValue":"added item"},
            "attributes":[{"key":"user","value":{"stringValue":"u1"}}]}]}]}]}"""
        .replaceAll("\n\\s*", "")
    val out = Ingest.parseOtlpJson(Seq(payload).toDF("value")).collect()
    assert(out.length == 1)
    val f = out.head.getAs[Map[String, String]]("fields")
    assert(f("service.name") == "cart" && f("user") == "u1" && f("severity") == "INFO")
    assert(out.head.getAs[String]("_msg") == "added item")
  }

  test("datadog JSON array parses tags") {
    import spark.implicits._
    val payload =
      """[{"message":"dd msg","ddtags":"env:prod,team:core","hostname":"h9","service":"api"}]"""
    val out = Ingest.parseDatadogJson(Seq(payload).toDF("value")).collect()
    assert(out.length == 1)
    val f = out.head.getAs[Map[String, String]]("fields")
    assert(f("env") == "prod" && f("team") == "core" && f("hostname") == "h9")
  }

  test("duplicate keys in client payloads are DEFINED, never a batch failure") {
    import spark.implicits._
    // jsonline: duplicate JSON keys → first wins (element_at parity);
    // previously any map rebuild threw DUPLICATED_MAP_KEY
    val jl = Ingest.parseJsonline(Seq(
      """{"_msg":"m","a":"1","a":"2","b":"x"}""").toDF("value")).collect()
    assert(jl.head.getAs[Map[String, String]]("fields") ==
      Map("a" -> "1", "b" -> "x"))
    // Loki: duplicate stream label keys → first wins
    val loki = Ingest.parseLokiJson(Seq(
      """{"streams":[{"stream":{"app":"w","app":"x"},"values":[["1704449000000000000","l1"]]}]}""")
      .toDF("value")).collect()
    assert(loki.head.getAs[Map[String, String]]("fields") == Map("app" -> "w"))
    // OTLP: same attribute key on resource and record (legal) → record
    // wins; repeated record attr → last wins; severity strongest
    val otlp = Ingest.parseOtlpJson(Seq(
      """{"resourceLogs":[{"resource":{"attributes":[{"key":"env","value":{"stringValue":"res"}},{"key":"severity","value":{"stringValue":"attr"}}]},
         "scopeLogs":[{"logRecords":[{"timeUnixNano":"1704449000000000000","severityText":"INFO",
         "body":{"stringValue":"b"},"attributes":[{"key":"env","value":{"stringValue":"rec1"}},{"key":"env","value":{"stringValue":"rec2"}}]}]}]}]}"""
        .replaceAll("\n\\s*", "")).toDF("value")).collect()
    val of = otlp.head.getAs[Map[String, String]]("fields")
    assert(of("env") == "rec2" && of("severity") == "INFO", of.toString)
    // DataDog: tag repeating and tag shadowing hostname → tag (last) wins
    val dd = Ingest.parseDatadogJson(Seq(
      """[{"message":"m","hostname":"h1","service":"s","ddtags":"hostname:h2,t:1,t:2"}]""")
      .toDF("value")).collect()
    val df0 = dd.head.getAs[Map[String, String]]("fields")
    assert(df0("hostname") == "h2" && df0("t") == "2" && df0("service") == "s", df0.toString)
    // journald: repeated FIELD → last wins
    val jd = Ingest.parseJournaldExport(Seq(
      "MESSAGE=m\nX=1\nX=2").toDF("value")).collect()
    assert(jd.head.getAs[Map[String, String]]("fields")("X") == "2")
    // Loki protobuf label strings: Scala toMap gives proto's last-wins
    assert(graft.streaming.LokiProto
      .parseLabels("""{app="a",app="b",env="p"}""") ==
      Map("app" -> "b", "env" -> "p"))
  }

  test("journald export blocks parse FIELD=value pairs") {
    import spark.implicits._
    val block = "MESSAGE=unit started\n__REALTIME_TIMESTAMP=1704449000000000\nPRIORITY=6\n_SYSTEMD_UNIT=web.service"
    val out = Ingest.parseJournaldExport(Seq(block).toDF("value")).collect()
    assert(out.head.getAs[String]("_msg") == "unit started")
    val f = out.head.getAs[Map[String, String]]("fields")
    assert(f("PRIORITY") == "6" && f("_SYSTEMD_UNIT") == "web.service")
    assert(out.head.getAs[java.sql.Timestamp]("_time").toInstant.toString
      == "2024-01-05T10:03:20Z")
  }

  test("file stream ingest: jsonline files → store → LogsQL query") {
    val src = tmp("src")
    val store = tmp("store")
    val ckpt = tmp("ckpt")
    val clean = (0 until 100).map { i =>
      val app = if (i % 2 == 0) "web" else "api"
      val day = 1 + (i % 3)
      f"""{"_time":"2024-01-0$day%dT10:00:${i % 60}%02dZ","_msg":"event $i%d","app":"$app"}"""
    }
    Files.write(Paths.get(s"$src/batch1.jsonl"),
      String.join("\n", clean: _*).getBytes("UTF-8"))
    val q = Ingest.fileStream(spark, src, store, "jsonline", Seq("app"), ckpt)
    q.processAllAvailable()
    q.stop()
    val logs = LogStore.read(spark, store)
    assert(logs.count() == 100)
    // day partitions exist
    // ':' is escaped in partition dir names
    assert(Files.exists(Paths.get(s"$store/logs/tenant=0%3A0/_day=2024-01-02")))
    // streams table has both streams
    assert(LogStore.streams(spark, store).select("_stream_id").distinct().count() == 2)
    // LogsQL over the ingested layout, stream filter + time prune
    val res = graft.logql.Compiler.run(logs,
      """{app="web"} _time:[2024-01-01, 2024-01-02) | stats count() hits""")
    val expect = clean.count(l => l.contains("\"web\"") && l.contains("2024-01-01"))
    assert(res.collect().head.getLong(0) == expect)
  }

  test("windowed stats stream: event-time windows with watermark over appends") {
    import org.apache.spark.sql.functions.col
    val store = tmp("winstream")
    def append(day: String, hour: Int, n: Int, msg: String): Unit = {
      import spark.implicits._
      val lines = (1 to n).map(i =>
        s"""{"_time":"${day}T${"%02d".format(hour)}:0${i % 6}:00Z","_msg":"$msg $i","app":"web"}""")
        .toDF("value")
      Ingest.appendBatch(Ingest.parseJsonline(lines), store, Seq("app"))
    }
    append("2024-01-01", 10, 4, "needle early")
    val stats = Ingest.windowedStatsStream(spark, store,
      "needle", step = "1 hour", groupFields = Seq("app"))
    val q = stats.writeStream.format("memory").queryName("winq")
      .outputMode("complete")
      .option("checkpointLocation", s"$store/.win_ckpt")
      .start()
    try {
      q.processAllAvailable()
      // 4 needles in the 10:00 window
      val r1 = spark.table("winq").collect()
      assert(r1.length == 1 && r1.head.getAs[Long]("hits") == 4)
      // a later micro-batch adds a new window and grows nothing else
      append("2024-01-01", 11, 2, "needle late")
      append("2024-01-01", 11, 3, "noise dropped by filter")
      q.processAllAvailable()
      val r2 = spark.table("winq").collect()
        .map(r => r.getStruct(0).getTimestamp(0).toString -> r.getAs[Long]("hits"))
        .toMap
      assert(r2.size == 2)
      assert(r2("2024-01-01 10:00:00.0") == 4)
      assert(r2("2024-01-01 11:00:00.0") == 2)
      val schema = spark.table("winq").schema.fieldNames.toSeq
      assert(schema == Seq("window", "app", "hits"))
      assert(spark.table("winq").select(col("app")).collect()
        .forall(_.getString(0) == "web"))
    } finally q.stop()
  }
}
