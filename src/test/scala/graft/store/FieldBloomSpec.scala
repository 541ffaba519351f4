package graft.store

import graft.SparkSuite
import graft.logql.{Compiler, Parser}
import graft.streaming.Ingest
import java.nio.file.{Files, Paths}

/** Per-field token-bloom sidecar (the reference's per-column bloom.bin,
  * filenames.go:4-24; matchBloomFilterAllTokens filter_phrase.go:302):
  * phrase/prefix/exact filters on non-`_msg` fields prune files, results
  * stay identical to the unpruned scan, and stale sidecars only ever add
  * scans. */
class FieldBloomSpec extends SparkSuite {

  private def tmp(name: String): String = {
    val d = s"/root/repo/target/fieldbloom_test/$name-${System.nanoTime()}"
    Files.createDirectories(Paths.get(d))
    d
  }

  /** Store with TOP-LEVEL columns (level: string, code: long) — one
    * ingest per day so each day's files carry distinct needle values. */
  private def topLevelStore(): String = {
    import spark.implicits._
    val dir = tmp("toplevel")
    def batch(day: String, level: String, code: Int) =
      (1 to 20).map(i => (
        java.sql.Timestamp.valueOf(s"$day 10:${"%02d".format(i % 60)}:00"),
        s"msg row $i", level, (code + i).toLong))
        .toDF("_time", "_msg", "level", "code")
    val both = batch("2024-01-01", "info", 1000)
      .union(batch("2024-01-02", "warn", 5000))
    LogStore.ingest(both, dir, Seq("level"))
    dir
  }

  test("requiredTokensByField extracts per-field AND tokens") {
    import graft.logql.Filter._
    val f = And(Seq(
      Phrase("_msg", "disk full"),
      Phrase("level", "error"),
      Prefix("trace_id", "abc.def"),
      Exact("user", "alice_1"),
      Exact("value", "1e2"),                    // numeric literal → skipped
      Or(Seq(Phrase("a", "x"), Phrase("b", "y"))) // OR → no required tokens
    ))
    val m = FieldBloom.requiredTokensByField(f)
    assert(m("_msg") == Seq("disk", "full"))
    assert(m("level") == Seq("error"))
    assert(m("trace_id") == Seq("abc")) // "def" may continue past the prefix
    assert(m("user") == Seq("alice_1"))
    assert(!m.contains("value"))
    assert(!m.contains("a") && !m.contains("b"))
    // _msg Exact stays unguarded even for numeric-looking literals
    assert(FieldBloom.requiredTokensByField(Exact("_msg", "404")) ==
      Map("_msg" -> Seq("404")))
  }

  test("tokensSkipLast drops only a trailing incomplete token") {
    assert(FieldBloom.tokensSkipLast("abc.def") == Seq("abc"))
    assert(FieldBloom.tokensSkipLast("abc.def.") == Seq("abc", "def"))
    assert(FieldBloom.tokensSkipLast("abc") == Nil)
    assert(FieldBloom.tokensSkipLast("") == Nil)
  }

  test("tokensSkipLast trims a trailing token by code point") {
    // ² is \p{No}, Ⅻ \p{Nl}, 𝐀 an astral letter (a surrogate pair): each
    // continues the trailing word, so none of these prefixes has a
    // complete token
    assert(FieldBloom.tokensSkipLast("ab²") == Nil)
    assert(FieldBloom.tokensSkipLast("errⅫ") == Nil)
    assert(FieldBloom.tokensSkipLast("x𝐀") == Nil)
  }

  test("a prefix ending in a non-Nd number keeps its rows through the bloom") {
    import spark.implicits._
    val dir = tmp("prefixnum")
    val df = (1 to 20).map { i =>
      val day = if (i <= 10) "2024-01-01" else "2024-01-02"
      (java.sql.Timestamp.valueOf(s"$day 10:${"%02d".format(i % 60)}:00"),
        if (i <= 10) s"ab²c row $i" else s"other row $i", "app1")
    }.toDF("_time", "_msg", "app")
    LogStore.ingest(df, dir, Seq("app"))
    MsgBloom.build(spark, dir)
    val q = "\"ab²\"* | stats count() c"
    val pruned = MsgBloom.query(spark, dir, q).collect().toSeq
    val full = Compiler.run(LogStore.read(spark, dir), q).collect().toSeq
    assert(full.head.getLong(0) == 10L)
    assert(pruned == full, s"$pruned vs $full")
  }

  test("top-level fields: build, prune, identical results") {
    val dir = topLevelStore()
    FieldBloom.build(spark, dir)
    val covered = FieldBloom.manifest(dir)
    assert(covered.contains("level") && covered.contains("code"),
      covered.toString)

    // 'warn' lives only in day 2 → the day-1 files prune away
    val all = LogStore.read(spark, dir).inputFiles.length
    val cand = FieldBloom.candidateFiles(spark, dir,
      Map("level" -> Seq("warn"))).get
    assert(cand.nonEmpty && cand.size < all, s"${cand.size} of $all")
    // absent needle prunes everything
    assert(FieldBloom.candidateFiles(spark, dir,
      Map("level" -> Seq("zzzmissing"))).get.isEmpty)
    // numeric long column blooms its string rendering
    assert(FieldBloom.candidateFiles(spark, dir,
      Map("code" -> Seq("5005"))).get.nonEmpty)

    // end-to-end equality against the unpruned scan, via the combined
    // MsgBloom.query path (field filter + word filter intersection)
    for (q <- Seq(
        "level:warn | stats count() c",
        "level:error | stats count() c",
        "code:5005 | stats count() c",
        "level:=info code:>0 | stats count() c")) {
      val pruned = MsgBloom.query(spark, dir, q).collect().toSeq
      val full = Compiler.run(LogStore.read(spark, dir), q).collect().toSeq
      assert(pruned == full, s"$q: $pruned vs $full")
    }
  }

  test("numeric Exact literals do not mis-prune typed columns") {
    val dir = topLevelStore()
    FieldBloom.build(spark, dir)
    // code:=5005 on a LongType column matches numerically; "5.005e3"
    // renders differently from any stored token, so the extractor must
    // not demand its tokens — the sidecar yields no constraint and the
    // result matches the unpruned scan
    val q = "code:=5.005e3 | stats count() c"
    val pruned = MsgBloom.query(spark, dir, q).collect().toSeq
    val full = Compiler.run(LogStore.read(spark, dir), q).collect().toSeq
    assert(pruned == full && pruned.head.getLong(0) == 1L)
  }

  test("dynamic map fields: covered via FieldNameMeta, stale-safe, refresh") {
    import spark.implicits._
    val dir = tmp("dynamic")
    def append(day: String, app: String, n: Int): Unit = {
      val lines = (1 to n).map(i =>
        s"""{"_time":"${day}T10:${"%02d".format(i % 60)}:00Z","_msg":"m $i","app":"$app","region":"r$i"}""")
        .toDF("value")
      Ingest.appendBatch(Ingest.parseJsonline(lines), dir, Seq("app"))
    }
    append("2024-01-01", "web", 10)
    append("2024-01-02", "api", 10)
    FieldBloom.build(spark, dir)
    val covered = FieldBloom.manifest(dir)
    assert(covered.contains("app") && covered.contains("region"),
      covered.toString)

    val all = LogStore.read(spark, dir).inputFiles.length
    val cand = FieldBloom.candidateFiles(spark, dir, Map("app" -> Seq("api"))).get
    assert(cand.nonEmpty && cand.size < all)

    // append AFTER the build: the new file is absent from the sidecar →
    // must scan (stale sidecar adds scans, never drops rows)
    append("2024-01-03", "batch", 5)
    assert(MsgBloom.query(spark, dir, "app:batch | stats count() c")
      .collect().head.getLong(0) == 5)
    assert(FieldBloom.candidateFiles(spark, dir,
      Map("app" -> Seq("zzzmissing"))).get.nonEmpty)

    // refresh blooms the delta under the manifest's field set
    val (added, _) = FieldBloom.refresh(spark, dir)
    assert(added > 0)
    assert(FieldBloom.candidateFiles(spark, dir,
      Map("app" -> Seq("zzzmissing"))).get.isEmpty)
    assert(MsgBloom.query(spark, dir, "app:batch | stats count() c")
      .collect().head.getLong(0) == 5)

    // a field NOT covered by the sidecar yields no constraint
    assert(FieldBloom.candidateFiles(spark, dir,
      Map("nocolumn" -> Seq("x"))).isEmpty)
  }

  test("retention invalidates; optimize keeps the sidecar maintained") {
    import spark.implicits._
    val dir = tmp("lifecycle")
    def append(day: String, app: String): Unit = {
      val lines = (1 to 6).map(i =>
        s"""{"_time":"${day}T10:0${i % 10}:00Z","_msg":"m $i","app":"$app"}""")
        .toDF("value")
      Ingest.appendBatch(Ingest.parseJsonline(lines), dir, Seq("app"))
    }
    append("2024-01-01", "old")
    append("2024-02-01", "web")
    append("2024-02-01", "web")
    FieldBloom.build(spark, dir)
    Compaction.optimize(spark, dir)
    assert(new java.io.File(s"$dir/field_bloom/_SUCCESS").exists())
    assert(MsgBloom.query(spark, dir, "app:web | stats count() c")
      .collect().head.getLong(0) == 12)
    // compaction replaced files; refresh ran inside optimize, so pruning
    // power is intact over the new layout
    assert(FieldBloom.candidateFiles(spark, dir,
      Map("app" -> Seq("zzzmissing"))).get.isEmpty)

    Compaction.enforceRetention(spark, dir, 10,
      java.time.LocalDate.parse("2024-02-05"))
    // retention drops the sidecar (whole-day deletes change the file set
    // wholesale); queries fall back to scan-everything, never wrong
    assert(MsgBloom.query(spark, dir, "app:web | stats count() c")
      .collect().head.getLong(0) == 12)
    assert(FieldBloom.candidateFiles(spark, dir,
      Map("app" -> Seq("web"))).isEmpty)
  }

  test("fields with no tokens in a file get sentinel rows that prune") {
    import spark.implicits._
    val dir = tmp("sentinel")
    // day 1: note empty everywhere; day 2: note populated — the day-1
    // (file, note) pairs come from zeroFill and must still prune
    val df = (1 to 20).map { i =>
      val day = if (i <= 10) "2024-01-01" else "2024-01-02"
      val note = if (i <= 10) "" else s"hot needle $i"
      (java.sql.Timestamp.valueOf(s"$day 10:${"%02d".format(i % 60)}:00"),
        s"msg $i", "app1", note)
    }.toDF("_time", "_msg", "app", "note")
    LogStore.ingest(df, dir, Seq("app"))
    FieldBloom.build(spark, dir)
    assert(FieldBloom.manifest(dir).contains("note"))
    // the sidecar's zero rows are 1-byte sentinels, not full bitmaps
    val sentinels = spark.read.parquet(s"$dir/field_bloom")
      .where(org.apache.spark.sql.functions.col("field") === "note")
      .collect().map(_.getAs[Array[Byte]]("bloom").length)
    assert(sentinels.exists(_ == 1), sentinels.mkString(","))
    val all = LogStore.read(spark, dir).inputFiles.length
    val cand = FieldBloom.candidateFiles(spark, dir,
      Map("note" -> Seq("needle"))).get
    assert(cand.nonEmpty && cand.size < all, s"${cand.size} of $all")
    // and results stay identical to the unpruned scan
    val q = "note:needle | stats count() c"
    assert(MsgBloom.query(spark, dir, q).collect().head.getLong(0) == 10L)
  }

  test("probe verdicts memoize per (signature, token set)") {
    val dir = topLevelStore()
    FieldBloom.build(spark, dir)
    val m0 = FieldBloom.memoHits.get
    val a = FieldBloom.candidateFiles(spark, dir, Map("level" -> Seq("warn")))
    val b = FieldBloom.candidateFiles(spark, dir, Map("level" -> Seq("warn")))
    assert(a == b)
    assert(FieldBloom.memoHits.get > m0)
    // a sidecar rewrite changes the signature → the memo misses
    FieldBloom.refresh(spark, dir) // no-op delta, same sig
    val m1 = FieldBloom.memoHits.get
    FieldBloom.candidateFiles(spark, dir, Map("level" -> Seq("warn")))
    assert(FieldBloom.memoHits.get > m1 ||
      FieldBloom.candidateFiles(spark, dir, Map("level" -> Seq("warn"))) == a)
  }

  test("unprunable needles skip the per-file probe via intersection bloom") {
    import spark.implicits._
    val dir = tmp("unprunable")
    // env=prod in EVERY row of every file → probing env:prod cannot
    // prune; the intersection bloom detects that without a bitmap scan
    val df = (1 to 20).map { i =>
      val day = if (i <= 10) "2024-01-01" else "2024-01-02"
      (java.sql.Timestamp.valueOf(s"$day 10:${"%02d".format(i % 60)}:00"),
        s"msg $i", "app1", "prod")
    }.toDF("_time", "_msg", "app", "env")
    LogStore.ingest(df, dir, Seq("app"))
    FieldBloom.build(spark, dir)
    val s0 = FieldBloom.unprunableSkips.get
    val cand = FieldBloom.candidateFiles(spark, dir, Map("env" -> Seq("prod")))
    val all = LogStore.read(spark, dir).inputFiles.length
    assert(cand.get.size == all)
    assert(FieldBloom.unprunableSkips.get > s0)
    // a needle that DOES prune still probes normally on the same store
    assert(FieldBloom.candidateFiles(spark, dir,
      Map("env" -> Seq("zzzmissing"))).get.isEmpty)
  }
}
