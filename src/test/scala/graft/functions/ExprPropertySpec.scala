package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

/** Differential property tests: the custom single-pass expressions must
  * agree with the regex Column formulations they replaced, across
  * generated inputs (including adversarial quoting/escaping shapes). */
class ExprPropertySpec extends SparkSuite {

  // the previous regex implementations, kept here as the semantic spec

  private def regexIpv4(c: Column): Column = {
    val octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    val p = split(c, "\\.")
    when(c.rlike(s"^$octet\\.$octet\\.$octet\\.$octet$$"),
      p.getItem(0).cast(LongType) * 16777216L +
      p.getItem(1).cast(LongType) * 65536L +
      p.getItem(2).cast(LongType) * 256L +
      p.getItem(3).cast(LongType))
  }

  /** Direct Scala transcription of the reference logfmtParser.parse
    * (logfmt_parser.go:28-73) — the semantic spec the kernel must match.
    * Returns parse-ordered pairs; names space-trimmed, "" name = _msg. */
  private def goLogfmtParse(s0: String): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    def add(name0: String, value: String): Unit = {
      val name = name0.trim
      if (!(name.isEmpty && value.isEmpty))
        out += ((if (name.isEmpty) "_msg" else name) -> value)
    }
    def goUnquote(s: String): Option[(String, Int)] = {
      if (s.isEmpty || (s.charAt(0) != '"' && s.charAt(0) != '`')) return None
      if (s.charAt(0) == '`') {
        val e = s.indexOf('`', 1)
        return if (e < 0) None else Some((s.substring(1, e), e + 1))
      }
      val sb = new StringBuilder
      var i = 1
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => return Some((sb.toString, i + 1))
          case '\\' if i + 1 < s.length =>
            val m = Map('n' -> '\n', 't' -> '\t', 'r' -> '\r',
              '\\' -> '\\', '"' -> '"', '\'' -> '\'', 'a' -> '\u0007',
              'b' -> '\b', 'f' -> '\f', 'v' -> '\u000b')
            m.get(s.charAt(i + 1)) match {
              case Some(ch) => sb.append(ch); i += 2
              case None => return None
            }
          case '\n' => return None
          case c => sb.append(c); i += 1
        }
      }
      None
    }
    var s = s0
    while (true) {
      val n = s.indexWhere(c => c == '=' || c == ' ')
      if (n < 0) { add(s, ""); return out.result() }
      val name = s.substring(0, n)
      val eq = s.charAt(n) == '='
      s = s.substring(n + 1)
      if (!eq) add(name, "")
      else if (s.isEmpty) { add(name, ""); return out.result() }
      else goUnquote(s) match {
        case Some((v, off)) =>
          add(name, v)
          s = s.substring(off)
          if (s.isEmpty || s.charAt(0) != ' ') return out.result()
          s = s.substring(1)
        case None =>
          val sp = s.indexOf(' ')
          if (sp < 0) { add(name, s); return out.result() }
          add(name, s.substring(0, sp))
          s = s.substring(sp + 1)
      }
    }
    out.result()
  }

  private def evalBatch(inputs: Seq[String], expr: Column => Column): Seq[Any] = {
    val schema = StructType(Seq(StructField("s", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(inputs.map(Row(_)), 2), schema)
    df.select(expr(col("s")).as("v")).collect().map(_.get(0)).toSeq
  }

  private val ipv4Gen: Gen[String] = Gen.oneOf(
    // valid quads
    Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString(".")),
    // near-valid mutations
    Gen.listOfN(4, Gen.choose(0, 300)).map(_.mkString(".")),
    Gen.listOfN(3, Gen.choose(0, 255)).map(_.mkString(".")),
    Gen.listOfN(5, Gen.choose(0, 255)).map(_.mkString(".")),
    Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString(".") + "."),
    Gen.listOfN(4, Gen.oneOf("0", "00", "01", "255", "256", "a", ""))
      .map(_.mkString(".")),
    Gen.alphaNumStr.map(_.take(20)))

  test("Ipv4ToLong agrees with the regex spec on generated inputs") {
    val inputs = Gen.listOfN(300, ipv4Gen).sample.get
    val got = evalBatch(inputs, c => Ipv4Parse.ipv4ToLong(c))
    val want = evalBatch(inputs, regexIpv4)
    inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"ipv4 mismatch for '$in': got $g want $w")
    }
  }

  private val logfmtGen: Gen[String] = {
    val key = Gen.oneOf("a", "key", "k_1", "x.y", "with-dash", "K9")
    val bare = Gen.oneOf("v", "12", "a=b", "", "x,y", "[1]")
    val quoted = Gen.oneOf("\"v 1\"", "\"\"", "\"es\\\"c\"", "\"a\\\\b\"", "\"unterminated")
    val pair = for {
      k <- key
      v <- Gen.oneOf(bare, quoted)
    } yield s"$k=$v"
    val junk = Gen.oneOf("plain", "=", "==", "trailing ", "  ", "\"q\"")
    Gen.listOfN(5, Gen.oneOf(pair, junk)).map(_.mkString(" "))
  }

  test("LogfmtToMap agrees with the Go-parser transcription on generated inputs") {
    val inputs = Gen.listOfN(300, logfmtGen).sample.get.distinct
    assert(inputs.size > 50)
    val got = evalBatch(inputs, c => LogfmtParse.logfmtToMap(c))
      .map(_.asInstanceOf[scala.collection.Map[String, String]].toMap)
    val want = inputs.map(goLogfmtParse(_).toMap) // last value wins per key
    inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"logfmt mismatch for '$in': got $g want $w")
    }
  }


  private val textGen: Gen[String] = {
    // includes \p{No} (²) and \p{Nl} (Ⅻ) word chars — they are part of the
    // \p{N} word class and must stay boundary-relevant in the scan matcher
    val word = Gen.oneOf("error", "err", "errors", "disk_error", "Err",
      "db", "x", "10", "日本", "naïve", "_err", "err_", "x²err", "Ⅻerr")
    val sep = Gen.oneOf(" ", ": ", ", ", ".", "-", "=", "\n", "")
    Gen.listOfN(6, Gen.zip(word, sep).map(p => p._1 + p._2)).map(_.mkString)
  }

  private val phraseGen: Gen[String] = Gen.oneOf(
    "error", "err", "disk_error", "日本", "naïve", "err_", "10",
    "error from", ": ", "r f")

  test("Bm25Counts agrees with the lower+split formulation it replaced") {
    val word = Gen.oneOf("customer", "Customer", "CUSTOMER", "vector",
      "merge", "customers", "xcustomer", "a", "10", "日本", "naïve",
      "İstanbul", "x_1", "v2", "", "straße")
    val sep = Gen.oneOf(" ", ", ", ".", "-", "_", "\n", "", "²")
    val gen = Gen.listOfN(8, Gen.zip(word, sep).map(p => p._1 + p._2))
      .map(_.mkString)
    val inputs = Gen.listOfN(300, gen).sample.get ++ Seq("", "customer",
      "customer customer", "a-customer's vector!")
    val terms = Seq("customer", "vector", "merge", "a")
    val got = evalBatch(inputs,
      c => Bm25Counts.countsCol(c, terms))
    val want = evalBatch(inputs, { c =>
      val low = lower(c)
      val dl = (size(split(low, "[a-z0-9]+")) - 1).cast(LongType)
      array((dl +: terms.map { t =>
        val pat = "(?<![a-z0-9])" + java.util.regex.Pattern.quote(t) + "(?![a-z0-9])"
        (size(split(low, pat)) - 1).cast(LongType)
      }): _*)
    })
    inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"bm25 counts mismatch for '$in': got $g want $w")
    }
  }

  test("WordMatch agrees with the regex word-boundary spec") {
    val inputs = Gen.listOfN(300, textGen).sample.get
    for (phrase <- phraseGen.sample.toSeq ++ Seq("error", "err", "日本", ": ", "r f");
         prefix <- Seq(false, true)) {
      val got = evalBatch(inputs,
        c => WordMatch.wordMatch(c, phrase, prefix))
      val want = evalBatch(inputs, c =>
        if (prefix) c.rlike(TextMatchRegex.prefixRegex(phrase))
        else c.rlike(TextMatchRegex.phraseRegex(phrase)))
      inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
        assert(g == w,
          s"word-match mismatch for input '$in' phrase '$phrase' prefix=$prefix: got $g want $w")
      }
    }
  }

  test("TextStatsKernel agrees with the langIdTokens + tokenCount Column spec") {
    import graft.ops.TextAnalysis
    val word = Gen.oneOf("the", "a", "of", "el", "la", "de", "der", "die",
      "und", "que", "nicht", "los", "hello", "wörld", "Ⅻ", "①", "x_1",
      "日本語", "漢", "", "is", "to", "in", "das", "ist", "y", "en")
    val sep = Gen.oneOf(" ", "  ", ", ", ".", "—", "\n", "\t", "!", "", "€")
    val textGen2 = Gen.listOfN(8, Gen.zip(word, sep).map(p => p._1 + p._2))
      .map(_.mkString)
    val inputs = Gen.listOfN(300, textGen2).sample.get ++
      Seq("", " ", "___", "the the the", "漢字 text", "𝕏 math letter",
        "el la de los que y en", "der die und", "a\u0000b")
    val got = evalBatch(inputs, c => TextAnalysis.langTokenStats(c))
      .map(_.asInstanceOf[Row]).map(r => (r.getString(0), r.getLong(1)))
    val want = evalBatch(inputs, c =>
      struct(TextAnalysis.langIdTokens(TextAnalysis.tokens(c), c),
        TextAnalysis.tokenCount(c)))
      .map(_.asInstanceOf[Row]).map(r => (r.getString(0), r.getLong(1)))
    inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"text-stats mismatch for input '$in': got $g want $w")
    }
  }

  test("JsonGet.scalarOrJson agrees with get_json_object") {
    val jstr = Gen.oneOf("v", "", "a b", "q\\\"uote", "back\\\\slash",
      "tab\\tx", "nl\\nx", "uni\\u00e9z", "sol\\/idus", "wörld €",
      "日本語", "\\u0041\\u0042", "{brace}", "[brk]", "null", "12")
      .map(v => "\"" + v + "\"")
    val jnum = Gen.oneOf("0", "42", "-7", "3.14", "-0.5", "1e3", "2E-4",
      "1234567890123456789")
    val jscalar = Gen.oneOf(jstr, jnum, Gen.oneOf("true", "false", "null"))
    val jval = Gen.oneOf(jscalar,
      jscalar.map(v => s"""{"x":$v,"y":1}"""),
      jscalar.map(v => s"[$v,2]"))
    val key = Gen.oneOf("k", "key2", "with space", "uni€", "a")
    val doc = for {
      k1 <- key; v1 <- jval; k2 <- key; v2 <- jval
      ws <- Gen.oneOf("", " ", "\n ")
      shape <- Gen.choose(0, 5)
    } yield shape match {
      case 0 => s"""{$ws"$k1":$ws$v1$ws}"""
      case 1 => s"""{"$k1":$v1,"$k2":$v2}"""
      case 2 => s"""{"a":{"$k1":$v1},"$k2":$v2}"""        // nested descent
      case 3 => s"""{"$k1":$v1""".dropRight(1)             // truncated
      case 4 => s"""not json at all $v1"""
      case 5 => s"""{"other":$v1}"""                       // key missing
    }
    val inputs = Gen.listOfN(400, doc).sample.get ++ Seq(
      "{}", "", " ", "{\"k\":}", "{\"k\" : 7 }", "[1,2,3]", "7",
      """{"k":"a","k":"b"}""",                              // duplicate key
      """{"a":{"b":{"c":"deep"}}}""",
      """{"a.b":1,"a":{"b":2}}""",
      """{"a":[{"b":1},{"b":2}],"k":[3]}""",                // array traversal
      """[{"k":"rootarr"},{"k":2}]""",
      """{"a":1,"k":"scalar-parent"}""")                    // scalar mid-path
    // "a." and "" exercise trailing/lone empty segments: Java split drops
    // trailing empties unless limit -1, and get_json_object("$.a.") is null
    for (path <- Seq("k", "a.b", "a.b.c", "with space", "a.", "")) {
      val got = evalBatch(inputs, c => graft.functions.JsonGet.scalarOrJson(c, path))
      val want = evalBatch(inputs, c => get_json_object(c, "$." + path))
      inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
        assert(g == w, s"json_get mismatch for path '$path' input <$in>: got $g want $w")
      }
    }
  }

  test("ExtractGroups agrees with per-group regexp_extract") {
    val res = Seq(
      "(?s)(\\w+)=(\\w*)",
      "^(\\S+) (\\S+) (.*)$",
      "(a+)(b?)(c*)",
      "id=(\\d+)(?:;u=(\\w+))?")
    val gen = Gen.oneOf("k=v x=1", "alpha beta gamma delta", "aabcc", "aab",
      "id=42;u=bob", "id=7", "nomatch!", "", "k= a=", "aaabbbccc x")
    val inputs = Gen.listOfN(200, gen).sample.get
    for (re <- res) {
      val n = java.util.regex.Pattern.compile(re).matcher("").groupCount()
      for (gi <- 1 to n) {
        val got = evalBatch(inputs, c =>
          element_at(graft.functions.ExtractGroups.extractGroups(c, re), gi))
        val want = evalBatch(inputs, c => regexp_extract(c, re, gi))
        inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
          assert(g == w, s"extract mismatch for '$in' re '$re' group $gi: $g vs $w")
        }
      }
    }
  }

  test("MinHashSig and SimHash64 agree with the Column-tower specs") {
    import org.apache.spark.sql.functions.{split => fsplit}
    // the replaced formulations, kept as the semantic spec
    def specMinhash(tokens: Column, numHashes: Int): Column =
      transform(sequence(lit(0), lit(numHashes - 1)),
        seed => array_min(transform(tokens, s => xxhash64(s, seed))))
    def specSimhash(ts: Column): Column = {
      val bitSums = aggregate(ts, array_repeat(lit(0), 64),
        (acc, t) => zip_with(acc,
          transform(sequence(lit(0), lit(63)),
            b => when(call_function("shiftright", xxhash64(t), b)
              .bitwiseAND(1) === 1, 1).otherwise(-1)),
          (a, v) => a + v))
      aggregate(
        zip_with(bitSums, sequence(lit(0), lit(63)),
          (s, b) => when(s > 0, call_function("shiftleft", lit(1L), b)).otherwise(0L)),
        lit(0L), (acc, v) => acc.bitwiseOR(v))
    }
    val docGen = Gen.listOfN(8,
      Gen.oneOf("alpha", "beta", "gamma", "x1", "日本", "", "tok_9")).map(_.mkString(" "))
    val inputs = Gen.listOfN(60, docGen).sample.get
    def toks(c: Column) = filter(fsplit(c, " "), t => t =!= "")
    val gotSig = evalBatch(inputs,
      c => graft.functions.MinHashSim.minhashSig(toks(c), 16))
    val wantSig = evalBatch(inputs, c => specMinhash(toks(c), 16))
    gotSig.zip(wantSig).zip(inputs).foreach { case ((g, w), in) =>
      assert(g == w, s"minhash sig mismatch for '$in': $g vs $w") }
    val gotSh = evalBatch(inputs,
      c => graft.functions.MinHashSim.simhash64(toks(c)))
    val wantSh = evalBatch(inputs, c => specSimhash(toks(c)))
    gotSh.zip(wantSh).zip(inputs).foreach { case ((g, w), in) =>
      assert(g == w, s"simhash mismatch for '$in': $g vs $w") }
  }

  test("Shingles kernel agrees with the HOF-tower spec") {
    // the replaced formulation, kept as the semantic spec
    def specShingles(c: Column, n: Int): Column = {
      val ts = filter(split(c, "[^\\p{L}\\p{N}_]+"), t => t =!= "")
      array_distinct(transform(
        sequence(lit(0), greatest(size(ts) - n, lit(0))),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
    }
    val word = Gen.oneOf("alpha", "beta", "x_1", "wörld", "日本語", "Ⅻ",
      "①", "a", "", "tok9", "__", "𝕏", "漢")
    val sep = Gen.oneOf(" ", "  ", ", ", ".", "—", "\n", "\t", "!", "", "€",
      "-", "'")
    val textGenS = Gen.listOfN(9, Gen.zip(word, sep).map(p => p._1 + p._2))
      .map(_.mkString)
    val inputs = Gen.listOfN(300, textGenS).sample.get ++
      Seq("", " ", ".", "a", "a b", "a b c d e", "dup dup dup dup",
        "___ ___", "𝕏 𝕏 𝕏 𝕏", "a b c d")
    for (n <- Seq(1, 2, 3, 8)) {
      val got = evalBatch(inputs, c => graft.functions.Shingles.shingles(c, n))
      val want = evalBatch(inputs, c => specShingles(c, n))
      inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
        assert(g == w, s"shingles mismatch for input '$in' n=$n: got $g want $w")
      }
    }
  }

  test("CollapseNums kernel matches the reference scan rules") {
    // pinned against appendCollapseNums/appendPrettifyCollapsedNums
    // (pipe_collapse_nums.go) — boundary rules, hex plausibility gate,
    // special start/end runes, and the prettify composite tokens; the
    // execution-level corpus (PipeExecConformanceSpec) pins the pipe
    def run1(in: String, prettify: Boolean): String =
      evalBatch(Seq(in),
        c => graft.functions.CollapseNums.collapseNums(c, prettify))
        .head.asInstanceOf[String]
    val plain = Seq(
      "1234" -> "<N>",
      "a_bc_def" -> "a_bc_def",                       // token-embedded digits stay
      "abc123" -> "<N>",                              // even-length hex-ish run
      "abcz123" -> "abcz123",                         // 'z' splits: odd hex + embedded digits
      "x123" -> "x<N>",                               // 'x' is a special START rune
      "took 4.5ms" -> "took <N>.<N>ms",               // 'm' is a special END rune
      "2004-10-12T43:23:12Z" -> "<N>-<N>-<N>T<N>:<N>:<N>Z", // T/Z special
      "be ad" -> "be ad",                             // short hex words stay
      "cafe" -> "<N>",                                // 4 even hex chars collapse
      "deadbeefdeadbeef" -> "<N>",
      "abcde" -> "abcde",                             // odd-length hex stays
      "ip: 10.0.255.1" -> "ip: <N>.<N>.<N>.<N>",
      "12345678-1234-abcd-ABCD-123456789012" -> "<N>-<N>-<N>-<N>-<N>")
    plain.foreach { case (in, want) =>
      assert(run1(in, prettify = false) == want, s"plain <<$in>>")
    }
    val pretty = Seq(
      "2004-10-12T43:23:12Z" -> "<DATETIME>",
      "2004-10-12 43:23:12.456" -> "<DATETIME>",      // subsecs eaten
      "2004-10-12T43:23:12+02:30" -> "<DATETIME>",    // tz eaten
      "ip: 10.0.255.1" -> "ip: <IP4>",
      "12345678-1234-abcd-ABCD-123456789012" -> "<UUID>",
      "43:23:12" -> "<TIME>",
      "2004/10/12" -> "<DATE>")
    pretty.foreach { case (in, want) =>
      assert(run1(in, prettify = true) == want, s"prettify <<$in>>")
    }
  }

  test("Tokens kernel agrees with the split+filter spec") {
    val word = Gen.oneOf("alpha", "x_1", "wörld", "日本語", "Ⅻ", "①", "a",
      "", "tok9", "__", "𝕏", "漢")
    val sep = Gen.oneOf(" ", "  ", ", ", ".", "—", "\n", "\t", "!", "", "€")
    val textGenT = Gen.listOfN(9, Gen.zip(word, sep).map(p => p._1 + p._2))
      .map(_.mkString)
    val inputs = Gen.listOfN(300, textGenT).sample.get ++
      Seq("", " ", ".", "a", "a b", "_", ".lead", "trail.", "𝕏a漢")
    val got = evalBatch(inputs, c => graft.functions.Shingles.tokens(c))
    val want = evalBatch(inputs,
      c => filter(split(c, "[^\\p{L}\\p{N}_]+"), t => t =!= ""))
    inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"tokens mismatch for input '$in': got $g want $w")
    }
  }

  test("FieldTokenHashes agrees with xxhash64 over the tokenize spec") {
    val word = Gen.oneOf("alpha", "x_1", "wörld", "日本語", "a", "", "tok9",
      "__", "𝕏", "漢", "404")
    val sep = Gen.oneOf(" ", ", ", ".", "—", "\n", "!", "", "€")
    val textGenT = Gen.listOfN(6, Gen.zip(word, sep).map(p => p._1 + p._2))
      .map(_.mkString)
    val inputs = Gen.listOfN(200, textGenT).sample.get ++
      Seq("", " ", ".", "a", "a b", "_", ".lead", "trail.", "𝕏a漢")
    // kernel: (field, hash) pairs over a two-field struct of (s, s+"x")
    val got = evalBatch(inputs, c =>
      graft.functions.Shingles.fieldTokenHashes(
        struct(c.as("fa"), concat(c, lit(" xx")).as("fb"))))
    // spec: xxhash64 of each token of each field, tagged in field order
    val want = evalBatch(inputs, c =>
      concat(
        transform(filter(split(c, "[^\\p{L}\\p{N}_]+"), t => t =!= ""),
          t => struct(lit("fa").as("field"), xxhash64(t).as("hash"))),
        transform(filter(split(concat(c, lit(" xx")), "[^\\p{L}\\p{N}_]+"),
            t => t =!= ""),
          t => struct(lit("fb").as("field"), xxhash64(t).as("hash")))))
    inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"fieldTokenHashes mismatch for '$in': got $g want $w")
    }
  }

  test("QualityCounts kernel agrees with the regexp-tower withQuality spec") {
    import graft.ops.TextAnalysis
    // the replaced tower, kept as the semantic spec
    def specQuality(c: Column): Column = {
      val toks = filter(split(c, "[^\\p{L}\\p{N}_]+"), t => t =!= "")
      val punctRaw =
        octet_length(regexp_replace(c, "[^!-/:-@\\[-`{-~]", "")).cast("double") /
          greatest(octet_length(c), lit(1)).cast("double")
      val stopRaw = size(filter(toks,
          x => x.isin(graft.functions.TextStatsKernel.enStop.map(lit(_)): _*)))
        .cast("double") / greatest(size(toks), lit(1)).cast("double")
      val lenScore = least(octet_length(c).cast("double") / 500d, lit(1d))
      val punctOk = lit(1d) - least(punctRaw * 5d, lit(1d))
      val stopOk = least(stopRaw * 10d, lit(1d))
      struct(size(toks).cast("long"), round(punctRaw, 6), round(stopRaw, 6),
        round((lenScore + punctOk + stopOk) / 3d, 6))
    }
    val word = Gen.oneOf("the", "a", "of", "and", "is", "to", "in", "word",
      "x_1", "wörld", "日本語", "Ⅻ", "", "___", "𝕏")
    val sep = Gen.oneOf(" ", ", ", ".", "—", "\n", "!", "", "€", "_", "~",
      "[;]", "@@")
    val textGenQ = Gen.listOfN(9, Gen.zip(word, sep).map(p => p._1 + p._2))
      .map(_.mkString)
    val inputs = Gen.listOfN(300, textGenQ).sample.get ++
      Seq("", " ", "!!!", "_under_score_", "the the the", "a~b[c]d",
        "no stop words here at all")
    val got = evalBatch(inputs, c => {
      val qc = graft.functions.TextStatsKernel.qualityCounts(c)
      val punctRaw = qc.getField("punct_bytes").cast("double") /
        greatest(octet_length(c), lit(1)).cast("double")
      val stopRaw = qc.getField("stop_hits").cast("double") /
        greatest(qc.getField("n_tokens").cast("int"), lit(1)).cast("double")
      val lenScore = least(octet_length(c).cast("double") / 500d, lit(1d))
      val punctOk = lit(1d) - least(punctRaw * 5d, lit(1d))
      val stopOk = least(stopRaw * 10d, lit(1d))
      struct(qc.getField("n_tokens"), round(punctRaw, 6), round(stopRaw, 6),
        round((lenScore + punctOk + stopOk) / 3d, 6))
    })
    val want = evalBatch(inputs, specQuality)
    inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"quality mismatch for input '$in': got $g want $w")
    }
  }

  test("SeqMatch agrees with the chained regex spec") {
    val inputs = Gen.listOfN(300, textGen).sample.get
    val seqs = Seq(Seq("error", "db"), Seq("err"), Seq("disk_error", "err"),
      Seq("db", "db"), Seq("日本", "err"), Seq(": ", "x"))
    for (ps <- seqs) {
      val got = evalBatch(inputs, c => TextMatch.matchSequence(c, ps))
      val want = evalBatch(inputs, c => c.rlike(TextMatchRegex.sequenceRegex(ps)))
      inputs.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
        assert(g == w,
          s"seq mismatch for input '$in' seq $ps: got $g want $w")
      }
    }
  }

  test("CharWindowHashes: rolling hashes ≡ code-point substring equality") {
    // the hash VALUES have no Column-tower spec (they're a rolling
    // polynomial); the pinned property is the one the dedup op consumes —
    // window count, and hash equality iff code-point-substring equality
    // (checked globally across all generated inputs, so a rolling-update
    // bug that collides different windows or splits equal ones fails)
    val word = org.scalacheck.Gen.oneOf("alpha", "βeta", "日本語", "𝕏y𝕐",
      "a", "", "1.2", "shared span alpha bravo", "\n", "aaaa")
    val textGen = org.scalacheck.Gen.listOfN(6, word).map(_.mkString(" "))
    val inputs = org.scalacheck.Gen.listOfN(200, textGen).sample.get ++
      Seq("", "ab", "𝕏𝕏𝕏𝕏𝕏", "aaaaaaaaaa", "ababababab")
    for (k <- Seq(1, 3, 8)) {
      val got = evalBatch(inputs,
        c => graft.functions.Shingles.charWindowHashes(c, k))
      val subToHash = scala.collection.mutable.HashMap[String, Long]()
      val hashToSub = scala.collection.mutable.HashMap[Long, String]()
      inputs.zip(got).foreach { case (in, g) =>
        val cps = in.codePoints().toArray
        val subs =
          if (cps.length < k) Seq.empty[String]
          else (0 to cps.length - k).map(i => new String(cps, i, k))
        val hs = g.asInstanceOf[scala.collection.Seq[Long]]
        assert(hs.length == subs.length, s"'$in' k=$k: ${hs.length} windows")
        subs.zip(hs).foreach { case (sub, h) =>
          assert(subToHash.getOrElseUpdate(sub, h) == h,
            s"equal windows hashed differently: '$sub' k=$k")
          assert(hashToSub.getOrElseUpdate(h, sub) == sub,
            s"hash collision: '$sub' vs '${hashToSub(h)}' k=$k")
        }
      }
    }
  }

  test("WindowHashCounts ≡ explode(windowHashes) rolled per doc") {
    // the pre-aggregated kernel (the ExactSubstr pipelines' first stage)
    // must emit exactly the multiset the plain kernel's explode+groupBy
    // produced — same hashes, same per-doc repetition counts
    val word = org.scalacheck.Gen.oneOf("alpha", "βeta", "日本語", "𝕏y𝕐",
      "a", "", "1.2", "shared span alpha bravo", "\n", "aaaa")
    val textGen = org.scalacheck.Gen.listOfN(8, word).map(_.mkString(" "))
    val inputs = org.scalacheck.Gen.listOfN(120, textGen).sample.get ++
      Seq("", "ab", "aaaaaaaaaa", "ababab ababab ababab")
    for (k <- Seq(1, 3, 8); chars <- Seq(true, false)) {
      val plain = evalBatch(inputs, c =>
        if (chars) graft.functions.Shingles.charWindowHashes(c, k)
        else graft.functions.Shingles.tokenWindowHashes(c, k))
      val rolled = evalBatch(inputs, c =>
        graft.functions.Shingles.windowHashCounts(c, k, chars))
      inputs.indices.foreach { i =>
        val expect = plain(i).asInstanceOf[scala.collection.Seq[Long]]
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val got = rolled(i).asInstanceOf[scala.collection.Map[Long, Long]]
          .toMap
        assert(got == expect, s"'${inputs(i)}' k=$k chars=$chars")
      }
    }
  }

  test("EntriesDedup kernel agrees with the filter/exists HOF tower") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{filter => afilter, _}
    val keyGen = org.scalacheck.Gen.oneOf("a", "b", "c", "k", "key", "日本", "")
    val valGen = org.scalacheck.Gen.oneOf(
      org.scalacheck.Gen.oneOf("1", "2", "", "x"), org.scalacheck.Gen.const(null: String))
    val entryGen = org.scalacheck.Gen.zip(keyGen, valGen)
    val rowGen = org.scalacheck.Gen.choose(0, 12)
      .flatMap(n => org.scalacheck.Gen.listOfN(n, entryGen))
    val inputs = org.scalacheck.Gen.listOfN(300, rowGen).sample.get
    val schema = StructType(Seq(StructField("e",
      ArrayType(StructType(Seq(
        StructField("key", StringType), StructField("value", StringType)))))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        inputs.map(p => Row(p.map { case (k, v) => Row(k, v) })), 4),
      schema)
    // the tower this kernel replaced (field-name access is fine here —
    // entries come straight from the schema, not a lambda repack)
    def towerFirst(entries: org.apache.spark.sql.Column) =
      map_from_entries(afilter(entries, (e, i) =>
        !exists(slice(entries, lit(1), i),
          p => p.getField("key") === e.getField("key"))))
    def towerLast(entries: org.apache.spark.sql.Column) =
      map_from_entries(afilter(entries, (e, i) =>
        !exists(slice(entries, i + lit(2), size(entries)),
          p => p.getField("key") === e.getField("key"))))
    val got = df.select(
      MapOps.entriesFirstWins(col("e")).as("kf"),
      MapOps.entriesLastWins(col("e")).as("kl"),
      towerFirst(col("e")).as("tf"),
      towerLast(col("e")).as("tl"),
      // ORDER is part of the contract — compare key sequences too
      map_keys(MapOps.entriesFirstWins(col("e"))).as("kfo"),
      map_keys(towerFirst(col("e"))).as("tfo"),
      map_keys(MapOps.entriesLastWins(col("e"))).as("klo"),
      map_keys(towerLast(col("e"))).as("tlo")).collect()
    got.foreach { r =>
      assert(r.getAs[Map[String, String]]("kf") == r.getAs[Map[String, String]]("tf"), r.toString)
      assert(r.getAs[Map[String, String]]("kl") == r.getAs[Map[String, String]]("tl"), r.toString)
      assert(r.getAs[scala.collection.Seq[String]]("kfo").toSeq ==
        r.getAs[scala.collection.Seq[String]]("tfo").toSeq, r.toString)
      assert(r.getAs[scala.collection.Seq[String]]("klo").toSeq ==
        r.getAs[scala.collection.Seq[String]]("tlo").toSeq, r.toString)
    }
  }

  test("TokenWindowHashes: rolling hashes ≡ token-window string equality") {
    // same pinned property as the char variant, at token granularity —
    // window count = max(tokens-k+1, 0) against the graft_tokens spec,
    // hash equality iff the space-joined window strings are equal
    // (globally across inputs), no collisions among distinct windows
    val word = org.scalacheck.Gen.oneOf("alpha", "βeta", "日本語", "x9_y",
      "a", "1.2", "shared", "span", "bravo", "aaaa")
    val sep = org.scalacheck.Gen.oneOf(" ", "  ", ", ", "\n", "--", ".")
    val textGen = for {
      ws <- org.scalacheck.Gen.listOfN(12, word)
      ss <- org.scalacheck.Gen.listOfN(12, sep)
    } yield ws.zip(ss).map { case (w, s) => w + s }.mkString
    val inputs = org.scalacheck.Gen.listOfN(200, textGen).sample.get ++
      Seq("", "one", "one two", "a b a b a b", "..., ---")
    for (k <- Seq(1, 3, 8)) {
      val got = evalBatch(inputs,
        c => graft.functions.Shingles.tokenWindowHashes(c, k))
      val toksAll = evalBatch(inputs, c => graft.functions.Shingles.tokens(c))
      val winToHash = scala.collection.mutable.HashMap[String, Long]()
      val hashToWin = scala.collection.mutable.HashMap[Long, String]()
      inputs.indices.foreach { i =>
        val toks = toksAll(i).asInstanceOf[scala.collection.Seq[String]]
        val wins =
          if (toks.length < k) Seq.empty[String]
          else (0 to toks.length - k).map(j => toks.slice(j, j + k).mkString(" "))
        val hs = got(i).asInstanceOf[scala.collection.Seq[Long]]
        assert(hs.length == wins.length,
          s"'${inputs(i)}' k=$k: ${hs.length} windows, expected ${wins.length}")
        wins.zip(hs).foreach { case (w, h) =>
          assert(winToHash.getOrElseUpdate(w, h) == h,
            s"equal windows hashed differently: '$w' k=$k")
          assert(hashToWin.getOrElseUpdate(h, w) == w,
            s"hash collision: '$w' vs '${hashToWin(h)}' k=$k")
        }
      }
    }
  }

  test("GoFloat matches Go strconv 'f'/-1 pins and round-trips random doubles") {
    // pins computed with Go: strconv.FormatFloat(x, 'f', -1, 64)
    val pins = Seq(
      5.0 -> "5", -5.0 -> "-5", 0.0 -> "0", -0.0 -> "-0",
      14.3 -> "14.3", 0.1 -> "0.1", 0.3 -> "0.3", 100.0 -> "100",
      50.05019 -> "50.05019", 1.25 -> "1.25",
      1e21 -> "1000000000000000000000", 1e15 -> "1000000000000000",
      1e-7 -> "0.0000001", 2.5e-10 -> "0.00000000025",
      1.0 / 3.0 -> "0.3333333333333333",
      9007199254740992.0 -> "9007199254740992",
      123456789.12345679 -> "123456789.12345679",
      Double.NaN -> "NaN", Double.PositiveInfinity -> "+Inf",
      Double.NegativeInfinity -> "-Inf")
    pins.foreach { case (d, want) =>
      assert(GoFloat.format(d) == want, s"format($d)")
    }
    assert(GoFloat.formatFloat(14.3f) == "14.3")
    assert(GoFloat.formatFloat(0.1f) == "0.1")
    assert(GoFloat.formatFloat(1e10f) == "10000000000")
    assert(GoFloat.formatFloat(-0.0f) == "-0")
    // properties on random bit patterns: fixed notation only, exact
    // round-trip, and no shorter correctly-rounded decimal round-trips
    val rnd = new scala.util.Random(91521)
    val doubles = Seq.fill(4000)(
      java.lang.Double.longBitsToDouble(rnd.nextLong())).filter(d => d == d)
    doubles.foreach { d =>
      val s = GoFloat.format(d)
      assert(!s.exists(c => c == 'e' || c == 'E'), s"E-notation: $d -> $s")
      if (!d.isInfinite)
        assert(java.lang.Double.parseDouble(s) == d, s"round-trip: $d -> $s")
    }
    // the kernel column path agrees with the JVM method (codegen identity)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(doubles.take(500).map(Row(_)), 2),
      StructType(Seq(StructField("d", DoubleType))))
    val got = df.select(GoFloat.render(col("d")).as("s"), col("d")).collect()
    got.foreach(r => assert(r.getString(0) == GoFloat.format(r.getDouble(1))))

    // differential vs the %.pE Formatter formulation the r14 fast paths
    // replaced (kept here as the semantic spec) — short decimals stress
    // the decimal-places fast path, random bits stress the BigDecimal
    // search
    def specFormat(d: Double): String = {
      if (d != d) return "NaN"
      if (d == Double.PositiveInfinity) return "+Inf"
      if (d == Double.NegativeInfinity) return "-Inf"
      if (d == 0.0) return if (1.0 / d < 0) "-0" else "0"
      val neg = d < 0
      val a = if (neg) -d else d
      def fixed(sci: String): String = {
        val ei = sci.indexOf('E')
        val exp = java.lang.Integer.parseInt(sci.substring(ei + 1))
        val raw = sci.substring(0, ei)
        var digits =
          if (raw.length > 1 && raw.charAt(1) == '.') raw.charAt(0) + raw.substring(2)
          else raw
        var end = digits.length
        while (end > 1 && digits.charAt(end - 1) == '0') end -= 1
        digits = digits.substring(0, end)
        val n = digits.length
        val sb = new java.lang.StringBuilder
        if (neg) sb.append('-')
        if (exp >= n - 1) {
          sb.append(digits)
          (0 until exp - (n - 1)).foreach(_ => sb.append('0'))
        } else if (exp >= 0)
          sb.append(digits, 0, exp + 1).append('.').append(digits, exp + 1, n)
        else {
          sb.append("0.")
          (0 until -exp - 1).foreach(_ => sb.append('0'))
          sb.append(digits)
        }
        sb.toString
      }
      var p = 0
      while (p < 16) {
        val s = String.format(java.util.Locale.ROOT, "%." + p + "E",
          java.lang.Double.valueOf(a))
        if (java.lang.Double.parseDouble(s) == a) return fixed(s)
        p += 1
      }
      fixed(String.format(java.util.Locale.ROOT, "%.16E",
        java.lang.Double.valueOf(a)))
    }
    val shortDecimals = (0 until 3000).map { i =>
      val places = i % 9
      val sign = if (i % 2 == 0) 1 else -1
      sign * (rnd.nextInt(1000000000).toDouble / math.pow(10, places))
    }
    (doubles.take(1500) ++ shortDecimals).foreach { d =>
      assert(GoFloat.format(d) == specFormat(d),
        s"diff vs %.pE spec: $d -> ${GoFloat.format(d)} want ${specFormat(d)}")
    }
  }

  test("every custom expression's generated code compiles (no interpreted fallback)") {
    // Whole-stage codegen catches janino failures and silently falls back
    // to interpreted execution, so a doGenCode bug passes every value test
    // while costing the codegen speedup everywhere (seen live: a kernel in
    // the expression's own companion object gets no static forwarder
    // because Expression.eval shadows the name). Generating a projection
    // directly does NOT fall back — it throws.
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    val str    = BoundReference(0, StringType, nullable = true)
    val entries = BoundReference(1,
      ArrayType(StructType(Seq(StructField("k", StringType), StructField("v", StringType)))),
      nullable = true)
    val farr   = BoundReference(2, ArrayType(FloatType), nullable = true)
    val code   = BoundReference(3, ArrayType(ByteType), nullable = true)
    val book   = BoundReference(4, ArrayType(DoubleType), nullable = true)
    val dbl    = BoundReference(5, DoubleType, nullable = true)
    val flt    = BoundReference(6, FloatType, nullable = true)
    val exprs = Seq(
      CollapseNumsExpr(str, prettify = true),
      CollapseNumsExpr(str, prettify = false),
      EntriesDedupExpr(entries, lastWins = true),
      EntriesDedupExpr(entries, lastWins = false),
      ExtractGroupsExpr(str, "(a)(b+)"),
      Ipv4ToLong(str),
      JsonGetScalar(str, Seq("a", "b")),
      LogfmtToMap(str),
      MinHashSigExpr(ShinglesExpr(str, 3), 16),
      BandHashesExpr(MinHashSigExpr(ShinglesExpr(str, 3), 16), 4),
      SimHash64Expr(ShinglesExpr(str, 3)),
      ShinglesExpr(str, 3),
      TokensExpr(str),
      FieldTokenHashesExpr(
        org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(Seq(
          org.apache.spark.sql.catalyst.expressions.Literal("f1"), str,
          org.apache.spark.sql.catalyst.expressions.Literal("f2"), str))),
      CharWindowHashesExpr(str, 8),
      TokenWindowHashesExpr(str, 4),
      LangTextStatsExpr(str),
      QualityCountsExpr(str),
      WordMatchExpr(str, "err", prefixMode = false),
      WordMatchExpr(str, "err", prefixMode = true),
      SeqMatchExpr(str, Seq("a", "b")),
      Bm25CountsExpr(str, Seq("a", "b")),
      DotProduct(farr, farr),
      CosineSim(farr, farr),
      PqEncodeExpr(farr, book, 2),
      PqCosineExpr(farr, code, book),
      GoFloatStrExpr(dbl),
      GoFloatStrExpr(flt),
      GoValueMetaExpr(str),
      GoTimestampParse(str))
    exprs.foreach { e =>
      assert(e.checkInputDataTypes().isSuccess, s"${e.prettyName}: input types")
      // throws CompileException (wrapped) if doGenCode emits broken Java
      GenerateUnsafeProjection.generate(Seq(e))
    }
  }

  test("collect_list retains tokens/shingles views across rows") {
    import spark.implicits._
    // the exchange hands rows to the kernels out of a reused row buffer,
    // so a buffering consumer that kept the zero-copy views instead of
    // copying them would report the last row's bytes for every row
    val texts = Seq("alpha beta", "gamma zeta", "eta theta iota", "kappa")
    val got = texts.toDF("text").repartition(1)
      .select(col("text"), Shingles.tokens(col("text")).as("t"),
        Shingles.shingles(col("text"), 1).as("s"))
      .agg(collect_list(struct(col("text"), col("t"), col("s"))).as("rows"))
      .head().getSeq[Row](0)
      .map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[String](2)))
    assert(got.size == texts.size)
    got.foreach { case (text, toks, shs) =>
      val want = text.split(" ").toSeq
      assert(toks == want, s"tokens of '$text'")
      assert(shs == want, s"1-shingles of '$text'")
    }
  }
}
