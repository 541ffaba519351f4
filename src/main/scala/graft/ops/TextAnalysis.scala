package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All pure Column expressions (codegen'd, no UDFs, no shuffles) — each
  * scales linearly with a parquet scan at 100 TB.
  */
object TextAnalysis {

  /** Whitespace-ish word tokens — codegen'd single-pass kernel
    * (functions/Shingles.TokensExpr), value-identical to
    * `filter(split(text, "[^\p{L}\p{N}_]+"), _ != "")` (diff-tested). */
  def tokens(text: Column): Column = graft.functions.Shingles.tokens(text)

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count estimate: words + punctuation runs + digits
    * (a cheap, deterministic proxy for tokenizer budget accounting). */
  def bpeTokenCountEstimate(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= "")).cast("long") +
      octet_length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", "")).cast("long")

  // ----------------------------------------------------------- language id

  // single source of truth lives beside the codegen'd kernel that also
  // consumes them (functions/TextStatsKernel.scala)
  private val enStop = graft.functions.TextStatsKernel.enStop
  private val esStop = graft.functions.TextStatsKernel.esStop
  private val deStop = graft.functions.TextStatsKernel.deStop

  private def stopHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit(_)): _*)))

  /** N-gram/stopword heuristic language ID. Deterministic tie order:
    * zh (CJK chars) > en >= es >= de > und. */
  def langId(text: Column): Column = langIdTokens(tokens(text), text)

  /** langId over a precomputed token array. This Column tower walks the
    * array once per language (HOF lambdas are CodegenFallback, so no
    * projection shape can share the walks) — it is kept as the SEMANTIC
    * SPEC for the differential property test; hot paths use the
    * single-pass codegen'd kernel [[langTokenStats]] instead. */
  def langIdTokens(ts: Column, text: Column): Column = {
    def hits(words: Seq[String]): Column =
      size(filter(ts, t => t.isin(words.map(lit(_)): _*)))
    val en = hits(enStop)
    val es = hits(esStop)
    val de = hits(deStop)
    when(text.rlike("[\\p{IsHan}]"), "zh")
      .when(en >= es && en >= de && en > 0, "en")
      .when(es >= de && es > 0, "es")
      .when(de > 0, "de")
      .otherwise("und")
  }

  /** `struct(lang, n_tokens)` in ONE codegen'd pass over the raw text —
    * no regex split, no intermediate token array, no interpreted HOF
    * lambdas (functions/TextStatsKernel.scala; parity with
    * [[langIdTokens]] + [[tokenCount]] pinned by ExprPropertySpec). */
  def langTokenStats(text: Column): Column =
    graft.functions.TextStatsKernel.textStats(text)

  // --------------------------------------------------------- quality score

  def punctRatio(text: Column): Column =
    octet_length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", "")).cast("double") /
      greatest(octet_length(text), lit(1)).cast("double")

  def stopwordRatio(text: Column): Column =
    stopHits(text, enStop).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")

  def meanWordLength(text: Column): Column =
    octet_length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(size(tokens(text)), lit(1)).cast("double")

  /** Composite heuristic quality score in [0,1] (length, punctuation,
    * stopword presence — the usual pre-training quality gates). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(octet_length(text).cast("double") / 500d, lit(1d))
    val punctOk = lit(1d) - least(punctRatio(text) * 5d, lit(1d))
    val stopOk = least(stopwordRatio(text) * 10d, lit(1d))
    round((lenScore + punctOk + stopOk) / 3d, 6)
  }

  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // the three counters come from ONE code-point walk (codegen'd kernel,
    // functions/TextStatsKernel.qualityCounts — replaces a regex split,
    // two interpreted HOF filters, and a regexp_replace, measured 8s over
    // 100k docs); every ratio/score below is the identical Column
    // arithmetic in the identical order as the tower it replaced, so the
    // rounded doubles are bit-for-bit the same (ExprPropertySpec pins it)
    val d = df.withColumn("__qc",
      graft.functions.TextStatsKernel.qualityCounts(t))
    val nToks = col("__qc.n_tokens")
    val punctRaw = col("__qc.punct_bytes").cast("double") /
      greatest(octet_length(t), lit(1)).cast("double")
    val stopRaw = col("__qc.stop_hits").cast("double") /
      greatest(nToks.cast("int"), lit(1)).cast("double")
    val lenScore = least(octet_length(t).cast("double") / 500d, lit(1d))
    val punctOk = lit(1d) - least(punctRaw * 5d, lit(1d))
    val stopOk = least(stopRaw * 10d, lit(1d))
    d.withColumn("n_tokens", nToks)
      .withColumn("punct_ratio", round(punctRaw, 6))
      .withColumn("stopword_ratio", round(stopRaw, 6))
      .withColumn("quality", round((lenScore + punctOk + stopOk) / 3d, 6))
      .drop("__qc")
  }

  /** The Gopher rule-based quality filter (Rae et al., "Scaling Language
    * Models: ... Gopher", arXiv:2112.11446 Appendix A1.1) — the standard
    * web-corpus pre-filter, with the published thresholds:
    * word count in [50, 100k]; mean word length in [3, 10]; symbol-to-
    * word ratio ('#' and '…') ≤ 0.1; ≥90%% of lines NOT starting with a
    * bullet; ≤30%% of lines ending in '…'; ≥80%% of words contain an
    * alphabetic character; ≥2 hits from the 8-stop-word list; plus the
    * repetition gate adapted from [[dupNgramFraction]] (the paper counts
    * duplicate-CHARACTER fractions; the distinct-gram fraction is the
    * shuffle-free per-row form — documented adaptation) with the paper's
    * top-2-gram threshold 0.20.
    *
    * "Words" are whitespace-split (not the alnum tokenizer — rule 5
    * would be vacuous on alnum tokens). Everything is one projection —
    * no UDF, no shuffle — but the array lambdas are CodegenFallback and
    * interpret per element (~500× slower than a kernel, 6853f7e): fine for
    * a filter evaluated once per document, and the swap point is a
    * TextStatsKernel-style single-pass kernel if this lands on a
    * 100 TB hot path. */
  def gopherRules(df: DataFrame, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val words = filter(split(t, "\\s+"), w => length(w) > 0)
    val nW = size(words)
    val meanLen = when(nW > 0,
      aggregate(words, lit(0L), (acc, w) => acc + length(w))
        .cast("double") / nW).otherwise(lit(0.0))
    val nSym = (length(t) - length(regexp_replace(t, "[#…]", ""))).cast("double")
    val alphaFrac = when(nW > 0,
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nW)
      .otherwise(lit(0.0))
    val stopWords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = size(filter(array_distinct(transform(words, w => lower(w))),
      w => w.isin(stopWords: _*)))
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nL = size(lines)
    val bulletFrac = when(nL > 0,
      size(filter(lines, l => trim(l).rlike("^[-*•‣▪]")))
        .cast("double") / nL).otherwise(lit(0.0))
    val ellipsisFrac = when(nL > 0,
      size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$")))
        .cast("double") / nL).otherwise(lit(0.0))
    val dup2 = dupNgramFraction(t, 2)
    val symbolRatio = when(nW > 0, nSym / nW).otherwise(lit(0.0))
    df.withColumn("g_word_count", nW.cast("long"))
      .withColumn("g_mean_word_len", round(meanLen, 6))
      .withColumn("g_symbol_ratio", round(symbolRatio, 6))
      .withColumn("g_alpha_frac", round(alphaFrac, 6))
      .withColumn("g_stop_hits", stopHits.cast("long"))
      .withColumn("g_bullet_frac", round(bulletFrac, 6))
      .withColumn("g_ellipsis_frac", round(ellipsisFrac, 6))
      .withColumn("g_dup2_frac", round(dup2, 6))
      .withColumn("g_pass",
        nW.between(50, 100000) && meanLen.between(3.0, 10.0) &&
        symbolRatio <= 0.1 && alphaFrac >= 0.8 && stopHits >= 2 &&
        bulletFrac <= 0.9 && ellipsisFrac <= 0.3 && dup2 <= 0.2)
  }

  // ---------------------------------------------------------- fingerprints

  /** Order-insensitive document fingerprint: hash of the sorted distinct
    * token set (catches shuffled/duplicated-content docs). */
  def setFingerprint(text: Column): Column =
    xxhash64(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Rolling content fingerprint: min-hash over token 4-grams — stable
    * under small edits (winnowing-style document signature). */
  def rollingFingerprint(text: Column, window: Int = 4): Column = {
    val ts = tokens(text)
    val grams = transform(
      sequence(lit(0), greatest(size(ts) - window, lit(0))),
      i => xxhash64(concat_ws(" ", slice(ts, i + 1, lit(window)))))
    array_min(grams)
  }

  // ---------------------------------------------------------- repetition

  /** Fraction of word `n`-grams that are repeats (1 − distinct/total) —
    * the Gopher/C4-style repetition signal for filtering boilerplate and
    * degenerate generations. 0 for texts shorter than `n` tokens. */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val ts = tokens(text)
    val grams = transform(
      sequence(lit(0), greatest(size(ts) - n, lit(0))),
      i => concat_ws(" ", slice(ts, i + 1, lit(n))))
    when(size(ts) >= n,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
      .otherwise(lit(0.0))
  }

  /** Share of the text taken by its single most frequent token — high
    * values flag keyword-stuffed / repeated-token documents. Quadratic in
    * DISTINCT tokens per doc (bounded by doc length), all inside one
    * codegen'd projection — no shuffle, no UDF. */
  def topTokenRatio(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      array_max(transform(array_distinct(ts),
        t => size(filter(ts, x => x === t)))).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  // ---------------------------------------------------------- PII redaction

  /** PII patterns kept to the portable regex core (no lookaround, ASCII
    * classes) so the DuckDB oracle evaluates the identical expressions.
    * All-Column implementation → codegen'd, no UDF in the scan stage. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val ssnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** Redact emails / IPv4s / SSN-shaped ids to typed placeholder tokens —
    * the standard scrub stage before training-data release. Email first:
    * an address like user@10.0.0.1 must become one <EMAIL>, not an
    * <EMAIL>-around-an-<IP>. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      ssnRe, "<SSN>")

  /** Pre-redaction PII hit counts per kind (audit/reporting side output). */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(emailRe)).as("emails"),
    regexp_count(text, lit(ipv4Re)).as("ips"),
    regexp_count(text, lit(ssnRe)).as("ssns"))

  /** Lines occurring in at least `minDocFreq` distinct documents —
    * corpus-level boilerplate (nav bars, cookie banners, footers). One
    * explode + one groupBy; the count is per-document (a line repeated
    * inside one doc counts once). */
  def frequentLines(df: DataFrame, textCol: String, idCol: String,
                    minDocFreq: Long): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(array_distinct(split(col(textCol), "\n"))).as("line"))
      .groupBy("line").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFreq && col("line") =!= "")

  /** Strip corpus-frequent lines from every document (C4-style boilerplate
    * removal, but corpus-driven rather than rule-driven). Returns the input
    * columns with `textCol` rewritten; a document whose every line was
    * boilerplate keeps an empty string.
    *
    * Scale shape: the line table is an explode of the corpus (same order of
    * magnitude as the input — fine, it's one shuffle to count and one
    * anti-join to filter); the rebuild groups by doc id only over surviving
    * lines. The boilerplate set is NOT collected to the driver — it can be
    * arbitrarily large and stays a distributed anti-join side (Catalyst
    * broadcasts it when it is small). */
  def stripBoilerplate(df: DataFrame, textCol: String, idCol: String,
                       minDocFreq: Long): DataFrame = {
    val lines = df.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "line")))
    val bl = frequentLines(df, textCol, idCol, minDocFreq).select("line")
    val rebuilt = lines.join(bl, Seq("line"), "left_anti")
      .groupBy("__id")
      .agg(concat_ws("\n", transform(
        array_sort(collect_list(struct(col("__pos"), col("line")))),
        s => s.getField("line"))).as("__clean"))
    df.join(rebuilt, col(idCol) === col("__id"), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .drop("__id", "__clean")
  }

  // ------------------------------------------------------------- chunking

  /** Split each document into overlapping token-window chunks — the
    * standard pre-training shaping step (context-length packing happens
    * downstream). Chunk i covers tokens [i·step, i·step + chunkTokens)
    * with step = chunkTokens − overlap; the last chunk may be short; a
    * document with no tokens yields no chunks.
    *
    * Pure Column ops (tokenize → sequence → posexplode → slice): fully
    * codegen'd, no UDF, no shuffle — chunking 100 TB is a single scan
    * that preserves the input partitioning. Output: the input columns
    * plus `chunk_idx` and `chunk_text`. */
  def chunkDocuments(df: DataFrame, textCol: String,
                     chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunkTokens=$chunkTokens overlap=$overlap")
    val step = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    // 1 + ceil((n - chunkTokens) / step) chunks when n > chunkTokens
    val nChunks = when(n <= 0, 0).otherwise(
      lit(1) + greatest(lit(0L),
        ceil((n - chunkTokens).cast("double") / step).cast("long")))
    // explode of an empty array emits no rows (sequence(0, -1) would count
    // DOWN and fabricate chunks for empty docs — guard it out)
    val idxs = when(nChunks > 0, sequence(lit(0L), nChunks.cast("long") - 1L))
      .otherwise(array().cast("array<bigint>"))
    df.withColumn("__toks", toks)
      .withColumn("chunk_idx", explode(idxs))
      .withColumn("chunk_text", concat_ws(" ",
        slice(col("__toks"), (col("chunk_idx") * step + 1).cast("int"),
              lit(chunkTokens))))
      .drop("__toks")
  }

  /** Pack chunks into fixed-size training context windows: within each
    * shard (caller-chosen partition key — e.g. `doc_id % n` or a hash),
    * chunks are laid end-to-end in `orderCols` order and assigned
    * `pack_idx` = the context window their first token lands in
    * (⌊cumulative-tokens-before / contextTokens⌋). (shard, pack_idx)
    * identifies one training sequence.
    *
    * The cumulative sum is PARTITIONED by shard — a partition-less global
    * window would funnel the corpus through one task; sharded packing
    * keeps the one shuffle keyed and parallel, which is the standard
    * trade (packing quality is per-shard, throughput is cluster-wide). */
  def packChunks(df: DataFrame, tokenCountCol: String, shardCol: String,
                 orderCols: Seq[String], contextTokens: Int): DataFrame = {
    require(contextTokens > 0, s"contextTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__cum", sum(col(tokenCountCol)).over(w))
      .withColumn("pack_idx",
        floor((col("__cum") - col(tokenCountCol)) / contextTokens))
      .drop("__cum")
  }

  /** BM25 top-k retrieval over a document corpus — the relevance-scoring
    * primitive data-curation pipelines use for targeted selection and
    * eval-set retrieval (Robertson/Spärck Jones BM25, the Okapi
    * formulation with the standard k1/b defaults).
    *
    * Scale shape, deliberately: per-document term frequencies for the
    * (few) query terms compute as COLUMNS over one scan — the corpus is
    * never exploded and never shuffled for tf. Corpus statistics (N,
    * avgdl, per-term document frequencies) roll up in one tiny global
    * aggregate whose single row broadcasts back via crossJoin. The only
    * data movement for 100 TB of documents is that one partial-agg
    * rollup plus a TakeOrdered(k) — no joins, no windows.
    *
    * Tokenization is the SQL-mirrorable canonical form (lower +
    * split on non-alphanumeric) so the DuckDB oracle reproduces scores
    * bit-for-bit; scores are reported as `floor(score * 1e6)` to pin
    * the comparison against last-ulp float drift across engines. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.map(_.toLowerCase)
    // dl + every term's tf in ONE codegen'd pass per row
    // (functions/Bm25Counts — one lowercase + one walk; the HOF filter()
    // formulation interpreted per element at 4.2× DuckDB warm, and 1+N
    // regex split passes still measured ~2×; the kernel is differentially
    // pinned against the split formulation)
    val cnt = graft.functions.Bm25Counts.countsCol(
      coalesce(col(textCol), lit("")), terms)
    val withTf = df
      .withColumn("__c", cnt)
      .select(
        (col(idCol) +: element_at(col("__c"), 1).cast("double").as("__dl") +:
          terms.indices.map(i =>
            element_at(col("__c"), i + 2).cast("double").as(s"__tf$i"))): _*)
    val dfCols = terms.indices.map(i =>
      sum((col(s"__tf$i") > 0).cast("double")).as(s"__df$i"))
    val statsRow = withTf.agg(
      count(lit(1)).cast("double").as("__n"),
      (avg(col("__dl")).as("__avgdl") +: dfCols): _*)
    val scored = withTf.crossJoin(broadcast(statsRow))
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + 0.5) / (col(s"__df$i") + 0.5))
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    scored
      .select(col(idCol), floor(score * 1e6).cast("long").as("score_x1m"))
      .filter(col("score_x1m") > 0)
      .orderBy(col("score_x1m").desc, col(idCol))
      .limit(k)
  }
}
