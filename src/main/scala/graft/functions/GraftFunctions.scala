package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Single source of truth for the engine's custom-expression SQL surface.
  *
  * Every codegen'd expression is exposed two ways from this one table:
  *
  *   - [[graft.GraftExtensions]] injects all of them at session build
  *     (`spark.sql.extensions=graft.GraftExtensions`) — the idiomatic
  *     route for clusters and plain-SQL/JDBC clients;
  *   - the per-file Column APIs ([[JsonGet.scalar]], [[WordMatch
  *     .wordMatch]], …) lazily [[ensure]] the temp functions exist before
  *     building a `call_function` Column.
  *
  * `ensure` registers into BOTH the thread's active session and the JVM
  * default session: a bare `Column` does not know which session will
  * analyze it, and registering only the active one strands a DataFrame
  * owned by a different session with "undefined function" at analysis
  * (two-session JVMs: a test suite session next to a server session, or a
  * `newSession()` clone, whose session state — including the function
  * registry — is fresh). Sessions built through the extension never
  * depend on the lazy path at all. */
object GraftFunctions {

  private def str(e: Expression): String =
    e.eval().asInstanceOf[UTF8String].toString

  private def strs(e: Expression): Seq[String] = {
    val arr = e.eval().asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  /** name → builder, for both injectFunction and temp registration. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      "graft_dot(a, b) - dot product of two float/double/tinyint arrays",
      es => DotProduct(es(0), es(1))),
    ("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two float/double/tinyint arrays",
      es => CosineSim(es(0), es(1))),
    ("graft_ipv4",
      "graft_ipv4(s) - IPv4 dotted-quad string to uint32 (null when invalid)",
      es => Ipv4ToLong(es.head)),
    ("graft_logfmt",
      "graft_logfmt(s) - parse a logfmt line into a map<string,string>",
      es => LogfmtToMap(es.head)),
    ("graft_time_parse",
      "graft_time_parse(s) - ingest timestamp parse (RFC3339Nano or " +
        "magnitude-inferred unix; ''/'0'/'-' mean now; null on error)",
      es => GoTimestampParse(es.head)),
    ("graft_value_meta",
      "graft_value_meta(s) - values_encoder.go parse-family classification " +
        "struct (uint/int/float/ipv4/iso8601 + uint value)",
      es => GoValueMetaExpr(es.head)),
    ("graft_xxhash64_seed0",
      "graft_xxhash64_seed0(s) - xxHash64 with seed 0 (Go xxhash.Sum64; " +
        "Spark's xxhash64 seeds with 42)",
      es => org.apache.spark.sql.catalyst.expressions.XxHash64(es, 0L)),
    ("graft_pattern_apply",
      "graft_pattern_apply(s, steps) - extract-pattern capture array " +
        "(pattern.go apply semantics)",
      es => PatternApplyExpr(es.head, PatternApplyExpr.decodeSteps(str(es(1))))),
    ("graft_go_round",
      "graft_go_round(x, nearest) - round to nearest with the reference's " +
        "decimal-truncation algorithm",
      es => GoRoundExpr(es(0), es(1))),
    ("graft_row_min",
      "graft_row_min(src, rowJson) - row JSON minimizing src",
      es => RowMinMaxAgg(es(0), es(1), isMin = true)),
    ("graft_row_max",
      "graft_row_max(src, rowJson) - row JSON maximizing src",
      es => RowMinMaxAgg(es(0), es(1), isMin = false)),
    ("graft_min_value",
      "graft_min_value(arr) - min over the reference value collation",
      es => MinMaxValueAgg(es.head, isMin = true)),
    ("graft_max_value",
      "graft_max_value(arr) - max over the reference value collation",
      es => MinMaxValueAgg(es.head, isMin = false)),
    ("graft_quantile_value",
      "graft_quantile_value(arr, phi) - sampling nearest-rank quantile " +
        "over the reference value collation",
      es => QuantileValueAgg(es(0),
        es(1).eval() match {
          case d: java.lang.Double => d.doubleValue
          case de: org.apache.spark.sql.types.Decimal => de.toDouble
          case other => other.toString.toDouble
        })),
    ("graft_row_min_d",
      "graft_row_min_d(srcDouble, rowJson) - row JSON minimizing a " +
        "native-numeric src",
      es => RowMinMaxDoubleAgg(es(0), es(1), isMin = true)),
    ("graft_row_max_d",
      "graft_row_max_d(srcDouble, rowJson) - row JSON maximizing a " +
        "native-numeric src",
      es => RowMinMaxDoubleAgg(es(0), es(1), isMin = false)),
    ("graft_quantile_double",
      "graft_quantile_double(v, phi) - numeric fast path of " +
        "graft_quantile_value for native numeric fields",
      es => QuantileDoubleAgg(es(0),
        es(1).eval() match {
          case d: java.lang.Double => d.doubleValue
          case de: org.apache.spark.sql.types.Decimal => de.toDouble
          case other => other.toString.toDouble
        })),
    ("graft_syslog_parse",
      "graft_syslog_parse(s, year, tzMinutes) - progressive syslog " +
        "parser (RFC3164/RFC5424 + structured data) to a field map",
      es => SyslogParseExpr(es(0),
        es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
    ("graft_json_flatten",
      "graft_json_flatten(s) - JSON object to a flattened map " +
        "(nested objects become dot-separated keys, reference logjson shape)",
      es => JsonFlattenExpr(es.head)),
    ("graft_json_flatten_strict",
      "graft_json_flatten_strict(s) - like graft_json_flatten but NULL " +
        "for malformed/non-object input",
      es => JsonFlattenExpr(es.head, nullForNonObject = true)),
    ("graft_jsonline",
      "graft_jsonline(s, timeKeys, msgKeys) - generator: one (time, _msg, " +
        "fields) row per JSON object line from one parse, none for a " +
        "malformed line; the first present key of each list is picked",
      es => JsonLineGen(es(0), strs(es(1)), strs(es(2)))),
    ("graft_flush_instant",
      "graft_flush_instant(micros) - the timestamp `micros`, held by " +
        "reference in generated code instead of folded into it",
      es => FlushInstant(es.head.eval().asInstanceOf[Long])),
    ("graft_json_get",
      "graft_json_get(json, seg, ...) - scalar JSON field lookup; " +
        "sentinel for object/array values",
      es => JsonGetScalar(es.head, es.tail.map(e => str(e)))),
    ("graft_extract_groups",
      "graft_extract_groups(s, re) - all capture groups of re in one pass",
      es => ExtractGroupsExpr(es(0), str(es(1)))),
    ("graft_minhash_sig",
      "graft_minhash_sig(tokens, n) - n-hash MinHash signature",
      es => MinHashSigExpr(es(0), es(1).eval().asInstanceOf[Int])),
    ("graft_simhash64",
      "graft_simhash64(tokens) - 64-bit SimHash of a token array",
      es => SimHash64Expr(es(0))),
    ("graft_shingles",
      "graft_shingles(s, n) - distinct word n-gram shingles, one pass",
      es => ShinglesExpr(es(0), es(1).eval().asInstanceOf[Int])),
    ("graft_tokens",
      "graft_tokens(s) - word tokens (\\p{L}\\p{N}_ runs), one pass",
      es => TokensExpr(es(0))),
    ("graft_char_windows",
      "graft_char_windows(s, k) - rolling hashes of every k-char window",
      es => CharWindowHashesExpr(es(0), es(1).eval().asInstanceOf[Int])),
    ("graft_token_windows",
      "graft_token_windows(s, k) - rolling hashes of every k-token window",
      es => TokenWindowHashesExpr(es(0), es(1).eval().asInstanceOf[Int])),
    ("graft_window_hash_counts",
      "graft_window_hash_counts(s, k, chars) - per-doc (window hash, reps) pairs",
      es => WindowHashCountsExpr(es(0), es(1).eval().asInstanceOf[Int],
        es(2).eval().asInstanceOf[Boolean])),
    ("graft_field_token_hashes",
      "graft_field_token_hashes(struct) - (field, token-hash) pairs for " +
        "every word token of every struct field (FieldBloom build kernel)",
      es => FieldTokenHashesExpr(es(0))),
    ("graft_opaque",
      "graft_opaque(e) - identity marked nondeterministic: keeps a filter " +
        "over expensive derived columns above its defining projection",
      es => OpaqueExpr(es.head)),
    ("graft_entries_dedup",
      "graft_entries_dedup(entries, lastWins) - entry array to map, " +
        "defined duplicate-key precedence, one pass",
      es => EntriesDedupExpr(es(0), es(1).eval().asInstanceOf[Boolean])),
    ("graft_band_hashes",
      "graft_band_hashes(sig, bands) - per-band LSH bucket ids",
      es => BandHashesExpr(es(0), es(1).eval().asInstanceOf[Int])),
    ("graft_collapse_nums",
      "graft_collapse_nums(s, prettify) - collapse numbers/uuids/hex/ips",
      es => CollapseNumsExpr(es(0), es(1).eval().asInstanceOf[Boolean])),
    ("graft_text_stats",
      "graft_text_stats(s) - language/token counters in one pass",
      es => LangTextStatsExpr(es(0))),
    ("graft_quality_counts",
      "graft_quality_counts(s) - token/punct/stopword counters in one pass",
      es => QualityCountsExpr(es(0))),
    ("graft_word_match",
      "graft_word_match(s, phrase, prefix) - word-boundary phrase match",
      es => {
        val p = str(es(1))
        val pre = es(2).eval().asInstanceOf[Boolean]
        WordMatchExpr(es(0), p, pre)
      }),
    ("graft_pq_encode",
      "graft_pq_encode(vec, cb, m) - m-byte product-quantization code of " +
        "vec against a flat subspace-major codebook",
      es => PqEncodeExpr(es(0), es(1), es(2).eval().asInstanceOf[Int])),
    ("graft_pq_cosine",
      "graft_pq_cosine(qv, code, cb) - asymmetric cosine of an exact query " +
        "vector vs a product-quantized corpus code",
      es => PqCosineExpr(es(0), es(1), es(2))),
    ("graft_go_float",
      "graft_go_float(x) - Go strconv 'f'/-1 rendering of a double/float " +
        "(fixed notation, shortest round-trip digits, +Inf/-Inf/NaN)",
      es => GoFloatStrExpr(es(0))),
    ("graft_seq_match",
      "graft_seq_match(s, phrases) - ordered word-sequence match",
      es => SeqMatchExpr(es(0), strs(es(1)))),
    ("graft_bm25_counts",
      "graft_bm25_counts(s, terms) - [dl, tf...] token counters, one pass",
      es => Bm25CountsExpr(es(0), strs(es(1)))))

  // weak keys: a strong session reference would pin every stopped
  // session's state for the JVM's lifetime (registration is idempotent,
  // so re-registering after a GC'd entry is benign)
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Install every function into `spark`'s registry (idempotent), plus
    * the engine's optimizer rules for sessions not built through
    * [[graft.GraftExtensions]] (ExperimentalMethods' user batch runs
    * after the main optimizer, so ColumnPruning/CollapseProject ride
    * along to realize the scan-schema shrink the pruning enables). */
  def register(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      all.foreach { case (name, _, builder) =>
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          name, builder, "built-in")
      }
      val em = spark.experimental
      if (!em.extraOptimizations.exists(_ eq graft.plans.PruneGeneratedEntries))
        em.extraOptimizations = em.extraOptimizations ++ Seq(
          graft.plans.PruneGeneratedEntries,
          org.apache.spark.sql.catalyst.optimizer.ColumnPruning,
          org.apache.spark.sql.catalyst.optimizer.CollapseProject)
    }

  /** Lazy Column-API route: cover both sessions the Column could
    * resolve against. */
  /** Public alias for ensure() — compiler-side call sites. */
  def touch(): Unit = ensure()

  private[functions] def ensure(): Unit = {
    SparkSession.getActiveSession.foreach(register)
    SparkSession.getDefaultSession.foreach(register)
  }
}
