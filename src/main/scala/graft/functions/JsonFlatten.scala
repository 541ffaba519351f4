package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Reference-shape JSON → field map: nested objects flatten into
  * dot-separated paths (`{"y":{"z":{"a":"b"}}}` → `y.z.a = b`), arrays
  * and other non-object values keep their raw JSON text, strings
  * unquote, `null` reads as the empty string, and the non-standard
  * `NaN`/`Infinity` literals are tolerated (lib/logjson parser.go — the
  * ingestion and unpack_json field model). Duplicate keys keep the
  * FIRST value, like the storage's first-wins merge.
  *
  * Not whole-stage-codegen'd (Jackson does the token walk), matching the
  * LogfmtToMap kernel's CodegenFallback shape — one streaming pass per
  * row with no intermediate tree.
  */
case class JsonFlattenExpr(child: Expression,
                           nullForNonObject: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_json_flatten needs a string input, got ${t.sql}")
  }

  override def dataType: DataType = MapType(StringType, StringType)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var pairs = JsonFlattenExpr.flatten(s)
    // a non-object root yields no fields. Unpack paths want an EMPTY map
    // (keeps downstream map_concat/map_filter codegen null-free); ingest
    // wants NULL so malformed lines stay distinguishable from {}
    if (pairs == null) {
      if (nullForNonObject) return null
      pairs = new java.util.LinkedHashMap[String, String]()
    }
    JsonFlattenExpr.toMapData(pairs)
  }

  override protected def withNewChildInternal(c: Expression): JsonFlattenExpr =
    copy(child = c)

  override def prettyName: String = "graft_json_flatten"
}

/** One jsonline row per input line, from ONE parse: the
  * [[JsonFlattenExpr.flatten]] field map, then the per-row pick of the
  * first present `timeKeys`/`msgKeys` entry (the `_time_field`/
  * `_msg_field` fallback lists), then the map without the picked keys.
  * Emits (raw time value or null, `_msg` or "", remaining fields), or no
  * row at all for a malformed / non-object line.
  *
  * A generator, not a map-valued column: the optimizer inlines a
  * projected column into every consumer (each `element_at`, each CASE
  * arm, pushed-down filters, a lambda run per map entry), and each copy
  * re-ran the JSON parse, 26 times per row in a flush. It neither
  * inlines nor pushes filters through a generator's output. */
case class JsonLineGen(child: Expression, timeKeys: Seq[String],
                       msgKeys: Seq[String])
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("time", StringType, nullable = true),
    StructField("_msg", StringType, nullable = false),
    StructField("fields", MapType(StringType, StringType), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_jsonline needs a string input, got ${t.sql}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input)
    if (s == null) return Nil
    val pairs = JsonFlattenExpr.flatten(s.toString)
    if (pairs == null) return Nil
    // the values are read before either key is dropped: both lists may
    // name the same key
    val tKey = timeKeys.find(pairs.containsKey)
    val mKey = msgKeys.find(pairs.containsKey)
    val time = tKey.map(pairs.get).orNull
    val msg = mKey.map(pairs.get).getOrElse("")
    tKey.foreach(pairs.remove)
    mKey.foreach(pairs.remove)
    Iterator.single(InternalRow(
      if (time == null) null else UTF8String.fromString(time),
      UTF8String.fromString(msg), JsonFlattenExpr.toMapData(pairs)))
  }

  override protected def withNewChildInternal(c: Expression): JsonLineGen =
    copy(child = c)

  override def prettyName: String = "graft_jsonline"
}

object JsonFlattenExpr {
  private val factory: JsonFactory = {
    val f = new JsonFactory()
    f.enable(JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS)
    f
  }

  /** `pairs` as Spark map data, in insertion order. */
  def toMapData(pairs: java.util.LinkedHashMap[String, String]): ArrayBasedMapData = {
    val keys = new Array[Any](pairs.size)
    val vals = new Array[Any](pairs.size)
    var idx = 0
    val it = pairs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(idx) = UTF8String.fromString(e.getKey)
      vals(idx) = UTF8String.fromString(e.getValue)
      idx += 1
    }
    ArrayBasedMapData(keys, vals)
  }

  /** Returns insertion-ordered flattened pairs, or null when `s` is not
    * a JSON object. */
  def flatten(s: String): java.util.LinkedHashMap[String, String] = {
    val out = new java.util.LinkedHashMap[String, String]()
    try {
      val p = factory.createParser(s)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return null
        walkObject(p, "", out)
        // trailing garbage after the object = not a clean JSON value
        if (p.nextToken() != null) return null
      } finally p.close()
    } catch {
      case _: Exception => return null
    }
    out
  }

  private def walkObject(p: JsonParser, prefix: String,
                         out: java.util.LinkedHashMap[String, String]): Unit = {
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val key = prefix + p.currentName()
      p.nextToken() match {
        case JsonToken.START_OBJECT =>
          walkObject(p, key + ".", out)
        case JsonToken.START_ARRAY =>
          putFirst(out, key, rawArray(p))
        case JsonToken.VALUE_NULL =>
          putFirst(out, key, "")
        case JsonToken.VALUE_STRING =>
          putFirst(out, key, p.getText)
        case _ =>
          putFirst(out, key, p.getText) // numbers, booleans, NaN, Inf
      }
    }
  }

  private def putFirst(m: java.util.LinkedHashMap[String, String],
                       k: String, v: String): Unit =
    if (!m.containsKey(k)) m.put(k, v)

  /** Re-serialize the current array as compact JSON text. */
  private def rawArray(p: JsonParser): String = {
    val sb = new java.lang.StringBuilder("[")
    var depthA = 1
    var depthO = 0
    var first = true
    def comma(): Unit = { if (!first) sb.append(','); first = false }
    var tok = p.nextToken()
    while (depthA > 0 && tok != null) {
      tok match {
        case JsonToken.START_ARRAY => comma(); sb.append('['); depthA += 1; first = true
        case JsonToken.END_ARRAY =>
          depthA -= 1; if (depthA > 0 || depthO > 0) sb.append(']'); first = false
        case JsonToken.START_OBJECT => comma(); sb.append('{'); depthO += 1; first = true
        case JsonToken.END_OBJECT => depthO -= 1; sb.append('}'); first = false
        case JsonToken.FIELD_NAME =>
          comma(); sb.append(quote(p.currentName())).append(':'); first = true
        case JsonToken.VALUE_STRING =>
          comma(); sb.append(quote(p.getText))
        case JsonToken.VALUE_NULL => comma(); sb.append("null")
        case _ => comma(); sb.append(p.getText)
      }
      if (depthA > 0) tok = p.nextToken()
    }
    sb.append(']')
    sb.toString
  }

  private def quote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case x if x < 0x20 => sb.append(f"\\u${x.toInt}%04x")
        case x => sb.append(x)
      }
      i += 1
    }
    sb.append('"')
    sb.toString
  }

  def flattenCol(c: Column): Column = {
    GraftFunctions.ensure()
    call_function("graft_json_flatten", c)
  }

  /** Like flattenCol but NULL for malformed / non-object input. */
  def flattenColStrict(c: Column): Column = {
    GraftFunctions.ensure()
    call_function("graft_json_flatten_strict", c)
  }

  /** [[JsonLineGen]] over `c`: select it to get its three columns. */
  def jsonLines(c: Column, timeKeys: Seq[String], msgKeys: Seq[String]): Column = {
    GraftFunctions.ensure()
    call_function("graft_jsonline", c, lit(timeKeys.toArray), lit(msgKeys.toArray))
  }

  /** xxHash64 with seed 0, 53-bit truncated upstream (hash pipe). */
  def xxhash64Seed0(c: Column): Column = {
    GraftFunctions.ensure()
    call_function("graft_xxhash64_seed0", c)
  }
}
