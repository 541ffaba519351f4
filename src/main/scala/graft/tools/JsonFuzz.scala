package graft.tools

import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side fuzz of JsonGetKernel vs Catalyst's GetJsonObject: direct
  * expression eval, no Spark jobs — hundreds of thousands of documents a
  * second, for chasing rare generator edges the property test only hits
  * once in many runs. */
object JsonFuzz {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(300000)
    val rnd = new scala.util.Random(args.lift(1).map(_.toLong).getOrElse(42L))
    val strs = Seq("v", "", "a b", "q\\\"uote", "back\\\\slash", "tab\\tx",
      "nl\\nx", "uni\\u00e9z", "sol\\/idus", "wörld €", "日本語",
      "\\u0041\\u0042", "{brace}", "[brk]", "null", "12", "  ", ",", ":",
      "\\u0000", "e", "-", "raw\tctl", "raw\nnl", "bad\\q", "\\uZZ00")
    val nums = Seq("0", "42", "-7", "3.14", "-0.5", "1e3", "2E-4", "00", "01",
      "1234567890123456789", "-0", "0.0", "9e", "1.", ".5", "+1", "-",
      "1e+2", "1e-2", "1E99", "123456789012345678901234567890")
    val keys = Seq("k", "key2", "with space", "uni€", "a", "b", "c", "_t",
      "k\\\"q", "")
    def scalar(): String = rnd.nextInt(4) match {
      case 0 => "\"" + strs(rnd.nextInt(strs.length)) + "\""
      case 1 => nums(rnd.nextInt(nums.length))
      case 2 => Seq("true", "false", "null")(rnd.nextInt(3))
      case 3 => "\"" + strs(rnd.nextInt(strs.length)) + "\""
    }
    def value(depth: Int): String =
      if (depth >= 2) scalar()
      else rnd.nextInt(6) match {
        case 0 | 1 | 2 => scalar()
        case 3 => (0 until rnd.nextInt(3))
          .map(_ => "\"" + keys(rnd.nextInt(keys.length)) + "\":" + value(depth + 1))
          .mkString("{", ",", "}")
        case 4 => (0 until rnd.nextInt(3)).map(_ => value(depth + 1))
          .mkString("[", ",", "]")
        case 5 => scalar()
      }
    def doc(): String = {
      val ws = Seq("", " ", "\n", "\t ")(rnd.nextInt(4))
      val body = (0 until 1 + rnd.nextInt(3))
        .map(_ => "\"" + keys(rnd.nextInt(keys.length)) + "\"" + ws + ":" +
          ws + value(0))
        .mkString("{" + ws, "," + ws, ws + "}")
      rnd.nextInt(10) match {
        case 0 => body.dropRight(1 + rnd.nextInt(math.min(4, body.length - 1))) // truncate
        case 1 => "garbage " + body
        case 2 => body + " trailing"
        case 3 => // single-char mutation: delete or insert a structural char
          val at = rnd.nextInt(body.length)
          if (rnd.nextBoolean()) body.substring(0, at) + body.substring(math.min(at + 1, body.length))
          else body.substring(0, at) + "{}[]\",:x \n".charAt(rnd.nextInt(10)) + body.substring(at)
        case _ => body
      }
    }
    val paths = Seq("k", "a.b", "a.b.c", "with space", "a", "_t", "")
    var bad = 0
    var i = 0
    while (i < iters) {
      val d = doc()
      val p = paths(i % paths.length)
      val segs = p.split("\\.", -1)
      val fast = kernelOrFallback(d, segs, p)
      val want = jackson(d, p)
      if (fast != want) {
        bad += 1
        if (bad <= 10)
          println(s"MISMATCH path=<$p> doc=<$d> kernel=<$fast> jackson=<$want>")
      }
      i += 1
    }
    println(s"$iters docs, $bad mismatches")
  }

  private def jackson(doc: String, path: String): String = {
    val r = GetJsonObject(Literal(UTF8String.fromString(doc)),
      Literal(UTF8String.fromString("$." + path))).eval(null)
    if (r == null) null else r.toString
  }
  /** Mirrors JsonGet.scalarOrJson's when/otherwise. */
  private def kernelOrFallback(doc: String, segs: Array[String], path: String): String = {
    val k = graft.functions.JsonGetKernel.get(UTF8String.fromString(doc), segs)
    if (k == null) null
    else if (k.toString == graft.functions.JsonGetKernel.NonScalarStr) jackson(doc, path)
    else k.toString
  }
}
