package loadbench

/** Seeded log corpus of the ingest workload and its read probe.
  *
  * 400 streams (40 hosts x 10 apps), eight fields per row, messages drawn
  * from a fixed vocabulary (which deliberately contains LogsQL keywords
  * such as `order`, `by` and `not`) plus a rare request id on about one row
  * in fifty. Timestamps are spread uniformly over `days` days ending at a
  * fixed instant, so the same seed always yields the same bytes.
  */
final class Corpus(seed: Long, val days: Int) {
  import Corpus._
  private val rnd = new java.util.SplittableRandom(seed)

  def nextRow(): Row = {
    val host = rnd.nextInt(Hosts)
    val app = rnd.nextInt(Apps)
    val t = EndMs - 1L - rnd.nextLong(days * DayMs)
    val nWords = 5 + rnd.nextInt(6)
    val words = Array.fill(nWords)(Vocab(zipf()))
    val rare = if (rnd.nextInt(50) == 0) Some(f"req${rnd.nextLong() & 0xffffffffffL}%010x") else None
    Row(host, app, t, rnd.nextInt(Levels.length), words, rare,
      rnd.nextInt(Regions.length), 200 + 100 * rnd.nextInt(4),
      rnd.nextInt(5000), rnd.nextInt(1000), rnd.nextInt(Vocab.length))
  }

  /** Skewed word choice: low indexes are common, high ones rare. */
  private def zipf(): Int = {
    val u = rnd.nextDouble()
    math.min(Vocab.length - 1, (math.pow(u, 3) * Vocab.length).toInt)
  }
}

object Corpus {
  val Hosts = 40
  val Apps = 10
  val DayMs = 86400000L
  /** 2026-01-01T00:00:00Z: the end of every generated time range. */
  val EndMs = 1767225600000L
  val Levels = Array("debug", "info", "info", "info", "warn", "error")
  val Regions = Array("eu-west", "eu-north", "us-east", "us-west", "ap-south")
  val Keywords = Seq("order", "by", "and", "or", "not", "limit", "sort", "stats", "in")
  val Vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pu", "da", "fe")
    val gen = for (a <- syl; b <- syl; c <- Seq("", "n", "x")) yield a + b + c
    (Keywords ++ gen.toSeq.take(300)).toArray
  }

  def host(i: Int): String = f"host$i%02d"
  def app(i: Int): String = s"app$i"

  final case class Row(host: Int, app: Int, tsMs: Long, level: Int,
                       words: Array[String], rare: Option[String], region: Int,
                       status: Int, durationMs: Int, user: Int, path: Int) {
    def stream: Int = host * Apps + app
    def msg: String = (words ++ rare).mkString(" ")
    def json: String = {
      val ts = java.time.Instant.ofEpochMilli(tsMs).toString
      s"""{"_time":"$ts","_msg":"$msg","host":"${Corpus.host(host)}","app":"${Corpus.app(app)}",""" +
        s""""level":"${Levels(level)}","region":"${Regions(region)}","status":"$status",""" +
        s""""duration_ms":"$durationMs","user":"u$user","path":"/api/${Vocab(path)}"}"""
    }
  }

  /** LogsQL quoting for a generated word: every word is quoted, so words
    * that are LogsQL keywords (`order`, `by`, ...) stay plain text. */
  def q(word: String): String = "\"" + word.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
