package loadbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** Blocking HTTP/1.1 client for localhost requests. */
object Http {
  final case class Resp(status: Int, body: String, headers: Map[String, String])

  def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  def form(params: Seq[(String, String)]): String =
    params.map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&")

  def request(url: String, body: Option[Array[Byte]]): Resp = {
    val c = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    body match {
      case Some(b) =>
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(b.length)
        val os = c.getOutputStream
        try os.write(b) finally os.close()
      case None => c.setRequestMethod("GET")
    }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    val headers = Seq("X-Graft-Plan-Cache", "X-Graft-Days-Scanned")
      .flatMap(h => Option(c.getHeaderField(h)).map(h -> _)).toMap
    Resp(status, text, headers)
  }

  def get(url: String): Resp = request(url, None)
  def post(url: String, body: Array[Byte]): Resp = request(url, Some(body))

  /** Prometheus text exposition → counter values by metric name. */
  def metrics(base: String): Map[String, Double] =
    get(base + "/metrics").body.split('\n').iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        val i = l.lastIndexOf(' ')
        if (i <= 0) None else scala.util.Try(l.substring(0, i) -> l.substring(i + 1).toDouble).toOption
      }.toMap
}
