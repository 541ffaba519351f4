package graft

import com.sun.net.httpserver.HttpServer
import java.net.InetSocketAddress
import org.scalatest.funsuite.AnyFunSuite

/** Bench's ingest POST helper against a stub ingest endpoint: an HTTP
  * error answered with no body has no error stream, and the helper must
  * still return the status instead of throwing. */
class BenchPostSpec extends AnyFunSuite {
  private def withStub(status: Int, reply: Array[Byte])(f: Int => Unit): Unit = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/insert/jsonline", ex => {
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(status, if (reply.isEmpty) -1 else reply.length)
      if (reply.nonEmpty) ex.getResponseBody.write(reply)
      ex.close()
    })
    srv.start()
    try f(srv.getAddress.getPort) finally srv.stop(0)
  }

  private val row = """{"_msg":"x"}""".getBytes("UTF-8")

  test("400 with no body returns the status") {
    withStub(400, Array.emptyByteArray)(port => assert(Bench.post(port, row) == 400))
  }

  test("400 with a body and 200 return their status") {
    withStub(400, "bad".getBytes("UTF-8"))(port => assert(Bench.post(port, row) == 400))
    withStub(200, Array.emptyByteArray)(port => assert(Bench.post(port, row) == 200))
  }
}
