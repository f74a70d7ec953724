package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

class AnswerSpec extends AnyFunSuite {

  /** A server that answers right on /ok, a wrong body on /bad, 500 on /err. */
  private def withServer(f: Int => Unit): Unit = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", ex => {
      val (code, body) = ex.getRequestURI.getPath match {
        case "/ok" => 200 -> """{"a":1}"""
        case "/bad" => 200 -> """{"a":2}"""
        case _ => 500 -> """{"a":1}"""
      }
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    })
    srv.start()
    try f(srv.getAddress.getPort) finally srv.stop(0)
  }

  test("a deliberately wrong response is counted as failed") {
    withServer { port =>
      val expected = Map("/ok" -> """{"a":1}""", "/bad" -> """{"a":1}""", "/err" -> """{"a":1}""")
      val sched = Seq("/ok", "/bad", "/ok", "/err").zipWithIndex
        .map { case (p, i) => OpenLoop.Due(i * 5.0, p) }
      val out = OpenLoop.run(sched, clients = 2)(Serve.answer(port, expected))
      assert(out.map(_.ok) == Seq(true, false, true, false))
      val r = Result(out.size, out.count(!_.ok), Seq(Metric("p50_ms", 1.0, "ms")), Nil, Nil)
      assert(!r.correct)
      assert(r.json(traced = false).startsWith("""{"correct": false, "attempted": 4, "failed": 2, """))
    }
  }
}
