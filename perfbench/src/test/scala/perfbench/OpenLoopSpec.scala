package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  test("latency runs from the due time, so a stall charges the requests behind it") {
    // one client, three requests due 10 ms apart, each taking 100 ms
    val sched = Seq(0.0, 10.0, 20.0).map(d => OpenLoop.Due(d, d))
    val out = OpenLoop.run(sched, clients = 1) { _ => Thread.sleep(100); true }
    assert(out.map(_.req) == Seq(0.0, 10.0, 20.0))
    out.foreach(o => assert(o.serviceMs >= 99 && o.latencyMs >= o.serviceMs))
    // the third waited for two services less its 20 ms offset
    assert(out(2).waitMs >= 175 && out(2).latencyMs >= 275, out(2))
    // the generator itself stayed on time
    out.foreach(o => assert(o.lateMs < 20, o))
  }

  test("requests are sent when due, not when earlier ones finish") {
    val sched = Seq(0.0, 50.0).map(d => OpenLoop.Due(d, d))
    val out = OpenLoop.run(sched, clients = 2) { _ => Thread.sleep(200); true }
    assert(out(1).sent / 1e6 < 150, "the second request waited for the first")
  }

  test("a wrong or failed answer is counted, not dropped") {
    val sched = (0 until 4).map(i => OpenLoop.Due(i.toDouble, i))
    val out = OpenLoop.run(sched, clients = 2) {
      case 1 => false
      case 2 => throw new RuntimeException("boom")
      case _ => true
    }
    assert(out.size == 4 && out.map(_.ok) == Seq(true, false, false, true))
  }
}
