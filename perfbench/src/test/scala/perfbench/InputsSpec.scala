package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def inputs(seed: Long) = {
    val m = new Market(seed, 48, 20, 4)
    val hist = Files.createTempDirectory("pb-hist")
    val upd = Files.createTempDirectory("pb-upd")
    m.writeHistory(hist)
    (0 until 4).foreach(k => m.writeUpdate(upd, k))
    (files(hist), files(upd), (0 until 20).map(m.tickMessages), Serve.schedule(seed, 30))
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7) == inputs(7))
  }

  test("another seed gives other ticks, updates and requests on the same history") {
    val (a, b) = (inputs(7), inputs(8))
    assert(a._1 == b._1 && a._2 != b._2 && a._3 != b._3 && a._4 != b._4)
  }

  test("the serve schedule keeps the dashboard mix and the sample floor") {
    val s = Serve.schedule(3, 10)
    assert(s.size >= Serve.MinRequests)
    assert(s.map(_.dueMs) == s.map(_.dueMs).sorted)
    def byRoute(seed: Long) =
      Serve.schedule(seed, 10).groupBy(d => Serve.route(d.req)).view.mapValues(_.size).toMap
    assert(byRoute(3)("realtime_stats") == byRoute(3)("chart_data_1m"))
    assert(byRoute(3)("realtime_stats") * Serve.PerPeriod == s.size * Serve.Dashboards)
    assert((1L to 10L).map(byRoute).distinct.size == 1, "every seed asks for the same mix")
  }

  test("the ingest row-count check counts the updates the ticks landed") {
    import Ingest._
    for (i <- 0 to 40)
      assert(updatesThrough(i) == (1 to i).count(_ % TicksPerRound == UpdatePhase))
    assert(updatesThrough(WarmTicks) == 1, "the last untimed tick lands the first update")
  }

  test("plain-Scala SMA uses the row frame's warm-up edge") {
    val xs = IndexedSeq(1.0, 2.0, 3.0, 4.0)
    assert(Market.sma(xs, 0, 7) == 1.0 && Market.sma(xs, 3, 2) == 3.5 && Market.sma(xs, 3, 7) == 2.5)
  }
}
