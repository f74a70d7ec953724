package perfbench

import java.nio.file.Path

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.Api
import graft.batch.OhlcvBatchJob
import graft.schema.Schemas.Tables
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** `ingest`: the Lambda write path, as a closed loop over a fixed script.
  * The store is backfilled through [[OhlcvBatchJob.run]] once per build of
  * the program and reused, as the history is the same for every seed.
  * Set-up starts the three streaming queries on a copy of it and processes
  * the first tick. After one untimed tick the run ticks for its measuring
  * time: one 1-minute candle per symbol into the [[MemoryStream]], all three
  * queries, a read back of every candle through [[Api.latestCandle]];
  * every 5th tick, starting with the last untimed one, also lands an hourly
  * update through [[OhlcvBatchJob.runIncremental]].
  */
object Ingest {
  val HistoryHours: Int = 14 * 24
  val TicksPerRound = 5
  val SetupRepeats = 3
  /** Client threads reading a tick's candles back. */
  val Readers = 4
  /** Ten ticks, so a run holds two hourly updates and its 80 freshness
    * samples come from ten independent ticks.
    */
  val MinTicks = 10
  /** Untimed ticks after set-up, so timing starts on a warmed-up job; the
    * last of them lands the first, slowest, hourly update.
    */
  val WarmTicks = 1
  /** Ticks `i` with `i % TicksPerRound == UpdatePhase` land an update. */
  val UpdatePhase: Int = WarmTicks % TicksPerRound

  /** Hourly updates landed by ticks 1 to `i`. */
  def updatesThrough(i: Int): Int = (i + TicksPerRound - UpdatePhase) / TicksPerRound

  /** Enough generated ticks for any run this benchmark makes. */
  val MaxTicks = 2000

  final class Live(val root: Path, val store: ServingStore, val mem: MemoryStream[String],
      val queries: Seq[StreamingQuery]) {
    def stop(): Unit = queries.foreach(q => scala.util.Try(q.stop()))
  }

  /** Start the stream job on a copy of the backfilled store and run tick 0. */
  def start(ctx: Ctx, base: Path, root: Path, m: Market): (Live, Double) = {
    implicit val spark = ctx.spark
    import spark.implicits._
    Market.copyTree(base, root.resolve("store"))
    Clock.ms {
      val store = new ServingStore(root.resolve("store").toString)
      val mem = MemoryStream[String](1)(implicitly, spark.sqlContext)
      val qs = OhlcvStreamJob.start(OhlcvStreamJob.parse(mem.toDF()), store,
        root.resolve("ckpt").toString)
      mem.addData(m.tickMessages(0): _*)
      qs.foreach(_.processAllAvailable())
      new Live(root, store, mem, qs)
    }
  }

  final case class Tick(wallMs: Double, fresh: Seq[Double], ok: Seq[Boolean],
      incrMs: Option[Double], incrRows: Long)

  /** Tick `i`: hand its candles to the source, run the three queries, read
    * every candle back through the API from [[Readers]] threads, as the
    * dashboards of several users would; after every [[TicksPerRound]]-th
    * tick, land the next hourly update. The reads run on their own threads,
    * so their spans have no parent; `ingest.read` spans the read phase.
    */
  def tick(ctx: Ctx, live: Live, m: Market, api: Api, i: Int, trace: Trace): Tick = {
    val t0 = System.nanoTime()
    val reads = trace.span("ingest.tick", i) {
      val msgs = m.tickMessages(i)
      val handed = System.nanoTime()
      trace.span("stream.add", i)(live.mem.addData(msgs: _*))
      trace.span("stream.process", i)(live.queries.foreach(_.processAllAvailable()))
      trace.span("ingest.read", i)(Parallel.map(m.shuffled(i), Readers) { s =>
        val c = m.stream(s)(i)
        val rows = trace.span("api.latest_candle", i)(
          api.latestCandle(Market.streamSymbol(s)).collect())
        val ok = rows.length == 1 && rows(0).getAs[Long]("timestamp_ms") == c.timestamp &&
          rows(0).getAs[Double]("current_price") == c.close
        ((System.nanoTime() - handed) / 1e6, ok)
      })
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val update = if (i % TicksPerRound != UpdatePhase) None else Some {
      val k = updatesThrough(i) - 1
      trace.span("batch.incremental", i) {
        val dir = live.root.resolve(s"updates/u$k")
        m.writeUpdate(dir, k)
        Clock.ms(OhlcvBatchJob.runIncremental(ctx.spark, Seq(dir.toString), live.store))
      }
    }
    Tick(wallMs, reads.map(_._1), reads.map(_._2), update.map(_._2), update.map(_._1).getOrElse(0L))
  }

  /** The wall of one round, [[TicksPerRound]] ticks and an hourly update,
    * from the median tick and the median update. Any [[TicksPerRound]]
    * consecutive ticks hold one update.
    */
  def roundMs(ticks: Seq[Tick]): Double =
    TicksPerRound * Stats.median(ticks.map(_.wallMs)) + Stats.median(ticks.flatMap(_.incrMs))

  def run(ctx: Ctx, cache: Path): Result = {
    val m = new Market(ctx.seed, HistoryHours, MaxTicks, MaxTicks / TicksPerRound)
    val probe = if (ctx.traced) Some(new Probe(ctx.spark)) else None
    try run(ctx, cache, m, probe) finally probe.foreach(_.close())
  }

  private def run(ctx: Ctx, cache: Path, m: Market, probeOpt: Option[Probe]): Result = {
    val (baseRoot, note) = Market.cached(cache, s"ingest-base-$HistoryHours") { tmp =>
      val raw = tmp.resolve("raw")
      m.writeHistory(raw)
      Clock.ms(OhlcvBatchJob.run(ctx.spark, Seq(raw.toString),
        new ServingStore(tmp.resolve("store").toString)(ctx.spark)))._2.toString
    }
    val base = baseRoot.resolve("store")
    val backfillMs = note.toDouble
    // each set-up but the last is stopped at once, so idle queries of an
    // earlier one do not slow the next
    val setups = (1 to SetupRepeats).map { k =>
      val (live, ms) = start(ctx, base, ctx.dir(s"ingest-$k"), m)
      Log(f"ingest set-up $k: $ms%.0f ms")
      if (k < SetupRepeats) { live.stop(); Market.deleteTree(live.root) }
      (live, ms / 1000)
    }
    val live = setups.last._1
    try {
      val api = new Api(live.store)
      var next = 1 // tick 0 ran in set-up
      def ticks(trace: Trace, seconds: Double = ctx.seconds, min: Int = MinTicks): Seq[Tick] = {
        val t0 = System.nanoTime()
        val done = scala.collection.mutable.ArrayBuffer.empty[Tick]
        while (done.size < min || (System.nanoTime() - t0) / 1e9 < seconds) {
          done += tick(ctx, live, m, api, next, trace)
          next += 1
        }
        Log(f"ingest: ${done.size} ticks, tick wall p50 ${Stats.median(done.map(_.wallMs).toSeq)}%.0f ms, " +
          f"update ${done.flatMap(_.incrMs).map(w => f"$w%.0f").mkString(",")} ms")
        done.toSeq
      }
      ticks(new Trace(false), 0, WarmTicks)
      // the traced run reports per-layer figures only, so it skips the
      // measured loop
      val (checked, endToEnd, layers) = if (!ctx.traced) {
        val measured = ticks(new Trace(false))
        (measured, Report.endToEnd(setups.map(_._2), measured.flatMap(_.fresh),
          roundMs(measured) / 1000), Nil)
      } else {
        // a round untraced, the next traced: their medians give the overhead
        val reference = ticks(new Trace(false), 0, TicksPerRound)
        val probe = probeOpt.get
        val trace = new Trace(true, probe.counters)
        probe.on = true
        try {
          val a = probe.snap()
          val (tr, wallMs) = Clock.ms(ticks(trace, 0, TicksPerRound))
          val z = probe.snap()
          trace.write(ctx.work.resolve("trace-ingest.jsonl"))
          val spans = trace.all
          def med(name: String) = Stats.medianOr(spans.filter(_.name == name).map(_.ms), 0.0)
          val progress = probe.progressBetween(a, z)
          val names = live.queries.map(_.id).zip(Layers.StreamQueries).toMap
          val perQuery = Layers.StreamQueries.flatMap { q =>
            val ps = progress.filter(p => names.get(p._1).contains(q)).map(_._2)
            Seq(Metric(s"stream.$q.trigger_ms", Stats.medianOr(ps.map(_.triggerMs), 0.0), "ms"),
              Metric(s"stream.$q.add_batch_ms", Stats.medianOr(ps.map(_.addBatchMs), 0.0), "ms"),
              Metric(s"stream.$q.planning_ms", Stats.medianOr(ps.map(_.planningMs), 0.0), "ms"),
              Metric(s"stream.$q.wal_ms", Stats.medianOr(ps.map(_.walMs), 0.0), "ms"))
          }
          val lastState = names.keys.toSeq.flatMap(id => progress.filter(_._1 == id).lastOption)
          (reference ++ tr, Nil, Layers.api(med) ++ perQuery ++ Seq(
            Metric("stream.state_rows", lastState.map(_._2.stateRows).sum.toDouble, "count"),
            Metric("stream.state_commit_ms", Stats.medianOr(progress.map(_._2.stateCommitMs), 0.0), "ms"),
            Metric("batch.backfill_ms", backfillMs, "ms"),
            Metric("batch.incr_ms", Stats.median(tr.flatMap(_.incrMs)), "ms"),
            Metric("batch.incr_rows", Stats.median(tr.filter(_.incrMs.nonEmpty).map(_.incrRows.toDouble)), "count"),
            Metric("setup.store_build_s", backfillMs / 1000, "s"),
            Metric("trace.overhead_frac",
              Stats.median(tr.flatMap(_.fresh)) / Stats.median(reference.flatMap(_.fresh)) - 1, "ratio"),
          ) ++ Layers.writes(probe.writesBetween(a, z)) ++ Layers.store(live.store) ++
            Probe.perOp(probe, a, z, wallMs, tr.size) ++ Layers.heap())
        } finally probe.on = false
      }
      // the row counts the generator implies
      val n = Market.Symbols.size.toLong
      val counts = Seq(
        "historical" -> (live.store.table(Tables.Historical).count() ==
          n * (HistoryHours + updatesThrough(next - 1))),
        "chart" -> (live.store.tableCurrent(Tables.ChartData, "doc_id").count() == n * next),
        "latest" -> (live.store.table(Tables.Latest).count() == n))
      val oks = checked.flatMap(_.ok)
      (Seq.fill(oks.count(!_))("candle not readable after its tick") ++
        counts.filterNot(_._2).map(c => s"${c._1} row count"))
        .foreach(w => System.err.println(s"[ingest] wrong: $w"))
      Result(oks.size + counts.size, oks.count(!_) + counts.count(!_._2),
        endToEnd, layers,
        Seq("ingest" -> (s"closed loop, 1 writer + $Readers readers, ${checked.size} ticks x ${Market.Symbols.size} " +
          s"candles, an hourly update every $TicksPerRound ticks; backfill $HistoryHours h")))
    } finally live.stop()
  }
}
