package perfbench

import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.time.Instant

import scala.util.Try

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.api.{Api, HttpApi, Pages, Responses}
import graft.batch.OhlcvBatchJob
import graft.ml.{Forecaster, GbtLagModel}
import graft.schema.Schemas.Tables
import graft.store.ServingStore
import graft.stream.OhlcvStreamJob

/** `serve`: the dashboards' read path over a frozen store. Open loop at a
  * fixed rate from [[OpenLoop.run]]; every answer is compared byte for byte
  * with [[Responses]] over a direct [[Api]] call, and sampled values with
  * plain-Scala recomputations from the generated candles.
  */
object Serve {
  /** The store is the same for every seed; the seed drives the requests. */
  val StoreSeed = 0L
  val HistoryHours: Int = 120 * 24
  /** 1-minute stream epochs in the store: more than the 35-minute chart
    * window, so chart reads return a full window.
    */
  val Epochs = 36
  /** Micro-batches the stream epochs arrive in while the store is built. */
  val StoreBatches = 3
  val SetupRepeats = 3
  val Clients = 4
  val PeriodMs = 5000.0
  /** Two realtime dashboards polling realtime_stats and chart_data_1m,
    * one historical-page user and one dropdown or page load, each every 5 s:
    * 1.2 requests/s, about 40 % of what four closed-loop clients sustain.
    */
  val Dashboards = 2
  val PerPeriod: Int = 2 * Dashboards + 2
  /** The 40 samples a p75 needs: the schedule runs 7 periods, 35 s. */
  val MinRequests = 40
  /** Untimed passes over the distinct requests before the measured loop. */
  val WarmPasses = 2
  /** Symbols whose stored values are recomputed in plain Scala per run. */
  val CheckedSymbols = 2

  final case class Built(root: Path, store: ServingStore, models: Path, now: Instant,
      batchMs: Double, streamMs: Double, artifactMs: Double)

  def market: Market = new Market(StoreSeed, HistoryHours, Epochs, 0)

  def nowOf(m: Market): Instant = Instant.ofEpochMilli(m.streamStart + Epochs * Market.MinuteMs)

  /** The frozen store users read, built once per build of the program under
    * `cache` and reused by later runs: batch backfill, stream epochs, and the
    * BTC/ETH 1h model bundles.
    */
  def store(ctx: Ctx, cache: Path): Built = {
    implicit val spark = ctx.spark
    val m = market
    val (root, note) = Market.cached(cache, s"serve-store-$HistoryHours-$Epochs-$StoreBatches") { tmp =>
      val b = build(ctx, tmp, m)
      Market.deleteTree(tmp.resolve("ckpt"))
      s"${b.batchMs} ${b.streamMs} ${b.artifactMs}"
    }
    val Array(bm, sm, am) = note.split(' ').map(_.toDouble)
    Built(root, new ServingStore(root.resolve("store").toString), root.resolve("models"),
      nowOf(m), bm, sm, am)
  }

  def build(ctx: Ctx, root: Path, m: Market): Built = {
    implicit val spark = ctx.spark
    import spark.implicits._
    val store = new ServingStore(root.resolve("store").toString)
    val raw = root.resolve("raw")
    m.writeHistory(raw)
    val batchMs = Clock.ms(OhlcvBatchJob.run(spark, Seq(raw.toString), store))._2
    val streamMs = Clock.ms {
      val mem = MemoryStream[String](1)(implicitly, spark.sqlContext)
      val qs = OhlcvStreamJob.start(OhlcvStreamJob.parse(mem.toDF()), store,
        root.resolve("ckpt").toString)
      try (0 until Epochs).grouped(Epochs / StoreBatches).foreach { is =>
        mem.addData(is.flatMap(m.tickMessages): _*)
        qs.foreach(_.processAllAvailable())
      } finally qs.foreach(_.stop())
    }._2
    val models = root.resolve("models")
    val api = new Api(store)
    val artifactMs = Clock.ms {
      Seq("BTC_USDT" -> 5, "ETH_USDT" -> 24).foreach { case (sym, w) =>
        val b = GbtLagModel.trainBundle(spark, api.lastCloses(sym, "1h", 500), w, maxIter = 10)
        GbtLagModel.save(b, models.resolve(s"${sym}_1h").toString)
      }
    }._2
    Log(f"serve store built: batch $batchMs%.0f ms, stream $streamMs%.0f ms, models $artifactMs%.0f ms")
    Built(root, store, models, nowOf(m), batchMs, streamMs, artifactMs)
  }

  // ---- the request mix ------------------------------------------------------

  /** Route family of a request path, as the per-layer figures group them. */
  def route(path: String): String =
    if (path.startsWith("/api/realtime_stats/")) "realtime_stats"
    else if (path.startsWith("/api/chart_data_1m/")) "chart_data_1m"
    else if (path.startsWith("/api/historical_data/")) "historical_data"
    else if (path.startsWith("/api/predict_xgboost/")) "predict"
    else if (path.startsWith("/api/")) "dropdowns"
    else "pages"

  val Routes: Seq[String] =
    Seq("realtime_stats", "chart_data_1m", "historical_data", "predict", "dropdowns", "pages")

  /** The seeded open-loop schedule: every user polls every 5 s; runs
    * `seconds` and at least [[MinRequests]] requests. Users are spread
    * evenly over the period in a seeded order, so how often their polls
    * collide does not depend on the seed. The historical-page user looks
    * at the dashboards' symbols and BTC/ETH; the shares of its actions
    * (`1m` 40 %, `all` 30 %, a forecast 30 %) and of the dropdown and page
    * loads are fixed per run, and the seed only orders them, so every seed
    * asks for the same amount of work.
    */
  def schedule(seed: Long, seconds: Int): Seq[OpenLoop.Due[String]] = {
    val rnd = new scala.util.Random(seed)
    def url(s: String) = s.replace('_', '-')
    val periods = math.max(math.ceil(seconds * 1000 / PeriodMs).toInt,
      math.ceil(MinRequests.toDouble / PerPeriod).toInt)
    val dashSyms = Seq.fill(Dashboards)(Market.Symbols(rnd.nextInt(Market.Symbols.size)))
    val slots = rnd.shuffle((0 until Dashboards + 2).map(_ * PeriodMs / (Dashboards + 2)))
    val dash = dashSyms.zip(slots).map { case (s, phase) =>
      (phase, Seq.fill(periods)(Seq(s"/api/realtime_stats/${url(s)}", s"/api/chart_data_1m/${url(s)}")))
    }
    val histSyms = (dashSyms ++ Seq("BTC_USDT", "ETH_USDT")).distinct
    val forecasts = Iterator.continually(Seq("BTC_USDT", "ETH_USDT")).flatten
    val histActs = rnd.shuffle((0 until periods).map(i => i * 10 / periods match {
      case k if k < 4 => s"/api/historical_data/${histSyms(rnd.nextInt(histSyms.size))}_1h?range=1m"
      case k if k < 7 => s"/api/historical_data/${histSyms(rnd.nextInt(histSyms.size))}_1h?range=all"
      case _ => s"/api/predict_xgboost/${forecasts.next()}_1h"
    }))
    val drops = rnd.shuffle((0 until periods).map(i =>
      Seq("/api/symbols", "/api/historical_pairs", "/", "/historical")(i % 4)))
    val users = dash :+ (slots(Dashboards), histActs.map(Seq(_))) :+
      (slots(Dashboards + 1), drops.map(Seq(_)))
    (0 until periods).flatMap { k =>
      users.flatMap { case (phase, reqs) => reqs(k).map(p => OpenLoop.Due(k * PeriodMs + phase, p)) }
    }.sortBy(_.dueMs)
  }

  /** A first visit to the realtime dashboard: the page, then its first poll. */
  val FirstVisit: Seq[String] = Seq("/", "/api/realtime_stats/BTC-USDT",
    "/api/chart_data_1m/BTC-USDT")

  // ---- answers ---------------------------------------------------------------

  def get(port: Int, path: String): (Int, String) = {
    val c = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
  }

  /** Whether the server answers `path` with status 200 and exactly the
    * expected body.
    */
  def answer(port: Int, expected: Map[String, String])(path: String): Boolean = {
    val (code, body) = get(port, path)
    code == 200 && body == expected(path)
  }

  /** The body a route must serve, computed through [[Api]] and [[Responses]]
    * directly; each engine call sits in a span named after its layer.
    */
  final class Direct(api: Api, models: Path, now: Instant, trace: Trace) {
    private val bundles = scala.collection.concurrent.TrieMap.empty[String, Forecaster.Bundle]

    def bundle(key: String): Forecaster.Bundle =
      bundles.getOrElseUpdate(key, loadBundle(key, 0L))

    def loadBundle(key: String, op: Long): Forecaster.Bundle =
      trace.span("ml.bundle_load", op)(
        GbtLagModel.load(api.store.spark, models.resolve(key).toString))

    private def strings(rows: Array[Row]): IndexedSeq[String] = rows.toIndexedSeq.map(_.getString(0))
    private def render(op: Long)(body: => String): String = trace.span("responses.render", op)(body)
    private def symbols(op: Long) = strings(trace.span("api.symbols", op)(api.realtimeSymbols().collect()))
    private def pairs(op: Long) = strings(trace.span("api.pairs", op)(api.historicalPairs().collect()))

    def apply(path: String, op: Long = 0L): String = {
      val (p, query) = path.split('?') match {
        case Array(a, q) => (a, q.split('&').map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)
        case Array(a) => (a, Map.empty[String, String])
      }
      def symTf(s: String) = { val i = s.lastIndexOf('_'); (s.take(i), s.drop(i + 1)) }
      route(p) match {
        case "realtime_stats" =>
          val sym = p.stripPrefix("/api/realtime_stats/").replace('-', '/')
          val latest = trace.span("api.latest_candle", op)(api.latestCandle(sym).collect()).headOption
          val stats = trace.span("api.latest_stats", op)(api.latestStats(sym).collect()).headOption
          render(op)(Responses.realtimeStats(latest, stats))
        case "chart_data_1m" =>
          val sym = p.stripPrefix("/api/chart_data_1m/").replace('-', '/')
          val rows = trace.span("api.chart_data", op)(api.chartData1m(sym, now).collect())
          render(op)(Responses.chartData1m(rows.toSeq))
        case "historical_data" =>
          val (sym, tf) = symTf(p.stripPrefix("/api/historical_data/"))
          val rows = trace.span("api.historical_data", op)(
            api.historicalData(sym, tf, query.getOrElse("range", "all"), now)
              .orderBy("timestamp").collect())
          render(op)(Responses.historicalData(sym, tf, rows.toSeq))
        case "predict" =>
          val key = p.stripPrefix("/api/predict_xgboost/")
          val (sym, tf) = symTf(key)
          val b = bundle(key)
          // Api.predict's three steps, each in its own span
          val closes = trace.span("api.last_closes", op)(
            api.lastCloses(sym, tf, math.max(b.model.windowSize, 48)))
          val lastTs = trace.span("api.latest_ts", op)(api.latestStoredTimestamp(sym, tf)).get
          val fc = trace.span("ml.forecast", op)(Forecaster.recursiveForecast(
            b.model, b.scaler, closes, lastKnownMs = lastTs * 1000L, stepMs = 3600000L))
          render(op)(Responses.predictions(fc))
        case "dropdowns" =>
          val items = if (p == "/api/symbols") symbols(op) else pairs(op)
          render(op)(Responses.JArr(items.map(Responses.JStr)).render)
        case _ =>
          if (p == "/") { val s = symbols(op); render(op)(Pages.realtime(s)) }
          else { val s = pairs(op); render(op)(Pages.historical(s)) }
      }
    }
  }

  /** Plain-Scala recomputation of what the store must hold for `m`. */
  def valueChecks(api: Api, m: Market, now: Instant, symbols: Seq[String],
      seed: Long): Seq[(String, Boolean)] = {
    val rnd = new scala.util.Random(seed)
    symbols.flatMap { s =>
      val ss = Market.streamSymbol(s)
      val ticks = m.stream(s)
      val last = ticks(Epochs - 1)
      val latest = api.latestCandle(ss).collect()
      val latestOk = latest.length == 1 &&
        latest(0).getAs[Long]("timestamp_ms") == last.timestamp &&
        latest(0).getAs[Double]("current_price") == last.close &&
        latest(0).getAs[Double]("open") == last.open
      val from = now.toEpochMilli - 35 * Market.MinuteMs
      val chartWant = ticks.take(Epochs)
        .filter(c => c.timestamp >= from && c.timestamp <= now.toEpochMilli)
        .map(c => (c.timestamp, c.close)).take(200)
      val chartGot = api.chartData1m(ss, now).collect().toSeq
        .map(r => (r.getAs[Long]("timestamp_ms"), r.getAs[Double]("close")))
      val stats = api.latestStats(ss).collect()
      val statsOk = stats.length == 1 && {
        val r = stats(0)
        val (a, b) = (r.getAs[java.sql.Timestamp]("window_start").getTime,
          r.getAs[java.sql.Timestamp]("window_end").getTime)
        val in = ticks.take(Epochs).filter(c => c.timestamp >= a && c.timestamp < b).map(_.close)
        in.nonEmpty && r.getAs[Long]("event_count_in_window") == in.size &&
          r.getAs[Double]("min_price") == in.min && r.getAs[Double]("max_price") == in.max &&
          close(r.getAs[Double]("avg_price"), in.sum / in.size)
      }
      val hist = m.history(s)
      val closes = hist.map(_.close)
      val rows = api.historicalData(s, "1h", "all", now).orderBy("timestamp").collect()
      val smaOk = rows.length == math.min(10000, hist.size) &&
        Seq.fill(20)(rnd.nextInt(rows.length)).forall { i =>
          val r = rows(i)
          r.getAs[Long]("timestamp") == hist(i).timestamp / 1000 &&
            r.getAs[Double]("close") == closes(i) &&
            close(r.getAs[Double]("sma_7"), Market.sma(closes, i, 7)) &&
            close(r.getAs[Double]("sma_30"), Market.sma(closes, i, 30))
        }
      Seq(s"latest $s" -> latestOk, s"chart $s" -> (chartGot == chartWant && chartWant.nonEmpty),
        s"stats $s" -> statsOk, s"sma $s" -> smaOk)
    }
  }

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  // ---- the run -----------------------------------------------------------------

  def run(ctx: Ctx, cache: Path, corpus: Path): Result = {
    val b = store(ctx, cache)
    // set-up: open the store, start the server, and answer a first visit
    val setups = (1 to SetupRepeats).map { k =>
      val (srv, ms) = Clock.ms {
        val api = new Api(new ServingStore(b.store.root)(ctx.spark))
        val http = new HttpApi(api, Some(b.models.toString), now = () => b.now, poolSize = Clients)
        val port = http.start(0)
        FirstVisit.foreach(p => require(get(port, p)._1 == 200, s"first visit: $p failed"))
        (api, http, port)
      }
      Log(f"serve set-up $k: $ms%.0f ms")
      if (k < SetupRepeats) srv._2.stop()
      (srv, ms / 1000)
    }
    val (api, http, port) = setups.last._1
    try {
      val sched = schedule(ctx.seed, ctx.seconds)
      val expected = Parallel.map(sched.map(_.req).distinct, Clients)(p =>
        p -> new Direct(api, b.models, b.now, new Trace(false))(p)).toMap
      Log(s"serve: ${sched.size} requests, ${expected.size} distinct answers computed")
      // untimed warm-up: a single pass leaves requests of the measured
      // loop's first periods up to 1.5x slower than its last ones
      (1 to WarmPasses).foreach(_ => Parallel.map(expected.keys.toSeq, Clients)(answer(port, expected)))
      // the traced run reports per-layer figures only, so it skips the
      // measured loop and spends its time on the traced phases instead
      val (out, endToEnd, layers, curated) = if (!ctx.traced) {
        val out = OpenLoop.run(sched, Clients)(answer(port, expected))
        val rounds = out.groupBy(o => (o.due / 1e6 / PeriodMs).toInt).values
          .map(_.map(_.serviceMs).sum / 1000).toSeq
        (out, Report.endToEnd(setups.map(_._2), out.map(_.latencyMs), Stats.median(rounds)),
          Nil, Nil)
      } else {
        val (out, ms, cs) = traced(ctx, b, api, port, sched, expected, corpus)
        (out, Nil, ms ++ Seq(Metric("setup.store_build_s", (b.batchMs + b.streamMs) / 1000, "s"),
          Metric("setup.artifact_s", b.artifactMs / 1000, "s")), cs)
      }
      Routes.foreach(r => Log(f"  $r: n=${out.count(o => route(o.req) == r)} service p50 " +
        f"${Stats.medianOr(out.filter(o => route(o.req) == r).map(_.serviceMs), 0)}%.0f ms"))
      val checked = new scala.util.Random(ctx.seed).shuffle(Market.Symbols).take(CheckedSymbols)
      val checks = valueChecks(api, market, b.now, checked, ctx.seed) ++ curated
      Log(s"serve: value checks done")
      (out.filterNot(_.ok).map(o => s"response ${o.req}") ++ checks.filterNot(_._2).map(_._1))
        .foreach(w => System.err.println(s"[serve] wrong: $w"))
      Result(out.size + checks.size, out.count(!_.ok) + checks.count(!_._2), endToEnd, layers,
        Seq("serve" -> (s"open loop, $Clients clients, ${PerPeriod * 1000 / PeriodMs} req/s, " +
          s"${out.size} requests; store ${Market.Symbols.size} symbols x $HistoryHours h + $Epochs epochs")))
    } finally http.stop()
  }

  /** A third of the schedule untraced, the same third traced (their medians
    * give the tracing overhead), a direct replay of part of the mix, and then,
    * with the server idle, the curation phase of [[Curate]]. Returns every
    * answered request, the figures and the curation checks.
    */
  private def traced(ctx: Ctx, b: Built, api: Api, port: Int, sched: Seq[OpenLoop.Due[String]],
      expected: Map[String, String], corpus: Path)
      : (Seq[OpenLoop.Outcome[String]], Seq[Metric], Seq[(String, Boolean)]) = {
    // a third, not more, keeps the traced run, curation included, well
    // inside the run time limit
    val part = sched.take(sched.size / 3)
    val reference = OpenLoop.run(part, Clients)(answer(port, expected))
    val probe = new Probe(ctx.spark)
    val trace = new Trace(true, probe.counters)
    probe.on = true
    try {
      val ops = new java.util.concurrent.atomic.AtomicLong(0)
      val out = OpenLoop.run(part, Clients) { path =>
        trace.span(s"http.${route(path)}", ops.incrementAndGet())(answer(port, expected)(path))
      }
      val direct = new Direct(api, b.models, b.now, trace)
      val bundleMs = (1 to 3).map(i => Clock.ms(direct.loadBundle("BTC_USDT_1h", -i))._2)
      Seq("BTC_USDT_1h", "ETH_USDT_1h").foreach(direct.bundle) // as the server holds them
      // one request at a time, so Spark's counters belong to the replay
      // with a forecast even when the schedule's prefix holds none
      val mix = sched.take(DirectReplay).map(_.req) :+ "/api/predict_xgboost/BTC_USDT_1h"
      val a = probe.snap()
      val (_, wallMs) = Clock.ms(mix.zipWithIndex.foreach { case (p, i) =>
        val op = 100000L + i
        trace.span(s"direct.${route(p)}", op)(direct(p, op))
      })
      val z = probe.snap()
      val tableMs = (1 to 5).flatMap(_ =>
        Seq(Tables.Historical, Tables.Latest).map(t => Clock.ms(b.store.table(t))._2) ++
          Seq(Tables.Stats, Tables.ChartData).map(t => Clock.ms(b.store.tableCurrent(t, "doc_id"))._2))
      val spans = trace.all
      def med(name: String) = Stats.medianOr(spans.filter(_.name == name).map(_.ms), 0.0)
      val directMs = Routes.map(r => r -> med(s"direct.$r")).toMap
      val direct1 = out.map(o => directMs(route(o.req)))
      val serveMetrics = Layers.api(med) ++ Routes.map(r => Metric(s"http.$r.p50_ms",
        Stats.medianOr(out.filter(o => route(o.req) == r).map(_.latencyMs), 0.0), "ms")) ++ Seq(
        // mean latency = wait + direct + overhead, the request's blocking path
        Metric("http.wait_ms", mean(out.map(_.waitMs)), "ms"),
        Metric("http.direct_ms", mean(direct1), "ms"),
        Metric("http.overhead_ms", mean(out.map(_.serviceMs)) - mean(direct1), "ms"),
        Metric("gen.late_p90_ms", Stats.percentileOr(out.map(_.lateMs), 0.9), "ms"),
        Metric("ml.forecast_ms", med("ml.forecast"), "ms"),
        Metric("ml.bundle_load_ms", Stats.median(bundleMs), "ms"),
        Metric("store.table_ms", Stats.median(tableMs), "ms"),
        Metric("trace.overhead_frac",
          Stats.median(out.map(_.latencyMs)) / Stats.median(reference.map(_.latencyMs)) - 1, "ratio"),
      ) ++ Layers.store(b.store) ++ Probe.perOp(probe, a, z, wallMs, mix.size) ++ Layers.heap()
      val (curateMetrics, checks) = Curate.run(ctx.spark, corpus.toString, probe, trace)
      trace.write(ctx.work.resolve("trace-serve.jsonl"))
      (reference ++ out, serveMetrics ++ curateMetrics, checks)
    } finally probe.close()
  }

  val DirectReplay = 12

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A bounded-parallel map, for the benchmark's own verification work. */
object Parallel {
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}
