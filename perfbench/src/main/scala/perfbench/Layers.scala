package perfbench

import graft.schema.Schemas.Tables
import graft.store.ServingStore

/** The per-layer figures of the traced run. Every workload reports all of
  * them; a layer a workload does not touch reads 0.
  */
object Layers {
  /** Short table names used in figure names. */
  val StoreTables: Seq[(String, String)] = Seq("latest" -> Tables.Latest,
    "stats" -> Tables.Stats, "chart" -> Tables.ChartData, "historical" -> Tables.Historical)

  val StreamQueries: Seq[String] = Seq("latest", "stats", "chart")

  val ApiCalls: Seq[String] = Seq("latest_candle", "latest_stats", "chart_data",
    "historical_data", "last_closes", "latest_ts", "symbols", "pairs")

  val names: Seq[(String, String)] =
    ApiCalls.map(c => s"api.${c}_ms" -> "ms") ++ Seq("responses.render_ms" -> "ms") ++
      Serve.Routes.map(r => s"http.$r.p50_ms" -> "ms") ++
      Seq("http.wait_ms", "http.direct_ms", "http.overhead_ms", "gen.late_p90_ms",
        "ml.forecast_ms", "ml.bundle_load_ms", "store.table_ms").map(_ -> "ms") ++
      StoreTables.map(t => s"store.files.${t._1}" -> "count") ++ Seq("store.mb" -> "MB") ++
      StoreTables.map(t => s"store.write_ms.${t._1}" -> "ms") ++
      StreamQueries.flatMap(q => Seq("trigger_ms", "add_batch_ms", "planning_ms", "wal_ms")
        .map(f => s"stream.$q.$f" -> "ms")) ++
      Seq("stream.state_rows" -> "count", "stream.state_commit_ms" -> "ms",
        "batch.backfill_ms" -> "ms", "batch.incr_ms" -> "ms", "batch.incr_rows" -> "count") ++
      Seq("curate.pass_ms" -> "ms", "curate.actions" -> "count", "curate.docs_out" -> "count") ++
      Curate.Loops.map(q => s"loops.${q}_ms" -> "ms") ++ Seq("loops.total_ms" -> "ms") ++
      Seq("spark.jobs", "spark.stages", "spark.tasks").map(_ -> "count") ++
      Seq("spark.plan_ms", "spark.job_wall_ms", "spark.outside_jobs_ms", "spark.exec_run_ms",
        "spark.exec_cpu_ms", "spark.gc_ms").map(_ -> "ms") ++
      Seq("spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
        "setup.session_s" -> "s", "setup.store_build_s" -> "s", "setup.artifact_s" -> "s",
        "jvm.heap_retained_mb" -> "MB", "trace.overhead_frac" -> "ratio",
        "failed_frac" -> "ratio")

  /** All per-layer figures in a fixed order, 0 where the workload gave none. */
  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val byName = ms.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer figures: ${unknown.mkString(", ")}")
    names.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }

  def api(median: String => Double): Seq[Metric] =
    ApiCalls.map(c => Metric(s"api.${c}_ms", median(s"api.$c"), "ms")) :+
      Metric("responses.render_ms", median("responses.render"), "ms")

  /** Files a read of each table touches, and the store's parquet bytes. */
  def store(s: ServingStore): Seq[Metric] =
    StoreTables.map { case (short, t) =>
      Metric(s"store.files.$short",
        if (s.exists(t)) s.table(t).inputFiles.length.toDouble else 0.0, "count")
    } :+ Metric("store.mb", Market.parquetBytes(java.nio.file.Paths.get(s.root)) / 1e6, "MB")

  /** Write commands per store table, median ms. */
  def writes(done: Seq[(String, Double)]): Seq[Metric] =
    StoreTables.map { case (short, t) =>
      Metric(s"store.write_ms.$short",
        Stats.medianOr(done.filter(_._1.contains(s"/$t")).map(_._2), 0.0), "ms")
    }

  /** Heap still in use after a full collection. */
  def heap(): Seq[Metric] = {
    System.gc()
    val rt = Runtime.getRuntime
    Seq(Metric("jvm.heap_retained_mb", (rt.totalMemory - rt.freeMemory) / 1e6, "MB"))
  }
}

object Clock {
  /** Run `body`; return its value and its wall time in ms. */
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}

/** Progress lines on stderr, with seconds since the JVM started. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: => String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - t0) / 1e3}%.1fs] $msg")
}
