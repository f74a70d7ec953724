package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters fed by Spark's public listener hooks: [[SparkListener]] for
  * jobs, stages and tasks, [[QueryExecutionListener]] for actions, their
  * Catalyst phase times and the write commands they ran, and
  * [[StreamingQueryListener]] for micro-batch progress. Made only in the
  * traced run, before any streaming query starts: a query runs on a clone
  * of the session, which copies the listeners registered at that time.
  * Nothing is counted until [[on]] is set. Figures are read as the
  * difference of two [[snap]]s taken around a phase of sequential work.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  @volatile var on = false

  private val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleW, spill,
    actions, planNs = new AtomicLong(0)
  private val events = new AtomicLong(0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val writes = mutable.ArrayBuffer.empty[(String, Double)]
  private val progress = mutable.ArrayBuffer.empty[(java.util.UUID, StreamProgress)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      events.incrementAndGet()
      jobs.incrementAndGet()
      jobStart.synchronized(jobStart(e.jobId) = e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      events.incrementAndGet()
      jobStart.synchronized(jobStart.remove(e.jobId)).foreach { t0 =>
        intervals.synchronized(intervals += ((t0, e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      events.incrementAndGet()
      stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      events.incrementAndGet()
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
      events.incrementAndGet()
      actions.incrementAndGet()
      planNs.addAndGet(PlanPhases.map(p =>
        qe.tracker.phases.get(p).map(_.durationMs * 1000000L).getOrElse(0L)).sum)
      qe.executedPlan.collectFirst { case c: org.apache.spark.sql.execution.command.DataWritingCommandExec => c.cmd }
        .orElse(Option(qe.commandExecuted).collect { case c: InsertIntoHadoopFsRelationCommand => c })
        .collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
        .foreach(p => writes.synchronized(writes += ((p, durationNs / 1e6))))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (on) events.incrementAndGet()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      events.incrementAndGet()
      val p = e.progress
      if (p.numInputRows > 0) {
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress.synchronized(progress += ((p.id, StreamProgress(
          d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("walCommit"),
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.commitTimeMs).sum.toDouble))))
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until listener events stop arriving (they are delivered on
    * Spark's asynchronous listener bus), so a snapshot counts the phase's
    * own events and none of the next one's.
    */
  def drain(quietMs: Long = 100L, maxMs: Long = 3000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && events.get() != last) {
      last = events.get()
      Thread.sleep(quietMs)
    }
  }

  /** Current counter values, for per-span deltas in the trace. */
  def counters(): Map[String, Long] = Map("spark.jobs" -> jobs.get, "spark.stages" -> stages.get,
    "spark.tasks" -> tasks.get, "sql.actions" -> actions.get,
    "stream.batches" -> progress.synchronized(progress.size.toLong))

  def snap(): Snap = {
    drain()
    Snap(System.currentTimeMillis(), jobs.get, stages.get, tasks.get, runMs.get,
      cpuNs.get / 1000000L, gcMs.get, shuffleW.get, spill.get, actions.get,
      planNs.get / 1e6, intervals.synchronized(intervals.size),
      writes.synchronized(writes.size), progress.synchronized(progress.size))
  }

  /** Job intervals (ms epoch) recorded between two snaps. */
  def jobIntervals(a: Snap, b: Snap): Seq[(Long, Long)] =
    intervals.synchronized(intervals.slice(a.nIntervals, b.nIntervals).toSeq)

  /** Write commands (output path, ms) recorded between two snaps. */
  def writesBetween(a: Snap, b: Snap): Seq[(String, Double)] =
    writes.synchronized(writes.slice(a.nWrites, b.nWrites).toSeq)

  /** Streaming progress with input rows, recorded between two snaps. */
  def progressBetween(a: Snap, b: Snap): Seq[(java.util.UUID, StreamProgress)] =
    progress.synchronized(progress.slice(a.nProgress, b.nProgress).toSeq)
}

object Probe {
  val PlanPhases: Seq[String] = Seq("analysis", "optimization", "planning")

  final case class StreamProgress(triggerMs: Double, addBatchMs: Double,
      planningMs: Double, walMs: Double, stateRows: Long, stateCommitMs: Double)

  final case class Snap(atMs: Long, jobs: Long, stages: Long, tasks: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long,
      actions: Long, planMs: Double, nIntervals: Int, nWrites: Int, nProgress: Int)

  /** Length of the union of `[start, end)` intervals, clipped to a window. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** The Spark driver/executor figures of one phase, per operation. */
  def perOp(probe: Probe, a: Snap, b: Snap, wallMs: Double, ops: Int): Seq[Metric] = {
    val n = math.max(ops, 1).toDouble
    val jobMs = probe.jobIntervals(a, b).map { case (s, e) => (e - s).toDouble }.sum
    val coveredMs = covered(probe.jobIntervals(a, b), a.atMs, b.atMs).toDouble
    Seq(
      Metric("spark.jobs", (b.jobs - a.jobs) / n, "count"),
      Metric("spark.stages", (b.stages - a.stages) / n, "count"),
      Metric("spark.tasks", (b.tasks - a.tasks) / n, "count"),
      Metric("spark.plan_ms", (b.planMs - a.planMs) / n, "ms"),
      Metric("spark.job_wall_ms", jobMs / n, "ms"),
      Metric("spark.outside_jobs_ms", math.max(0.0, wallMs - coveredMs) / n, "ms"),
      Metric("spark.exec_run_ms", (b.runMs - a.runMs) / n, "ms"),
      Metric("spark.exec_cpu_ms", (b.cpuMs - a.cpuMs) / n, "ms"),
      Metric("spark.gc_ms", (b.gcMs - a.gcMs) / n, "ms"),
      Metric("spark.shuffle_write_mb", (b.shuffleBytes - a.shuffleBytes) / 1e6 / n, "MB"),
      Metric("spark.spill_mb", (b.spillBytes - a.spillBytes) / 1e6 / n, "MB"),
    )
  }
}
