package perfbench

import java.util.concurrent.{Executors, TimeUnit}

/** An open-loop load generator: each request is sent when it is due,
  * whether or not earlier ones have finished, by a fixed pool of client
  * threads. Latency is timed from the due time, so a stall also charges
  * the requests queued behind it; the generator's own lateness (due time
  * to hand-off) is reported apart.
  */
object OpenLoop {

  /** One request of the schedule: due `dueMs` after the start. */
  final case class Due[A](dueMs: Double, req: A)

  /** What happened to one request, in ns since the loop's start. */
  final case class Outcome[A](req: A, due: Long, handed: Long, sent: Long,
      done: Long, ok: Boolean) {
    def latencyMs: Double = (done - due) / 1e6
    def serviceMs: Double = (done - sent) / 1e6
    def waitMs: Double = (sent - due) / 1e6
    def lateMs: Double = (handed - due) / 1e6
  }

  /** Run `schedule` against `send` with `clients` threads; returns every
    * outcome in schedule order. `send` returns whether the answer was right;
    * a thrown exception counts as a wrong answer.
    */
  def run[A](schedule: Seq[Due[A]], clients: Int,
      clock: () => Long = () => System.nanoTime())(send: A => Boolean): Seq[Outcome[A]] = {
    val pool = Executors.newFixedThreadPool(clients)
    val t0 = clock()
    val futures = try {
      schedule.map { d =>
        val due = (d.dueMs * 1e6).toLong
        var now = clock() - t0
        while (now < due) {
          val waitNs = due - now
          if (waitNs > 2000000L) Thread.sleep((waitNs - 1000000L) / 1000000L)
          else Thread.onSpinWait()
          now = clock() - t0
        }
        val handed = now
        pool.submit(() => {
          val sent = clock() - t0
          val ok = try send(d.req) catch { case _: Exception => false }
          Outcome(d.req, due, handed, sent, clock() - t0, ok)
        })
      }
    } finally pool.shutdown()
    if (!pool.awaitTermination(10, TimeUnit.MINUTES))
      throw new IllegalStateException("open loop did not drain in 10 minutes")
    futures.map(_.get())
  }
}
