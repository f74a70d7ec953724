package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload receives: the session, its own scratch directory, the
  * seed, the measuring time, and whether this is the traced run.
  */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Int,
    traced: Boolean) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** Runs one workload and prints every figure by name and unit, then the
  * one-line JSON result.
  *
  * args: --workload serve|ingest --seed N --seconds S --trace 0|1
  *       --work DIR --cache DIR --corpus DIR
  */
object Main {
  /** The session every workload runs in; recorded in the output. */
  val Conf: Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
  )

  def main(args: Array[String]): Unit = {
    // HttpApi's request pool threads are not daemons and outlive stop(), so
    // the JVM is ended explicitly, with a non-zero code on any failure
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = opts.getOrElse(k, sys.error(s"--$k is required"))
    val workload = arg("workload")
    val work = Paths.get(arg("work"))
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val b = SparkSession.builder().appName(s"perfbench-$workload")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = Conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    Log(f"session started in $sessionS%.1f s")
    val ctx = Ctx(spark, work, arg("seed").toLong, arg("seconds").toInt, arg("trace") == "1")
    val cache = Files.createDirectories(Paths.get(arg("cache")))
    val result = try {
      workload match {
        case "serve" => Serve.run(ctx, cache, Paths.get(arg("corpus")))
        case "ingest" => Ingest.run(ctx, cache)
        case other => sys.error(s"unknown workload '$other'")
      }
    } finally spark.stop()
    val full = result.copy(
      perLayer = Layers.complete(result.perLayer :+ Metric("setup.session_s", sessionS, "s") :+
        Metric("failed_frac", result.failed.toDouble / math.max(1L, result.attempted), "ratio")),
      notes = Seq("workload" -> workload, "seed" -> ctx.seed.toString,
        "seconds" -> ctx.seconds.toString, "trace" -> ctx.traced.toString,
        "spark" -> Conf.map { case (k, v) => s"$k=$v" }.mkString(" "),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "cores" -> Runtime.getRuntime.availableProcessors.toString) ++ result.notes)
    Report.lines(full, ctx.traced).foreach(println)
    println(full.json(ctx.traced))
  }
}
