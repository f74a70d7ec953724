package perfbench

import java.math.MathContext
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.ext.CuratePipeline
import graft.ext.CuratePipeline.StageCounts

/** The ext/plans layer: the eight driver-side loop queries of
  * [[SparkEntry.queries]] once each, then one timed
  * [[CuratePipeline.curate]] pass, all to a noop sink. It runs inside
  * `serve`'s traced run, after the serve figures are taken; the loop
  * queries, which share the pass's text and dedup operators, are its
  * warm-up. The corpus is the fixed seed-42 sf0.001 set in
  * `perfbench/corpus` (500 documents) and is only read, so the run's seed
  * does not apply to it.
  */
object Curate {
  val Loops: Seq[String] = Seq("d4_dup_clusters", "g1_pagerank", "g2_label_prop",
    "g3_pagerank_bipartite", "g4_label_prop_bipartite", "v4_bpe_train",
    "v5_bpe_train_encode", "mmr1_diversified_topk")

  /** Stage counts of a pass over the corpus, pinned from the engine as it
    * was when the benchmark was written.
    */
  val PinnedStages: Seq[StageCounts] = Seq(
    StageCounts("raw", 500, 27939), StageCounts("gated", 356, 24154),
    StageCounts("exact_dedup", 356, 24154), StageCounts("near_dedup", 339, 22881),
    StageCounts("semantic_dedup", 303, 20324), StageCounts("decontaminated", 273, 18148),
    StageCounts("packed_batches", 32, 18148))

  /** [[hash]] of each loop query's result, pinned the same way. */
  val PinnedHashes: Map[String, String] = Map(
    "d4_dup_clusters" -> "190f34cc4f65d4b2",
    "g1_pagerank" -> "c9837495a467d190",
    "g2_label_prop" -> "969b0e4ad0b1f335",
    "g3_pagerank_bipartite" -> "2d9b05d956fcd9a4",
    "g4_label_prop_bipartite" -> "2234e3df4df6dcbb",
    "v4_bpe_train" -> "7d8c976848310b7a",
    "v5_bpe_train_encode" -> "ae761e75bf2f97a5",
    "mmr1_diversified_topk" -> "26ce9ef947b21265")

  /** Order-free digest of a result: every row rendered with doubles to 9
    * significant digits (summation order may move the last bits), sorted.
    */
  def hash(rows: Seq[Row]): String = {
    def show(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else BigDecimal(d).round(new MathContext(9)).bigDecimal.stripTrailingZeros.toPlainString
      case f: Float => show(f.toDouble)
      case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case a: Array[_] => show(a.toSeq)
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${show(k)}:${show(x)}" }
        .sorted.mkString("{", ",", "}")
      case o => o.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(show).sorted.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The per-layer figures and the checks of one curation phase. */
  def run(spark: SparkSession, corpus: String, probe: Probe, trace: Trace): (Seq[Metric], Seq[(String, Boolean)]) = {
    val loops = Loops.zipWithIndex.map { case (q, i) =>
      val df = () => SparkEntry.queries(q)(spark, corpus)
      val ms = Clock.ms(trace.span(s"loops.$q", 1L + i)(noop(df())))._2
      val h = hash(df().collect().toSeq)
      Log(f"loop $q: $ms%.0f ms, hash $h")
      (q, ms, h)
    }
    val a = probe.snap()
    val (counts, passMs) = Clock.ms(trace.span("curate.pass", 0L) {
      val (packed, counts) = CuratePipeline.curate(spark, corpus); noop(packed); counts
    })
    val z = probe.snap()
    Log(f"curate pass: $passMs%.0f ms, ${z.actions - a.actions} actions, " +
      counts.map(c => s"${c.stage}=${c.docs}/${c.tokens}").mkString(" "))
    val metrics = Seq(
      Metric("curate.pass_ms", passMs, "ms"),
      Metric("curate.actions", (z.actions - a.actions).toDouble, "count"),
      Metric("curate.docs_out", counts.find(_.stage == "decontaminated").map(_.docs.toDouble)
        .getOrElse(0.0), "count")) ++
      loops.map { case (q, ms, _) => Metric(s"loops.${q}_ms", ms, "ms") } :+
      Metric("loops.total_ms", loops.map(_._2).sum, "ms")
    val checks = Seq("curate stage counts" -> (counts == PinnedStages)) ++
      loops.map { case (q, _, h) => s"loop $q result" -> PinnedHashes.get(q).contains(h) }
    (metrics, checks)
  }
}
