package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.ingest.FixtureGen
import graft.ingest.FixtureGen.Candle

/** The generated market every workload reads: 8 symbols, a 1h candle
  * history ending where the 1-minute stream begins, the stream's ticks,
  * and the 1h candles that later hourly updates deliver. The history is the
  * same for every seed, so a store backfilled from it is built once and
  * reused; the seed drives the ticks, the updates and each tick's symbol
  * order. The engine sees only the files and messages.
  */
final class Market(val seed: Long, val historyHours: Int, val ticks: Int,
    val updates: Int) {
  import Market._

  private val rnd = new SplittableRandom(HistorySeed)
  /** Whole hours after 2024-01-01T00:00Z. */
  val historyStart: Long = 1704067200000L + rnd.nextInt(24 * 365) * HourMs
  val streamStart: Long = historyStart + historyHours * HourMs
  private val basePrice: Map[String, Double] =
    Symbols.map(s => s -> (20.0 + rnd.nextInt(2000))).toMap

  val history: Map[String, IndexedSeq[Candle]] = Symbols.map { s =>
    s -> FixtureGen.candles(s, historyStart, HourMs, historyHours, basePrice(s)).toIndexedSeq
  }.toMap

  /** One 1-minute candle per symbol per tick, in stream symbol form. */
  val stream: Map[String, IndexedSeq[Candle]] = Symbols.map { s =>
    s -> FixtureGen.candles(s"${streamSymbol(s)}#$seed", streamStart, MinuteMs, ticks,
      history(s).last.close).toIndexedSeq
  }.toMap

  /** The 1h candles after the history, one per symbol per hourly update. */
  val hourly: Map[String, IndexedSeq[Candle]] = Symbols.map { s =>
    s -> FixtureGen.candles(s"$s#update#$seed", streamStart, HourMs, updates,
      history(s).last.close).toIndexedSeq
  }.toMap

  /** Producer-shaped messages of tick `i`, in a seed-shuffled symbol order. */
  def tickMessages(i: Int): Seq[String] =
    shuffled(i).map(s => FixtureGen.streamJson(streamSymbol(s), "1m", stream(s)(i)))

  def shuffled(i: Int): Seq[String] =
    new scala.util.Random(seed * 7919 + i).shuffle(Symbols)

  /** Crawler-shaped history CSVs, one per symbol. */
  def writeHistory(dir: Path): Seq[String] = Symbols.map { s =>
    FixtureGen.writeCsv(dir.toString, FixtureGen.historicalFileName(s, "1h"), history(s))
  }

  /** Hourly-updater CSVs of update `k` (one row per symbol). */
  def writeUpdate(dir: Path, k: Int): Seq[String] = Symbols.map { s =>
    val c = hourly(s)(k)
    FixtureGen.writeCsv(dir.toString, FixtureGen.updateFileName(s, "1h", c.timestamp), Seq(c))
  }
}

object Market {
  val HistorySeed = 0L
  val HourMs = 3600000L
  val MinuteMs = 60000L
  val Symbols: Seq[String] = Seq("BTC_USDT", "ETH_USDT", "BNB_USDT", "SOL_USDT",
    "XRP_USDT", "ADA_USDT", "DOGE_USDT", "AVAX_USDT")
  def streamSymbol(s: String): String = s.replace('_', '/')

  /** Plain-Scala SMA over a row frame of `w` rows ending at `i`. */
  def sma(closes: IndexedSeq[Double], i: Int, w: Int): Double = {
    val from = math.max(0, i - w + 1)
    closes.slice(from, i + 1).sum / (i + 1 - from)
  }

  /** `name` under `cache`, made by `build` the first time a run asks for it
    * and reused by later runs, with the note `build` returns. It is built
    * under a temporary name and renamed, so no run sees half of it.
    */
  def cached(cache: Path, name: String)(build: Path => String): (Path, String) = {
    val root = cache.resolve(name)
    val ready = root.resolve("READY")
    if (!Files.exists(ready)) {
      val tmp = cache.resolve(s"$name.tmp-${ProcessHandle.current().pid()}")
      deleteTree(tmp)
      val note = build(tmp)
      deleteTree(root)
      Files.move(tmp, root, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Files.writeString(ready, note)
    }
    (root, Files.readString(ready).trim)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** Bytes of the parquet files under `p`. */
  def parquetBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}
