package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.collection.mutable

/** One M1 bar as the harness models it. `m` is the epoch minute of `ts`. */
final case class Bar(m: Long, open: Double, high: Double, low: Double,
                     close: Double, volume: Double, synth: Boolean)

/** Seeded candle generator. Every value is a pure function of
  * (seed, symbol, epoch minute), so the harness recomputes any bar it
  * needs for a check without keeping the generated frames around.
  */
object Gen {
  val MinS = 60L
  val DayMin = 1440L
  /** 2024-01-29T00:00Z as an epoch minute: history starts here. */
  val T0: Long = java.time.LocalDate.of(2024, 1, 29).toEpochDay * DayMin
  /** 2024-02-01T00:00Z as an epoch minute. */
  val Feb1: Long = java.time.LocalDate.of(2024, 2, 1).toEpochDay * DayMin

  def symbol(i: Int): String = f"S$i%02d"
  val Source = "synth"
  val Market = "crypto"

  private def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def u(seed: Long, sym: Int, m: Long, salt: Int): Double =
    (mix(mix(mix(seed * 31 + salt) ^ sym) ^ m) >>> 11).toDouble / (1L << 53).toDouble

  private def level(seed: Long, sym: Int, m: Long): Double = {
    val base = 100.0 * (sym + 1)
    base * (1.0 + 0.05 * StrictMath.sin(m / 1733.0 + sym) + 0.01 * StrictMath.sin(m / 97.0 + (seed % 13))) +
      (u(seed, sym, m, 1) - 0.5) * 0.2 * (sym + 1)
  }

  def bar(seed: Long, sym: Int, m: Long): Bar = {
    val o = level(seed, sym, m - 1)
    val c = level(seed, sym, m)
    val amp = 0.05 * (sym + 1)
    Bar(m, o, math.max(o, c) + amp * u(seed, sym, m, 2), math.min(o, c) - amp * u(seed, sym, m, 3),
      c, 1.0 + math.floor(1000.0 * u(seed, sym, m, 4)), synth = false)
  }

  /** The re-delivered version of a bar: a revised close, high/low widened to hold it. */
  def corrected(seed: Long, sym: Int, m: Long): Bar = {
    val b = bar(seed, sym, m)
    val c = b.close + (0.5 + u(seed, sym, m, 5)) * 0.01 * (sym + 1)
    b.copy(close = c, high = math.max(b.high, c), low = math.min(b.low, c))
  }

  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = false),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", DoubleType),
    StructField("symbol", StringType), StructField("source", StringType),
    StructField("market", StringType), StructField("timeframe", StringType)))

  def ts(m: Long): Timestamp = new Timestamp(m * MinS * 1000L)
  def minuteOf(t: Timestamp): Long = Math.floorDiv(t.getTime, MinS * 1000L)

  private def row(sym: Int, b: Bar): Row =
    Row(ts(b.m), b.open, b.high, b.low, b.close, b.volume, symbol(sym), Source, Market, "M1")

  /** A contiguous run of minutes [from, until) of one symbol, as delivered by
    * a feed: `missing` minutes are absent, `revised` selects corrected bars.
    */
  final case class Slice(sym: Int, from: Long, until: Long, revised: Boolean = false,
                         missing: Set[Long] = Set.empty) {
    def bars: Long = until - from - missing.size
  }

  /** Builds the slices into one pinned (eagerly checkpointed) frame, so
    * generation never runs inside a timed interval.
    */
  def frame(spark: SparkSession, seed: Long, slices: Seq[Slice]): DataFrame = {
    // (slice, day) chunks spread over one task per core
    val chunks = slices.flatMap { s =>
      Iterator.iterate(s.from)(_ + DayMin).takeWhile(_ < s.until)
        .map(f => s.copy(from = f, until = math.min(s.until, f + DayMin)))
    }
    val rdd = spark.sparkContext.parallelize(chunks, math.min(chunks.size, spark.sparkContext.defaultParallelism))
      .flatMap { s =>
        (s.from until s.until).iterator.filterNot(s.missing.contains).map { m =>
          row(s.sym, if (s.revised) corrected(seed, s.sym, m) else bar(seed, s.sym, m))
        }
      }
    spark.createDataFrame(rdd, schema).localCheckpoint(eager = true)
  }
}

/** A run of missing minutes [start, end] injected into one symbol's feed. */
final case class Island(sym: Int, start: Long, end: Long) {
  def minutes: Long = end - start + 1
}

/** What the lake should hold: generated bars, overridden by the injected
  * gaps (which the pipeline fills with synthetic bars) and the hours that
  * were re-delivered with revised closes.
  */
final class Model(val seed: Long) {
  private val islands = mutable.Map.empty[Int, mutable.ArrayBuffer[Island]]
  private val revisedHours = mutable.Set.empty[(Int, Long)]

  def addIsland(i: Island): Unit = islands.getOrElseUpdate(i.sym, mutable.ArrayBuffer.empty) += i
  def addRevisedHour(sym: Int, hourStart: Long): Unit = revisedHours += ((sym, hourStart))

  /** Islands never touch the first or last hour of a day, so the bar before
    * one is always a real, never-revised bar: the fill's "last prior close".
    */
  def bar(sym: Int, m: Long): Bar =
    islands.get(sym).flatMap(_.find(i => m >= i.start && m <= i.end)) match {
      case Some(i) =>
        val p = Gen.bar(seed, sym, i.start - 1).close
        Bar(m, p, p, p, p, 0.0, synth = true)
      case None =>
        if (revisedHours.contains((sym, m - Math.floorMod(m, 60L)))) Gen.corrected(seed, sym, m)
        else Gen.bar(seed, sym, m)
    }

  /** OHLCV of the left-labelled bucket [b, b + width) — the engine's resample. */
  def agg(sym: Int, b: Long, width: Long): Bar = {
    val bars = (b until b + width).map(bar(sym, _))
    Bar(b, bars.head.open, bars.map(_.high).max, bars.map(_.low).min, bars.last.close,
      bars.map(_.volume).sum, synth = false)
  }
}
