package perfbench

import graft.core.Timeframe
import graft.lake.{Aggregates, LakeLayout, LakeProvider, LakeWriter}
import graft.ops.{AsofJoin, Gaps, OrLevels, Qc, Resample}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Workload names and the fixed sizes; only the seed varies between runs. */
object Workloads {
  val names = Seq("backtest_read", "ingest_daily")
  val Symbols = 2
  /** History 2024-01-29 .. 2024-02-28; ingest_daily's second batch crosses into March. */
  val HistDays = 31
  /** One cycle of each workload, as days per operation, in order. A 1-day
    * operation is short: a 1-day backtest, or one day's ingest batch, whose
    * latency is its freshness; op_p50_s is their median. The longer one is
    * bulk: a 30-day backtest, or a 7-day catch-up batch; bars_per_s is its
    * bars over its latency.
    */
  val Cycle = Map(
    "backtest_read" -> Seq(1, 1, 1, 30),
    "ingest_daily" -> Seq(1, 1, 7))
  /** Index of a workload's first short operation, its untimed warm-up. */
  def warmOp(workload: String): Int = Cycle(workload).indexOf(1)
  /** Nominal seconds of one measured cycle on a 4-vCPU host. A run
    * measures round(--seconds / CycleS) cycles, at least one: the count
    * depends on --seconds alone, never on measured speed, so two builds are
    * timed on the same operations.
    */
  val CycleS = 20.0
  /** Lakes bootstrapped per run; setup_s is their median. The first is the
    * warm-up lake, the last the measured one.
    */
  val Setups = 2
  /** A run that has not finished its operations this long after the
    * harness started fails, so that it never reports a partial cycle.
    */
  val WallLimitS = 130.0
}

/** One lake and the model of what it should hold. */
final class Lake(val root: String, val model: Model) {
  /** M1 bars the data tree holds. */
  var bars: Long = Workloads.Symbols.toLong * Workloads.HistDays * Gen.DayMin
}

/** Latency and size of one timed operation; `bulk` as in [[Workloads.Cycle]]. */
final case class OpOut(latency: Double, bars: Long, bulk: Boolean = false)

final class Workloads(spark: SparkSession, o: Main.Opts) {
  import Workloads._
  import Gen.{DayMin, T0, ts}

  private val seed = o.seed
  private val tracer = new Tracer(spark, o.trace)
  private val started = System.nanoTime()
  private def wall: Double = (System.nanoTime() - started) / 1e9
  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private var opFailed = false

  /** Records a wrong output; the operation it belongs to counts as failed. */
  private def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      opFailed = true
      if (problems.size < 20) problems += s"$what $detail".trim
    }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def rng(salt: Long*): scala.util.Random =
    new scala.util.Random(salt.foldLeft(seed * 1000003L)((a, s) => a * 31 + s))

  /** Seconds spent in output checks, for the run record. */
  private var checkS = 0.0
  private def checking(body: => Unit): Unit = checkS += timed(body)._2

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU time the hypervisor gave to other guests during each operation, as
    * a share of all CPU time (/proc/stat), for the run record: a noisy run
    * can be told from a slow program.
    */
  private val steal = mutable.ArrayBuffer.empty[(String, Double)]
  private def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f(7), f.take(8).sum)
  }.toOption

  /** Runs one operation: counted as attempted, failed if it throws or a check fails. */
  private def attempt(name: String)(body: => OpOut): Option[OpOut] = {
    attempted += 1
    opFailed = false
    val t0 = cpuTicks()
    val out =
      try Some(body)
      catch {
        case NonFatal(e) =>
          opFailed = true
          if (problems.size < 20) problems += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally spark.catalog.clearCache() // OrLevels.build caches its base frame
    for ((s0, n0) <- t0; (s1, n1) <- cpuTicks() if n1 > n0) steal += name -> (s1 - s0).toDouble / (n1 - n0)
    if (opFailed) failed += 1
    out.filterNot(_ => opFailed)
  }

  // ---------------------------------------------------------------- layers

  private val keys = Seq("source", "market", "symbol")
  private def months(ms: Seq[Long]): Seq[(Int, Int)] = ms.map { m =>
    val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(m, DayMin))
    (d.getYear, d.getMonthValue)
  }.distinct

  /** `bytesIn`: in-memory bytes of the bars handed in, the write_amp denominator. */
  private def upsert(lake: Lake, batch: DataFrame, bytesIn: Long): Unit =
    tracer.span("lake.upsert") {
      tracer.count("bytes_in", bytesIn.toDouble)
      try LakeWriter.upsert(spark, lake.root, batch)
      catch {
        case e: graft.lake.ConcurrentWriteException => tracer.count("conflicts", 1); throw e
      }
    }

  /** The M5 and H1 refresh of the touched months, as one span. */
  private def refresh(lake: Lake, ms: Seq[(Int, Int)], bytesIn: Long): Unit =
    tracer.span("lake.refresh") {
      tracer.count("bytes_in", bytesIn.toDouble)
      Seq(Timeframe.M5, Timeframe.H1).foreach(tf => Aggregates.refreshMonths(spark, lake.root, tf, ms))
    }

  /** The check_day gate: per-(symbol, day) completeness, then the gaps of
    * each incomplete symbol, then a synthetic fill of those symbols over
    * [from, until). Returns the batch to write and the islands found.
    */
  private def gate(bars: DataFrame, from: Long, until: Long): (DataFrame, Seq[Island]) = {
    val incomplete = tracer.span("ops.qc") {
      Qc.dayCompleteness(bars, Timeframe.M1, Seq("symbol")).where(!col("complete"))
        .select("symbol").distinct().collect().map(_.getString(0)).sorted.toSeq
    }
    if (incomplete.isEmpty) return (bars, Nil)
    val found = incomplete.flatMap { s =>
      val sym = s.stripPrefix("S").toInt
      tracer.span("ops.gaps") {
        Gaps.dayScopedMinuteGaps(bars.where(col("symbol") === s).select("ts")).collect().toSeq
      }.map(r => Island(sym, Gen.minuteOf(r.getAs[java.sql.Timestamp]("gap_start")),
        Gen.minuteOf(r.getAs[java.sql.Timestamp]("gap_end"))))
    }
    val inGappy = col("symbol").isin(incomplete: _*)
    val filled = tracer.span("ops.fill") {
      val f = tracer.pin(Gaps.synthFill(bars.where(inGappy), keys, 60L, Some((ts(from), ts(until - 1)))))
      if (tracer.on) tracer.count("fill_rows", tracer.pinCount(f.where(col("is_synth"))).toDouble)
      f
    }
    (filled.unionByName(bars.where(!inGappy), allowMissingColumns = true), found)
  }

  // -------------------------------------------------------------- bootstrap

  private lazy val history: DataFrame =
    Gen.frame(spark, seed, (0 until Symbols).map(s => Gen.Slice(s, T0, T0 + HistDays * DayMin)))
  private val historyBars = Symbols.toLong * HistDays * DayMin
  private lazy val historyBytes = tracer.bytesOf(history)

  /** History write plus M5 and H1 materialization into a fresh lake root. */
  private def bootstrap(root: String, verify: Boolean): (Lake, Double) = {
    val lake = new Lake(root, new Model(seed))
    val (hist, bytes) = (history, historyBytes) // generated and pinned before the clock starts
    val (_, secs) = timed {
      tracer.span("setup") {
        upsert(lake, hist, bytes)
        Seq(Timeframe.M5, Timeframe.H1).foreach { tf =>
          tracer.span("lake.materialize") { Aggregates.materialize(spark, root, hist, tf) }
        }
      }
    }
    if (verify) {
      val n = spark.read.parquet(LakeLayout.dataRoot(root)).count()
      check("bootstrap rows", n == historyBars, s"$n")
    }
    (lake, secs)
  }

  private var islandsFound = 0.0
  private var islandsInjected = 0.0
  private def checkIslands(what: String, found: Seq[Island], injected: Seq[Island]): Unit = {
    islandsFound += found.size
    islandsInjected += injected.size
    check(s"$what gaps", found.sortBy(i => (i.sym, i.start)) == injected.sortBy(i => (i.sym, i.start)),
      s"found ${found.mkString(",")} injected ${injected.mkString(",")}")
  }

  // -------------------------------------------------------------- backtest

  /** One backtest request over [from, until) (epoch minutes) of symbol `sym`:
    * exec M1 plus ctx M5/M15/H1 through the provider, the MTF as-of join and
    * the OR levels, forced to a result. The clock covers the call to the result.
    */
  private def backtest(lake: Lake, sym: Int, from: Long, until: Long): OpOut = {
    val s = Gen.symbol(sym)
    val (f, t) = (Some(ts(from)), Some(ts(until)))
    val provider = new LakeProvider(spark, lake.root)
    val sample = Math.floorMod(seed, 211L)
    val ((agg, levels), secs) = timed {
      tracer.span("backtest") {
        def read(tf: String) = tracer.span("lake.read") { tracer.pin(provider.loadTf(s, tf, f, t)) }
        val exec = read("M1")
        val m5 = read("M5")
        // M15 is never materialized, so loadTf resamples M1 on the fly; the
        // traced run calls the two halves itself to time them apart
        val m15 =
          if (!tracer.on) provider.loadTf(s, "M15", f, t)
          else {
            val m1 = tracer.span("lake.read") { tracer.pin(provider.loadM1(s, f, t)) }
            val rowsIn = tracer.lastPinRows
            tracer.span("ops.resample") {
              tracer.count("rows_in", rowsIn.toDouble)
              tracer.pin(Resample.ohlcv(m1, Timeframe.M15, Seq("source", "symbol")).orderBy("ts"))
            }
          }
        val h1 = read("H1")
        val mtf = tracer.span("ops.asof") {
          tracer.pin(AsofJoin.mtf(exec, Map("M5" -> m5, "M15" -> m15, "H1" -> h1), partitionCols = Seq("symbol")))
        }
        val minute = (unix_timestamp(col("ts")) / 60).cast("long")
        val ctxCols = for (tf <- Seq("M5", "M15", "H1"); c <- Seq("open", "high", "low", "close", "volume"))
          yield col(s"${c}_$tf")
        val agg = mtf.agg(count(lit(1)), min("ts"), max("ts"), sum("close"),
          sum("close_M5"), sum("close_M15"), sum("close_H1"),
          collect_list(when(pmod(minute, lit(211L)) === sample, struct((col("ts") +: ctxCols): _*))))
          .collect()(0)
        val levels = tracer.span("ops.orlevels") { OrLevels.build(exec, "UTC", "00:00-01:00").collect() }
        (agg, levels)
      }
    }
    checking(checkBacktest(lake.model, sym, from, until, agg, levels))
    OpOut(secs, until - from, bulk = until - from > DayMin)
  }

  private def checkBacktest(model: Model, sym: Int, from: Long, until: Long,
                            agg: Row, levels: Array[Row]): Unit = {
    val n = until - from
    check("mtf rows", agg.getLong(0) == n, s"${agg.getLong(0)} != $n")
    check("mtf range", agg.get(1) != null && Gen.minuteOf(agg.getTimestamp(1)) == from &&
      Gen.minuteOf(agg.getTimestamp(2)) == until - 1, s"${agg.get(1)}..${agg.get(2)}")
    val widths = Seq(5L, 15L, 60L)
    val buckets = widths.map { w =>
      w -> (Math.floorDiv(from, w) * w until until by w).map(b => b -> model.agg(sym, b, w)).toMap
    }.toMap
    def ctx(m: Long, w: Long) = buckets(w)(Math.floorDiv(m, w) * w)
    val exec = (from until until).map(model.bar(sym, _))
    check("mtf close sum", close(agg.getDouble(3), exec.map(_.close).sum))
    widths.zipWithIndex.foreach { case (w, i) =>
      check(s"mtf ctx$w sum", close(agg.getDouble(4 + i), exec.map(b => ctx(b.m, w).close).sum))
    }
    val sampled = agg.getSeq[Row](7)
    val expectSampled = (from until until).count(m => Math.floorMod(m, 211L) == Math.floorMod(seed, 211L))
    check("mtf sampled rows", sampled.size == expectSampled, s"${sampled.size} != $expectSampled")
    sampled.foreach { r =>
      val m = Gen.minuteOf(r.getTimestamp(0))
      widths.zipWithIndex.foreach { case (w, i) =>
        val e = ctx(m, w)
        val got = (1 to 5).map(k => r.getDouble(1 + i * 5 + k - 1))
        val want = Seq(e.open, e.high, e.low, e.close, e.volume)
        check(s"mtf ctx$w row", got.zip(want).forall { case (a, b) => close(a, b) }, s"at $m: $got != $want")
      }
    }
    // opening range 00:00-01:00 UTC of every session the window covers
    val want = (from until until).filter(m => Math.floorMod(m, DayMin) < 60)
      .groupBy(m => Math.floorDiv(m, DayMin)).toSeq.sortBy(_._1).map { case (d, ms) =>
        val bs = ms.map(model.bar(sym, _))
        (d, bs.map(_.high).max, bs.map(_.low).min)
      }
    val got = levels.toSeq.map(r => (r.getAs[java.sql.Date]("session_date").toLocalDate.toEpochDay,
      r.getAs[Double]("or_high"), r.getAs[Double]("or_low"))).sortBy(_._1)
    check("or levels", got == want, s"$got != $want")
  }

  /** Backtest request `i`: a symbol and a window [from, until). A 1-day
    * window falls in February, the history's one whole month, so that every
    * seed reads a month cell of the same size.
    */
  private def request(i: Int): (Int, Long, Long) = {
    val cycle = Cycle("backtest_read")
    val days = cycle(i % cycle.size)
    val r = rng(21, i)
    val first = if (days == 1) Gen.Feb1 else T0
    val start = first + r.nextInt(((T0 + HistDays * DayMin - first) / DayMin).toInt - days + 1) * DayMin
    (r.nextInt(Symbols), start, start + days * DayMin)
  }

  private def backtestOp(lake: Lake, i: Int): OpOut = {
    val (sym, from, until) = request(i)
    backtest(lake, sym, from, until)
  }

  // ---------------------------------------------------------------- ingest

  /** Batch `i` of the ingest sequence, which follows the history day by
    * day. Its length in days comes from the cycle. 1-day batches
    * alternate: even ones have gaps in every symbol, odd ones re-deliver the
    * previous day's last hour with revised closes. A longer batch is a
    * complete catch-up. The seed picks where the gaps fall and how long they
    * are, never the shape of a batch.
    */
  private def ingestOp(lake: Lake, i: Int): OpOut = {
    val cycle = Cycle("ingest_daily")
    val days = cycle(i % cycle.size)
    val day = T0 + (HistDays + (0 until i).map(k => cycle(k % cycle.size)).sum) * DayMin
    val until = day + days * DayMin
    val kind = if (days > 1) "catch-up" else if (i % 2 == 0) "gaps" else "revised"
    val r = rng(32, i)
    val islands =
      if (kind != "gaps") Nil
      else (0 until Symbols).toList.flatMap { s =>
        // up to three islands in disjoint 6-hour slots between 01:00 and 23:00
        r.shuffle((0 until 3).toList).take(1 + r.nextInt(3)).map { slot =>
          val start = day + 60 + slot * 420 + r.nextInt(300)
          Island(s, start, start + r.nextInt(30))
        }
      }
    val slices = (0 until Symbols).map { s =>
      Gen.Slice(s, day, until, missing = islands.filter(_.sym == s).flatMap(i => i.start to i.end).toSet)
    }
    val revised = if (kind == "revised") (0 until Symbols).map(s => Gen.Slice(s, day - 60, day, revised = true)) else Nil
    val newBars = Gen.frame(spark, seed, slices)
    val corrections = if (revised.nonEmpty) Some(Gen.frame(spark, seed, revised)) else None
    val bars = (slices ++ revised).map(_.bars).sum
    val bytes = tracer.bytesOf(newBars) + corrections.fold(0L)(tracer.bytesOf)
    var found: Seq[Island] = Nil
    val (_, secs) = timed {
      tracer.span("ingest") {
        val (filled, f) = gate(newBars, day, until)
        found = f
        val batch = corrections.fold(filled)(c => filled.unionByName(c, allowMissingColumns = true))
        upsert(lake, batch, bytes)
        refresh(lake, months(day +: (until - 1) +: revised.map(_.from)), bytes)
      }
    }
    lake.bars += Symbols * (until - day)
    islands.foreach(lake.model.addIsland)
    revised.foreach(s => lake.model.addRevisedHour(s.sym, s.from))
    checkIslands("ingest", found, islands)
    checking(checkReadBack(lake, if (revised.nonEmpty) day - 60 else day, day, until, islands.map(_.minutes).sum))
    OpOut(secs, bars, bulk = days > 1)
  }

  /** The data and aggregate trees over [from, until) equal the model: every
    * bar once, revised closes and synthetic fills included. The batch's own
    * days start at `day`; `filled` synthetic bars are expected there.
    */
  private def checkReadBack(lake: Lake, from: Long, day: Long, until: Long, filled: Long): Unit = {
    def rows(path: String) = spark.read.parquet(path)
      .where(col("ts") >= ts(from) && col("ts") < ts(until))
      .select("timeframe", "symbol", "ts", "open", "high", "low", "close", "volume", "is_synth")
      .collect().toSeq
    val data = rows(LakeLayout.dataRoot(lake.root))
    val aggs = rows(LakeLayout.aggregatesRoot(lake.root))
    def key(r: Row) = (r.getString(0), r.getString(1), Gen.minuteOf(r.getTimestamp(2)))
    check("read-back duplicate keys", (data ++ aggs).map(key).distinct.size == data.size + aggs.size)
    check("read-back rows", data.size == Symbols * (until - from), s"${data.size}")
    val synthInBatch = data.count(r => !r.isNullAt(8) && r.getBoolean(8) && Gen.minuteOf(r.getTimestamp(2)) >= day)
    check("fill rows", synthInBatch == filled, s"$synthInBatch != $filled")
    def same(r: Row, b: Bar) =
      Seq(3, 4, 5, 6, 7).map(r.getDouble) == Seq(b.open, b.high, b.low, b.close, b.volume)
    val badData = data.filterNot { r =>
      val b = lake.model.bar(r.getString(1).stripPrefix("S").toInt, Gen.minuteOf(r.getTimestamp(2)))
      same(r, b) && (!r.isNullAt(8) && r.getBoolean(8)) == b.synth
    }
    check("read-back values", badData.isEmpty, s"${badData.size} rows, first ${badData.headOption}")
    val widths = Map("M5" -> 5L, "H1" -> 60L)
    check("aggregate rows", aggs.size == Symbols * widths.values.map(w => (until - from) / w).sum, s"${aggs.size}")
    val badAgg = aggs.filterNot { r =>
      same(r, lake.model.agg(r.getString(1).stripPrefix("S").toInt, Gen.minuteOf(r.getTimestamp(2)), widths(r.getString(0))))
    }
    check("aggregate values", badAgg.isEmpty, s"${badAgg.size} rows, first ${badAgg.headOption}")
  }

  // ------------------------------------------------------------------- run

  private def op(workload: String, lake: Lake, i: Int): OpOut = workload match {
    case "backtest_read" => backtestOp(lake, i)
    case "ingest_daily" => ingestOp(lake, i)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(root: String): Long = {
    val st = Files.walk(Paths.get(root))
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally st.close()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Operations `is` of `workload` on `lake`, in order; stops at the first failure. */
  private def ops(workload: String, lake: Lake, is: Seq[Int]): Seq[OpOut] = {
    val out = mutable.ArrayBuffer.empty[OpOut]
    var ok = true
    for (i <- is if ok) {
      if (wall > WallLimitS) {
        attempted += 1; failed += 1; ok = false
        problems += s"$workload: wall limit of $WallLimitS s reached before operation $i"
      } else attempt(s"$workload#$i")(op(workload, lake, i)) match {
        case Some(r) => out += r
        case None => ok = false
      }
    }
    out.toSeq
  }

  def run(): Map[String, Any] = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = { val (r, s) = timed(body); phases(name) = s; r }
    phase("history") {
      history // generated and pinned before any clock starts
      if (o.trace) historyBytes
    }
    val lakes = mutable.ArrayBuffer.empty[Lake]
    val setups = phase("setup")((0 until Setups).flatMap { k =>
      attempt(s"setup#$k") {
        val (lake, secs) = bootstrap(s"${o.tmp}/lake$k", verify = k == Setups - 1)
        lakes += lake
        OpOut(secs, historyBars)
      }
    })
    val setupS = setups.map(_.latency)
    val cycle = Cycle(o.workload)
    val n = cycle.size * math.max(1L, math.round(o.seconds / CycleS)).toInt
    var measured = Seq.empty[OpOut]
    if (lakes.size == Setups) {
      // untimed, on a lake the measurement never reads: a short operation
      // takes the cycle's code paths (a bulk operation is a short one over
      // more days), so that no timed operation pays the JVM's first pass
      // through them
      tracer.phase = "warmup"
      phase("warmup")(ops(o.workload, lakes(0), Seq(warmOp(o.workload))))
      tracer.phase = "measure"
      measured = phase("measure")(ops(o.workload, lakes(Setups - 1), 0 until n))
      // a traced run then drives, on the warm-up lake, the layers its
      // workload does not call, so each per-layer metric is measured on
      // every workload
      if (o.trace) {
        tracer.phase = "cover"
        val other = names.filterNot(_ == o.workload)
        other.foreach(w => ops(w, lakes(0), Seq(warmOp(w))))
      }
    }
    val short = measured.filterNot(_.bulk)
    val bulk = measured.filter(_.bulk)
    val opP50 = median(short.map(_.latency))
    val spans = tracer.finish()
    val metrics: Map[String, (Double, String)] =
      if (!o.trace) {
        val lake = lakes.lastOption
        Map(
          "setup_s" -> (median(setupS), "s"),
          "op_p50_s" -> (opP50, "s"),
          "bars_per_s" -> (bulk.map(_.bars).sum / bulk.map(_.latency).sum, "1/s"),
          "lake_bytes_per_bar" -> lake.fold((Double.NaN, "B"))(l => (dirBytes(l.root).toDouble / l.bars, "B")))
      } else layerMetrics(spans, opP50)
    o.spansOut.foreach(f => writeSpans(f, spans))
    Map(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "workload" -> o.workload,
      "seed" -> seed,
      "trace" -> o.trace,
      "setup_samples_s" -> setupS,
      "op_samples_s" -> short.map(_.latency),
      "bulk_samples_s" -> bulk.map(_.latency),
      "problems" -> problems.toSeq,
      "phase_s" -> (phases + ("checks" -> checkS)),
      "steal_share" -> steal.toSeq.map { case (n, v) => Map("op" -> n, "share" -> v) },
      "peak_rss_mb" -> peakRssMb(),
      "wall_s" -> wall)
  }

  private def layerMetrics(spans: Seq[Span], opP50: Double): Map[String, (Double, String)] = {
    def named(n: String) = spans.filter(_.name == n)
    def self(n: String) = (named(n).map(_.selfSeconds).sum, "s")
    def total(n: String, c: String) = named(n).map(_.counts(c)).sum
    def cnt(n: String, c: String) = (total(n, c), "count")
    def ratio(a: Double, b: Double) = (if (b == 0) Double.NaN else a / b, "ratio")
    Map(
      "lake.upsert.self_s" -> self("lake.upsert"),
      "lake.upsert.jobs" -> cnt("lake.upsert", "jobs"),
      "lake.upsert.files_written" -> cnt("lake.upsert", "files_written"),
      "lake.upsert.write_amp" -> ratio(total("lake.upsert", "output_bytes"), total("lake.upsert", "bytes_in")),
      "lake.upsert.conflicts" -> cnt("lake.upsert", "conflicts"),
      "lake.refresh.self_s" -> self("lake.refresh"),
      "lake.refresh.jobs" -> cnt("lake.refresh", "jobs"),
      "lake.refresh.input_bytes" -> (total("lake.refresh", "input_bytes"), "B"),
      "lake.refresh.write_amp" -> ratio(total("lake.refresh", "output_bytes"), total("lake.refresh", "bytes_in")),
      "lake.read.self_s" -> self("lake.read"),
      "lake.read.jobs" -> cnt("lake.read", "jobs"),
      "lake.read.fs_list_ops" -> cnt("lake.read", "fs_list_ops"),
      "lake.read.rows_scanned_per_row" -> ratio(total("lake.read", "input_rows"), total("lake.read", "rows_out")),
      "ops.resample.self_s" -> self("ops.resample"),
      "ops.resample.rows_in" -> cnt("ops.resample", "rows_in"),
      "ops.asof.self_s" -> self("ops.asof"),
      "ops.asof.shuffle_bytes" -> (total("ops.asof", "shuffle_bytes"), "B"),
      "ops.orlevels.self_s" -> self("ops.orlevels"),
      "ops.orlevels.jobs" -> cnt("ops.orlevels", "jobs"),
      "ops.qc.self_s" -> self("ops.qc"),
      "ops.gaps.self_s" -> self("ops.gaps"),
      "ops.gaps.found_ratio" -> ratio(islandsFound, islandsInjected),
      "ops.fill.self_s" -> self("ops.fill"),
      "ops.fill.rows" -> cnt("ops.fill", "fill_rows"),
      "spark.jobs" -> (spans.map(_.counts("jobs")).sum, "count"),
      "spark.tasks" -> (spans.map(_.counts("tasks")).sum, "count"),
      "spark.spill_bytes" -> (spans.map(_.counts("spill_bytes")).sum, "B"),
      "spark.no_job_s" -> (spans.filter(_.parent < 0).map(tracer.noJobSeconds).sum, "s"),
      "trace.op_p50_s" -> (opP50, "s"))
  }

  private def writeSpans(file: String, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "phase" -> s.phase,
        "start_s" -> (s.startNs - started) / 1e9, "end_s" -> (s.endNs - started) / 1e9,
        "self_s" -> s.selfSeconds, "counts" -> s.counts.toMap)))
    } finally w.close()
  }
}
