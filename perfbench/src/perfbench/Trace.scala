package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Local filesystem that counts directory listings — the traced run installs
  * it as `fs.file.impl` so `lake.read.fs_list_ops` is an exact count.
  */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingLocalFs.lists.incrementAndGet(); super.listLocatedStatus(f)
  }
}
object CountingLocalFs { val lists = new AtomicLong() }

/** One span: a harness call into one layer (or a whole request). */
final class Span(val id: Int, val name: String, val parent: Int, val phase: String,
                 val startNs: Long) {
  var endNs: Long = 0L
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  var childNs: Long = 0L
  def selfSeconds: Double = (endNs - startNs - childNs) / 1e9
}

/** Spans around the harness's calls into each layer, plus the Spark work
  * each span caused. Disabled, every method is a pass-through and no
  * listener is registered, so the timed runs measure the program alone.
  *
  * Attribution: the open span's id travels as a SparkContext local
  * property, so every job, stage and task carries the span that launched it
  * even though listener events arrive asynchronously. Jobs launched by
  * [[pin]] are the harness's own and are kept out of every `jobs`/`tasks`
  * count; their bytes and rows stay with the span whose work they
  * materialized.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val SpanProp = "perfbench.span"
  private val PinProp = "perfbench.pin"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var lastLists = CountingLocalFs.lists.get()
  var phase: String = "setup"
  // job times are wall-clock ms, span times nanoTime: one shift maps both
  private val clockShiftMs = System.currentTimeMillis() - System.nanoTime() / 1000000L

  // listener-side state, keyed by span id (events come from the bus thread)
  private final class Acc {
    val c = new ConcurrentHashMap[String, Double]()
    def add(k: String, v: Double): Unit = c.merge(k, v, (a: Double, b: Double) => a + b)
  }
  private val acc = new ConcurrentHashMap[Int, Acc]()
  private def accOf(span: Int) = acc.computeIfAbsent(span, _ => new Acc)
  private val stageSpan = new ConcurrentHashMap[Int, (Int, Boolean)]()
  private val jobInfo = new ConcurrentHashMap[Int, (Int, Boolean, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val filesAccums = ConcurrentHashMap.newKeySet[Long]()
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private object Listener extends SparkListener {
    private def spanOf(p: java.util.Properties): Option[(Int, Boolean)] =
      Option(p).flatMap(props => Option(props.getProperty(SpanProp)))
        .map(s => (s.toInt, p.getProperty(PinProp) == "1"))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { case (s, pin) =>
        jobInfo.put(e.jobId, (s, pin, e.time))
        e.stageIds.foreach(id => stageSpan.put(id, (s, pin)))
        if (!pin) accOf(s).add("jobs", 1)
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.put(x.toLong, s))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.get(e.jobId)).foreach { case (_, _, t0) => jobIntervals.add((t0, e.time)) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(sp => stageSpan.put(e.stageInfo.stageId, sp))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { case (s, pin) =>
        val a = accOf(s)
        if (!pin) a.add("tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          a.add("input_bytes", m.inputMetrics.bytesRead)
          a.add("input_rows", m.inputMetrics.recordsRead)
          a.add("output_bytes", m.outputMetrics.bytesWritten)
          a.add("output_rows", m.outputMetrics.recordsWritten)
          a.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
          a.add("spill_bytes", m.diskBytesSpilled)
        }
      }
    private def noteWriteMetrics(p: SparkPlanInfo): Unit = {
      p.metrics.filter(_.name == "number of written files").foreach(m => filesAccums.add(m.accumulatorId))
      p.children.foreach(noteWriteMetrics)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => noteWriteMetrics(s.sparkPlanInfo)
      case s: SparkListenerSQLAdaptiveExecutionUpdate => noteWriteMetrics(s.sparkPlanInfo)
      case u: SparkListenerDriverAccumUpdates =>
        Option(execSpan.get(u.executionId)).foreach { s =>
          u.accumUpdates.foreach { case (id, v) =>
            if (filesAccums.contains(id)) accOf(s).add("files_written", v.toDouble)
          }
        }
      case _ =>
    }
  }

  if (on) sc.addSparkListener(Listener)

  private def chargeLists(): Unit = {
    val now = CountingLocalFs.lists.get()
    if (stack.nonEmpty) stack.top.counts("fs_list_ops") += (now - lastLists)
    lastLists = now
  }
  private def setProp(): Unit =
    sc.setLocalProperty(SpanProp, if (stack.isEmpty) null else stack.top.id.toString)

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      chargeLists()
      val s = new Span(spans.size, name, if (stack.isEmpty) -1 else stack.top.id, phase, System.nanoTime())
      spans += s
      stack.push(s)
      setProp()
      try body
      finally {
        chargeLists()
        s.endNs = System.nanoTime()
        stack.pop()
        if (stack.nonEmpty) stack.top.childNs += s.endNs - s.startNs
        setProp()
      }
    }

  /** Add `v` to counter `k` of the innermost open span. */
  def count(k: String, v: Double): Unit = if (on && stack.nonEmpty) stack.top.counts(k) += v

  /** Materialize a layer's output inside its span, so the span's time is the
    * layer's own work rather than work deferred into its consumer. Adds the
    * output's row count as `rows_out`. A pass-through when tracing is off.
    */
  def pin(df: DataFrame): DataFrame =
    if (!on) df
    else asPin {
      val p = df.localCheckpoint(eager = true)
      lastPinRows = p.count()
      count("rows_out", lastPinRows.toDouble)
      p
    }

  /** Row count of the last [[pin]]. */
  var lastPinRows = 0L

  /** In-memory (UnsafeRow) bytes of `df`, as a harness job; 0 when tracing is off. */
  def bytesOf(df: DataFrame): Long =
    if (!on) 0L else asPin(df.queryExecution.toRdd.map {
      case r: org.apache.spark.sql.catalyst.expressions.UnsafeRow => r.getSizeInBytes.toLong
      case r => throw new IllegalStateException(s"not an UnsafeRow: ${r.getClass}")
    }.fold(0L)(_ + _))

  /** `df.count()` as a harness job, kept out of the job counts. */
  def pinCount(df: DataFrame): Long = asPin(df.count())

  private def asPin[T](body: => T): T = {
    sc.setLocalProperty(PinProp, "1")
    try body finally sc.setLocalProperty(PinProp, null)
  }

  /** Wait for the listener bus, then fold the listener's counts into the
    * spans. Call once, at the end of the run.
    */
  def finish(): Seq[Span] = {
    if (on) {
      org.apache.spark.PerfbenchBus.drain(sc)
      spans.foreach { s =>
        Option(acc.get(s.id)).foreach(a => a.c.asScala.foreach { case (k, v) => s.counts(k) += v })
      }
    }
    spans.toSeq
  }

  /** Seconds of the span during which no Spark job of this run was running. */
  def noJobSeconds(s: Span): Double = {
    val (a, b) = (s.startNs / 1000000L + clockShiftMs, s.endNs / 1000000L + clockShiftMs)
    val ivs = jobIntervals.asScala.toSeq.map { case (x, y) => (math.max(x, a), math.min(y, b)) }
      .filter { case (x, y) => y > x }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    ivs.foreach { case (x, y) =>
      if (x > end) { covered += y - x; end = y }
      else if (y > end) { covered += y - end; end = y }
    }
    math.max(0L, (b - a) - covered) / 1000.0
  }
}
