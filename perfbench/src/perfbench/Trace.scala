package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the traced run. `parent` is the index of the
  * enclosing span in the same trace, -1 for a pass's root. */
final case class Span(name: String, pass: Int, parent: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

object Intervals {
  /** Total length of the union of `ivs`, each clipped to [lo, hi). */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration less the part its children cover. */
  def selfNanos(spans: IndexedSeq[Span], i: Int): Long = {
    val s = spans(i)
    val kids = spans.indices.filter(j => spans(j).parent == i && spans(j).pass == s.pass)
      .map(j => (spans(j).start, spans(j).end))
    (s.end - s.start) - covered(kids, s.start, s.end)
  }
}

/** Span recorder. Spans stay in memory; the run writes them out at the
  * end. While a span is open, jobs submitted from this thread carry its
  * index in the `perfbench.span` local property, which [[SpanListener]]
  * uses to charge their stages and tasks to it. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  /** Span index -> rows the layer produced, where the caller counted them. */
  val records = mutable.HashMap.empty[Int, Long]
  /** Span index -> JVM GC seconds while it was open. */
  val gcS = mutable.HashMap.empty[Int, Double]
  /** Ratios measured by the caller, by metric name, one value per pass. */
  val notes = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var open = -1
  var pass = 0
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()

  /** A span time as epoch millis, the clock of Spark's stage events. */
  def epochMs(nanos: Long): Long = epoch0 + (nanos - nano0) / 1000000L

  def out(n: Long): Unit = if (open >= 0) records(open) = n

  def note(metric: String, v: Double): Unit =
    notes.getOrElseUpdate(metric, ArrayBuffer.empty[Double]) += v

  def apply[T](name: String)(body: => T): T = {
    val idx = spans.size
    spans += Span(name, pass, open, System.nanoTime(), 0L)
    val outer = open
    open = idx
    sc.setLocalProperty(SpanListener.Key, idx.toString)
    val gc0 = Env.gcS
    try body
    finally {
      spans(idx) = spans(idx).copy(end = System.nanoTime())
      gcS(idx) = Env.gcS - gc0
      open = outer
      sc.setLocalProperty(SpanListener.Key, if (outer < 0) null else outer.toString)
    }
  }
}

/** Per-span counters gathered from Spark's listener events. */
final class SpanCounters {
  var jobs = 0
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  /** Stage id -> (submitted, completed) in epoch millis. */
  val stageTimes = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  /** Stage id -> durations of its tasks, ms. */
  val taskMs = mutable.LinkedHashMap.empty[Int, ArrayBuffer[Long]]

  /** The stage whose tasks ran longest in total. */
  def largestStage: Option[ArrayBuffer[Long]] =
    if (taskMs.isEmpty) None else Some(taskMs.values.maxBy(_.sum))

  /** Slowest over median task of the largest stage. */
  def taskSkew: Double = largestStage.map { ts =>
    val s = ts.sorted
    val med = s(s.size / 2).toDouble
    s.last / math.max(1.0, med)
  }.getOrElse(0.0)

  /** Wall time of [startMs, endMs) covered by no stage of this span. */
  def offstageMs(startMs: Long, endMs: Long): Long =
    (endMs - startMs) - Intervals.covered(stageTimes.values.toSeq, startMs, endMs)
}

object SpanListener { val Key = "perfbench.span" }

/** Collects task and stage counters per span index. */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, SpanCounters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new SpanCounters)

  def get(span: Int): SpanCounters = synchronized(counters(span))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanListener.Key)))
    p.foreach { s =>
      val span = s.toInt
      counters(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { span =>
      for (a <- info.submissionTime; b <- info.completionTime)
        counters(span).stageTimes(info.stageId) = (a, b)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = counters(span)
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
      c.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
    }
  }
}
