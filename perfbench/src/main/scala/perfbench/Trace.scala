package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Half-open time interval [start, end) in epoch milliseconds. */
final case class Interval(start: Double, end: Double) {
  def length: Double = math.max(0.0, end - start)
}

/** Interval algebra for self time and driver gaps. */
object Intervals {

  /** Sorted, disjoint, non-empty cover of `xs` (overlaps and touching
    * intervals merge). */
  def union(xs: Seq[Interval]): Seq[Interval] = {
    val out = mutable.ArrayBuffer.empty[Interval]
    xs.filter(_.length > 0).sortBy(_.start).foreach { i =>
      if (out.nonEmpty && i.start <= out.last.end)
        out(out.length - 1) = Interval(out.last.start, math.max(out.last.end, i.end))
      else out += i
    }
    out.toSeq
  }

  /** The part of `base` not covered by any of `cut`. */
  def subtract(base: Seq[Interval], cut: Seq[Interval]): Seq[Interval] = {
    val cs = union(cut)
    union(base).flatMap { b =>
      val pieces = mutable.ArrayBuffer.empty[Interval]
      var from = b.start
      cs.iterator.filter(c => c.end > b.start && c.start < b.end).foreach { c =>
        if (c.start > from) pieces += Interval(from, c.start)
        from = math.max(from, c.end)
      }
      if (from < b.end) pieces += Interval(from, b.end)
      pieces
    }
  }

  def measure(xs: Seq[Interval]): Double = union(xs).map(_.length).sum
}

/** One recorded span: a call into a layer, timed on the driver. */
final case class Span(id: Int, name: String, parent: Option[Int], run: String,
                      start: Double, end: Double, rows: Long) {
  def interval: Interval = Interval(start, end)
}

object Span {

  /** The local property that names the innermost open span of the thread
    * submitting a job. Benchmark-owned: the program never sets it. */
  val Property = "perfbench.span"

  /** The span a job belongs to, from the properties it was submitted
    * with; None when the submitting thread had no open span. */
  def attributed(props: Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Property)))
      .flatMap(_.toIntOption).filter(_ >= 0)

  /** Self time of `s`: its interval minus the union of its children's. */
  def self(s: Span, all: Seq[Span]): Seq[Interval] =
    Intervals.subtract(Seq(s.interval), all.filter(_.parent.contains(s.id)).map(_.interval))
}

/** Records spans in memory on the driver. `setProperty` publishes the
  * innermost open span of the calling thread (null when none is open) so
  * that jobs submitted inside a span carry its id. */
final class SpanRecorder(run: String, setProperty: String => Unit, clock: () => Double) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  /** Run `body` inside a span named `name`; `rows` forces its result and
    * gives the row count of the layer's output (0 when it has none). */
  def span[T](name: String, rows: T => Long)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val stack = open.get()
    open.set(id :: stack)
    setProperty(id.toString)
    val start = clock()
    var n = 0L
    try { val r = body; n = rows(r); r }
    finally {
      val end = clock()
      open.set(stack)
      setProperty(stack.headOption.map(_.toString).orNull)
      synchronized { done += Span(id, name, stack.headOption, run, start, end, n) }
    }
  }

  def spans: Seq[Span] = synchronized(done.toSeq)
}

object SpanRecorder {
  def apply(run: String, sc: SparkContext): SpanRecorder = {
    // wall-clock milliseconds with sub-millisecond resolution, on the same
    // epoch as the scheduler's job timestamps
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    new SpanRecorder(run, v => sc.setLocalProperty(Span.Property, v),
      () => epoch0 + (System.nanoTime() - nano0) / 1e6)
  }
}

/** Task totals of one attribution bucket. */
final case class TaskTotals(cpuNs: Long = 0, shuffleWriteBytes: Long = 0,
                            spillBytes: Long = 0, writtenBytes: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(cpuNs + o.cpuNs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    writtenBytes + o.writtenBytes)
}

/** A finished job: the span it was submitted under and its interval. */
final case class JobRecord(span: Option[Int], interval: Interval)

/** Attributes jobs and their tasks' metrics to the span named in the
  * submitting thread's [[Span.Property]]. A stage shared by several jobs
  * bills the first job that submitted it. */
final class SpanListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Option[Int]]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Option[Int]]
  private val finished = mutable.ArrayBuffer.empty[JobRecord]
  private val totals = mutable.Map.empty[Option[Int], TaskTotals]
  private val drainJobs = mutable.Map.empty[Int, String]
  private val drainStages = mutable.Set.empty[Int]
  private val drained = mutable.Set.empty[String]
  private var cpuNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.DrainProperty))) match {
      case Some(token) =>
        drainJobs(e.jobId) = token
        drainStages ++= e.stageIds
      case None =>
        val sp = Span.attributed(e.properties)
        jobSpan(e.jobId) = sp
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = sp)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    drainJobs.remove(e.jobId) match {
      case Some(token) => drained += token
      case None =>
        jobSpan.remove(e.jobId).foreach { sp =>
          finished += JobRecord(sp, Interval(jobStart(e.jobId).toDouble, e.time.toDouble))
        }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && !drainStages.contains(e.stageId)) cpuNs += m.executorCpuTime
    if (m != null && stageSpan.contains(e.stageId)) {
      val sp = stageSpan(e.stageId)
      totals(sp) = totals.getOrElse(sp, TaskTotals()) + TaskTotals(
        cpuNs = m.executorCpuTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled,
        writtenBytes = m.outputMetrics.bytesWritten)
    }
  }

  def jobs: Seq[JobRecord] = synchronized(finished.toSeq)
  def taskTotals: Map[Option[Int], TaskTotals] = synchronized(totals.toMap)
  /** Task CPU of every task seen, attributed or not. */
  def allCpuNs: Long = synchronized(cpuNs)

  /** Block until the listener has seen every event posted before this
    * call: submits a one-task marker job and waits for its end event
    * (the listener bus delivers in order). */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val prevSpan = sc.getLocalProperty(Span.Property)
    sc.setLocalProperty(Span.Property, null)
    sc.setLocalProperty(SpanListener.DrainProperty, token)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(SpanListener.DrainProperty, null)
      sc.setLocalProperty(Span.Property, prevSpan)
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!synchronized(drained.contains(token))) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener bus did not drain")
      Thread.sleep(5)
    }
  }
}

object SpanListener {
  val DrainProperty = "perfbench.drain"
}

/** Per-layer figures of one traced run. */
final case class LayerStats(wallS: Double, gapS: Double, jobs: Long, cpuS: Double,
                            shuffleMb: Double, spillMb: Double, rows: Long, writtenMb: Double)

object LayerReport {
  private val Mb = 1024.0 * 1024.0

  /** Aggregate spans by name. Wall time is self time; the gap is the
    * part of the self time during which no Spark job ran at all; jobs and
    * task metrics belong to the innermost span their job was submitted
    * under. Task totals keyed None (no open span) are not in any layer. */
  def layers(spans: Seq[Span], jobs: Seq[JobRecord],
             totals: Map[Option[Int], TaskTotals]): Map[String, LayerStats] = {
    val busy = Intervals.union(jobs.map(_.interval))
    spans.groupBy(_.name).map { case (name, ss) =>
      val ids = ss.map(_.id).toSet
      val self = ss.flatMap(Span.self(_, spans))
      val t = ss.map(s => totals.getOrElse(Some(s.id), TaskTotals())).foldLeft(TaskTotals())(_ + _)
      name -> LayerStats(
        wallS = self.map(_.length).sum / 1000.0,
        gapS = Intervals.measure(Intervals.subtract(self, busy)) / 1000.0,
        jobs = jobs.count(_.span.exists(ids.contains)).toLong,
        cpuS = t.cpuNs / 1e9,
        shuffleMb = t.shuffleWriteBytes / Mb,
        spillMb = t.spillBytes / Mb,
        rows = ss.map(_.rows).sum,
        writtenMb = t.writtenBytes / Mb)
    }
  }
}
