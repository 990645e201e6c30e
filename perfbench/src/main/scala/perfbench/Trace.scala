package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: the whole run, an iteration, a client operation, a
  * call into one of the program's layers, or (in the listener's
  * records) a Spark job. `parent` is the span that caused it (-1 for the root).
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, var endMs: Double = Double.NaN) {
  def ms: Double = endMs - startMs
}

/** Interval arithmetic for self time. */
object Intervals {

  /** Length of the union of `ivs`, each clipped to `[lo, hi]`. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's wall time minus the part of it that its children cover. */
  def selfTime(lo: Double, hi: Double, children: Seq[(Double, Double)]): Double =
    (hi - lo) - covered(lo, hi, children)
}

/** What the listener saw of one Spark job. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Double,
    val stageIds: Seq[Int]) {
  var endMs: Double = Double.NaN
  var tasks = 0
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Attributes every Spark job to the span that launched it: the span id
  * travels as a local property of the calling thread (inherited by the
  * threads Spark starts for broadcasts and streaming), and `onJobStart`
  * reads it back.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  /** Task durations (ms) per stage, for the skew figure. */
  val stageTaskMs = mutable.HashMap.empty[Int, ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val rec = new JobRec(e.jobId, span, e.time.toDouble, e.stageIds)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { rec =>
      rec.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.diskBytesSpilled
      }
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    }
  }
}

/** Spans recorded from the benchmark's own code around each layer call.
  * Off, [[span]] only runs its body. On, spans are kept in memory and a
  * [[JobListener]] attributes Spark jobs to them; both are read once, at
  * the end of the run.
  */
final class Trace(val on: Boolean, sc: SparkContext) {
  private val nanos0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with nanosecond resolution, on the
    * same clock as the listener's job times.
    */
  def nowMs: Double = ms0 + (System.nanoTime() - nanos0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var mark = 0

  /** Starts the timed region: set-up and warm-up spans stay out of the
    * analyses below.
    */
  def startTimed(): Unit = mark = spans.size

  def timed: Seq[Span] = spans.drop(mark).toSeq
  val listener: Option[JobListener] =
    if (on) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  def span[A](kind: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), kind, name, nowMs)
      spans += s
      val prev = sc.getLocalProperty(Trace.SpanKey)
      sc.setLocalProperty(Trace.SpanKey, s.id.toString)
      stack = s :: stack
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanKey, prev)
      }
    }

  /** Delivers every pending listener event; call before reading jobs. */
  def drain(): Unit = if (on) org.apache.spark.perfbench.ListenerDrain(sc)

  def jobs: Seq[JobRec] = listener.fold(Seq.empty[JobRec])(l => l.synchronized(l.jobs.values.toSeq))

  /** Span id -> ids of the span and all its descendants. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(i: Int): Set[Int] = Set(i) ++ kids.getOrElse(i, Nil).flatMap(c => walk(c.id))
    walk(id)
  }

  /** Jobs launched from inside span `id` (itself or a descendant). */
  def jobsUnder(id: Int): Seq[JobRec] = {
    val ids = subtree(id)
    jobs.filter(j => ids.contains(j.span))
  }

  /** Spans whose parent is `id`. */
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Self time of span `s`: its wall time not covered by its child spans
    * nor by the jobs it launched directly.
    */
  def selfMs(s: Span): Double = {
    val kids = children(s.id).map(c => (c.startMs, c.endMs))
    val own = jobs.filter(_.span == s.id).map(j => (j.startMs, j.endMs))
    Intervals.selfTime(s.startMs, s.endMs, kids ++ own)
  }

  /** Wall time of span `s` covered by no job launched inside it: driver-
    * side planning, listing and manifest I/O.
    */
  def driverGapMs(s: Span): Double =
    Intervals.selfTime(s.startMs, s.endMs, jobsUnder(s.id).map(j => (j.startMs, j.endMs)))

  /** Per-layer table: one row per operation and layer-call name, with self
    * time as a share of all operations' wall time.
    */
  def layerTable(): Seq[LayerRow] = {
    val ops = timed.filter(_.kind == "op")
    val underOps = ops.flatMap(o => subtree(o.id)).toSet
    val calls = timed.filter(s => underOps.contains(s.id))
    val runMs = timed.filter(_.kind == "op").map(_.ms).sum
    calls.groupBy(s => (s.kind, s.name)).toSeq.map { case ((kind, name), ss) =>
      val self = ss.map(selfMs).sum
      val js = ss.flatMap(s => jobs.filter(_.span == s.id))
      LayerRow(kind, name, ss.size, ss.map(_.ms).sum, self, js.size,
        if (runMs > 0) self / runMs else 0.0)
    }.sortBy(r => -r.selfMs)
  }
}

/** One row of the per-layer table: calls, wall, self time, jobs launched
  * directly, and self time as a share of the timed iterations' wall time.
  */
final case class LayerRow(kind: String, name: String, calls: Int, totalMs: Double,
    selfMs: Double, jobs: Int, share: Double)

object Trace {
  val SpanKey = "perfbench.span"
}
