package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one closed-loop step share `op`;
  * `parent` is the span that was open when this one started (0 = none). */
final class Span(val id: Long, val op: Long, val name: String, val parent: Long,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  /** Counts recorded at this boundary (rows, files, bytes). */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One Spark job, attributed to the span and step that submitted it. */
final class JobRec(val id: Int, val span: Long, val op: Long, val desc: String,
    val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
  /** The write phase from a `graft:<op>:<phase>` job label, if any. */
  def phase: Option[String] =
    if (desc != null && desc.startsWith("graft:")) desc.split(':').lift(2) else None
}

/**
 * Spans around each call the benchmark makes into a layer, plus Spark job,
 * stage and task counts from a listener. A job is attributed through two
 * thread-local Spark properties set while a span is open, so attribution
 * holds although listener events arrive late and on another thread (Spark
 * copies local properties to the threads it starts for broadcasts and
 * subqueries). Spans stay in memory until the run ends.
 *
 * Disabled, `span` just runs its body: the untraced run pays nothing.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val OpProp = "perfbench.op"
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val open = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var op = -1L
  /** The span that closed last: counts measured right after a call attach here. */
  var last: Option[Span] = None

  private val jobMap = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
      val j = new JobRec(e.jobId, prop(SpanProp).map(_.toLong).getOrElse(0L),
        prop(OpProp).map(_.toLong).getOrElse(-1L),
        prop("spark.job.description").orNull, e.time)
      jobMap.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobMap.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  })

  /** Start closed-loop step `i`: spans and jobs until the next call belong to it. */
  def beginOp(i: Long): Unit = if (enabled) {
    op = i
    sc.setLocalProperty(OpProp, i.toString)
  }

  def endOp(): Unit = if (enabled) {
    op = -1L
    sc.setLocalProperty(OpProp, null)
  }

  def span[T](name: String)(f: => T): T = if (!enabled) f else {
    val s = new Span(nextId, op, name, open.lastOption.map(_.id).getOrElse(0L),
      System.nanoTime(), System.currentTimeMillis())
    nextId += 1
    spans += s
    open += s
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open.remove(open.size - 1)
      sc.setLocalProperty(SpanProp, open.lastOption.map(_.id.toString).orNull)
      last = Some(s)
    }
  }

  /** Attach a count to the span that closed last. */
  def count(key: String, v: Double): Unit =
    if (enabled) last.foreach(_.counts(key) = v)

  /** Wait for every posted listener event, then return the job records. */
  def jobs(): Seq[JobRec] = {
    if (enabled) org.apache.spark.perfbench.Bus.drain(sc)
    jobMap.values.asScala.toSeq.sortBy(_.id)
  }
}

/** Read-side views over a finished trace. */
final class TraceView(spans: Seq[Span], val jobs: Seq[JobRec]) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private val jobsBySpan: Map[Long, Seq[JobRec]] = jobs.groupBy(_.span)
  val jobsByOp: Map[Long, Seq[JobRec]] = jobs.groupBy(_.op)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Jobs submitted while `s` or any span under it was the innermost open one. */
  def jobsUnder(s: Span): Seq[JobRec] =
    subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))

  /** Duration minus the part of its interval that child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - Intervals.covered(children.getOrElse(s.id, Nil)
      .map(c => (c.startNs, c.endNs))) / 1e9

  /** Wall of `s` covered by no Spark job (driver-side work and waiting). */
  def gapSeconds(s: Span, js: Seq[JobRec]): Double = {
    val inside = js.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
    math.max(0.0, (s.endMs - s.startMs - Intervals.covered(inside)) / 1e3)
  }
}

object Intervals {
  /** Total length of the union of [a, b) intervals. */
  def covered(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
