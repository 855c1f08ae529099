package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program. `parent` is -1 for a root span; all
  * spans of one operation share `traceId`. */
final case class Span(id: Int, name: String, parent: Int, traceId: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Trace {
  val GroupPrefix = "perfbench-span-"

  /** The span id a job belongs to, read from its job-group property. */
  def spanOfGroup(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => g.stripPrefix(GroupPrefix).toIntOption)

  /** A span's duration minus the part of it covered by its children
    * (overlapping children are counted once). */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }
}

/** Records spans in memory. Each span becomes the Spark job group of the
  * calling thread while it is open, so [[SpanListener]] can attribute jobs
  * (including ones Spark starts asynchronously on the caller's behalf) by
  * that property rather than by call site. Disabled, it only runs bodies. */
final class Tracer(sc: Option[SparkContext]) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String, Long)] // (id, name, start)
  private var traceId = -1
  private var nextId = 0

  def enabled: Boolean = sc.isDefined
  def all: Seq[Span] = spans.toSeq

  /** A root span that starts a new trace id. */
  def op[T](name: String)(body: => T): T = {
    if (enabled) traceId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = sc match {
    case None => body
    case Some(ctx) =>
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val start = System.nanoTime()
      stack = (id, name, start) :: stack
      ctx.setJobGroup(Trace.GroupPrefix + id, name)
      try body
      finally {
        spans += Span(id, name, parent, traceId, start, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some((pid, pname, _)) =>
            ctx.setJobGroup(Trace.GroupPrefix + pid, pname)
          case None => ctx.clearJobGroup()
        }
      }
  }

  /** `span`, also returning the closed span (tracing must be on). */
  def timed[T](name: String)(body: => T): (T, Span) = {
    val v = span(name)(body)
    (v, spans.last)
  }

  def children(of: Span): Seq[Span] = spans.filter(_.parent == of.id).toSeq
  def selfNs(of: Span): Long = Trace.selfNs(of, children(of))
}

/** Engine cost per span, from listener events only. */
final class SpanCost {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val taskMs = mutable.ArrayBuffer[Double]()

  def add(o: SpanCost): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
    taskMs ++= o.taskMs
  }
  def taskTimeS: Double = taskMs.sum / 1000.0
  /** Slowest task over the median task; 1 with no tasks. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else taskMs.max / math.max(Stats.median(taskMs.toSeq), 1.0)
}

/** Attributes jobs, stages and tasks to the span whose id is the job's
  * group. Stages of unattributed jobs are ignored. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val costs = mutable.Map[Int, SpanCost]()

  private def cost(span: Int): SpanCost =
    costs.synchronized(costs.getOrElseUpdate(span, new SpanCost))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .map(_.getProperty("spark.jobGroup.id")).orNull
    Trace.spanOfGroup(group).foreach { span =>
      e.stageIds.foreach(s => stageSpan.put(s, span))
      val c = cost(span)
      c.synchronized(c.jobs += 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val c = cost(span)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = cost(span)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.taskMs += e.taskInfo.duration.toDouble
        if (m != null) {
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
        }
      }
    }

  /** Cost of one span alone. */
  def of(span: Int): SpanCost =
    costs.synchronized(costs.getOrElse(span, new SpanCost))

  /** Summed cost of the given spans. */
  def sum(spans: Iterable[Int]): SpanCost = {
    val out = new SpanCost
    spans.foreach(s => out.add(of(s)))
    out
  }
}
