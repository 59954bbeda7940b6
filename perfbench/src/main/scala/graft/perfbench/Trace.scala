package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level cost of one span: summed over every task of every job
  * submitted while the span was the innermost open one. */
final class Cost {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Cost): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
}

/** One recorded span: a named interval on the driver thread, its parent,
  * and the cost of the jobs submitted while it was the innermost span. */
final case class Span(id: Int, name: String, parent: Int,
    startMs: Long, var endMs: Long = -1L) {
  val own = new Cost
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Spans recorded by the benchmark around its calls into graft, plus one
  * SparkListener that assigns each job's tasks to the span open when the
  * job was submitted. The span id travels as a Spark local property of
  * the benchmark's own (`graft.bench.span`): graft itself overwrites
  * `spark.job.description`, so that cannot carry it. Spans and task
  * intervals are kept in memory and summarised after the run. */
final class Tracer(sc: SparkContext) {
  import Tracer.Prop

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val id = Option(js.properties).flatMap(p => Option(p.getProperty(Prop)))
      id.map(_.toInt).foreach { sid =>
        js.stageIds.foreach(st => stageSpan.put(st, sid))
        Tracer.this.synchronized { spans(sid).own.jobs += 1 }
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val info = te.taskInfo
      Tracer.this.synchronized {
        if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
        val sid = stageSpan.get(te.stageId)
        val m = te.taskMetrics
        if (sid != null && m != null) {
          val c = spans(sid.intValue).own
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` inside a new span named `name`, child of the open one. */
  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis())
      spans += s
      s
    }
    open = s :: open
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait for the listener bus to deliver every event, then detach. */
  def finish(): Unit = {
    Tracer.drain(sc)
    sc.removeSparkListener(listener)
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Spans whose name is `name` (one per call of [[span]]). */
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Cost of `s` and all its descendants. */
  def total(s: Span): Cost = {
    val c = new Cost
    c += s.own
    children(s).foreach(ch => c += total(ch))
    c
  }

  /** Σ task run time inside `s`'s interval, clipped to it. */
  def busyS(s: Span): Double = synchronized {
    taskIntervals.iterator.map { case (a, b) =>
      math.max(0L, math.min(b, s.endMs) - math.max(a, s.startMs))
    }.sum / 1e3
  }

  /** Wall time of `s` during which no task was running. */
  def driverGapS(s: Span): Double = {
    val clipped = synchronized {
      taskIntervals.iterator
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    }
    var covered = 0L
    var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    ((s.endMs - s.startMs) - covered) / 1e3
  }
}

object Tracer {
  val Prop = "graft.bench.span"

  /** Block until the listener bus has delivered all posted events. Throws
    * if Spark no longer has the methods, so a traced run fails instead of
    * reporting costs that miss still-queued task-end events. */
  def drain(sc: SparkContext): Unit = {
    def method(o: AnyRef, name: String) =
      o.getClass.getMethods.find(m => m.getName == name && m.getParameterCount == 0)
        .getOrElse(throw new IllegalStateException(s"${o.getClass.getName}.$name() not found"))
    val bus = method(sc, "listenerBus").invoke(sc)
    method(bus, "waitUntilEmpty").invoke(bus)
  }
}
