package syncbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** Spark work attributed to one span. */
final case class SparkCounts(jobs: Long, stages: Long, tasks: Long, inputBytes: Long, shuffleBytes: Long) {
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, inputBytes + o.inputBytes, shuffleBytes + o.shuffleBytes)
}
object SparkCounts { val Zero: SparkCounts = SparkCounts(0, 0, 0, 0, 0) }

/**
 * Counts jobs, stages, tasks, input bytes and shuffle-read bytes per job
 * group. The tracer gives every span its own job group, so the counts
 * land on the innermost span that launched the work. Zero jobs under a
 * replay span means the replay ran as a driver-side fold.
 */
final class SparkCounter extends SparkListener {
  private final class Acc {
    val jobs, stages, tasks, input, shuffle = new AtomicLong
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(group: String): Acc = byGroup.computeIfAbsent(group, _ => new Acc)
  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach(g => acc(g).jobs.incrementAndGet())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(g => stageGroup.put(e.stageInfo.stageId, g))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.remove(e.stageInfo.stageId)).foreach { g =>
      val a = acc(g)
      val m = e.stageInfo.taskMetrics
      a.stages.incrementAndGet()
      a.tasks.addAndGet(e.stageInfo.numTasks)
      if (m != null) {
        a.input.addAndGet(m.inputMetrics.bytesRead)
        a.shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }

  def counts(group: String): SparkCounts = Option(byGroup.get(group)).map { a =>
    SparkCounts(a.jobs.get, a.stages.get, a.tasks.get, a.input.get, a.shuffle.get)
  }.getOrElse(SparkCounts.Zero)
}

/** One timed call. `op` groups the spans of one benchmark operation. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long, failed: Boolean) {
  def durNs: Long = endNs - startNs
}

/** A span with its derived figures, ready for aggregation and output. */
final case class SpanRecord(span: Span, selfNs: Long, spark: SparkCounts)

/**
 * In-memory span recorder for the single client thread. A disabled
 * tracer runs the body and records nothing, so the untraced run pays
 * for no bookkeeping. Spans are written out once, when the run ends.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.LinkedHashMap[String, Long]()
  private var stack: List[Long] = Nil
  private var nextId = 0L
  private var currentOp = 0L
  private var active = enabled

  /** Record spans for the operations that follow (`on`) or not. The
    * traced run alternates, so its untraced operations measure the
    * tracing overhead. */
  def activate(on: Boolean): Unit = active = enabled && on
  def isActive: Boolean = active

  /** Run `f` as operation `op`: spans opened inside carry its id. */
  def inOp[A](op: Long)(f: => A): A = {
    val prev = currentOp
    currentOp = op
    try f finally currentOp = prev
  }

  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
      sc.setLocalProperty(Tracer.JobGroupKey, Tracer.group(id))
      stack = id :: stack
      var failed = true
      val t0 = System.nanoTime()
      try { val r = f; failed = false; r }
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.JobGroupKey, prevGroup)
        spans += Span(id, parent, currentOp, name, t0, t1, failed)
      }
    }

  /** Add to a named count (CAS retries, metadata bytes). */
  def count(name: String, delta: Long): Unit =
    if (active) counters(name) = counters.getOrElse(name, 0L) + delta

  def counts: Map[String, Long] = counters.toMap

  /** Spans with self time and Spark counts. Call after the listener bus
    * has drained. */
  def records(counter: SparkCounter): Seq[SpanRecord] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq
      SpanRecord(s, Summary.selfTime(s.startNs, s.endNs, kids), counter.counts(Tracer.group(s.id)))
    }
  }
}

object Tracer {
  /** The local property Spark tags jobs with (`SparkContext.setJobGroup`). */
  val JobGroupKey = "spark.jobGroup.id"

  def group(id: Long): String = s"syncbench-span-$id"

  /** One JSON line per span. */
  def jsonLine(r: SpanRecord, originNs: Long): String = {
    val s = r.span
    f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      f""""start_ms":${(s.startNs - originNs) / 1e6}%.3f,"dur_ms":${s.durNs / 1e6}%.3f,""" +
      f""""self_ms":${r.selfNs / 1e6}%.3f,"failed":${s.failed},"jobs":${r.spark.jobs},""" +
      f""""stages":${r.spark.stages},"tasks":${r.spark.tasks},""" +
      f""""input_bytes":${r.spark.inputBytes},"shuffle_bytes":${r.spark.shuffleBytes}}"""
  }
}
