package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Process-global wall-clock accumulators per named phase: nanoTime
  * pairs, always on (a few ns per call), so a load harness can attribute
  * a regression to the phase that moved instead of re-measuring blind.
  * A phase key carries its layer: `engine:` for the sync replay loop,
  * `delta:` and `iceberg:` for the commit paths. */
object PhaseTimer {
  private val nanos = new ConcurrentHashMap[String, AtomicLong]()

  def time[A](phase: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally nanos.computeIfAbsent(phase, _ => new AtomicLong()).addAndGet(System.nanoTime() - t0)
  }

  def reset(): Unit = nanos.clear()

  def millis: Map[String, Long] = nanos.asScala.map { case (k, v) => k -> v.get / 1000000 }.toMap
}
