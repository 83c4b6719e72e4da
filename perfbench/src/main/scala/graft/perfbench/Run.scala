package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed operation of the closed loop. `cls` is "write" or "read";
  * `rows` is the number of user rows the workload's model says it wrote. */
final case class Op(id: Int, kind: String, cls: String, t0: Long, t1: Long, ok: Boolean, rows: Long)

/** A child span of operation `op`, on the `System.nanoTime` clock. */
final case class Span(op: Int, layer: String, name: String, t0: Long, t1: Long)

/** Everything one benchmark run records: set-up samples, one record per
  * operation, and — when tracing — spans and per-operation counters. All of
  * it stays in memory and is written out once, after the run
  * ([[Report.write]]).
  *
  * Tracing adds work only when `tracing` is true; untraced runs time each
  * operation and nothing else. */
final class Run(val workload: String, val seed: Long, val tracing: Boolean) {
  val setupSeconds = ArrayBuffer.empty[Double]
  val ops = ArrayBuffer.empty[Op]
  private val spanBuf = ArrayBuffer.empty[Span]
  private val counterMap = mutable.Map.empty[(Int, String), Double]
  /** Values measured once per run (sizes, ratios), by metric name. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  /** Facts about the inputs, reported with the results. */
  val inputs = mutable.LinkedHashMap.empty[String, String]
  /** Run phases and when they ended, in seconds since the JVM started. */
  val marks = ArrayBuffer.empty[(String, Double)]
  var loopSeconds = 0.0
  var checks = 0L
  val mismatches = ArrayBuffer.empty[String]
  val failures = ArrayBuffer.empty[String]

  /** Called with the operation id before and after each traced operation,
    * so Spark workloads can tag the jobs it starts. */
  var onOpStart: Int => Unit = _ => ()
  var onOpEnd: () => Unit = () => ()

  private var current = -1

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
  def counters: Map[(Int, String), Double] = counterMap.synchronized(counterMap.toMap)

  def mark(phase: String): Unit =
    marks += phase -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Time a set-up pass; `scale` passes that do 1/scale of the set-up. */
  def setup[T](scale: Int = 1)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupSeconds += (System.nanoTime() - t0) / 1e9 * scale
    r
  }

  /** Time one operation of the loop. A thrown exception counts the
    * operation as failed and is not rethrown: the loop goes on. */
  def op[T](kind: String, cls: String, rows: Long = 0)(body: => T): Option[T] = {
    val id = ops.size
    current = id
    val gc0 = if (tracing) { onOpStart(id); gcMillis() } else 0L
    val t0 = System.nanoTime()
    val result =
      try Some(body)
      catch {
        case e: Exception =>
          if (failures.size < 20) failures += s"$kind: $e"
          None
      }
    val t1 = System.nanoTime()
    if (tracing) {
      onOpEnd()
      add(id, "jvm.gc_ms", (gcMillis() - gc0).toDouble)
    }
    ops += Op(id, kind, cls, t0, t1, result.isDefined, if (result.isDefined) rows else 0)
    current = -1
    result
  }

  /** Record a child span of the current operation around `body`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing || current < 0) body
    else {
      val op = current
      val t0 = System.nanoTime()
      try body
      finally addSpan(Span(op, layer, name, t0, System.nanoTime()))
    }

  def addSpan(s: Span): Unit = if (tracing) spanBuf.synchronized(spanBuf += s)

  /** Add `v` to counter `name` of operation `op` (traced runs only). */
  def add(op: Int, name: String, v: Double): Unit =
    if (tracing && op >= 0) counterMap.synchronized {
      counterMap((op, name)) = counterMap.getOrElse((op, name), 0.0) + v
    }

  /** Add to a counter of the operation in progress. */
  def count(name: String, v: Double): Unit = add(current, name, v)

  /** Record an oracle comparison; a mismatch fails the run. */
  def check(what: => String, ok: Boolean): Unit = {
    checks += 1
    if (!ok && mismatches.size < 20) mismatches += what
    else if (!ok) mismatches(19) = s"... and more; last: $what"
  }

  /** Run the closed loop: one client issues `step(i)` back to back until
    * `seconds` have passed. */
  def loop(seconds: Double)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) { step(i); i += 1 }
    loopSeconds = (System.nanoTime() - t0) / 1e9
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

