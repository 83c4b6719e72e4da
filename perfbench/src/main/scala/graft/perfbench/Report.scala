package graft.perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Writes a [[Run]] as one JSON document for `run.py`, which turns it into
  * metrics. Times are in milliseconds relative to the first operation. */
object Report {

  def write(run: Run, out: Path): Unit = {
    val base = run.ops.headOption.map(_.t0).getOrElse(0L)
    def ms(t: Long): Double = (t - base) / 1e6
    val doc: Map[String, Any] = Map(
      "workload" -> run.workload,
      "seed" -> run.seed,
      "trace" -> run.tracing,
      "setup_s" -> run.setupSeconds.toList,
      "loop_s" -> run.loopSeconds,
      "checks" -> run.checks,
      "mismatches" -> run.mismatches.toList,
      "failures" -> run.failures.toList,
      "inputs" -> run.inputs.toMap,
      "marks" -> run.marks.map { case (k, v) => List(k, v) }.toList,
      "values" -> run.values.toMap,
      "ops" -> run.ops.map(o => List(o.kind, o.cls, ms(o.t0), ms(o.t1), o.ok, o.rows)).toList,
      "spans" -> run.spans.map(s => List(s.op, s.layer, s.name, ms(s.t0), ms(s.t1))),
      "counters" -> run.counters.toSeq.sortBy(_._1).map { case ((op, name), v) => List(op, name, v) })
    new ObjectMapper().writeValue(out.toFile, toJava(doc))
  }

  /** Scala maps and sequences as the Java collections Jackson writes. */
  private def toJava(x: Any): Any = x match {
    case m: Map[_, _] => m.map { case (k, v) => k.toString -> toJava(v) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }
}
