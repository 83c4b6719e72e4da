package graft.perfbench

import java.nio.file.Path

import scala.collection.concurrent.TrieMap

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The single `local[cores]` SparkSession a Spark workload runs against,
  * with every file it writes kept under the run's work directory. */
object Session {
  /** Local property carrying the id of the operation a job belongs to. */
  val OpProperty = "perfbench.op"

  def using(work: Path, cores: Int)(body: SparkSession => Unit): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark)
    finally spark.stop()
  }

  /** Tags every job of a traced operation with its id, and attributes the
    * Spark scheduler's work to it: one `sparkjobs` span per job, plus task
    * counts, task time, CPU time, shuffle bytes and output records. */
  def trace(run: Run, spark: SparkSession): Unit = if (run.tracing) {
    val sc = spark.sparkContext
    run.onOpStart = id => sc.setLocalProperty(OpProperty, id.toString)
    run.onOpEnd = () => sc.setLocalProperty(OpProperty, null)
    sc.addSparkListener(new OpListener(run))
  }

  /** Deliver every pending listener event; call before reading the run. */
  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  private final class OpListener(run: Run) extends SparkListener {
    private val jobs = TrieMap.empty[Int, (Int, Long)]
    private val stages = TrieMap.empty[Int, Int]
    // job event times are wall-clock milliseconds; spans use nanoTime
    private val offsetNanos = System.currentTimeMillis() * 1000000L - System.nanoTime()
    private def nanos(ms: Long): Long = ms * 1000000L - offsetNanos

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).foreach { id =>
        val op = id.toInt
        jobs(e.jobId) = (op, e.time)
        e.stageIds.foreach(stages(_) = op)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (op, start) =>
        run.addSpan(Span(op, "sparkjobs", "job", nanos(start), nanos(e.time)))
        run.add(op, "jobs", 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get(e.stageId).foreach { op =>
        run.add(op, "tasks", 1)
        run.add(op, "task_ms", e.taskInfo.duration.toDouble)
        Option(e.taskMetrics).foreach { m =>
          run.add(op, "task_cpu_ms", m.executorCpuTime / 1e6)
          run.add(op, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          run.add(op, "records_written", m.outputMetrics.recordsWritten.toDouble)
          run.add(op, "bytes_written", m.outputMetrics.bytesWritten.toDouble)
        }
      }
  }
}
