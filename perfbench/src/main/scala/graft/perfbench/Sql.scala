package graft.perfbench

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{Row, SparkSession}

/** SQL as a client issues it, timed by phase when tracing. */
object Sql {

  /** A query: `spark.sql` (parse and analyze), physical planning, then
    * execution — the same calls whether or not the run is traced. */
  def collect(run: Run, spark: SparkSession, query: String): Array[Row] = {
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val df = run.span("spark.read", "analyze")(spark.sql(query))
    run.span("spark.read", "plan")(df.queryExecution.executedPlan)
    val rows = run.span("spark.read", "execute")(df.collect())
    run.count("files_discovered", (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0).toDouble)
    rows
  }
}
