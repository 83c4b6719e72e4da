package graft.perfbench

import java.nio.file.{Files, Paths}

/** Entry point of one benchmark run (launched by `perfbench/run.py`):
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --out <file> --cores <n>`. Runs the workload's set-up and closed loop,
  * checks its oracle, and writes the raw record to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val run = new Run(workload, opts("seed").toLong, opts("trace") == "1")
    workload match {
      case "log_history" => LogHistory.run(run, work, seconds)
      case "bulk_load" =>
        Session.using(work, opts("cores").toInt)(spark => BulkLoad.run(run, spark, work, seconds))
      case "sql_mix" =>
        Session.using(work, opts("cores").toInt)(spark => SqlMix.run(run, spark, work, seconds))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    Report.write(run, Paths.get(opts("out")))
  }
}
