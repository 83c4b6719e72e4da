package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Sizes of what a workload left on disk. */
object Storage {

  /** Bytes under the table directories `dirs` — every retained version,
    * sidecar and marker — over the bytes of their live rows `live` written
    * once as a single plain parquet file under `scratch`. */
  def storedPerUserByte(dirs: Seq[Path], live: DataFrame, scratch: Path): Double = {
    live.coalesce(1).write.parquet(scratch.toString)
    dirs.map(dirBytes).sum.toDouble / dataFiles(scratch).map(Files.size).sum
  }

  /** Records `spark.write.files_per_partition_dir` and
    * `spark.write.bytes_per_commit` from the data files under `tables`
    * that are not in `before`. */
  def recordWrites(run: Run, tables: Seq[Path], before: Set[Path], commits: Int): Seq[Path] = {
    val written = tables.flatMap(dataFiles).filterNot(before)
    run.values("spark.write.files_per_partition_dir") =
      written.size.toDouble / written.map(_.getParent).distinct.size.max(1)
    run.values("spark.write.bytes_per_commit") = written.map(Files.size).sum.toDouble / commits.max(1)
    written
  }

  /** Data files under `dir`: everything but hidden and metadata files. */
  def dataFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toList

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
