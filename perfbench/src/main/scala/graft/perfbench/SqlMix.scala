package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.{JsonFileTableVersions, TableName}
import graft.spark.GraftTableCatalog

/** `sql_mix`: one SQL client on a graft catalog bound to a durable log
  * directory (`spark.sql.catalog.<name>.logDir`). Statements interleave on
  * two keyed tables: small `INSERT` batches, `MERGE` upserts in
  * copy-on-write and merge-on-read modes, `UPDATE` with an IN subquery and
  * `DELETE` with a correlated EXISTS subquery, `SELECT`s of the current
  * version, `VERSION AS OF` reads of earlier commits, `table_changes`, and
  * `DESCRIBE HISTORY`. The statements follow a fixed cycle (`Block`); the
  * seed draws the keys and values, so every run does the same mix.
  *
  * Oracle: a key→value model of every table in this process. Each `SELECT`
  * must return the model's row count, value sum and distinct-key count;
  * each `AS OF` read the figures recorded when that commit was made; each
  * `table_changes` range a net row change equal to the model's; each
  * `DESCRIBE HISTORY` one row per commit of the log; and at the end every
  * table must hold exactly the model's rows. */
object SqlMix {
  val Catalog = "sm"
  val ProbeCatalog = "smprobe"
  val Tables = 2
  val InitialRows = 400
  val Partitions = 2
  val BatchRows = 20
  val SetupPasses = 5
  /** The statements of one block, in the order the client issues them,
    * each with the table it addresses: every write is followed by a read of
    * the same table. The loop repeats the block. */
  val Block = Seq("insert" -> 0, "select" -> 0, "merge_cow" -> 1, "as_of" -> 1, "update" -> 0,
    "changes" -> 0, "merge_mor" -> 1, "select" -> 1, "delete" -> 0, "as_of" -> 0, "history" -> 1)

  /** End-to-end metrics cover the first this many whole blocks: what a
    * 15 s run completes on 4 cores. */
  val MeasuredCycles = 1

  private val Writes = Set("insert", "merge_cow", "merge_mor", "update", "delete")

  def run(run: Run, spark: SparkSession, work: Path, seconds: Double): Unit = {
    val rnd = new Random(run.seed)
    val logDir = work.resolve("log")
    spark.conf.set(s"spark.sql.catalog.$Catalog", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Catalog.logDir", logDir.toString)

    // set-up: create the tables and load their first rows; the loop uses
    // the last set. Between the first pass and the others, one block of
    // statements runs on the first set, untimed, so the rest of set-up and
    // the loop measure a running client rather than JIT and first use. The
    // first set lives in a catalog bound to the same durable log through a
    // TracedLog, which records the log calls of each warm-up statement.
    val warm = new Run(run.workload, run.seed, tracing = false)
    val probe = new TracedLog(new JsonFileTableVersions(logDir), warm)
    spark.conf.set(s"spark.sql.catalog.$ProbeCatalog", classOf[GraftTableCatalog].getName)
    GraftTableCatalog.bind(ProbeCatalog, probe)
    val first = run.setup()(new TableSet(spark, work, ProbeCatalog, "db0", rnd))
    val observed = Block.map { case (kind, t) =>
      val before = probe.calls.size
      first.statement(warm, kind, t)
      // the calls as `method:table`, table 0 the statement's own, 1 the other
      kind -> probe.calls.drop(before).map { case (m, n) => s"$m:${if (n.name == s"t$t") 0 else 1}" }.mkString(" ")
    }
    run.mismatches ++= (warm.mismatches ++ warm.failures).map("warm-up: " + _)
    observed.zipWithIndex.foreach { case ((kind, calls), i) => run.inputs(f"log_calls.$i%02d.$kind") = calls }
    // whether log_history still replays the calls these statements make
    run.inputs("log_history_block_current") = (observed == LogHistory.Block).toString
    run.mark("warm-up")
    val tables = (1 until SetupPasses).map(i => run.setup()(new TableSet(spark, work, Catalog, s"db$i", rnd))).last
    run.mark("setup")

    Session.trace(run, spark)
    val before = tables.dirs.flatMap(Storage.dataFiles).toSet
    val logBytes0 = Storage.dirBytes(logDir)
    val commits0 = tables.commitCount
    var dml = 0
    var historySum = 0L
    run.values("cycle_ops") = Block.size
    run.values("measured_cycles") = MeasuredCycles
    // stored bytes are measured once, untimed, after the first whole block,
    // so every run measures the same state
    def stored() = Storage.storedPerUserByte(tables.dirs,
      (0 until Tables).map(t => spark.table(tables.name(t))).reduce(_ union _), work.resolve("plain"))
    val schedule = Iterator.continually(Block).flatten
    run.loop(seconds) { i =>
      val (kind, t) = schedule.next()
      historySum += tables.statement(run, kind, t)
      if (Writes(kind)) dml += 1
      if (i == Block.size - 1) run.values("stored_bytes_per_user_byte") = stored()
    }
    Session.drain(spark)
    run.mark("loop")

    tables.checkFinal(run)
    run.mark("oracle")

    val written = Storage.recordWrites(run, tables.dirs, before, dml)
    run.values("spark.dml.files_written") = written.size.toDouble / dml.max(1)
    run.values("core.log.bytes_per_commit") =
      (Storage.dirBytes(logDir) - logBytes0).toDouble / (tables.commitCount - commits0).max(1)
    run.values("core.log.history_len") = historySum.toDouble / run.ops.size.max(1)
    if (!run.values.contains("stored_bytes_per_user_byte")) run.values("stored_bytes_per_user_byte") = stored()
    run.mark("sizes")
  }

  private def part(k: Long): String = s"p${k % Partitions}"

  /** Keyed tables `t0..` in schema `schema` of `catalog`, created and
    * loaded on construction, with the model of their contents. */
  private final class TableSet(spark: SparkSession, work: Path, catalog: String, schema: String, rnd: Random) {
    import spark.implicits._

    val log = new JsonFileTableVersions(work.resolve("log"))
    val dirs = (0 until Tables).map(t => work.resolve(s"$schema-t$t"))
    def name(t: Int) = s"$catalog.$schema.t$t"
    private def logName(t: Int) = TableName(schema, s"t$t")
    def commitCount: Int = (0 until Tables).map(t => log.updates(logName(t)).size).sum

    val models: IndexedSeq[mutable.Map[Long, Long]] = (0 until Tables).map { t =>
      spark.sql(
        s"CREATE TABLE ${name(t)} (k BIGINT, v BIGINT, p STRING) " +
          s"USING parquet PARTITIONED BY (p) LOCATION '${dirs(t).toUri}'")
      val rows = (0 until InitialRows).map(k => (k.toLong, rnd.nextInt(1000000).toLong))
      rows.map { case (k, v) => (k, v, part(k)) }.toDF("k", "v", "p").createOrReplaceTempView("initial")
      spark.sql(s"INSERT INTO ${name(t)} SELECT * FROM initial")
      mutable.Map.from(rows)
    }
    private var nextKey = InitialRows.toLong
    private def summary(t: Int) = (models(t).size.toLong, models(t).values.sum)

    // per table: the commits made since set-up, with the model's
    // (row count, value sum) at each
    private val commits = IndexedSeq.fill(Tables)(ArrayBuffer.empty[(String, (Long, Long))])
    private def recordCommit(t: Int): Unit = {
      val head = log.updates(logName(t)).head.id.id
      if (commits(t).lastOption.exists(_._1 == head)) commits(t)(commits(t).size - 1) = head -> summary(t)
      else commits(t) += head -> summary(t)
    }
    (0 until Tables).foreach(recordCommit)

    private def batch(t: Int, existing: Int): Seq[(Long, Long)] = {
      val old = rnd.shuffle(models(t).keys.toIndexedSeq).take(existing)
      val fresh = (0 until BatchRows - old.size).map { _ => nextKey += 1; nextKey }
      (old ++ fresh).map(k => (k, rnd.nextInt(1000000).toLong))
    }
    private def values(rows: Seq[(Long, Long)]) =
      rows.map { case (k, v) => s"($k, $v, '${part(k)}')" }.mkString(", ")
    private def stats(rs: Array[Row]) = {
      val r = rs.head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
    }
    private def dml(run: Run, kind: String, rows: Int)(sql: String): Boolean =
      run.op(kind, "write", rows)(run.span("spark.dml", "statement")(spark.sql(sql))).isDefined

    /** Issue one statement of `kind` on table `t`, check what it returns
      * against the model, and return the length of the history it
      * addressed. Subqueries read the other table. */
    def statement(run: Run, kind: String, t: Int): Int = {
      val other = (t + 1) % Tables
      val historyLen = log.updates(logName(t)).size
      kind match {
        case "insert" =>
          val rows = batch(t, existing = 0)
          if (dml(run, kind, rows.size)(s"INSERT INTO ${name(t)} VALUES ${values(rows)}"))
            models(t) ++= rows
        case "merge_cow" | "merge_mor" =>
          val rows = batch(t, existing = BatchRows / 2)
          rows.map { case (k, v) => (k, v, part(k)) }.toDF("k", "v", "p").createOrReplaceTempView("src")
          spark.conf.set("spark.graft.dml.mergeOnRead", (kind == "merge_mor").toString)
          if (dml(run, kind, rows.size)(
              s"MERGE INTO ${name(t)} t USING src s ON t.k = s.k " +
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
            models(t) ++= rows
          spark.conf.unset("spark.graft.dml.mergeOnRead")
        case "update" =>
          val r = rnd.nextInt(50)
          val hit = models(other).collect { case (k, v) if v % 50 == r && models(t).contains(k) => k }
          if (dml(run, kind, hit.size)(
              s"UPDATE ${name(t)} SET v = v + 1 WHERE k IN (SELECT k FROM ${name(other)} WHERE v % 50 = $r)"))
            hit.foreach(k => models(t)(k) += 1)
        case "delete" =>
          val r = rnd.nextInt(50)
          val hit = models(other).collect { case (k, v) if v % 50 == r && models(t).contains(k) => k }
          if (dml(run, kind, hit.size)(
              s"DELETE FROM ${name(t)} a WHERE EXISTS " +
                s"(SELECT 1 FROM ${name(other)} b WHERE b.k = a.k AND b.v % 50 = $r)"))
            models(t) --= hit
        case "select" =>
          run.op(kind, "read") {
            Sql.collect(run, spark, s"SELECT count(*), sum(v), count(DISTINCT k) FROM ${name(t)}")
          }.foreach { rs =>
            val (n, s) = summary(t)
            run.check(s"SELECT ${name(t)}: ${stats(rs)}, model ($n, $s, $n)", stats(rs) == ((n, s, n)))
          }
        case "as_of" =>
          val (id, (n, s)) = commits(t)(commits(t).size / 2)
          run.op(kind, "read") {
            Sql.collect(run, spark,
              s"SELECT count(*), sum(v), count(DISTINCT k) FROM ${name(t)} VERSION AS OF '$id'")
          }.foreach { rs =>
            run.check(s"AS OF $id of ${name(t)}: ${stats(rs)}, recorded ($n, $s, $n)", stats(rs) == ((n, s, n)))
          }
        case "changes" =>
          val j = commits(t).size - 1
          val i = (j - 2).max(0)
          val ((from, (n0, _)), (to, (n1, _))) = (commits(t)(i), commits(t)(j))
          run.op(kind, "read") {
            Sql.collect(run, spark,
              s"SELECT _change_type, count(*) FROM table_changes('${name(t)}', '$from', '$to') GROUP BY _change_type")
          }.foreach { rs =>
            val byType = rs.map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
            val net = byType("insert") - byType("delete")
            run.check(s"table_changes $from..$to of ${name(t)}: net $net, model ${n1 - n0}", net == n1 - n0)
          }
        case "history" =>
          run.op(kind, "read")(Sql.collect(run, spark, s"DESCRIBE HISTORY ${name(t)}")).foreach { rs =>
            val n = log.updates(logName(t)).size
            run.check(s"DESCRIBE HISTORY ${name(t)}: ${rs.length} rows, log $n", rs.length == n)
          }
      }
      if (Writes(kind)) recordCommit(t)
      historyLen
    }

    /** Every table's rows against its model. */
    def checkFinal(run: Run): Unit = (0 until Tables).foreach { t =>
      val got = spark.table(name(t)).as[(Long, Long, String)].collect()
      run.check(s"final rows of ${name(t)}",
        got.length == models(t).size &&
          got.forall { case (k, v, p) => models(t).get(k).contains(v) && p == part(k) })
    }
  }
}
