package graft.perfbench

import java.nio.file.Path
import java.time.LocalDate

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.TableVersions.{CommitId, UpdateMessage, UserId}
import graft.spark.{SparkCatalogMetastore, VersionContext, VersionedReader}
import graft.spark.VersionContext.DatasetVersionOps

/** `bulk_load`: a closed loop of partitioned overwrites through
  * `versionedInsertInto`, with the durable [[JsonFileTableVersions]] log and
  * [[SparkCatalogMetastore]] sync. After each commit, one query reads the
  * rewritten months back through the session catalog, as a downstream
  * consumer of the load would.
  *
  * Every commit is fed from a parquet scan of a lineitem-shaped source with a
  * projection and a computed column (`revenue`), filtered to a run of one to
  * several ship months. Half the commits read the source, whose optimizer
  * size estimate is below the 64 MB advisory size the write size gate
  * compares against; the other half read re-keyed copies of it, made by a
  * cross join, whose estimate is above. Commit sizes follow a fixed cycle
  * (`Schedule`); the seed draws the data and which months each commit
  * rewrites, so every run does the same mix of work.
  *
  * Oracle: per-partition row count and checksum of the current version
  * against the source slices, `AS OF` reads of earlier commits against the
  * state the model recorded at commit time, and every loop read's counts
  * and quantity sums. */
object BulkLoad {
  val SourceRows = 100000L
  val Months = 84 // 1992-01 .. 1998-12
  val SetupPasses = 3
  /** The commits of one cycle, in order: (reads the re-keyed copies,
    * months rewritten). A ladder of commit sizes, 1, 3 and 9 months, each
    * once on each side of the write size gate, so every size and both
    * paths weigh the same. The loop repeats the cycle. */
  val Schedule = Seq((false, 1), (true, 1), (false, 3), (true, 3), (false, 9), (true, 9))
  /** End-to-end metrics cover the first this many whole cycles: about
    * what a 15 s run completes on 4 cores. */
  val MeasuredCycles = 2

  private val User = UserId("perfbench")
  /** Keys of copy `c` are offset by `c * KeySpace`. */
  val KeySpace = 1L << 40

  /** Row checksum of the projection with its keys offset by `keyOffset`,
    * reduced so that sums of millions of them cannot overflow. */
  private def rowHash(keyOffset: Long) = pmod(xxhash64((col("l_orderkey") + lit(keyOffset)) +:
    Seq("l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "revenue", "l_returnflag",
      "l_shipdate", "l_comment").map(col): _*), lit(1000000007L))
  private val First = LocalDate.of(1992, 1, 1)

  def month(i: Int): String = First.plusMonths(i).toString.substring(0, 7)

  def run(run: Run, spark: SparkSession, work: Path, seconds: Double): Unit = {
    val rnd = new Random(run.seed)
    // The source is generated in ship-date order and written in small row
    // groups, so a month's slice reads about its own rows while the size
    // estimate counts the whole source. The larger input is `copies`
    // re-keyed copies of the slice, made by a cross join with the copy
    // numbers, whose size estimate (the product of its sides') exceeds the
    // advisory size.
    val srcDir = work.resolve("source").toString
    generate(spark, run.seed).write.option("parquet.block.size", 256 * 1024).parquet(srcDir)
    val single = spark.read.parquet(srcDir)
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    def estimate(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    def copiesOf(n: Int) = projected(single.crossJoin(spark.range(n).withColumnRenamed("id", "copy"))
      .withColumn("l_orderkey", col("l_orderkey") + col("copy") * KeySpace).drop("copy"))
    val copies = (2 to 16).find(n => BigInt(20) * estimate(copiesOf(n)) > BigInt(21) * advisory).get
    def input(big: Boolean): DataFrame = if (big) copiesOf(copies) else projected(single)
    val (singleEstimate, copiesEstimate) = (estimate(input(false)), estimate(input(true)))
    require(singleEstimate <= advisory, s"the single input must fit the advisory size $advisory: $singleEstimate")

    run.inputs ++= Seq(
      "source_rows" -> SourceRows.toString,
      "source_bytes" -> Storage.dirBytes(Path.of(srcDir)).toString,
      "months" -> Months.toString,
      "copies" -> copies.toString,
      "estimate_bytes_single" -> singleEstimate.toString,
      "estimate_bytes_copies" -> copiesEstimate.toString,
      "advisory_bytes" -> advisory.toString)
    run.mark("inputs")

    spark.sql("CREATE DATABASE IF NOT EXISTS bl")
    Session.trace(run, spark)
    val log = new TracedLog(new JsonFileTableVersions(work.resolve("log")), run)
    val ctx = VersionContext(VersionedMetastore(log, new TracedMetastore(new SparkCatalogMetastore(spark), run)))

    // set-up: create, init and fully load the table
    val tables = (0 until SetupPasses).map { i =>
      run.setup() {
        val loc = work.resolve(s"table$i").toUri
        spark.sql(
          s"""CREATE TABLE bl.lineitem$i (l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,
             |l_linenumber INT, l_quantity BIGINT, revenue DOUBLE, l_returnflag STRING,
             |l_shipdate DATE, l_comment STRING, ship_month STRING)
             |USING parquet PARTITIONED BY (ship_month) LOCATION '$loc'""".stripMargin)
        val t = TableDefinition(TableName("bl", s"lineitem$i"), loc,
          PartitionSchema(List(PartitionColumn("ship_month"))), FileFormat.Parquet)
        ctx.init(t, User, UpdateMessage("init"))
        projected(single).versionedInsertInto(ctx, t, User, UpdateMessage("initial load"))
        t
      }
    }
    run.mark("setup")
    // the months of one cycle's commits: disjoint runs, in random order,
    // with random gaps between them
    def cycleStarts(): Seq[Int] = {
      val slack = Months - Schedule.map(_._2).sum
      val cuts = 0 +: Seq.fill(Schedule.size)(rnd.nextInt(slack + 1)).sorted
      var at = 0
      val starts = rnd.shuffle(Schedule.indices.toList).zip(cuts.zip(cuts.tail)).map { case (i, (c0, c1)) =>
        at += c1 - c0
        val start = at
        at += Schedule(i)._2
        i -> start
      }.toMap
      Schedule.indices.map(starts)
    }
    def slice(big: Boolean, start: Int, n: Int): DataFrame = {
      val from = First.plusMonths(start)
      input(big).where(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(from.plusMonths(n)))
    }
    def readBack(fqn: String, months: Seq[String]): String =
      s"SELECT ship_month, count(*), sum(l_quantity) FROM $fqn " +
        s"WHERE ship_month IN (${months.map(m => s"'$m'").mkString(", ")}) GROUP BY ship_month"
    val table = tables.last
    val fqn = table.name.fullyQualifiedName
    // the model: which input last wrote each month
    val state = mutable.Map.from((0 until Months).map(m => month(m) -> false))
    // warm-up: one cycle of the schedule on the loop's table, untimed, so
    // the loop measures a running loader rather than JIT and first use
    Schedule.zip(cycleStarts()).foreach { case ((big, n), start) =>
      val months = (start until start + n).map(month)
      slice(big, start, n).versionedInsertInto(ctx, table, User, UpdateMessage("warm-up"))
      months.foreach(state(_) = big)
      spark.sql(readBack(fqn, months)).collect()
    }
    run.mark("warm-up")

    // per commit: its operation, commit id, months and the model after it
    val atCommit = ArrayBuffer.empty[(Int, CommitId, Seq[String], Map[String, Boolean])]
    // per read: what it returned and the model's state of those months
    val reads = ArrayBuffer.empty[(Map[String, (Long, Long)], Map[String, Boolean])]
    val tableDir = Path.of(table.location)
    val before = Storage.dataFiles(tableDir).toSet
    val logBytes0 = Storage.dirBytes(work.resolve("log"))
    var historySum = 0L
    def stored() = Storage.storedPerUserByte(Seq(tableDir), spark.table(fqn), work.resolve("plain"))

    // each loop step is one commit and one read
    run.values("cycle_ops") = 2.0 * Schedule.size
    run.values("measured_cycles") = MeasuredCycles
    val schedule = Iterator.continually(Schedule.zip(cycleStarts())).flatten
    run.loop(seconds) { i =>
      val ((big, n), start) = schedule.next()
      val months = (start until start + n).map(month)
      val input = slice(big, start, n)
      historySum += atCommit.size + 2
      run.op(s"commit_${if (big) "copies" else "single"}_$n", "write") {
        input.versionedInsertInto(ctx, table, User, UpdateMessage(s"reload ${months.head} +$n"))
      }.foreach { _ =>
        months.foreach(state(_) = big)
        atCommit += ((run.ops.size - 1, log.currentCommit(table.name), months, state.toMap))
      }
      run.op("read", "read")(Sql.collect(run, spark, readBack(fqn, months))).foreach { rs =>
        reads += rs.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap ->
          months.map(m => m -> state(m)).toMap
      }
      // stored bytes are measured once, untimed, after the first whole
      // cycle, so every run measures the same state
      if (i == Schedule.size - 1) run.values("stored_bytes_per_user_byte") = stored()
    }
    Session.drain(spark)
    run.mark("loop")

    // per input and month: rows, quantity sum, checksum — the source slices
    val expected: Map[Boolean, Map[String, (Long, Long, Long)]] = {
      val perCopy = projected(single).groupBy("ship_month")
        .agg(count(lit(1)), sum("l_quantity") +: (0 until copies).map(c => sum(rowHash(c * KeySpace))): _*)
        .collect().map(r => r.getString(0) -> r).toMap
      Map(
        false -> perCopy.map { case (m, r) => m -> (r.getLong(1), r.getLong(2), r.getLong(3)) },
        true -> perCopy.map { case (m, r) =>
          m -> (r.getLong(1) * copies, r.getLong(2) * copies, (0 until copies).map(c => r.getLong(3 + c)).sum) })
    }

    def expect(m: String, big: Boolean): (Long, Long, Long) = expected(big).getOrElse(m, (0L, 0L, 0L))
    // the rows each commit wrote, now that the slices are counted
    atCommit.foreach { case (op, _, months, s) =>
      run.ops(op) = run.ops(op).copy(rows = months.map(m => expect(m, s(m))._1).sum)
    }

    // oracle, untimed
    reads.foreach { case (got, s) =>
      val want = s.map { case (m, big) => val e = expect(m, big); m -> (e._1, e._2) }
      run.check(s"loop read $got, expected $want", got == want)
    }
    def checksums(df: DataFrame): Map[String, (Long, Long)] =
      df.groupBy("ship_month").agg(count(lit(1)), sum(rowHash(0L))).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def modelChecksums(s: Map[String, Boolean]): Map[String, (Long, Long)] =
      s.collect { case (m, big) if expected(big).contains(m) => val e = expect(m, big); m -> (e._1, e._3) }
    run.check(s"current version of $fqn", checksums(spark.table(fqn)) == modelChecksums(state.toMap))
    val reader = VersionedReader(spark, log)
    rnd.shuffle(atCommit.toList).take(2).foreach { case (_, id, months, s) =>
      val asOf = reader.readAsOf(table, id).where(col("ship_month").isin(months: _*))
      run.check(s"$fqn AS OF ${id.id}", checksums(asOf) == modelChecksums(s).filter(e => months.contains(e._1)))
    }

    run.mark("oracle")
    val commits = atCommit.size.max(1)
    Storage.recordWrites(run, Seq(tableDir), before, commits)
    run.values("core.log.bytes_per_commit") = (Storage.dirBytes(work.resolve("log")) - logBytes0).toDouble / commits
    run.values("core.log.history_len") = historySum.toDouble / commits
    if (!run.values.contains("stored_bytes_per_user_byte")) run.values("stored_bytes_per_user_byte") = stored()
    run.mark("sizes")
  }

  /** `SourceRows` lineitem-shaped rows drawn from `seed`. */
  def generate(spark: SparkSession, seed: Long): DataFrame = {
    def h(i: Int) = xxhash64(col("id"), lit(seed), lit(i))
    def pick(i: Int, xs: String*) = element_at(array(xs.map(lit): _*), (pmod(h(i), lit(xs.size)) + 1).cast("int"))
    // ship dates rise with the key, as order dates do in lineitem
    val ship = date_add(lit(First), (col("id") * 2556 / SourceRows).cast("int"))
    spark.range(0, SourceRows, 1, 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      pmod(h(1), lit(20000L)).as("l_partkey"),
      pmod(h(2), lit(1000L)).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(3), lit(50L)) + 1).as("l_quantity"),
      (pmod(h(4), lit(10000000L)) / 100.0 + 900.0).as("l_extendedprice"),
      (pmod(h(5), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(6), lit(9L)) / 100.0).as("l_tax"),
      pick(8, "A", "N", "R").as("l_returnflag"),
      pick(9, "O", "F").as("l_linestatus"),
      ship.as("l_shipdate"),
      date_add(ship, pmod(h(10), lit(60L)).cast("int")).as("l_commitdate"),
      date_add(ship, pmod(h(11), lit(30L)).cast("int")).as("l_receiptdate"),
      pick(12, "DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN").as("l_shipinstruct"),
      pick(13, "AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK").as("l_shipmode"),
      concat(hex(h(14)), lit(" "), hex(h(15)), lit(" "), hex(h(16))).as("l_comment"))
  }

  /** The loader's projection: a subset of the columns, a computed
    * `revenue`, and the partition column. */
  def projected(source: DataFrame): DataFrame = source.select(
    col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
    col("l_linenumber"), col("l_quantity"),
    (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
    col("l_returnflag"), col("l_shipdate"), col("l_comment"),
    date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
}
