package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.UUID

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.core._
import graft.core.TableVersions._

/** `log_history`: the durable commit log alone, no Spark. A closed loop
  * that replays, cycle after cycle, the calls one block of `sql_mix`
  * statements makes into [[JsonFileTableVersions]] (`Block`), on tables
  * whose histories of thousands of commits were built in set-up.
  *
  * Each replayed statement addresses its own table and, for statements
  * with a subquery, another one, both among a few hot tables with long
  * histories; one call in five instead goes to one of many cold tables
  * with short ones. `versionAt` targets are uniform over the whole
  * history, so a cache of recent states would see both hits and misses.
  *
  * Oracle: every call is replayed on [[InMemoryTableVersions]], and every
  * result the file log returns is compared with the in-memory one; at the
  * end both logs' `currentVersion` and `updates` of every table must agree. */
object LogHistory {
  /** The log calls of one `sql_mix` block, statement by statement, as the
    * `TracedLog` of `sql_mix`'s warm-up records them (`inputs.log_calls.*`
    * of its detail file): `method:table`, table 0 the statement's own and 1
    * the table its subquery reads. `tableState` is the full-state read of
    * `refs` and of `commitRebase` before its `commitIf`. */
  val Block: Seq[(String, String)] = Seq(
    "insert" -> (
        "currentVersion:0 currentVersion:0 currentCommit:0 updates:0 currentVersion:0 " +
        "updates:0 currentCommit:0 updates:0 commitIf:0 currentVersion:0"),
    "select" -> "currentVersion:0 currentCommit:0 updates:0",
    "merge_cow" -> (
        "currentVersion:0 currentVersion:0 currentCommit:0 currentVersion:0 " +
        "currentCommit:0 currentCommit:0 updates:0 currentVersion:0 updates:0 " +
        "currentCommit:0 tableState:0 updates:0 commitIf:0 currentVersion:0"),
    "as_of" -> "tableState:0 versionAt:0 updates:0",
    "update" -> (
        "currentVersion:0 currentVersion:1 currentCommit:1 updates:1 currentCommit:1 " +
        "updates:1 currentVersion:0 currentCommit:0 currentVersion:0 currentCommit:0 " +
        "updates:0 currentCommit:1 updates:1 currentCommit:1 updates:1 currentCommit:1 " +
        "updates:1 currentCommit:1 updates:1 updates:0 currentCommit:1 updates:1 " +
        "currentCommit:1 updates:1 currentCommit:0 tableState:0 updates:0 commitIf:0 " +
        "currentVersion:0"),
    "changes" -> "versionAt:0 versionAt:0 updates:0 updates:0 updates:0",
    "merge_mor" -> (
        "currentVersion:0 currentCommit:0 currentVersion:0 currentCommit:0 updates:0 " +
        "currentVersion:0 currentVersion:0 currentCommit:0 updates:0 currentVersion:0 " +
        "currentCommit:0 updates:0 currentVersion:0 currentCommit:0 updates:0 " +
        "currentCommit:0 updates:0 updates:0 versionAt:0 currentVersion:0 " +
        "currentVersion:0 currentCommit:0 tableState:0 updates:0 updates:0 " +
        "currentVersion:0 commitIf:0 currentVersion:0"),
    "select" -> (
        "currentVersion:0 currentCommit:0 updates:0 currentVersion:0 currentCommit:0 " +
        "updates:0 currentVersion:0 versionAt:0 currentCommit:0 updates:0"),
    "delete" -> (
        "currentVersion:0 currentVersion:1 currentCommit:1 updates:1 currentVersion:1 " +
        "currentCommit:1 updates:1 currentVersion:1 versionAt:1 currentCommit:1 " +
        "updates:1 currentVersion:0 currentCommit:0 currentVersion:0 currentCommit:0 " +
        "updates:0 currentVersion:0 currentCommit:0 updates:0 currentCommit:0 updates:0 " +
        "currentCommit:0 updates:0 currentCommit:0 updates:0 currentVersion:0 " +
        "currentCommit:0 updates:0 currentCommit:0 updates:0 updates:0 currentCommit:0 " +
        "updates:0 currentCommit:0 updates:0 currentCommit:0 tableState:0 updates:0 " +
        "commitIf:0 currentVersion:0"),
    "as_of" -> "tableState:0 versionAt:0 updates:0",
    "history" -> "updates:0")

  /** The calls of one cycle: (statement, method, table 0 or 1). */
  val Cycle: IndexedSeq[(Int, String, Int)] = Block.zipWithIndex.flatMap { case ((_, calls), s) =>
    calls.split(" ").map { c => val Array(m, t) = c.split(":"); (s, m, t.toInt) }
  }.toIndexedSeq

  val HotTables = 3
  val ColdTables = 24
  val HotCommits = 2500
  val ColdCommits = 250
  /** One call in `ColdEvery` of each method goes to a cold table. */
  val ColdEvery = 5
  val PartitionValues = 48
  val SetupWarmPasses = 3
  val SetupPasses = 7
  /** End-to-end metrics cover the first this many whole cycles: about
    * what a 15 s run completes on 4 cores. */
  val MeasuredCycles = 3

  private val User = UserId("perfbench")

  def run(run: Run, work: Path, seconds: Double): Unit = {
    val rnd = new Random(run.seed)
    val logDir = work.resolve("log")
    Files.createDirectories(logDir)
    val model = new InMemoryTableVersions
    val history = mutable.LinkedHashMap.empty[TableName, ArrayBuffer[CommitId]]
    var stamp = Instant.parse("2024-01-01T00:00:00Z")
    var serial = 0L

    def nextUpdate(): TableUpdate = {
      serial += 1
      stamp = stamp.plusMillis(1000L + rnd.nextInt(1000)).plusNanos(rnd.nextInt(1000000))
      val n = 1 + rnd.nextInt(3)
      val ops = List.fill(n) {
        val p = Partition(PartitionColumn("d"), f"p${rnd.nextInt(PartitionValues)}%02d")
        if (rnd.nextInt(20) == 0) TableOperation.RemovePartition(p)
        else TableOperation.AddPartitionVersion(p, Version(stamp, new UUID(rnd.nextLong(), rnd.nextLong())))
      }
      TableUpdate(
        TableUpdateMetadata(CommitId(f"c${run.seed}%d-$serial%08d"), User,
          UpdateMessage(s"commit $serial"), stamp),
        ops)
    }

    // Histories of thousands of commits are inputs: each table's log file
    // is written in the log's line format, as an older writer left it, and
    // the same history is committed to the in-memory model. Building them
    // through `commit` would cost O(history) per call, minutes per run.
    def create(t: TableName, commits: Int): Unit = {
      val init = TableUpdate(
        TableUpdateMetadata(CommitId(s"init-${t.fullyQualifiedName}"), User,
          UpdateMessage("init"), Instant.parse("2024-01-01T00:00:00Z")),
        List(TableOperation.InitTable(t, isSnapshot = false)))
      model.init(t, isSnapshot = false, User, init.metadata.message, init.metadata.timestamp)
      val updates = List.fill(commits)(nextUpdate())
      updates.foreach(model.commit(t, _))
      Files.write(logDir.resolve(s"${t.fullyQualifiedName}.jsonl"),
        (init :: updates).map(LogLines.commit).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      history(t) = ArrayBuffer.from(updates.map(_.metadata.id))
    }

    val hot = (0 until HotTables).map(i => TableName("lh", s"hot_$i"))
    val cold = (0 until ColdTables).map(i => TableName("lh", s"cold_$i"))
    hot.foreach(create(_, HotCommits))
    cold.foreach(create(_, ColdCommits))
    run.mark("inputs")
    run.inputs ++= Seq(
      "tables" -> s"${hot.size} hot x $HotCommits commits, ${cold.size} cold x $ColdCommits commits",
      "cold_every" -> ColdEvery.toString,
      "partition_values" -> PartitionValues.toString,
      "log_bytes_after_setup" -> Storage.dirBytes(logDir).toString)

    val log = new JsonFileTableVersions(logDir)
    // each statement addresses its own hot table and, for a subquery,
    // another one; one call in ColdEvery of each method goes to a random
    // cold table instead
    val coldAt = rnd.nextInt(ColdEvery)
    val calls = mutable.Map.empty[String, Int].withDefaultValue(0)
    var tables = (hot(0), hot(1))
    var appended = 0L
    var historySum = 0L

    /** Issue call `i` of the cycle, recorded in `r`. */
    def call(r: Run, i: Int): Unit = {
      val (s, method, which) = Cycle(i)
      if (i == 0 || Cycle(i - 1)._1 != s) {
        val own = rnd.nextInt(hot.size)
        tables = (hot(own), hot((own + 1 + rnd.nextInt(hot.size - 1)) % hot.size))
      }
      calls(method) += 1
      val t =
        if (calls(method) % ColdEvery == coldAt) cold(rnd.nextInt(cold.size))
        else if (which == 0) tables._1
        else tables._2
      val ids = history(t)
      historySum += ids.size
      def timed[T](cls: String, rows: Long = 0)(body: => T): Option[T] =
        r.op(s"log_$method", cls, rows)(r.span("core.log", method)(body))
      val name = t.fullyQualifiedName
      method match {
        case "commitIf" =>
          // a single client: the expected head is always the current one
          val u = nextUpdate()
          timed("write", u.operations.size)(log.commitIf(t, u, ids.last)).foreach { won =>
            val modelWon = model.commitIf(t, u, ids.last)
            r.check(s"commitIf on $name: log $won, model $modelWon", won && modelWon)
            if (won) { ids += u.metadata.id; appended += 1 }
          }
        case "currentVersion" =>
          timed("read")(log.currentVersion(t)).foreach(v =>
            r.check(s"currentVersion of $name", v == model.currentVersion(t)))
        case "currentCommit" =>
          timed("read")(log.currentCommit(t)).foreach(c =>
            r.check(s"currentCommit of $name", c == model.currentCommit(t)))
        case "updates" =>
          timed("read")(log.updates(t)).foreach(u =>
            r.check(s"updates of $name", sameUpdates(u, model.updates(t))))
        case "versionAt" =>
          val id = ids(rnd.nextInt(ids.size))
          timed("read")(log.versionAt(t, id)).foreach(v =>
            r.check(s"versionAt ${id.id} of $name", v == model.versionAt(t, id)))
        case "tableState" =>
          // `refs` reads the full state once, as commitRebase does
          timed("read")(log.refs(t)).foreach(refs => r.check(s"refs of $name", refs == model.refs(t)))
      }
    }

    // warm-up: two seconds of the same calls, untimed, so the loop measures
    // a running client rather than JIT and first use
    val warm = new Run(run.workload, run.seed, tracing = false)
    val warmUntil = System.nanoTime() + 2000000000L
    var w = 0
    while (System.nanoTime() < warmUntil) { call(warm, w % Cycle.size); w += 1 }
    run.checks += warm.checks
    run.mismatches ++= (warm.mismatches ++ warm.failures).map("warm-up: " + _)
    run.mark("warm-up")

    // set-up, timed: the program opens the log and reads every table's
    // current version and history once, as a client starting on existing
    // tables does; each pass on a fresh instance, checked after its timing.
    // The first passes, untimed, warm this path.
    def openAndRead() = {
      val opened = new JsonFileTableVersions(logDir)
      history.keys.toList.map(t => (t, opened.currentVersion(t), opened.updates(t).size))
    }
    (0 until SetupWarmPasses).foreach(_ => openAndRead())
    (0 until SetupPasses).foreach { _ =>
      val read = run.setup()(openAndRead())
      read.foreach { case (t, v, n) =>
        run.check(s"${t.fullyQualifiedName} reads back as written",
          v == model.currentVersion(t) && n == history(t).size + 1)
      }
    }
    run.mark("setup")

    run.values("cycle_ops") = Cycle.size
    run.values("measured_cycles") = MeasuredCycles
    val bytes0 = Storage.dirBytes(logDir)
    appended = 0L
    historySum = 0L
    calls.clear()
    def stored() = Storage.dirBytes(logDir).toDouble / checkpointedBytes(logDir, work, history.keys)
    // the loop starts on a whole cycle
    run.loop(seconds) { i =>
      call(run, i % Cycle.size)
      // stored bytes are measured once, untimed, after the first whole
      // cycle, so every run measures the same state
      if (i == Cycle.size - 1) run.values("stored_bytes_per_user_byte") = stored()
    }
    val bytes1 = Storage.dirBytes(logDir)

    // final state: both logs agree on every table, read through a fresh
    // instance so nothing the first one holds in memory can mask the files
    val reopened = new JsonFileTableVersions(logDir)
    history.keys.foreach { t =>
      run.check(s"final currentVersion of ${t.fullyQualifiedName}",
        reopened.currentVersion(t) == model.currentVersion(t))
      run.check(s"final updates of ${t.fullyQualifiedName}",
        sameUpdates(reopened.updates(t), model.updates(t)))
    }

    run.values("core.log.bytes_per_commit") = (bytes1 - bytes0).toDouble / appended.max(1)
    run.values("core.log.history_len") = historySum.toDouble / run.ops.size.max(1)
    if (!run.values.contains("stored_bytes_per_user_byte")) run.values("stored_bytes_per_user_byte") = stored()
  }

  /** Equal histories; the init records carry different ids (the model
    * draws its own), so those compare by message only. */
  private def sameUpdates(a: List[TableUpdateMetadata], b: List[TableUpdateMetadata]): Boolean =
    a.size == b.size && a.init == b.init && a.last.message == b.last.message

  /** Bytes the same tables' logs take once each is checkpointed down to its
    * current state: the live state, stored by the log's own format. Works on
    * a copy, so the measured log is left as it was. */
  def checkpointedBytes(logDir: Path, work: Path, tables: Iterable[TableName]): Long = {
    val copy = work.resolve("log-checkpointed")
    Files.walk(logDir).iterator().asScala.toList.foreach { p =>
      val to = copy.resolve(logDir.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val log = new JsonFileTableVersions(copy)
    tables.foreach(t => log.checkpoint(t, keepLast = 0))
    Storage.dirBytes(copy)
  }
}
