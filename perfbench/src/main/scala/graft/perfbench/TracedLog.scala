package graft.perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import graft.core.{JsonFileTableVersions, TableName, TableVersion, TableVersions}
import graft.core.TableVersions._

/** The commit log a workload hands to the program: every call is passed
  * to the durable log `inner`, recorded as (method, table), and timed as a
  * `core.log` span named after the method when `run` traces. `sql_mix`
  * binds one to a catalog of its own for its warm-up statements, so the
  * calls one SQL statement makes into the log can be read off
  * (`log_history` replays them); `bulk_load` hands one to
  * `VersionedMetastore`.
  *
  * `tableState` is the full-state read behind `refs` and `commitRebase`;
  * the durable log's own implementation is protected, so it is reached
  * by reflection. */
final class TracedLog(inner: JsonFileTableVersions, run: Run) extends TableVersions {
  private val buf = ArrayBuffer.empty[(String, TableName)]
  private val stateOf = classOf[JsonFileTableVersions].getMethod("tableState", classOf[TableName])

  /** Every call so far: (method, table). */
  def calls: Seq[(String, TableName)] = buf.synchronized(buf.toList)

  private def rec[T](method: String, table: TableName)(body: => T): T = {
    buf.synchronized(buf += method -> table)
    run.span("core.log", method)(body)
  }

  override def init(table: TableName, isSnapshot: Boolean, userId: UserId, message: UpdateMessage,
      timestamp: Instant): Unit =
    rec("init", table)(inner.init(table, isSnapshot, userId, message, timestamp))
  override def currentVersion(table: TableName): TableVersion =
    rec("currentVersion", table)(inner.currentVersion(table))
  override def updates(table: TableName): List[TableUpdateMetadata] =
    rec("updates", table)(inner.updates(table))
  override def lastTxnBatch(table: TableName, appId: String): Option[Long] =
    rec("lastTxnBatch", table)(inner.lastTxnBatch(table, appId))
  override def currentCommit(table: TableName): CommitId =
    rec("currentCommit", table)(inner.currentCommit(table))
  override def versionAt(table: TableName, id: CommitId): TableVersion =
    rec("versionAt", table)(inner.versionAt(table, id))
  override def commit(table: TableName, update: TableUpdate): Unit =
    rec("commit", table)(inner.commit(table, update))
  override def commitIf(table: TableName, update: TableUpdate, expected: CommitId): Boolean =
    rec("commitIf", table)(inner.commitIf(table, update, expected))
  override def commitAll(commits: Seq[(TableName, TableUpdate)]): Unit = {
    commits.foreach { case (t, _) => rec("commitAll", t)(()) }
    inner.commitAll(commits)
  }
  override def setCurrentVersion(table: TableName, id: CommitId): Unit =
    rec("setCurrentVersion", table)(inner.setCurrentVersion(table, id))
  override def commitDetached(table: TableName, update: TableUpdate): Unit =
    rec("commitDetached", table)(inner.commitDetached(table, update))
  override def publish(table: TableName, id: CommitId): Unit =
    rec("publish", table)(inner.publish(table, id))
  override def pendingOperations(table: TableName): List[TableOperation] =
    rec("pendingOperations", table)(inner.pendingOperations(table))
  override def setRef(table: TableName, name: String, id: CommitId, isTag: Boolean): Unit =
    rec("setRef", table)(inner.setRef(table, name, id, isTag))
  override def deleteRef(table: TableName, name: String): Unit =
    rec("deleteRef", table)(inner.deleteRef(table, name))

  override protected def tableState(table: TableName): TableState =
    rec("tableState", table) {
      try stateOf.invoke(inner, table).asInstanceOf[TableState]
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    }
  override protected def handleInit(table: TableName)(newTableState: => TableState): Unit =
    throw new UnsupportedOperationException("init is passed to the inner log")
}
