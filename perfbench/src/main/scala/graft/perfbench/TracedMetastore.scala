package graft.perfbench

import graft.core.{Metastore, TableDefinition, TableName, TableVersion}
import graft.core.Metastore.TableChanges

/** The metastore a workload hands to `VersionedMetastore`: every call is
  * passed to `inner`, and recorded as a `core.metastore` span when tracing,
  * with the number of catalog operations each sync applies. */
final class TracedMetastore(inner: Metastore, run: Run) extends Metastore {
  override def register(table: TableDefinition): Unit =
    run.span("core.metastore", "register")(inner.register(table))

  override def currentVersion(table: TableName): TableVersion =
    run.span("core.metastore", "current_version")(inner.currentVersion(table))

  override def update(table: TableName, changes: TableChanges): Unit = {
    run.count("metastore_ops", changes.operations.size.toDouble)
    run.span("core.metastore", "update")(inner.update(table, changes))
  }

  override def computeChanges(current: TableVersion, target: TableVersion): TableChanges =
    inner.computeChanges(current, target)
}
