package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.TableVersions.{TableOperation, TableUpdate}

/** Commit records in the durable log's JSON-lines format, for histories the
  * benchmark hands the program as pre-existing input. */
object LogLines {
  private val mapper = new ObjectMapper()

  def commit(u: TableUpdate): String = {
    val node = mapper.createObjectNode()
    node.put("record", "commit")
      .put("id", u.metadata.id.id)
      .put("user", u.metadata.userId.value)
      .put("message", u.metadata.message.content)
      .put("timestamp", u.metadata.timestamp.toString)
    val ops = node.putArray("operations")
    u.operations.foreach {
      case TableOperation.InitTable(t, snapshot) =>
        ops.addObject().put("op", "init").put("table", t.fullyQualifiedName).put("snapshot", snapshot)
      case TableOperation.AddTableVersion(v) =>
        ops.addObject().put("op", "add-table-version").put("version", v.label)
      case TableOperation.AddPartitionVersion(p, v) =>
        ops.addObject().put("op", "add-partition-version").put("partition", p.hivePath).put("version", v.label)
      case TableOperation.RemovePartition(p) =>
        ops.addObject().put("op", "remove-partition").put("partition", p.hivePath)
    }
    mapper.writeValueAsString(node)
  }
}
