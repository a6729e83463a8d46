package graft.store

import java.time.ZoneId

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The one reader of the per-table JSON side files that held table
  * metadata before [[TableMeta]] records: `schema.json` and
  * `schemas/v<k>.json`, `sort`, `partition`, `bucket`, `bloom`,
  * `identifier`, `constraints`, `defaults`, `properties`, `cdc`,
  * `renames`, `drops`, `tags`, `stats` and `mv`. Nothing writes them any
  * more; a legacy table is converted once, on first open, and its side
  * files stay where they are. */
private[store] object LegacyMeta {

  /** Side files whose JSON already has the [[TableMeta]] field's shape. */
  private val AsIs = Seq(
    "sortOrder" -> "sort.json",
    "bloomColumns" -> "bloom.json",
    "identifierFields" -> "identifier.json",
    "constraints" -> "constraints.json",
    "defaults" -> "defaults.json",
    "properties" -> "properties.json",
    "renames" -> "renames.json",
    "drops" -> "drops.json",
    "tags" -> "tags.json",
    "stats" -> "stats.json",
    "view" -> "mv.json")

  def present(fs: FileSystem, tableDir: HPath): Boolean =
    fs.exists(new HPath(tableDir, "schema.json"))

  /** Write a legacy table's state out as metadata versions, under the
    * caller's table lock: every `schemas/v<k>.json` becomes
    * `metadata/v<k>.json` holding that schema and the current side-file
    * state (a pre-versioning table gets `v1` from `schema.json`), so old
    * snapshot stamps resolve unchanged. A legacy `bucket.json` becomes a
    * `bucket(n, key)` partition spec rendered in `zone`. The versions are
    * written into a temp directory renamed into place at the end: a
    * crash leaves the table unconverted, never half-converted. */
  def migrate(fs: FileSystem, tableDir: HPath, zone: ZoneId): Unit = {
    val mapper = TableMeta.mapper
    def tree(name: String): Option[JsonNode] = {
      val p = new HPath(tableDir, name)
      if (!fs.exists(p)) None
      else Some(mapper.readTree(SnapshotLog.readLogText(fs, p)))
    }
    val base: ObjectNode = mapper.createObjectNode()
    for ((field, file) <- AsIs; node <- tree(file)) base.set[JsonNode](field, node)
    tree("partition.json") match {
      case Some(p) =>
        base.set[JsonNode]("partition", p)
        if (p.has("zone")) base.put("partitionZone", p.get("zone").asText())
      case None => tree("bucket.json").foreach { b =>
        base.set[JsonNode]("partition", mapper.createObjectNode()
          .put("column", b.get("column").asText()).put("transform", "bucket")
          .put("param", b.get("buckets").asInt()))
        base.put("partitionZone", zone.getId)
      }
    }
    if (fs.exists(new HPath(tableDir, "cdc.json")))
      Option(base.get("properties")).getOrElse(base.putObject("properties"))
        .asInstanceOf[ObjectNode].put(TableStore.ChangeFeedProp, "true")
    val schemasDir = new HPath(tableDir, "schemas")
    val versioned: Seq[(Int, JsonNode)] =
      if (!fs.exists(schemasDir)) Seq.empty
      else fs.listStatus(schemasDir).toSeq.map(_.getPath.getName).collect {
        case n @ TableMeta.VersionName(k) => k.toInt -> tree(s"schemas/$n").get
      }
    val versions =
      if (versioned.nonEmpty) versioned else Seq(1 -> tree("schema.json").get)
    val tmp = new HPath(tableDir, s".${TableMeta.Dir}-${java.util.UUID.randomUUID()}")
    for ((k, schema) <- versions)
      TableMeta.write(fs, tmp, k, mapper.treeToValue(
        base.deepCopy().set[ObjectNode]("schema", schema), classOf[TableMeta]))
    val dst = TableMeta.dir(tableDir)
    if (fs.exists(dst)) fs.delete(dst, true) // empty: no version was found
    if (!fs.rename(TableMeta.dir(tmp), dst))
      throw new java.io.IOException(s"cannot publish $dst")
    fs.delete(tmp, true)
  }
}
