package graft.store

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.{JsonGenerator, JsonParser}
import com.fasterxml.jackson.databind.{DeserializationContext, DeserializationFeature, JsonNode, ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.deser.std.StdDeserializer
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import org.apache.hadoop.fs.{FileContext, FileSystem, Path => HPath}
import org.apache.spark.sql.types.{DataType, StructType}

/** A declared CHECK constraint. SQL CHECK semantics: a row violates it
  * only when `expr` evaluates FALSE — NULL (unknown) passes. */
final case class CheckConstraint(name: String, expr: String)

/** One `RENAME COLUMN` event. Data files keep the physical name of their
  * write time, so reads reconcile a column from its whole rename chain. */
final case class Rename(from: String, to: String)

/** The table state one version holds — Iceberg's table-metadata file
  * (https://iceberg.apache.org/spec/#table-metadata), stored as
  * `<table>/metadata/v<N>.json`. A version is written once and never
  * rewritten: every change publishes `v<N+1>` under the table's commit
  * lock ([[TableStore.commitMeta]]), so a reader sees either the old or
  * the new record, and two writers cannot lose each other's update.
  *
  * Snapshots stamp the version current when they committed
  * ([[Snapshot.schemaVersion]]); an AS OF read takes its schema from the
  * stamped version and everything else from the current one.
  * `partitionZone` is the session zone pinned at CREATE (None = a
  * pre-zone table, rendered in the session zone). The change feed is
  * the `change.feed.enabled` property. */
final case class TableMeta(
    schema: StructType,
    sortOrder: Seq[String] = Seq.empty,
    partition: Option[PartitionSpec] = None,
    partitionZone: Option[String] = None,
    bloomColumns: Seq[String] = Seq.empty,
    identifierFields: Seq[String] = Seq.empty,
    constraints: Seq[CheckConstraint] = Seq.empty,
    defaults: Map[String, String] = Map.empty,
    properties: Map[String, String] = Map.empty,
    renames: Seq[Rename] = Seq.empty,
    drops: Seq[String] = Seq.empty,
    // boxed content type: an erased Map[String, Long] would read small
    // ids back as Integer
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    tags: Map[String, Long] = Map.empty,
    stats: Option[TableStats.Stats] = None,
    view: Option[MaterializedView.MvDef] = None) {

  /** Rename events as (from, to) pairs, oldest first. */
  def renameEvents: Seq[(String, String)] = renames.map(r => (r.from, r.to))

  def changeFeedEnabled: Boolean =
    properties.get(TableStore.ChangeFeedProp).contains("true")
}

/** A [[TableMeta]] with the version number it was read from (0 = the
  * table has no record yet). */
private[store] final case class MetaVersion(n: Int, meta: TableMeta)

object TableMeta {
  val Dir = "metadata"

  private[store] val Empty = TableMeta(new StructType())

  private[graft] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    // a schema is stored as Spark's own JSON form, inline
    m.registerModule(new SimpleModule()
      .addSerializer(classOf[StructType], new StdSerializer[StructType](classOf[StructType]) {
        def serialize(v: StructType, g: JsonGenerator, p: SerializerProvider): Unit =
          g.writeRawValue(v.json)
      })
      .addDeserializer(classOf[StructType], new StdDeserializer[StructType](classOf[StructType]) {
        def deserialize(p: JsonParser, c: DeserializationContext): StructType =
          DataType.fromJson(p.readValueAsTree[JsonNode]().toString).asInstanceOf[StructType]
      }))
    // None is left out; "" and empty collections are values to keep
    m.setDefaultPropertyInclusion(JsonInclude.Value.construct(
      JsonInclude.Include.NON_ABSENT, JsonInclude.Include.ALWAYS))
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def dir(tableDir: HPath): HPath = new HPath(tableDir, Dir)
  def path(tableDir: HPath, n: Int): HPath = new HPath(dir(tableDir), s"v$n.json")

  private[store] val VersionName = """v(\d+)\.json""".r

  /** Version numbers present. One directory listing. */
  def versions(fs: FileSystem, tableDir: HPath): Seq[Int] =
    try fs.listStatus(dir(tableDir)).toSeq.map(_.getPath.getName)
      .collect { case VersionName(n) => n.toInt }
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Highest version present (0 = none). */
  def latestVersion(fs: FileSystem, tableDir: HPath): Int =
    versions(fs, tableDir).maxOption.getOrElse(0)

  /** The highest version, or None when the table has no record. */
  def latest(fs: FileSystem, tableDir: HPath): Option[MetaVersion] =
    latestVersion(fs, tableDir) match {
      case 0 => None
      case n => Some(MetaVersion(n, read(fs, tableDir, n)))
    }

  def read(fs: FileSystem, tableDir: HPath, n: Int): TableMeta =
    fromJson(SnapshotLog.readLogText(fs, path(tableDir, n)))

  def fromJson(text: String): TableMeta = mapper.readValue(text, classOf[TableMeta])

  /** Publish version `n`: write a temp file, then rename it to
    * `v<n>.json`. The rename never replaces an existing version. */
  def write(fs: FileSystem, tableDir: HPath, n: Int, m: TableMeta): Unit = {
    val d = dir(tableDir)
    fs.mkdirs(d)
    val tmp = new HPath(d, s".v$n.json.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(mapper.writeValueAsString(m).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = path(tableDir, n)
    try FileContext.getFileContext(dst.toUri, fs.getConf).rename(tmp, dst)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(dst) || !fs.rename(tmp, dst))
          throw new java.io.IOException(s"cannot publish $dst")
    }
  }
}
