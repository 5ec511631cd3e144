package graft.model

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.types._

/** Identity of one replicated table: the reference lands each source
  * db's tables in its own target schema `<dbname>_<schema>`
  * (`docs/index.rst:9-13`, `replayer/connemara_rewrite.pm:100-111`).
  */
final case class TableId(database: String, schema: String, table: String) {
  /** Target-side qualified name, reference naming scheme. */
  def targetSchema: String = s"${database}_$schema"
  def qualified: String = s"$targetSchema.$table"
}

/** Per-table metadata the reference keeps in its catalog caches
  * (`%cached_coltypes` / `%cached_pks` / `%cached_uniques`,
  * `replayer/connemara_replay.pl:62-127`): column types, primary-key
  * columns (in `attnum` order — "don't trust wal2json",
  * `replayer/connemara_replay.pl:938-940`), and whether non-PK unique
  * constraints exist (drives dispatch granularity, `:469-479`).
  */
final case class TableMeta(
    id: TableId,
    schema: StructType,
    pkCols: Seq[String],
    hasOtherUniques: Boolean = false) {
  require(pkCols.nonEmpty, s"table ${id.qualified} needs a primary key")
  require(pkCols.forall(schema.fieldNames.contains),
    s"pk columns $pkCols not all in schema of ${id.qualified}")
  def colType(name: String): DataType = schema(name).dataType
  def nonPkCols: Seq[String] = schema.fieldNames.toSeq.filterNot(pkCols.contains)
}

/** The spool-table row shape (`replication.raw_messages`,
  * `connemara_replication/src/connemara_replication.c:457-486`):
  * ordering is `(insert_timestamp, lsn_start)` via its index.
  */
object ChangeRecord {
  val schema: StructType = StructType(Seq(
    StructField("insert_timestamp", TimestampType),
    StructField("database", StringType),
    StructField("lsn_start", LongType), // pg_lsn as uint64
    StructField("xid", LongType),
    StructField("payload", StringType), // raw wal2json change JSON
    StructField("xid_timestamp", TimestampType),
    StructField("source_slotname", StringType)))
}

/** Driver-side registry of replicated-table metadata — the analog of
  * the reference's catalog caches with their DDL-time invalidation
  * (`reset_session` / `DISCARD`, `replayer/connemara_replay.pl:480-503,
  * 580-595`). Thread-safe: the streaming driver invalidates between
  * micro-batches while queries read.
  */
final class SchemaRegistry {
  private val tables = TrieMap.empty[TableId, TableMeta]

  def register(meta: TableMeta): Unit = tables.put(meta.id, meta)
  def get(id: TableId): Option[TableMeta] = tables.get(id)
  def apply(id: TableId): TableMeta =
    tables.getOrElse(id, throw new NoSuchElementException(
      s"no registered metadata for ${id.qualified}"))
  def invalidate(id: TableId): Unit = tables.remove(id)
  def invalidateAll(): Unit = tables.clear()
  def ids: Set[TableId] = tables.keySet.toSet

  /** DDL-driven schema evolution (SURVEY §2.8 A8). Idempotent: a
    * crash-replayed batch re-executes its DDL, so adding an existing
    * column must be a no-op, not a duplicate field. */
  def addColumn(id: TableId, field: StructField): Unit =
    tables.updateWith(id)(_.map(m =>
      if (m.schema.fieldNames.contains(field.name)) m
      else m.copy(schema = StructType(m.schema.fields :+ field))))
  def dropColumn(id: TableId, name: String): Unit =
    tables.updateWith(id)(_.map { m =>
      // PG allows dropping a PK member (the constraint goes with it),
      // but CDC cannot continue without a merge key — fail with a
      // diagnosable error, not TableMeta's bare require message
      if (m.pkCols.contains(name)) throw new IllegalStateException(
        s"cannot drop PK column '$name' of ${id.qualified}: " +
          "CDC apply requires the key; re-register the table with a new key first")
      m.copy(schema = StructType(m.schema.fields.filterNot(_.name == name)))
    })
  def renameColumn(id: TableId, from: String, to: String): Unit =
    tables.updateWith(id)(_.map(m => m.copy(
      schema = StructType(m.schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)),
      pkCols = m.pkCols.map(c => if (c == from) to else c))))
  def alterColumnType(id: TableId, name: String,
                      dt: org.apache.spark.sql.types.DataType): Unit =
    tables.updateWith(id)(_.map(m => m.copy(
      schema = StructType(m.schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = dt) else f)))))

  /** Persist all metadata to one JSON file (atomic rename). The
    * streaming checkpoint only stores source offsets; DDL-evolved
    * schemas must survive a driver restart too, or replay decodes
    * against stale types — [[graft.stream.TableStore.commitWithDrops]]
    * saves it as a registry version published with the data. */
  def save(path: java.nio.file.Path): Unit = {
    val q = graft.JsonUtil.quote _
    val json = tables.values.toSeq
      .sortBy(m => (m.id.database, m.id.schema, m.id.table))
      .map { m =>
        s"""{"database":${q(m.id.database)},"schema":${q(m.id.schema)},""" +
          s""""table":${q(m.id.table)},"pkCols":[${m.pkCols.map(q).mkString(",")}],""" +
          s""""hasOtherUniques":${m.hasOtherUniques},"sparkSchema":${m.schema.json}}"""
      }.mkString("[", ",", "]")
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

object SchemaRegistry {
  /** Load a registry persisted by [[SchemaRegistry.save]]. */
  def load(path: java.nio.file.Path): SchemaRegistry = {
    val registry = new SchemaRegistry
    if (java.nio.file.Files.exists(path)) {
      val json = java.nio.file.Files.readString(path)
      // parse with Spark's own JSON machinery: one row per entry
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(json)
      root.forEach { node =>
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(node.get("sparkSchema").toString)
          .asInstanceOf[StructType]
        val pk = {
          val b = Seq.newBuilder[String]
          node.get("pkCols").forEach(e => b += e.asText())
          b.result()
        }
        registry.register(TableMeta(
          TableId(node.get("database").asText(),
            node.get("schema").asText(), node.get("table").asText()),
          schema, pk, node.get("hasOtherUniques").asBoolean()))
      }
    }
    registry
  }
}
