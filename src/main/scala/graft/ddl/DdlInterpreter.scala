package graft.ddl

import graft.functions.PgArrayLiteral
import graft.model.{SchemaRegistry, TableId, TableMeta}
import graft.stream.TableStore
import graft.types.PgTypeMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructField

import DdlAst._
import DdlRules._

/** The kill switch fired — the engine must die (fail-fast A9 /
  * P8 parity, `replayer/connemara_replay.pl:294-298`). */
final class KillSwitchException(msg: String) extends RuntimeException(msg)

/** One in-stream DDL event (`public.sql_ddl_statements` row,
  * FIXTURES.md §4). */
final case class DdlEvent(database: String, currentQuery: String,
                          searchPath: String, commandTags: Seq[String])

/** In-stream DDL application (SURVEY §2.8 A8): split → parse →
  * classify (skip / post-data / kill) → schema-remap → apply to
  * registry + store, then the caller's plans rebuild from the
  * registry — the `DISCARD` analog. DROP of a missing table is
  * tolerated (the reference tolerates SQLSTATE 42P01).
  */
final class DdlInterpreter(
    spark: SparkSession,
    registry: SchemaRegistry,
    store: TableStore,
    ignoredSchemas: Set[String] = Set.empty,
    md5Whitelist: Set[String] = Set.empty,
    /** Applies a column rename to table DATA (the registry alone
      * would make schema-conform drop the old column's values). The
      * default rewrites the committed store table; the stream engine
      * overrides it to rename inside its in-flight working chain. */
    onRenameData: (TableId, String, String) => Unit = null,
    /** Applies a TRUNCATE to table DATA. Default: commit an empty
      * version (monotonic, never regressing to v=0); the stream
      * engine overrides to truncate its in-flight working chain, so
      * the truncate publishes in the batch's one commit with its rows
      * and spool positions — a mid-batch store commit would be
      * overwritten by the chained result, and a crash after it would
      * leave the truncate published under positions that replay the
      * whole batch over it. */
    onTruncateData: TableId => Unit = null,
    /** Notifies the caller that a table was renamed (ALTER TABLE …
      * RENAME TO): the stream engine re-keys its in-flight working
      * chain so pre-rename DML isn't dropped at staging time. */
    onRenameTable: (TableId, TableId) => Unit = null) {

  private def renameData(id: TableId, from: String, to: String): Unit =
    if (onRenameData != null) onRenameData(id, from, to)
    else if (store.exists(id)) {
      val v = store.manifest()(id.qualified) + 1
      store.stage(id, store.read(id).withColumnRenamed(from, to), v)
      store.commit(Map(id -> v))
    }

  private def truncateData(id: TableId): Unit =
    if (onTruncateData != null) onTruncateData(id)
    else registry.get(id).foreach { meta =>
      if (store.exists(id)) {
        val v = store.manifest()(id.qualified) + 1
        store.stage(id, spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema), v)
        store.commit(Map(id -> v))
      }
    }

  /** Post-data statements seen so far (indexes/constraints) — the
    * async-maintenance queue (A12). */
  val postData = scala.collection.mutable.Buffer.empty[String]

  def execute(ev: DdlEvent): Unit = {
    val remapper = new SchemaRemapper(ev.database)
    val searchPath = remapper.parseSearchPath(ev.searchPath) match {
      case Seq() => Seq("public")
      case sp    => sp
    }
    StatementSplitter.split(ev.currentQuery).foreach { sql =>
      dispatch(ev.database, DdlAst.parse(sql), searchPath)
    }
  }

  private def dispatch(db: String, stmt: DdlStatement,
                       searchPath: Seq[String]): Unit =
    classify(stmt, ignoredSchemas, md5Whitelist, searchPath) match {
      case Kill     => throw new KillSwitchException(stmt.raw)
      case Skip     => ()
      case PostData => postData += stmt.raw
      case Apply    => stmt match {
        // one SQL statement, several sub-statements (multi-action
        // ALTER, multi-table TRUNCATE/DROP): each part classifies and
        // applies on its own
        case Multi(_, parts) => parts.foreach(dispatch(db, _, searchPath))
        case other           => apply(db, other, searchPath)
      }
    }

  private def tableId(db: String, q: QualifiedName, searchPath: Seq[String]): TableId =
    TableId(db, q.schema.getOrElse(searchPath.headOption.getOrElse("public")), q.name)

  private def apply(db: String, stmt: DdlStatement, searchPath: Seq[String]): Unit =
    stmt match {
      case CreateTable(_, t, cols, ifNotExists, pkCols) if cols.isEmpty =>
        () // e.g. CREATE TABLE (LIKE src): nothing parseable to register

      case CreateTable(_, t, cols, ifNotExists, pkCols) =>
        val id = tableId(db, t, searchPath)
        if (registry.get(id).isEmpty) {
          val fields = cols.map { case (n, typ) =>
            StructField(n, PgTypeMapper.toSpark(typ))
          }
          // PK from the statement itself (table-level or inline);
          // first column only when NO key was declared (the reference
          // discovers PKs from the live catalog). A declared PK that
          // references columns we failed to parse is a fail-fast —
          // merging on a silently-substituted key corrupts CDC apply.
          val pk =
            if (pkCols.isEmpty) Seq(fields.head.name)
            else if (pkCols.forall(c => fields.exists(_.name == c))) pkCols
            else throw new IllegalStateException(
              s"declared PK (${pkCols.mkString(",")}) of ${id.qualified} " +
                s"references unparsed columns (got ${fields.map(_.name).mkString(",")})")
          val meta = TableMeta(id,
            org.apache.spark.sql.types.StructType(fields), pk)
          registry.register(meta)
          store.stage(id, spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema), 0L)
          store.commit(Map(id -> 0L))
        } else if (!ifNotExists) ()

      case DropTable(_, t, _) =>
        val id = tableId(db, t, searchPath)
        registry.invalidate(id) // missing table tolerated (42P01 parity)
        store.drop(id)

      case TruncateTable(_, t) =>
        truncateData(tableId(db, t, searchPath))

      case AddColumn(_, t, name, typ, _) =>
        registry.addColumn(tableId(db, t, searchPath),
          StructField(name, PgTypeMapper.toSpark(typ)))

      case DropColumn(_, t, name, _) =>
        registry.dropColumn(tableId(db, t, searchPath), name)

      case RenameColumn(_, t, from, to) =>
        val id = tableId(db, t, searchPath)
        registry.renameColumn(id, from, to)
        renameData(id, from, to)

      case RenameTable(_, t, to) =>
        val oldId = tableId(db, t, searchPath)
        registry.get(oldId).foreach { meta =>
          val newId = oldId.copy(table = to)
          registry.invalidate(oldId)
          registry.register(meta.copy(id = newId))
          if (onRenameTable != null) {
            // stream engine: the rename persists at the batch's commit
            // barrier (working chain re-keyed, old manifest entry
            // retired atomically with the publish) — a mid-batch
            // store.rename would leave a crash window
            onRenameTable(oldId, newId)
          } else store.rename(oldId, newId)
        }

      case AlterColumnType(_, t, c, typ) =>
        // registry-only: data casts lazily through schema-conform at
        // the next merge/read (ApplyEngine.conform)
        registry.alterColumnType(tableId(db, t, searchPath), c,
          PgTypeMapper.toSpark(typ))

      case Multi(_, parts) => // handled in dispatch; direct calls recurse
        parts.foreach(apply(db, _, searchPath))

      case CreateSchema(_, _, _) => () // schemas are implicit in store paths
      // data-plane no-ops: enum columns land as StringType, sequence
      // state stays with the source (values arrive in-row — S4/F12
      // dispositions in SURVEY §2); parsed forms exist so basebackup
      // can remap and re-render them
      case _: CreateEnum | _: CreateSequence | _: AlterSequence => ()
      case _: CreateFunction => () // replay skips via DdlRules; defensive
      case Other(_, _)           => ()
    }
}

object DdlInterpreter {
  /** Decode a raw `sql_ddl_statements` change into a [[DdlEvent]]. */
  def eventFrom(database: String, columns: Map[String, String]): DdlEvent =
    DdlEvent(
      database,
      columns.getOrElse("current_query", ""),
      columns.getOrElse("search_path", "public"),
      columns.get("command_tags")
        .map(PgArrayLiteral.parse(_).flatten).getOrElse(Seq.empty))
}
