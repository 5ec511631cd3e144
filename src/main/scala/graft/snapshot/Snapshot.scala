package graft.snapshot

import graft.model.{SchemaRegistry, TableId, TableMeta}
import graft.stream.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The "logical basebackup" analog (SURVEY §3.3,
  * `connemara_python/bin/connemara_basebackup.py:97-191`): one
  * consistent source snapshot, schema translation, parallel
  * partitioned copy, deferred validation, and the snapshot↔LSN
  * pinning that hands off to the change stream.
  *
  * Spark mapping: the pinned MVCC snapshot is an immutable source
  * directory; the P-way `ctid % P` copy
  * (`connemara_python/connemara/restore.py:13-28`) becomes
  * `repartition(P, pk)` — which also pre-clusters each table by its
  * merge key, the layout the CDC apply path wants; constraints
  * become validation queries (Spark enforces none — K7 parity note).
  */
object Snapshot {

  final case class TableSpec(id: TableId, pkCols: Seq[String], sourcePath: String)
  final case class TableReport(id: TableId, rows: Long, version: Long)
  final case class Report(tables: Seq[TableReport], startLsn: Long)

  /** Live-database form of [[TableSpec]] — the reference's ACTUAL
    * basebackup input (P-way `ctid % P` COPY over libpq,
    * `connemara_python/connemara/restore.py:13-28`). The Spark analog
    * is `spark.read.jdbc`'s WHERE-clause partitioning: `numPartitions`
    * concurrent range scans over `partitionColumn` (numeric; bounds
    * discovered with one min/max probe when not supplied).
    * `table` is the source-side name as the database sees it
    * (`schema.table`); `id` is the consolidated target identity. */
  final case class JdbcTableSpec(id: TableId, pkCols: Seq[String],
      table: String, partitionColumn: String, numPartitions: Int = 8,
      bounds: Option[(Long, Long)] = None)

  /** Copy every table of one pinned snapshot into the store as
    * version 0 and set the handoff LSN of every database it seeds
    * to `startLsn`, the consistent point the stream resumes from
    * (`CREATE_REPLICATION_SLOT … consistent_point`,
    * `connemara_python/connemara/schema_dump.py:31-37`). `registry`
    * is the store's: it is published with the snapshot.
    */
  def basebackup(
      spark: SparkSession,
      specs: Seq[TableSpec],
      registry: SchemaRegistry,
      store: TableStore,
      storeRoot: String,
      startLsn: Long,
      njobs: Int = 8,
      validatePk: Boolean = false,
      buckets: Option[Int] = None): Report = {
    // one source DataFrame per spec, reused by validation, meta
    // build, and staging — re-opening the parquet repeats footer
    // listing/schema inference per open. The parquet path clusters by
    // PK at stage time (the JDBC path is already range-partitioned by
    // its partition column at the source).
    val entries = specs.map(spec =>
      (spec.id, spec.pkCols,
        spark.read.parquet(spec.sourcePath), true))
    stageSnapshot(entries, registry, store, storeRoot, startLsn,
      njobs, validatePk, buckets)
  }

  /** [[basebackup]] over a LIVE database through `spark.read.jdbc` —
    * the SURVEY §2.1 S5 form: each table copies as `numPartitions`
    * concurrent range scans over its numeric `partitionColumn`
    * (`WHERE pc >= lo AND pc < hi` per task — the Spark analog of the
    * reference's P-way `ctid % P` parallel COPY). Bounds come from the
    * spec or one min/max probe; an empty table falls back to a single
    * partition. `startLsn` is the snapshot's consistent point — on
    * PostgreSQL the `CREATE_REPLICATION_SLOT … consistent_point` taken
    * while the snapshot transaction is held; generic JDBC has no
    * portable equivalent, so the caller supplies it. It becomes each
    * seeded database's handoff LSN, as on the parquet path: the
    * stream engine drops every change below it.
    * `connectionProps` carries driver/user/password. */
  def basebackupJdbc(
      spark: SparkSession,
      url: String,
      connectionProps: Map[String, String],
      specs: Seq[JdbcTableSpec],
      registry: SchemaRegistry,
      store: TableStore,
      storeRoot: String,
      startLsn: Long,
      njobs: Int = 8,
      validatePk: Boolean = false,
      buckets: Option[Int] = None): Report = {
    val entries = specs.map(spec =>
      (spec.id, spec.pkCols,
        jdbcSource(spark, url, connectionProps, spec), false))
    stageSnapshot(entries, registry, store, storeRoot, startLsn,
      njobs, validatePk, buckets)
  }

  /** Partitioned JDBC read for one table (exposed for plan/partition
    * assertions): numPartitions range scans over the partition column,
    * bounds from the spec or a min/max probe. Column names normalize
    * to lowercase — the PostgreSQL unquoted-identifier convention the
    * registry and the CDC decode path use (drivers that uppercase
    * unquoted names, e.g. Derby/Oracle, would otherwise desync the
    * snapshot schema from the change stream's). */
  def jdbcSource(spark: SparkSession, url: String,
      connectionProps: Map[String, String],
      spec: JdbcTableSpec): DataFrame = {
    val props = new java.util.Properties()
    connectionProps.foreach { case (k, v) => props.setProperty(k, v) }
    val discovered = spec.bounds.orElse {
      // names interpolate into SQL — refuse anything but plain
      // (optionally schema-qualified) identifiers
      val pc = requireIdent(spec.partitionColumn, "partitionColumn")
      val tbl = spec.table.split('.').toSeq
        .map(requireIdent(_, "table")).mkString(".")
      val row = spark.read.jdbc(url,
        s"(SELECT MIN($pc) AS lo, MAX($pc) AS hi FROM $tbl) bounds",
        props).head()
      if (row.isNullAt(0)) None // empty table: single-partition read
      else Some((boundToLong(row.get(0)), boundToLong(row.get(1))))
    }
    val df = discovered match {
      case Some((lo, hi)) =>
        spark.read.jdbc(url, spec.table, spec.partitionColumn,
          lo, hi, spec.numPartitions, props)
      case None => spark.read.jdbc(url, spec.table, props)
    }
    df.toDF(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)): _*)
  }

  /** Typed MIN/MAX → Long. The former toString→toDouble round-trip
    * silently lost precision for BIGINT beyond 2^53 (a rounded stride
    * boundary misplaces rows between partitions) and failed oddly on
    * non-integer numerics; integer types convert exactly, DECIMAL
    * floors (Spark's JDBC range partitioning leaves the first/last
    * partitions unbounded, so flooring never drops rows), everything
    * else is rejected with the real reason. */
  private[graft] def boundToLong(v: Any): Long = v match {
    case n: java.lang.Long    => n.longValue
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Short   => n.longValue
    case n: java.lang.Byte    => n.longValue
    case d: java.math.BigDecimal =>
      d.setScale(0, java.math.RoundingMode.FLOOR).longValueExact()
    // MySQL/MariaDB drivers return BigInteger for BIGINT UNSIGNED
    case n: java.math.BigInteger => n.longValueExact()
    case other => throw new IllegalArgumentException(
      s"partition bound $other (${other.getClass.getName}) is not an " +
        "integral type; give explicit bounds in JdbcTableSpec.bounds")
  }

  private val IdentRe = "[A-Za-z_][A-Za-z0-9_$]*".r
  private def requireIdent(s: String, what: String): String = {
    require(IdentRe.pattern.matcher(s).matches(),
      s"""$what "$s" is not a plain SQL identifier""")
    s
  }

  /** Shared staging core: validate everything, stage everything, then
    * register + commit — one consistent cut, all-or-nothing. */
  private def stageSnapshot(
      entries: Seq[(TableId, Seq[String], DataFrame, Boolean)],
      registry: SchemaRegistry,
      store: TableStore,
      storeRoot: String,
      startLsn: Long,
      njobs: Int,
      validatePk: Boolean,
      buckets: Option[Int]): Report = {
    // validate every table BEFORE staging any: all-or-nothing, no
    // orphan version dirs or polluted registry on a late failure.
    // A CDC target MUST be key-unique — duplicate keys make the keyed
    // merge fan out silently (the batch analog of the reference's
    // affected-rows==1 dying, replay.pl:417-421).
    // refuse to re-seed a table CDC has already advanced: the
    // monotonic manifest would keep serving the old version while
    // this snapshot's report claims the new rows were published
    entries.foreach { case (id, _, _, _) =>
      store.manifest().get(id.qualified).filter(_ > 0L).foreach { v =>
        throw new IllegalStateException(
          s"table ${id.qualified} is already at version $v; " +
            "drop it (and vacuum) before re-running the initial snapshot")
      }
    }
    if (validatePk) entries.foreach { case (id, pkCols, src, _) =>
      require(pkCols.nonEmpty, s"table ${id.qualified}: no primary key declared")
      val dups = validatePrimaryKey(src, pkCols).limit(1).count()
      if (dups > 0) throw new IllegalStateException(
        s"table ${id.qualified}: PK ${pkCols.mkString(",")} not unique")
    }
    // build ALL metas up front (source reads may fail — registry must
    // stay clean if any does), stage everything, and only then
    // register + commit: a mid-loop failure leaves no registered-but-
    // uncommitted tables behind.
    val metas = entries.map { case (id, pkCols, src, _) =>
      TableMeta(id, src.schema, pkCols)
    }
    // Stage tables CONCURRENTLY — the analog of the reference's
    // 8-process restore pool (`pool(njobs=8)` over tables,
    // `connemara_python/connemara/restore.py:42-54`). Spark job
    // submission is thread-safe; each table's write+count is small
    // relative to scheduler latency, so overlapping them matters even
    // more than intra-table parallelism on a busy cluster.
    val reports = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val fs = entries.map { case (id, pkCols, src, cluster) => Future {
        // `buckets` seeds the PK-bucketed layout: the snapshot is the
        // one full write a bucketed table ever pays; every CDC batch
        // after it rewrites only touched buckets (BucketedPublish)
        buckets match {
          case Some(n) =>
            store.stageBucketed(id, src, 0L, TableStore.BucketSpec(n, pkCols))
          case None if cluster =>
            store.stage(id, src.repartition(njobs, pkCols.map(col): _*), 0L)
          case None =>
            // JDBC source: keep the range partitioning the parallel
            // read produced — a repartition here would serialize the
            // copy through one extra full shuffle for no layout gain
            store.stage(id, src, 0L)
        }
        TableReport(id, store.readVersion(id, 0L).count(), 0L)
      }}
      Await.result(Future.sequence(fs), Duration.Inf)
    }
    metas.foreach(registry.register)
    // all tables, their databases' handoff LSNs and the registry commit
    // together: one consistent snapshot cut, and no published snapshot
    // without its LSN or its schemas
    store.commitWithDrops(entries.map(_._1 -> 0L).toMap, Set.empty,
      handoffs = entries.map(_._1.database -> startLsn).toMap, registry = Some(registry))
    maybeFail(storeRoot, "post_commit")
    Report(reports, startLsn)
  }

  /** Crash-injection point for tests: `(storeRoot, "post_commit")`
    * throws right after the snapshot's commit. Never set in
    * production. */
  @volatile private[graft] var failpoint: Option[(String, String)] = None

  private def maybeFail(storeRoot: String, point: String): Unit =
    if (failpoint.contains((storeRoot, point))) {
      failpoint = None
      throw new IllegalStateException(s"failpoint: injected crash ($point) in $storeRoot")
    }

  /** Post-data PK validation (K7: "PK/unique enforcement becomes a
    * validation query"): key tuples appearing more than once. */
  def validatePrimaryKey(df: DataFrame, pkCols: Seq[String]): DataFrame =
    df.groupBy(pkCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** FK orphan check (P11's kept FOREIGN KEY constraints): child key
    * tuples with no matching parent. */
  def validateForeignKey(child: DataFrame, childCols: Seq[String],
                         parent: DataFrame, parentCols: Seq[String]): DataFrame = {
    val parentKeys = parent
      .select(parentCols.zip(childCols).map { case (p, c) => col(p).as(c) }: _*)
      .distinct()
    child
      .filter(childCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(childCols.map(col): _*)
      .agg(count(lit(1)).as("n_orphan_rows"))
      .join(parentKeys, childCols, "left_anti")
  }
}
