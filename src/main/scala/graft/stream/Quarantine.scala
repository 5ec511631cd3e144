package graft.stream

import java.nio.file.{Files, Paths}

import graft.decode.Wal2Json
import graft.model.ChangeRecord
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Offline quarantine repair/requeue — the engine analog of the
  * reference's manual-fix workflow (`replayer/connemara_fixer.pl`):
  * inspect the oldest failed records, repair their payloads, feed them
  * back through the replay. The TUI's interactive edit/apply loop
  * becomes a caller-supplied repair function; the queries it issues —
  * oldest failed record, 30 s repair horizon
  * (`replayer/connemara_fixer.pl:89-102`) — are [[oldestWindow]] and
  * the q8 oracle family.
  *
  * The quarantine is the store's append table
  * [[TableStore.QuarantineId]], one for every source database: each
  * trigger of [[CdcStreamEngine.processBatch]] that meets malformed
  * payloads appends their raw spool rows as one part, in the trigger's
  * own commit. [[requeue]] drains it with one compaction.
  */
object Quarantine {

  /** Rows of the store's quarantine and archive tables: the spool
    * schema plus the trigger that appended them. */
  val schema: StructType =
    StructType(ChangeRecord.schema.fields :+
      StructField("batch_id", LongType))

  /** The committed quarantine; empty when no trigger has quarantined a
    * row. */
  def read(spark: SparkSession, store: TableStore): DataFrame =
    if (store.exists(TableStore.QuarantineId)) store.read(TableStore.QuarantineId)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The fixer's repair horizon (`connemara_fixer.pl:99-102`): only
    * records within `horizonSeconds` of the OLDEST failure — repair
    * proceeds oldest-first, preserving replay order. */
  def oldestWindow(quarantined: DataFrame, horizonSeconds: Int = 30): DataFrame = {
    val mn = quarantined.agg(min(col("insert_timestamp")).as("__mn"))
    quarantined.crossJoin(broadcast(mn))
      .filter(col("insert_timestamp") <=
        col("__mn") + expr(s"INTERVAL $horizonSeconds SECONDS"))
      .drop("__mn")
  }

  /** Test-only crash injection: `Some(spoolDir)` makes the next
    * [[requeue]] into `spoolDir` throw after its spool write and before
    * its quarantine commit, once. Never set in production. */
  @volatile private[graft] var failpoint: Option[String] = None

  /** Repair and requeue: apply `repair` to every committed quarantined
    * row, split by the engine's own validity predicate
    * ([[Wal2Json.partitionValid]]), write the now-valid rows as one
    * parquet spool file (the next micro-batch picks it up), then
    * publish one compaction of the drained parts that keeps only the
    * still-bad rows — the delete-on-success the fixer performs after a
    * manual apply. Parts a trigger appends meanwhile are kept as they
    * are. Offline: no trigger may commit while it runs.
    *
    * The spool file is `requeue_q<b>.parquet`, `b` the quarantine
    * version drained. A requeue that crashed between the file and the
    * commit leaves the drained parts committed: a re-run finds the
    * file, finishes that commit without writing the rows again, and
    * returns its counts; rows quarantined since stay for the next run.
    *
    * Requeued rows re-enter the stream as NEW events: each keeps its
    * `lsn_start`, and its `insert_timestamp` moves 1 µs past the
    * newest spool row of its own database. A repair is the operator's
    * newest statement about the row — an old event applied late would
    * overwrite newer changes to the key — and the trigger that
    * quarantined it moved its database's spool position
    * ([[TableStore.progress]]) past its old one. The move is per
    * database because each database's position is its own: a
    * timestamp taken from another database's rows could jump this one
    * past rows its source has yet to spool.
    *
    * @param repair quarantined rows in, the same columns out
    *               (typically a `withColumn("payload", …)` rewrite)
    * @return (requeued, stillBad) counts
    */
  def requeue(spark: SparkSession, store: TableStore, spoolDir: String,
              repair: DataFrame => DataFrame): (Long, Long) = {
    val id = TableStore.QuarantineId
    store.manifest().get(id.qualified).fold((0L, 0L)) { committed =>
      val parts = store.parts(id, committed).map(_._1)
      def name(b: Long) = s"requeue_q$b"
      def file(b: Long) = Paths.get(spoolDir, s"${name(b)}.parquet")
      // an interrupted requeue: its file names a version whose parts
      // are still committed (every version is a part of its own)
      val pending = parts.find(b => Files.exists(file(b)))
      val b = pending.getOrElse(committed)
      val window = parts.filter(_ <= b)
      val (valid, stillBad) = Wal2Json.partitionValid(
        Wal2Json.parse(repair(store.readParts(id, committed, window))))
      // materialize once: count() and the spool write share the
      // repair/parse/validate pipeline
      val requeued = valid.select(ChangeRecord.schema.fieldNames.map(col).toSeq: _*)
        .localCheckpoint(eager = true)
      val nRequeued = requeued.count()
      if (nRequeued > 0 && pending.isEmpty) {
        // one tiny agg over the spool: each database's newest row, in µs
        val newest =
          if (!Files.exists(Paths.get(spoolDir))) Map.empty[String, Long]
          else spark.read.schema(ChangeRecord.schema).parquet(spoolDir)
            .groupBy(col("database")).agg(max(unix_micros(col("insert_timestamp"))))
            .collect().collect { case r if !r.isNullAt(0) && !r.isNullAt(1) =>
              r.getString(0) -> r.getLong(1)
            }.toMap
        graft.queries.Cdc.writeSpoolFile(
          requeued.withColumn("insert_timestamp", greatest(col("insert_timestamp"),
            timestamp_micros(try_element_at(typedLit(newest), col("database")) + 1))),
          spoolDir, name(b), System.currentTimeMillis())
      }
      if (failpoint.contains(spoolDir)) {
        failpoint = None
        throw new IllegalStateException(s"failpoint: injected crash after ${file(b)}")
      }
      val keep = stillBad.select(schema.fieldNames.map(col).toSeq: _*)
        .localCheckpoint(eager = true)
      store.stageCompaction(id, keep, committed + 1, committed, window)
      store.commit(Map(id -> (committed + 1)))
      (nRequeued, keep.count())
    }
  }
}
