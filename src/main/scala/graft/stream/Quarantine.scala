package graft.stream

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
  * The quarantine dir is written by [[CdcStreamEngine.processBatch]]
  * (non-strict mode): raw spool rows that failed decode, partitioned
  * by the batch that dropped them.
  */
object Quarantine {

  /** Quarantine rows carry the spool schema plus the dropping batch. */
  val schema: StructType =
    StructType(ChangeRecord.schema.fields :+
      StructField("batch_id", LongType))

  /** Read the quarantine dir. Explicit schema plus an existence check:
    * a quarantine that was never written (dir absent) or fully drained
    * reads as empty, not as a listing/inference error. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(dir)
  }

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

  /** Repair and requeue: apply `repair` to every quarantined row,
    * split by the engine's own validity predicate
    * ([[Wal2Json.partitionValid]]), append the now-valid rows to the
    * parquet spool (the next micro-batch picks them up), and rewrite
    * the quarantine to hold only the still-bad rows — the
    * delete-on-success the fixer performs after a manual apply.
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
    * @param repair spool-shaped rows in, spool-shaped rows out
    *               (typically a `withColumn("payload", …)` rewrite);
    *               extra columns beyond the spool schema are ignored,
    *               and `batch_id` is re-attached from the quarantine
    *               automatically
    * @return (requeued, stillBad) counts
    */
  def requeue(spark: SparkSession, quarantineDir: String, spoolDir: String,
              repair: DataFrame => DataFrame): (Long, Long) = {
    val spoolCols = ChangeRecord.schema.fieldNames.map(col).toSeq
    val q = read(spark, quarantineDir)
    val repaired = repair(q)
    val (valid, stillBad0) = Wal2Json.partitionValid(Wal2Json.parse(repaired))
    // the still-bad rewrite needs the engine's batch_id partitioning;
    // a repair that returned strictly spool-shaped rows dropped it
    val stillBad =
      if (stillBad0.columns.contains("batch_id")) stillBad0
      else stillBad0.withColumn("batch_id", lit(-1L))

    val requeued0 = valid.select(spoolCols: _*)
    val requeued = {
      val sp = new org.apache.hadoop.fs.Path(spoolDir)
      val sfs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // one tiny agg over the spool: each database's newest row, in µs
      val newest =
        if (!sfs.exists(sp)) Map.empty[String, Long]
        else spark.read.schema(ChangeRecord.schema).parquet(spoolDir)
          .groupBy(col("database")).agg(max(unix_micros(col("insert_timestamp"))))
          .collect().collect { case r if !r.isNullAt(0) && !r.isNullAt(1) =>
            r.getString(0) -> r.getLong(1)
          }.toMap
      requeued0.withColumn("insert_timestamp", greatest(col("insert_timestamp"),
        timestamp_micros(try_element_at(typedLit(newest), col("database")) + 1)))
    }
    // materialize once: count() and the spool append share the
    // repair/parse/validate pipeline
    val toWrite = requeued.localCheckpoint(eager = true)
    val nRequeued = toWrite.count()
    if (nRequeued > 0)
      toWrite.write.mode("append").parquet(spoolDir)

    // materialize the remainder BEFORE overwriting the dir it reads;
    // keep the engine's partitioned layout so later engine writes
    // (dynamic partition overwrite by batch_id) land consistently
    val keep = stillBad.drop("p").localCheckpoint(eager = true)
    val nStillBad = keep.count()
    keep.write.mode("overwrite").partitionBy("batch_id").parquet(quarantineDir)
    (nRequeued, nStillBad)
  }
}
