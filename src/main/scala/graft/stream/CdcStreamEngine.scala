package graft.stream

import graft.apply.{ApplyEngine, IncrementalAgg}
import graft.decode.Wal2Json
import graft.model.{ChangeRecord, SchemaRegistry, TableId, TableMeta}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming CDC replay (SURVEY §2.8): spool file source →
  * per-micro-batch decode/collapse/merge per table → atomic
  * cross-table commit via [[TableStore]].
  *
  * Reference-semantics mapping:
  *  - spool scan in `(insert_timestamp, lsn_start)` order (S3) —
  *    order is irrelevant *across* keys under batch collapse; within
  *    key, [[ApplyEngine.collapse]] sorts by the same clock.
  *  - 30 s event-time commit cadence (A2) ≈ micro-batch boundary; the
  *    manifest is the all-tables-commit-together barrier (A3).
  *  - exactly-once (A6): checkpoint stores source offsets; version
  *    dirs keyed by batchId make replayed batches idempotent.
  *  - DDL barrier (A8): DDL records are routed to `ddlHandler`
  *    BEFORE the batch's DML merge, then the registry-backed plans
  *    rebuild — the `DISCARD`/cache-invalidation analog.
  *  - backpressure (A10): `maxFilesPerTrigger`.
  *  - fail-fast (A9): `strict=true` counts merge violations and
  *    aborts the query (affected-rows==1 parity).
  */
final class CdcStreamEngine(
    spark: SparkSession,
    registry: SchemaRegistry,
    store: TableStore,
    ddlHandler: graft.ddl.DdlEvent => Unit = _ => (),
    strict: Boolean = false,
    archiveDir: Option[String] = None,
    quarantineDir: Option[String] = None,
    startLsn: Option[Long] = None,
    aggViews: Seq[CdcStreamEngine.AggView] = Seq.empty,
    // P5: per-db slot restriction (replayer/connemara_replay.pl:779-799)
    // — a database with a configured slot only accepts rows from that
    // slot (a stale/duplicate slot must not double-apply); dbs without
    // an entry pass freely. The production topology is one daemon per
    // source db feeding ONE consolidated spool, so the filter runs
    // in-engine, not per-source.
    slotByDb: Map[String, String] = Map.empty) {

  // per-batch chained table states; a field so the DDL interpreter's
  // rename hook can rewrite in-flight results (processBatch is the
  // stream's single-threaded driver loop — not reentrant)
  private val working =
    scala.collection.mutable.LinkedHashMap.empty[TableId, DataFrame]
  // live materialized aggregates maintained this batch (keyed by the
  // view's TableId) — committed atomically WITH their source tables
  private val viewWorking =
    scala.collection.mutable.LinkedHashMap.empty[TableId, DataFrame]
  // bucketed tables merged incrementally this batch: the PK buckets
  // their working entry covers (absence = the entry is full-table)
  private val workingBuckets =
    scala.collection.mutable.Map.empty[TableId, Set[Int]]
  // the batch being replayed: its target version and the manifest
  // snapshot taken at batch start — the DDL data hooks consult these
  // so crash-replay can't re-apply effects already published
  private var currentTargetVersion: Long = Long.MinValue
  private var committedAtBatchStart: Map[String, Long] = Map.empty

  /** Crash-injection point for recovery measurement (StreamBench
    * SPARK_GRAFT_STREAM_KILL_AT / CdcStreamSpec): kill the stream at
    * batch `id`, either `pre_commit` (versions staged, manifest NOT
    * advanced — the torn-stage crash; replay re-stages and commits) or
    * `post_commit` (manifest advanced, checkpoint NOT — the
    * double-apply window; replay takes the versioned-publish skip).
    * Parquet staging is itself rename-published, so "mid-write" is
    * not an observable third state — a killed write leaves no visible
    * partial file, only staged-vs-committed. Never set in production.
    */
  private[graft] var failpoint: Option[(Long, String)] = None
  private def maybeFail(batchId: Long, point: String): Unit =
    failpoint.foreach { case (b, p) =>
      if (b == batchId && p == point)
        throw new IllegalStateException(
          s"failpoint: injected crash at batch $batchId ($point)")
    }

  /** Rename-hook target for [[graft.ddl.DdlInterpreter]]: renames in
    * the in-flight working chain, loading the committed version into
    * the chain first if the table wasn't touched yet this batch. No
    * mid-batch store commit — that would collide with the batch's own
    * targetVersion and, on crash-replay, trip the double-apply guard
    * into silently skipping the batch's DML. */
  def renameTableData(id: TableId, from: String, to: String): Unit =
    working.get(id) match {
      case Some(df) => working(id) = df.withColumnRenamed(from, to)
      case None if store.exists(id) =>
        working(id) = store.read(id).withColumnRenamed(from, to)
      case None => ()
    }

  // renames announced by this batch's DDL; the OLD names retire in
  // the same atomic manifest write that publishes the batch (a
  // mid-batch store.rename would leave a crash window where the
  // manifest is re-keyed but the batch never committed)
  private val pendingRenames =
    scala.collection.mutable.Buffer.empty[(TableId, TableId)]

  /** Rename-table hook target: re-key the in-flight working chain so
    * pre-rename DML staged under the old id isn't dropped when the
    * end-of-batch staging loop resolves ids through the (renamed)
    * registry. An untouched committed table is pulled into the chain
    * so its rows get re-staged (and re-committed) under the new name;
    * the old manifest entry retires at the batch's commit barrier. */
  def renameTableEntry(oldId: TableId, newId: TableId): Unit = {
    working.remove(oldId) match {
      case Some(df) => working(newId) = df
      case None if store.exists(oldId) => working(newId) = store.read(oldId)
      case None => ()
    }
    pendingRenames += (oldId -> newId)
    ()
  }

  /** Truncate-hook target: TRUNCATE takes effect inside the working
    * chain at its stream position — pre-truncate DML vanishes with
    * the old rows, post-truncate DML applies onto the empty table;
    * everything commits once with the batch.
    *
    * Crash-replay guard: if this table's manifest version already
    * reached the batch's target, a previous attempt of THIS batch
    * committed the post-truncate state — truncating again would stage
    * an empty table over it and erase the batch's post-truncate DML
    * (the DML segments are skipped by the same-version guard). */
  def truncateTableData(id: TableId): Unit =
    registry.get(id)
      .filter(meta => committedAtBatchStart.get(meta.id.qualified)
        .forall(_ < currentTargetVersion))
      .foreach { meta =>
        if (working.contains(id) || store.exists(id))
          working(id) = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
      }

  /** Fold one segment's collapsed change set into every registered
    * materialized aggregate of this table ([[IncrementalAgg]]): the
    * view is seeded from the pre-batch table on first touch, then
    * kept current by retract-and-add deltas — never recomputed.
    * `preImages` may be bucket-restricted (it must cover the batch's
    * change keys, which the changed-bucket set does by construction);
    * `seed` must be the FULL pre-batch table. Views bind to the
    * source's TableId — maintain views across DDL renames by
    * re-registering under the new id (DDL batches also disable the
    * delta path, so the common case is untouched). Returns the views'
    * new working entries; reads `viewWorking` only, so tables of one
    * segment can run it concurrently. */
  private def maintainViews(meta: TableMeta, preImages: DataFrame,
                            seed: => DataFrame, collapsed: DataFrame): Seq[(TableId, DataFrame)] =
    aggViews.filter(_.source == meta.id).map { v =>
      val prior = viewWorking.get(v.view)
        .orElse(if (store.exists(v.view)) Some(store.read(v.view)) else None)
        .getOrElse(IncrementalAgg.groupState(seed, v.groupCol,
          v.value(c => col(c))))
      val d = IncrementalAgg.delta(preImages, collapsed, meta, v.groupCol, v.value)
      v.view -> IncrementalAgg.applyDelta(prior, d, v.groupCol)
        .localCheckpoint(eager = false)
    }

  /** One micro-batch: the replay loop body. Public for batch-mode
    * reuse and direct testing.
    *
    * DDL is a barrier AT ITS STREAM POSITION (A8): the batch splits
    * into segments around each DDL, DML segments apply in order with
    * the DDL executed between them — so e.g. a RENAME COLUMN
    * mid-batch sees pre-rename DML under the old name and
    * post-rename DML under the new one, exactly like the reference's
    * commit-barrier routing (`replayer/connemara_replay.pl:862-876`).
    * The DDL handler (and with it the rename and truncate hooks) runs
    * on the calling thread, between segments.
    *
    * Within a segment the touched tables apply concurrently on the
    * batch's table pool (one thread per core — the reference's
    * `nb_threads` workers, `replayer/connemara_replay.pl:764-777`):
    * each table decodes, collapses (hash-partitioned by key over every
    * core, [[ApplyEngine.collapse]]) and merges on its own thread.
    * Segment merges chain lazily per table; everything is staged on
    * the same pool and committed once, in one manifest write, at the
    * end of the batch.
    */
  def processBatch(batch0: DataFrame, batchId: Long): Unit = {
    // basebackup→stream handoff: the snapshot already contains every
    // effect up to its pinned LSN (Snapshot.readStartLsn), so events
    // before the cut must not replay — a pre-cut update applied on
    // top of the (newer) snapshotted row would regress it. Mirrors
    // the reference starting replication AT the slot's
    // consistent_point rather than from the WAL's beginning.
    val batchSlotted =
      if (slotByDb.isEmpty) batch0
      else batch0.filter(graft.functions.Routing.dbSlotRestriction(
        slotByDb, col("database"), col("source_slotname")))
    val batch =
      startLsn.fold(batchSlotted)(l => batchSlotted.filter(col("lsn_start") >= l))
    val parsedAll = Wal2Json.parse(batch).cache()
    // the batch's table pool, started on first use
    var pool: java.util.concurrent.ExecutorService = null
    try {
      // P7: DDL routing predicate splits the stream. Only INSERTs
      // carry statements; deletes/updates of the DDL spool table
      // (e.g. processed-row cleanup) are ignorable bookkeeping.
      val isDdl = col("p.schema") === "public" &&
        col("p.table") === "sql_ddl_statements"
      val bad = Wal2Json.invalid

      // §1.5 of the optimization guide: label the replay loop's jobs so
      // a slow trigger decomposes in the UI / profiler without guesswork
      def label(phase: String): Unit =
        spark.sparkContext.setJobDescription(s"cdc batch $batchId: $phase")

      // Run one task per table, concurrently when there are several;
      // results in task order. Every task finishes before the first
      // failure (in task order) is rethrown. Tasks keep the calling
      // thread's job label.
      def perTable[A](tasks: Seq[() => A]): Seq[A] =
        if (tasks.length <= 1) tasks.map(_())
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          if (pool == null) pool = java.util.concurrent.Executors.newFixedThreadPool(
            spark.sparkContext.defaultParallelism)
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          val desc = spark.sparkContext.getLocalProperty("spark.job.description")
          val running = tasks.map(t => Future {
            spark.sparkContext.setJobDescription(desc)
            t()
          })
          running.foreach(Await.ready(_, Duration.Inf))
          running.map(_.value.get.get)
        }

      // ONE preamble action where there used to be four driver
      // round-trips per micro-batch (the emptiness probe, the strict
      // quarantine count, the DDL collect, and the first segment's
      // touched-tables collect): row/malformed counts, the batch's
      // ordered DDL events, and the touched-table set all return from
      // a single aggregate over the cached parse. Per-trigger driver
      // round-trips are the replay loop's fixed cost — at the 30 s
      // reference cadence each one saved is latency on every batch
      // forever (opt guide §1.2: fix the distributed-algorithm shape
      // first; a collect per phase IS the shape here).
      label("preamble")
      val pre = parsedAll.agg(
        count(lit(1)).as("__n"),
        count(when(bad, lit(1))).as("__nbad"),
        collect_list(when(!bad && isDdl && col("p.kind") === "insert",
          struct(col("xid_timestamp"), col("lsn_start"), col("database"),
            map_from_arrays(col("p.columnnames"), col("p.columnvalues")))))
          .as("__ddls"),
        collect_set(when(!bad && !isDdl &&
            !col("p.table").startsWith("pg_temp"),
          struct(col("database"), col("p.schema"), col("p.table"))))
          .as("__touched")).head()
      if (pre.getLong(0) == 0L) return
      val nBad = pre.getLong(1)

      // Malformed payloads: fail fast in strict mode (A9 — the
      // reference dies on the first bad row); otherwise drop them
      // from replay but preserve the raw rows for offline repair.
      // Preserve FIRST — in strict mode they're exactly what the
      // operator needs to diagnose the fail-fast. A clean batch skips
      // the write entirely (dynamic overwrite of zero rows touched no
      // partition anyway, but it still cost a full write action).
      if (nBad > 0) quarantineDir.foreach { dir =>
        label("quarantine")
        parsedAll.filter(bad).drop("p").withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(dir)
      }
      if (strict && nBad > 0) throw new IllegalStateException(
        s"batch $batchId: $nBad unparseable change payloads" +
          quarantineDir.map(d => s" (preserved under $d)").getOrElse(""))

      val parsed = parsedAll.filter(!bad)

      // driver-side (ts, lsn) sort replaces the orderBy the old
      // per-batch DDL collect paid for — the list is tiny by cadence
      val ddls = pre.getSeq[Row](2)
        .map { r =>
          (r.getTimestamp(0), r.getLong(1),
            graft.ddl.DdlInterpreter.eventFrom(
              r.getString(2),
              Map.empty[String, String] ++ r.getMap[String, String](3).collect {
                case (k, v) if v != null => k -> v
              }))
        }
        .sortBy { case (ts, lsn, _) =>
          val i = if (ts == null) java.time.Instant.EPOCH.minusSeconds(1L << 40)
                  else ts.toInstant
          (i.getEpochSecond, i.getNano.toLong, lsn)
        }
        .toArray

      val dml = parsed.filter(!isDdl)
      val pos = struct(col("xid_timestamp"), col("lsn_start"))

      // Batch N publishes version N+1 (v=0 is the initial snapshot).
      // A table already at version ≥ N+1 was committed by a previous
      // attempt of this same batch (crash between manifest commit and
      // checkpoint commit) — skip it, or the replay would double-apply.
      val targetVersion = batchId + 1
      val committed = store.manifest()
      currentTargetVersion = targetVersion
      committedAtBatchStart = committed

      working.clear() // chained working state per table across segments
      viewWorking.clear()
      workingBuckets.clear()
      pendingRenames.clear()

      // Incremental bucket-level publish runs only in DML-only batches
      // (= single segment, registry schemas frozen). A batch with DDL
      // pays a full rewrite of its touched bucketed tables instead —
      // that one rule removes every schema-evolution/rename/truncate
      // edge from the delta path, and DDL batches are rare at the 30 s
      // cadence the reference runs (`replayer/connemara_replay.pl:846-857`).
      val allowDelta = ddls.isEmpty

      // per-segment touched set (DDL batches only — the common DML-only
      // batch gets its set from the preamble aggregate, zero extra jobs)
      def touchedOf(segDml: DataFrame): Seq[TableId] = segDml
        .select(col("database").as("d"), col("p.schema").as("s"), col("p.table").as("t"))
        .filter(!col("t").startsWith("pg_temp")) // P6
        .distinct().collect().toSeq
        .map(r => TableId(r.getString(0), r.getString(1), r.getString(2)))

      // one table's merge of one segment: its new working entry, the
      // buckets it covers (bucket-level path) and its views' entries
      final case class Applied(df: DataFrame, buckets: Option[Set[Int]],
                               views: Seq[(TableId, DataFrame)])

      def applyTable(segDml: DataFrame, meta: TableMeta): Applied = {
        val baseVer = committed.get(meta.id.qualified)
        val deltaSpec =
          if (allowDelta && !working.contains(meta.id))
            store.bucketSpec(meta.id)
              .filter(_ => baseVer.exists(store.isBucketedAt(meta.id, _)))
          else None
        def checkStrict(target: DataFrame, collapsed: DataFrame): Unit =
          if (strict) {
            val nViol = ApplyEngine.violations(target, collapsed, meta).count()
            if (nViol > 0) throw new IllegalStateException(
              s"batch $batchId: $nViol apply violations on ${meta.id.qualified}")
          }
        deltaSpec match {
          case Some(spec) =>
            // bucket-level path: read ONLY the buckets the
            // change keys hash into; the restricted merge equals
            // the full merge restricted to those buckets (every
            // changed key's bucket is in the set by construction)
            val collapsed =
              ApplyEngine.collapse(Wal2Json.decodeEvents(segDml, meta))
                .localCheckpoint(eager = false)
            val changed =
              BucketedPublish.changedBuckets(collapsed, meta, spec.n)
            val target = store.readBuckets(meta.id, changed, baseVer.get)
            // a patch's target row, if it exists, is in the
            // changed bucket set — restricted check ≡ full
            checkStrict(target, collapsed)
            // views: pre-images from the restricted buckets
            // (they cover every change key); seed, if first
            // touch, from the full committed table
            val views = maintainViews(meta, target, store.read(meta.id), collapsed)
            Applied(ApplyEngine.merge(target, collapsed, meta, broadcastChanges = true),
              Some(changed), views)
          case None =>
            val target = working.getOrElse(meta.id, store.read(meta.id))
            val collapsed0 = ApplyEngine.collapse(Wal2Json.decodeEvents(segDml, meta))
            // strict and view maintenance each add a consumer of
            // the collapsed plan beyond the merge — materialize once
            val collapsed =
              if (strict || aggViews.nonEmpty)
                collapsed0.localCheckpoint(eager = false)
              else collapsed0
            checkStrict(target, collapsed)
            val views = maintainViews(meta, target, target, collapsed)
            // a batch's change set is ≪ the table: broadcast it, as the
            // bucket-level path does (the collapse's size estimate is
            // the raw events', which can miss the broadcast threshold)
            Applied(ApplyEngine.merge(target, collapsed, meta, broadcastChanges = true),
              None, views)
        }
      }

      def applySegment(segDml: DataFrame, touched: Seq[TableId]): Unit = {
        val metas = touched.flatMap(registry.get)
          .filter(meta => committed.get(meta.id.qualified).forall(_ < targetVersion))
          // registry-known but neither in-flight nor in the store:
          // the only way here is replaying a committed batch whose
          // rename barrier already retired this name — the final
          // state is published, skip (a fresh CREATE commits v=0
          // immediately, so it never hits this)
          .filter(meta => working.contains(meta.id) || store.exists(meta.id))
        val applied = perTable(metas.map(meta => () => applyTable(segDml, meta)))
        metas.zip(applied).foreach { case (meta, a) =>
          working(meta.id) = a.df
          a.buckets.foreach(workingBuckets(meta.id) = _)
          viewWorking ++= a.views
        }
      }

      if (ddls.isEmpty)
        applySegment(dml, pre.getSeq[Row](3)
          .map(r => TableId(r.getString(0), r.getString(1), r.getString(2))))
      else {
        val bounds = ddls.map { case (ts, lsn, _) => struct(lit(ts), lit(lsn)) }
        val seg0 = dml.filter(pos < bounds.head)
        applySegment(seg0, touchedOf(seg0))
        ddls.indices.foreach { i =>
          ddlHandler(ddls(i)._3) // the barrier: DDL at its position
          // lower bound INCLUSIVE: DML sharing the DDL's exact stream
          // position (same-transaction event-trigger rows) must land
          // in a segment, not vanish between two strict inequalities
          val lower = pos >= bounds(i)
          val seg =
            if (i + 1 < ddls.length) dml.filter(lower && pos < bounds(i + 1))
            else dml.filter(lower)
          applySegment(seg, touchedOf(seg))
        }
      }

      // conform each chained result to the POST-batch registry schema
      // (a later-segment DDL may have evolved it after the merge ran)
      val updates: Map[TableId, Long] = {
        val entries = working.toSeq.flatMap { case (tid, df) =>
          registry.get(tid).map(meta =>
            (tid, ApplyEngine.conform(df, meta.schema)))
        } ++
          // maintained aggregates publish in the SAME atomic commit as
          // their source tables — a reader never sees a view ahead of
          // or behind the table it summarizes
          viewWorking.toSeq
        // delta entries write only their changed buckets; bucketed
        // tables touched any other way (DDL batch, hooks) keep the
        // bucketed layout via a full bucket rewrite
        def stageOne(tid: TableId, df: DataFrame): Unit = {
          label(s"stage ${tid.qualified}")
          store.bucketSpec(tid) match {
            case Some(spec) => workingBuckets.get(tid) match {
              case Some(changed) =>
                store.stageBucketed(tid, df, targetVersion, spec,
                  Some(changed), Some(committed(tid.qualified)))
              case None => store.stageBucketed(tid, df, targetVersion, spec)
            }
            case None => store.stage(tid, df, targetVersion)
          }
        }
        // parallel staging: disjoint dirs, one commit after the barrier
        perTable(entries.map { case (tid, df) =>
          () => { stageOne(tid, df); tid -> targetVersion }
        }).toMap
      }

      // A2/A3: one atomic cross-table commit per batch; renamed-away
      // old names retire in the SAME manifest write (the rename
      // barrier — no crash window between re-key and publish)
      val dropped = pendingRenames.map(_._1)
        .filterNot(o => updates.contains(o)).toSet
      maybeFail(batchId, "pre_commit")
      if (updates.nonEmpty || dropped.nonEmpty)
        store.commitWithDrops(updates, dropped)
      // the checkpoint only persists source offsets — DDL-evolved
      // schemas must survive a driver restart too (A8)
      if (ddls.nonEmpty) registry.save(store.registryPath)
      ()

      // K5 --keep_data / E4 archive CTE analog: applied spool records
      // move to the audit table instead of vanishing. Partitioned by
      // batch so a replayed batch overwrites its own partition
      // (idempotent), mirroring `WITH deleted AS (DELETE … RETURNING *)
      // INSERT INTO replication.replayed` (`replayer/connemara_replay.pl:521-526`).
      archiveDir.foreach { dir =>
        label("archive")
        // raw rows from the cached parse (drop("p") restores the exact
        // spool shape) — the old form re-read the source files
        parsedAll.drop("p").withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(dir)
      }
      maybeFail(batchId, "post_commit")
    } finally {
      if (pool != null) pool.shutdown()
      spark.sparkContext.setJobDescription(null)
      parsedAll.unpersist()
    }
  }

  /** Start the streaming replay over a spool directory. */
  def start(spoolDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Int = 1000): StreamingQuery =
    spark.readStream
      .schema(ChangeRecord.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(spoolDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) => processBatch(batch, batchId))
      .start()

  /** Start the replay on the DataSourceV2 jsonl spool source
    * ([[graft.sources.SpoolSource]]): `filterTables` applies the
    * wal2json `filter-tables` patterns AT THE SOURCE — non-matching
    * changes are dropped while the file is read, the engine-side
    * analog of the server-side pushdown the reference requests at
    * START_REPLICATION (`connemara_replication.c:534-539`). The
    * source's extracted `chg_schema`/`chg_table` columns ride along
    * and are dropped before decode (decode re-derives from the
    * payload; the extracted pair exists for pushdown). */
  def startSpool(spoolDir: String, checkpointDir: String,
                 filterTables: Option[String] = None,
                 trigger: Trigger = Trigger.AvailableNow(),
                 maxFilesPerTrigger: Int = 1000): StreamingQuery =
    startSource(graft.sources.SpoolSource.FORMAT,
      Map("path" -> spoolDir,
        "maxFilesPerTrigger" -> maxFilesPerTrigger.toString) ++
        filterTables.map("filterTables" -> _),
      checkpointDir, trigger)

  /** Start the replay on ANY DataSourceV2 streaming source whose rows
    * carry the [[graft.model.ChangeRecord]] columns — the "a Kafka
    * source slots in behind the same row schema" seam, as a tested
    * contract rather than a comment: the engine depends only on the
    * row SHAPE, never on the spool layout, offsets, or listing
    * mechanics (those live behind the source's own checkpointed
    * offsets). [[startSpool]] itself goes through here, and
    * SourceContractSpec drives the full decode→collapse→merge→commit
    * loop through a second, in-memory provider.
    *
    * Columns beyond ChangeRecord's (the jsonl source's pushdown pair
    * `chg_schema`/`chg_table`, a Kafka source's topic/partition/offset)
    * are dropped before decode; missing columns fail fast here instead
    * of as a misleading analysis error inside the batch loop. */
  def startSource(format: String, options: Map[String, String],
                  checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = options.foldLeft(spark.readStream.format(format)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
    val expected = ChangeRecord.schema.fieldNames
    val missing = expected.filterNot(stream.columns.contains)
    require(missing.isEmpty,
      s"source '$format' does not provide ChangeRecord column(s): " +
        missing.mkString(", "))
    stream.select(expected.map(col): _*)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) => processBatch(batch, batchId))
      .start()
  }
}

object CdcStreamEngine {
  /** A live materialized aggregate over a replicated table: GROUP BY
    * `groupCol` with COUNT + SUM(`value`), maintained per micro-batch
    * by [[graft.apply.IncrementalAgg]] deltas and published
    * atomically with the source table's version. `value` receives a
    * column resolver (see [[IncrementalAgg.delta]]). */
  final case class AggView(
      source: TableId, view: TableId, groupCol: String,
      value: (String => org.apache.spark.sql.Column) => org.apache.spark.sql.Column)

  /** Engine with the full in-stream DDL interpreter wired in (A8). */
  def withDdl(spark: SparkSession, registry: SchemaRegistry, store: TableStore,
              ignoredSchemas: Set[String] = Set.empty,
              md5Whitelist: Set[String] = Set.empty,
              strict: Boolean = false,
              slotByDb: Map[String, String] = Map.empty): CdcStreamEngine = {
    // interpreter and engine reference each other: the engine routes
    // DDL events to the interpreter, the interpreter routes column
    // renames back into the engine's in-flight batch state
    var engine: CdcStreamEngine = null
    val interp = new graft.ddl.DdlInterpreter(
      spark, registry, store, ignoredSchemas, md5Whitelist,
      onRenameData = (id, from, to) => engine.renameTableData(id, from, to),
      onTruncateData = id => engine.truncateTableData(id),
      onRenameTable = (o, n) => engine.renameTableEntry(o, n))
    engine = new CdcStreamEngine(spark, registry, store, interp.execute, strict,
      slotByDb = slotByDb)
    engine
  }
}
