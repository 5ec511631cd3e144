package graft.stream

import graft.apply.{ApplyEngine, IncrementalAgg}
import graft.decode.Wal2Json
import graft.model.{ChangeRecord, SchemaRegistry, TableId, TableMeta}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
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
  *  - exactly-once (A6): each source database's replay progress —
  *    the replication origin's analog — is committed in the same
  *    manifest write as the data it covers ([[TableStore.progress]]):
  *    the spool position `(insert_timestamp, lsn_start)` of the last
  *    row consumed, and the snapshot's handoff LSN. Every trigger drops
  *    the rows at or before the position and below the handoff LSN
  *    before the parse. A replayed committed trigger is then empty,
  *    whatever the checkpoint says; batch ids record no progress. The
  *    position is spool order, not LSN order: a transaction's
  *    `lsn_start` is where it began, and concurrent transactions
  *    spool in commit order. This assumes each database's rows reach
  *    the spool in position order, a source transaction never
  *    spanning spool files — one daemon per database, one COPY per
  *    transaction, each stamped after the last (K1).
  *  - DDL barrier (A8): DDL records are routed to `ddlHandler`
  *    BEFORE the batch's DML merge, then the registry-backed plans
  *    rebuild — the `DISCARD`/cache-invalidation analog.
  *  - backpressure (A10): `maxFilesPerTrigger`.
  *  - archive (K5 `--keep_data`): with `archive = true` each trigger
  *    appends every spool row it consumed, with its `batch_id`, as one
  *    more part of the store's archive table ([[TableStore.ArchiveId]])
  *    in its own commit, as the reference archives inside the apply's
  *    transaction. Opt-in: it writes on every trigger.
  *  - dead letters: rows with a malformed payload leave the replay and
  *    append, the same way, to the store's quarantine table
  *    ([[TableStore.QuarantineId]]) for offline repair ([[Quarantine]]).
  *  - fail-fast (A9): `strict=true` aborts the trigger on a malformed
  *    payload before anything is staged, and counts merge violations
  *    and aborts the query (affected-rows==1 parity).
  */
final class CdcStreamEngine(
    spark: SparkSession,
    registry: SchemaRegistry,
    store: TableStore,
    ddlHandler: graft.ddl.DdlEvent => Unit = _ => (),
    strict: Boolean = false,
    archive: Boolean = false,
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

  /** Crash-injection point for recovery measurement (StreamBench
    * SPARK_GRAFT_STREAM_KILL_AT / CdcStreamSpec): kill the stream at
    * batch `id`, either `pre_commit` (versions, archive and quarantine
    * parts staged, manifest NOT advanced — the torn-stage crash; replay
    * re-stages the same versions and commits) or
    * `post_commit` (manifest and progress advanced, checkpoint NOT —
    * the double-apply window; the progress empties the replay).
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
    * mid-batch store commit: the rename publishes with the batch's
    * rows and progress, so a crash before the batch's commit leaves
    * neither. */
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
    * everything commits once with the batch, so a replay of a
    * committed batch (emptied by the progress) never runs it. */
  def truncateTableData(id: TableId): Unit =
    registry.get(id).foreach { meta =>
      if (working.contains(id) || store.exists(id))
        working(id) = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], meta.schema)
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
    * each table decodes, collapses and merges on its own thread.
    * Segment merges chain lazily per table; everything is staged on
    * the same pool and committed once, in one manifest write, at the
    * end of the batch.
    *
    * The preamble's payload bytes pick the batch's shape
    * ([[CdcStreamEngine.Shape]]); both shapes give the same tables.
    *  - Small (payload ≤ the session's
    *    `spark.sql.adaptive.coalescePartitions.minPartitionSize`, where
    *    AQE would coalesce a shuffle of the batch into one partition
    *    anyway): each table decodes and collapses in one partition with
    *    no exchange, and one job brings the collapsed rows — with their
    *    PK buckets, for a bucket delta — to the driver as a local
    *    relation. A table whose target files are also at most
    *    `minPartitionSize` then merges in one partition with no
    *    exchange and no broadcast job, and stages as one file: a
    *    DML-only trigger over such a bucketed table runs the preamble's
    *    jobs, the collect and the write.
    *  - Large: the collapse hash-partitions by key over every core
    *    ([[ApplyEngine.collapse]]), the change side is broadcast while
    *    the payload fits the broadcast threshold, and the write
    *    rebalances by bytes.
    */
  def processBatch(batch0: DataFrame, batchId: Long): Unit = {
    val batchSlotted =
      if (slotByDb.isEmpty) batch0
      else batch0.filter(graft.functions.Routing.dbSlotRestriction(
        slotByDb, col("database"), col("source_slotname")))
    // The one replay-skip rule: a row applies only past its database's
    // progress — after the spool position of the last row a committed
    // trigger consumed, and at or above the snapshot's handoff LSN
    // (rows below it are inside the snapshot image; the reference
    // starts replication AT the slot's consistent_point). A database
    // with no progress yet passes whole. The progress enters the plan
    // as one map literal, which generated code references instead of
    // inlining: the filter's code, unlike its values, is the same
    // every trigger, so it compiles once.
    val progress = store.progress()
    val batch =
      if (progress.isEmpty) batchSlotted
      else {
        val none = Long.MinValue
        val p = try_element_at(typedLit(progress.map { case (db, pr) =>
          db -> (pr.handoffLsn.getOrElse(none), pr.consumed.getOrElse((none, none)))
        }), col("database"))
        val (ts, at) = (CdcStreamEngine.spoolTs, p("_2"))
        batchSlotted.filter(p.isNull || (col("lsn_start") >= p("_1") &&
          (ts > at("_1") || (ts === at("_1") && col("lsn_start") > at("_2")))))
      }
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
      // touched-tables collect): per source database, the malformed
      // count, the ordered DDL events, the touched-table set, the
      // payload bytes and the last spool position consumed return from a
      // single aggregate over the cached parse. Per-trigger driver
      // round-trips are the replay loop's fixed cost — at the 30 s
      // reference cadence each one saved is latency on every batch
      // forever (opt guide §1.2: fix the distributed-algorithm shape
      // first; a collect per phase IS the shape here).
      label("preamble")
      val pre = parsedAll.groupBy(col("database")).agg(
        count(when(bad, lit(1))).as("__nbad"),
        collect_list(when(!bad && isDdl && col("p.kind") === "insert",
          struct(col("xid_timestamp"), col("lsn_start"), col("database"),
            map_from_arrays(col("p.columnnames"), col("p.columnvalues")))))
          .as("__ddls"),
        collect_set(when(!bad && !isDdl &&
            !col("p.table").startsWith("pg_temp"),
          struct(col("database"), col("p.schema"), col("p.table"))))
          .as("__touched"),
        CdcStreamEngine.payloadBytes.as("__bytes"),
        max(when(col("lsn_start").isNotNull,
          struct(CdcStreamEngine.spoolTs, col("lsn_start")))).as("__pos")).collect().toSeq
      if (pre.isEmpty) return
      val nBad = pre.map(_.getLong(1)).sum
      val shape = CdcStreamEngine.Shape(spark, pre.map(_.getLong(4)).sum)
      // the spool positions this trigger's commit moves to: the last
      // row it consumed per database, applied or quarantined
      val consumed = pre.collect {
        case r if !r.isNullAt(0) && !r.isNullAt(5) =>
          val pos = r.getStruct(5)
          r.getString(0) -> (pos.getLong(0), pos.getLong(1))
      }.toMap

      // Malformed payloads: fail fast in strict mode (A9 — the
      // reference dies on the first bad row), before anything is
      // staged; the rows stay in the spool, as progress did not move.
      // Otherwise they leave the replay for the quarantine (below).
      if (strict && nBad > 0) {
        val first = parsedAll.filter(bad)
          .orderBy(CdcStreamEngine.spoolTs, col("lsn_start"))
          .select(col("database"), col("insert_timestamp"), col("lsn_start")).head()
        throw new IllegalStateException(
          s"batch $batchId: $nBad unparseable change payloads; the first is from " +
            s"database ${first.get(0)} at insert_timestamp ${first.get(1)}, " +
            s"lsn_start ${first.get(2)}")
      }

      val parsed = parsedAll.filter(!bad)

      // driver-side (ts, lsn) sort replaces the orderBy the old
      // per-batch DDL collect paid for — the list is tiny by cadence
      val ddls = pre.flatMap(_.getSeq[Row](2))
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

      val committed = store.manifest()

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
        val collapsed0 =
          ApplyEngine.collapse(Wal2Json.decodeEvents(segDml, meta), shape.small)
        deltaSpec match {
          case Some(spec) =>
            // bucket-level path: read ONLY the buckets the
            // change keys hash into; the restricted merge equals
            // the full merge restricted to those buckets (every
            // changed key's bucket is in the set by construction)
            val d = BucketedPublish.delta(store, meta, spec, collapsed0, baseVer.get, shape)
            // a patch's target row, if it exists, is in the
            // changed bucket set — restricted check ≡ full
            checkStrict(d.target, d.collapsed)
            // views: pre-images from the restricted buckets
            // (they cover every change key); seed, if first
            // touch, from the full committed table
            val views = maintainViews(meta, d.target, store.read(meta.id), d.collapsed)
            Applied(d.merged, Some(d.changed), views)
          case None =>
            // a committed target has known file bytes; a chained
            // working entry (a later segment, a hook) does not
            val onePartition = !working.contains(meta.id) &&
              baseVer.exists(v => shape.onePartition(store.scanBytes(meta.id, v)))
            val target = working.getOrElse(meta.id, store.read(meta.id))
            // strict and view maintenance each add a consumer of
            // the collapsed plan beyond the merge — materialize once
            // (a small trigger's change set is collected anyway)
            val collapsed =
              if (shape.small) ApplyEngine.toLocal(collapsed0, collapsed0.collect().toSeq)
              else if (strict || aggViews.nonEmpty)
                collapsed0.localCheckpoint(eager = false)
              else collapsed0
            checkStrict(target, collapsed)
            val views = maintainViews(meta, target, target, collapsed)
            // the collapse's own size estimate is the raw events', which
            // can miss the broadcast threshold: the batch-level guard
            // decides, as on the bucket-level path
            Applied(ApplyEngine.merge(target, collapsed, meta, shape.broadcast, onePartition),
              None, views)
        }
      }

      def applySegment(segDml: DataFrame, touched: Seq[TableId]): Unit = {
        val metas = touched.flatMap(registry.get)
        val applied = perTable(metas.map(meta => () => applyTable(segDml, meta)))
        metas.zip(applied).foreach { case (meta, a) =>
          working(meta.id) = a.df
          a.buckets.foreach(workingBuckets(meta.id) = _)
          viewWorking ++= a.views
        }
      }

      if (ddls.isEmpty)
        applySegment(dml, pre.flatMap(_.getSeq[Row](3))
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
        // every entry stages at one version, one above the highest the
        // manifest holds for any of them or for the names they were
        // renamed from (read now: a CREATE TABLE in this batch committed
        // its v=0 mid-batch), so no committed dir is rewritten — a name
        // reused by a rename back sits above its old incarnation's
        // versions — and one trigger's entries share a version
        val now = store.manifest()
        val targetVersion = (entries.map(_._1) ++ pendingRenames.map(_._1))
          .flatMap(tid => now.get(tid.qualified)).foldLeft(-1L)(math.max) + 1
        // delta entries write only their changed buckets; bucketed
        // tables touched any other way (DDL batch, hooks) keep the
        // bucketed layout via a full bucket rewrite. A one-partition
        // merge stages as one file either way.
        def stageOne(tid: TableId, df: DataFrame): Unit = {
          label(s"stage ${tid.qualified}")
          store.bucketSpec(tid) match {
            case Some(spec) =>
              val changed = workingBuckets.get(tid)
              store.stageBucketed(tid, df, targetVersion, spec, changed,
                changed.map(_ => committed(tid.qualified)))
            case None => store.stage(tid, df, targetVersion)
          }
        }
        // parallel staging: disjoint dirs, one commit after the barrier
        perTable(entries.map { case (tid, df) =>
          () => { stageOne(tid, df); tid -> targetVersion }
        }).toMap
      }

      // K5 --keep_data / E4 archive CTE analog, and the dead letters:
      // the consumed spool rows (archive on) and the malformed ones (if
      // any) each append one part to their store table, published by
      // this trigger's commit — the reference archives inside the
      // apply's transaction, `WITH deleted AS (DELETE … RETURNING *)
      // INSERT INTO replication.replayed`
      // (`replayer/connemara_replay.pl:521-526`). A replay of an
      // uncommitted trigger re-stages the same part version; a
      // committed one replays empty and never gets here.
      def stageRows(id: TableId, rows: DataFrame): (TableId, Long) = {
        label(s"stage ${id.qualified}")
        val base = committed.get(id.qualified)
        val version = base.fold(0L)(_ + 1)
        // raw rows from the cached parse, in the spool schema
        store.stageAppend(id, ApplyEngine.conform(rows.withColumn("batch_id", lit(batchId)),
          Quarantine.schema), version, batchId, base)
        id -> version
      }
      val appended =
        (if (archive) Seq(stageRows(TableStore.ArchiveId, parsedAll)) else Nil) ++
          (if (nBad > 0) Seq(stageRows(TableStore.QuarantineId, parsedAll.filter(bad)))
           else Nil)

      // A2/A3: one atomic cross-table commit per batch, carrying the
      // spool positions and, after DDL, the registry (A8: the checkpoint
      // persists only source offsets); renamed-away old names retire
      // in the SAME manifest write (the rename barrier — no crash
      // window between re-key and publish)
      val dropped = pendingRenames.map(_._1)
        .filterNot(o => updates.contains(o)).toSet
      maybeFail(batchId, "pre_commit")
      store.commitWithDrops(updates ++ appended, dropped, consumed = consumed,
        registry = if (ddls.nonEmpty) Some(registry) else None)
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
  /** How one trigger's change sets are planned, from the payload bytes
    * its preamble counts. Those bytes bound any one table's collapsed
    * change set (decode keeps a subset of each payload's text), so
    * each rule compares them with the session setting that AQE or the
    * planner would apply to a shuffle of the batch:
    *  - `small`: at most `minPartitionSize`, the session's
    *    `spark.sql.adaptive.coalescePartitions.minPartitionSize`. AQE
    *    would coalesce a shuffle of the batch into one partition
    *    anyway, so the collapse runs in one partition with no exchange
    *    and its result is collected to the driver.
    *  - `onePartition`: a small trigger whose target files are also at
    *    most `minPartitionSize` merges and writes in one partition. AQE
    *    sizes the write's rebalance by the shuffle bytes over the core
    *    count, never below `minPartitionSize`, so only such a merge would
    *    come out of it as one partition.
    *  - `broadcast`: at most `spark.sql.autoBroadcastJoinThreshold`
    *    (and broadcasts on): the merge broadcasts the change side;
    *    above it the planner picks the join from its own estimates.
    * The settings are the engine session's own; no workload knob. */
  final case class Shape(payloadBytes: Long, minPartitionSize: Long, broadcast: Boolean) {
    def small: Boolean = payloadBytes <= minPartitionSize

    /** Whether a merge onto target files of `targetBytes` runs in one
      * partition with no exchange ([[ApplyEngine.merge]]); the bytes are
      * counted only for a small trigger. */
    def onePartition(targetBytes: => Long): Boolean = small && targetBytes <= minPartitionSize
  }

  /** A batch's payload bytes, as the preamble sums them: the figure a
    * [[Shape]] is chosen from. */
  def payloadBytes: Column = coalesce(sum(octet_length(col("payload"))), lit(0L))

  /** A spool row's `insert_timestamp` in µs, the first half of its
    * spool position ([[TableStore.Progress]]); a row without one sorts
    * first. */
  def spoolTs: Column = coalesce(unix_micros(col("insert_timestamp")), lit(Long.MinValue))

  object Shape {
    def apply(spark: SparkSession, payloadBytes: Long): Shape = {
      val conf = spark.sessionState.conf
      val threshold = conf.autoBroadcastJoinThreshold
      Shape(payloadBytes, conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE),
        broadcast = threshold >= 0 && payloadBytes <= threshold)
    }
  }

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
