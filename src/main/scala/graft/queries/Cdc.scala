package graft.queries

import scala.jdk.CollectionConverters._

import graft.{GraftQuery, Tables}
import graft.apply.{ApplyEngine, IncrementalAgg}
import graft.decode.Wal2Json
import graft.fixtures.SyntheticCdc
import graft.model.{TableId, TableMeta}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC query surface: the decode→collapse→merge pipeline (SURVEY
  * §2.8 A1/A4/A5) driven by the deterministic synthetic change log,
  * oracle-checked against plain SQL recomputing the same final state.
  */
object Cdc {

  private[graft] def customerMeta(c: DataFrame): TableMeta =
    TableMeta(TableId("srcdb", "public", "customer"), c.schema, Seq("c_custkey"))

  private def events(s: SparkSession, dir: String): (DataFrame, TableMeta) = {
    val c = Tables.customer(s, dir)
    val meta = customerMeta(c)
    val spool = SyntheticCdc.customerLog(s, dir)
    (Wal2Json.decodeEvents(Wal2Json.parse(spool), meta), meta)
  }

  /** Full CDC apply: the engine's flagship operation. */
  val cdc_apply = GraftQuery(
    "cdc_apply",
    (s, dir) => {
      val (evs, meta) = events(s, dir)
      ApplyEngine.applyChanges(Tables.customer(s, dir), evs, meta)
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT * FROM (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 10 IN (4,5,6,7,8,9)
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100, c_mktsegment
        FROM customer WHERE c_custkey % 10 = 2
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100, 'HOT'
        FROM customer WHERE c_custkey % 10 = 1
      UNION ALL
      SELECT c_custkey + 5000000, 'Moved#' || CAST(c_custkey AS VARCHAR),
             c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey + 9000000, 'New#' || CAST(c_custkey AS VARCHAR), c_nationkey,
             CASE WHEN c_custkey % 20 = 4 THEN 50.0 ELSE 0.0 END, 'NEWSEG'
        FROM customer WHERE c_custkey % 10 = 4
      UNION ALL
      SELECT c_custkey, 'Re#' || CAST(c_custkey AS VARCHAR), c_nationkey, 1.0, 'RESEG'
        FROM customer WHERE c_custkey % 20 = 10
      ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
      ORDER BY c_custkey"""))

  /** Same apply, through the PK-bucketed incremental publish path:
    * snapshot seeds a bucketed v=0, the batch merges/rewrites ONLY the
    * buckets its keys hash into (the stream engine's own bucket-delta
    * path, in the shape it would pick for the log), and the read-back
    * resolves through the version's bucketmap. Oracle identical to [[cdc_apply]] — the
    * two paths must be indistinguishable by result; what changes is
    * per-batch work: O(touched buckets), not O(|table|). */
  val cdc_apply_bucketed = GraftQuery(
    "cdc_apply_bucketed",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val meta = customerMeta(c)
      val spec = graft.stream.TableStore.BucketSpec(16, Seq("c_custkey"))
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_bstore_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      graft.ops.Bucketing.cleanupOnExit(root)
      val store = new graft.stream.TableStore(s, root)
      store.stageBucketed(meta.id, c, 0L, spec)
      store.commit(Map(meta.id -> 0L))
      // the log as one trigger, planned in the shape the stream engine
      // would pick for it from its payload bytes. The byte count reads
      // only `payload`, so the parse is pruned out of that job; a cached
      // parse measured no faster.
      val parsed = Wal2Json.parse(SyntheticCdc.customerLog(s, dir))
      val shape = graft.stream.CdcStreamEngine.Shape(s,
        parsed.agg(graft.stream.CdcStreamEngine.payloadBytes).head().getLong(0))
      val collapsed = ApplyEngine.collapse(Wal2Json.decodeEvents(parsed, meta), shape.small)
      graft.stream.BucketedPublish.stageDelta(
        store, meta, spec, collapsed, 1L, 0L, shape)
      store.commit(Map(meta.id -> 1L))
      store.read(meta.id).orderBy(col("c_custkey"))
    },
    cdc_apply.oracle)

  /** Apply over a deliberately hot-keyed log — HALF of all events
    * target one key (SURVEY §2.8 A4 skew). Runs the skew-resistant
    * two-phase collapse: phase 1 folds (key, 30 s time-bucket)
    * shards in parallel (the hot key spreads over many buckets —
    * plan-audited in ApplyEngineSpec), phase 2 composes the few
    * per-key partials with the proven-associative transition monoid.
    * The naive per-key collect_list collapse would drag every
    * hot-key event into a single task — the classic straggler. */
  val cdc_apply_skewed = GraftQuery(
    "cdc_apply_skewed",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val meta = customerMeta(c)
      val collapsed = ApplyEngine.collapseSkewResistant(
        Wal2Json.decodeEvents(
          Wal2Json.parse(SyntheticCdc.hotKeyLog(s, dir)), meta))
      ApplyEngine.merge(c, collapsed, meta, broadcastChanges = true)
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name, c_nationkey,
      CASE WHEN c_custkey = 1 THEN
             (SELECT CAST(max(c_custkey) AS DOUBLE) FROM customer WHERE c_custkey % 2 = 0)
           WHEN c_custkey % 10 = 7 THEN c_acctbal + 1000
           ELSE c_acctbal END AS c_acctbal,
      CASE WHEN c_custkey = 1 THEN
             'SEG' || CAST((SELECT max(c_custkey) FROM customer WHERE c_custkey % 2 = 1) AS VARCHAR)
           ELSE c_mktsegment END AS c_mktsegment
      FROM customer ORDER BY c_custkey"""))

  /** Time travel through the version store: publish the snapshot as
    * v0 and the post-apply state as v1, then read BOTH — v1 through
    * the manifest head, v0 via `readVersion` (the as-of read the
    * versioned layout exists for) — and classify every key
    * inserted/deleted/updated/same between the two cuts. The merge
    * bases on the EXPLICIT v0 (not the manifest head), so re-running
    * the query in a warm session replays idempotently — the same
    * property that makes checkpoint-replay exactly-once (A6).
    * The full-outer join here IS the semantics (a version diff), not
    * the CDC merge path — that one stays left-outer + union. */
  val cdc_time_travel = GraftQuery(
    "cdc_time_travel",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val meta = customerMeta(c)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_ttstore_" +
        s"${s.sparkContext.applicationId}_${Integer.toHexString(dir.hashCode)}"
      graft.ops.Bucketing.cleanupOnExit(root)
      val store = new graft.stream.TableStore(s, root)
      store.stage(meta.id, c, 0L)
      store.commit(Map(meta.id -> 0L))
      val evs = Wal2Json.decodeEvents(
        Wal2Json.parse(SyntheticCdc.customerLog(s, dir)), meta)
      val merged = ApplyEngine.applyChanges(
        store.readVersion(meta.id, 0L), evs, meta)
      store.stage(meta.id, merged, 1L)
      store.commit(Map(meta.id -> 1L))

      val o = store.readVersion(meta.id, 0L).select(
        col("c_custkey").as("k_old"), col("c_name").as("name_old"),
        col("c_nationkey").as("nk_old"), col("c_acctbal").as("bal_old"),
        col("c_mktsegment").as("seg_old"))
      val n = store.read(meta.id).select(
        col("c_custkey").as("k_new"), col("c_name").as("name_new"),
        col("c_nationkey").as("nk_new"), col("c_acctbal").as("bal_new"),
        col("c_mktsegment").as("seg_new"))
      val status = when(col("k_old").isNull, "inserted")
        .when(col("k_new").isNull, "deleted")
        .when(not(
          struct(col("name_old"), col("nk_old"), col("bal_old"), col("seg_old"))
            <=> struct(col("name_new"), col("nk_new"), col("bal_new"),
              col("seg_new"))), "updated")
        .otherwise("same")
      o.join(n, col("k_old") === col("k_new"), "full_outer")
        .select(status.as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    },
    Some("""WITH new_state AS (
      SELECT * FROM (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 10 IN (4,5,6,7,8,9)
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100, c_mktsegment
          FROM customer WHERE c_custkey % 10 = 2
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100, 'HOT'
          FROM customer WHERE c_custkey % 10 = 1
        UNION ALL
        SELECT c_custkey + 5000000, 'Moved#' || CAST(c_custkey AS VARCHAR),
               c_nationkey, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 10 = 3
        UNION ALL
        SELECT c_custkey + 9000000, 'New#' || CAST(c_custkey AS VARCHAR), c_nationkey,
               CASE WHEN c_custkey % 20 = 4 THEN 50.0 ELSE 0.0 END, 'NEWSEG'
          FROM customer WHERE c_custkey % 10 = 4
        UNION ALL
        SELECT c_custkey, 'Re#' || CAST(c_custkey AS VARCHAR), c_nationkey, 1.0, 'RESEG'
          FROM customer WHERE c_custkey % 20 = 10
        ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)),
      old_state AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer)
      SELECT status, COUNT(*) AS n FROM (
        SELECT CASE
          WHEN o.c_custkey IS NULL THEN 'inserted'
          WHEN n.c_custkey IS NULL THEN 'deleted'
          WHEN o.c_name IS DISTINCT FROM n.c_name
            OR o.c_nationkey IS DISTINCT FROM n.c_nationkey
            OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
            OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment THEN 'updated'
          ELSE 'same' END AS status
        FROM old_state o FULL OUTER JOIN new_state n
          ON o.c_custkey = n.c_custkey)
      GROUP BY status ORDER BY status"""))

  /** Decoded merge-event counts (decode layer incl. PK-change
    * expansion into del+row pairs). */
  val cdc_decode_counts = GraftQuery(
    "cdc_decode_counts",
    (s, dir) => {
      val (evs, _) = events(s, dir)
      evs.groupBy(col("op")).agg(count(lit(1)).as("n")).orderBy(col("op"))
    },
    Some("""SELECT op, n FROM (
      SELECT 'row' AS op,
        (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 4)
        + (SELECT COUNT(*) FROM customer WHERE c_custkey % 20 = 10)
        + (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 3) AS n
      UNION ALL SELECT 'del',
        (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 0)
        + (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 3)
      UNION ALL SELECT 'patch',
        (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 IN (1,2))
        + (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 1)
        + (SELECT COUNT(*) FROM customer WHERE c_custkey % 20 = 4)
      ) ORDER BY op"""))

  /** Per-key collapsed final states (the order-fold itself). */
  val cdc_collapse_counts = GraftQuery(
    "cdc_collapse_counts",
    (s, dir) => {
      val (evs, _) = events(s, dir)
      ApplyEngine.collapse(evs)
        .groupBy(col("st")).agg(count(lit(1)).as("n")).orderBy(col("st"))
    },
    Some("""SELECT st, n FROM (
      SELECT 'row' AS st,
        (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 3)
        + (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 4)
        + (SELECT COUNT(*) FROM customer WHERE c_custkey % 20 = 10) AS n
      UNION ALL SELECT 'del',
        (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 0)
        - (SELECT COUNT(*) FROM customer WHERE c_custkey % 20 = 10)
        + (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 3)
      UNION ALL SELECT 'patch',
        (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 IN (1,2))
      ) ORDER BY st"""))

  /** Composite-PK apply over the biggest fixture table: output is an
    * aggregate of the merged state (full 600k-row dumps would slow
    * the gate; sums pin every row's post-merge value anyway). */
  val cdc_apply_lineitem = GraftQuery(
    "cdc_apply_lineitem",
    (s, dir) => {
      // the raw fixture has duplicate (orderkey, linenumber) pairs —
      // CDC needs a key-unique target, so apply onto a deduped
      // projection (mirrored in the oracle)
      // localCheckpoint: `li` feeds three subtrees (target + both log
      // phases) — without it the 600k-row dedup shuffle runs 3×
      val li = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(col("l_quantity")).as("l_quantity"))
        .localCheckpoint(eager = false)
      val meta = TableMeta(
        TableId("srcdb", "public", "lineitem"), li.schema,
        Seq("l_orderkey", "l_linenumber"))
      val spool = SyntheticCdc.lineitemLog(li)
      val events = Wal2Json.decodeEvents(Wal2Json.parse(spool), meta)
      ApplyEngine.applyChanges(li, events, meta)
        .groupBy(pmod(col("l_orderkey"), lit(10)).cast("int").as("okmod"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"))
        .orderBy(col("okmod"))
    },
    Some("""WITH t AS (
        SELECT l_orderkey, l_linenumber, MAX(l_quantity) AS l_quantity
        FROM lineitem GROUP BY 1, 2)
      SELECT CAST(l_orderkey % 10 AS INTEGER) AS okmod,
        COUNT(*) AS n_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM (
        SELECT l_orderkey, l_linenumber,
          CASE WHEN l_orderkey % 10 = 1 THEN l_quantity + 5
               ELSE l_quantity END AS l_quantity
        FROM t
        WHERE NOT (l_orderkey % 10 = 0 AND l_linenumber = 1))
      GROUP BY 1 ORDER BY okmod"""))

  /** Incremental materialized-aggregate maintenance
    * ([[graft.apply.IncrementalAgg]]): a per-nation COUNT/SUM(acctbal)
    * aggregate is seeded from the base table, then kept current by
    * folding the batch's per-group DELTA — pre-images retracted via
    * one PK join, post-images added with merge semantics — WITHOUT
    * recomputing the aggregate over the applied table. The oracle IS
    * that recomputation (DuckDB aggregates the fully-applied final
    * state), so a hash match proves incremental ≡ recompute. */
  val cdc_incr_agg = GraftQuery(
    "cdc_incr_agg",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val meta = customerMeta(c)
      val collapsed = ApplyEngine.collapse(
        Wal2Json.decodeEvents(
          Wal2Json.parse(SyntheticCdc.customerLog(s, dir)), meta))
      val acct = (r: String => org.apache.spark.sql.Column) =>
        r("c_acctbal").cast("decimal(18,6)")
      val state0 = IncrementalAgg.groupState(c, "c_nationkey",
        col("c_acctbal").cast("decimal(18,6)"))
      val d = IncrementalAgg.delta(c, collapsed, meta, "c_nationkey", acct)
      IncrementalAgg.applyDelta(state0, d, "c_nationkey")
        .select(col("c_nationkey"), col("cnt"),
          col("total").cast("double").as("total_acctbal"))
        .orderBy(col("c_nationkey"))
    },
    Some("""WITH final(c_custkey, c_nationkey, c_acctbal) AS (
      SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer WHERE c_custkey % 10 IN (4,5,6,7,8,9)
      UNION ALL
      SELECT c_custkey, c_nationkey, c_acctbal + 100
        FROM customer WHERE c_custkey % 10 = 2
      UNION ALL
      SELECT c_custkey, c_nationkey, c_acctbal + 100
        FROM customer WHERE c_custkey % 10 = 1
      UNION ALL
      SELECT c_custkey + 5000000, c_nationkey, c_acctbal
        FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey + 9000000, c_nationkey,
             CASE WHEN c_custkey % 20 = 4 THEN 50.0 ELSE 0.0 END
        FROM customer WHERE c_custkey % 10 = 4
      UNION ALL
      SELECT c_custkey, c_nationkey, 1.0
        FROM customer WHERE c_custkey % 20 = 10
      )
      SELECT c_nationkey, COUNT(*) AS cnt,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
      FROM final GROUP BY 1 ORDER BY 1"""))

  /** Write `df` as ONE spool file at `$spool/name.parquet` with a
    * forced mtime — the file source replays files in mtime order, so
    * deterministic mtimes make batch ids deterministic. */
  private[graft] def writeSpoolFile(df: DataFrame, spool: String, name: String,
      mtimeMs: Long): Unit = {
    import java.nio.file.{Files, Paths}
    val dir = s"$spool/_stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val part = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.toSeq
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $dir"))
      finally s.close()
    }
    Files.createDirectories(Paths.get(spool))
    val target = Paths.get(s"$spool/$name.parquet")
    Files.move(part, target)
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

  /** Write one spool file PER distinct value of `phase` (an int
    * column) in a SINGLE Spark job: one hash-partitioned partitionBy
    * write puts each phase's rows in its own directory as one file
    * (repartition by phase → a phase never splits across tasks), then
    * each part file moves to `$spool/<nameOf(p)>.parquet` with its
    * forced mtime. Replaces N filter+coalesce(1) write jobs — the
    * per-phase spool prep was N full write actions for one logical
    * pass (opt guide §2.4: one exchange can serve every phase). */
  private[graft] def writeSpoolFilesByPhase(df: DataFrame,
      phase: org.apache.spark.sql.Column, spool: String,
      nameOf: Int => String, mtimeOf: Int => Long,
      expected: Seq[Int]): Unit = {
    import java.nio.file.{Files, Paths}
    val dir = s"$spool/_stage_phases"
    df.withColumn("__phase", phase.cast("int"))
      .repartition(col("__phase"))
      .write.mode("overwrite").partitionBy("__phase").parquet(dir)
    Files.createDirectories(Paths.get(spool))
    val phaseDirs = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("__phase="))
      finally s.close()
    }
    // fail loudly on a silently-empty phase: partitionBy writes no
    // directory for a phase with zero rows, which would shift every
    // later micro-batch id while the oracle hard-codes batch_id per
    // phase (ADVICE r15) — the old per-phase writer kept the batch
    // ids stable, so an empty phase must be an error, not a skip
    val produced = phaseDirs
      .map(_.getFileName.toString.stripPrefix("__phase=").toInt).toSet
    require(expected.toSet == produced,
      s"writeSpoolFilesByPhase: expected phases ${expected.sorted.mkString(",")} " +
        s"but the write produced ${produced.toSeq.sorted.mkString(",")} — " +
        "an empty phase would silently renumber every later micro-batch")
    phaseDirs.foreach { pd =>
      val p = pd.getFileName.toString.stripPrefix("__phase=").toInt
      val parts = {
        val s = Files.list(pd)
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      require(parts.size == 1,
        s"expected exactly one file for phase $p, found ${parts.size}")
      val target = Paths.get(s"$spool/${nameOf(p)}.parquet")
      Files.move(parts.head, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(mtimeOf(p)))
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

  /** K5 archive mode as an oracled query: the deterministic change
    * log replays through the REAL engine (one spool file per phase →
    * one micro-batch per phase), with `archive` on — applied
    * records move to the store's archive table, tagged with their
    * batch id, instead of vanishing (the reference's `WITH deleted AS (DELETE … RETURNING *)
    * INSERT INTO replication.replayed`,
    * `replayer/connemara_replay.pl:521-526`). Output: the audit
    * trail's (batch, kind) histogram; the oracle recomputes each
    * phase's record count from the customer fixture. */
  val cdc_archive = GraftQuery(
    "cdc_archive",
    (s, dir) => {
      import java.nio.file.Files
      val c = Tables.customer(s, dir)
      val meta = customerMeta(c)
      val tmp = Files.createTempDirectory("graft-q-arch-").toString
      val (spool, ckpt, root) = (s"$tmp/spool", s"$tmp/ckpt", s"$tmp/store")
      // all 7 phase files from ONE write job (the phase is recoverable
      // from the fixture's per-phase insert_timestamp); the old form
      // was an eager checkpoint + 7 filter+coalesce write actions
      writeSpoolFilesByPhase(SyntheticCdc.customerLog(s, dir),
        unix_seconds(col("insert_timestamp")) - 1700000000L, spool,
        p => s"phase_$p", p => 1700000000000L + p * 60000L,
        expected = 1 to 7)
      val registry = new graft.model.SchemaRegistry
      registry.register(meta)
      val store = new graft.stream.TableStore(s, root)
      store.stage(meta.id, c, 0L)
      store.commit(Map(meta.id -> 0L))
      val engine = new graft.stream.CdcStreamEngine(s, registry, store, archive = true)
      engine.start(spool, ckpt, maxFilesPerTrigger = 1).awaitTermination()
      store.read(graft.stream.TableStore.ArchiveId)
        .select(col("batch_id").cast("int").as("batch_id"),
          get_json_object(col("payload"), "$.kind").as("kind"))
        .groupBy(col("batch_id"), col("kind"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("batch_id"), col("kind"))
    },
    Some("""SELECT * FROM (
      SELECT 0 AS batch_id, 'update' AS kind, COUNT(*) AS n
        FROM customer WHERE c_custkey % 10 IN (1,2) HAVING COUNT(*) > 0
      UNION ALL SELECT 1, 'update', COUNT(*)
        FROM customer WHERE c_custkey % 10 = 1 HAVING COUNT(*) > 0
      UNION ALL SELECT 2, 'update', COUNT(*)
        FROM customer WHERE c_custkey % 10 = 3 HAVING COUNT(*) > 0
      UNION ALL SELECT 3, 'insert', COUNT(*)
        FROM customer WHERE c_custkey % 10 = 4 HAVING COUNT(*) > 0
      UNION ALL SELECT 4, 'update', COUNT(*)
        FROM customer WHERE c_custkey % 20 = 4 HAVING COUNT(*) > 0
      UNION ALL SELECT 5, 'delete', COUNT(*)
        FROM customer WHERE c_custkey % 10 = 0 HAVING COUNT(*) > 0
      UNION ALL SELECT 6, 'insert', COUNT(*)
        FROM customer WHERE c_custkey % 20 = 10 HAVING COUNT(*) > 0
      ) t(batch_id, kind, n) ORDER BY batch_id, kind"""))

  /** Quarantine → repair → requeue as an oracled query: %10=2 keys
    * arrive as valid acctbal updates, %10=1 keys arrive MALFORMED
    * (kind "upd8") and quarantine instead of stalling the batch; the
    * operator repair rewrites the kind, [[graft.stream.Quarantine
    * .requeue]] re-stamps them into the spool, and the next engine
    * run applies them. Output: the affected slice of the final table
    * — the oracle is what the table would hold had nothing ever been
    * malformed (repair+requeue loses no effect). */
  val cdc_quarantine_requeue = GraftQuery(
    "cdc_quarantine_requeue",
    (s, dir) => {
      import java.nio.file.Files
      val c = Tables.customer(s, dir)
      val meta = customerMeta(c)
      val tmp = Files.createTempDirectory("graft-q-quar-").toString
      val (spool, ckpt, root) = (s"$tmp/spool", s"$tmp/ckpt", s"$tmp/store")
      val k = col("c_custkey")
      val ks = k.cast("string")
      // single-scan fixture: both event classes are per-row array
      // elements over ONE customer scan (the round-15 SyntheticCdc
      // shape — a 2-branch union doubled the scan and the plan)
      def spoolStruct(payload: org.apache.spark.sql.Column) =
        struct(
          timestamp_seconds(lit(1700000001L)).as("insert_timestamp"),
          lit("srcdb").as("database"),
          (lit(10000000L) + k).as("lsn_start"),
          (lit(100000L) + k).as("xid"),
          payload.as("payload"),
          timestamp_seconds(lit(1700000060L)).as("xid_timestamp"),
          lit("slot1").as("source_slotname"))
      val valid = spoolStruct(
        concat(
          lit("""{"kind":"update","schema":"public","table":"customer",""" +
            """"columnnames":["c_custkey","c_acctbal"],"columnvalues":["""),
          ks, lit(",\""), (col("c_acctbal") + 100).cast("string"),
          lit("\"]," + """"oldkeys":{"keynames":["c_custkey"],"keyvalues":["""),
          ks, lit("]}}")))
      val broken = spoolStruct(
        concat(
          lit("""{"kind":"upd8","schema":"public","table":"customer",""" +
            """"columnnames":["c_custkey","c_mktsegment"],""" +
            """"columnvalues":["""),
          ks,
          lit(""","HOT"],"oldkeys":{"keynames":["c_custkey"],"keyvalues":["""),
          ks, lit("]}}")))
      val log = c.select(explode(filter(array(
          when(pmod(k, lit(10)) === 2, valid),
          when(pmod(k, lit(10)) === 1, broken)), e => e.isNotNull)).as("__r"))
        .select(col("__r.*"))
      writeSpoolFile(log, spool, "batch_1", 1700000000000L)
      val registry = new graft.model.SchemaRegistry
      registry.register(meta)
      val store = new graft.stream.TableStore(s, root)
      store.stage(meta.id, c, 0L)
      store.commit(Map(meta.id -> 0L))
      val engine = new graft.stream.CdcStreamEngine(s, registry, store)
      engine.start(spool, ckpt).awaitTermination()
      val (requeued, stillBad) = graft.stream.Quarantine.requeue(
        s, store, spool,
        q => q.withColumn("payload",
          regexp_replace(col("payload"), "\"upd8\"", "\"update\"")))
      require(stillBad == 0, s"unexpected hopeless rows: $stillBad")
      require(requeued > 0, "nothing quarantined — fixture broke")
      engine.start(spool, ckpt).awaitTermination()
      store.read(meta.id)
        .filter(pmod(col("c_custkey"), lit(10)).isin(1, 2))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT * FROM (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
             c_mktsegment
        FROM customer WHERE c_custkey % 10 = 2
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, 'HOT'
        FROM customer WHERE c_custkey % 10 = 1
      ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
      ORDER BY c_custkey"""))

  /** In-stream DDL schema evolution (A8) as an oracled query: batch 0
    * applies plain acctbal patches; batch 1 carries an
    * `ALTER TABLE customer ADD c_tier text` through the spool's
    * `sql_ddl_statements` channel (P7 routing) followed IN THE SAME
    * BATCH by patches that write the new column — the DDL is a
    * barrier at its stream position, so the post-DDL events decode
    * against the evolved schema and pre-existing rows read back with
    * a NULL tier. Previously covered only by DdlSpec/CdcStreamSpec;
    * this row makes the evolution path value-checked against SQL. */
  val cdc_ddl_evolution = GraftQuery(
    "cdc_ddl_evolution",
    (s, dir) => {
      import java.nio.file.Files
      val c = Tables.customer(s, dir)
      val meta = customerMeta(c)
      val tmp = Files.createTempDirectory("graft-q-ddl-").toString
      val (spool, ckpt, root) = (s"$tmp/spool", s"$tmp/ckpt", s"$tmp/store")
      val k = col("c_custkey")
      val ks = k.cast("string")
      def rows(df: DataFrame, phase: Int,
               payload: org.apache.spark.sql.Column) =
        df.select(
          timestamp_seconds(lit(1700000000L + phase)).as("insert_timestamp"),
          lit("srcdb").as("database"),
          (lit(phase.toLong * 10000000L) + k).as("lsn_start"),
          (lit(phase.toLong * 100000L) + k).as("xid"),
          payload.as("payload"),
          timestamp_seconds(lit(1700000000L + phase * 60L)).as("xid_timestamp"),
          lit("slot1").as("source_slotname"))
      def patch(names: String, colVals: org.apache.spark.sql.Column,
                oldKey: org.apache.spark.sql.Column) =
        concat(
          lit("""{"kind":"update","schema":"public","table":"customer",""" +
            s""""columnnames":[$names],"columnvalues":["""),
          colVals,
          lit("""],"oldkeys":{"keynames":["c_custkey"],"keyvalues":["""),
          oldKey, lit("]}}"))
      // batch 0: pre-DDL acctbal patches on %10=1
      val b0 = rows(c.filter(pmod(k, lit(10)) === 1), 1,
        patch(""""c_custkey","c_acctbal"""",
          concat(ks, lit(","), (col("c_acctbal") + 100).cast("string")), ks))
      // batch 1: the DDL, then patches writing the NEW column on %10=2
      // (same xid_timestamp, higher lsn → the post-DDL segment)
      val ddl = s.range(1).select(
        timestamp_seconds(lit(1700000002L)).as("insert_timestamp"),
        lit("srcdb").as("database"),
        lit(20000000L).as("lsn_start"),
        lit(200000L).as("xid"),
        lit("""{"kind":"insert","schema":"public","table":"sql_ddl_statements",""" +
          """"columnnames":["current_query","search_path","command_tags"],""" +
          """"columnvalues":["ALTER TABLE customer ADD c_tier text",""" +
          """"public","{\"ALTER TABLE\"}"]}""").as("payload"),
        timestamp_seconds(lit(1700000120L)).as("xid_timestamp"),
        lit("slot1").as("source_slotname"))
      val b1 = rows(c.filter(pmod(k, lit(10)) === 2), 2,
        patch(""""c_custkey","c_tier"""",
          concat(ks, lit(""","GOLD"""")), ks))
      writeSpoolFile(b0, spool, "batch_1", 1700000000000L)
      writeSpoolFile(ddl.unionByName(b1), spool, "batch_2", 1700000060000L)
      val registry = new graft.model.SchemaRegistry
      registry.register(meta)
      val store = new graft.stream.TableStore(s, root)
      store.stage(meta.id, c, 0L)
      store.commit(Map(meta.id -> 0L))
      val engine = graft.stream.CdcStreamEngine.withDdl(s, registry, store)
      engine.start(spool, ckpt, maxFilesPerTrigger = 1).awaitTermination()
      store.read(meta.id)
        .filter(pmod(col("c_custkey"), lit(10)).isin(1, 2, 3))
        .select(col("c_custkey"), col("c_acctbal"), col("c_tier"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
      CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 100
           ELSE c_acctbal END AS c_acctbal,
      CASE WHEN c_custkey % 10 = 2 THEN 'GOLD' END AS c_tier
      FROM customer WHERE c_custkey % 10 IN (1, 2, 3)
      ORDER BY c_custkey"""))

  /** Multi-source federation (the reference's production topology —
    * one daemon per source db, ONE consolidated spool/target,
    * `docs/architecture.rst:146-152`) as an oracled query: four
    * source databases share one spool batch, each holding a disjoint
    * customer slice; db1/db2 carry a P5 slot restriction and a STALE
    * second slot on db2 emits later-LSN poison patches that must be
    * dropped in-engine (`replayer/connemara_replay.pl:779-799`), while
    * db3/db4 pass unrestricted. All four tables commit in ONE
    * manifest cut; output is the per-db final aggregate. */
  val cdc_federation = GraftQuery(
    "cdc_federation",
    (s, dir) => {
      import java.nio.file.Files
      val c = Tables.customer(s, dir)
      val tmp = Files.createTempDirectory("graft-q-fed-").toString
      val (spool, ckpt, root) = (s"$tmp/spool", s"$tmp/ckpt", s"$tmp/store")
      val k = col("c_custkey")
      val ks = k.cast("string")
      val dbs = Seq("db1", "db2", "db3", "db4")
      val registry = new graft.model.SchemaRegistry
      val store = new graft.stream.TableStore(s, root)
      val ids = dbs.zipWithIndex.map { case (db, i) =>
        val meta = TableMeta(TableId(db, "public", "customer"),
          c.schema, Seq("c_custkey"))
        registry.register(meta)
        store.stage(meta.id, c.filter(pmod(k, lit(4)) === i), 0L)
        meta.id
      }
      store.commit(ids.map(_ -> 0L).toMap)
      // single-scan fixture (round-15 shape): per-db routing is a
      // pmod-derived column, so the four legit slices collapse to ONE
      // array element over one customer scan instead of a 5-branch
      // union (4 filtered scans + the stale-slot scan)
      def updStruct(db: org.apache.spark.sql.Column,
                    slot: org.apache.spark.sql.Column,
                    bal: org.apache.spark.sql.Column, lsnBase: Long) =
        struct(
          timestamp_seconds(lit(1700000001L)).as("insert_timestamp"),
          db.as("database"),
          (lit(lsnBase) + k).as("lsn_start"),
          (lit(100000L) + k).as("xid"),
          concat(
            lit("""{"kind":"update","schema":"public","table":"customer",""" +
              """"columnnames":["c_custkey","c_acctbal"],"columnvalues":["""),
            ks, lit(","), bal.cast("string"),
            lit("""],"oldkeys":{"keynames":["c_custkey"],"keyvalues":["""),
            ks, lit("]}}")).as("payload"),
          timestamp_seconds(lit(1700000060L)).as("xid_timestamp"),
          slot.as("source_slotname"))
      // update class %3=0 intersects every %4 slice (k ≡ 0,9,6,3 mod
      // 12 respectively) — a %10 class would leave the even slices
      // updateless and their tables uncommitted
      val m4 = pmod(k, lit(4))
      val dbCol = concat(lit("db"), (m4 + 1).cast("string"))
      val legit = when(pmod(k, lit(3)) === 0,
        updStruct(dbCol, concat(lit("slot_"), dbCol),
          col("c_acctbal") + (m4 + 1) * 100, 10000000L))
      // stale slot on db2: higher LSN, poison value — P5 drops it
      val stale = when(m4 === 1 && pmod(k, lit(3)) === 0,
        updStruct(lit("db2"), lit("slot_stale"), lit(-999.0), 20000000L))
      val log = c.select(explode(filter(array(legit, stale),
          e => e.isNotNull)).as("__r"))
        .select(col("__r.*"))
      writeSpoolFile(log, spool, "batch_1", 1700000000000L)
      val engine = new graft.stream.CdcStreamEngine(s, registry, store,
        slotByDb = Map("db1" -> "slot_db1", "db2" -> "slot_db2"))
      engine.start(spool, ckpt).awaitTermination()
      // one consolidated commit: every table at the same version
      val m = store.manifest()
      require(ids.map(id => m(id.qualified)).distinct.size == 1,
        s"federated tables committed at different versions: $m")
      dbs.zip(ids).map { case (db, id) =>
        store.read(id).select(lit(db).as("db"), col("c_acctbal"))
      }.reduce(_ unionByName _)
        .groupBy(col("db"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").as("total_acctbal"))
        .orderBy(col("db"))
    },
    Some("""WITH f AS (
      SELECT 'db1' AS db, CASE WHEN c_custkey % 3 = 0
          THEN c_acctbal + 100 ELSE c_acctbal END AS bal
        FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT 'db2', CASE WHEN c_custkey % 3 = 0
          THEN c_acctbal + 200 ELSE c_acctbal END
        FROM customer WHERE c_custkey % 4 = 1
      UNION ALL
      SELECT 'db3', CASE WHEN c_custkey % 3 = 0
          THEN c_acctbal + 300 ELSE c_acctbal END
        FROM customer WHERE c_custkey % 4 = 2
      UNION ALL
      SELECT 'db4', CASE WHEN c_custkey % 3 = 0
          THEN c_acctbal + 400 ELSE c_acctbal END
        FROM customer WHERE c_custkey % 4 = 3)
      SELECT db, COUNT(*) AS cnt,
        CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      FROM f GROUP BY db ORDER BY db"""))

  def all: Seq[GraftQuery] = Seq(
    cdc_apply, cdc_apply_bucketed, cdc_apply_skewed, cdc_time_travel,
    cdc_decode_counts, cdc_collapse_counts, cdc_apply_lineitem,
    cdc_incr_agg, cdc_archive, cdc_quarantine_requeue,
    cdc_ddl_evolution, cdc_federation)
}
