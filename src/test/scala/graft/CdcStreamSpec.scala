package graft

import java.nio.file.Files

import graft.model.{SchemaRegistry, TableId, TableMeta}
import graft.stream.{CdcStreamEngine, TableStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end streaming replay: spool files → micro-batches →
  * versioned store, including checkpoint-resume (exactly-once) and
  * the DDL barrier hook.
  */
class CdcStreamSpec extends SparkSpec {
  import spark.implicits._

  private val custSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_acctbal", DoubleType)))
  private val tid = TableId("srcdb", "public", "customer")

  private def spoolBatch(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("lsn_start", "payload")
      .withColumn("insert_timestamp", timestamp_seconds(lit(1700000000L) + col("lsn_start")))
      .withColumn("database", lit("srcdb"))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))

  private def freshEngine(ddl: graft.ddl.DdlEvent => Unit = _ => ())
      : (CdcStreamEngine, TableStore, SchemaRegistry, String, String) = {
    val root = Files.createTempDirectory("graft-store-").toString
    val spool = Files.createTempDirectory("graft-spool-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val registry = new SchemaRegistry
    registry.register(TableMeta(tid, custSchema, Seq("c_custkey")))
    val store = new TableStore(spark, root)
    store.stage(tid, Seq(
      (1L, "Alice", 10.0), (2L, "Bob", 20.0), (3L, "Carol", 30.0))
      .toDF("c_custkey", "c_name", "c_acctbal"), 0L)
    store.commit(Map(tid -> 0L))
    (new CdcStreamEngine(spark, registry, store, ddl), store, registry, spool, ckpt)
  }

  private def run(engine: CdcStreamEngine, spool: String, ckpt: String): Unit = {
    val q = engine.start(spool, ckpt)
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
  }

  private def state(store: TableStore): Seq[Row] =
    store.read(tid).orderBy("c_custkey").collect().toSeq

  test("streaming replay applies spool files and resumes exactly-once") {
    val (engine, store, _, spool, ckpt) = freshEngine()

    spoolBatch(
      (1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,11.5],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      (2L, """{"kind":"delete","schema":"public","table":"customer",
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    assert(state(store) == Seq(
      Row(1L, "Alice", 11.5), Row(3L, "Carol", 30.0)))

    // second spool file: insert + update; resume from checkpoint must
    // not re-apply file 1 (the 11.5 update is not idempotent-safe:
    // re-decoding would still yield 11.5, so instead prove offsets
    // advance by checking version history and final state)
    spoolBatch(
      (3L, """{"kind":"insert","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_name","c_acctbal"],
        "columnvalues":[9,"Zed",90.0]}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    assert(state(store) == Seq(
      Row(1L, "Alice", 11.5), Row(3L, "Carol", 30.0), Row(9L, "Zed", 90.0)))

    // re-run with nothing new: no state change
    run(engine, spool, ckpt)
    assert(state(store) == Seq(
      Row(1L, "Alice", 11.5), Row(3L, "Carol", 30.0), Row(9L, "Zed", 90.0)))
  }

  test("failpoint kills at both crash points; restart recovers the exact state") {
    // two spool files -> two batches; kill at batch 1, restart, and
    // the final state must equal the uninterrupted run's. pre_commit
    // leaves a staged-but-unreferenced version (replay re-stages and
    // commits); post_commit leaves the manifest ahead of the
    // checkpoint (replay takes the versioned-publish skip).
    Seq("pre_commit", "post_commit").foreach { point =>
      val (engine, store, registry, spool, ckpt) = freshEngine()
      spoolBatch(
        (1L, """{"kind":"update","schema":"public","table":"customer",
          "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,11.5],
          "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""))
        .coalesce(1).write.mode("append").parquet(spool)
      run(engine, spool, ckpt)
      spoolBatch(
        (2L, """{"kind":"insert","schema":"public","table":"customer",
          "columnnames":["c_custkey","c_name","c_acctbal"],
          "columnvalues":[9,"Zed",90.0]}"""),
        (3L, """{"kind":"delete","schema":"public","table":"customer",
          "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""))
        .coalesce(1).write.mode("append").parquet(spool)
      engine.failpoint = Some((1L, point))
      val q = engine.start(spool, ckpt)
      val died = try { q.awaitTermination(); false } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          assert(e.toString.contains("failpoint"), e.toString); true
      }
      assert(died, s"$point failpoint never fired")
      // driver restart: a FRESH engine on the same checkpoint + store
      run(new CdcStreamEngine(spark, registry, store), spool, ckpt)
      assert(state(store) == Seq(
        Row(1L, "Alice", 11.5), Row(3L, "Carol", 30.0), Row(9L, "Zed", 90.0)),
        s"$point: recovered state diverged")
    }
  }

  test("DDL records hit the handler in order, before DML merges") {
    val seen = scala.collection.mutable.Buffer.empty[String]
    val (engine, store, _, spool, ckpt) =
      freshEngine(ev => seen += ev.currentQuery)
    spoolBatch(
      (1L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements",
        "columnnames":["current_query","search_path","command_tags"],
        "columnvalues":["ALTER TABLE customer ADD COLUMN c_note text",
          "\"$user\", public","{\"ALTER TABLE\"}"]}"""),
      (2L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements",
        "columnnames":["current_query","search_path","command_tags"],
        "columnvalues":["CREATE INDEX foo ON customer(c_name)",
          "\"$user\", public","{\"CREATE INDEX\"}"]}"""),
      (3L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[3,33.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[3]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    assert(seen.toSeq == Seq(
      "ALTER TABLE customer ADD COLUMN c_note text",
      "CREATE INDEX foo ON customer(c_name)"))
    assert(state(store).map(_.getDouble(2)) == Seq(10.0, 20.0, 33.0))
  }

  test("cross-table batch: both tables commit in one manifest cut (A2/A3)") {
    val oid = TableId("srcdb", "public", "orders")
    val (engine0, store, registry, spool, ckpt) = freshEngine()
    registry.register(TableMeta(oid, StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_total", DoubleType))), Seq("o_orderkey")))
    store.stage(oid, Seq((100L, 5.0)).toDF("o_orderkey", "o_total"), 0L)
    store.commit(Map(oid -> 0L))

    spoolBatch(
      (1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,77.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      (2L, """{"kind":"insert","schema":"public","table":"orders",
        "columnnames":["o_orderkey","o_total"],"columnvalues":[101,9.0]}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine0, spool, ckpt)

    // one batch → both tables at the same version in one manifest
    val m = store.manifest()
    assert(m("srcdb_public.customer") == m("srcdb_public.orders"))
    assert(state(store).map(_.getDouble(2)).head == 77.0)
    assert(store.read(oid).count() == 2)
  }

  test("registry persists across driver restarts (DDL-evolved schema)") {
    val (engine, store, registry, spool, ckpt) = freshEngine()
    val engineWithDdl = graft.stream.CdcStreamEngine.withDdl(spark, registry, store)
    spoolBatch(
      (1L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements",
        "columnnames":["current_query","search_path","command_tags"],
        "columnvalues":["ALTER TABLE customer ADD c_tier text",
          "public","{\"ALTER TABLE\"}"]}"""),
      (2L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_tier"],"columnvalues":[1,"gold"],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    val q = engineWithDdl.start(spool, ckpt)
    q.awaitTermination()
    assert(q.exception.isEmpty)

    // "restart": a fresh registry loaded from the store sees the
    // evolved schema, and a fresh engine continues correctly
    val registry2 = SchemaRegistry.load(store.registryPath)
    assert(registry2(tid).schema.fieldNames.toSeq ==
      Seq("c_custkey", "c_name", "c_acctbal", "c_tier"))
    assert(registry2(tid).pkCols == Seq("c_custkey"))
    val engine2 = graft.stream.CdcStreamEngine.withDdl(spark, registry2, store)
    spoolBatch(
      (3L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_tier"],"columnvalues":[2,"silver"],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    val q2 = engine2.start(spool, ckpt)
    q2.awaitTermination()
    val rows = store.read(tid).orderBy("c_custkey").collect()
    assert(rows.map(r => r.getLong(0) -> r.getString(3)).toSeq ==
      Seq(1L -> "gold", 2L -> "silver", 3L -> null))
  }

  test("multi-database consolidation: same table name, isolated per source db") {
    // the reference's headline capability: N source databases land in
    // one analytics store, each under <db>_<schema> (docs/index.rst:9-13)
    val tidA = TableId("shopdb", "public", "customer")
    val tidB = TableId("crmdb", "public", "customer")
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType)))
    val registry = new SchemaRegistry
    registry.register(TableMeta(tidA, schema, Seq("c_custkey")))
    registry.register(TableMeta(tidB, schema, Seq("c_custkey")))
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("multidb-").toString)
    store.stage(tidA, Seq((1L, "shop-1")).toDF("c_custkey", "c_name"), 0L)
    store.stage(tidB, Seq((1L, "crm-1")).toDF("c_custkey", "c_name"), 0L)
    store.commit(Map(tidA -> 0L, tidB -> 0L))
    val engine = new CdcStreamEngine(spark, registry, store)

    // one batch carries changes from BOTH source databases, same
    // schema.table — they must route by the spool's database column
    val batch = Seq(
      ("shopdb", 1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_name"],"columnvalues":[1,"shop-updated"],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      ("crmdb", 2L, """{"kind":"insert","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_name"],"columnvalues":[2,"crm-new"]}"""))
      .toDF("database", "lsn_start", "payload")
      .withColumn("insert_timestamp", timestamp_seconds(lit(1700000000L)))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("s"))
    engine.processBatch(batch, 0L)

    assert(store.read(tidA).orderBy("c_custkey").collect().toSeq ==
      Seq(Row(1L, "shop-updated")))
    assert(store.read(tidB).orderBy("c_custkey").collect().toSeq ==
      Seq(Row(1L, "crm-1"), Row(2L, "crm-new")))
    // distinct target schemas in the consolidated store
    assert(store.manifest().keySet ==
      Set("shopdb_public.customer", "crmdb_public.customer"))
  }

  test("table RENAME TO mid-batch: pre/post-rename DML land, old name retires atomically") {
    val (engine0, store, registry, spool, ckpt) = freshEngine()
    val engine = graft.stream.CdcStreamEngine.withDdl(spark, registry, store)
    spoolBatch(
      // pre-rename DML under the old name
      (1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,11.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      (2L, """{"kind":"insert","schema":"public","table":"sql_ddl_statements",
        "columnnames":["current_query","search_path","command_tags"],
        "columnvalues":["ALTER TABLE customer RENAME TO clients",
          "public","{\"ALTER TABLE\"}"]}"""),
      // post-rename DML under the NEW name
      (3L, """{"kind":"update","schema":"public","table":"clients",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[2,22.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    val q = engine.start(spool, ckpt)
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))

    val newId = TableId("srcdb", "public", "clients")
    assert(!store.exists(tid), "old name must retire at the commit barrier")
    assert(store.exists(newId))
    assert(registry.get(tid).isEmpty && registry.get(newId).isDefined)
    val rows = store.read(newId).orderBy("c_custkey").collect().toSeq
    assert(rows.map(_.getDouble(2)) == Seq(11.0, 22.0, 30.0),
      s"pre- and post-rename DML must both land: $rows")
  }

  test("strict mode aborts the query on an apply violation") {
    val (engine0, store, registry, spool, ckpt) = freshEngine()
    val strictEngine = new CdcStreamEngine(spark, registry, store, strict = true)
    spoolBatch(
      (1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[404,1.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[404]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    val q = strictEngine.start(spool, ckpt)
    intercept[Exception] { q.awaitTermination() }
    assert(state(store) == Seq(
      Row(1L, "Alice", 10.0), Row(2L, "Bob", 20.0), Row(3L, "Carol", 30.0)))
  }

  test("quarantine repair/requeue: fixed records replay, remainder stays") {
    val (engine0, store, registry, spool, ckpt) = freshEngine()
    val qdir = Files.createTempDirectory("graft-quar-").toString
    val engine = new CdcStreamEngine(spark, registry, store,
      quarantineDir = Some(qdir))

    // one good update, one repairable (misspelled kind), one hopeless
    spoolBatch(
      (1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,11.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      (2L, """{"kind":"upd8","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[2,22.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""),
      (3L, """not json at all"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)

    // bad rows preserved, good one applied
    val quarantined = graft.stream.Quarantine.read(spark, qdir)
    assert(quarantined.count() == 2)
    assert(state(store).collect { case Row(1L, _, b) => b } == Seq(11.0))
    assert(state(store).collect { case Row(2L, _, b) => b } == Seq(20.0))

    // oldest-first horizon: lsn 2 lands at t+2, lsn 3 at t+3 — a 0 s
    // horizon selects only the oldest failure
    assert(graft.stream.Quarantine.oldestWindow(quarantined, 0)
      .select("lsn_start").as[Long].collect().toSeq == Seq(2L))

    // repair the misspelled kind; "not json at all" stays broken
    val (requeued, stillBad) = graft.stream.Quarantine.requeue(
      spark, qdir, spool,
      q => q.withColumn("payload",
        regexp_replace(col("payload"), "\"upd8\"", "\"update\"")))
    assert(requeued == 1 && stillBad == 1)

    // next engine run picks up the requeued record from the spool
    run(engine, spool, ckpt)
    assert(state(store).collect { case Row(2L, _, b) => b } == Seq(22.0))
    // quarantine now holds only the hopeless row, and a second requeue
    // with no fix is a stable no-op
    assert(graft.stream.Quarantine.read(spark, qdir)
      .select("lsn_start").as[Long].collect().toSeq == Seq(3L))
    val (r2, b2) = graft.stream.Quarantine.requeue(spark, qdir, spool, identity)
    assert(r2 == 0 && b2 == 1)
  }

  test("requeue re-stamps repaired rows past the newest spool event") {
    val (engine0, store, registry, spool, ckpt) = freshEngine()
    val qdir = Files.createTempDirectory("graft-quar-").toString
    val engine = new CdcStreamEngine(spark, registry, store,
      quarantineDir = Some(qdir))

    // the quarantined (repairable) event is OLDER than a later valid
    // update to the same key — without the re-stamp, its repair would
    // replay behind the newer event and regress the key
    spoolBatch(
      (1L, """{"kind":"upd8","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,11.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      (2L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,99.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    assert(state(store).collect { case Row(1L, _, b) => b } == Seq(99.0))

    val maxBefore = spark.read.parquet(spool)
      .agg(max(col("insert_timestamp"))).collect()(0).getTimestamp(0)
    val (requeued, _) = graft.stream.Quarantine.requeue(
      spark, qdir, spool,
      q => q.withColumn("payload",
        regexp_replace(col("payload"), "\"upd8\"", "\"update\"")))
    assert(requeued == 1)
    // the requeued row's timestamp moved past everything in the spool
    val reTs = spark.read.parquet(spool)
      .filter(col("payload").contains("11.0"))
      .select("insert_timestamp").collect()(0).getTimestamp(0)
    assert(reTs.after(maxBefore), s"$reTs not after $maxBefore")
    // and the replay applies it as the NEWEST statement about the key
    run(engine, spool, ckpt)
    assert(state(store).collect { case Row(1L, _, b) => b } == Seq(11.0))
  }

  test("maintained aggregate view tracks the stream and commits with its table") {
    // own store: the view test needs a grouping column
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("seg", StringType),
      StructField("c_acctbal", DoubleType)))
    val root = Files.createTempDirectory("graft-store-").toString
    val spool = Files.createTempDirectory("graft-spool-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val registry = new SchemaRegistry
    registry.register(TableMeta(tid, schema, Seq("c_custkey")))
    val store = new TableStore(spark, root)
    store.stage(tid, Seq(
      (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0))
      .toDF("c_custkey", "seg", "c_acctbal"), 0L)
    store.commit(Map(tid -> 0L))
    val viewId = TableId("srcdb", "public", "customer_by_seg")
    val engine = new CdcStreamEngine(spark, registry, store,
      aggViews = Seq(CdcStreamEngine.AggView(tid, viewId, "seg",
        r => r("c_acctbal").cast("decimal(18,6)"))))

    def viewState: Seq[(String, Long, BigDecimal)] =
      store.read(viewId).orderBy("seg")
        .select(col("seg"), col("cnt"), col("total").cast("decimal(18,6)"))
        .as[(String, Long, BigDecimal)].collect().toSeq
    def recomputed: Seq[(String, Long, BigDecimal)] =
      store.read(tid).groupBy(col("seg"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast("decimal(18,6)")).cast("decimal(18,6)").as("total"))
        .orderBy("seg")
        .as[(String, Long, BigDecimal)].collect().toSeq

    // batch 1: patch, insert into a NEW group, delete
    spoolBatch(
      (1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,15.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
      (2L, """{"kind":"insert","schema":"public","table":"customer",
        "columnnames":["c_custkey","seg","c_acctbal"],
        "columnvalues":[9,"C",5.0]}"""),
      (3L, """{"kind":"delete","schema":"public","table":"customer",
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[4]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    assert(viewState == recomputed)
    assert(viewState.map(_._1) == Seq("A", "B", "C"))

    // batch 2: group MIGRATION (seg A -> B) + a group-emptying delete
    spoolBatch(
      (4L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","seg"],"columnvalues":[2,"B"],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""),
      (5L, """{"kind":"delete","schema":"public","table":"customer",
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[9]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    assert(viewState == recomputed)
    assert(!viewState.map(_._1).contains("C"), "emptied group must vanish")
    // the view's version advances with its source table's commits
    assert(store.manifest()(viewId.qualified) == store.manifest()(tid.qualified))
  }

  test("torn manifest is detected and refused, never served as a partial cut") {
    val root = Files.createTempDirectory("graft-torn-").toString
    val store = new TableStore(spark, root)
    store.stage(tid, Seq((1L, "Alice", 10.0))
      .toDF("c_custkey", "c_name", "c_acctbal"), 0L)
    store.commit(Map(tid -> 0L))
    val other = TableId("srcdb", "public", "orders")
    store.stage(other, Seq((7L, "x", 1.0))
      .toDF("c_custkey", "c_name", "c_acctbal"), 0L)
    store.commit(Map(other -> 0L))
    assert(store.manifest().size == 2 && store.manifestSeq() == 2L)

    val manifest = java.nio.file.Paths.get(root, "_latest")
    val good = Files.readString(manifest)

    // a half-copied object (the S3 rename-as-copy failure mode): the
    // header promises 2 entries + a CRC, the body carries only part
    val torn = good.linesIterator.toSeq.dropRight(1).mkString("\n") + "\n"
    Files.writeString(manifest, torn)
    val e1 = intercept[IllegalStateException](store.manifest())
    assert(e1.getMessage.contains("torn manifest"))
    // readers refuse too — read() resolves through the manifest
    intercept[IllegalStateException](store.read(tid))

    // truncation mid-line (torn local write)
    Files.writeString(manifest, good.take(good.length - 3))
    assert(intercept[IllegalStateException](store.manifest())
      .getMessage.contains("torn manifest"))

    // restore the good cut: everything resolves again
    Files.writeString(manifest, good)
    assert(store.read(tid).count() == 1L)

    // a commit can never regress the publish sequence: a replayed
    // commit of an old version advances seq while keeping versions
    // monotonic (the exactly-once replay contract)
    store.commit(Map(tid -> 0L))
    assert(store.manifestSeq() == 3L && store.manifest()(tid.qualified) == 0L)

    // legacy headerless manifests stay readable (no integrity header)
    Files.writeString(manifest,
      s"${tid.qualified}=0\n${other.qualified}=0\n")
    assert(store.manifest().size == 2 && store.manifestSeq() == 0L)
  }

  private val ordId = TableId("srcdb", "public", "orders")
  private val liId = TableId("srcdb", "public", "lineitem")

  /** customer, orders and lineitem (composite PK), all at v=0. */
  private def threeTables(): (TableStore, SchemaRegistry) = {
    val (_, store, registry, _, _) = freshEngine()
    registry.register(TableMeta(ordId, StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_total", DoubleType))), Seq("o_orderkey")))
    registry.register(TableMeta(liId, StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_qty", DoubleType))), Seq("l_orderkey", "l_linenumber")))
    store.stage(ordId, Seq((100L, 5.0), (101L, 6.0)).toDF("o_orderkey", "o_total"), 0L)
    store.stage(liId, Seq((100L, 1, 1.0), (100L, 2, 2.0), (101L, 1, 3.0))
      .toDF("l_orderkey", "l_linenumber", "l_qty"), 0L)
    store.commit(Map(ordId -> 0L, liId -> 0L))
    (store, registry)
  }

  private val threeTableChanges: Seq[(Long, String)] = Seq(
    (1L, """{"kind":"update","schema":"public","table":"customer",
      "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,77.0],
      "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
    (2L, """{"kind":"insert","schema":"public","table":"orders",
      "columnnames":["o_orderkey","o_total"],"columnvalues":[102,9.0]}"""),
    (3L, """{"kind":"update","schema":"public","table":"lineitem",
      "columnnames":["l_orderkey","l_linenumber","l_qty"],"columnvalues":[100,2,20.0],
      "oldkeys":{"keynames":["l_orderkey","l_linenumber"],"keyvalues":[100,2]}}"""),
    (4L, """{"kind":"delete","schema":"public","table":"customer",
      "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""),
    (5L, """{"kind":"update","schema":"public","table":"orders",
      "columnnames":["o_orderkey","o_total"],"columnvalues":[200,6.5],
      "oldkeys":{"keynames":["o_orderkey"],"keyvalues":[101]}}"""),
    (6L, """{"kind":"delete","schema":"public","table":"lineitem",
      "oldkeys":{"keynames":["l_orderkey","l_linenumber"],"keyvalues":[101,1]}}"""),
    (7L, """{"kind":"insert","schema":"public","table":"lineitem",
      "columnnames":["l_orderkey","l_linenumber","l_qty"],"columnvalues":[102,1,4.0]}"""),
    (8L, """{"kind":"update","schema":"public","table":"customer",
      "columnnames":["c_custkey","c_name"],"columnvalues":[1,"Alicia"],
      "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""))

  private def tableRows(store: TableStore, id: TableId): Seq[Row] = {
    val df = store.read(id)
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq
  }

  test("DML batch over 3 tables: concurrent apply ≡ one table at a time, one manifest write") {
    val (store, registry) = threeTables()
    val seq0 = store.manifestSeq()
    new CdcStreamEngine(spark, registry, store)
      .processBatch(spoolBatch(threeTableChanges: _*), 0L)
    assert(store.manifestSeq() == seq0 + 1, "the batch must commit in one manifest write")
    assert(Seq(tid, ordId, liId).map(t => store.manifest()(t.qualified)) == Seq(1L, 1L, 1L))

    // reference: each table's changes as a batch of its own, in turn
    val (refStore, refRegistry) = threeTables()
    val refEngine = new CdcStreamEngine(spark, refRegistry, refStore)
    Seq("customer", "orders", "lineitem").zipWithIndex.foreach { case (t, i) =>
      refEngine.processBatch(spoolBatch(
        threeTableChanges.filter(_._2.contains(s"\"table\":\"$t\"")): _*), i.toLong)
    }
    Seq(tid, ordId, liId).foreach { t =>
      assert(tableRows(store, t) == tableRows(refStore, t), t.qualified)
    }
    assert(tableRows(store, tid) == Seq(Row(1L, "Alicia", 77.0), Row(3L, "Carol", 30.0)))
    assert(tableRows(store, ordId) == Seq(Row(100L, 5.0), Row(102L, 9.0), Row(200L, 6.5)))
    assert(tableRows(store, liId) ==
      Seq(Row(100L, 1, 1.0), Row(100L, 2, 20.0), Row(102L, 1, 4.0)))
  }

  test("strict violation in one of 3 concurrently applied tables fails the batch, naming it") {
    val (store, registry) = threeTables()
    val seq0 = store.manifestSeq()
    val before = Seq(tid, ordId, liId).map(tableRows(store, _))
    val bad = (9L, """{"kind":"update","schema":"public","table":"orders",
      "columnnames":["o_orderkey","o_total"],"columnvalues":[404,1.0],
      "oldkeys":{"keynames":["o_orderkey"],"keyvalues":[404]}}""")
    val e = intercept[IllegalStateException] {
      new CdcStreamEngine(spark, registry, store, strict = true)
        .processBatch(spoolBatch(threeTableChanges :+ bad: _*), 0L)
    }
    assert(e.getMessage.contains("apply violations on srcdb_public.orders"), e.getMessage)
    assert(store.manifestSeq() == seq0)
    assert(Seq(tid, ordId, liId).map(tableRows(store, _)) == before)
  }

  test("a payload torn right after \"keyvalues\" is quarantined, or fails a strict batch") {
    // from_json keeps the fields it parsed before the tear: without the
    // corrupt-record check this is a complete-looking update with
    // oldkeys = null, keyed by its new values
    val torn = """{"kind":"update","schema":"public","table":"customer",""" +
      """"columnnames":["c_custkey","c_acctbal"],"columnvalues":[3,-1.0],""" +
      """"oldkeys":{"keynames":["c_custkey"],"keyvalues""""
    val good = """{"kind":"update","schema":"public","table":"customer",
      "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,11.5],
      "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""

    val (_, store, registry, _, _) = freshEngine()
    val qdir = Files.createTempDirectory("graft-quar-").toString
    new CdcStreamEngine(spark, registry, store, quarantineDir = Some(qdir))
      .processBatch(spoolBatch((1L, good), (2L, torn)), 0L)
    assert(state(store) == Seq(
      Row(1L, "Alice", 11.5), Row(2L, "Bob", 20.0), Row(3L, "Carol", 30.0)))
    val quarantined = graft.stream.Quarantine.read(spark, qdir)
      .select("payload").as[String].collect().toSeq
    assert(quarantined == Seq(torn))

    val (_, store2, registry2, _, _) = freshEngine()
    val e = intercept[IllegalStateException] {
      new CdcStreamEngine(spark, registry2, store2, strict = true)
        .processBatch(spoolBatch((1L, good), (2L, torn)), 0L)
    }
    assert(e.getMessage.contains("1 unparseable change payloads"), e.getMessage)
    assert(state(store2) == Seq(
      Row(1L, "Alice", 10.0), Row(2L, "Bob", 20.0), Row(3L, "Carol", 30.0)))
  }
}
