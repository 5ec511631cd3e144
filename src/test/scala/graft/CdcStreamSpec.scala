package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

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

  /** Spool rows with their own database and spool time:
    * (database, lsn_start, insert_timestamp in epoch seconds, payload). */
  private def spoolRows(rows: (String, Long, Long, String)*): DataFrame =
    rows.toSeq.toDF("database", "lsn_start", "ts", "payload")
      .withColumn("insert_timestamp", timestamp_seconds(col("ts"))).drop("ts")
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))

  /** A customer-shaped update payload; `kind` may be misspelled. */
  private def upd(key: Long, bal: Double, kind: String = "update"): String =
    s"""{"kind":"$kind","schema":"public","table":"customer",
      "columnnames":["c_custkey","c_acctbal"],"columnvalues":[$key,$bal],
      "oldkeys":{"keynames":["c_custkey"],"keyvalues":[$key]}}"""

  /** The spool position of a [[spoolBatch]] row. */
  private def posOf(lsn: Long): Option[(Long, Long)] =
    Some(((1700000000L + lsn) * 1000000L, lsn))

  /** Every file under the store's version dirs, with its mtime. */
  private def versionFiles(store: TableStore): Map[String, java.nio.file.attribute.FileTime] = {
    val s = Files.walk(java.nio.file.Paths.get(store.root))
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.contains("/v="))
      .map(f => f.toString -> Files.getLastModifiedTime(f)).toMap
    finally s.close()
  }

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
    // published with its registry, as a snapshot publishes it
    store.commitWithDrops(Map(tid -> 0L), Set.empty, registry = Some(registry))
    (new CdcStreamEngine(spark, registry, store, ddl), store, registry, spool, ckpt)
  }

  /** [[CdcStreamEngine.withDdl]]'s wiring, with the archive on. */
  private def ddlEngine(registry: SchemaRegistry, store: TableStore): CdcStreamEngine = {
    var engine: CdcStreamEngine = null
    val interp = new graft.ddl.DdlInterpreter(spark, registry, store,
      onRenameData = (id, from, to) => engine.renameTableData(id, from, to),
      onTruncateData = id => engine.truncateTableData(id),
      onRenameTable = (o, n) => engine.renameTableEntry(o, n))
    engine = new CdcStreamEngine(spark, registry, store, interp.execute, archive = true)
    engine
  }

  private def ddl(lsn: Long, sql: String): (Long, String) =
    (lsn, s"""{"kind":"insert","schema":"public","table":"sql_ddl_statements",
      "columnnames":["current_query","search_path","command_tags"],
      "columnvalues":["$sql","\\"$$user\\", public","{\\"ALTER TABLE\\"}"]}""")

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
    // three spool files: file 1 is batch 0, files 2 and 3 are batch 1,
    // killed at both points and restarted by a NEW engine that loads
    // its registry from the store, as a restarted driver does. File 3
    // carries ADD COLUMN and RENAME TABLE. pre_commit leaves staged
    // versions and an archive part but no commit (the replay
    // re-stages both and commits); post_commit leaves the
    // manifest, progress and registry ahead of the checkpoint (the
    // progress empties the replay). Both must reach the uninterrupted
    // run's rows and schema, with every spool row archived once.
    val files = Seq(
      Seq((1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[1,11.5],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}""")),
      Seq((2L, """{"kind":"insert","schema":"public","table":"customer",
          "columnnames":["c_custkey","c_name","c_acctbal"],
          "columnvalues":[9,"Zed",90.0]}"""),
        (3L, """{"kind":"delete","schema":"public","table":"customer",
          "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}""")),
      Seq(ddl(4L, "ALTER TABLE customer ADD COLUMN c_note text"),
        (5L, """{"kind":"update","schema":"public","table":"customer",
          "columnnames":["c_custkey","c_note"],"columnvalues":[1,"pre"],
          "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""),
        ddl(6L, "ALTER TABLE customer RENAME TO clients"),
        (7L, """{"kind":"update","schema":"public","table":"clients",
          "columnnames":["c_custkey","c_note"],"columnvalues":[3,"post"],
          "oldkeys":{"keynames":["c_custkey"],"keyvalues":[3]}}""")))
    val clients = TableId("srcdb", "public", "clients")
    def write(spool: String, i: Int): Unit =
      spoolBatch(files(i): _*).coalesce(1).write.mode("append").parquet(spool)
    def outcome(store: TableStore) = {
      val reg = SchemaRegistry.load(store.registryPath)
      (reg.ids, reg(clients).schema, store.manifest().keySet, tableRows(store, clients))
    }

    val want = {
      val (_, store, registry, spool, ckpt) = freshEngine()
      write(spool, 0); run(ddlEngine(registry, store), spool, ckpt)
      write(spool, 1); write(spool, 2); run(ddlEngine(registry, store), spool, ckpt)
      outcome(store)
    }
    assert(want._1 == Set(clients) && want._2.fieldNames.last == "c_note")
    assert(want._4 == Seq(Row(1L, "Alice", 11.5, "pre"), Row(3L, "Carol", 30.0, "post"),
      Row(9L, "Zed", 90.0, null)))

    Seq("pre_commit", "post_commit").foreach { point =>
      val (_, store, registry, spool, ckpt) = freshEngine()
      val progress = scala.collection.mutable.Buffer(store.progress())
      write(spool, 0)
      run(ddlEngine(registry, store), spool, ckpt)
      progress += store.progress()
      write(spool, 1); write(spool, 2)
      val killed = ddlEngine(SchemaRegistry.load(store.registryPath), store)
      killed.failpoint = Some((1L, point))
      val q = killed.start(spool, ckpt)
      val died = try { q.awaitTermination(); false } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          assert(e.toString.contains("failpoint"), e.toString); true
      }
      assert(died, s"$point failpoint never fired")
      progress += store.progress()
      // driver restart: a FRESH engine and registry on the same
      // checkpoint + store
      run(ddlEngine(SchemaRegistry.load(store.registryPath), store), spool, ckpt)
      progress += store.progress()
      assert(outcome(store) == want, s"$point: recovered state diverged")
      assert(progress.zip(progress.tail).forall { case (a, b) =>
        a.forall { case (db, p) => p.consumed.forall(c =>
          b.get(db).flatMap(_.consumed).exists(Ordering[(Long, Long)].gteq(_, c))) }
      }, s"$point: $progress")
      assert(progress.last == Map("srcdb" -> TableStore.Progress(None, posOf(7L))),
        s"$point: $progress")
      val archived = store.read(TableStore.ArchiveId).select("lsn_start").as[Long].collect().sorted
      assert(archived.toSeq == (1L to 7L), s"$point: archive $archived")
      // the seed and the DDL trigger each published a registry version;
      // a vacuum keeping no history leaves only the committed one
      def registryFiles = Files.list(java.nio.file.Paths.get(store.root)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("_registry")).toSet
      assert(registryFiles == Set("_registry.v0.json", "_registry.v1.json"), s"$point")
      store.vacuum(keepHistory = 0)
      assert(registryFiles == Set("_registry.v1.json"), s"$point")
      assert(outcome(store) == want, s"$point: vacuumed state diverged")
    }
  }

  test("a new checkpoint over an advanced store applies only the new file") {
    // the store's watermark, not the checkpoint, says what is applied:
    // a new checkpoint re-reads every file as its batch 0, the two
    // applied files drop out (a strict engine would fail on their
    // re-applied delete), and the new file publishes one version up
    val (engine, store, registry, spool, ckpt) = freshEngine()
    spoolBatch((1L, """{"kind":"delete","schema":"public","table":"customer",
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[2]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    spoolBatch((2L, """{"kind":"insert","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_name","c_acctbal"],"columnvalues":[9,"Zed",90.0]}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    assert(store.manifest()(tid.qualified) == 2L)
    val before = versionFiles(store)

    spoolBatch((3L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[9,91.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[9]}}"""))
      .coalesce(1).write.mode("append").parquet(spool)
    run(new CdcStreamEngine(spark, registry, store, strict = true), spool,
      Files.createTempDirectory("graft-ckpt2-").toString)
    assert(state(store) == Seq(
      Row(1L, "Alice", 10.0), Row(3L, "Carol", 30.0), Row(9L, "Zed", 91.0)))
    assert(store.manifest()(tid.qualified) == 3L)
    assert(store.progress() == Map("srcdb" -> TableStore.Progress(None, posOf(3L))))
    val after = versionFiles(store)
    assert(before.forall { case (f, t) => after.get(f).contains(t) },
      "a committed version dir was rewritten")
  }

  test("a new checkpoint archives only the rows it consumes: every spool row once") {
    // batch ids restart at 0 with a new checkpoint: its batch 0 appends
    // one more archive part and leaves the old checkpoint's parts
    val (_, store, registry, spool, ckpt) = freshEngine()
    Seq(Seq((1L, upd(1, 11.0)), (2L, upd(2, 22.0))), Seq((3L, upd(3, 33.0)))).foreach { rows =>
      spoolBatch(rows: _*).coalesce(1).write.mode("append").parquet(spool)
      run(ddlEngine(registry, store), spool, ckpt)
    }
    spoolBatch((4L, upd(1, 44.0))).coalesce(1).write.mode("append").parquet(spool)
    run(ddlEngine(registry, store), spool, Files.createTempDirectory("graft-ckpt2-").toString)
    val archived = store.read(TableStore.ArchiveId).select("lsn_start", "batch_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(archived == Seq(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L), s"archive $archived")
    assert(state(store) == Seq(
      Row(1L, "Alice", 44.0), Row(2L, "Bob", 22.0), Row(3L, "Carol", 33.0)))
  }

  test("a requeue stopped between its spool file and its commit is finished, not repeated") {
    // key 2's update is repairable, the "not json" rows are not. The
    // re-run comes either directly or after a trigger that applies the
    // requeued file together with a newer change to key 2 and a new bad
    // row: the requeued row applies once and never over the newer change
    val fix: DataFrame => DataFrame = q =>
      q.withColumn("payload", regexp_replace(col("payload"), "\"upd8\"", "\"update\""))
    val t0 = 1700000000L
    Seq(false, true).foreach { engineFirst =>
      val (engine, store, _, spool, ckpt) = freshEngine()
      def write(rows: (String, Long, Long, String)*): Unit =
        spoolRows(rows: _*).coalesce(1).write.mode("append").parquet(spool)
      write(("srcdb", 1L, t0 + 1, upd(2, 22.0, kind = "upd8")), ("srcdb", 2L, t0 + 2, "not json"))
      run(engine, spool, ckpt)
      graft.stream.Quarantine.failpoint = Some(spool)
      val e = intercept[IllegalStateException](
        graft.stream.Quarantine.requeue(spark, store, spool, fix))
      assert(e.getMessage.contains("failpoint"), e.getMessage)
      assert(graft.stream.Quarantine.read(spark, store).count() == 2)
      if (engineFirst) {
        write(("srcdb", 3L, t0 + 10, upd(2, 27.0)), ("srcdb", 4L, t0 + 11, "still not json"))
        run(engine, spool, ckpt)
      }
      assert(graft.stream.Quarantine.requeue(spark, store, spool, fix) == (1L, 1L),
        s"engineFirst=$engineFirst")
      run(engine, spool, ckpt)
      val requeueFiles = Files.list(java.nio.file.Paths.get(spool)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("requeue_")).toSeq
      assert(requeueFiles == Seq("requeue_q0.parquet"), s"engineFirst=$engineFirst")
      assert(spark.read.parquet(spool)
        .filter(col("payload").contains("\"update\"") && col("payload").contains("22.0"))
        .count() == 1, s"engineFirst=$engineFirst")
      val key2 = if (engineFirst) 27.0 else 22.0
      assert(state(store) == Seq(
        Row(1L, "Alice", 10.0), Row(2L, "Bob", key2), Row(3L, "Carol", 30.0)),
        s"engineFirst=$engineFirst")
      assert(graft.stream.Quarantine.read(spark, store).select("lsn_start").as[Long]
        .collect().sorted.toSeq == (if (engineFirst) Seq(2L, 4L) else Seq(2L)),
        s"engineFirst=$engineFirst")
    }
  }

  test("a transaction spooled after one that began later still applies") {
    // T1 begins at LSN 100 and T2 at 150; T2 commits first, so the
    // daemon spools it first, in a file of its own. Spool order, not
    // LSN order, is what a trigger consumes: T1 still applies
    val (engine, store, _, spool, ckpt) = freshEngine()
    spoolRows(("srcdb", 150L, 1700000001L, upd(2, 22.0)))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    spoolRows(("srcdb", 100L, 1700000002L, upd(1, 11.0)))
      .coalesce(1).write.mode("append").parquet(spool)
    run(engine, spool, ckpt)
    assert(state(store) == Seq(
      Row(1L, "Alice", 11.0), Row(2L, "Bob", 22.0), Row(3L, "Carol", 30.0)))
  }

  test("renaming a table away and back rewrites no committed file") {
    // the name the second rename reuses still holds the first
    // incarnation's version dirs: the new one stages above them
    val (_, store, registry, spool, ckpt) = freshEngine()
    spoolBatch(ddl(1L, "ALTER TABLE customer RENAME TO clients"))
      .coalesce(1).write.mode("append").parquet(spool)
    run(ddlEngine(registry, store), spool, ckpt)
    assert(store.manifest().keySet == Set("srcdb_public.clients", TableStore.ArchiveId.qualified))
    val before = versionFiles(store)
    spoolBatch(ddl(2L, "ALTER TABLE clients RENAME TO customer"), (3L, upd(1, 11.0)))
      .coalesce(1).write.mode("append").parquet(spool)
    run(ddlEngine(registry, store), spool, ckpt)
    assert(store.manifest() == Map(tid.qualified -> 2L, TableStore.ArchiveId.qualified -> 1L))
    assert(state(store) == Seq(
      Row(1L, "Alice", 11.0), Row(2L, "Bob", 20.0), Row(3L, "Carol", 30.0)))
    val after = versionFiles(store)
    assert(before.forall { case (f, t) => after.get(f).contains(t) },
      "a committed version dir was rewritten")
  }

  test("a requeue moves only its own database's spool position") {
    // two databases, two WALs: their LSN ranges and spool clocks do not
    // overlap (srcdb's LSNs start at 1000 and its rows spool a day after
    // db2's). A db2 row is quarantined and requeued; the later rows of
    // both databases still apply
    val (_, store, registry, spool, ckpt) = freshEngine()
    val db2 = TableId("db2", "public", "customer")
    registry.register(TableMeta(db2, custSchema, Seq("c_custkey")))
    store.stage(db2, Seq((1L, "Ann", 1.0), (2L, "Ben", 2.0))
      .toDF("c_custkey", "c_name", "c_acctbal"), 0L)
    store.commit(Map(db2 -> 0L))
    val engine = new CdcStreamEngine(spark, registry, store)
    val (t0, day) = (1700000000L, 86400L)
    def write(rows: (String, Long, Long, String)*): Unit =
      spoolRows(rows: _*).coalesce(1).write.mode("append").parquet(spool)
    write(("srcdb", 1000L, t0 + day, upd(1, 11.0)),
      ("db2", 1L, t0, upd(1, 5.0, kind = "upd8")), ("db2", 2L, t0 + 1, upd(2, 6.0)))
    run(engine, spool, ckpt)
    val (requeued, _) = graft.stream.Quarantine.requeue(spark, store, spool,
      q => q.withColumn("payload", regexp_replace(col("payload"), "\"upd8\"", "\"update\"")))
    assert(requeued == 1)
    run(engine, spool, ckpt)
    write(("db2", 3L, t0 + 2, upd(2, 7.0)), ("srcdb", 1001L, t0 + day + 1, upd(3, 33.0)))
    run(engine, spool, ckpt)
    assert(tableRows(store, db2) == Seq(Row(1L, "Ann", 5.0), Row(2L, "Ben", 7.0)))
    assert(state(store) == Seq(
      Row(1L, "Alice", 11.0), Row(2L, "Bob", 20.0), Row(3L, "Carol", 33.0)))
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
    val (engine, store, _, spool, ckpt) = freshEngine()

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
    val quarantined = graft.stream.Quarantine.read(spark, store)
    assert(quarantined.count() == 2)
    assert(state(store).collect { case Row(1L, _, b) => b } == Seq(11.0))
    assert(state(store).collect { case Row(2L, _, b) => b } == Seq(20.0))

    // oldest-first horizon: lsn 2 lands at t+2, lsn 3 at t+3 — a 0 s
    // horizon selects only the oldest failure
    assert(graft.stream.Quarantine.oldestWindow(quarantined, 0)
      .select("lsn_start").as[Long].collect().toSeq == Seq(2L))

    // repair the misspelled kind; "not json at all" stays broken
    val (requeued, stillBad) = graft.stream.Quarantine.requeue(
      spark, store, spool,
      q => q.withColumn("payload",
        regexp_replace(col("payload"), "\"upd8\"", "\"update\"")))
    assert(requeued == 1 && stillBad == 1)

    // next engine run picks up the requeued record from the spool
    run(engine, spool, ckpt)
    assert(state(store).collect { case Row(2L, _, b) => b } == Seq(22.0))
    // quarantine now holds only the hopeless row, and a second requeue
    // with no fix is a stable no-op
    assert(graft.stream.Quarantine.read(spark, store)
      .select("lsn_start").as[Long].collect().toSeq == Seq(3L))
    val (r2, b2) = graft.stream.Quarantine.requeue(spark, store, spool, identity)
    assert(r2 == 0 && b2 == 1)
  }

  test("requeue re-stamps repaired rows past the newest spool event") {
    val (engine, store, _, spool, ckpt) = freshEngine()

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
      spark, store, spool,
      q => q.withColumn("payload",
        regexp_replace(col("payload"), "\"upd8\"", "\"update\"")))
    assert(requeued == 1)
    // the requeued row's timestamp moved past everything in the spool
    val reTs = spark.read.parquet(spool)
      .filter(col("payload").contains("11.0"))
      .select("insert_timestamp").collect()(0).getTimestamp(0)
    assert(reTs.after(maxBefore), s"$reTs not after $maxBefore")
    // by 1 µs, keeping its LSN
    val (reLsn, reMicros) = spark.read.parquet(spool).filter(col("payload").contains("11.0"))
      .select(col("lsn_start"), unix_micros(col("insert_timestamp"))).as[(Long, Long)].head()
    assert(reLsn == 1L && reMicros == maxBefore.getTime * 1000L + 1, s"requeued at $reLsn, $reMicros")
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

    // a headerless manifest has no integrity check: refused as torn
    Files.writeString(manifest,
      s"${tid.qualified}=0\n${other.qualified}=0\n")
    assert(intercept[IllegalStateException](store.manifest())
      .getMessage.contains("missing #graft-manifest header"))
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

    // reference: each table's changes as a batch of its own, in a
    // store of its own (in one store, a later table's changes would
    // sit below the LSN watermark an earlier batch moved)
    Seq(tid -> "customer", ordId -> "orders", liId -> "lineitem").foreach { case (t, name) =>
      val (refStore, refRegistry) = threeTables()
      new CdcStreamEngine(spark, refRegistry, refStore).processBatch(spoolBatch(
        threeTableChanges.filter(_._2.contains(s"\"table\":\"$name\"")): _*), 0L)
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
    new CdcStreamEngine(spark, registry, store)
      .processBatch(spoolBatch((1L, good), (2L, torn)), 0L)
    assert(state(store) == Seq(
      Row(1L, "Alice", 11.5), Row(2L, "Bob", 20.0), Row(3L, "Carol", 30.0)))
    val quarantined = graft.stream.Quarantine.read(spark, store)
      .select("payload").as[String].collect().toSeq
    assert(quarantined == Seq(torn))

    val (_, store2, registry2, _, _) = freshEngine()
    val e = intercept[IllegalStateException] {
      new CdcStreamEngine(spark, registry2, store2, strict = true)
        .processBatch(spoolBatch((1L, good), (2L, torn)), 0L)
    }
    assert(e.getMessage.contains("1 unparseable change payloads"), e.getMessage)
    // it names the first bad row's database and spool position
    assert(e.getMessage.contains("database srcdb") &&
      e.getMessage.contains(s"insert_timestamp ${new java.sql.Timestamp(1700000002000L)}") &&
      e.getMessage.contains("lsn_start 2"), e.getMessage)
    assert(state(store2) == Seq(
      Row(1L, "Alice", 10.0), Row(2L, "Bob", 20.0), Row(3L, "Carol", 30.0)))
    // nothing is staged: the store holds no quarantine
    assert(!store2.exists(TableStore.QuarantineId))
    assert(graft.stream.Quarantine.read(spark, store2).count() == 0)
  }
}
