package graft

import java.nio.file.Files

import graft.model.{SchemaRegistry, TableId}
import graft.snapshot.Snapshot
import graft.stream.TableStore
import org.apache.spark.sql.functions._

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("basebackup copies a consistent cut and pins the start LSN") {
    val sf = "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("snap-spec-").toString
    val store = new TableStore(spark, root)
    val registry = new SchemaRegistry
    val specs = Seq(
      Snapshot.TableSpec(TableId("srcdb", "public", "region"), Seq("r_regionkey"), s"$sf/region.parquet"),
      Snapshot.TableSpec(TableId("srcdb", "public", "nation"), Seq("n_nationkey"), s"$sf/nation.parquet"))
    val report = Snapshot.basebackup(spark, specs, registry, store, root, 0xA0000000BL, njobs = 4)
    assert(report.tables.map(t => t.id.table -> t.rows).toMap ==
      Map("region" -> 5L, "nation" -> 25L))
    // registry got schema + pks
    assert(registry(TableId("srcdb", "public", "nation")).pkCols == Seq("n_nationkey"))
    // store readable through the manifest (committed cut)
    assert(store.read(TableId("srcdb", "public", "region")).count() == 5)
    // LSN pin round-trips through the %X/%X rendering
    assert(store.progress() == Map("srcdb" -> TableStore.Progress(Some(0xA0000000BL), None)))
  }

  test("a crash right after the snapshot commit keeps the start LSN: one manifest write") {
    import spark.implicits._
    val src = Files.createTempDirectory("snap-crash-src-").resolve("region.parquet").toString
    (0 until 5).map(i => (i.toLong, s"r$i")).toDF("r_regionkey", "r_name")
      .write.parquet(src)
    val root = Files.createTempDirectory("snap-crash-").toString
    val store = new TableStore(spark, root)
    val rid = TableId("srcdb", "public", "region")
    Snapshot.failpoint = Some((root, "post_commit"))
    val e = intercept[IllegalStateException] {
      Snapshot.basebackup(spark, Seq(Snapshot.TableSpec(rid, Seq("r_regionkey"), src)),
        new SchemaRegistry, store, root, 0xC00000001L, buckets = Some(4))
    }
    assert(e.getMessage.contains("failpoint"), e.getMessage)
    // the snapshot is published, and its LSN with it
    assert(store.read(rid).count() == 5)
    assert(store.progress() == Map("srcdb" -> TableStore.Progress(Some(0xC00000001L), None)))
  }

  test("basebackup validatePk refuses a non-key-unique table, before staging") {
    val sf = "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("snap-dup-").toString
    val store = new TableStore(spark, root)
    val registry = new SchemaRegistry
    // construct duplicates explicitly (don't rely on fixture quirks)
    val dupPath = Files.createTempDirectory("snap-dup-src-").toString + "/t.parquet"
    val c = spark.read.parquet(s"$sf/customer.parquet")
    c.unionByName(c.limit(10)).write.parquet(dupPath)
    // order matters: a VALID table listed first must not get staged
    // or registered when a later one fails validation
    val specs = Seq(
      Snapshot.TableSpec(TableId("srcdb", "public", "customer"),
        Seq("c_custkey"), s"$sf/customer.parquet"),
      Snapshot.TableSpec(TableId("srcdb", "public", "dupt"),
        Seq("c_custkey"), dupPath))
    val e = intercept[IllegalStateException] {
      Snapshot.basebackup(spark, specs, registry, store, root, 0L, validatePk = true)
    }
    assert(e.getMessage.contains("not unique"))
    assert(registry.ids.isEmpty)          // nothing registered
    assert(store.manifest().isEmpty)      // nothing committed
    // empty PK is a distinct, named error
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.basebackup(spark, Seq(Snapshot.TableSpec(
        TableId("srcdb", "public", "nopk"), Seq.empty, s"$sf/customer.parquet")),
        registry, store, root, 0L, validatePk = true)
    }
    assert(e2.getMessage.contains("no primary key"))
    // clean data passes with validation on
    val ok = Snapshot.basebackup(spark, specs.take(1), registry, store, root, 0L,
      validatePk = true)
    assert(ok.tables.head.rows == 150L)
  }

  test("vacuum removes superseded versions, keeps committed + history") {
    val root = Files.createTempDirectory("vac-spec-").toString
    val store = new TableStore(spark, root)
    val tid = TableId("srcdb", "public", "t")
    (0L to 4L).foreach { v =>
      store.stage(tid, Seq((v, s"v$v")).toDF("id", "v"), v)
      store.commit(Map(tid -> v))
    }
    val removed = store.vacuum(keepHistory = 1)
    assert(removed == 3) // v0,v1,v2 gone; v3 (history) + v4 (committed) stay
    assert(store.read(tid).collect().map(_.getString(1)).toSeq == Seq("v4"))
    assert(store.readVersion(tid, 3L).count() == 1)
    intercept[Exception] { store.readVersion(tid, 0L).count() }
    // dropped tables' trees survive a default vacuum (a missing
    // manifest entry could also be a first-version stage in flight)
    // and are reclaimed only on explicit request
    store.drop(tid)
    assert(store.vacuum(keepHistory = 1) == 0)
    assert(store.vacuum(keepHistory = 1, reclaimDropped = true) == 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, tid.qualified)))
  }

  test("validatePrimaryKey flags only duplicated key tuples") {
    val df = Seq((1L, 1), (1L, 2), (2L, 1), (1L, 1)).toDF("k1", "k2")
    val bad = Snapshot.validatePrimaryKey(df, Seq("k1", "k2")).collect()
    assert(bad.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((1L, 1, 2L)))
  }

  test("boundToLong accepts every integral driver type, rejects the rest") {
    import java.math.{BigDecimal => JBigDecimal, BigInteger => JBigInteger}
    assert(Snapshot.boundToLong(java.lang.Long.valueOf(1L << 60)) == 1L << 60)
    assert(Snapshot.boundToLong(java.lang.Integer.valueOf(-7)) == -7L)
    assert(Snapshot.boundToLong(java.lang.Short.valueOf(3.toShort)) == 3L)
    assert(Snapshot.boundToLong(java.lang.Byte.valueOf(2.toByte)) == 2L)
    assert(Snapshot.boundToLong(new JBigDecimal("12.9")) == 12L)
    // MySQL/MariaDB return BigInteger for BIGINT UNSIGNED bounds
    assert(Snapshot.boundToLong(JBigInteger.valueOf(Long.MaxValue)) ==
      Long.MaxValue)
    intercept[ArithmeticException] { // > Long.MaxValue must not truncate
      Snapshot.boundToLong(
        JBigInteger.valueOf(Long.MaxValue).add(JBigInteger.ONE))
    }
    intercept[IllegalArgumentException] {
      Snapshot.boundToLong(java.lang.Double.valueOf(1.5))
    }
  }

  test("validateForeignKey reports orphans, ignores NULL keys") {
    val child = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val orphans = Snapshot.validateForeignKey(child, Seq("fk"), parent, Seq("pk"))
      .collect()
    assert(orphans.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((99L, 1L)))
  }

  test("basebackup → stream handoff: events before the pinned LSN never replay") {
    val sf = "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("snap-handoff-").toString
    val spool = Files.createTempDirectory("snap-handoff-spool-").toString
    val ckpt = Files.createTempDirectory("snap-handoff-ckpt-").toString
    val store = new graft.stream.TableStore(spark, root)
    val registry = new SchemaRegistry
    val rid = TableId("srcdb", "public", "region")
    Snapshot.basebackup(spark, Seq(
      Snapshot.TableSpec(rid, Seq("r_regionkey"), s"$sf/region.parquet")),
      registry, store, root, startLsn = 100L)

    // lsn 50 predates the cut — its effect is ALREADY inside the
    // snapshot image (or superseded by it); replaying would regress.
    // lsn 150 is post-cut and must apply.
    def upd(lsn: Long, key: Int, name: String) = (lsn,
      s"""{"kind":"update","schema":"public","table":"region",
        "columnnames":["r_regionkey","r_name"],
        "columnvalues":[$key,"$name"],
        "oldkeys":{"keynames":["r_regionkey"],"keyvalues":[$key]}}""")
    Seq(upd(50L, 0, "STALE"), upd(150L, 1, "FRESH"))
      .toDF("lsn_start", "payload")
      .withColumn("insert_timestamp",
        timestamp_seconds(lit(1700000000L) + col("lsn_start")))
      .withColumn("database", lit("srcdb"))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))
      .coalesce(1).write.mode("append").parquet(spool)

    val engine = new graft.stream.CdcStreamEngine(spark, registry, store)
    val q = engine.start(spool, ckpt)
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))

    val names = store.read(rid).orderBy("r_regionkey")
      .select("r_regionkey", "r_name").as[(Long, String)].collect().toMap
    assert(names(1L) == "FRESH", s"post-cut event did not apply: $names")
    assert(names(0L) != "STALE", s"pre-cut event replayed over the snapshot: $names")
  }

  /** A small region-shaped parquet source (r_regionkey 0..4). */
  private def regionSource(): String = {
    val src = Files.createTempDirectory("snap-src-").resolve("region.parquet").toString
    (0 until 5).map(i => (i.toLong, s"r$i")).toDF("r_regionkey", "r_name").write.parquet(src)
    src
  }

  test("basebackup publishes the registry with its cut: a restarted driver loads every table") {
    val root = Files.createTempDirectory("snap-reg-").toString
    val store = new TableStore(spark, root)
    val specs = Seq("region", "nation").map(t =>
      Snapshot.TableSpec(TableId("srcdb", "public", t), Seq("r_regionkey"), regionSource()))
    val registry = new SchemaRegistry
    Snapshot.basebackup(spark, specs, registry, store, root, 7L, njobs = 2)
    val loaded = SchemaRegistry.load(new TableStore(spark, root).registryPath)
    assert(loaded.ids == specs.map(_.id).toSet)
    specs.foreach(s => assert(loaded(s.id) == registry(s.id), s.id.qualified))
  }

  test("per-database handoff: each database resumes at its own snapshot's LSN") {
    // two source databases, two WALs: db1 snapshotted at LSN 100, db2
    // at 500. Of db1's changes at 50 and 200 and db2's at 400 and 600,
    // only 200 and 600 are past their database's cut
    val root = Files.createTempDirectory("snap-perdb-").toString
    val spool = Files.createTempDirectory("snap-perdb-spool-").toString
    val ckpt = Files.createTempDirectory("snap-perdb-ckpt-").toString
    val store = new TableStore(spark, root)
    val registry = new SchemaRegistry
    Seq("db1" -> 100L, "db2" -> 500L).foreach { case (db, lsn) =>
      Snapshot.basebackup(spark, Seq(Snapshot.TableSpec(TableId(db, "public", "region"),
        Seq("r_regionkey"), regionSource())), registry, store, root, lsn, njobs = 1)
    }
    assert(store.progress() == Map(
      "db1" -> TableStore.Progress(Some(100L), None),
      "db2" -> TableStore.Progress(Some(500L), None)))
    def upd(db: String, lsn: Long, key: Int) = (db, lsn,
      s"""{"kind":"update","schema":"public","table":"region",
        "columnnames":["r_regionkey","r_name"],"columnvalues":[$key,"at $lsn"],
        "oldkeys":{"keynames":["r_regionkey"],"keyvalues":[$key]}}""")
    Seq(upd("db1", 50L, 0), upd("db1", 200L, 1), upd("db2", 400L, 0), upd("db2", 600L, 1))
      .toDF("database", "lsn_start", "payload")
      .withColumn("insert_timestamp", timestamp_seconds(lit(1700000000L) + col("lsn_start")))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))
      .coalesce(1).write.mode("append").parquet(spool)
    val q = new graft.stream.CdcStreamEngine(spark,
      SchemaRegistry.load(store.registryPath), store).start(spool, ckpt)
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
    val applied = Seq("db1", "db2").flatMap { db =>
      store.read(TableId(db, "public", "region")).filter(col("r_name").startsWith("at "))
        .select("r_name").as[String].collect().toSeq
    }
    assert(applied.sorted == Seq("at 200", "at 600"))
    // each database's position is its last consumed row: (its
    // insert_timestamp in µs, its LSN)
    def at(lsn: Long) = Some(((1700000000L + lsn) * 1000000L, lsn))
    assert(store.progress() == Map(
      "db1" -> TableStore.Progress(Some(100L), at(200L)),
      "db2" -> TableStore.Progress(Some(500L), at(600L))))
  }

  test("a store from before per-database replay progress is refused, naming the store") {
    // its manifest holds the single start LSN and no progress: a
    // replay would start at LSN 0 and re-apply what the snapshot holds
    val root = Files.createTempDirectory("snap-old-").toString
    val rid = TableId("srcdb", "public", "region")
    val store = new TableStore(spark, root)
    store.stage(rid, Seq((0L, "r0")).toDF("r_regionkey", "r_name"), 0L)
    val body = s"@start_lsn=100\n${rid.qualified}=0\n"
    val crc = new java.util.zip.CRC32
    crc.update(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.writeString(java.nio.file.Paths.get(root, "_latest"),
      s"#graft-manifest seq=1 entries=2 crc=${java.lang.Long.toHexString(crc.getValue)}\n$body")
    assert(store.manifest() == Map(rid.qualified -> 0L))
    val registry = new SchemaRegistry
    registry.register(graft.model.TableMeta(rid, store.read(rid).schema, Seq("r_regionkey")))
    val batch = Seq((1L, """{"kind":"delete","schema":"public","table":"region",
        "oldkeys":{"keynames":["r_regionkey"],"keyvalues":[0]}}"""))
      .toDF("lsn_start", "payload")
      .withColumn("insert_timestamp", timestamp_seconds(lit(1700000000L)))
      .withColumn("database", lit("srcdb"))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))
    val e = intercept[IllegalStateException] {
      new graft.stream.CdcStreamEngine(spark, registry, store).processBatch(batch, 0L)
    }
    assert(e.getMessage.contains(root) && e.getMessage.contains("@start_lsn") &&
      e.getMessage.contains("re-seed"), e.getMessage)
    assert(store.read(rid).count() == 1L)
  }

  test("JDBC basebackup: partitioned parallel copy from a live database (S5)") {
    // embedded Derby = a real JDBC database in-process (ships with the
    // Spark distribution), so the spark.read.jdbc range-partitioned
    // copy — SURVEY §2.1 S5's promised form, the ctid%P analog — is a
    // TESTED path, not a doc claim, in a zero-egress sandbox
    val url = "jdbc:derby:memory:snapjdbc;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE customer (c_custkey BIGINT PRIMARY KEY, " +
          "c_name VARCHAR(30), c_acctbal DOUBLE)")
      st.executeUpdate(
        "CREATE TABLE empty_t (e_key BIGINT PRIMARY KEY, e_val VARCHAR(10))")
      val ins = conn.prepareStatement("INSERT INTO customer VALUES (?, ?, ?)")
      (1 to 100).foreach { i =>
        ins.setLong(1, i.toLong); ins.setString(2, s"cust$i")
        ins.setDouble(3, i * 1.5); ins.addBatch()
      }
      ins.executeBatch()

      val cid = TableId("srcdb", "public", "customer")
      val eid = TableId("srcdb", "public", "empty_t")
      val cSpec = Snapshot.JdbcTableSpec(cid, Seq("c_custkey"),
        "customer", "c_custkey", numPartitions = 4)
      val eSpec = Snapshot.JdbcTableSpec(eid, Seq("e_key"),
        "empty_t", "e_key", numPartitions = 4)

      // the copy IS parallel: 4 concurrent range scans over the
      // partition column; an empty table falls back to 1 partition
      assert(Snapshot.jdbcSource(spark, url, props, cSpec)
        .rdd.getNumPartitions == 4)
      assert(Snapshot.jdbcSource(spark, url, props, eSpec)
        .rdd.getNumPartitions == 1)

      val root = Files.createTempDirectory("snap-jdbc-").toString
      val store = new TableStore(spark, root)
      val registry = new SchemaRegistry
      val report = Snapshot.basebackupJdbc(spark, url, props,
        Seq(cSpec, eSpec), registry, store, root, 0xB0000000FL,
        validatePk = true)
      assert(report.tables.map(t => t.id.table -> t.rows).toMap ==
        Map("customer" -> 100L, "empty_t" -> 0L))
      // rows arrived intact through the partitioned copy
      val got = store.read(cid)
      assert(got.count() == 100L)
      assert(got.agg(sum(col("c_acctbal"))).head().getDouble(0) == 7575.0)
      assert(registry(cid).pkCols == Seq("c_custkey"))
      // the LSN pin hands off to the stream engine exactly like the
      // parquet path
      assert(store.progress() == Map("srcdb" -> TableStore.Progress(Some(0xB0000000FL), None)))
    } finally conn.close()
  }
}
