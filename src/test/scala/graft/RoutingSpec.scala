package graft

import java.security.MessageDigest

import graft.functions.Routing
import org.apache.spark.sql.functions._

class RoutingSpec extends SparkSpec {
  import spark.implicits._

  test("md5Route matches unpack('N', md5(...)) % n exactly") {
    // reference model: first 4 md5 bytes, big-endian unsigned, mod n
    def model(s: String, n: Int): Long = {
      val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      v % n
    }
    val keys = Seq("srcdb|public|customer|1", "srcdb|public|customer|42",
      "otherdb|s2|t|9|x", "a", "")
    val got = keys.toDF("k")
      .select(col("k"), Routing.md5Route(4, col("k")).as("r"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach { k => assert(got(k) == model(k, 4), s"key $k") }
  }

  test("dbSlotRestriction keeps unconfigured dbs, filters wrong slots") {
    val rows = Seq(
      ("db0", "slot0"), ("db0", "slot1"),
      ("db1", "slot1"), ("db1", "slot0"),
      ("dbX", "slotZ")).toDF("database", "slot")
    val kept = rows.filter(Routing.dbSlotRestriction(
      Map("db0" -> "slot0", "db1" -> "slot1"),
      col("database"), col("slot")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("db0", "slot0"), ("db1", "slot1"), ("dbX", "slotZ")))
    // empty config keeps everything
    assert(rows.filter(Routing.dbSlotRestriction(Map.empty,
      col("database"), col("slot"))).count() == 5)
  }

  test("archive mode moves applied records to the audit table") {
    import java.nio.file.Files
    import graft.model.{SchemaRegistry, TableId, TableMeta}
    import graft.stream.{CdcStreamEngine, TableStore}
    import org.apache.spark.sql.types._

    val tid = TableId("srcdb", "public", "customer")
    val registry = new SchemaRegistry
    registry.register(TableMeta(tid, StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType))), Seq("c_custkey")))
    val store = new TableStore(spark, Files.createTempDirectory("arch-store-").toString)
    store.stage(tid, Seq((1L, "Alice")).toDF("c_custkey", "c_name"), 0L)
    store.commit(Map(tid -> 0L))
    val engine = new CdcStreamEngine(spark, registry, store, archive = true)

    val batch = Seq(
      (1L, """{"kind":"delete","schema":"public","table":"customer",
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[1]}}"""))
      .toDF("lsn_start", "payload")
      .withColumn("insert_timestamp", timestamp_seconds(lit(1700000000L)))
      .withColumn("database", lit("srcdb"))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))
    engine.processBatch(batch, 0L)

    assert(store.read(tid).count() == 0) // delete applied
    val audited = store.read(TableStore.ArchiveId)
    assert(audited.count() == 1)
    assert(audited.select(col("batch_id")).head().getLong(0) == 0L)
    // replaying the committed batch id appends nothing: its rows are
    // at or before the committed spool position, no dup
    engine.processBatch(batch, 0L)
    assert(store.read(TableStore.ArchiveId).count() == 1)
  }
}
