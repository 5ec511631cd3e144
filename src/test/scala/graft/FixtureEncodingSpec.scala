package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Real-fixture encoding coverage for `Tables.events`.
  *
  * The driver has shipped `events.parquet` under two physical
  * encodings so far — parquet `TIMESTAMP(NANOS)` (read as a Long
  * under `spark.sql.legacy.parquet.nanosAsLong`) and
  * `timestamp[us]` with `isAdjustedToUTC=false` (read as
  * `TIMESTAMP_NTZ`) — and the round-6 incident proved a unit suite
  * that never reads an ACTUAL parquet file in either encoding stays
  * green while every event query breaks. These tests write real
  * parquet fixtures in BOTH encodings (the NANOS one via parquet-mr
  * directly, since Spark cannot write nanos), round-trip them through
  * [[Tables.events]], and require the µs instants and a full event
  * query to agree across encodings. The reference pins its decoders
  * the same way — byte-level fixtures reused verbatim
  * (connemara_replication/tests/connemara_basic_test.c:5-25).
  */
class FixtureEncodingSpec extends SparkSpec {

  import spark.implicits._

  // (event_id, µs-instant as LocalDateTime in UTC, user_id, type, value, props)
  private val base = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
  private val rows = Seq(
    (1L, base.plusSeconds(10), 7L, "view", 1.0, "{}"),
    (2L, base.plusSeconds(20), 7L, "click", 2.0, "{}"),
    (3L, base.plusSeconds(30), 7L, "purchase", 3.0, "{}"),
    (4L, base.plusSeconds(40), 8L, "view", 4.0, "{}"),
    (5L, base.plusSeconds(50), 8L, "purchase", 5.0, "{}"))

  /** Expected epoch-µs per event id (UTC). */
  private val expectedUs: Map[Long, Long] = rows.map { case (id, t, _, _, _, _) =>
    id -> t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
  }.toMap

  /** Spark-written fixture: TIMESTAMP_NTZ column → parquet
    * `timestamp[us]`, `isAdjustedToUTC=false` — the round-7 shipped
    * encoding. */
  private lazy val ntzDir: String = {
    val dir = Files.createTempDirectory("graft_ntz_fixture").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** parquet-mr-written fixture: `TIMESTAMP(NANOS, false)` int64 —
    * the pre-round-7 shipped encoding; Spark can only READ it (as
    * Long, under the legacy flag), so the file is produced with the
    * parquet example writer. */
  private lazy val nanosDir: String = {
    val dir = Files.createTempDirectory("graft_nanos_fixture").toString
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
        .named("ts")
      .required(PrimitiveTypeName.INT64).named("user_id")
      .required(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(PrimitiveTypeName.DOUBLE).named("value")
      .required(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet/part-00000.parquet"))
      .withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, t, uid, et, v, p) =>
      val g = gf.newGroup()
      g.add("event_id", id)
      g.add("ts", expectedUs(id) * 1000L) // µs → ns
      g.add("user_id", uid)
      g.add("event_type", et)
      g.add("value", v)
      g.add("props", p)
      writer.write(g)
    } finally writer.close()
    dir
  }

  private def readUs(dir: String): Map[Long, Long] =
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect().toMap

  test("timestamp[us] NTZ fixture: Tables.events reads exact µs instants") {
    val df = Tables.events(spark, ntzDir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(readUs(ntzDir) == expectedUs)
  }

  test("TIMESTAMP(NANOS) fixture: Tables.events reads exact µs instants") {
    val df = Tables.events(spark, nanosDir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(readUs(nanosDir) == expectedUs)
  }

  test("an event query returns identical rows under both fixture encodings") {
    val a = graft.queries.Events.ev_funnel.fn(spark, ntzDir).collect().toSeq
    val b = graft.queries.Events.ev_funnel.fn(spark, nanosDir).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
    // user 7 completes the funnel; the instants are the planted ones
    val u7 = a.find(_.getLong(0) == 7L).getOrElse(fail("user 7 missing"))
    assert(u7.getLong(1) == expectedUs(1L))
    assert(u7.getLong(2) == expectedUs(2L))
    assert(u7.getLong(3) == expectedUs(3L))
  }

  test("non-UTC session fails loudly on the NTZ cast instead of shifting instants") {
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try intercept[IllegalArgumentException](Tables.events(spark, ntzDir))
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("embeddings shipped as array<double> still drive the ANN ops") {
    // the other fixture-drift candidate: every embedding op must
    // tolerate a float→double element-type change in the parquet
    // (the native expressions accept both; quantization casts) — the
    // same "unit suite green, every query broken" class the events
    // encoding caught in round 6
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dbl_emb").toString
    val rnd = new scala.util.Random(5)
    (0L until 60L).map { i =>
      (i, Seq.fill(64)(rnd.nextDouble() - 0.5), s"l${i % 3}")
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = Tables.embeddings(spark, dir)
    val topk = graft.ops.Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 5), e, "vec_id", "embedding", 3)
    assert(topk.count() == 15)
    val ivfpq = graft.ops.ProductQuant.ivfAdcTopK(
      e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
      dim = 64, m = 4, k = 4, topK = 3, kCells = 4, iters = 1, nProbe = 2)
    assert(ivfpq.count() > 0)
    val lsh = graft.ops.Similarity.lshTopKMd5(
      e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
      k = 3, dim = 64)
    assert(lsh.count() > 0)
  }

  test("Planted.variants refuses a base frame that already has a __v column") {
    val spark = TestSpark.spark
    val base = spark.range(3).select(col("id"), col("id").as("__v"))
    val e = intercept[IllegalArgumentException](
      graft.fixtures.Planted.variants(base, Seq(lit(true) -> Seq.empty)))
    assert(e.getMessage.contains("__v"), e.getMessage)
  }
}
