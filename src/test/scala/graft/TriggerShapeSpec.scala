package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.apply.ApplyEngine
import graft.decode.Wal2Json
import graft.model.{SchemaRegistry, TableId, TableMeta}
import graft.stream.{CdcStreamEngine, TableStore}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The stream engine's trigger shapes ([[CdcStreamEngine.Shape]]): a
  * small trigger collapses, finds its buckets and merges in one
  * partition; a large one hash-partitions the collapse and broadcasts
  * the change side. The shape follows the session's size settings
  * alone, so these specs force each shape through those settings and
  * run the same seeded batches through every one. */
class TriggerShapeSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("a", StringType), StructField("c", DoubleType)))
  private val bid = TableId("db1", "public", "b") // PK-bucketed
  private val pid = TableId("db1", "public", "p") // plain
  private val viewId = TableId("db1", "public", "b_by_a")
  private val ac = Seq("a" -> true, "c" -> false) // (column, is text)

  private val MinPart = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Session settings that force each shape on these few-KB batches. */
  private val shapes: Seq[(String, Map[String, String])] = Seq(
    "small" -> Map(MinPart -> "64m"),
    "large" -> Map(MinPart -> "1"))

  private def withConf[A](conf: Map[String, String])(body: => A): A = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally conf.keys.foreach(spark.conf.unset)
  }

  /** One seeded random change to `table` (non-key columns `cols`): an
    * insert, a partial update or a delete on a key in 0..39, so keys
    * repeat within a batch, inserts hit live keys and updates missing
    * ones; one key in ten is NULL, and one change in eight is a delete
    * followed by an update of the same key (patch-after-delete). */
  private def randomChanges(rnd: Random, table: String, cols: Seq[(String, Boolean)]): Seq[String] = {
    val key = if (rnd.nextInt(10) == 0) "null" else rnd.nextInt(40).toString
    def value(text: Boolean) =
      if (rnd.nextInt(8) == 0) "null"
      else if (text) s""""w${rnd.nextInt(5)}""""
      else (rnd.nextInt(100000) / 100.0).toString
    def names(cs: Seq[(String, Boolean)]) = ("k" +: cs.map(_._1)).map(c => s""""$c"""").mkString(",")
    def values(cs: Seq[(String, Boolean)]) = (key +: cs.map(c => value(c._2))).mkString(",")
    def update(cs: Seq[(String, Boolean)]) =
      s"""{"kind":"update","schema":"public","table":"$table",
        "columnnames":[${names(cs)}],"columnvalues":[${values(cs)}],
        "oldkeys":{"keynames":["k"],"keyvalues":[$key]}}"""
    val delete = s"""{"kind":"delete","schema":"public","table":"$table",
        "oldkeys":{"keynames":["k"],"keyvalues":[$key]}}"""
    rnd.nextInt(8) match {
      case 0 | 1 => Seq(s"""{"kind":"insert","schema":"public","table":"$table",
        "columnnames":[${names(cols)}],"columnvalues":[${values(cols)}]}""")
      case 2 | 3 | 4 => Seq(update(cols.filter(_ => rnd.nextBoolean())))
      case 5 | 6 => Seq(delete)
      case _ => Seq(delete, update(cols.take(1)))
    }
  }

  private def changes(rnd: Random, n: Int, table: String, cols: Seq[(String, Boolean)]) =
    (0 until n).flatMap(_ => randomChanges(rnd, table, cols))

  private def ddl(query: String) =
    raw"""{"kind":"insert","schema":"public","table":"sql_ddl_statements",
      "columnnames":["current_query","search_path","command_tags"],
      "columnvalues":["$query","public","{\"ALTER TABLE\"}"]}"""

  /** One trigger's spool rows, in payload order, as one partition (one
    * spool file). */
  private def spool(payloads: Seq[String], from: Long): DataFrame =
    payloads.zipWithIndex.map { case (p, i) => (from + i, p) }.toDF("lsn_start", "payload")
      .withColumn("insert_timestamp", timestamp_seconds(lit(1700000000L) + col("lsn_start")))
      .withColumn("database", lit("db1"))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))
      .coalesce(1)

  /** A store with `b` (8 PK buckets) and `p` (plain), `n` rows each. */
  private def freshStore(n: Int = 30): (TableStore, SchemaRegistry) = {
    val store = new TableStore(spark, Files.createTempDirectory("graft-shape-").toString)
    val registry = new SchemaRegistry
    val base = (0 until n).map(i => (i.toLong, s"w${i % 5}", i * 1.5)).toDF("k", "a", "c")
    registry.register(TableMeta(bid, schema, Seq("k")))
    registry.register(TableMeta(pid, schema, Seq("k")))
    store.stageBucketed(bid, base, 0L, TableStore.BucketSpec(8, Seq("k")))
    store.stage(pid, base, 0L)
    store.commit(Map(bid -> 0L, pid -> 0L))
    (store, registry)
  }

  private def rows(store: TableStore, id: TableId): Seq[Row] = {
    val df = store.read(id)
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq
  }

  /** The jobs `body` ran: description and the task count of each stage
    * that executed (skipped stages have none). */
  private def jobsOf(body: => Unit): Seq[(String, Seq[Int])] = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs = new ConcurrentLinkedQueue[(Int, String, Seq[Int])]
    val tasks = new ConcurrentHashMap[Integer, Integer]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.jobId, Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull, e.stageIds))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try body finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq.sortBy(_._1).map { case (_, desc, stages) =>
      desc -> stages.flatMap(s => Option(tasks.get(s)).map(_.intValue))
    }
  }

  test("property: every shape gives the same tables (bucketed delta and plain " +
      "tables, repeated and null keys, patch-after-delete, an AggView)") {
    // one seed: each shape's run is ~4 s of suite time
    Seq(5L).foreach { seed =>
      val rnd = new Random(seed)
      // the last changes insert a NULL key into each table, so one
      // survives into the final state whatever came before it
      val nullKeys = Seq("b", "p").map(t => s"""{"kind":"insert","schema":"public",
        "table":"$t","columnnames":["k","a","c"],"columnvalues":[null,"w0",0.5]}""")
      val batches = Seq.fill(2)(
        (0 until 40).flatMap(_ => randomChanges(rnd, if (rnd.nextBoolean()) "b" else "p", ac))
      ).zipWithIndex.map { case (ps, i) => if (i == 1) ps ++ nullKeys else ps }
      // at a minimum partition size of the largest batch's payload
      // bytes, every batch is small but the tables' files (5,000 rows,
      // tens of KB) are not: a collected change set, broadcast merge
      val payloadMax = batches.map(ps =>
        spool(ps, 0L).agg(CdcStreamEngine.payloadBytes).head().getLong(0)).max
      val forced = shapes :+ ("small, target over the limit" -> Map(MinPart -> payloadMax.toString))
      val runs = forced.map { case (name, conf) =>
        withConf(conf) {
          val (store, registry) = freshStore(5000)
          val engine = new CdcStreamEngine(spark, registry, store,
            aggViews = Seq(CdcStreamEngine.AggView(bid, viewId, "a",
              r => r("c").cast("decimal(18,6)"))))
          val jobs = jobsOf {
            var lsn = 0L
            batches.zipWithIndex.foreach { case (ps, i) =>
              engine.processBatch(spool(ps, lsn), i.toLong)
              lsn += ps.size
            }
          }
          name -> (Seq(bid, pid, viewId).map(rows(store, _)), jobs.size)
        }
      }.toMap
      val want = runs("large")._1
      assert(want.take(2).forall(_.exists(_.isNullAt(0))), s"seed $seed: a NULL key was lost")
      runs.foreach { case (name, (got, _)) => assert(got == want, s"seed $seed, $name") }
      // the forced shapes really differ
      val jobs = runs.view.mapValues(_._2).toMap
      assert(jobs("small") < jobs("small, target over the limit") &&
        jobs("small") < jobs("large"), s"seed $seed: $jobs")
    }
  }

  test("a DDL batch of four segments, a delta batch and a DROP batch agree across shapes") {
    val rnd = new Random(7L)
    val acd = ac :+ ("d" -> true)
    val a2c = Seq("a2" -> true, "c" -> false)
    // n is created in the DDL batch: its first merge has no committed
    // target; the last batch changes n, drops it and changes b
    val batch0 = changes(rnd, 12, "b", ac) ++ changes(rnd, 12, "p", ac) ++
      Seq(ddl("ALTER TABLE b ADD COLUMN d text")) ++
      changes(rnd, 12, "b", acd) ++ changes(rnd, 8, "p", ac) ++
      Seq(ddl("ALTER TABLE p RENAME COLUMN a TO a2")) ++
      changes(rnd, 12, "p", a2c) ++ changes(rnd, 6, "b", acd) ++
      Seq(ddl("CREATE TABLE n (k bigint PRIMARY KEY, a text, c double precision)")) ++
      changes(rnd, 12, "n", ac) ++ changes(rnd, 6, "p", a2c)
    val batch1 = changes(rnd, 20, "b", acd) ++ changes(rnd, 20, "p", a2c) ++
      changes(rnd, 12, "n", ac)
    val batch2 = changes(rnd, 8, "n", ac) ++ Seq(ddl("DROP TABLE n")) ++ changes(rnd, 8, "b", acd)
    // the third shape (a collected change set with a broadcast merge)
    // is in the property above, for suite time
    val runs = shapes.map { case (name, conf) =>
      withConf(conf) {
        val (store, registry) = freshStore()
        val engine = CdcStreamEngine.withDdl(spark, registry, store)
        var lsn = 0L
        name -> Seq(batch0, batch1, batch2).zipWithIndex.map { case (ps, i) =>
          engine.processBatch(spool(ps, lsn), i.toLong)
          lsn += ps.size
          // after each batch: every registered table's columns and rows
          (store.manifest().keySet, registry.ids.toSeq.sortBy(_.qualified).map(id =>
            id.table -> (registry(id).schema.fieldNames.toSeq, rows(store, id))))
        }
      }
    }
    val (_, want) = runs.last
    assert(want.map(_._2.map(t => t._1 -> t._2._1)) == Seq(
      Seq("b" -> Seq("k", "a", "c", "d"), "n" -> Seq("k", "a", "c"), "p" -> Seq("k", "a2", "c")),
      Seq("b" -> Seq("k", "a", "c", "d"), "n" -> Seq("k", "a", "c"), "p" -> Seq("k", "a2", "c")),
      Seq("b" -> Seq("k", "a", "c", "d"), "p" -> Seq("k", "a2", "c"))))
    assert(want.last._1 == Set(bid.qualified, pid.qualified), "n is not retired")
    val (b0, n0) = (want.head._2.head._2._2, want.head._2(1)._2._2)
    assert(b0.exists(r => !r.isNullAt(3)), "no d value landed")
    assert(n0.nonEmpty, "no row of the created table landed")
    runs.foreach { case (name, got) => assert(got == want, name) }
  }

  test("strict mode counts the same violations in every shape") {
    // p takes clean inserts: the first failing table is b in any order
    val batch = (100 until 105).map(k => s"""{"kind":"insert","schema":"public",
        "table":"p","columnnames":["k","a","c"],"columnvalues":[$k,"x",1.5]}""") ++ Seq(
      // patch-after-delete of a live key, and a patch of a missing one
      """{"kind":"delete","schema":"public","table":"b",
        "oldkeys":{"keynames":["k"],"keyvalues":[3]}}""",
      """{"kind":"update","schema":"public","table":"b",
        "columnnames":["k","c"],"columnvalues":[3,1.0],
        "oldkeys":{"keynames":["k"],"keyvalues":[3]}}""",
      """{"kind":"update","schema":"public","table":"b",
        "columnnames":["k","c"],"columnvalues":[77,1.0],
        "oldkeys":{"keynames":["k"],"keyvalues":[77]}}""")
    val runs = shapes.map { case (name, conf) =>
      withConf(conf) {
        val (store, registry) = freshStore()
        val engine = new CdcStreamEngine(spark, registry, store, strict = true)
        val e = intercept[IllegalStateException](engine.processBatch(spool(batch, 0L), 0L))
        name -> (e.getMessage, store.manifest())
      }
    }
    val (_, (msg, manifest)) = runs.last
    assert(msg.contains("apply violations on db1_public.b"), msg)
    assert(manifest.values.forall(_ == 0L), "a strict failure committed")
    runs.foreach { case (name, got) => assert(got == (msg, manifest), name) }
  }

  test("a small DML-only trigger runs at most 5 jobs of one task; over the " +
      "session's minPartitionSize it hash-partitions the collapse; same rows") {
    val batch = changes(new Random(3L), 60, "b", ac)
    def run(conf: Map[String, String]) = withConf(conf) {
      val (store, registry) = freshStore()
      val engine = new CdcStreamEngine(spark, registry, store)
      val jobs = jobsOf(engine.processBatch(spool(batch, 0L), 0L))
      (jobs, rows(store, bid))
    }
    val (small, smallRows) = run(Map.empty) // the default 1 MB minimum
    val (large, largeRows) = run(Map(MinPart -> "1"))
    assert(small.size <= 5 && small.forall(_._2.forall(_ == 1)), small)
    val n = spark.sparkContext.defaultParallelism
    assert(n > 1 && large.exists { case (desc, tasks) =>
      desc.endsWith("preamble") && tasks.contains(n)
    }, large)
    assert(large.size > small.size)
    assert(smallRows == largeRows)
  }

  test("a broadcast merge hints only its join input: BroadcastHashJoin, no hint warning") {
    val warned = new ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("hint-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warned.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    val meta = TableMeta(pid, schema, Seq("k"))
    val target = (0 until 30).map(i => (i.toLong, s"w$i", i * 1.5)).toDF("k", "a", "c")
    val events = Wal2Json.decodeEvents(
      Wal2Json.parse(spool(changes(new Random(9L), 20, "p", ac), 0L)), meta)
    val merged = ApplyEngine.merge(target, ApplyEngine.collapse(events), meta,
      broadcastChanges = true)
    try merged.collect()
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    object Plans extends AdaptiveSparkPlanHelper
    assert(Plans.collect(merged.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.nonEmpty, merged.queryExecution.executedPlan)
    assert(!warned.asScala.exists(_.contains("not part of a join relation")),
      warned.asScala.mkString("\n"))
  }
}
