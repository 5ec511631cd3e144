package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.apply.ApplyEngine
import graft.model.{SchemaRegistry, TableId, TableMeta}
import graft.stream.{BucketedPublish, CdcStreamEngine, TableStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PK-bucketed incremental publish: a batch rewrites ONLY the buckets
  * its keys hash into; everything else is carried by bucketmap
  * reference. The scale property under test is physical — we read
  * the buckets present in the files a version actually wrote.
  */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val tid = TableId("srcdb", "public", "t")
  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("v", StringType)))
  private def meta = TableMeta(tid, schema, Seq("k"))
  private val spec = TableStore.BucketSpec(8, Seq("k"))

  private def fresh(): (TableStore, String) = {
    val root = Files.createTempDirectory("graft-bstore-").toString
    (new TableStore(spark, root), root)
  }

  private def seed(store: TableStore, n: Int = 100): Unit = {
    val df = (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    store.stageBucketed(tid, df, 0L, spec)
    store.commit(Map(tid -> 0L))
  }

  /** Bucket ids present in the files of one version dir. */
  private def bucketsWritten(root: String, version: Long, id: TableId = tid): Set[Int] =
    spark.read.parquet(Paths.get(root, id.qualified, s"v=$version").toString)
      .select(TableStore.BucketCol).distinct().as[Int].collect().toSet

  /** Parquet data files of one version dir. */
  private def dataFiles(root: String, version: Long): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(root, tid.qualified, s"v=$version"))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  /** The shape a tiny batch takes, and today's shape for a large one. */
  private def small = CdcStreamEngine.Shape(spark, 0L)
  private val large = CdcStreamEngine.Shape(1L, minPartitionSize = 0L, broadcast = true)

  private def collapsedOf(rows: (String, Long, Map[String, String])*): DataFrame =
    rows.toSeq
      .map { case (st, k, vals) => (Seq(k.toString), st, vals, 0) }
      .toDF("key", "st", "vals", "viol")

  test("full stage + read-back round-trips through the bucketmap") {
    val (store, _) = fresh()
    seed(store)
    assert(store.bucketSpec(tid).contains(spec))
    assert(store.read(tid).orderBy("k").collect().toSeq ==
      (1 to 100).map(i => Row(i.toLong, s"v$i")))
  }

  test("a 1-key batch rewrites exactly 1 bucket") {
    val (store, root) = fresh()
    seed(store)
    val changed = BucketedPublish.stageDelta(store, meta, spec,
      collapsedOf(("patch", 7L, Map("v" -> "PATCHED"))), 1L, 0L, small)
    store.commit(Map(tid -> 1L))
    assert(changed.size == 1)
    assert(bucketsWritten(root, 1L) == changed)
    val got = store.read(tid).orderBy("k").collect().toSeq
    assert(got == (1 to 100).map(i =>
      Row(i.toLong, if (i == 7) "PATCHED" else s"v$i")))
  }

  test("delta insert/delete/replace merge matches the full-table merge") {
    Seq(small, large).foreach { shape =>
      val (store, _) = fresh()
      seed(store)
      val collapsed = collapsedOf(
        ("row", 3L, Map("k" -> "3", "v" -> "REPLACED")),
        ("row", 1000L, Map("k" -> "1000", "v" -> "NEW")),
        ("del", 5L, Map.empty),
        ("patch", 42L, Map("v" -> "P42")))
      val expected = ApplyEngine.merge(
        store.readVersion(tid, 0L), collapsed, meta)
        .orderBy("k").collect().toSeq
      BucketedPublish.stageDelta(store, meta, spec, collapsed, 1L, 0L, shape)
      store.commit(Map(tid -> 1L))
      assert(store.read(tid).orderBy("k").collect().toSeq == expected, shape)
    }
  }

  test("chained deltas resolve each bucket at its latest writing version") {
    val (store, _) = fresh()
    seed(store, n = 20)
    BucketedPublish.stageDelta(store, meta, spec,
      collapsedOf(("patch", 1L, Map("v" -> "A"))), 1L, 0L, small)
    store.commit(Map(tid -> 1L))
    BucketedPublish.stageDelta(store, meta, spec,
      collapsedOf(("patch", 2L, Map("v" -> "B"))), 2L, 1L, small)
    store.commit(Map(tid -> 2L))
    val got = store.read(tid).orderBy("k").collect().toSeq
    assert(got == (1 to 20).map(i => Row(i.toLong,
      if (i == 1) "A" else if (i == 2) "B" else s"v$i")))
    // one pushable OR over the dirs read, each with its own buckets
    val plan = store.read(tid).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [Or(") &&
      plan.contains("And(EqualTo(__gv,0),In(__gb, ["), plan)
  }

  test("replaying the same delta version is idempotent") {
    val (store, _) = fresh()
    seed(store, n = 10)
    val collapsed = collapsedOf(("patch", 4L, Map("v" -> "X")))
    BucketedPublish.stageDelta(store, meta, spec, collapsed, 1L, 0L, small)
    BucketedPublish.stageDelta(store, meta, spec, collapsed, 1L, 0L, small)
    store.commit(Map(tid -> 1L))
    assert(store.read(tid).filter($"k" === 4L).collect().toSeq ==
      Seq(Row(4L, "X")))
    assert(store.read(tid).count() == 10)
  }

  test("empty staged version (all buckets empty) reads back via the schema sidecar") {
    val (store, _) = fresh()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    store.stageBucketed(tid, empty, 0L, spec)
    store.commit(Map(tid -> 0L))
    assert(store.read(tid).count() == 0)
    assert(store.read(tid).schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("vacuum keeps version dirs the committed bucketmap references") {
    val (store, root) = fresh()
    seed(store, n = 50)
    BucketedPublish.stageDelta(store, meta, spec,
      collapsedOf(("patch", 1L, Map("v" -> "A"))), 1L, 0L, small)
    store.commit(Map(tid -> 1L))
    BucketedPublish.stageDelta(store, meta, spec,
      collapsedOf(("patch", 2L, Map("v" -> "B"))), 2L, 1L, small)
    store.commit(Map(tid -> 2L))
    // v0 (most buckets) and v1 are still referenced by v2's bucketmap
    assert(store.vacuum(keepHistory = 0) == 0)
    assert(Files.exists(Paths.get(root, tid.qualified, "v=0")))
    val got = store.read(tid).orderBy("k").collect().toSeq
    assert(got == (1 to 50).map(i => Row(i.toLong,
      if (i == 1) "A" else if (i == 2) "B" else s"v$i")))
    // a full rewrite drops every old reference — now vacuum reclaims
    store.stageBucketed(tid, store.read(tid), 3L, spec)
    store.commit(Map(tid -> 3L))
    assert(store.vacuum(keepHistory = 0) == 3)
    assert(!Files.exists(Paths.get(root, tid.qualified, "v=0")))
    assert(store.read(tid).orderBy("k").collect().toSeq == got)
  }

  test("vacuum keeps the bucket dirs of every kept history version") {
    val (store, root) = fresh()
    seed(store, n = 200)
    // deltas rewriting bucket 5, then 0, then 5 again
    Seq(1L -> 5, 2L -> 0, 3L -> 5).foreach { case (v, b) =>
      store.stageBucketed(tid, store.readBuckets(tid, Set(b), v - 1), v,
        spec, changed = Some(Set(b)), baseVersion = Some(v - 1))
      store.commit(Map(tid -> v))
    }
    // v=1 is history below the kept window, but kept v=2 reads bucket
    // 5 from it
    assert(store.vacuum(keepHistory = 1) == 0)
    assert(Files.exists(Paths.get(root, tid.qualified, "v=1")))
    assert(store.readVersion(tid, 2L).count() == 200L)
    assert(store.readVersion(tid, 3L).count() == 200L)
  }

  test("append versions: a compaction drops its window's parts, and " +
      "vacuum keeps every part a kept version reads") {
    val (store, root) = fresh()
    def rows(ks: Range) = ks.map(i => (i.toLong, s"v$i")).toDF("k", "v")
    def keys(v: Long) = store.readVersion(tid, v).select("k").as[Long]
      .collect().sorted.toSeq
    store.stageAppend(tid, rows(1 to 3), 0L, batch = 0L, base = None)
    store.commitBatch(tid, 0L, batch = 0L)
    store.stageAppend(tid, rows(4 to 5), 1L, batch = 1L, base = Some(0L))
    store.commitBatch(tid, 1L, batch = 1L)
    store.stageAppend(tid, rows(6 to 6), 2L, batch = 2L, base = Some(1L))
    store.commitBatch(tid, 2L, batch = 2L)
    assert(store.origin(tid).contains(2L))
    assert(store.parts(tid, 2L) == Seq(0L -> 0L, 1L -> 1L, 2L -> 2L))
    assert(keys(2L) == (1L to 6L))
    // fold parts 0 and 1; the new part carries their lowest batch
    store.stageCompaction(tid, store.readParts(tid, 2L, Seq(0L, 1L)), 3L,
      base = 2L, window = Seq(0L, 1L))
    assert(store.manifest()(tid.qualified) == 2L, "staged, not published")
    store.commit(Map(tid -> 3L))
    assert(store.parts(tid, 3L) == Seq(2L -> 2L, 3L -> 0L))
    assert(keys(3L) == (1L to 6L))
    // v=2 (kept history) still reads parts 0 and 1; once it leaves the
    // window they are reclaimed, and v=2 itself is still a part of v=3
    assert(store.vacuum(keepHistory = 1) == 0)
    store.stageAppend(tid, rows(7 to 7), 4L, batch = 3L, base = Some(3L))
    store.commitBatch(tid, 4L, batch = 3L)
    assert(store.vacuum(keepHistory = 1) == 2)
    assert(!Files.exists(Paths.get(root, tid.qualified, "v=0")))
    assert(Files.exists(Paths.get(root, tid.qualified, "v=2")))
    assert(keys(4L) == (1L to 7L))
  }

  test("engine DML batch over a bucketed table stages only touched buckets") {
    val root = Files.createTempDirectory("graft-bstore-").toString
    val custSchema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType)))
    val ctid = TableId("srcdb", "public", "customer")
    val registry = new SchemaRegistry
    registry.register(TableMeta(ctid, custSchema, Seq("c_custkey")))
    val store = new TableStore(spark, root)
    val cspec = TableStore.BucketSpec(8, Seq("c_custkey"))
    store.stageBucketed(ctid,
      (1 to 64).map(i => (i.toLong, s"N$i", i * 1.0))
        .toDF("c_custkey", "c_name", "c_acctbal"), 0L, cspec)
    store.commit(Map(ctid -> 0L))
    val engine = new CdcStreamEngine(spark, registry, store)

    val batch = Seq(
      (1L, """{"kind":"update","schema":"public","table":"customer",
        "columnnames":["c_custkey","c_acctbal"],"columnvalues":[5,99.0],
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[5]}}"""),
      (2L, """{"kind":"delete","schema":"public","table":"customer",
        "oldkeys":{"keynames":["c_custkey"],"keyvalues":[6]}}"""))
      .toDF("lsn_start", "payload")
      .withColumn("insert_timestamp",
        timestamp_seconds(lit(1700000000L) + col("lsn_start")))
      .withColumn("database", lit("srcdb"))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))
    engine.processBatch(batch, 0L)

    // version 1 wrote only the buckets keys 5 and 6 hash into
    val written = bucketsWritten(root, 1L, ctid)
    assert(written.size <= 2 && written.nonEmpty)
    val got = store.read(ctid).orderBy("c_custkey").collect().toSeq
    assert(got.length == 63)
    assert(got.find(_.getLong(0) == 5L).get.getDouble(2) == 99.0)
    assert(!got.exists(_.getLong(0) == 6L))
  }

  test("concurrent commits from SEPARATE store instances lose no entry") {
    // the manifest update is a read-modify-write of the FULL map; two
    // TableStore instances on one root (the two-engines case) must
    // serialize through the per-root monitor + _latest.lock, or an
    // interleaved parse->render->rename silently drops entries while
    // seq still advances
    val root = Files.createTempDirectory("graft-race-").toString
    val df = Seq((1L, "v")).toDF("k", "v")
    val ids = (0 until 8).map(i => TableId("srcdb", "public", s"race$i"))
    ids.foreach(id => new TableStore(spark, root).stage(id, df, 0L))
    val threads = ids.map { id =>
      val st = new TableStore(spark, root) // one instance per "engine"
      new Thread(() => st.commit(Map(id -> 0L)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val m = new TableStore(spark, root).manifest()
    assert(ids.forall(id => m.get(id.qualified).contains(0L)),
      s"lost entries: ${ids.map(_.qualified).filterNot(m.contains)}")
  }

  test("a version is one bucket-sorted file, not one file per bucket") {
    // small: the one-partition merge writes its file; large: the
    // rebalance sizes the delta's files by bytes
    Seq(small, large).foreach { shape =>
      val (store, root) = fresh()
      seed(store)
      BucketedPublish.stageDelta(store, meta, spec, collapsedOf(
        ("patch", 1L, Map("v" -> "A")), ("patch", 2L, Map("v" -> "B")),
        ("patch", 3L, Map("v" -> "C"))), 1L, 0L, shape)
      Seq(0L, 1L).foreach { v =>
        val files = dataFiles(root, v)
        assert(files.size == 1, s"$shape, v=$v: $files")
        val gb = spark.read.parquet(files.head.toString)
          .select(TableStore.BucketCol).as[Int].collect().toSeq
        assert(gb == gb.sorted, s"$shape, v=$v: file not sorted by bucket")
      }
      assert(bucketsWritten(root, 0L) == (0 until spec.n).toSet)
    }
  }

  test("a version over the advisory partition size is split into more files, " +
      "still bucket-sorted, and reads back") {
    val (store, root) = fresh()
    val rows = spark.range(0, 20000, 1, 4)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val old = spark.conf.getOption(key)
    // 20k rows are ~300 KB in the shuffle: over 64 KB, files follow bytes
    spark.conf.set(key, "64k")
    try store.stageBucketed(tid, rows, 0L, spec)
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    store.commit(Map(tid -> 0L))
    val files = dataFiles(root, 0L)
    assert(files.size > 1, s"one file for ~300 KB at a 64 KB advisory size: $files")
    files.foreach { f =>
      val gb = spark.read.parquet(f.toString)
        .select(TableStore.BucketCol).as[Int].collect().toSeq
      assert(gb == gb.sorted, s"$f: not sorted by bucket")
    }
    assert(store.read(tid).exceptAll(rows).isEmpty &&
      rows.exceptAll(store.read(tid)).isEmpty)
    val two = Set(2, 5)
    val want = rows.filter(pmod(hash(col("k")), lit(spec.n)).isin(two.toSeq: _*))
    assert(store.readBuckets(tid, two, 0L).exceptAll(want).isEmpty &&
      want.exceptAll(store.readBuckets(tid, two, 0L)).isEmpty)
    // the version and bucket filter reaches Parquet, so row groups of
    // other buckets are skipped by their statistics
    val plan = store.readBuckets(tid, two, 0L).queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(__gv,0)") && plan.contains("In(__gb, [2,5])"), plan)
  }

  test("a column named like a reserved layout column is refused, by name") {
    val (store, root) = fresh()
    Seq(TableStore.BucketCol, "__GV").foreach { c =>
      val e = intercept[IllegalArgumentException] {
        store.stageBucketed(tid, Seq((1L, 7)).toDF("k", c), 0L, spec)
      }
      assert(e.getMessage.contains(s"'$c'"), e.getMessage)
    }
    assert(!Files.exists(Paths.get(root, tid.qualified, "v=0")))
  }

  test("a version in the per-bucket-dir layout fails naming its dir, never reads empty") {
    val (store, root) = fresh()
    // the layout older code wrote: one __gb=N subdir per bucket
    val vdir = Paths.get(root, tid.qualified, "v=0")
    (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .withColumn(TableStore.BucketCol, pmod(hash(col("k")), lit(spec.n)))
      .write.partitionBy(TableStore.BucketCol).parquet(vdir.toString)
    Files.writeString(vdir.resolve("_schema.json"), schema.json)
    Files.writeString(vdir.resolve("_bucketmap"),
      (0 until spec.n).map(b => s"$b=0").mkString("", "\n", "\n"))
    Files.writeString(Paths.get(root, tid.qualified, "_bucketed"), "8\nk\n")
    store.commit(Map(tid -> 0L))
    val e = intercept[IllegalStateException](store.read(tid).count())
    assert(e.getMessage.contains(vdir.toString), e.getMessage)
    val e2 = intercept[IllegalStateException](store.readBuckets(tid, Set(3), 0L).count())
    assert(e2.getMessage.contains(vdir.toString), e2.getMessage)
  }

  test("a version without a schema sidecar fails naming its dir, never infers a schema") {
    val (store, root) = fresh()
    // a version older code staged: parquet files and no _schema.json
    val vdir = Paths.get(root, tid.qualified, "v=0")
    Seq((1L, "a")).toDF("k", "v").write.parquet(vdir.toString)
    store.commit(Map(tid -> 0L))
    Seq[() => DataFrame](() => store.read(tid), () => store.readVersion(tid, 0L)).foreach { r =>
      val e = intercept[IllegalStateException](r())
      assert(e.getMessage.contains(vdir.toString) && e.getMessage.contains("_schema.json"),
        e.getMessage)
    }
  }

  test("property: every version of a random delta chain reads as the fold, " +
      "also after vacuum") {
    // each key's bucket, from the store's own hash
    val bucketOf = spark.range(0, 400)
      .select(col("id"), pmod(hash(col("id")), lit(spec.n)))
      .as[(Long, Int)].collect().toMap
    def rows(state: Map[Long, String]) = state.toSeq.toDF("k", "v")
    var removed = 0
    Seq(11L, 12L, 13L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val (store, _) = fresh()
      var state = (0L until 120L).map(k => k -> s"v0-$k").toMap
      val folds = scala.collection.mutable.Map(0L -> state)
      def check(v: Long, when: String): Unit =
        assert(store.readVersion(tid, v).as[(Long, String)].collect().toSeq.sorted ==
          folds(v).toSeq.sorted, s"seed $seed, v=$v $when")
      store.stageBucketed(tid, rows(state), 0L, spec)
      store.commit(Map(tid -> 0L))
      // a multi-bucket delta, a delta rewriting part of it, random
      // deltas and one full rewrite (None)
      val first = rnd.shuffle((0 until spec.n).toList).take(3).toSet
      def some() = Some(rnd.shuffle((0 until spec.n).toList).take(1 + rnd.nextInt(3)).toSet)
      val chain = Seq(Some(first), Some(Set(first.head)), some(), None, some(), some())
      chain.zipWithIndex.foreach { case (changed, i) =>
        val v = i + 1L
        val touched = changed.getOrElse((0 until spec.n).toSet)
        val mine = (k: Long) => touched.contains(bucketOf(k))
        state = state.collect {
          case (k, x) if !mine(k) => k -> x
          case (k, x) if rnd.nextInt(5) > 0 =>
            k -> (if (rnd.nextBoolean()) s"v$v-$k" else x)
        } ++ bucketOf.keys.filter(k => mine(k) && !state.contains(k) &&
          rnd.nextInt(8) == 0).map(k => k -> s"v$v-$k")
        store.stageBucketed(tid, rows(state.filter { case (k, _) => mine(k) }), v,
          spec, changed, changed.map(_ => v - 1))
        store.commit(Map(tid -> v))
        folds(v) = state
        check(v, "before vacuum")
        removed += store.vacuum(keepHistory = 1)
        check(v - 1, "after vacuum")
        check(v, "after vacuum")
      }
    }
    assert(removed > 0, "no chain reclaimed a dir: the vacuum checks were vacuous")
  }

  test("over the broadcast threshold a batch plans a shuffle join, same rows") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val custSchema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_acctbal", DoubleType)))
    // customer takes the bucket-level path, orders the full rewrite
    val cust = TableId("srcdb", "public", "customer")
    val orders = TableId("srcdb", "public", "orders")
    val batch = Seq("customer", "orders").zipWithIndex.flatMap { case (t, j) =>
      Seq(
        (10L * j + 1, s"""{"kind":"update","schema":"public","table":"$t",
          "columnnames":["c_custkey","c_acctbal"],"columnvalues":[5,99.0],
          "oldkeys":{"keynames":["c_custkey"],"keyvalues":[5]}}"""),
        (10L * j + 2, s"""{"kind":"delete","schema":"public","table":"$t",
          "oldkeys":{"keynames":["c_custkey"],"keyvalues":[6]}}"""),
        (10L * j + 3, s"""{"kind":"insert","schema":"public","table":"$t",
          "columnnames":["c_custkey","c_acctbal"],"columnvalues":[100,1.5]}"""))
    }.toDF("lsn_start", "payload")
      .withColumn("insert_timestamp",
        timestamp_seconds(lit(1700000000L) + col("lsn_start")))
      .withColumn("database", lit("srcdb"))
      .withColumn("xid", col("lsn_start"))
      .withColumn("xid_timestamp", col("insert_timestamp"))
      .withColumn("source_slotname", lit("slot1"))
    object Plans extends AdaptiveSparkPlanHelper {
      def joins(p: SparkPlan): Seq[BaseJoinExec] = collect(p) { case j: BaseJoinExec => j }
    }
    def run(threshold: Option[String]): (Seq[Seq[Row]], Seq[BaseJoinExec]) = {
      val registry = new SchemaRegistry
      val store = new TableStore(spark, Files.createTempDirectory("graft-bcast-").toString)
      val base = (1 to 64).map(i => (i.toLong, i * 1.0)).toDF("c_custkey", "c_acctbal")
      registry.register(TableMeta(cust, custSchema, Seq("c_custkey")))
      registry.register(TableMeta(orders, custSchema, Seq("c_custkey")))
      store.stageBucketed(cust, base, 0L, TableStore.BucketSpec(8, Seq("c_custkey")))
      store.stage(orders, base, 0L)
      store.commit(Map(cust -> 0L, orders -> 0L))
      val joins = new java.util.concurrent.ConcurrentLinkedQueue[BaseJoinExec]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      ns: Long): Unit = Plans.joins(qe.executedPlan).foreach(joins.add)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      e: Exception): Unit = ()
      }
      val key = "spark.sql.autoBroadcastJoinThreshold"
      // a 1-byte minimum partition size makes this tiny batch large:
      // the broadcast guard is the large shape's join choice
      val minPart = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
      spark.listenerManager.register(listener)
      threshold.foreach(spark.conf.set(key, _))
      spark.conf.set(minPart, "1")
      try new CdcStreamEngine(spark, registry, store).processBatch(batch, 0L)
      finally { threshold.foreach(_ => spark.conf.unset(key)); spark.conf.unset(minPart) }
      // listener events arrive asynchronously: one merge per table
      val deadline = System.currentTimeMillis() + 30000L
      while (joins.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      spark.listenerManager.unregister(listener)
      (Seq(cust, orders).map(t => store.read(t).orderBy("c_custkey").collect().toSeq),
        joins.asScala.toSeq)
    }
    val (forced, forcedJoins) = run(None)
    val (guarded, guardedJoins) = run(Some("1"))
    assert(forcedJoins.size == 2 &&
      forcedJoins.forall(_.isInstanceOf[BroadcastHashJoinExec]), forcedJoins)
    assert(guardedJoins.size == 2 &&
      guardedJoins.forall(!_.isInstanceOf[BroadcastHashJoinExec]), guardedJoins)
    assert(guarded == forced)
    assert(forced.head.length == 64 &&
      forced.head.find(_.getLong(0) == 5L).get.getDouble(1) == 99.0)
  }
}
