package graft

import java.nio.file.{Files, Path, Paths}

import graft.fixtures.SyntheticCdc
import graft.model.{SchemaRegistry, TableId, TableMeta}
import graft.stream.{CdcStreamEngine, TableStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming-replay benchmark: the decode→collapse→merge→manifest-
  * commit micro-batch loop that IS the reference's production path
  * (dispatcher FETCH + 30 s commit cadence,
  * `replayer/connemara_replay.pl:841,853`). [[Bench]] times one-shot
  * batch queries; this main times the [[CdcStreamEngine]] loop under
  * sustained load and prints ONE JSON line:
  *
  *   {"metric":"stream_rows_per_sec","value":…,"batches":…,
  *    "rows":…,"total_sec":…,"p50_ms":…,"p95_ms":…,"sf":…}
  *
  * Workload: N micro-batches (SPARK_GRAFT_STREAM_BATCHES, default 20)
  * of [[SyntheticCdc.rollingLog]] over the sf customer table — every
  * batch updates ~90% of keys, inserts ~10% new ones and deletes the
  * previous batch's inserts, so volume ≈ 1.1×|customer| per batch and
  * the target table stays constant-size (steady-state replay, not
  * growth). Spool files are written BEFORE the timed region, one file
  * per batch with strictly increasing mtimes; the engine runs the
  * real Structured Streaming loop (file source, maxFilesPerTrigger=1,
  * Trigger.AvailableNow, checkpointed offsets, atomic manifest commit
  * per batch). Per-batch latency comes from the query's own progress
  * records (`triggerExecution`), so it includes offset/commit
  * bookkeeping, not just the plan.
  *
  * A final-state sanity gate (expected row count + last batch's
  * acctbal everywhere) guards against benchmarking a broken loop:
  * on mismatch the JSON carries "failed":true and the process exits
  * nonzero.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nBatches = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
      .flatMap(_.toIntOption).getOrElse(20)
    // batch-volume lever: the seeded table (and so every batch's
    // events) becomes `scale` disjoint key-shifted copies of the
    // customer fixture — per-trigger fixed cost amortizes over
    // scale× the rows, which is the property the reference's 30 s
    // commit cadence exists for. Key shift 10⁹ keeps copies disjoint
    // from insert keys (key + batch·10⁷) for any batch count < 100.
    val scale = sys.env.get("SPARK_GRAFT_STREAM_SCALE")
      .flatMap(_.toIntOption).getOrElse(1)
    // DDL-bearing stream: every k-th batch carries an ALTER TABLE ADD
    // COLUMN through the real DDL barrier (interpreter + registry
    // evolution + the full rewrite a DDL batch pays where DML-only
    // batches may publish bucket deltas). 0 = no DDL (the standing
    // workload).
    val ddlEvery = sys.env.get("SPARK_GRAFT_STREAM_DDL_EVERY")
      .flatMap(_.toIntOption).getOrElse(0)
    // PK-bucketed target layout (TableStore.stageBucketed): DML-only
    // batches publish only their changed buckets; a DDL batch disables
    // the delta path (allowDelta) — the cost contrast this bench
    // exists to record. 0 = plain full-rewrite staging.
    val nBuckets = sys.env.get("SPARK_GRAFT_STREAM_BUCKETS")
      .flatMap(_.toIntOption).getOrElse(0)
    // Crash-recovery measurement: kill the stream at batch k (via the
    // engine failpoint), restart against the same checkpoint, time
    // restart-to-caught-up, and verify the recovered final state
    // row-matches an uninterrupted reference run. The reference's
    // whole ops model is "die and measure lag"
    // (replayer/connemara_replay.pl:543-544, docs/architecture.rst:185-186)
    // — this records the number behind that model.
    // Multi-source federation: N source databases interleaved in ONE
    // spool — the reference's production topology (one daemon per
    // source db, one consolidated target, docs/architecture.rst:146-152).
    // Each db gets its own slot (P5 restriction wired into the
    // engine), db1 additionally receives poison updates from a STALE
    // slot every batch (acctbal=-999) that the restriction must drop,
    // and with DDL enabled the ALTER lands on db2 ONLY — the other
    // dbs' tables must commit through the same batches un-barriered
    // and schema-isolated.
    val nDbs = sys.env.get("SPARK_GRAFT_STREAM_DBS")
      .flatMap(_.toIntOption).getOrElse(1)
    val killAt = sys.env.get("SPARK_GRAFT_STREAM_KILL_AT")
      .flatMap(_.toLongOption)
    require(killAt.isEmpty || nDbs == 1,
      "kill-recovery mode runs on the single-db topology")
    val killPoint = sys.env.getOrElse("SPARK_GRAFT_STREAM_KILL_POINT",
      "pre_commit")
    require(Set("pre_commit", "post_commit").contains(killPoint),
      s"unknown kill point $killPoint")
    require(nBatches < 100, "insert-key space exhausted at 100 batches")
    val defaultCpus = math.min(Runtime.getRuntime.availableProcessors(), 32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // keep every batch's progress record (default 100 would be
      // enough at N=20, but the env knob can push past it)
      .config("spark.sql.streaming.numRecentProgressUpdates",
        (nBatches + 10).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dbNames =
      if (nDbs == 1) Seq("srcdb") else (1 to nDbs).map(i => s"db$i")
    val tids = dbNames.map(d => TableId(d, "public", "customer"))
    val tid = tids.head
    val slotByDb = dbNames.map(d => d -> s"slot_$d").toMap
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))

    val root = Files.createTempDirectory("graft-sbench-store-").toString
    val spool = Files.createTempDirectory("graft-sbench-spool-").toString
    val ckpt = Files.createTempDirectory("graft-sbench-ckpt-").toString

    // ---- untimed setup: seed the targets, pre-write the spool ----
    val registry = new SchemaRegistry
    tids.foreach(t => registry.register(TableMeta(t, schema, Seq("c_custkey"))))
    val store = new TableStore(spark, root)
    val cust = (0 until scale).map { s =>
      Tables.customer(spark, sfDir)
        .withColumn("c_custkey", col("c_custkey") + s * 1000000000L)
    }.reduce(_ unionByName _)
    tids.foreach { t =>
      if (nBuckets > 0)
        store.stageBucketed(t, cust, 0L,
          TableStore.BucketSpec(nBuckets, Seq("c_custkey")))
      else store.stage(t, cust, 0L)
    }
    store.commit(tids.map(_ -> 0L).toMap)
    val custRows = cust.count()
    // rollingLogOf's disjointness contract: insert keys (key + b·10⁷)
    // must never cross into the next shifted copy's base range
    // (copies shift by 10⁹) — at sf ≳ 60 the fixture's keys reach 10⁷
    // and high batch counts would alias. Checked against the OBSERVED
    // max base key, not an assumed one.
    val baseMax = Tables.customer(spark, sfDir)
      .agg(max(col("c_custkey"))).head().getLong(0)
    require(baseMax + nBatches.toLong * 10000000L < 1000000000L,
      s"insert-key space would alias across shifted copies: max base key " +
        s"$baseMax + $nBatches batches x 1e7 >= 1e9; lower the batch count " +
        "or the scale factor")

    // one DDL record at the head of a DDL-bearing batch: lowest lsn in
    // the batch (DML subs start at b·10⁸ + 10⁷), same event time — the
    // barrier runs before the batch's DML, exactly the mid-stream shape
    // DDL lands on ONE db: the head db in single-db mode, db2 in
    // federation (the other dbs' tables must commit through the same
    // batch without schema change)
    val ddlDb = if (nDbs == 1) dbNames.head else dbNames(1)
    def ddlRecord(b: Int): org.apache.spark.sql.DataFrame = {
      val q = s"ALTER TABLE customer ADD COLUMN extra_b$b integer"
      val payload =
        s"""{"kind":"insert","schema":"public","table":"sql_ddl_statements",""" +
          s""""columnnames":["current_query","search_path","command_tags"],""" +
          s""""columnvalues":["$q","\\"$$user\\", public","{\\"ALTER TABLE\\"}"]}"""
      spark.range(1).select(
        timestamp_seconds(lit(1700000000L + b * 60L)).as("insert_timestamp"),
        lit(ddlDb).as("database"),
        lit(b * 100000000L).as("lsn_start"),
        lit(b * 1000000L).as("xid"),
        lit(payload).as("payload"),
        timestamp_seconds(lit(1700000000L + b * 60L)).as("xid_timestamp"),
        lit(s"slot_$ddlDb").as("source_slotname"))
    }

    // stale-slot poison (federation only): update payloads on db1 keys
    // 1..5 setting acctbal=-999, stamped with a slot that is NOT db1's
    // configured one. Their lsn sorts AFTER the batch's legit updates,
    // so a P5 leak would win the collapse and trip the acctbal gate.
    def poisonRecords(b: Int): org.apache.spark.sql.DataFrame =
      spark.range(1, 6).select(
        timestamp_seconds(lit(1700000000L + b * 60L)).as("insert_timestamp"),
        lit(dbNames.head).as("database"),
        (lit(b * 100000000L + 90000000L) + col("id")).as("lsn_start"),
        (lit(b * 1000000L + 999000L) + col("id")).as("xid"),
        concat(
          lit("""{"kind":"update","schema":"public","table":"customer",""" +
            """"columnnames":["c_custkey","c_acctbal"],"columnvalues":["""),
          col("id"),
          lit(""","-999.0"],"oldkeys":{"keynames":["c_custkey"],"keyvalues":["""),
          col("id"), lit("]}}")).as("payload"),
        timestamp_seconds(lit(1700000000L + b * 60L)).as("xid_timestamp"),
        lit("stale_slot").as("source_slotname"))

    // one file per batch; mtimes force the file source to replay them
    // in batch order (ties in mtime would otherwise be unordered)
    (1 to nBatches).foreach { b =>
      val dir = s"$spool/b$b"
      val base = SyntheticCdc.rollingLogOf(cust, b)
      val events0 =
        if (nDbs == 1) base
        else dbNames.map(d => base
            .withColumn("database", lit(d))
            .withColumn("source_slotname", lit(s"slot_$d")))
          .reduce(_ unionByName _)
          .unionByName(poisonRecords(b))
      val events =
        if (ddlEvery > 0 && b % ddlEvery == 0)
          ddlRecord(b).unionByName(events0)
        else events0
      events
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val part = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $dir"))
      val target = Paths.get(s"$spool/batch_$b.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 60000L))
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }

    // session warmup outside the timed region (codegen, shuffle machinery)
    spark.range(1 << 20).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    System.gc()

    // the DDL interpreter only on a DDL-bearing stream; the P5
    // restriction engages only in federation mode — the single-db
    // workload keeps its historical stamps (srcdb/slot1)
    val restriction = if (nDbs == 1) Map.empty[String, String] else slotByDb
    def engineOf(reg: SchemaRegistry, st: TableStore): CdcStreamEngine =
      if (ddlEvery > 0) CdcStreamEngine.withDdl(spark, reg, st, slotByDb = restriction)
      else new CdcStreamEngine(spark, reg, st, slotByDb = restriction)

    killAt.foreach { k =>
      require(k >= 0 && k < nBatches, s"kill batch $k outside 0..${nBatches - 1}")
      // the killed run's store, seeded like `store` and publishing the
      // registry before the reference run evolves it: the killed and
      // the restarted engine load their registry from it, as a
      // restarted driver does
      val store2 = new TableStore(spark,
        Files.createTempDirectory("graft-sbench-store-").toString)
      if (nBuckets > 0)
        store2.stageBucketed(tid, cust, 0L, TableStore.BucketSpec(nBuckets, Seq("c_custkey")))
      else store2.stage(tid, cust, 0L)
      store2.commitWithDrops(Map(tid -> 0L), Set.empty, registry = Some(registry))
      // reference: the same workload uninterrupted (state to match)
      engineOf(registry, store)
        .start(spool, ckpt, maxFilesPerTrigger = 1).awaitTermination()

      // killed run: fresh checkpoint, failpoint at batch k
      val ckpt2 = Files.createTempDirectory("graft-sbench-ckpt-").toString
      val eKill = engineOf(SchemaRegistry.load(store2.registryPath), store2)
      eKill.failpoint = Some((k, killPoint))
      val qKill = eKill.start(spool, ckpt2, maxFilesPerTrigger = 1)
      val killed =
        try { qKill.awaitTermination(); false }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            def chain(t: Throwable): Seq[String] =
              if (t == null) Seq.empty
              else Option(t.getMessage).toSeq ++ chain(t.getCause)
            require(chain(e).exists(_.contains("failpoint")),
              s"stream died for a non-injected reason: ${chain(e)}")
            true
        }
      require(killed, s"failpoint at batch $k never fired")

      // restart: a NEW engine against the same checkpoint + store —
      // the driver-restart analog. Timed region = restart-to-caught-up
      // (stream init + replay of batch k + remaining batches).
      val eRec = engineOf(SchemaRegistry.load(store2.registryPath), store2)
      val t0 = System.nanoTime()
      val qRec = eRec.start(spool, ckpt2, maxFilesPerTrigger = 1)
      qRec.awaitTermination()
      val recoverySec = (System.nanoTime() - t0) / 1e9
      qRec.exception.foreach(throw _)
      val replayed = qRec.recentProgress.count(_.numInputRows > 0)

      // the recovered state must ROW-MATCH the uninterrupted run, in
      // the same columns — exactly-once as an observable, not a spec
      // claim
      val colsSorted = store.read(tid).columns.sorted.toIndexedSeq
      def rowsOf(st: TableStore) = st.read(tid)
        .select(colsSorted.map(col): _*)
        .orderBy(colsSorted.map(col): _*).collect().toSeq
      val stateMatch = store2.read(tid).columns.sorted.toIndexedSeq == colsSorted &&
        rowsOf(store) == rowsOf(store2)

      def fmt(v: Double) =
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      val line =
        s"""{"metric":"stream_recovery_sec","value":${fmt(recoverySec)},""" +
          s""""unit":"sec","kill_at":$k,"kill_point":"$killPoint",""" +
          s""""replayed_batches":$replayed,"batches":$nBatches,""" +
          s""""state_match":$stateMatch,"scale":$scale,"ddl_every":$ddlEvery,""" +
          s""""buckets":$nBuckets,"sf":"$sfDir"}"""
      java.nio.file.Files.write(Paths.get("STREAMBENCH_RECOVERY.json"),
        line.getBytes("UTF-8"))
      println(line)
      spark.stop()
      sys.exit(if (stateMatch) 0 else 1)
    }

    // ---- timed region: the streaming replay loop ----
    val engine = engineOf(registry, store)
    val t0 = System.nanoTime()
    val q = engine.start(spool, ckpt,
      maxFilesPerTrigger = 1)
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(throw _)

    // per-batch latency from the query's own progress records. Row
    // count comes from the spool files, NOT progress.numInputRows:
    // the source metric counts every source scan in the trigger, and
    // processBatch's isEmpty probe re-scans one columnar batch
    // (columnarReaderBatchSize = 4096 rows), inflating each trigger's
    // number by exactly that.
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val durs = progress.map(_.durationMs.get("triggerExecution").toLong).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) -1L
      else durs(math.min(durs.size - 1, math.ceil(p * durs.size).toInt - 1).max(0))
    val rows = spark.read.parquet(s"$spool/*.parquet").count()
    val totalSec = durs.sum / 1e3

    // sanity gate, per db: N batches leave |customer| + |%10=4| rows
    // (the last batch's inserts haven't been retired) and acctbal = N
    // on every non-insert key — which also catches a stale-slot poison
    // leak (-999 would have won the collapse on keys 1..5).
    val expCount = custRows + custRows / 10
    val perDbOk = tids.map { t =>
      val fin = store.read(t)
      // base keys (any copy) satisfy key mod 10⁹ < 10⁷; insert keys
      // carry + batch·10⁷ and fall outside
      val balOk = fin.filter(
          pmod(col("c_custkey"), lit(1000000000L)) < 10000000L &&
          pmod(col("c_custkey"), lit(10)) =!= 4 &&
          col("c_acctbal") =!= nBatches.toDouble)
        .limit(1).count() == 0L
      fin.count() == expCount && balOk
    }
    // DDL isolation: the ALTERs land on ddlDb's schema and on NO other
    // db's (federation: db2 evolves, db1/3/4 stay untouched)
    val ddlOk = ddlEvery == 0 || tids.forall { t =>
      val hasExtra = registry.get(t)
        .exists(_.schema.fieldNames.exists(_.startsWith("extra_b")))
      if (t.database == ddlDb) hasExtra else !hasExtra
    }
    val ok = perDbOk.forall(identity) && ddlOk && progress.size == nBatches

    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val line =
      s"""{"metric":"stream_rows_per_sec","value":${fmt(rows / totalSec)},""" +
        s""""unit":"rows/sec","batches":${progress.size},"rows":$rows,""" +
        s""""total_sec":${fmt(totalSec)},"wall_sec":${fmt(wallSec)},""" +
        s""""p50_ms":${pct(0.5)},"p95_ms":${pct(0.95)},""" +
        s""""failed":${!ok},"scale":$scale,"ddl_every":$ddlEvery,""" +
        s""""buckets":$nBuckets,"dbs":$nDbs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(Paths.get("STREAMBENCH_DETAIL.json"),
      line.getBytes("UTF-8"))
    println(line)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
