package cdcbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.apply.ApplyEngine
import graft.decode.Wal2Json
import graft.model.{ChangeRecord, SchemaRegistry, TableId}
import graft.snapshot.Snapshot
import graft.sources.{SpoolMicroBatchStream, SpoolOffset, SpoolSource}
import graft.stream.{BucketedPublish, CdcStreamEngine, TableStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The two CDC replay workloads. Both build their targets and change
  * spool from the seed, seed the targets with `Snapshot.basebackup`,
  * drive the engine through its public start methods and check the
  * final state against [[Expected.fold]] of the generator's changes. */
object Replay {
  /** One target table of a workload with its base rows. */
  final case class Target(db: String, shape: Shape, base: Array[Array[Any]]) {
    val id: TableId = TableId(db, "public", shape.table)
  }

  /** One spool file: its database, its changes, the ADD COLUMN it
    * carries (if any) and its raw rows in spool order (DDL first, then
    * the changes, then the stale-slot rows the engine must drop). */
  final case class SpoolFile(db: String, changes: Seq[Change], ddlColumn: Option[String],
                             rows: Seq[Rec])

  private def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Spool row in the `ChangeRecord` column order. */
  type Rec = (Long, String, Long, Long, String, Long, String)
  private def record(c: Change): Rec =
    (c.tsMicros, c.db, c.lsn, c.seq, Gen.payload(c), c.tsMicros, c.slot)

  /** Driver rows as a DataFrame whose conversion runs in parallel tasks. */
  private def frame(spark: SparkSession, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  private def writeSource(spark: SparkSession, t: Target, dir: Path): String = {
    val p = dir.resolve(s"${t.db}_${t.shape.table}").toString
    frame(spark, t.base.toSeq.map(r => Row.fromSeq(r.toSeq)), t.shape.schema).write.parquet(p)
    p
  }

  /** Seed a fresh store with every target at version 0; returns the
    * store, its registry and the basebackup's wall ms and rows. */
  private def snapshot(spark: SparkSession, root: Path, targets: Seq[Target],
                       sources: Map[TableId, String], buckets: Option[Int]) = {
    val registry = new SchemaRegistry
    val store = new TableStore(spark, root.toString)
    System.gc()
    val specs = targets.map(t => Snapshot.TableSpec(t.id, t.shape.pk.map(t.shape.names), sources(t.id)))
    val (rep, ms) = Clock.timed(Snapshot.basebackup(spark, specs, registry, store, root.toString,
      startLsn = Gen.LsnBase, njobs = 4, buckets = buckets))
    (store, registry, ms, rep.tables.map(_.rows).sum)
  }

  /** `n` basebackups into fresh stores: store 0 serves the measured
    * run, store 1 the traced one, the rest only time the snapshot
    * (snapshot_s is the median) and are removed again. Returns the two
    * kept stores, every basebackup's ms and one snapshot's bytes. */
  private def seedStores(ctx: Ctx, targets: Seq[Target], sources: Map[TableId, String],
                         buckets: Option[Int], n: Int) = {
    val all = (0 until n).map(i => snapshot(ctx.spark, ctx.work.resolve(s"store$i"), targets, sources, buckets))
    val bytes = Files2.sizeOf(ctx.work.resolve("store2"))
    (2 until n).foreach(i => Files2.deleteRecursively(ctx.work.resolve(s"store$i")))
    (all.take(2), all.map(_._3), bytes)
  }

  private def progressOf(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      val src = p.sources.headOption
      Map("batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "rows" -> p.numInputRows,
        "start_off" -> src.map(_.startOffset).orNull,
        "end_off" -> src.map(_.endOffset).orNull)
    }

  private def stateCheck(store: TableStore, registry: SchemaRegistry, t: Target,
                         expected: Map[Vector[Any], Vector[Any]],
                         extraCols: Seq[String]): Option[String] = {
    val df = store.read(t.id)
    val base = t.shape.names
    val regCols = registry(t.id).schema.fieldNames.toSeq
    val wantCols = base ++ extraCols
    if (regCols != wantCols) return Some(s"${t.id.qualified} registry columns $regCols, want $wantCols")
    if (extraCols.nonEmpty) {
      val nonNull = extraCols.map(c => df.filter(col(c).isNotNull).limit(1).count()).sum
      if (nonNull > 0) return Some(s"${t.id.qualified}: added columns hold values")
    }
    val rows = df.select(base.map(col): _*).collect().toSeq.map(_.toSeq.toVector)
    Expected.diff(expected, rows, t.shape).map(d => s"${t.id.qualified}: $d")
  }

  /** The forced, span-timed layer calls over one batch's spool rows:
    * parse, decode, collapse, (bucket) merge and the manifest commit. */
  private def layerPass(ctx: Ctx, spans: Spans, ref: String, raw: DataFrame,
                        store: TableStore, registry: SchemaRegistry, tables: Seq[TableId],
                        slotByDb: Map[String, String], counters: mutable.Map[String, Double],
                        bucketRatios: mutable.Buffer[Double]): Unit = spans("batch", ref) {
    val spark = ctx.spark
    val slotted =
      if (slotByDb.isEmpty) raw
      else raw.filter(graft.functions.Routing.dbSlotRestriction(slotByDb, col("database"), col("source_slotname")))
    val parsed = spans("decode.parse", ref) {
      val p = Wal2Json.parse(slotted).cache()
      counters("rows_in") += p.count().toDouble
      p
    }
    val valid = parsed.filter(!Wal2Json.invalid)
    val committed = store.manifest()
    tables.foreach { tid =>
      val meta = registry(tid)
      val events = spans("decode.events", ref) {
        val e = Wal2Json.decodeEvents(valid, meta).cache()
        counters("events_out") += e.count().toDouble
        e
      }
      val collapsed = spans("apply.collapse", ref) {
        val c = ApplyEngine.collapse(events).cache()
        counters("keys") += c.count().toDouble
        c
      }
      // an unbucketed target reports the share a trickle-sized bucket
      // layout would have touched
      val n = store.bucketSpec(tid).fold(TrickleSize.buckets)(_.n)
      val changed = spans("stream.changed_buckets", ref)(BucketedPublish.changedBuckets(collapsed, meta, n))
      bucketRatios += changed.size.toDouble / n
      val target =
        if (store.bucketSpec(tid).nonEmpty) store.readBuckets(tid, changed, committed(tid.qualified))
        else store.read(tid)
      spans("apply.merge", ref) {
        ApplyEngine.merge(target, collapsed, meta, broadcastChanges = store.bucketSpec(tid).nonEmpty)
          .write.format("noop").mode("overwrite").save()
      }
      events.unpersist(); collapsed.unpersist()
    }
    parsed.unpersist()
    spans("stream.commit", ref) {
      store.commitWithDrops(tables.map(t => t -> committed(t.qualified)).toMap, Set.empty)
    }
  }

  private def newCounters() = mutable.Map("rows_in" -> 0.0, "events_out" -> 0.0, "keys" -> 0.0)

  /** Engine with the DDL interpreter wired exactly as `withDdl` does,
    * but with `DdlInterpreter.execute` inside a span. */
  private def tracedDdlEngine(spark: SparkSession, registry: SchemaRegistry, store: TableStore,
                              slotByDb: Map[String, String], spans: Spans): CdcStreamEngine = {
    var engine: CdcStreamEngine = null
    val interp = new graft.ddl.DdlInterpreter(spark, registry, store,
      onRenameData = (id, from, to) => engine.renameTableData(id, from, to),
      onTruncateData = id => engine.truncateTableData(id),
      onRenameTable = (o, n) => engine.renameTableEntry(o, n))
    engine = new CdcStreamEngine(spark, registry, store,
      ev => spans("ddl.barrier", ev.database)(interp.execute(ev)), slotByDb = slotByDb)
    engine
  }

  // ───────────────────────────── replay_bulk ─────────────────────────────

  /** The change mix is StreamBench's rolling log: each batch updates
    * 90% of the live keys, inserts new keys numbering 10% of the base
    * table and deletes the previous batch's inserts, so the tables keep
    * their size. Two departures: updates carry 1–3 random columns (a
    * partial update, where StreamBench sets c_acctbal only), and 10% of
    * a batch's changes hit their key a second time, so collapse has
    * repeated keys to fold. The tables are about a tenth of sf0.1 per
    * customer copy: this mix changes 1.2× the table per batch, and a
    * run must hold five measured batches. */
  object BulkSize {
    val copies = 8           // key-shifted copies of the customer-shaped table
    val custPerCopy = 1500
    val orders = 2500        // lineitem-shaped: 1..7 lines per order
    val updateShare = 0.9
    val insertShare = 0.1
    val repeatShare = 0.1
    val warmBatches = 3      // after 2, the measured batches still sped up as the JIT warmed
    /** The warm-up batch that leads with an ALTER TABLE on customer: the
      * barrier runs in every replay but lands in no measured batch. */
    val ddlBatch = 1
    val snapshots = 5
    /** A batch drains in about 2.5–3 s on a 4-core host. */
    val secondsPerBatch = 3.0
    def batches(seconds: Int): Int = warmBatches + math.max(3, math.ceil(seconds / secondsPerBatch).toInt)
  }

  private def bulkTargets(rnd: SplittableRandom): Seq[Target] = {
    val cust = (for (c <- 0 until BulkSize.copies; i <- 0 until BulkSize.custPerCopy)
      yield Shape.customer.row(Vector(c * 1000000000L + i), rnd)).toArray
    val li = (for (o <- 0 until BulkSize.orders; l <- 1 to 1 + rnd.nextInt(7))
      yield Shape.lineitem.row(Vector[Any](o.toLong, l), rnd)).toArray
    Seq(Target("srcdb", Shape.customer, cust), Target("srcdb", Shape.lineitem, li))
  }

  /** One batch's changes for one table in the mix above. Returns the
    * changes and the keys this batch inserted (the next batch deletes
    * them). */
  private def bulkBatch(t: Target, live: Gen.KeySet, inserted: Seq[Vector[Any]], fresh: () => Vector[Any],
                        rnd: SplittableRandom, nextSeq: () => Long, ts: Long): (Seq[Change], Seq[Vector[Any]]) = {
    def mk(kind: Char, k: Vector[Any], set: Map[Int, Any]) = {
      kind match { case 'd' => live.remove(k); case 'i' => live.add(k); case _ => () }
      Change(t.db, t.shape, kind, k, set, nextSeq(), ts, "slot_srcdb")
    }
    val first = mutable.ArrayBuffer.empty[Change]
    inserted.filter(live.contains).foreach(k => first += mk('d', k, Map.empty))
    live.toSeq.foreach(k => if (rnd.nextDouble() < BulkSize.updateShare) first += mk('u', k, Gen.partial(t.shape, rnd)))
    (0 until (t.base.length * BulkSize.insertShare).toInt).foreach(_ =>
      first += mk('i', fresh(), Gen.fullRow(t.shape, rnd)))
    val again = first.filter(_ => rnd.nextDouble() < BulkSize.repeatShare).map { c =>
      if (live.contains(c.key)) mk('u', c.key, Gen.partial(t.shape, rnd)) else mk('i', c.key, Gen.fullRow(t.shape, rnd))
    }
    val all = (first ++ again).toSeq
    (all, all.filter(_.kind == 'i').map(_.key).distinct)
  }

  /** One batch as a single parquet spool file, rows in a seeded
    * shuffle so file order is not apply order. */
  private def writeSpoolFile(spark: SparkSession, recs: Seq[Rec], shuffleSeed: Long, tmp: Path,
                             dst: Path, mtimeMs: Long): Unit = {
    val rows = new scala.util.Random(shuffleSeed).shuffle(recs).map { case (its, db, lsn, xid, pl, xts, slot) =>
      Row(micros(its), db, lsn, xid, pl, micros(xts), slot)
    }
    frame(spark, rows, ChangeRecord.schema).coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    Files.move(part, dst)
    Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    Files2.deleteRecursively(tmp)
  }

  def bulk(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val rnd = new SplittableRandom(ctx.seed * 1000003L + 17L)
    val nBatches = BulkSize.batches(ctx.seconds)
    val setup = mutable.LinkedHashMap.empty[String, Double]
    val spool = ctx.dir("spool")
    val names = (1 to nBatches).map(i => f"batch_$i%05d.parquet")

    val ((targets, sources, batches), genMs) = Clock.timed {
      val targets = bulkTargets(rnd)
      var seq = 0L
      val nextSeq = () => { seq += 1; seq }
      val live = targets.map { t =>
        val ks = new Gen.KeySet
        t.base.foreach(r => ks.add(t.shape.pk.map(r(_)).toVector))
        ks
      }
      var nextCust = 0L
      var nextOrder = BulkSize.orders.toLong
      val fresh: Seq[() => Vector[Any]] = Seq(
        () => { nextCust += 1; Vector(9000000000L + nextCust) },
        () => { nextOrder += 1; Vector[Any](nextOrder, 1) })
      val inserted = mutable.ArrayBuffer.fill(targets.size)(Seq.empty[Vector[Any]])
      val batches = (1 to nBatches).map { b =>
        val ts = Gen.TsBase + b * 30000000L
        val ddl = if (b == BulkSize.ddlBatch) Some(s"extra_b$b") else None
        val ddlRows = ddl.toSeq.map { c =>
          val n = nextSeq()
          (ts, "srcdb", Gen.lsnOf(n), n, Gen.ddlPayload(s"ALTER TABLE customer ADD COLUMN $c integer"), ts, "slot_srcdb")
        }
        val cs = targets.indices.flatMap { i =>
          val (c, ins) = bulkBatch(targets(i), live(i), inserted(i), fresh(i), rnd, nextSeq, ts)
          inserted(i) = ins
          c
        }
        SpoolFile("srcdb", cs, ddl, ddlRows ++ cs.map(record))
      }
      val src = ctx.dir("src")
      val shuffleSeeds = batches.map(_ => rnd.nextLong())
      // one spool file per batch; mtimes keep batch order
      Par.run(targets.map(t => () => { writeSource(spark, t, src); () }) ++
        batches.indices.map(i => () => writeSpoolFile(spark, batches(i).rows, shuffleSeeds(i),
          ctx.work.resolve(s"spooltmp/b$i"), spool.resolve(names(i)), 1700000000000L + i * 60000L)))
      (targets, targets.map(t => t.id -> src.resolve(s"${t.db}_${t.shape.table}").toString).toMap, batches)
    }
    setup("generate_ms") = genMs

    val (stores, snapMs, snapBytes) = seedStores(ctx, targets, sources, None, BulkSize.snapshots)

    /** One checkpointed stream drains the whole backlog closed-loop,
      * one file per trigger; its first triggers are the warm-up and the
      * measurement starts when the last of them ends. */
    def replay(i: Int, engineOf: (SchemaRegistry, TableStore) => CdcStreamEngine,
               attach: () => Unit): (StreamingQuery, Double, Double, Double) = {
      val dir = ctx.dir(s"spool$i")
      names.foreach(n => Files.createLink(dir.resolve(n), spool.resolve(n)))
      val engine = engineOf(stores(i)._2, stores(i)._1)
      ctx.release()
      System.gc()
      attach()
      ctx.heap.reset()
      val q = engine.start(dir.toString, ctx.work.resolve(s"ckpt$i").toString, maxFilesPerTrigger = 1)
      val t0 = Clock.preciseMs
      q.awaitTermination()
      q.exception.foreach(throw _)
      val ends = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.durationMs.get("triggerExecution").toLong)
      val warmEnd = ends(BulkSize.warmBatches - 1)
      (q, warmEnd - t0, ends.last - warmEnd, warmEnd)
    }

    // ── measured: closed-loop drain of the backlog ──
    val (q1, warmMs, drainMs, measureStart) =
      replay(0, (r, st) => CdcStreamEngine.withDdl(spark, r, st), () => ())
    setup("warmup_ms") = warmMs
    val heapMb = ctx.heap.peakMb
    val progress = progressOf(q1)
    val changes = batches.flatMap(_.changes)

    val expected = targets.map(t => t.id -> Expected.fold(t.base.iterator, t.shape,
      changes.filter(_.shape == t.shape))).toMap
    val ddlCols = batches.flatMap(_.ddlColumn)
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    def check(store: TableStore, registry: SchemaRegistry, tag: String): Unit = targets.foreach { t =>
      val d = stateCheck(store, registry, t, expected(t.id), if (t.shape == Shape.customer) ddlCols else Nil)
      checks += Map("name" -> s"$tag ${t.id.qualified} final state", "ok" -> d.isEmpty, "detail" -> d.orNull)
    }
    check(stores(0)._1, stores(0)._2, "measured")

    val traced = if (!ctx.trace) Map.empty[String, Any] else {
      ctx.release()
      System.gc()
      val tracer = new Tracer
      val spans = new Spans
      val (q2, _, tracedMs, _) = replay(1, (r, st) => tracedDdlEngine(spark, r, st, Map.empty, spans), () => {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      })
      tracer.settle()
      val engineJobs = tracer.jobList
      val engineExecs = tracer.execList
      check(stores(1)._1, stores(1)._2, "traced")
      // layer pass: each measured batch's file through the public layer calls
      val counters = newCounters()
      val ratios = mutable.Buffer.empty[Double]
      names.zipWithIndex.drop(BulkSize.warmBatches).foreach { case (n, i) =>
        val raw = spark.read.schema(ChangeRecord.schema).parquet(spool.resolve(n).toString)
        layerPass(ctx, spans, s"batch $i", raw, stores(1)._1, stores(1)._2, targets.map(_.id),
          Map.empty, counters, ratios)
      }
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      Map("drain_ms" -> tracedMs, "progress" -> progressOf(q2), "jobs" -> engineJobs,
        "executions" -> engineExecs, "spans" -> spans.list, "counters" -> counters,
        "bucket_ratios" -> ratios)
    }

    Map("setup" -> setup, "measure_start_ms" -> measureStart, "snapshot_ms" -> snapMs,
      "snapshot_rows" -> stores.head._4, "snapshot_bytes" -> snapBytes,
      "drain_ms" -> drainMs, "progress" -> progress, "batches" -> nBatches,
      "warm_files" -> BulkSize.warmBatches,
      "change_rows" -> changes.size, "file_rows" -> batches.map(_.rows.size),
      "heap_peak_mb" -> heapMb,
      "sizes" -> Map("customer_rows" -> targets(0).base.length, "lineitem_rows" -> targets(1).base.length,
        "batches" -> nBatches, "changes_per_batch" -> changes.size / nBatches),
      "checks" -> checks.toSeq, "trace" -> traced)
  }

  // ──────────────────────────── replay_trickle ───────────────────────────

  /** The change mix keeps StreamBench's 90% update share. The other
    * 10% are 9% deletes of Zipf-picked keys (picked again, they come
    * back as inserts) and 1% fresh inserts: a fresh key lands in a
    * random bucket, and StreamBench's 10% inserts plus 10% deletes would
    * touch nearly every bucket, where a trickle batch should touch well
    * under half. Zipf s = 2.4 is the skew at which a 200-change file
    * touches about a third of 32 buckets. The 5 stale-slot rows per
    * file are StreamBench's poison count. An ALTER comes every 10th
    * file, counted back from the last one: its barrier then delays no
    * later file. */
  object TrickleSize {
    val dbs = 4
    val rowsPerDb = 8000
    val buckets = 32
    val changesPerFile = 200   // all for the file's own database
    val zipfS = 2.4
    val deleteShare = 0.09
    val insertShare = 0.01
    val staleRowsPerFile = 5
    val ddlEvery = 10
    val intervalMs = 2500      // arrival interval; see README.md
    /** Warm-up files consumed back to back. With 4, the measured
      * triggers kept getting faster through the run as the JIT warmed. */
    val warmFiles = 6
    /** Scheduled files before the measured ones: the first file of the
      * schedule ran 15–25% slower than the rest in most runs. */
    val leadFiles = 1
    val snapshots = 3
    def files(seconds: Int): Int = math.max(6, seconds * 1000 / intervalMs)
  }

  /** Files in schedule order. File f comes from database (f-1) mod 4;
    * its changes hit Zipf-ranked keys, so hot keys change several times
    * per file. Every 10th file, counted back from the last, leads with an
    * ALTER TABLE on its database; every file ends with updates stamped
    * with a stale slot. */
  private def trickleFiles(targets: Seq[Target], n: Int, rnd: SplittableRandom): Seq[SpoolFile] = {
    val live = targets.map { t =>
      val ks = new Gen.KeySet
      t.base.foreach(r => ks.add(Vector(r(0))))
      ks
    }
    val perm = targets.map(t => new scala.util.Random(rnd.nextLong()).shuffle(t.base.toSeq.map(r => Vector(r(0)))).toArray)
    val zipf = new Gen.Zipf(TrickleSize.rowsPerDb, TrickleSize.zipfS)
    var seq = 0L
    var fresh = 0L
    (1 to n).map { f =>
      val i = (f - 1) % targets.size
      val t = targets(i)
      val ts = Gen.TsBase + f.toLong * TrickleSize.intervalMs * 1000L
      val slot = s"slot_${t.db}"
      val ddl = if ((n - f) % TrickleSize.ddlEvery == 0) Some(s"extra_f$f") else None
      val ddlRows = ddl.toSeq.map { c =>
        seq += 1
        (ts, t.db, Gen.lsnOf(seq), seq, Gen.ddlPayload(s"ALTER TABLE customer ADD COLUMN $c integer"), ts, slot)
      }
      val cs = (0 until TrickleSize.changesPerFile).map { _ =>
        seq += 1
        def mk(kind: Char, k: Vector[Any], set: Map[Int, Any]) = {
          kind match { case 'd' => live(i).remove(k); case 'i' => live(i).add(k); case _ => () }
          Change(t.db, t.shape, kind, k, set, seq, ts, slot)
        }
        val u = rnd.nextDouble()
        if (u < TrickleSize.insertShare) { fresh += 1; mk('i', Vector(5000000000L + fresh), Gen.fullRow(t.shape, rnd)) }
        else {
          val k = perm(i)(zipf.sample(rnd))
          if (!live(i).contains(k)) mk('i', k, Gen.fullRow(t.shape, rnd))
          else if (u < TrickleSize.insertShare + TrickleSize.deleteShare) mk('d', k, Map.empty)
          else mk('u', k, Gen.partial(t.shape, rnd))
        }
      }
      // stale-slot rows sort after the file's real changes: a leak
      // would win the collapse and leave c_acctbal = Gen.Poison
      val stale = (0 until TrickleSize.staleRowsPerFile).map { _ =>
        seq += 1
        record(Change(t.db, t.shape, 'u', live(i).pick(rnd), Map(3 -> Gen.Poison), seq, ts, "stale_slot"))
      }
      SpoolFile(t.db, cs, ddl, ddlRows ++ cs.map(record) ++ stale)
    }
  }

  def trickle(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val rnd = new SplittableRandom(ctx.seed * 1000003L + 29L)
    val nFiles = TrickleSize.files(ctx.seconds)
    val setup = mutable.LinkedHashMap.empty[String, Double]
    val dbs = (1 to TrickleSize.dbs).map(i => s"db$i")
    val slotByDb = dbs.map(d => d -> s"slot_$d").toMap
    val staged = ctx.dir("staged")
    val unmeasured = TrickleSize.warmFiles + TrickleSize.leadFiles
    val names = (1 to unmeasured + nFiles).map(i => f"f$i%06d.jsonl")

    val ((targets, sources, files), genMs) = Clock.timed {
      val targets = dbs.map(d => Target(d, Shape.customer,
        Array.tabulate(TrickleSize.rowsPerDb)(k => Shape.customer.row(Vector(k.toLong), rnd))))
      val src = ctx.dir("src")
      Par.run(targets.map(t => () => { writeSource(spark, t, src); () }))
      val files = trickleFiles(targets, names.size, rnd)
      files.zip(names).foreach { case (f, n) => SpoolSource.append(staged.toString, n, f.rows) }
      (targets, targets.map(t => t.id -> src.resolve(s"${t.db}_${t.shape.table}").toString).toMap, files)
    }
    setup("generate_ms") = genMs
    val (stores, snapMs, snapBytes) =
      seedStores(ctx, targets, sources, Some(TrickleSize.buckets), TrickleSize.snapshots)

    /** Open loop on one stream: the warm-up files are consumed first;
      * then one thread renames file i into the spool at its due time
      * while the engine runs continuous micro-batches. The lead-in files
      * of the schedule are not measured. Listeners are
      * attached before the start: the stream's session is a clone that
      * takes the query listeners registered by then. */
    def openLoop(i: Int, engine: CdcStreamEngine, attach: () => Unit) = {
      val spool = ctx.dir(s"spool$i")
      val pending = ctx.dir(s"pending$i")
      names.foreach(n => Files.copy(staged.resolve(n), pending.resolve(n)))
      attach()
      val q = engine.startSpool(spool.toString, ctx.work.resolve(s"ckpt$i").toString,
        trigger = Trigger.ProcessingTime(0L))
      val (_, warmMs) = Clock.timed(names.take(TrickleSize.warmFiles).foreach { n =>
        Files.move(pending.resolve(n), spool.resolve(n))
        q.processAllAvailable()
      })
      ctx.release()
      System.gc()
      ctx.heap.reset()
      val placed = mutable.ArrayBuffer.empty[Map[String, Any]]
      val t0 = System.currentTimeMillis() + 500L
      val gen = new Thread(() => names.zipWithIndex.drop(TrickleSize.warmFiles).foreach { case (n, j) =>
        val due = t0 + (j - TrickleSize.warmFiles).toLong * TrickleSize.intervalMs
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(math.min(20L, due - now)); now = System.currentTimeMillis() }
        Files.move(pending.resolve(n), spool.resolve(n), StandardCopyOption.ATOMIC_MOVE)
        placed += Map("file" -> (j + 1), "due_ms" -> due, "placed_ms" -> Clock.preciseMs)
      }, "cdcbench-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
      q.stop()
      q.exception.foreach(throw _)
      (q, placed.toSeq, warmMs, t0.toDouble)
    }

    val e1 = CdcStreamEngine.withDdl(spark, stores(0)._2, stores(0)._1, slotByDb = slotByDb)
    val (q1, placed1, warmMs, measureStart) = openLoop(0, e1, () => ())
    setup("warmup_ms") = warmMs
    val heapMb = ctx.heap.peakMb
    val progress = progressOf(q1)

    // expected per db: base ⊕ its own slot's changes; DDL columns only
    // on the database the ALTER named
    val changes = files.flatMap(_.changes)
    val ddlCols = files.flatMap(f => f.ddlColumn.map(f.db -> _)).groupBy(_._1)
      .map { case (d, xs) => d -> xs.map(_._2) }
    val expected = targets.map(t => t.id -> Expected.fold(t.base.iterator, t.shape,
      changes.filter(_.db == t.db))).toMap
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    def check(store: TableStore, registry: SchemaRegistry, tag: String): Unit = {
      val out = Array.fill(targets.size)(Seq.empty[Map[String, Any]])
      Par.run(targets.indices.map(i => () => {
        val t = targets(i)
        val d = stateCheck(store, registry, t, expected(t.id), ddlCols.getOrElse(t.db, Nil))
        val stale = store.read(t.id).filter(col("c_acctbal") === Gen.Poison).limit(1).count()
        out(i) = Seq(
          Map("name" -> s"$tag ${t.id.qualified} final state and schema", "ok" -> d.isEmpty, "detail" -> d.orNull),
          Map("name" -> s"$tag ${t.id.qualified} no stale-slot row", "ok" -> (stale == 0L),
            "detail" -> (if (stale == 0L) null else "a stale-slot update was applied")))
      }))
      out.foreach(checks ++= _)
    }
    check(stores(0)._1, stores(0)._2, "measured")

    val traced = if (!ctx.trace) Map.empty[String, Any] else {
      val tracer = new Tracer
      val spans = new Spans
      val e2 = tracedDdlEngine(spark, stores(1)._2, stores(1)._1, slotByDb, spans)
      val (q2, placed2, _, _) = openLoop(1, e2, () => {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      })
      tracer.settle()
      val engineJobs = tracer.jobList
      val engineExecs = tracer.execList
      check(stores(1)._1, stores(1)._2, "traced")
      // layer pass: each measured trigger's files, read through the
      // spool source's batch path, through the public layer calls
      val counters = newCounters()
      val ratios = mutable.Buffer.empty[Double]
      val prog2 = progressOf(q2)
      prog2.foreach { p =>
        val s0 = Option(p("start_off")).map(_.toString.trim.toInt).getOrElse(0)
        val e0 = Option(p("end_off")).map(_.toString.trim.toInt).getOrElse(0)
        if (e0 > s0 && s0 >= unmeasured) {
          val d = ctx.dir(s"layer/b${p("batch")}")
          names.slice(s0, e0).foreach(n => Files.createLink(d.resolve(n), ctx.work.resolve(s"spool1/$n")))
          // the source's per-trigger offset work on the full spool:
          // whole-ms progress durations read 0 at this size
          spans("sources.offset", s"batch ${p("batch")}") {
            val src = new SpoolMicroBatchStream(ctx.work.resolve("spool1").toString, None, Array.empty,
              ChangeRecord.schema)
            src.planInputPartitions(SpoolOffset(s0), src.latestOffset(SpoolOffset(s0), ReadLimit.allAvailable()))
          }
          val raw = spark.read.format(SpoolSource.FORMAT).option("path", d.toString).load()
            .select(ChangeRecord.schema.fieldNames.map(col).toIndexedSeq: _*)
          val touched = names.slice(s0, e0).map(n => files(names.indexOf(n)).db).distinct
          layerPass(ctx, spans, s"batch ${p("batch")}", raw, stores(1)._1, stores(1)._2,
            targets.filter(t => touched.contains(t.db)).map(_.id), slotByDb, counters, ratios)
        }
      }
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      Map("progress" -> prog2, "files" -> placed2, "jobs" -> engineJobs, "executions" -> engineExecs,
        "spans" -> spans.list, "counters" -> counters, "bucket_ratios" -> ratios)
    }

    Map("setup" -> setup, "measure_start_ms" -> measureStart, "snapshot_ms" -> snapMs,
      "snapshot_rows" -> stores.head._4, "snapshot_bytes" -> snapBytes,
      "progress" -> progress, "files" -> placed1, "warm_files" -> unmeasured,
      "interval_ms" -> TrickleSize.intervalMs, "change_rows" -> changes.size,
      "file_rows" -> files.map(_.rows.size), "heap_peak_mb" -> heapMb,
      "sizes" -> Map("dbs" -> TrickleSize.dbs, "rows_per_db" -> TrickleSize.rowsPerDb,
        "buckets" -> TrickleSize.buckets, "files" -> nFiles, "changes_per_file" -> TrickleSize.changesPerFile,
        "zipf_s" -> TrickleSize.zipfS, "interval_ms" -> TrickleSize.intervalMs,
        "ddl_every" -> TrickleSize.ddlEvery),
      "checks" -> checks.toSeq, "trace" -> traced)
  }
}
