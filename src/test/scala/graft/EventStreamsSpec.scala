package graft

import java.sql.Timestamp

import graft.stream.EventStreams
import graft.stream.EventStreams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class EventStreamsSpec extends SparkSpec with StreamCrash {
  import spark.implicits._

  // base divisible by 30 s so tumbling windows align at sec 0/30/60…
  private val base = 1699999980000L
  private def ts(sec: Long) = new Timestamp(base + sec * 1000)

  test("windowedStats: tumbling 30s event-time windows over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedStats(
      mem.toDF().withColumnRenamed("ts", "ts"), "ts")
      .writeStream.format("memory").queryName("winstats")
      .outputMode(OutputMode.Append()).start()

    mem.addData(
      Event(1, ts(0), "click", 1.0),
      Event(2, ts(10), "click", 2.0),
      Event(1, ts(35), "view", 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    mem.addData(Event(9, ts(1000), "click", 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("winstats")
      .select(col("window_start").cast("long") - base / 1000,
        col("event_type"), col("n_events"), col("total_value"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(rows.contains((0L, "click", 2L, 3.0)))
    assert(rows.contains((30L, "view", 1L, 5.0)))
  }

  test("streaming HLL: register table aggregates across batches, bounded state") {
    // distinct-tracking over an unbounded keyspace with ≤ 2^p rows of
    // state: hllRegisters composes with a streaming source unchanged —
    // the groupBy(j).max(rank) is a plain streaming aggregation
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val p = 6
    val q = graft.ops.Sketches.hllRegisters(
        mem.toDF().withColumnRenamed("value", "w"), "w", p)
      .writeStream.format("memory").queryName("hllregs")
      .outputMode(OutputMode.Complete()).start()
    val batch1 = (1 to 400).map(i => s"tok${i % 150}")
    val batch2 = (1 to 400).map(i => s"tok${100 + i % 150}")
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hllregs").orderBy("j")
      .as[(Long, Int)].collect().toSeq
    val batch = graft.ops.Sketches.hllRegisters(
        (batch1 ++ batch2).toDF("w"), "w", p)
      .orderBy("j").as[(Long, Int)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.size <= (1 << p))
  }

  test("streaming log-histogram: quantile sketch aggregates across batches, bounded state") {
    // live latency/size percentiles over an unbounded stream with ≤
    // (65−subBits)·2^subBits rows of state: the register aggregation
    // is a plain streaming groupBy, same discipline as streaming HLL
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val m = 4
    val q = graft.ops.Sketches.logHistogram(
        mem.toDF().withColumnRenamed("value", "v"), Seq.empty, col("v"), m)
      .writeStream.format("memory").queryName("loghist")
      .outputMode(OutputMode.Complete()).start()
    val rnd = new scala.util.Random(73)
    val batch1 = Seq.fill(500)(rnd.nextInt(100000).toLong)
    val batch2 = Seq.fill(500)(rnd.nextInt(500).toLong)
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("loghist").orderBy("bucket")
      .as[(Long, Long)].collect().toSeq
    val batch = graft.ops.Sketches.logHistogram(
        (batch1 ++ batch2).toDF("v"), Seq.empty, col("v"), m)
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.size <= (65 - m) * (1 << m))
  }

  test("dedupStream: re-delivered keys dropped within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupStream(mem.toDF(), Seq("user_id", "event_type"),
      watermark = "1 minute")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()

    mem.addData(
      Event(1, ts(0), "click", 1.0),
      Event(1, ts(5), "click", 1.0),  // duplicate delivery within horizon
      Event(2, ts(5), "view", 7.0))
    q.processAllAvailable()
    mem.addData(Event(1, ts(8), "click", 1.0)) // dup again, later batch
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dedup")
      .select("user_id", "event_type").as[(Long, String)].collect().toSeq
    assert(rows.sorted == Seq((1L, "click"), (2L, "view")))
  }

  test("intervalJoin: stream-stream lookback join with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val views = MemoryStream[Event]
    val joined = EventStreams.intervalJoin(
      purchases.toDF().filter(col("event_type") === "purchase"),
      views.toDF().filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value").as("view_value")),
      "user_id", lookback = "40 seconds", watermark = "10 seconds")
      .select(col("l.user_id"), col("value"), col("view_value"))
    val q = joined.writeStream.format("memory").queryName("ivjoin")
      .outputMode(OutputMode.Append()).start()

    views.addData(
      Event(1, ts(0), "view", 10.0),
      Event(1, ts(50), "view", 11.0),   // outside lookback of purchase@30
      Event(2, ts(20), "view", 20.0))
    purchases.addData(
      Event(1, ts(30), "purchase", 1.0), // matches view@0 (30-40<=0<=30)
      Event(2, ts(25), "purchase", 2.0)) // matches view@20
    q.processAllAvailable()
    // advance both watermarks so results flush in append mode
    // (distinct sentinel users so the sentinels can't join each other)
    views.addData(Event(8, ts(5000), "view", 0.0))
    purchases.addData(Event(9, ts(5000), "purchase", 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ivjoin")
      .as[(Long, Double, Double)].collect().toSet
    assert(rows == Set((1L, 1.0, 10.0), (2L, 2.0, 20.0)))
  }

  test("stream-static enrichment join broadcasts the dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    val q = mem.toDF()
      .join(broadcast(dim), Seq("user_id"), "left")
      .select(col("user_id"), col("event_type"), col("tier"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    mem.addData(Event(1, ts(0), "click", 1.0), Event(3, ts(1), "view", 2.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched")
      .as[(Long, String, Option[String])].collect().toSet
    assert(rows == Set((1L, "click", Some("gold")), (3L, "view", None)))
  }

  test("sessionize: cross-batch stragglers within gap merge into one session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // wide watermark so the stragglers are late-but-not-dropped:
    // inside the watermark, yet > gap older than the open session
    val q = EventStreams.sessionize(mem.toDS(), gapSeconds = 20,
      watermark = "5 minutes")
      .writeStream.format("memory").queryName("straggler_sessions")
      .outputMode(OutputMode.Append()).start()

    // open a session for user 1; watermark advances to 1000s - 5min
    mem.addData(Event(1, ts(1000), "click", 1.0))
    q.processAllAvailable()
    // two stragglers 10s apart, both > gap older than the open
    // session: must merge into ONE [800,810] session, not two
    // singletons
    mem.addData(Event(1, ts(800), "click", 2.0), Event(1, ts(810), "click", 3.0))
    q.processAllAvailable()
    mem.addData(Event(9, ts(9000), "noise", 0.0))
    q.processAllAvailable()
    mem.addData(Event(9, ts(12000), "noise", 0.0))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("straggler_sessions").as[Session].collect()
      .filter(_.user_id == 1L)
      .map(s => ((s.session_start.getTime - base) / 1000,
        (s.session_end.getTime - base) / 1000, s.n_events, s.total_value))
      .toSet
    assert(sessions.contains((800L, 810L, 2L, 5.0)))
    assert(sessions.contains((1000L, 1000L, 1L, 1.0)))
    assert(sessions.size == 2)
  }

  test("sessionize: gap-based sessions with event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapSeconds = 20)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()

    // user 1: two events 10s apart (one session), then a 100s gap
    // (new session); user 2: a single event
    mem.addData(
      Event(1, ts(0), "click", 1.0),
      Event(1, ts(10), "click", 2.0),
      Event(2, ts(5), "view", 7.0))
    q.processAllAvailable()
    mem.addData(Event(1, ts(110), "click", 4.0))
    q.processAllAvailable()
    // push the watermark far ahead so every open session times out
    mem.addData(Event(9, ts(5000), "noise", 0.0))
    q.processAllAvailable()
    mem.addData(Event(9, ts(9000), "noise", 0.0))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sessions").as[Session].collect()
      .map(s => (s.user_id,
        (s.session_start.getTime - base) / 1000,
        (s.session_end.getTime - base) / 1000,
        s.n_events, s.total_value))
      .toSet
    assert(sessions.contains((1L, 0L, 10L, 2L, 3.0)))   // first session closed by gap
    assert(sessions.contains((1L, 110L, 110L, 1L, 4.0))) // second closed by timeout
    assert(sessions.contains((2L, 5L, 5L, 1L, 7.0)))
  }

  test("rateMonitor: merged registers ≡ batch rateAnomaly over the " +
      "concatenated log; the trigger-clock horizon flags the dead " +
      "producer; compaction changes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ratemon").toString
    val mem = MemoryStream[Event]
    val q = EventStreams.rateMonitor(mem.toDF(), "event_type", "ts",
      periodSec = 10L, s"$dir/counts", s"$dir/ckpt")
    // three micro-batches: type D steady 3/period for periods 0-5,
    // then SILENT; type L keeps going through period 11
    def burst(t: String, p: Int, n: Int) =
      (0 until n).map(i => Event(p * 100L + i, ts(p * 10L), t, 0.0))
    mem.addData((0 to 2).flatMap(p => burst("D", p, 3) ++ burst("L", p, 2)): _*)
    q.processAllAvailable()
    mem.addData((3 to 5).flatMap(p => burst("D", p, 3) ++ burst("L", p, 2)): _*)
    q.processAllAvailable()
    mem.addData((6 to 11).flatMap(p => burst("L", p, 2)): _*)
    q.processAllAvailable()
    q.stop()

    val allEvents = (0 to 5).flatMap(p => burst("D", p, 3)) ++
      (0 to 11).flatMap(p => burst("L", p, 2))
    val batchDf = allEvents.toDF()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_type", $"period", $"cnt", $"anomalous")
        .as[(String, Long, Long, Int)].collect().toSet

    // no horizon: the view must be ROW-IDENTICAL to the batch op —
    // D's grid ends at its own last event, silence invisible
    val view = EventStreams.rateMonitorView(spark, s"$dir/counts",
      "event_type", 10L, kSigma = 2)
    val batch = graft.ops.EventAnalytics.rateAnomaly(batchDf,
      "event_type", "ts", 10L, 2)
    assert(rows(view) == rows(batch))
    assert(rows(view).count(_._1 == "D") == 6)
    assert(rows(view).forall(_._4 == 0))

    // trigger-clock horizon at period 11: D gap-fills 6 zero periods
    // (n=12, S=18, Q=54; x=0 → 18² = 324 > 4·(12·54−324) = 1296? no:
    // 324 < 1296 — six zeros inflate variance; use the count) — assert
    // equivalence to the batch op with the SAME horizon instead of a
    // hand-picked flag, plus that the zero rows now EXIST
    val horizon = Some(1699999980L + 110L)
    val viewH = EventStreams.rateMonitorView(spark, s"$dir/counts",
      "event_type", 10L, 2, horizonSec = horizon)
    val batchH = graft.ops.EventAnalytics.rateAnomaly(batchDf,
      "event_type", "ts", 10L, 2, horizonSec = horizon)
    assert(rows(viewH) == rows(batchH))
    assert(rows(viewH).count(_._1 == "D") == 12,
      "D's grid must extend to the clock")
    assert(rows(viewH).exists(r => r._1 == "D" && r._3 == 0L))

    // the SAME registers feed the other two detectors — each
    // row-identical to its batch form over the concatenated log
    val counts = EventStreams.monitorCounts(spark, s"$dir/counts",
      "event_type")
    val hp = EventStreams.horizonPeriod(10L, horizon)
    val cpView = graft.ops.EventAnalytics.changepointFromCounts(
        counts, "event_type", horizonPeriod = hp)
      .collect().map(_.toSeq).toSet
    val cpBatch = graft.ops.EventAnalytics.changepoint(batchDf,
        "event_type", "ts", 10L, horizonSec = horizon)
      .collect().map(_.toSeq).toSet
    assert(cpView == cpBatch)
    // D's cut lands at its last live period (silence onset)
    val dCut = graft.ops.EventAnalytics.changepointFromCounts(
        counts, "event_type", horizonPeriod = hp)
      .filter($"event_type" === "D").select($"cp_period")
      .as[Long].collect().head
    assert(dCut == 169999998L + 5L, s"cut at silence onset: $dCut")
    val seaView = graft.ops.EventAnalytics.seasonalAnomalyFromCounts(
        counts, "event_type", seasonPeriods = 3, kSigma = 2,
        horizonPeriod = hp)
      .collect().map(_.toSeq).toSet
    val seaBatch = graft.ops.EventAnalytics.seasonalAnomaly(batchDf,
        "event_type", "ts", 10L, seasonPeriods = 3, kSigma = 2,
        horizonSec = horizon)
      .collect().map(_.toSeq).toSet
    assert(seaView == seaBatch)
    val robView = graft.ops.EventAnalytics.robustAnomalyFromCounts(
        counts, "event_type", 2, horizonPeriod = hp)
      .collect().map(_.toSeq).toSet
    val robBatch = graft.ops.EventAnalytics.robustAnomaly(batchDf,
        "event_type", "ts", 10L, 2, horizonSec = horizon)
      .collect().map(_.toSeq).toSet
    assert(robView == robBatch)

    // compaction (additive-state path) must not change the view
    val merged = graft.stream.DocIngest.compactSketch(spark,
      s"$dir/counts", upToBatch = 2L)
    assert(merged == 3)
    val viewC = EventStreams.rateMonitorView(spark, s"$dir/counts",
      "event_type", 10L, 2, horizonSec = horizon)
    assert(rows(viewC) == rows(batchH))
  }

  test("rateMonitor retention: in-loop compaction bounds register state " +
      "by the analysis window; views over the retained window are " +
      "row-identical to batch detectors") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ratemon_ttl").toString
    val pb = base / 1000 / 10 // absolute period of ts(0)
    val mem = MemoryStream[Event]
    val q = EventStreams.rateMonitor(mem.toDF(), "event_type", "ts",
      periodSec = 10L, s"$dir/counts", s"$dir/ckpt",
      retainPeriods = Some(6L), compactEvery = 2)
    def burst(t: String, p: Int, n: Int) =
      (0 until n).map(i => Event(p * 100L + i, ts(p * 10L), t, 0.0))
    // five micro-batches, 4 periods each, two types throughout —
    // compaction fires inside batches 2 and 4
    (0 until 5).foreach { b =>
      mem.addData((4 * b until 4 * b + 4)
        .flatMap(p => burst("D", p, 3) ++ burst("L", p, 2)): _*)
      q.processAllAvailable()
    }
    q.stop()

    // batch-4 compaction merged periods [pb+2, pb+15] (batch 4 itself
    // must stay replayable, so its periods 16-19 are uncompacted) and
    // retained the last 6 → registers hold exactly periods pb+10 ..
    // pb+19: types × (retainPeriods + the uncompacted batch's slack)
    val table = new graft.stream.AppendTable(spark, s"$dir/counts")
    val regs = table.read().get
    val periods = regs.select("period").distinct()
      .as[Long].collect().sorted
    assert(periods.head == pb + 10,
      s"retention cutoff: expected min period ${pb + 10}, got ${periods.head}")
    assert(periods.length == 10, s"expected 10 retained periods: ${periods.length}")
    assert(regs.count() == 2 * 10,
      "register rows must be bounded by types × (retainPeriods + slack)")
    val parts = table.parts().map(_._2).sorted
    assert(parts == Seq(0L, 4L),
      s"multi-compaction must fold committed parts: $parts")

    // detector row-identity over the retained window: view with
    // sincePeriod at the cutoff ≡ batch ops over the events of those
    // periods
    val allEvents = (0 until 20).flatMap(p => burst("D", p, 3) ++ burst("L", p, 2))
    val winEvents = allEvents.filter(e => e.ts.getTime / 1000 / 10 >= pb + 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_type", $"period", $"cnt", $"anomalous")
        .as[(String, Long, Long, Int)].collect().toSet
    val view = EventStreams.rateMonitorView(spark, s"$dir/counts",
      "event_type", 10L, 2, sincePeriod = Some(pb + 10))
    val batchOp = graft.ops.EventAnalytics.rateAnomaly(
      winEvents.toDF(), "event_type", "ts", 10L, 2)
    assert(rows(view) == rows(batchOp))
    val counts = EventStreams.monitorCounts(spark, s"$dir/counts",
      "event_type", sincePeriod = Some(pb + 10))
    val cpView = graft.ops.EventAnalytics.changepointFromCounts(
      counts, "event_type").collect().map(_.toSeq).toSet
    val cpBatch = graft.ops.EventAnalytics.changepoint(
      winEvents.toDF(), "event_type", "ts", 10L)
      .collect().map(_.toSeq).toSet
    assert(cpView == cpBatch)
  }
  /** A 5-file event spool, 4 periods per file, types D and L. */
  private def eventSpool(): String = {
    val spool = java.nio.file.Files.createTempDirectory("evspool").toString
    (0 until 5).foreach { b =>
      addSpoolFile(spool, b + 1, (4 * b until 4 * b + 4).flatMap { p =>
        (0 until 3).map(i => Event(p * 100L + i, ts(p * 10L), "D", 0.0)) ++
          (0 until 2).map(i => Event(p * 100L + 50 + i, ts(p * 10L), "L", 0.0))
      }.toDF())
    }
    spool
  }

  private def countRows(countsDir: String) =
    EventStreams.monitorCounts(spark, countsDir, "event_type")
      .collect().map(_.toString).sorted.toSeq

  test("rate-monitor registers: a crash before or after each append and " +
      "retention compaction commit ends with the uninterrupted counts") {
    import org.apache.spark.sql.streaming.Trigger
    val spool = eventSpool()
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    def run(fp: Option[(Long, String)]): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory("moncrash").toString
      runCrashing(s"$dir/counts", fp) { () =>
        EventStreams.rateMonitor(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(spool),
          "event_type", "ts", periodSec = 10L, s"$dir/counts",
          s"$dir/ckpt", trigger = Some(Trigger.AvailableNow()),
          retainPeriods = Some(6L), compactEvery = 2)
      }
      countRows(s"$dir/counts")
    }
    val clean = run(None)
    // retention folded batches ≤ 3 down to their last 6 periods, plus
    // batch 4's 4 periods, for 2 types
    assert(clean.size == 2 * 10, clean.mkString("\n"))
    crashPoints(batch = 1L, compactUpTo = 3L).foreach { fp =>
      assert(run(Some(fp)) == clean, s"crash at $fp")
    }
  }

  test("monitorCounts during a staged, uncommitted register compaction " +
      "reads the pre-compaction counts; after the commit, the same counts") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("monrace").toString
    val counts = s"$dir/counts"
    runCrashing(counts, None) { () =>
      EventStreams.rateMonitor(spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Event].schema)
        .option("maxFilesPerTrigger", 1).parquet(eventSpool()),
        "event_type", "ts", periodSec = 10L, counts, s"$dir/ckpt",
        trigger = Some(Trigger.AvailableNow()))
    }
    def versionDirs(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(counts), 2)
      try s.filter(_.getFileName.toString.startsWith("v=")).count()
      finally s.close()
    }
    val before = countRows(counts)
    val dirsBefore = versionDirs()
    graft.stream.AppendTable.failpoint = Some((counts, 4L, "compact_staged"))
    val e = intercept[IllegalStateException](
      graft.stream.DocIngest.compactSketch(spark, counts, upToBatch = 4L))
    assert(e.getMessage.contains("failpoint"), e.getMessage)
    // the fold is on disk, above the committed version, but unpublished
    assert(versionDirs() == dirsBefore + 1)
    assert(countRows(counts) == before)
    assert(graft.stream.DocIngest.compactSketch(spark, counts, upToBatch = 4L) == 5)
    assert(countRows(counts) == before)
    assert(new graft.stream.AppendTable(spark, counts).parts().size == 1)
  }
}
