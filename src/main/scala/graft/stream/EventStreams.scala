package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-stream processing beyond the CDC parity surface: the
  * standard large-pipeline shapes — watermarked tumbling-window
  * aggregation (the reference's 30 s event-time cadence, A2/G7, as a
  * first-class streaming agg) and gap-based sessionization with
  * custom state (`flatMapGroupsWithState`).
  *
  * Both run identically over `readStream` (micro-batch, stateful
  * across batches) and plain batch DataFrames (tests/backfill).
  */
object EventStreams {

  /** Tumbling event-time windows with a watermark for state eviction:
    * `window($"ts", "30 seconds")` per event type. Late rows beyond
    * the watermark are dropped — the knob the reference never needed
    * (its spool is exactly ordered) but any at-scale stream does.
    */
  def windowedStats(events: DataFrame, eventTime: String = "ts",
                    windowLength: String = "30 seconds",
                    watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming exact dedup: drop re-deliveries of the same key within
    * the watermark horizon (`dropDuplicatesWithinWatermark`, so the
    * key-state store is EVICTED as event time advances — bounded
    * memory at any throughput, unlike plain `dropDuplicates` whose
    * state grows with the key space forever). The batch analog of
    * Dedup.exact for at-least-once ingest paths.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  eventTime: String = "ts",
                  watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: pair each left event with right
    * events of the same key whose time falls within `[left.ts -
    * lookback, left.ts]`. Both sides carry watermarks so Spark can
    * BOUND the join state: a buffered right row is dropped once the
    * left watermark passes its eligibility window — without the time
    * condition the state store grows forever at 100 TB rates.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   lookback: String = "1 hour",
                   watermark: String = "2 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right
      .withColumnRenamed("ts", "r_ts")
      .withWatermark("r_ts", watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r_ts") >= col("l.ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("l.ts"))
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp,
                         event_type: String, value: Double)
  final case class SessionAcc(start: Long, end: Long, n: Long, total: Double)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long,
                           total_value: Double)

  /** Gap-based sessionization: events of one user belong to one
    * session while consecutive gaps stay under `gapSeconds`. Sessions
    * close via event-time timeout once the watermark passes
    * session_end + gap — classic
    * `groupByKey.flatMapGroupsWithState` custom state.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long,
                 watermark: String = "30 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def toSession(uid: Long, a: SessionAcc): Session =
      Session(uid, new java.sql.Timestamp(a.start), new java.sql.Timestamp(a.end),
        a.n, a.total)

    val gapMs = gapSeconds * 1000
    val fn = (uid: Long, evs: Iterator[Event], state: GroupState[SessionAcc]) => {
      if (evs.isEmpty && state.hasTimedOut) {
        // watermark passed: close the open session
        val out = state.getOption.map(toSession(uid, _)).iterator
        state.remove()
        out
      } else {
        // interval merge: the open state session and each event (as a
        // singleton interval), sorted by start, fold left merging
        // whenever the next interval begins within gap of the current
        // end. Cross-batch stragglers older than the open session
        // thereby merge with EACH OTHER into proper sessions instead
        // of each closing as its own singleton; everything except the
        // last (still-open) interval closes now.
        val intervals = (state.getOption.toSeq ++
          evs.map(e => SessionAcc(e.ts.getTime, e.ts.getTime, 1, e.value)))
          .sortBy(a => (a.start, a.end))
        val merged = intervals.foldLeft(List.empty[SessionAcc]) { (accs, iv) =>
          accs match {
            case head :: tail if iv.start <= head.end + gapMs =>
              SessionAcc(math.min(head.start, iv.start),
                math.max(head.end, iv.end),
                head.n + iv.n, head.total + iv.total) :: tail
            case _ => iv :: accs
          }
        }.reverse
        val closed = scala.collection.mutable.Buffer.empty[Session]
        if (merged.nonEmpty) merged.init.foreach(a => closed += toSession(uid, a))
        val acc = merged.lastOption.orNull
        if (acc != null) {
          state.update(acc)
          // flatMapGroupsWithState does NOT drop late rows, so the
          // natural timeout can sit at/below the current watermark —
          // which setTimeoutTimestamp rejects, killing the query.
          state.setTimeoutTimestamp(math.max(
            acc.end + gapMs, state.getCurrentWatermarkMs() + 1))
        }
        closed.iterator
      }
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming rate monitor, register side: each micro-batch's
    * (`typeCol`, period, count) partial counts are one [[AppendTable]]
    * append, published with the batch id (a replayed batch finds them
    * applied and skips). Registers are ADDITIVE — counts sum on read —
    * so the monitor's state is bounded by wall-clock periods × types,
    * never by event volume, and [[DocIngest.compactSketch]] applies
    * UNCHANGED (its contract is "every non-`count` column is a key").
    * This is the production wiring of
    * [[graft.ops.EventAnalytics.rateAnomaly]]'s horizon: the raw
    * events are long gone when the operator asks "is anything dead?"
    * — the registers plus the CURRENT clock answer it
    * ([[rateMonitorView]]).
    *
    * `retainPeriods` is the register LIFECYCLE: without it state is
    * bounded per unit time but grows monotonically forever (a 60 s
    * period adds ~526 k periods/type/year, all re-read on every
    * view). With `retainPeriods = Some(n)`, every `compactEvery`-th
    * batch folds the checkpoint-committed register parts (strictly
    * below the current batch) into one and drops periods older than
    * `max(period) − n + 1` over the merged parts, so steady-state
    * register volume is bounded by types × (n + the few periods the
    * uncompacted recent batches carry) — the TableStore vacuum
    * discipline. Pick `n` at or above the widest analysis window any
    * view will ask for; detectors over the retained window are
    * unchanged (spec-pinned). Late events older than the retention
    * cutoff would resurrect a PARTIAL count for a dropped period —
    * bound views with `sincePeriod` at or above the cutoff
    * ([[monitorCounts]]) for deterministic reads, the same contract a
    * watermark gives a streaming agg. In-loop compaction runs inside
    * foreachBatch (never concurrent with the writer); readers never
    * see it half-done, because it is published in one manifest write.
    */
  def rateMonitor(events: DataFrame, typeCol: String, tsCol: String,
      periodSec: Long, countsDir: String, checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      retainPeriods: Option[Long] = None, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(periodSec > 0, "periodSec must be positive")
    require(compactEvery > 0, "compactEvery must be positive")
    val us = periodSec * 1000000L
    val writer = events.writeStream
      .option("checkpointLocation", checkpointDir)
    trigger.foreach(writer.trigger)
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val regs = new AppendTable(batch.sparkSession, countsDir)
        if (!regs.applied(batchId)) regs.append(batch
          .filter(col(tsCol).isNotNull) // the rateAnomaly drop, visible
          .groupBy(col(typeCol),
            floor(unix_micros(col(tsCol)) / us).as("period"))
          .agg(count(lit(1)).as("count")), batchId)
        // only batches strictly below the current one: the fold covers
        // checkpoint-committed batches alone
        if (retainPeriods.isDefined && batchId > 0 &&
            batchId % compactEvery == 0)
          DocIngest.compactSketch(batch.sparkSession, countsDir,
            upToBatch = batchId - 1,
            retain = retainPeriods.map(("period", _)))
        ()
      }
      .start()
  }

  /** Streaming rate monitor, read side: merge the [[rateMonitor]]
    * registers (counts ADD) and run the exact-integer anomaly gate
    * over the gap-filled grid with the CALLER'S clock as the horizon —
    * a producer dead since its last event shows zero-filled flagged
    * periods up to `horizonSec`. Row-identical to batch
    * [[graft.ops.EventAnalytics.rateAnomaly]] over the concatenated
    * event log with the same horizon (spec-pinned: the registers are
    * the same (type, period) counts, merged by the same monoid Spark
    * runs map-side).
    */
  def rateMonitorView(spark: SparkSession, countsDir: String,
      typeCol: String, periodSec: Long, kSigma: Int,
      horizonSec: Option[Long] = None,
      maxSpanPeriods: Long = 1000000L,
      sincePeriod: Option[Long] = None): DataFrame =
    graft.ops.EventAnalytics.rateAnomalyFromCounts(
      monitorCounts(spark, countsDir, typeCol, sincePeriod), typeCol,
      kSigma, horizonPeriod(periodSec, horizonSec), maxSpanPeriods)

  /** The merged (typeCol, period, cnt) counts of a [[rateMonitor]]
    * register directory, summed over the committed register parts.
    * ONE register family feeds every detector: feed this to
    * [[graft.ops.EventAnalytics.rateAnomalyFromCounts]] (the
    * [[rateMonitorView]] convenience), `changepointFromCounts` (CUSUM
    * level shifts), `seasonalAnomalyFromCounts` /
    * `multiSeasonalAnomalyFromCounts` (cadence violations), or
    * `robustAnomalyFromCounts` (median/MAD, spike-masking-proof) —
    * each spec-pinned row-identical to its batch form over the
    * concatenated event log.
    *
    * `sincePeriod` pushes a `period >=` filter into the register READ
    * (parquet row-group pruning drops old files before the sum), so a
    * view over a retention-compacted monitor bounds both its scan and
    * its semantics: set it at or above the retention cutoff and a
    * late event resurrecting a partial count for an already-dropped
    * period can never skew the grid.
    *
    * Safe to call while the monitor is RUNNING: the read resolves the
    * committed version through the store's manifest, so a batch or a
    * compaction the writer has staged but not committed is invisible,
    * and a committed compaction replaces its source parts in the same
    * manifest write — no count is ever read twice. */
  def monitorCounts(spark: SparkSession, countsDir: String,
      typeCol: String, sincePeriod: Option[Long] = None): DataFrame = {
    val regs = new AppendTable(spark, countsDir).read()
    require(regs.isDefined,
      s"monitorCounts: no registers at $countsDir — has rateMonitor " +
        "committed a batch yet?")
    sincePeriod.fold(regs.get)(p => regs.get.filter(col("period") >= p))
      .groupBy(col(typeCol), col("period"))
      .agg(sum(col("count")).as("cnt"))
  }

  /** An external-clock horizon in epoch seconds → period units. */
  def horizonPeriod(periodSec: Long, horizonSec: Option[Long]): Option[Long] = {
    require(periodSec > 0, "periodSec must be positive")
    horizonSec.map(h => Math.floorDiv(h, periodSec))
  }
}
