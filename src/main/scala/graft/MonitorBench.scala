package graft

import java.nio.file.Files

import graft.stream.EventStreams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Rate-monitor register lifecycle economics — the
  * [[VacuumBench]]/WinnowBench measured-economics discipline applied
  * to [[graft.stream.EventStreams.rateMonitor]]'s round-15 retention:
  * the same synthetic event stream is run TWICE through the monitor,
  * once without retention (the control: registers grow with uptime,
  * one register part per trigger) and once with
  * `retainPeriods`/`compactEvery` (in-loop retention compaction).
  * The claims to measure:
  *
  *  1. retained register state is bounded by
  *     types × (retainPeriods + uncompacted slack) while the control
  *     grows ∝ stream age;
  *  2. the retained registers stay at O(compactEvery) parts
  *     while the control holds one per trigger;
  *  3. the view read ([[graft.stream.EventStreams.rateMonitorView]]
  *     over the retained window, `sincePeriod` at the cutoff) gets
  *     CHEAPER than the control's whole-history merge — the
  *     monitoring read an operator actually runs.
  *
  * Both runs share one spool (identical input). Events are
  * deterministic: `typesN` producer types, `eventsPerPeriod` events
  * per (type, period), `periodsPerBatch` fresh 10 s periods per
  * micro-batch — no wall clock anywhere, so runs are replayable.
  *
  * Env: SPARK_GRAFT_MONITOR_BATCHES (default 40),
  * SPARK_GRAFT_MONITOR_RETAIN (default 120 periods),
  * SPARK_GRAFT_MONITOR_COMPACT_EVERY (default 8). Prints ONE JSON
  * line and writes MONITORBENCH_DETAIL.json.
  */
object MonitorBench {
  def main(args: Array[String]): Unit = {
    val nBatches = sys.env.get("SPARK_GRAFT_MONITOR_BATCHES")
      .flatMap(_.toIntOption).getOrElse(40)
    val retain = sys.env.get("SPARK_GRAFT_MONITOR_RETAIN")
      .flatMap(_.toLongOption).getOrElse(120L)
    val compactEvery = sys.env.get("SPARK_GRAFT_MONITOR_COMPACT_EVERY")
      .flatMap(_.toIntOption).getOrElse(8)
    val periodSec = 10L
    val periodsPerBatch = 20
    val typesN = 5
    val eventsPerPeriod = 10
    val defaultCpus = math.min(Runtime.getRuntime.availableProcessors(), 32)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates",
        (nBatches + 10).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- untimed setup: one spool file per batch (shared by both runs)
    val spool = Files.createTempDirectory("graft-monbench-spool-").toString
    val baseSec = 1700000000L
    (1 to nBatches).foreach { b =>
      val rows = for {
        p <- 0 until periodsPerBatch
        t <- 0 until typesN
        i <- 0 until eventsPerPeriod
      } yield {
        val period = (b - 1).toLong * periodsPerBatch + p
        (period * 10000L + t * 100L + i,
          baseSec + period * periodSec, s"type_$t")
      }
      val dir = s"$spool/b$b"
      rows.toDF("event_id", "sec", "event_type")
        .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
          col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val part = Files.list(java.nio.file.Paths.get(dir)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $dir"))
      val target = java.nio.file.Paths.get(s"$spool/batch_$b.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + b * 60000L))
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    spark.range(1 << 20).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()

    val lastPeriod = nBatches.toLong * periodsPerBatch - 1
    val basePeriod = baseSec / periodSec
    val horizon = Some(baseSec + (lastPeriod + 1) * periodSec)

    final case class RunStats(wallSec: Double, dirs: Int, rows: Long,
      minPeriod: Long, readSec: Double, viewRows: Long)

    def run(tag: String, retainPeriods: Option[Long]): RunStats = {
      val dir = Files.createTempDirectory(s"graft-monbench-$tag-").toString
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(spool)
      System.gc()
      val t0 = System.nanoTime()
      val q = EventStreams.rateMonitor(stream, "event_type", "ts",
        periodSec, s"$dir/counts", s"$dir/ckpt",
        trigger = Some(Trigger.AvailableNow()),
        retainPeriods = retainPeriods, compactEvery = compactEvery)
      q.awaitTermination()
      val wallSec = (System.nanoTime() - t0) / 1e9
      q.exception.foreach(throw _)
      // parts the committed registers read (every view scans them all)
      val counts = new graft.stream.AppendTable(spark, s"$dir/counts")
      val dirs = counts.parts().size
      val regs = counts.read().get
      val rows = regs.count()
      val minPeriod = regs.agg(min(col("period"))).head().getLong(0)
      // the monitoring read an operator runs: the anomaly view over
      // the last `retain` periods (sincePeriod bounds both runs'
      // semantics identically; only the state under it differs)
      val since = Some(basePeriod + lastPeriod - retain + 1)
      System.gc()
      val tr = System.nanoTime()
      val viewRows = EventStreams.rateMonitorView(spark, s"$dir/counts",
        "event_type", periodSec, kSigma = 2, horizonSec = horizon,
        sincePeriod = since).count()
      val readSec = (System.nanoTime() - tr) / 1e9
      RunStats(wallSec, dirs, rows, minPeriod, readSec, viewRows)
    }

    val control = run("ctl", None)
    val retained = run("ttl", Some(retain))
    // gates: identical view over the shared window; retained state
    // bounded by the window; control state grows with uptime
    val boundOk = retained.rows <=
      typesN.toLong * (retain + compactEvery.toLong * periodsPerBatch)
    val ok = control.viewRows == retained.viewRows &&
      boundOk && control.rows == typesN.toLong * (lastPeriod + 1)

    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val line =
      s"""{"metric":"monitor_retention","batches":$nBatches,""" +
        s""""periods":${lastPeriod + 1},"types":$typesN,""" +
        s""""retain_periods":$retain,"compact_every":$compactEvery,""" +
        s""""control_rows":${control.rows},"retained_rows":${retained.rows},""" +
        s""""control_dirs":${control.dirs},"retained_dirs":${retained.dirs},""" +
        s""""control_read_sec":${fmt(control.readSec)},""" +
        s""""retained_read_sec":${fmt(retained.readSec)},""" +
        s""""control_ingest_sec":${fmt(control.wallSec)},""" +
        s""""retained_ingest_sec":${fmt(retained.wallSec)},""" +
        s""""view_rows":${retained.viewRows},""" +
        s""""retained_min_period_offset":${retained.minPeriod - basePeriod},""" +
        s""""failed":${!ok}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("MONITORBENCH_DETAIL.json"),
      line.getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
