package cdcbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes its raw
  * record (samples, progress, traces, checks) as JSON to `--out`.
  * `run.py` reduces the record to metrics.
  *
  * Usage: cdcbench.Main --workload W --seed N --seconds S --trace 0|1
  *                      --work DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val errors = ErrorLogCounter.attach()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"cdcbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = Clock.preciseMs
    val ctx = new Ctx(spark, work, opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1")
    val body = workload match {
      case "replay_bulk" => Replay.bulk(ctx)
      case "replay_trickle" => Replay.trickle(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rt = Runtime.getRuntime
    val record = body ++ Map(
      "workload" -> workload,
      "session_ready_ms" -> sessionReady,
      "error_log_lines" -> errors.count.get,
      "error_log_first" -> errors.first.toArray.toSeq,
      "provenance" -> Map(
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "driver_heap_max_mb" -> rt.maxMemory() / 1048576,
        "available_processors" -> rt.availableProcessors(),
        "master" -> spark.sparkContext.master))
    Files2.write(Paths.get(opts("out")), Jackson.mapper.writeValueAsString(record))
    spark.stop()
  }
}
