package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The JSON writer of the raw record and the wal2json payloads. */
object Jackson {
  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}

/** Wall-clock helpers: every timestamp the record carries is epoch ms
  * (the Python side and the streaming progress share that clock). */
object Clock {
  /** Epoch ms with sub-ms resolution, anchored once to the wall clock. */
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def preciseMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Counts ERROR-or-worse log events from every logger (Spark's
  * DAGScheduler included) while attached. */
final class ErrorLogCounter
    extends AbstractAppender("cdcbench-error-counter", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  val first = new java.util.concurrent.ConcurrentLinkedQueue[String]
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      if (count.incrementAndGet() <= 5)
        first.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}".take(300))
    }
}

object ErrorLogCounter {
  def attach(): ErrorLogCounter = {
    val app = new ErrorLogCounter
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}

/** Peak heap in use right after a collection, from GC notifications
  * (the per-pool "collection usage" of MemoryPoolMXBean, summed over
  * heap pools at each GC). */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }
  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak.toDouble / 1048576.0
}

/** One Spark job as the listener saw it: description (the engine's
  * `cdc batch N: phase` labels), wall interval and task totals. */
final class JobRec(val id: Int, val desc: String, val start: Long) {
  var end: Long = -1L
  var ok: Boolean = true
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
  def toMap: Map[String, Any] = Map("id" -> id, "desc" -> desc, "start" -> start,
    "end" -> end, "ok" -> ok, "tasks" -> tasks, "cpu_ms" -> cpuNs / 1e6,
    "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite, "spill" -> spill,
    "out_bytes" -> outBytes)
}

/** Listener-side tracing: jobs with their task metrics and, per query
  * execution, Catalyst phase times from `QueryExecution.tracker`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val events = new AtomicLong
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, desc, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    events.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
    events.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val m = e.taskMetrics
    j.foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
    events.incrementAndGet()
  }

  private def phases(qe: QueryExecution): Map[String, Any] = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    val starts = ph.values.map(_.startTimeMs)
    Map("start" -> (if (starts.isEmpty) 0L else starts.min),
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions.add(phases(qe) + ("ok" -> true))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    executions.add(phases(qe) + ("ok" -> false))

  /** Wait until the asynchronous listener bus has delivered everything
    * posted so far (no new events for a quiet period). */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val n = events.get()
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }
  def jobList: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map(_.toMap)
  def execList: Seq[Map[String, Any]] = executions.asScala.toSeq
}

/** In-memory span recorder: name, start, end (epoch ms), parent span
  * and the batch or query id the span belongs to. */
final class Spans {
  private val out = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val next = new AtomicLong
  def apply[T](name: String, ref: String)(body: => T): T = {
    val id = next.getAndIncrement().toInt
    val parent = stack.get.headOption.getOrElse(-1)
    stack.set(id :: stack.get)
    val t0 = Clock.preciseMs
    try body
    finally {
      stack.set(stack.get.tail)
      val rec = Map[String, Any]("id" -> id, "name" -> name, "start" -> t0,
        "end" -> Clock.preciseMs, "parent" -> parent, "ref" -> ref)
      out.synchronized { out += rec }
    }
  }
  def list: Seq[Map[String, Any]] = out.synchronized(out.toSeq)
}

/** Shared run context handed to every workload. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val trace: Boolean) {
  val heap = new HeapPeak
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
  /** Release cached blocks so one phase's leftovers don't land in the
    * next phase's timing. */
  def release(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}

/** Run independent Spark writes concurrently (job submission is
  * thread-safe); rethrows the first failure. */
object Par {
  def run(tasks: Seq[() => Unit], threads: Int = 4): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }
}

object Files2 {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
      finally st.close()
    }
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }
}
