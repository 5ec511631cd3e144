package graft.ops

import org.apache.spark.sql.DataFrame

/** Per-round lineage truncation for iterative operators
  * ([[Dedup.connectedComponents]], [[Dedup.connectedComponentsStar]]).
  * Without a cut, each round's plan nests the previous round's and
  * Catalyst re-analyzes a plan that grows linearly in iteration count.
  *
  * Two strategies, chosen by the caller's failure model:
  *
  *  - [[Lineage.Local]] (default): `localCheckpoint` — blocks live in
  *    executor memory/disk, zero extra I/O. Fast, but NOT
  *    fault-tolerant: truncated lineage cannot be recomputed, so a
  *    lost executor kills the job. The right choice on a dedicated
  *    cluster or in local mode.
  *  - [[Lineage.Reliable]]: parquet round-trip through a caller-owned
  *    scratch directory on reliable storage (HDFS / object store).
  *    Each round's state is re-rooted at a file scan, so executor —
  *    and even whole-stage — loss replays from storage instead of
  *    failing. The right choice on preemptible/spot clusters running
  *    the 100 TB dedup graphs these loops exist for. Costs one
  *    write+read of the (edge-sized, ≪ corpus) state per round.
  *
  * Scratch lifecycle: each cut writes one `state_N` subdir. The
  * iterative loops retire superseded rounds EAGERLY (a round's state
  * is dead once the next round has materialized and the convergence
  * probe has run), so scratch usage stays O(1) states instead of
  * O(rounds); the one or two states backing the RETURNED plan must
  * outlive its consumption, so the caller finishes with
  * [[Lineage.cleanup]] once the result has been read or re-rooted.
  */
object Lineage {
  sealed trait Strategy
  /** Executor-memory lineage cut — fast, not fault-tolerant. */
  case object Local extends Strategy
  /** Parquet round-trip through `dir` — survives executor loss. */
  final case class Reliable(dir: String) extends Strategy

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Truncate `df`'s lineage per `strategy`. Local cuts are lazy
    * (materialize on first use); Reliable cuts materialize now (the
    * write is the checkpoint). */
  def cut(df: DataFrame, strategy: Strategy): DataFrame =
    cutTracked(df, strategy)._1

  /** [[cut]] that also reports the scratch path backing the cut
    * (Reliable only) — the handle loops use to retire a superseded
    * round's state as soon as nothing can re-read it. */
  private[ops] def cutTracked(df: DataFrame,
      strategy: Strategy): (DataFrame, Option[String]) = strategy match {
    case Local => (df.localCheckpoint(eager = false), None)
    case Reliable(dir) =>
      val path = s"$dir/state_${seq.incrementAndGet()}"
      df.write.mode("overwrite").parquet(path)
      (df.sparkSession.read.parquet(path), Some(path))
  }

  /** Unpersist the local checkpoints `df` reads (the leaves of its
    * plan): for a caller that has consumed `df` and owns those cuts,
    * so their blocks do not outlive it in a long-lived session. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Delete every `state_N` scratch dir under `dir`. Call AFTER the
    * loop's result has been consumed (collected, joined-and-written,
    * or re-rooted through another cut) — the final state(s) back the
    * returned plan until then. Returns the number of states removed. */
  def cleanup(dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hadoopConf())
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return 0
    val states = fs.listStatus(root)
      .filter(_.getPath.getName.startsWith("state_"))
    states.foreach(st => fs.delete(st.getPath, true))
    states.length
  }

  /** Best-effort recursive delete of retired scratch states.
    *
    * Resolved through Hadoop's FileSystem, NOT java.io: Reliable(dir)
    * state is written via Spark and may live on hdfs:// or s3a://,
    * where a java.io delete silently no-ops and scratch would grow
    * O(rounds) again — exactly the leak the eager retirement exists
    * to prevent. */
  private[ops] def delete(paths: Iterable[String]): Unit = {
    val conf = hadoopConf()
    paths.foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).delete(path, true); ()
    }
  }

  /** The active session's Hadoop conf when one exists (carries
    * `fs.s3a.*` credentials etc.); a vanilla Configuration otherwise. */
  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
}
