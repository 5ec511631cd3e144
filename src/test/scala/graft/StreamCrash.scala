package graft

import graft.stream.AppendTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

/** Crash injection for the [[AppendTable]] stream families: a parquet
  * file spool (one file = one micro-batch under `maxFilesPerTrigger =
  * 1`) and a run that arms one failpoint, expects the stream to die
  * there, and restarts it on the same checkpoint. */
trait StreamCrash { self: SparkSpec =>

  /** Write `df` as spool file `n` (one parquet file, mtime-ordered). */
  def addSpoolFile(spool: String, n: Int, df: DataFrame): Unit = {
    val stage = s"$spool.stage$n"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val target = new java.io.File(spool, f"f$n%03d.parquet")
    target.getParentFile.mkdirs()
    assert(part.renameTo(target))
    target.setLastModified(1700000000000L + n * 60000L); ()
  }

  /** Run an AvailableNow stream to its end. With a failpoint
    * `(batch, point)` in the [[AppendTable]] at `dir`, the first run
    * must die there and a restart on the same checkpoint must finish. */
  def runCrashing(dir: String, failpoint: Option[(Long, String)])
      (start: () => StreamingQuery): Unit = {
    def toEnd(): Option[StreamingQueryException] = {
      val q = start()
      try { q.awaitTermination(); None }
      catch { case e: StreamingQueryException => Some(e) }
    }
    failpoint.foreach { case (batch, point) =>
      val fp = (dir, batch, point)
      AppendTable.failpoint = Some(fp)
      val err = try toEnd() finally {
        assert(AppendTable.failpoint.isEmpty, s"failpoint $fp never fired")
        AppendTable.failpoint = None
      }
      assert(err.exists(e => causes(e).exists(_.contains("failpoint"))),
        s"expected the injected crash at $fp, got $err")
    }
    val err = toEnd()
    assert(err.isEmpty, err.map(causes(_).mkString(" / ")).getOrElse(""))
  }

  /** The four crash points of a family whose in-loop compaction folds
    * batches ≤ `compactUpTo`: an append of `batch` and that compaction,
    * each staged-but-uncommitted and committed-but-not-checkpointed. */
  def crashPoints(batch: Long, compactUpTo: Long): Seq[(Long, String)] =
    Seq(batch -> "append_staged", batch -> "append_committed",
      compactUpTo -> "compact_staged", compactUpTo -> "compact_committed")

  private def causes(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => x.toString +: causes(x.getCause))
}
