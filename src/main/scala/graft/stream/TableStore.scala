package graft.stream

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import graft.model.{SchemaRegistry, TableId}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** Versioned parquet table store with an atomically-published batch
  * manifest — the engine's answer to the reference's cross-table
  * transactional commit (all tables commit together per 30 s batch,
  * `replayer/connemara_replay.pl:846-857`; SURVEY §7.4).
  *
  * Layout: `root/<db>_<schema>.<table>/v=<version>/…parquet`; the
  * manifest `root/_latest` names one committed version for every
  * table, written via temp-file + verify + atomic rename. Readers
  * resolve through the manifest, so they always see one consistent
  * cut even while a new batch is writing.
  *
  * == Crash contract ==
  * Every writer follows one protocol: stage a version dir above the
  * committed one, then publish it in ONE manifest write. A crash
  * before the manifest write leaves the previous cut (the staged dir
  * is invisible, and the retry overwrites it); a crash after it leaves
  * the new cut. A version's sidecars name every older dir it reads —
  * `_bucketmap` for PK buckets, `_parts` for append parts — and
  * [[vacuum]] keeps every dir a kept version names. Besides the
  * tables, the manifest holds `@`-keyed progress entries, which
  * [[manifest]] leaves out: each source database's replay progress
  * ([[progress]]: the snapshot's handoff LSN `<db>@lsn` and the spool
  * position of the last row consumed, `<db>@spool_ts` and
  * `<db>@spool_lsn`), the schema registry's version (`@registry`,
  * [[registryPath]]) and each append table's origin
  * (`<table>@origin`, [[origin]]). Four consumers share the protocol:
  *  - the snapshot publishes version 0 of every table, the handoff LSN
  *    of every database it seeds (its consistent point) and the
  *    registry in one write;
  *  - the CDC engine publishes each trigger's tables and views one
  *    version above the committed ones, together with each database's
  *    spool position moved past the rows the trigger consumed, after
  *    DDL the registry and the DDL's effect on tables (a created table,
  *    a renamed table under its new name, a dropped or renamed-away
  *    name retired), and the trigger's spool rows as one more
  *    append part of the archive ([[TableStore.ArchiveId]], when
  *    archiving) and of the quarantine ([[TableStore.QuarantineId]],
  *    when a payload is malformed) ([[commitWithDrops]]); a replay
  *    drops every row at or before its database's position, so a
  *    committed trigger replays empty and appends nothing. A
  *    quarantine requeue ([[Quarantine.requeue]]) publishes its drain
  *    as one compaction of the quarantine;
  *  - the stream families ([[AppendTable]]: band and winnow indexes,
  *    sketch and rate-monitor registers) publish each micro-batch's
  *    rows as append version `committed + 1` together with the batch
  *    id ([[origin]], the replication-origin analog), and each
  *    compaction as one more version; a replayed batch the origin
  *    already covers is skipped;
  *  - the IVF index ([[graft.ops.IvfIndex]]) publishes a build's
  *    centroids, SQ8 stats and postings in one write, and each append
  *    (one more postings part) and compaction (the appended parts
  *    folded into one) as one more postings version.
  * The store has no rename or drop of its own: a name leaves the
  * manifest only as a `drops` entry of [[commitWithDrops]], and its
  * dirs stay for [[vacuum]].
  *
  * == Filesystem requirement (read this before pointing `root` at S3) ==
  * Paths are local/POSIX (`java.nio.file`). The cross-table atomicity
  * of `_latest` rests on `Files.move(…, ATOMIC_MOVE)` being a true
  * atomic rename — POSIX filesystems give that; S3-class object stores
  * do NOT (rename is copy+delete, and a reader can observe a
  * half-copied object). The manifest therefore defends in depth rather
  * than trusting the filesystem blindly:
  *  - every manifest carries a header `#graft-manifest seq=… entries=…
  *    crc=…`; [[manifest()]] verifies entry count and CRC32 and
  *    REFUSES a torn, truncated or headerless manifest
  *    (`IllegalStateException`) instead of serving a partial table cut;
  *  - `seq` increases by exactly one per publish; after the rename the
  *    writer reads the manifest back and fails loudly if its publish
  *    regressed or vanished (the lost-update signature of a
  *    non-atomic store).
  * On an object store, replace the rename with a conditional put
  * (if-match on `seq`) at this one seam — everything else is already
  * content-addressed version directories, which object stores handle
  * natively.
  */
final class TableStore(spark: SparkSession, val root: String) {

  private val manifestPath = Paths.get(root, "_latest")
  Files.createDirectories(Paths.get(root))

  /** The committed [[graft.model.SchemaRegistry]], for
    * `SchemaRegistry.load` on a driver restart: the file named by the
    * manifest's `@registry` entry, which the snapshot and every DDL
    * trigger publish with their data ([[commitWithDrops]]). Throws on
    * a store that has published no registry. */
  def registryPath: java.nio.file.Path =
    registryFile(entries().getOrElse(TableStore.RegistryKey,
      throw new IllegalStateException(
        s"store $root has published no schema registry; seed it with the snapshot")))

  private def registryFile(version: Long) =
    Paths.get(root, s"_registry.v$version.json")

  private[stream] def dir(id: TableId, version: Long): String =
    s"$root/${id.qualified}/v=$version"

  /** table → committed version: the table cut, without the `@`-keyed
    * progress entries. Throws `IllegalStateException` on a torn
    * manifest (bad CRC, truncated or surplus entries) — serving a
    * partial cut would silently break the cross-table barrier. */
  def manifest(): Map[String, Long] = entries().filterNot(_._1.contains('@'))

  /** Every manifest entry, progress entries included. */
  private def entries(): Map[String, Long] = parseManifest()._2

  /** Source database → its replay progress ([[TableStore.Progress]]):
    * the snapshot sets the handoff LSN, and each trigger's commit
    * moves the spool position past the rows the trigger consumed.
    * Refuses a store whose manifest holds an `@`-led entry this store
    * does not write — an older store's single start LSN: such a store
    * has no per-database progress, and a replay would start at LSN 0. */
  def progress(): Map[String, TableStore.Progress] = {
    val m = entries()
    m.keys.find(k => k.startsWith("@") && k != TableStore.RegistryKey).foreach { k =>
      throw new IllegalStateException(
        s"store $root holds the manifest entry '$k' and no per-database replay " +
          "progress, so a replay would start at LSN 0; re-seed it: run the " +
          "snapshot into a new store")
    }
    def of(suffix: String) = m.collect { case (k, v) if k.endsWith(suffix) =>
      k.stripSuffix(suffix) -> v
    }
    val (handoff, ts, lsn) =
      (of(TableStore.LsnSuffix), of(TableStore.SpoolTsSuffix), of(TableStore.SpoolLsnSuffix))
    (handoff.keySet ++ ts.keySet).map { db =>
      db -> TableStore.Progress(handoff.get(db), ts.get(db).map(_ -> lsn(db)))
    }.toMap
  }

  /** publish sequence of the current manifest (0 = none yet). */
  def manifestSeq(): Long = parseManifest()._1

  private def parseManifest(): (Long, Map[String, Long]) =
    TableStore.readManifest(manifestPath)

  /** The manifest update is a read-modify-write of the FULL
    * table→version map, so concurrent committers must serialize — an
    * interleaved parse→render→rename silently drops the other
    * writer's just-committed entry while seq still advances (the
    * 'back < seq' check cannot see it). Three rings of defense:
    * per-instance `synchronized`, a JVM-global monitor per store root
    * (two engines in one JVM, separate TableStore instances), and an
    * OS file lock on the `_latest.lock` sidecar (engines in SEPARATE
    * JVMs sharing one POSIX/NFSv4 root). Object stores have no lock
    * primitive — there, single-writer-per-root is part of the
    * conditional-put seam the class doc describes. */
  private def updateManifest(
      f: Map[String, Long] => Map[String, Long]): Unit =
    jvmRootMonitor.synchronized { withCommitLock {
      // the READ is inside the lock: a commit computed against a map
      // read before acquisition would overwrite whatever the lock's
      // previous holder just published
      val (curSeq, cur) = parseManifest()
      val m = f(cur)
      val seq = curSeq + 1
      val content = TableStore.renderManifest(seq, m)
      val tmp = Paths.get(root, s"_latest.tmp")
      Files.writeString(tmp, content)
      // verify BEFORE publish: the temp copy must parse back to exactly
      // the intended cut (catches a torn local write / full disk before
      // it can replace a good manifest)
      val (tmpSeq, tmpMap) =
        TableStore.parseManifestContent(Files.readString(tmp), tmp.toString)
      require(tmpSeq == seq && tmpMap == m,
        s"manifest temp verify failed at $tmp: wrote seq=$seq ${m.size} entries, " +
          s"read back seq=$tmpSeq ${tmpMap.size}")
      Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      // monotonic read-back: our publish (or a newer one) must be
      // visible — a lower seq is the lost-update signature of a
      // non-atomic store (see the class doc's object-store seam)
      val back = manifestSeq()
      if (back < seq) throw new IllegalStateException(
        s"manifest publish regressed at $manifestPath: wrote seq=$seq, " +
          s"read back seq=$back — the store's rename is not atomic")
    } }

  private val jvmRootMonitor = TableStore.monitorFor(root)

  /** Exclusive OS lock on `_latest.lock` for the duration of `body`.
    * FileChannel.lock blocks until the other process releases; the
    * JVM-level monitors above guarantee no overlapping lock attempt
    * from THIS JVM (which would throw OverlappingFileLockException
    * instead of waiting). */
  private def withCommitLock[A](body: => A): A = {
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(root, "_latest.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try body finally lock.release()
    } finally ch.close()
  }

  def exists(id: TableId): Boolean = manifest().contains(id.qualified)

  /** Read the committed state of a table (bucketed tables resolve
    * through the committed version's bucketmap). */
  def read(id: TableId): DataFrame = {
    val m = manifest()
    val v = m.getOrElse(id.qualified,
      throw new NoSuchElementException(s"table ${id.qualified} not in store"))
    readVersion(id, v)
  }

  /** Stage a new version of one table (no manifest update yet), with
    * the `_schema.json` sidecar that lets [[readVersion]] skip parquet
    * schema inference (a Spark job and a driver round-trip per read). */
  def stage(id: TableId, df: DataFrame, version: Long): Unit = {
    df.write.mode("overwrite").parquet(dir(id, version))
    // sidecar AFTER the data write (overwrite clears the dir)
    Files.writeString(schemaPath(id, version), df.schema.json)
  }

  /** Read one specific staged version (committed or not), typed by
    * its schema sidecar. A version dir without one (staged by older
    * code, or never staged) is refused, naming the dir: every writer
    * stages through [[stage]], [[stageBucketed]] or [[stageAppend]] /
    * [[stageCompaction]], which write it. */
  def readVersion(id: TableId, version: Long): DataFrame = {
    if (!Files.exists(schemaPath(id, version))) throw new IllegalStateException(
      s"${dir(id, version)} has no ${schemaPath(id, version).getFileName} sidecar, a " +
        "version this store no longer reads; re-seed the table with a full snapshot")
    bucketSpec(id) match {
      case Some(spec) if isBucketedAt(id, version) =>
        readBuckets(id, (0 until spec.n).toSet, version)
      case _ if Files.exists(partsPath(id, version)) =>
        readParts(id, version, parts(id, version).map(_._1))
      case _ => spark.read.schema(versionSchema(id, version)).parquet(dir(id, version))
    }
  }

  // ── PK-bucketed layout ────────────────────────────────────────────
  //
  // The incremental-publish answer to the full-rewrite scale killer:
  // a bucketed table hashes rows into `n` PK buckets
  // (`__gb = pmod(hash(pk…), n)`), each version directory holds ONLY
  // the buckets that batch rewrote, and a per-version `_bucketmap`
  // sidecar names, for every bucket, the version dir holding its
  // current rows. A 1-key batch reads 1 bucket and writes 1 bucket —
  // O(|changes|) instead of O(|table|) per 30 s batch, the same
  // in-place granularity as the reference's per-row UPDATE replay
  // (`replayer/connemara_replay.pl:220-251`). The cross-table commit
  // barrier is untouched: `_latest` still names one version per
  // table; that version's bucketmap closes over the full table state.
  //
  // Files: a version dir holds its rows with two reserved columns, the
  // bucket id `__gb` and the writing version `__gv`, sorted by `__gb`
  // within each file. The file count follows the bytes written, not
  // the buckets touched: the adaptive planner merges small shuffle
  // partitions and splits ones over its advisory size, so a small
  // version is one file and a bucket spans files only when its bytes
  // call for it. Reads keep a row only where its `__gv` is the
  // bucketmap's version for its `__gb`, so rows of a bucket that a
  // later version rewrote never show.

  import TableStore.{BucketCol, VersionCol}

  private def bucketSpecPath(id: TableId) =
    Paths.get(root, id.qualified, "_bucketed")
  private def bucketMapPath(id: TableId, version: Long) =
    Paths.get(dir(id, version), "_bucketmap")
  private def schemaPath(id: TableId, version: Long) =
    Paths.get(dir(id, version), "_schema.json")

  /** Whether `version` was staged with a bucketmap. */
  def isBucketedAt(id: TableId, version: Long): Boolean =
    Files.exists(bucketMapPath(id, version))

  /** Bucket layout of a table, if it was created bucketed. */
  def bucketSpec(id: TableId): Option[TableStore.BucketSpec] =
    if (!Files.exists(bucketSpecPath(id))) None
    else {
      val lines = Files.readAllLines(bucketSpecPath(id)).asScala.toList
      Some(TableStore.BucketSpec(lines.head.toInt, lines.tail.filter(_.nonEmpty)))
    }

  /** bucket → version dir currently holding that bucket's rows. */
  private def bucketMap(id: TableId, version: Long): Map[Int, Long] =
    Files.readAllLines(bucketMapPath(id, version)).asScala
      .filter(_.nonEmpty)
      .map { line =>
        val Array(b, v) = line.split("=", 2)
        b.toInt -> v.toLong
      }.toMap

  private def versionSchema(id: TableId, version: Long): StructType =
    DataType.fromJson(Files.readString(schemaPath(id, version)))
      .asInstanceOf[StructType]

  /** Read a subset of buckets as of `version` — the pruned target
    * scan for an incremental merge. One scan over the version dirs the
    * requested buckets map to, filtered to `OR` over those dirs of
    * (`__gv = v AND __gb IN (buckets mapped to v)`): a row of a bucket
    * that a later version rewrote never shows, and Parquet evaluates
    * the filter on the row-group statistics of the bucket-sorted
    * files, so other buckets' row groups are skipped, not decoded. The
    * version's schema sidecar types the read (an empty bucket has no
    * rows, and no bucket at all gives an empty, typed frame). A
    * version dir in the older per-bucket-dir layout (`__gb=N`
    * subdirs) is refused, naming the dir: this scan would read it as
    * empty. */
  def readBuckets(id: TableId, buckets: Set[Int], version: Long): DataFrame = {
    val schema = versionSchema(id, version)
    val byDir = bucketMap(id, version).toSeq
      .filter { case (b, _) => buckets.contains(b) }
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (v, bs) => v -> bs.map(_._1).sorted }
    byDir.foreach { case (v, _) =>
      val s = Files.list(Paths.get(dir(id, v)))
      val old =
        try s.iterator().asScala.exists(_.getFileName.toString.startsWith(s"$BucketCol="))
        finally s.close()
      if (old) throw new IllegalStateException(
        s"${dir(id, v)} holds per-bucket $BucketCol=N subdirs, a bucketed layout " +
          "this store no longer reads; re-seed the table with a full snapshot")
    }
    if (byDir.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read
      .schema(schema.add(BucketCol, IntegerType).add(VersionCol, LongType))
      .parquet(byDir.map { case (v, _) => dir(id, v) }: _*)
      .filter(byDir.map { case (v, bs) =>
        col(VersionCol) === lit(v) && col(BucketCol).isin(bs: _*)
      }.reduce(_ || _))
      .drop(BucketCol, VersionCol)
  }

  /** Bytes of the data files a read of `version` scans: for a bucketed
    * version, the dirs its bucketmap maps `buckets` (default: all) to,
    * as [[readBuckets]] reads them; otherwise the version's dir.
    * Sidecars are not counted. A file listing, no Spark job. */
  def scanBytes(id: TableId, version: Long, buckets: Option[Set[Int]] = None): Long = {
    val dirs: Seq[Long] =
      if (isBucketedAt(id, version))
        bucketMap(id, version).toSeq
          .collect { case (b, v) if buckets.forall(_.contains(b)) => v }.distinct
      else Seq(version)
    dirs.map { v =>
      val s = Files.list(Paths.get(dir(id, v)))
      try s.iterator().asScala
        .filter(f => !f.getFileName.toString.startsWith("_") &&
          !f.getFileName.toString.startsWith(".") && Files.isRegularFile(f))
        .map(Files.size).sum
      finally s.close()
    }.sum
  }

  /** Whether `df` is one partition by its plan: a `coalesce(1)` under
    * projections (renames, [[graft.apply.ApplyEngine.conform]]). */
  private def onePartition(df: DataFrame): Boolean = {
    @tailrec def go(p: LogicalPlan): Boolean = p match {
      case Repartition(1, false, _) => true
      case Project(_, child) => go(child)
      case _ => false
    }
    go(df.queryExecution.analyzed)
  }

  /** Stage a bucketed version. `changed = None` writes every bucket (a
    * full rewrite: create, snapshot load, or a schema-evolving DDL
    * batch); `Some(buckets)` writes ONLY those buckets — `df` must
    * hold exactly their post-merge rows — and the new bucketmap points
    * every other bucket at `baseVersion`'s rows. The rows are
    * rebalanced by bucket, so the adaptive planner sizes the files by
    * bytes both ways (a small version is one file; a partition over
    * the advisory size is split), and each file is sorted by bucket.
    * A `df` that is already one partition (a `coalesce(1)` under
    * projections: the stream engine's one-partition merge) skips the
    * rebalance's exchange and writes its one bucket-sorted file
    * straight from its own plan, one job sooner. A table column
    * named like a reserved layout column is refused. Re-running a
    * version (crash replay) overwrites the same dir: idempotent. */
  def stageBucketed(id: TableId, df: DataFrame, version: Long,
                    spec: TableStore.BucketSpec,
                    changed: Option[Set[Int]] = None,
                    baseVersion: Option[Long] = None): Unit = {
    require(changed.isEmpty || baseVersion.nonEmpty,
      "delta staging needs the base version its bucketmap extends")
    df.columns.find(c => Seq(BucketCol, VersionCol).exists(_.equalsIgnoreCase(c)))
      .foreach(c => throw new IllegalArgumentException(
        s"${id.qualified}: column '$c' collides with a reserved column of " +
          "the bucketed layout"))
    val rows = df.withColumn(BucketCol, pmod(hash(spec.pkCols.map(df(_)): _*), lit(spec.n)))
      .withColumn(VersionCol, lit(version))
    (if (onePartition(df)) rows else rows.hint("rebalance", col(BucketCol)))
      .sortWithinPartitions(BucketCol)
      .write.mode("overwrite").parquet(dir(id, version))
    // sidecars AFTER the data write (overwrite clears the dir)
    Files.writeString(schemaPath(id, version), df.schema.json)
    val bm: Map[Int, Long] = changed match {
      case None => (0 until spec.n).map(b => b -> version).toMap
      case Some(ch) => bucketMap(id, baseVersion.get) ++ ch.map(_ -> version)
    }
    Files.writeString(bucketMapPath(id, version),
      bm.toSeq.sorted.map { case (b, v) => s"$b=$v" }.mkString("", "\n", "\n"))
    if (!Files.exists(bucketSpecPath(id)))
      Files.writeString(bucketSpecPath(id),
        (spec.n.toString +: spec.pkCols).mkString("", "\n", "\n"))
  }

  // ── Append versions ───────────────────────────────────────────────
  //
  // A stream family's rows (an index, a register set) grow by a small
  // append per micro-batch. An append version's dir holds ONLY the
  // batch's new rows; its `_parts` sidecar names every version dir the
  // version reads, itself included, each with the lowest stream batch
  // whose rows it holds (`version=batch` lines, the way `_bucketmap`
  // names each bucket's version dir). A compaction folds a window of
  // parts into one new dir and stages a version whose `_parts` drops
  // the window.

  private def partsPath(id: TableId, version: Long) =
    Paths.get(dir(id, version), "_parts")

  /** (part version, lowest batch its rows hold) of an append version,
    * in version order. */
  def parts(id: TableId, version: Long): Seq[(Long, Long)] =
    Files.readAllLines(partsPath(id, version)).asScala.toSeq
      .filter(_.nonEmpty)
      .map { line =>
        val Array(v, b) = line.split("=", 2)
        v.toLong -> b.toLong
      }

  /** Some parts of an append version, typed by its schema sidecar. */
  def readParts(id: TableId, version: Long, partVersions: Seq[Long]): DataFrame =
    spark.read.schema(versionSchema(id, version))
      .parquet(partVersions.map(dir(id, _)): _*)

  /** Stage an append version holding only `df`, the rows of stream
    * batch `batch`; it also reads every part of `base`. */
  def stageAppend(id: TableId, df: DataFrame, version: Long, batch: Long,
                  base: Option[Long]): Unit =
    stageParts(id, df, version,
      base.fold(Seq.empty[(Long, Long)])(parts(id, _)) :+ (version -> batch))

  /** Stage a compaction of `base`: `df` holds the folded rows of its
    * `window` parts, and the new version reads `df` instead of them. */
  def stageCompaction(id: TableId, df: DataFrame, version: Long, base: Long,
                      window: Seq[Long]): Unit = {
    val (folded, kept) = parts(id, base).partition(p => window.contains(p._1))
    require(folded.nonEmpty, s"${id.qualified}: empty compaction window")
    stageParts(id, df, version, kept :+ (version -> folded.map(_._2).min))
  }

  private def stageParts(id: TableId, df: DataFrame, version: Long,
                         ps: Seq[(Long, Long)]): Unit = {
    stage(id, df, version)
    Files.writeString(partsPath(id, version),
      ps.map { case (v, b) => s"$v=$b" }.mkString("", "\n", "\n"))
  }

  /** The last stream batch published into `id` by [[commitBatch]]. */
  def origin(id: TableId): Option[Long] = entries().get(originKey(id))

  private def originKey(id: TableId) = s"${id.qualified}@origin"

  /** Publish `version` of `id` and record `batch` as its [[origin]] in
    * ONE manifest write, so a replay of `batch` finds it applied. Both
    * entries are monotonic, as in [[commit]]. */
  def commitBatch(id: TableId, version: Long, batch: Long): Unit =
    updateManifest { cur =>
      def up(k: String, v: Long) = k -> math.max(v, cur.getOrElse(k, Long.MinValue))
      cur + up(id.qualified, version) + up(originKey(id), batch)
    }

  /** Publish a set of staged versions: [[commitWithDrops]] with
    * nothing else. */
  def commit(updates: Map[TableId, Long]): Unit = commitWithDrops(updates, Set.empty)

  /** Atomically publish a set of staged versions: the cross-table
    * commit barrier. In ONE manifest write it publishes `updates`,
    * retires `drops` (dropped tables and renamed-away old names — the
    * rename barrier: readers never see both or neither; their dirs stay
    * for [[vacuum]]), sets each database's handoff LSN to
    * `handoffs` and its spool position to `consumed` ([[progress]])
    * and, given a `registry`, publishes it ([[registryPath]]). Tables
    * not in `updates` keep their version.
    *
    * MONOTONIC: a commit never lowers a table's published version, a
    * handoff LSN or a spool position — a lower incoming value is always
    * a crash-replay re-running an already-published effect, and
    * regressing would point readers at stale or empty data, or replay
    * applied changes again.
    */
  def commitWithDrops(updates: Map[TableId, Long], drops: Set[TableId],
                      handoffs: Map[String, Long] = Map.empty,
                      consumed: Map[String, (Long, Long)] = Map.empty,
                      registry: Option[SchemaRegistry] = None): Unit = {
    handoffs.foreach { case (db, l) => require(l >= 0L, s"$db: handoff LSN $l is negative") }
    updateManifest { cur =>
      val kept = cur -- drops.map(_.qualified)
      def up(k: String, v: Long) = k -> math.max(v, kept.getOrElse(k, Long.MinValue))
      // a spool position moves as one (timestamp, LSN) pair
      val positions = consumed.toSeq.flatMap { case (db, (ts, lsn)) =>
        val (tk, lk) = (db + TableStore.SpoolTsSuffix, db + TableStore.SpoolLsnSuffix)
        val at = (kept.getOrElse(tk, Long.MinValue), kept.getOrElse(lk, Long.MinValue))
        if (Ordering[(Long, Long)].gt((ts, lsn), at)) Seq(tk -> ts, lk -> lsn) else Nil
      }
      // the registry file is staged under the lock: its version is one
      // above the committed one, and it is visible only once this
      // write names it
      val reg = registry.map { r =>
        val v = cur.get(TableStore.RegistryKey).fold(0L)(_ + 1)
        r.save(registryFile(v))
        TableStore.RegistryKey -> v
      }
      kept ++ updates.map { case (id, v) => up(id.qualified, v) } ++
        handoffs.map { case (db, l) => up(db + TableStore.LsnSuffix, l) } ++ positions ++ reg
    }
  }

  /** Delete version directories below the committed one, keeping the
    * committed version, `keepHistory` older ones for in-flight
    * readers, and every dir a kept version's `_bucketmap` or `_parts`
    * names; registry files below the committed registry version go by
    * the same rule. The spool-retirement analog for table versions —
    * without it every batch's full rewrite accumulates forever.
    * Returns the number of directories and registry files removed.
    */
  def vacuum(keepHistory: Int = 1, reclaimDropped: Boolean = false): Int = {
    val all = entries()
    val m = all.filterNot(_._1.contains('@'))
    var removed = 0
    all.get(TableStore.RegistryKey).foreach { committed =>
      (0L until committed - keepHistory).foreach { v =>
        if (Files.deleteIfExists(registryFile(v))) removed += 1
      }
    }
    val tableDirs = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.toList.filter(Files.isDirectory(_))
      finally s.close()
    }
    tableDirs.foreach { tableDir =>
      val qualified = tableDir.getFileName.toString
      m.get(qualified) match {
        case Some(committed) =>
          val versions = {
            val s = Files.list(tableDir)
            try s.iterator().asScala.toList finally s.close()
          }.map(_.getFileName.toString).filter(_.startsWith("v="))
            .map(_.stripPrefix("v=").toLong)
          // versions above `committed` may be a batch in flight — only
          // superseded history is reclaimable, and an old dir a kept
          // version still reads is live data
          val floor = committed - keepHistory
          def refs(v: Long, sidecar: String, field: Int): Seq[Long] = {
            val f = tableDir.resolve(s"v=$v").resolve(sidecar)
            if (!Files.exists(f)) Nil
            else Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty)
              .map(_.split("=", 2)(field).toLong)
          }
          val referenced = versions.filter(_ >= floor)
            .flatMap(v => refs(v, "_bucketmap", 1) ++ refs(v, "_parts", 0))
            .toSet
          versions.filter(v => v < floor && !referenced.contains(v))
            .foreach { v =>
              deleteRecursively(tableDir.resolve(s"v=$v"))
              removed += 1
            }
        case None =>
          // no manifest entry: either a dropped table (a commit's
          // `drops` leave its data dirs here) or a table whose FIRST
          // version is being staged right now — indistinguishable
          // from here, so only reclaim when the caller asserts no
          // create/snapshot is in flight (deleting under an active
          // stage writer corrupts the table's initial publish)
          if (reclaimDropped) {
            deleteRecursively(tableDir)
            removed += 1
          }
      }
    }
    removed
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = {
        val s = Files.list(p)
        try s.iterator().asScala.toList finally s.close()
      }
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}

object TableStore {
  /** PK-bucket layout of a table: `n` buckets over `pkCols` (registry
    * order — both sides of an incremental merge must hash the same
    * typed values in the same column order). */
  final case class BucketSpec(n: Int, pkCols: Seq[String])

  /** Reserved tables of the CDC engine, one each for every source
    * database (spool rows carry their `database`): the archive of
    * consumed spool rows and the quarantine of malformed ones, both
    * append tables with the spool schema plus the trigger's
    * `batch_id`. No replicated table may take these names. */
  val ArchiveId: TableId = TableId("graft", "cdc", "archive")
  val QuarantineId: TableId = TableId("graft", "cdc", "quarantine")

  /** Reserved columns of the bucketed layout's files: the row's PK
    * bucket and the version that wrote it. */
  val BucketCol = "__gb"
  val VersionCol = "__gv"

  /** One JVM-global monitor per (normalized) store root: serializes
    * manifest commits across TableStore INSTANCES in this JVM, so the
    * cross-process file lock never sees an overlapping same-JVM
    * attempt. */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[stream] def monitorFor(root: String): Object =
    monitors.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString,
      _ => new Object)

  /** A source database's replay progress, the replication origin's
    * analog (A6). `handoffLsn`: the snapshot's consistent point — rows
    * below it are in the snapshot image. `consumed`: the spool position
    * `(insert_timestamp µs, lsn_start)` of the last row a committed
    * trigger consumed — rows at or before it are applied. */
  final case class Progress(handoffLsn: Option[Long], consumed: Option[(Long, Long)])

  /** Manifest keys of the progress entries (no table name holds an
    * `@`): a database's handoff LSN is `<db>@lsn`, its spool position
    * `<db>@spool_ts` and `<db>@spool_lsn`, the registry's version
    * `@registry`. */
  private val LsnSuffix = "@lsn"
  private val SpoolTsSuffix = "@spool_ts"
  private val SpoolLsnSuffix = "@spool_lsn"
  private val RegistryKey = "@registry"

  private def readManifest(p: java.nio.file.Path): (Long, Map[String, Long]) =
    if (!Files.exists(p)) (0L, Map.empty)
    else parseManifestContent(Files.readString(p), p.toString)

  private def crc32(body: String): String = {
    val c = new java.util.zip.CRC32
    c.update(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.toHexString(c.getValue)
  }

  private[stream] def renderManifest(seq: Long, m: Map[String, Long]): String = {
    val body =
      m.toSeq.sorted.map { case (t, v) => s"$t=$v" }.mkString("", "\n", "\n")
    s"#graft-manifest seq=$seq entries=${m.size} crc=${crc32(body)}\n" + body
  }

  /** Parse + validate a manifest. The header's entry count and CRC32
    * make a torn write (truncation, half-copied object, interleaved
    * concurrent writers) DETECTABLE: readers refuse it instead of
    * resolving tables through a partial cut. A manifest without the
    * header is refused the same way. */
  private[stream] def parseManifestContent(
      content: String, where: String): (Long, Map[String, Long]) = {
    def torn(why: String): Nothing = throw new IllegalStateException(
      s"torn manifest at $where: $why — refusing to serve a partial " +
        "table cut (was this store written through a non-atomic rename?)")
    val lines = content.split("\n", -1).toSeq
    val header = lines.head
    if (!header.startsWith("#graft-manifest "))
      torn("missing #graft-manifest header")
    val attrs = header.stripPrefix("#graft-manifest ").split(" ")
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
    val seq = attrs.get("seq").flatMap(_.toLongOption)
      .getOrElse(torn("header missing seq"))
    val n = attrs.get("entries").flatMap(_.toIntOption)
      .getOrElse(torn("header missing entries"))
    val crc = attrs.getOrElse("crc", torn("header missing crc"))
    val body = lines.tail.mkString("\n")
    if (crc32(body) != crc) torn(s"CRC mismatch (expected $crc)")
    val m = lines.tail.filter(_.nonEmpty).map { line =>
      line.split("=", 2) match {
        case Array(t, v) if v.nonEmpty && v.forall(_.isDigit) => t -> v.toLong
        case _ => torn(s"unparseable entry line '$line'")
      }
    }.toMap
    if (m.size != n) torn(s"expected $n entries, found ${m.size}")
    (seq, m)
  }
}
