package graft.stream

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.model.TableId
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned parquet table store with an atomically-published batch
  * manifest — the engine's answer to the reference's cross-table
  * transactional commit (all tables commit together per 30 s batch,
  * `replayer/connemara_replay.pl:846-857`; SURVEY §7.4).
  *
  * Layout: `root/<db>_<schema>.<table>/v=<version>/…parquet`; the
  * manifest `root/_latest` names one committed version for every
  * table, written via temp-file + verify + atomic rename. Readers
  * resolve through the manifest, so they always see one consistent
  * cut even while a new batch is writing. Re-running a batch
  * (streaming restart before checkpoint commit) rewrites the same
  * version dir — idempotent, which is what makes checkpoint-replay
  * exactly-once.
  *
  * == Filesystem requirement (read this before pointing `root` at S3) ==
  * The cross-table atomicity of `_latest` rests on `Files.move(…,
  * ATOMIC_MOVE)` being a true atomic rename — POSIX filesystems and
  * HDFS give that; S3-class object stores do NOT (rename is
  * copy+delete, and a reader can observe a half-copied object). The
  * manifest therefore defends in depth rather than trusting the
  * filesystem blindly:
  *  - every manifest carries a header `#graft-manifest seq=… entries=…
  *    crc=…`; [[manifest()]] verifies entry count and CRC32 and
  *    REFUSES a torn/truncated manifest (`IllegalStateException`)
  *    instead of serving a partial table cut;
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

  /** Canonical location for the persisted [[graft.model.SchemaRegistry]]
    * (saved by the stream engine after DDL batches, loaded on
    * restart). */
  def registryPath: java.nio.file.Path = Paths.get(root, "_registry.json")

  private def dir(id: TableId, version: Long): String =
    s"$root/${id.qualified}/v=$version"

  /** table → committed version. Throws `IllegalStateException` on a
    * torn manifest (bad CRC, truncated or surplus entries) — serving a
    * partial cut would silently break the cross-table barrier. */
  def manifest(): Map[String, Long] = parseManifest()._2

  /** publish sequence of the current manifest (0 = none yet). */
  def manifestSeq(): Long = parseManifest()._1

  private def parseManifest(): (Long, Map[String, Long]) = {
    if (!Files.exists(manifestPath)) return (0L, Map.empty)
    TableStore.parseManifestContent(Files.readString(manifestPath),
      manifestPath.toString)
  }

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

  /** Read one specific staged version (committed or not). A version
    * staged without a schema sidecar (by older code) infers its schema
    * from the parquet footers. */
  def readVersion(id: TableId, version: Long): DataFrame =
    bucketSpec(id) match {
      case Some(spec) if Files.exists(bucketMapPath(id, version)) =>
        readBuckets(id, (0 until spec.n).toSet, version)
      case _ if Files.exists(schemaPath(id, version)) =>
        spark.read.schema(versionSchema(id, version)).parquet(dir(id, version))
      case _ => spark.read.parquet(dir(id, version))
    }

  // ── PK-bucketed layout ────────────────────────────────────────────
  //
  // The incremental-publish answer to the full-rewrite scale killer:
  // a bucketed table hashes rows into `n` PK buckets
  // (`__gb = pmod(hash(pk…), n)`), each version directory holds ONLY
  // the buckets that batch rewrote, and a per-version `_bucketmap`
  // sidecar names, for every bucket, the version dir holding its
  // current file. A 1-key batch reads 1 bucket and writes 1 bucket —
  // O(|changes|) instead of O(|table|) per 30 s batch, the same
  // in-place granularity as the reference's per-row UPDATE replay
  // (`replayer/connemara_replay.pl:220-251`). The cross-table commit
  // barrier is untouched: `_latest` still names one version per
  // table; that version's bucketmap closes over the full table state.

  private def bucketSpecPath(id: TableId) =
    Paths.get(root, id.qualified, "_bucketed")
  private def bucketMapPath(id: TableId, version: Long) =
    Paths.get(dir(id, version), "_bucketmap")
  private def schemaPath(id: TableId, version: Long) =
    Paths.get(dir(id, version), "_schema.json")

  /** Whether `version` was staged with a bucketmap (a bucketed table
    * staged through the plain path — e.g. by older code — is readable
    * but can't base a delta). */
  def isBucketedAt(id: TableId, version: Long): Boolean =
    Files.exists(bucketMapPath(id, version))

  /** Bucket layout of a table, if it was created bucketed. */
  def bucketSpec(id: TableId): Option[TableStore.BucketSpec] =
    if (!Files.exists(bucketSpecPath(id))) None
    else {
      val lines = Files.readAllLines(bucketSpecPath(id)).asScala.toList
      Some(TableStore.BucketSpec(lines.head.toInt, lines.tail.filter(_.nonEmpty)))
    }

  /** bucket → version dir currently holding that bucket's file. */
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
    * scan for an incremental merge. Missing bucket dirs are empty
    * buckets (partitioned writes skip rowless groups); the version's
    * schema sidecar keeps the read well-typed even when every
    * requested bucket is empty. */
  def readBuckets(id: TableId, buckets: Set[Int], version: Long): DataFrame = {
    val bm = bucketMap(id, version)
    val schema = versionSchema(id, version)
    val paths = buckets.toSeq.sorted
      .flatMap(b => bm.get(b).map(v => s"${dir(id, v)}/__gb=$b"))
      .filter(p => Files.exists(Paths.get(p)))
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  /** Stage a bucketed version. `changed = None` writes every bucket (a
    * full rewrite: create, snapshot load, or a schema-evolving DDL
    * batch); `Some(buckets)` writes ONLY those buckets — `df` must
    * hold exactly their post-merge rows — and the new bucketmap points
    * every other bucket at `baseVersion`'s file. Re-running a version
    * (crash replay) overwrites the same dir: idempotent. */
  def stageBucketed(id: TableId, df: DataFrame, version: Long,
                    spec: TableStore.BucketSpec,
                    changed: Option[Set[Int]] = None,
                    baseVersion: Option[Long] = None): Unit = {
    require(changed.isEmpty || baseVersion.nonEmpty,
      "delta staging needs the base version its bucketmap extends")
    val withBucket = df.withColumn("__gb",
      pmod(hash(spec.pkCols.map(df(_)): _*), lit(spec.n)))
    // one task per written bucket → one file per bucket dir
    withBucket
      .repartition(math.max(1, changed.map(_.size).getOrElse(spec.n)), col("__gb"))
      .write.mode("overwrite").partitionBy("__gb").parquet(dir(id, version))
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

  /** Atomically publish a set of staged versions: the cross-table
    * commit barrier. Tables not in `updates` keep their version.
    *
    * MONOTONIC: a commit can never lower a table's published version.
    * Versions only ever advance batch-by-batch, so a lower incoming
    * version is always a crash-replay re-running an already-published
    * effect (e.g. CREATE TABLE committing v=0 after a died-mid-batch
    * attempt already published v=N+1) — regressing would point readers
    * at stale or empty data.
    */
  def commit(updates: Map[TableId, Long]): Unit =
    updateManifest(cur => cur ++ updates.map { case (id, v) =>
      id.qualified -> math.max(v, cur.getOrElse(id.qualified, Long.MinValue))
    })

  /** Remove a table from the committed manifest (DROP TABLE). Data
    * dirs are left for vacuum — readers can no longer resolve them.
    */
  def drop(id: TableId): Unit =
    updateManifest(_ - id.qualified)

  /** Rename a table (ALTER TABLE … RENAME TO): move its directory and
    * its manifest entry in one step; the version is preserved. No-op
    * when the old table was never committed. A leftover directory of
    * a previously DROPped table under the new name (drop defers dir
    * deletion to vacuum) is reclaimed first; renaming ONTO a live
    * table is refused. */
  def rename(oldId: TableId, newId: TableId): Unit = {
    val m = manifest()
    require(!m.contains(newId.qualified),
      s"cannot rename ${oldId.qualified} onto live table ${newId.qualified}")
    m.get(oldId.qualified).foreach { v =>
      val from = Paths.get(root, oldId.qualified)
      val to = Paths.get(root, newId.qualified)
      if (Files.exists(to)) deleteRecursively(to) // dropped-table leftover
      if (Files.exists(from)) Files.move(from, to,
        StandardCopyOption.ATOMIC_MOVE)
      updateManifest(cur => cur - oldId.qualified + (newId.qualified -> v))
    }
  }

  /** Atomic commit with removals — the rename barrier: publish the
    * batch's staged versions AND retire re-keyed old names in ONE
    * manifest write, so readers never see both or neither. */
  def commitWithDrops(updates: Map[TableId, Long], drops: Set[TableId]): Unit =
    updateManifest { cur =>
      val kept = cur -- drops.map(_.qualified)
      kept ++ updates.map { case (id, v) =>
        id.qualified -> math.max(v, kept.getOrElse(id.qualified, Long.MinValue))
      }
    }

  /** Delete version directories below the committed one (keeping the
    * committed version plus `keepHistory` older ones for in-flight
    * readers). The spool-retirement analog for table versions —
    * without it every batch's full rewrite accumulates forever.
    * Returns the number of directories removed.
    */
  def vacuum(keepHistory: Int = 1, reclaimDropped: Boolean = false): Int = {
    val m = manifest()
    var removed = 0
    val tableDirs = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.toList.filter(Files.isDirectory(_))
      finally s.close()
    }
    tableDirs.foreach { tableDir =>
      val qualified = tableDir.getFileName.toString
      m.get(qualified) match {
        case Some(committed) =>
          // a bucketed table's committed bucketmap may point into old
          // version dirs — those are live data, never reclaimable
          val committedMap = tableDir.resolve(s"v=$committed").resolve("_bucketmap")
          val referenced: Set[Long] =
            if (!Files.exists(committedMap)) Set.empty
            else Files.readAllLines(committedMap).asScala
              .filter(_.nonEmpty).map(_.split("=", 2)(1).toLong).toSet
          val children = {
            val s = Files.list(tableDir)
            try s.iterator().asScala.toList finally s.close()
          }
          children.foreach { p =>
            val name = p.getFileName.toString
            if (name.startsWith("v=")) {
              val v = name.stripPrefix("v=").toLong
              // versions above `committed` may be a batch in flight —
              // only reclaim superseded history
              if (v < committed - keepHistory && !referenced.contains(v)) {
                deleteRecursively(p)
                removed += 1
              }
            }
          }
        case None =>
          // no manifest entry: either a DROPped table (drop() defers
          // its data dirs to vacuum) or a table whose FIRST version is
          // being staged right now — indistinguishable from here, so
          // only reclaim when the caller asserts no create/snapshot is
          // in flight (deleting under an active stage writer corrupts
          // the table's initial publish)
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
    * resolving tables through a partial cut. Headerless content is
    * accepted as a legacy manifest (seq 0, no integrity check) so
    * stores written by older code stay readable. */
  private[stream] def parseManifestContent(
      content: String, where: String): (Long, Map[String, Long]) = {
    def torn(why: String): Nothing = throw new IllegalStateException(
      s"torn manifest at $where: $why — refusing to serve a partial " +
        "table cut (was this store written through a non-atomic rename?)")
    val lines = content.split("\n", -1).toSeq
    def entriesOf(ls: Seq[String]): Map[String, Long] =
      ls.filter(_.nonEmpty).map { line =>
        line.split("=", 2) match {
          case Array(t, v) if v.nonEmpty && v.forall(_.isDigit) => t -> v.toLong
          case _ => torn(s"unparseable entry line '$line'")
        }
      }.toMap
    lines.headOption match {
      case Some(h) if h.startsWith("#graft-manifest ") =>
        val attrs = h.stripPrefix("#graft-manifest ").split(" ")
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
        val m = entriesOf(lines.tail)
        if (m.size != n) torn(s"expected $n entries, found ${m.size}")
        (seq, m)
      case _ => (0L, entriesOf(lines)) // legacy headerless manifest
    }
  }
}
