package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.model.{ColumnFamilyDefinition, GcSettings}

/** Locality group: a set of column families stored in a dedicated partition
  * for scan locality. Reference: `smoltable/src/table/mod.rs:34-51`.
  */
final case class LocalityGroup(id: String, families: Seq[String])

/** One committed Parquet segment: table-dir-relative path + byte size +
  * row (cell) count. The size rides in the manifest so reads can build
  * their file index without a single filesystem stat
  * ([[org.apache.spark.sql.graft.ManifestFileIndex]]); the row count —
  * known for free at commit time from the file's own footer — makes
  * `approximateCount` a pure manifest sum (zero Spark jobs, zero file
  * reads), the analog of the reference's O(1) `approximate_len`
  * (`smoltable/src/table/mod.rs:299-320`). `-1` marks an entry from an
  * older manifest version that predates the field (size: stat once on
  * use; rows: fall back to a footer-bounded count job). */
final case class DataFile(path: String, size: Long, rows: Long = -1L) {
  def sizeOrStat(tableDir: Path): Long =
    if (size >= 0) size else Files.size(tableDir.resolve(path))
}

/** Per-table manifest: column families (with GC options) and locality
  * groups, mirroring the `cf#{name}` / `lg#{id}` manifest keys of
  * `smoltable/src/table/mod.rs:183-243`. Persisted as a small line-based
  * file with atomic replace; `nextSeq` is the write-batch sequence for
  * last-write-wins ordering.
  */
final case class TableManifest(
    families: Seq[ColumnFamilyDefinition],
    localityGroups: Seq[LocalityGroup],
    nextSeq: Long,
    /** Write batches appended since the last full rewrite (delete/GC/
      * compaction). With at most one batch on disk there can be no
      * cross-batch overwrites, so reads skip the last-write-wins window —
      * the bulk-load-then-scan fast path. Absent in older manifests →
      * assumed "many" (safe). */
    batchesSinceRewrite: Long = Long.MaxValue,
    /** Hash-bucket count for the bucketed-by-row_key layout (0 = plain).
      * Declared before data lands; point gets prune to one `bucket=` dir.
      */
    buckets: Int = 0,
    /** The committed Parquet segment set, as paths relative to the table
      * dir (`data/lg=.../part-*.parquet`). Reads pin THIS list instead of
      * listing the data directory, so a scan never races a rewrite swap —
      * the analog of the reference's `keyspace.instant()` snapshot
      * (`smoltable/src/table/mod.rs:653`), and the same
      * manifest-lists-files design as the Delta/Iceberg table formats.
      * Files on disk but not listed are either crash debris (removed on
      * open) or retired segments still pinned by in-flight readers
      * (removed when the last such reader finishes). */
    dataFiles: Seq[DataFile] = Nil,
    /** True iff this manifest was WRITTEN by a snapshot-era version (it
      * carried a `files` count line — always emitted, even for an empty
      * set). Distinguishes "committed file set is legitimately empty"
      * (e.g. a delete/GC removed every cell and pinned retired segments
      * are still on disk) from a legacy pre-snapshot manifest, which has
      * no file list at all: only the latter may adopt the directory
      * listing as its committed set on open. Without the marker the two
      * serialize byte-identically and a crash between an empty-set commit
      * and the retired-segment drain would resurrect deleted data. */
    hasFileList: Boolean = false,
    /** Highest streaming-ingest batch id committed ([[Smoltable
      * .writeBulkOnce]]); -1 = none. Recorded in the SAME manifest commit
      * as the batch's file list, so foreachBatch's at-least-once
      * redelivery (crash between sink write and checkpoint advance)
      * skips instead of double-appending — the exactly-once handshake
      * every idempotent streaming sink implements. */
    lastIngestBatch: Long = -1L
) {
  /** Families not owned by any explicit locality group live in the default
    * group. Reference: `column_families_in_default_locality_group`,
    * `smoltable/src/table/mod.rs:803-822`. */
  def defaultGroupFamilies: Seq[String] = {
    val grouped = localityGroups.flatMap(_.families).toSet
    families.map(_.name).filterNot(grouped)
  }

  /** Partition id ("lg" dir value) for a family. */
  def groupOf(family: String): String =
    localityGroups.find(_.families.contains(family))
      .map(_.id).getOrElse(TableManifest.DefaultGroup)

  def gcSettings: Map[String, GcSettings] =
    families.map(f => f.name -> f.gc).toMap

  def serialize: String = {
    val fb = families.map { f =>
      s"family\t${f.name}\t${f.gc.versionLimit.getOrElse(-1)}\t${f.gc.ttlSecs.getOrElse(-1L)}"
    }
    val lb = localityGroups.map { g =>
      s"lg\t${g.id}\t${g.families.mkString(",")}"
    }
    val files = s"files\t${dataFiles.size}" +:
      dataFiles.map(f => s"file\t${f.path}\t${f.size}\t${f.rows}")
    (fb ++ lb ++ Seq(s"seq\t$nextSeq",
      s"batches\t$batchesSinceRewrite") ++
      (if (buckets > 0) Seq(s"buckets\t$buckets") else Nil) ++
      (if (lastIngestBatch >= 0) Seq(s"ingest\t$lastIngestBatch")
       else Nil) ++
      files).mkString("\n")
  }
}

object TableManifest {
  val DefaultGroup = "_default"

  val empty: TableManifest = TableManifest(Nil, Nil, 0L, 0L)

  def deserialize(text: String): TableManifest = {
    var fams = Vector.empty[ColumnFamilyDefinition]
    var lgs = Vector.empty[LocalityGroup]
    var seq = 0L
    var batches = Long.MaxValue
    var buckets = 0
    var files = Vector.empty[DataFile]
    var hasList = false
    var ingest = -1L
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      line.split("\t", -1).toList match {
        case "family" :: name :: vl :: ttl :: Nil =>
          fams :+= ColumnFamilyDefinition(name, GcSettings(
            versionLimit = Some(vl.toInt).filter(_ >= 0),
            ttlSecs = Some(ttl.toLong).filter(_ >= 0)))
        case "lg" :: id :: fs :: Nil =>
          lgs :+= LocalityGroup(id, fs.split(",").filter(_.nonEmpty).toSeq)
        case "seq" :: n :: Nil => seq = n.toLong
        case "batches" :: n :: Nil => batches = n.toLong
        case "buckets" :: n :: Nil => buckets = n.toInt
        case "ingest" :: n :: Nil => ingest = n.toLong
        case "files" :: _ :: Nil => hasList = true
        case "file" :: p :: s :: r :: Nil =>
          files :+= DataFile(p, s.toLong, r.toLong)
        // pre-rowcount manifest version: no footer count recorded
        case "file" :: p :: s :: Nil => files :+= DataFile(p, s.toLong)
        // pre-size manifest version: path only, stat lazily on use
        case "file" :: p :: Nil => files :+= DataFile(p, -1L)
        case other => throw new IllegalStateException(s"bad manifest line: $line")
      }
    }
    TableManifest(fams, lgs, seq, batches, buckets, files,
      hasList || files.nonEmpty, ingest)
  }

  def load(path: Path): TableManifest =
    if (Files.exists(path))
      deserialize(new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
    else empty

  /** Atomic write via temp file + move. */
  def store(path: Path, m: TableManifest): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, m.serialize.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Directory-stream helpers that CLOSE the underlying stream — a bare
  * `Files.walk(...).iterator()` leaks a directory file descriptor until GC
  * finalization, which matters for the per-minute worker sweeps and
  * per-request `listTables` calls of a long-lived server.
  */
private[graft] object PathIO {
  def withStream[A, T](s: java.util.stream.Stream[A])(
      f: Iterator[A] => T): T =
    try f(s.iterator().asScala) finally s.close()

  def nonEmptyDir(p: Path): Boolean =
    Files.exists(p) && withStream(Files.list(p))(_.hasNext)

  /** `Files.walk` throws `UncheckedIOException(NoSuchFileException)`
    * when an entry vanishes between the directory listing and its
    * attribute read. Under snapshot isolation that is an EXPECTED race:
    * the ReadGuard's reader-drain cleanup deletes RETIRED segments
    * without the mutation lock, so a mutation-side walk (append diff,
    * recovery sweep, disk accounting) can see a retired file vanish
    * mid-walk. A vanished entry is by construction never a live file
    * (live files are only replaced by rewrites, which serialize with
    * every walker on the mutation lock), so the walk simply RETRIES —
    * the next pass sees a consistent listing. Bounded: each retry needs
    * another batch mid-delete, and the retired backlog is finite. */
  private def retryOnVanish[T](body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.io.UncheckedIOException
            if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException]
              && attempt < 8 =>
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  def walkCount(p: Path)(pred: Path => Boolean): Int = retryOnVanish {
    if (!Files.exists(p)) 0
    else withStream(Files.walk(p))(_.count(pred))
  }

  def walkFiles(p: Path)(pred: Path => Boolean): Seq[Path] = retryOnVanish {
    if (!Files.exists(p)) Nil
    else withStream(Files.walk(p))(
      _.filter(f => Files.isRegularFile(f) && pred(f)).toSeq)
  }

  def listDirNames(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else withStream(Files.list(p))(
      _.filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq)

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      withStream(Files.walk(p))(_.toSeq).reverse
        .foreach(Files.deleteIfExists(_))

  def sizeSum(p: Path): Long = retryOnVanish {
    if (!Files.exists(p)) 0L
    else withStream(Files.walk(p))(
      // stat inside the SAME retry scope: the file can vanish between
      // the walk's attribute read and this size() too
      _.filter(Files.isRegularFile(_)).map(f =>
        try Files.size(f)
        catch { case _: java.nio.file.NoSuchFileException => 0L }).sum)
  }
}

/** Server-level catalog of tables (the `app_state.rs:21-48` registry):
  * one directory per table under `baseDir/tables/`.
  */
object Catalog {
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(baseDir: String): Object =
    locks.computeIfAbsent(baseDir, _ => new Object)
}

final class Catalog(val baseDir: String) {
  private def tablesDir: Path = Paths.get(baseDir, "tables")

  def tablePath(name: String): Path = tablesDir.resolve(name)

  def listTables(): Seq[String] =
    PathIO.listDirNames(tablesDir).sorted

  /** O(1) existence check (one stat) — the per-request guard path; a
    * full [[listTables]] listing per API call would scale with table
    * count. Robust against filesystem artifacts: "." / ".." / nested
    * paths resolve OUTSIDE (or at) the tables dir and report absent —
    * only a direct child directory is a table. */
  def tableExists(name: String): Boolean = {
    val base = tablesDir.toAbsolutePath.normalize
    val p = base.resolve(name).normalize
    p.getParent == base && Files.isDirectory(p)
  }

  /** Per-catalog DDL lock: serializes table create/delete with the
    * metrics sweep's existence-checked flush
    * ([[MetricsTable.flushAll]]) — the analog of the reference
    * registry's write lock (`app_state.rs:34`). Process-wide per
    * baseDir, like [[Smoltable]]'s per-table locks. */
  def ddlLock: Object = Catalog.lockFor(baseDir)

  def dropTable(name: String): Unit =
    PathIO.deleteRecursively(tablePath(name))

  /** Disk usage in bytes, mirroring `disk_space_usage`
    * (`smoltable/src/table/mod.rs:906-922`). */
  def diskSpaceUsage(name: String): Long =
    PathIO.sizeSum(tablePath(name))
}
