package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** VERSIONED kmeans-IVF layouts with an atomic drift→retrain cutover —
  * the last open end of the continuous-operation story (round 19):
  * [[Clustering.assignmentDrift]] SIGNALS that the frozen centroids
  * have drifted from the data, but an in-place rebuild of the layout
  * directory races live probes (the sidecar and `cid=` dirs are read
  * at probe time), so "the signal fired" had no safe action. This
  * module gives it one:
  *
  * {{{
  * root/
  *   v=0/        immutable writeKmeansIvfLayout dir (cid= lists,
  *   v=1/        sharded manifest, fixed-point centroid sidecar)
  *   CURRENT     one-line pointer "v=<n>" — THE commit point,
  *               swapped by temp-file + ATOMIC_MOVE
  * }}}
  *
  * Invariants:
  *  - a version directory is IMMUTABLE once the pointer names it
  *    (appends go through [[append]], which extends the CURRENT
  *    version's manifest atomically — the r18 append contract);
  *  - [[retrain]] builds the ENTIRE new version beside the live one,
  *    then swaps the pointer: a probe resolves the pointer ONCE and
  *    scans a fully-committed snapshot — it sees the old layout XOR
  *    the new one, never half of either (a crash mid-build leaves the
  *    pointer on the old version and only debris beside it, which the
  *    next build overwrites);
  *  - retirement lags one generation: the swap deletes versions OLDER
  *    than the one it replaces, so an in-flight probe that resolved
  *    just before the swap keeps its files for a full retrain interval
  *    (probes run seconds; retrains run hours) — the same grace
  *    discipline as the engine's snapshot-isolated segment GC.
  *
  * [[driftRetrainTask]] packages the loop for the background workers
  * ([[graft.core.Workers.registerMaintenance]]): measure the drift of
  * a recent batch against the CURRENT layout, and when the mean
  * squared assignment distance crosses the threshold, retrain on the
  * caller's corpus frame and cut over. At 100 TB the retrain is the
  * same one-shot distributed build as the initial index — T bounded
  * scans + k·d-row shuffles — and probes never block on it.
  */
object IvfVersions {

  val CurrentName = "CURRENT"

  private def versionDir(root: String, n: Long): String = s"$root/v=$n"

  /** The committed version number, or None for an uninitialized root. */
  def currentVersion(root: String): Option[Long] = {
    val p = Paths.get(root, CurrentName)
    if (!Files.exists(p)) return None
    val line = Files.readAllLines(p, StandardCharsets.UTF_8)
      .asScala.headOption.getOrElse("")
    Some(line.trim.stripPrefix("v=").toLong)
  }

  /** The live layout directory (probe-able snapshot). */
  def currentDir(root: String): String = {
    val v = currentVersion(root).getOrElse(throw new IllegalStateException(
      s"no CURRENT pointer under $root — call init first"))
    versionDir(root, v)
  }

  private def writePointer(root: String, n: Long): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Files.createTempFile(Paths.get(root), ".CURRENT", ".tmp")
    Files.write(tmp, s"v=$n\n".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(root, CurrentName),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Bootstrap `v=0` (full train + assign on `emb`) and commit the
    * pointer. No-op when a pointer already exists (the restart path).
    * Serialized per root ([[StoreState.withWrite]], like [[retrain]])
    * so two concurrent initializers cannot interleave builds. */
  def init(emb: DataFrame, root: String, stride: Long = 100L,
      iters: Int = 2): Unit = StoreState.withWrite(root) {
    if (currentVersion(root).isEmpty) {
      Clustering.writeKmeansIvfLayout(emb, versionDir(root, 0L),
        stride, iters)
      writePointer(root, 0L)
    }
  }

  /** Retrain on `corpus` (fresh Lloyd centroids — this IS the
    * re-centroiding that [[Clustering.appendKmeansIvfLayout]]
    * deliberately never does) into `v=<current+1>`, cut the pointer
    * over atomically, and retire versions older than the one just
    * replaced. Returns the new version number. Serialized per root
    * (in-process write lock, the [[StoreState]] discipline): two
    * concurrent drift sweeps would otherwise both derive `v=prev+1`
    * and race the same build directory. Probes never take the lock —
    * they read the pointer and immutable version dirs.
    *
    * `cutover` (round 21 — the r20 ADVICE race): publishing the pointer
    * and migrating pointer-DEPENDENT state (a member store whose bucket
    * keys are a function of the centroids —
    * [[Clustering.rekeyStore]]) are one logical cutover, but the
    * default publish and a re-key run in SEPARATE critical sections: a
    * micro-batch acquiring the store's READ lock between them resolves
    * the NEW layout against the still-OLD-keyed store — landed
    * membership silently probe-invisible for that batch. Callers with
    * dependent state pass a `cutover(next, swap)` that wraps
    * `swap()` + the migration in ONE span of the dependent store's
    * WRITE lock (see [[Clustering.rekeyStoreOnCutover]]); batches hold
    * the store's read lock across resolve→assign→append, so they see
    * old-pointer+old-keys XOR new-pointer+re-keyed — never the half
    * state. The callback runs under the ROOT write lock (lock order is
    * always root → store; batches take only the store lock, so no
    * cycle) and MUST invoke `swap` exactly once — verified after it
    * returns. */
  def retrain(corpus: DataFrame, root: String, stride: Long = 100L,
      iters: Int = 2,
      cutover: (Long, () => Unit) => Unit = (_, swap) => swap()): Long =
    StoreState.withWrite(root) {
      val prev = currentVersion(root).getOrElse(
        throw new IllegalStateException(s"retrain before init: $root"))
      val next = prev + 1L
      Clustering.writeKmeansIvfLayout(corpus, versionDir(root, next),
        stride, iters)
      cutover(next, () => writePointer(root, next))
      require(currentVersion(root).contains(next),
        s"cutover callback did not publish v=$next under $root — it " +
          "must invoke the supplied swap exactly once")
      // one-generation grace: keep v=prev for in-flight probes, delete
      // everything older (and any stale build debris below prev)
      listVersions(root).filter(_ < prev)
        .foreach(v => graft.core.PathIO.deleteRecursively(
          Paths.get(versionDir(root, v))))
      next
    }

  /** Append new vectors to the CURRENT version (frozen-sidecar
    * assignment, atomic manifest extension — the r18 append path,
    * now through the pointer).
    *
    * Serialized against [[retrain]] per root (round 20): an unlocked
    * append that resolved the pointer just before a cutover would land
    * its manifest extension in the version being RETIRED — the new
    * version was trained on a corpus snapshot that may predate these
    * vectors, so they would be probe-invisible until the next retrain.
    * Under the root's write lock the append always extends the version
    * that is CURRENT at commit time, and a subsequent retrain's
    * `corpus()` (the source-of-truth table) carries the vectors
    * forward. Probes never take the lock. */
  def append(emb: DataFrame, root: String): Unit =
    StoreState.withWrite(root) {
      Clustering.appendKmeansIvfLayout(emb, currentDir(root))
    }

  /** Probe through the pointer: resolve ONCE, then run the pruned
    * layout probe against that immutable snapshot — old XOR new
    * across a concurrent cutover, never half. */
  def probe(root: String, queries: DataFrame, nprobe: Int = 2,
      k: Int = 5): DataFrame =
    Clustering.ivfTopKKmeansFromLayout(currentDir(root), queries,
      nprobe, k)

  /** Mean squared assignment distance of `batch` against the CURRENT
    * layout's frozen centroids — the scalar form of
    * [[Clustering.assignmentDrift]]'s per-cluster telemetry (exact
    * int64 sums; None for an empty batch). */
  def meanDrift(batch: DataFrame, root: String): Option[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val agg = Clustering.assignmentDrift(batch, currentDir(root))
      .agg(sum(col("n_vecs")).as("n"), sum(col("inertia")).as("i"))
      .collect()(0)
    if (agg.isNullAt(0) || agg.getLong(0) == 0L) None
    else Some((agg.getLong(1), agg.getLong(0))) // (inertia, n)
  }

  /** The drift→retrain loop as a schedulable maintenance task
    * ([[graft.core.Workers.registerMaintenance]]): per sweep, measure
    * `recentBatch()`'s mean squared assignment distance against the
    * live layout and — when `inertia > meanD2Threshold * n` (exact
    * int64 compare, no division) — retrain on `corpus()` and cut
    * over. Both frames come as thunks so each sweep sees the data of
    * ITS moment, not of registration time. `onRetrain` observes the
    * new version (telemetry / tests). */
  def driftRetrainTask(root: String, recentBatch: () => DataFrame,
      corpus: () => DataFrame, meanD2Threshold: Long,
      stride: Long = 100L, iters: Int = 2,
      onRetrain: Long => Unit = _ => (),
      /** Atomic pointer-publish + dependent-state migration — see
        * [[retrain]]. Default: plain publish (no dependent state). */
      cutover: (Long, () => Unit) => Unit = (_, swap) => swap())
      : () => Unit = {
    require(meanD2Threshold >= 0, s"threshold: $meanD2Threshold")
    () => {
      meanDrift(recentBatch(), root).foreach { case (inertia, n) =>
        if (inertia > meanD2Threshold * n)
          onRetrain(retrain(corpus(), root, stride, iters, cutover))
      }
      ()
    }
  }

  private def listVersions(root: String): Seq[Long] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) return Seq.empty
    val s = Files.list(p)
    try s.iterator().asScala.toSeq
      .map(_.getFileName.toString)
      .collect { case v if v.startsWith("v=") => v.stripPrefix("v=").toLong }
    finally s.close()
  }
}
