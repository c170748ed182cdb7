package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

import graft.core.PathIO

/** The LANDED dedup state of the incremental operators as a PRUNABLE
  * on-disk table instead of a parquet pile that every batch re-scans
  * and re-distincts. One class, two [[BatchStore.Layout]]s:
  *
  *  - [[BatchStore.Bands]] — membership strings: LSH bands for
  *    [[Dedup.incrementalMinhash]] and its streaming twin, content md5s
  *    for [[Dedup.incrementalExactWithStore]];
  *  - [[BatchStore.Vectors]] — keyed vector payloads `(ck, vec_id, fx)`
  *    for [[Clustering.incrementalSemanticWithStore]] and the image
  *    twin: semantic dedup cannot answer "near-dup of the landed
  *    corpus?" from key equality alone, it needs the landed vectors in
  *    the touched buckets to compute the distances.
  *
  * Why it exists (the r16 scale gap): the incremental filter asks one
  * membership question per batch — "which of THIS BATCH's keys has the
  * corpus already landed?" — and answering it by reading the full
  * landed table and re-`distinct`-ing it is O(corpus-ever-seen) work
  * per micro-batch. At 100 B docs that is a TB-class scan per
  * micro-batch and the pipeline falls behind. The ANSWER is batch-sized;
  * only the layout made it corpus-sized.
  *
  * Layout: rows hash-partitioned on the layout's key into `nBuckets`
  * fixed `bp=` directories and SORTED by the key within every file,
  * appended as atomic `batch=<tag>` sub-dirs:
  *
  * {{{ dir/batch=<tag>/bp=<0..nBuckets-1>/part-*.parquet  (key, payload...) }}}
  *
  * Three pruning levers stack on that layout, so per-batch lookup cost
  * tracks the BATCH, not the landed corpus ([[prunedLookup]]): `bp`
  * partition filters (directory pruning), a pushed `In(key, ...)`
  * parquet filter that the key-sorted files turn into row-group skips,
  * and a landed side that never enters an exchange below the
  * corpus-class tier.
  *
  * Appends are batch-tagged atomic directory moves: write to a hidden
  * temp dir, `ATOMIC_MOVE` into `batch=<tag>`, and a retry of an
  * already-landed tag is detected by the target's existence and
  * SKIPPED — which is what makes the streaming twins' `foreachBatch`
  * state maintenance idempotent under at-least-once replay.
  *
  * Single-writer contract (same as the reference's single active
  * writer per table, `smoltable/src/table/writer/mod.rs`): one
  * pipeline maintains a store; concurrent appends of the SAME tag are
  * resolved by the atomic move (one wins), concurrent different-tag
  * appends compose because rows are add-only and every consumer of a
  * lookup tolerates duplicate landed rows.
  *
  * Compaction: many small per-batch appends accumulate one file per
  * touched bucket per batch; [[compact]] rewrites the store as ONE
  * sorted file per bucket (a maintenance pass — same cadence class as
  * the engine's segment compaction), restoring tight row-group stats.
  */
final class BatchStore private (
    private val spark: SparkSession,
    val dir: String,
    val layout: BatchStore.Layout,
    val nBuckets: Int,
    val pushdownLimit: Int,
    val broadcastLimit: Int) {

  import BatchStore._

  private val key: String = layout.key

  /** The bucket of a key — pure function of the key string, shared by
    * writers and the lookup pruner. */
  def bucketOf(k: Column): Column =
    pmod(xxhash64(k), lit(nBuckets.toLong))

  private def storePath: Path = Paths.get(dir)

  /** True when at least one committed batch directory exists. */
  def nonEmpty: Boolean = listBatchDirs().nonEmpty

  /** True when `batch=<tag>` is already landed — the replay check. */
  def hasBatch(tag: String): Boolean =
    Files.exists(storePath.resolve(s"batch=$tag"))

  /** The full landed table — audit / compaction surface, not the
    * per-batch path (the layout's columns plus the `batch`/`bp`
    * partition cols). Schema is explicit, not inferred: a
    * legitimately-empty append leaves a data-less `batch=` dir that
    * would wedge inference. */
  def read(): DataFrame = readOn(lookupSession)

  /** [[read]] against an explicit session — lookups read on a session
    * CLONE carrying the raised In-pushdown threshold, so the shared
    * session's conf is never mutated (round 18; the r17 version raised
    * `spark.sql.parquet.pushdown.inFilterThreshold` session-wide as a
    * hidden side effect of a membership read).
    *
    * Concurrency (round 19): an IN-process maintenance pass is
    * serialized against the materialized lookup by the store's
    * read/write lock ([[StoreState]] — [[landedAmong]] holds the read
    * lock across plan+scan, [[compact]]/[[expireBatches]] hold the
    * write lock), so a lookup can never lose deleted dirs' rows
    * mid-scan. `ignoreMissingFiles` (per-read option, not session
    * conf) is only best-effort tolerance for OUT-of-process deletes,
    * which the single-writer contract puts out of scope — it
    * suppresses the read error, it does not preserve the missed
    * membership, which is why the lock exists. */
  private def readOn(s: SparkSession,
      excludeBatch: Option[String] = None): DataFrame =
    s.read
      .option("basePath", dir)
      .option("ignoreMissingFiles", "true")
      .schema(StructType(layout.schema.fields ++ Seq(
        StructField("batch", StringType),
        StructField("bp", LongType))))
      .parquet(listBatchDirs(excludeBatch).map(_.toString): _*)

  /** Session clone for lookups: identical state, but with the parquet
    * In-pushdown threshold raised to the SAFE cap — capped at
    * [[BatchStore.SafeInPushdownCap]] regardless of `pushdownLimit`
    * (the threshold governs a recursively-evaluated parquet OR-chain;
    * ~1k is a measured stack-safety bound, ~100k overflows task
    * stacks), and never lowered below the parent's setting. Confined to
    * frames built from it: the cloned conf travels with the relation,
    * so the raise applies exactly to store reads and to nothing else on
    * the shared session. */
  private[operators] lazy val lookupSession: SparkSession = {
    val (c, isolated) =
      org.apache.spark.sql.graft.SessionClone.cloneOrSelf(spark)
    if (isolated) {
      val key = "spark.sql.parquet.pushdown.inFilterThreshold"
      val cur = c.conf.getOption(key).map(_.toInt).getOrElse(10)
      val want = math.min(pushdownLimit, SafeInPushdownCap)
      if (cur < want) c.conf.set(key, want.toString)
      raiseListingThreshold(c)
    } // non-classic session: no clone available — skip the raise
    // (lookups stay correct; the pushed In degrades to a range filter)
    c
  }

  private def listBatchDirs(
      excludeBatch: Option[String] = None): Seq[Path] = {
    val p = storePath
    if (!Files.isDirectory(p)) return Seq.empty
    val s = Files.list(p)
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("batch="))
      .filterNot(d => excludeBatch.exists(t =>
        d.getFileName.toString == s"batch=$t"))
    finally s.close()
  }

  /** Committed batch directory names (the `<tag>` part), oldest first
    * by COMMIT ORDER: the `_commitlog` sequence ([[StoreState]],
    * round 19 — mtime-independent, so a backup restore or `cp -r`
    * cannot scramble what "oldest" means to retention), with unlogged
    * dirs (crash between move and log write, or a pre-log store)
    * ordered after every logged one by (mtime, name). */
  def batchTags(): Seq[String] = {
    val seqs = StoreState.loggedSeq(dir)
    listBatchDirs().map(p => StoreState.orderKey(seqs, p))
      .sortBy(identity).map(_._3)
  }

  /** The landed rows whose key is among `batchKeys`' keys, as a LAZY
    * frame of the layout's columns — exposed separately from
    * [[landedAmong]] so plan tests can assert the pruning shape. No
    * `distinct`: a key landed by two batches returns both rows, which
    * every caller tolerates (anti-joins, or joins followed by a
    * distinct) and the semantic bucket cap must keep counting. Three
    * tiers by the batch's distinct key count:
    *
    *  1. ≤ [[pushdownLimit]]: `bp` partition filters + a pushed
    *     `In(key, ...)` parquet predicate — row-group min/max +
    *     dictionary pruning on the key-sorted files. The limit is a
    *     STACK bound, not a memory bound: Spark expands a pushed `In`
    *     into a recursively-evaluated parquet OR-chain, and ~100 k
    *     values overflows the task stack (measured);
    *  2. ≤ [[broadcastLimit]]: `bp` partition filters + a BROADCAST
    *     left-semi join (build side = the batch's keys) — no row-group
    *     skip, but the landed side still streams through zero
    *     exchanges and reads only the touched buckets;
    *  3. above: a shuffled semi-join — a batch that big IS
    *     corpus-class work and the sort-merge plan is the honest one.
    *
    * `excludeBatch` (round 19) drops the named `batch=<tag>` dir from
    * the scan, so the lookup sees the store AS IF that batch were not
    * landed. This is the replay-correctness primitive for COMPOSED
    * streaming pipelines: when stage N's store append committed but
    * stage N+1's didn't, a replay must recompute every stage against
    * the PRE-BATCH state — excluding the batch's own tag restores
    * exactly that state. (After maintenance folds the tag away the
    * exclusion is a no-op — by then every downstream commit of the
    * batch exists, so the recompute's outputs are all skipped by
    * existence gates.) */
  def prunedLookup(batchKeys: DataFrame,
      excludeBatch: Option[String] = None): DataFrame = {
    if (listBatchDirs(excludeBatch).isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        layout.schema)
    val k = batchKeys.select(col(key)).distinct()
      .withColumn("bp", bucketOf(col(key)))
    // ONE action decides the tier AND fetches tier-1's values (r21;
    // was a count + a separate collect — two jobs per lookup on the
    // hot path): collect up to limit+1 rows; fewer than that means the
    // exact tier-1 row set is already in hand, more means tier 2/3,
    // where only the bucket set is needed (bounded by nBuckets)
    val probe = k.limit(pushdownLimit + 1).collect()
    val hits =
      if (probe.length <= pushdownLimit)
        // on the session CLONE whose In-pushdown threshold is raised, so
        // the key IN (...) predicate reaches parquet-mr as a real In
        // filter instead of degrading to a min/max range that random
        // hashes render useless
        readOn(lookupSession, excludeBatch)
          .filter(col("bp").isin(probe.map(_.getLong(1)).distinct.toSeq: _*))
          .filter(col(key).isInCollection(probe.map(_.getString(0)).toSeq))
      else if (k.count() <= broadcastLimit) {
        val bps = k.select(col("bp")).distinct()
          .collect().map(_.getLong(0)).toSeq // bounded by nBuckets
        readOn(lookupSession, excludeBatch)
          .filter(col("bp").isin(bps: _*))
          .join(broadcast(k.select(col(key))), Seq(key), "left_semi")
      } else
        readOn(lookupSession, excludeBatch)
          .join(k.select(col(key)), Seq(key), "left_semi")
    hits.select(layout.columns: _*)
  }

  /** [[prunedLookup]] MATERIALIZED (eager `localCheckpoint`): callers
    * append the batch's own rows right after the lookup, and a lazy
    * lookup re-run after the append would see them as landed and drop
    * every batch doc. Bounded by the touched keys' landed rows.
    *
    * Holds the store's READ lock across plan + scan ([[StoreState]]):
    * a concurrent maintenance pass cannot delete the planned batch
    * dirs mid-scan, so landed membership is never silently missed.
    * ([[prunedLookup]] stays lazy and unlocked — it is the plan-shape
    * audit surface; this is the concurrency-safe lookup.) */
  def landedAmong(batchKeys: DataFrame,
      excludeBatch: Option[String] = None): DataFrame =
    StoreState.withRead(dir) {
      prunedLookup(batchKeys, excludeBatch).localCheckpoint(true)
    }

  /** Land `rows` (deduplicated on the layout's unique columns,
    * bucketed, key-sorted) as the atomic batch directory `batch=<tag>`.
    * Returns false — and writes NOTHING — when the tag is already
    * landed (the idempotent-replay path). Band callers pass keys NOT
    * already known (anti-join against [[landedAmong]]'s result) to keep
    * the store distinct; the semantic callers land the batch's ALL-SEEN
    * member set (semantic distance is not transitive, so a
    * survivors-only store re-admits chained near-duplicates — the
    * [[Dedup.incrementalMinhash]] argument).
    *
    * Holds the store's READ lock (round 20): concurrent appends stay
    * allowed (distinct tags never conflict; same-tag replays resolve by
    * exists-check + ATOMIC_MOVE), but an append can never interleave
    * with a whole-store rewrite's list-commit-delete span — the window
    * where a landing dir was deleted while its rows were absent from
    * the replacement set (silent membership loss). */
  def append(rows: DataFrame, tag: String): Boolean =
    StoreState.withRead(dir) {
      require(tag.nonEmpty && !tag.contains('/') && !tag.contains('='),
        s"bad batch tag: $tag")
      !hasBatch(tag) && land(rows, tag)
    }

  /** Stage `rows` in the store layout, `ATOMIC_MOVE` the staged dir to
    * `batch=<tag>` and log the commit. False when the target appeared
    * first (a racing same-tag append won the move).
    *
    * Write parallelism = bucket count (r21): an explicit partition
    * count pins the shuffle against AQE coalescing, which at small
    * batch sizes folded the write into ONE task that opened all
    * nBuckets parquet writers sequentially (~1 s per append of pure
    * writer overhead); the local sort leads with bp so the
    * dynamic-partition writer's required ordering is already satisfied
    * — no inserted (non-stable) sort that could scramble the documented
    * within-file key order.
    *
    * Dedup AFTER the bucket shuffle (r22, §2.4): bp = f(key) and the
    * key is part of every unique set, so bp-partitioned data co-locates
    * every copy of a row and the dedup needs no exchange of its own —
    * the dedup-then-repartition shape paid a second full exchange for
    * the same unique set, and always shuffles at least as many bytes. */
  private def land(rows: DataFrame, tag: String): Boolean = {
    Files.createDirectories(storePath)
    val tmp = Files.createTempDirectory(storePath, s".tmp_$tag-")
    val stage = tmp.resolve("stage")
    try {
      rows.select(layout.columns: _*)
        .withColumn("bp", bucketOf(col(key)))
        .repartition(nBuckets, col("bp"))
        .dropDuplicates("bp" +: layout.unique)
        .sortWithinPartitions("bp", key)
        .write.mode("overwrite").partitionBy("bp").parquet(stage.toString)
      Files.move(stage, storePath.resolve(s"batch=$tag"),
        StandardCopyOption.ATOMIC_MOVE)
      StoreState.logCommit(dir, tag)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally PathIO.deleteRecursively(tmp)
  }

  /** Rewrite the store as ONE key-sorted file per bucket under a fresh
    * `batch=compacted-<n>` (old batch dirs removed) — the maintenance
    * pass that keeps row-group stats tight after many small appends.
    * Returns the number of batch dirs folded away (0 = nothing to do:
    * empty store, or already a single batch dir). */
  def compact(): Int = StoreState.withWrite(dir) {
    if (listBatchDirs().size <= 1) 0 else rewrite("compacted", read())
  }

  /** Replace the ENTIRE landed row set with a FUNCTION OF THE LANDED
    * STATE in one crash-safe rewrite under `batch=rekeyed-<n>`. The
    * one legitimate caller is a BUCKET-KEY migration
    * ([[Clustering.rekeyStore]] after an [[IvfVersions]] retrain): `ck`
    * is a function of the layout's centroids, so a centroid cutover
    * strands every landed member under keys the post-cutover lookups
    * will never probe — membership silently lost, near-dups
    * re-admitted. `rekey` receives the store's full landed frame read
    * UNDER the write lock (round 20), so the file list it plans is
    * exactly the dir set the commit then deletes — no append can land
    * between the two (appends hold the read lock). Returns the number
    * of dirs folded away. */
  def replaceAllWith(rekey: DataFrame => DataFrame): Int =
    StoreState.withWrite(dir) { rewrite("rekeyed", rekey(read())) }

  /** Commit `rows` as `batch=<prefix>-<n>` (n above every landed index
    * of that prefix), then delete every dir that was landed before.
    * Caller holds the write lock.
    *
    * Crash-safe order (round 18; the r17 compaction deleted the old
    * dirs FIRST, so a crash in the window left an empty store —
    * silently re-admitting every future duplicate): the replacement is
    * staged and ATOMIC_MOVE-committed BEFORE any old dir is deleted. A
    * crash after the commit leaves duplicate rows, which lookups
    * tolerate by contract and the next compaction folds away; a crash
    * before it leaves the store exactly as it was. */
  private def rewrite(prefix: String, rows: DataFrame): Int = {
    val old = listBatchDirs()
    val Indexed = s"batch=$prefix-([0-9]+)".r
    val prev = old.map(_.getFileName.toString)
      .collect { case Indexed(n) => n.toLong }
    val tag = s"$prefix-${if (prev.isEmpty) 0L else prev.max + 1L}"
    // tag-collision guard (round 19): two racing rewrites derive the
    // same tag — fail the loser up front instead of after the rewrite
    // work is spent. (In-process races are already excluded by the
    // write lock; this guards the out-of-contract cross-process case.)
    require(!hasBatch(tag), s"$prefix tag already landed: $tag")
    if (!land(rows, tag))
      throw new IllegalStateException(s"$prefix tag landed concurrently: $tag")
    old.foreach(PathIO.deleteRecursively)
    StoreState.pruneLog(dir, liveTags())
    old.size
  }

  /** RETENTION: drop the oldest committed batch dirs until at most
    * `retainNewest` remain — the dedup-state analog of the reference's
    * FIFO metrics eviction (`server/src/metrics.rs:14-21`): membership
    * older than the horizon expires, and a re-occurrence of an expired
    * document is re-admitted BY DESIGN (bounded state beats unbounded
    * perfect memory at 100 TB). Age = commit order, oldest first
    * ([[batchTags]] order). Returns the expired tags.
    *
    * Horizon is counted in BATCH DIRS, and a compacted dir counts as
    * one — so a maintenance sweep expires BEFORE it compacts
    * ([[maintenanceTask]] order): the horizon then applies to the
    * individual recent appends, not to an age-flattened merge.
    *
    * `batch=init` is PROTECTED by default (round 19): a bootstrap seed
    * ([[BatchStore.fromSignatures]]) holds the ENTIRE landed corpus as
    * one dir, so a dir-counted horizon smaller than the dir count would
    * silently drop all pre-stream membership. The protection window
    * closes itself: the first compaction folds `init` into merged
    * `compacted-<n>` state, which then ages as one unit per the
    * paragraph above. Pass `protectInit = false` to expire a bootstrap
    * seed deliberately. */
  def expireBatches(retainNewest: Int,
      protectInit: Boolean = true): Seq[String] =
    StoreState.withWrite(dir) {
      require(retainNewest >= 0, s"retainNewest: $retainNewest")
      val tags = batchTags()
      val candidates =
        if (protectInit) tags.filterNot(_ == "init") else tags
      val drop = candidates.dropRight(retainNewest)
      drop.foreach(t => PathIO.deleteRecursively(storePath.resolve(s"batch=$t")))
      StoreState.pruneLog(dir, liveTags())
      drop
    }

  /** Tags of the batch dirs currently on disk (unordered). */
  private def liveTags(): Set[String] =
    listBatchDirs()
      .map(_.getFileName.toString.stripPrefix("batch=")).toSet

  /** The store's maintenance pass as a schedulable task — registered
    * with the engine's background workers
    * ([[graft.core.Workers.registerMaintenance]]), the same cadence
    * class as segment GC (the reference's worker loop,
    * `server/src/worker/mod.rs:11-44`). Per sweep: expire past the
    * retention horizon first (if configured), then compact when the
    * store has fragmented past `compactAtBatches` dirs — so steady
    * small appends cost one merge per threshold crossing, not one per
    * sweep, and lookups keep tight row-group stats forever. */
  def maintenanceTask(compactAtBatches: Int = 16,
      retainBatches: Option[Int] = None): () => Unit = {
    require(compactAtBatches >= 2, s"compactAtBatches: $compactAtBatches")
    () => {
      retainBatches.foreach(n => expireBatches(n))
      if (listBatchDirs().size > compactAtBatches) compact()
      ()
    }
  }
}

object BatchStore {

  /** What a store's rows hold: the string `key` every bucket, sort and
    * lookup runs on, the `payload` fields stored next to it, and the
    * `unique` columns an append deduplicates on (they must include the
    * key, so the bucket shuffle co-locates every copy of a row). */
  final case class Layout(key: String, payload: Seq[StructField],
      unique: Seq[String]) {
    require(unique.contains(key), s"unique columns must include $key")
    val schema: StructType =
      StructType(StructField(key, StringType) +: payload)
    def columns: Seq[Column] = schema.fieldNames.toSeq.map(col)
  }

  /** Membership strings: one row per landed band (or content hash). */
  val Bands: Layout = Layout("band", Nil, Seq("band"))

  /** Keyed vector payloads: cluster (or Hamming-band) key, id, and the
    * quantized embedding (or the perceptual hash as `fx(0)`). */
  val Vectors: Layout = Layout("ck",
    Seq(StructField("vec_id", LongType), StructField("fx", ArrayType(LongType))),
    Seq("ck", "vec_id"))

  /** Hard cap on the parquet In-pushdown threshold a lookup may raise
    * to, independent of the store's `pushdownLimit`: Spark expands a
    * pushed `In` into a recursively-evaluated parquet OR-chain, and
    * ~100 k values overflows the task stack (measured) — ~1 k is deep
    * enough to matter and shallow enough to be safe. A store opened
    * with a larger `pushdownLimit` still pushes the `In` predicate, but
    * past this cap parquet-mr degrades it to a (useless) min/max range
    * rather than a stack hazard. */
  val SafeInPushdownCap: Int = 1024

  /** Path-count threshold below which store reads list directories on
    * the DRIVER instead of launching a distributed listing job (the
    * session clone raises `parallelPartitionDiscovery.threshold` to
    * this). A store read passes live-batches × nBuckets directory
    * paths — maintenance-bounded, typically well under this — and the
    * default threshold (32) turned every read into a ~100 ms listing
    * JOB over tiny directories. Past this count (a store left
    * unmaintained, or object-store-large bucket counts) the
    * distributed listing still kicks in. */
  val ListingThreshold: Int = 4096

  /** Raise the lookup-session clone's driver-listing threshold to
    * [[ListingThreshold]] — ONLY when the session leaves the key unset:
    * a deployment that sets it explicitly (to any value, Spark's
    * default of 32 included — e.g. to bound driver-side listing on a
    * slow object store) keeps its setting. The Spark conf is the
    * deployment setting; there is no separate override. */
  private[operators] def raiseListingThreshold(c: SparkSession): Unit = {
    val lkey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    // getAll holds only explicitly set keys (getOption falls back to
    // Spark's default, which would hide an explicit 32)
    if (!c.conf.getAll.contains(lkey))
      c.conf.set(lkey, ListingThreshold.toString)
  }

  /** Open (or lazily create at first append) the store at `dir`. */
  def open(spark: SparkSession, dir: String, layout: Layout,
      nBuckets: Int = 64, pushdownLimit: Int = 1024,
      broadcastLimit: Int = 1000000): BatchStore = {
    require(nBuckets > 0 && pushdownLimit > 0 &&
      broadcastLimit >= pushdownLimit)
    new BatchStore(spark, dir, layout, nBuckets, pushdownLimit,
      broadcastLimit)
  }

  /** Bootstrap a [[Bands]] store from an existing signature table (the
    * batch backfill → streaming handoff): lands the distinct band set
    * as one `batch=init` append. No-op if `init` is already landed. */
  def fromSignatures(spark: SparkSession, dir: String, sigs: DataFrame,
      rowsPerBand: Int = 2, nBuckets: Int = 64): BatchStore = {
    val store = open(spark, dir, Bands, nBuckets)
    store.append(Dedup.bandRows(sigs, rowsPerBand).select("band"), "init")
    store
  }
}
