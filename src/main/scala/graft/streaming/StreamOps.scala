package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming operators over the events stream.
  *
  * The reference has no stream processing (its background workers are plain
  * timers — `server/src/worker/mod.rs:11-44`); these are the extension
  * operators a continuous ingest pipeline needs, built on `readStream` →
  * watermark → windowed aggregation, with batch-equivalent semantics so the
  * DuckDB oracle can verify results.
  */
object StreamOps {

  /** The disk-backed state store for the stateful operators' scale shape.
    *
    * Spark's default `HDFSBackedStateStoreProvider` keeps EVERY key's state
    * in executor heap; at 100 TB the distinct-key cardinality (billions of
    * users / content hashes) outgrows memory long before the event volume
    * does. RocksDB spills keyed state to local disk with a bounded block
    * cache, so state size is a disk problem, not a heap problem. The
    * keyed-state file-sink scale variants below run on it; the memory-sink
    * oracle harnesses keep the default provider (their state is test-sized
    * by construction and the harness itself is the driver-collect shape).
    */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `f` with the RocksDB state store provider set in the session conf
    * (the provider is captured at query START, so set-run-restore is safe
    * for the synchronous drains used here).
    */
  private def withRocksDB[T](s: SparkSession)(f: => T): T = {
    val prev = s.conf.getOption(ProviderKey)
    s.conf.set(ProviderKey, RocksDBProvider)
    try f
    finally prev match {
      case Some(v) => s.conf.set(ProviderKey, v)
      case None    => s.conf.unset(ProviderKey)
    }
  }

  /** The scale shape's sink: `stream` drained synchronously in append
    * mode into a parquet FILE sink (distributed writes, exactly-once via
    * the sink's commit log under `checkpointDir`), then the landed
    * output re-read. Callers that keep keyed state wrap it in
    * [[withRocksDB]]. */
  private def drainToFiles(s: SparkSession, stream: DataFrame,
      outDir: String, checkpointDir: String): DataFrame = {
    val q = stream.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    s.read.parquet(outDir)
  }

  /** The `documents` table's schema for every documents stream source
    * (the file source takes a user-specified schema on faith). */
  private val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming events source with `ts` normalized to epoch-ns Long and an
    * `event_ts` TimestampType column for watermarks — schema-adaptive.
    *
    * The file source takes a user-specified schema ON FAITH: feed it the
    * wrong physical type and it coerces rather than errors (round 12:
    * µs INT64 read as "raw ns" Longs compressed all of 2026 into ~1970 and
    * `ext_stream_window` emitted 10 silently wrong windows instead of
    * 3385). So the schema is PROBED from the actual footer and the
    * normalization is range-gated before any streaming query trusts it
    * ([[graft.sources.EventsSource.probeTsTypeChecked]], cached per path).
    */
  private[streaming] def eventsStream(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.EventsSource
    val dt = EventsSource.probeTsTypeChecked(s, dir)
    // no nanosAsLong conf needed: the explicit probed schema skips footer
    // inference, and the parquet reader maps INT64(TIMESTAMP NANOS) to a
    // requested LongType by itself (pinned by EventsSourceSpec's
    // true-NANOS fixture) — so no session-global conf leak from here
    streamSource(s, dir, "events", EventsSource.streamSchema(dt))
      .withColumn("ts", EventsSource.tsToNanos(dt, col("ts")))
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
  }

  /** Streaming file source for one sf table, layout-robust: the source
    * path MUST be a directory (the file source watches directories), but
    * `<table>.parquet` is a single FILE in driver-generated sf dirs and
    * a DIRECTORY of part files in Spark-written corpora (e.g. the
    * ScaleSmoke scaled dirs). Directory layout → the table path itself
    * is the watched dir; single-file layout → watch the parent with a
    * name glob. (A glob alone cannot cover both: `pathGlobFilter`
    * matches leaf-file basenames, and in the directory layout the
    * leaves are `part-*.parquet` — the table name never matches, which
    * silently yields an EMPTY stream.) The directory check goes through
    * Hadoop's FileSystem — the filesystem Spark actually reads — so an
    * `hdfs://`/`s3a://` directory-layout table resolves correctly
    * instead of silently falling into the glob branch (a local-only
    * `java.nio.Files.isDirectory` returns false for any remote URI). */
  private def streamSource(s: SparkSession, dir: String, table: String,
      schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val isDir = try fs.getFileStatus(p).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    val rs = options.foldLeft(s.readStream.schema(schema)) {
      case (r, (k, v)) => r.option(k, v)
    }
    if (isDir) rs.parquet(p.toString)
    else rs.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Shared windowed-aggregation memory-sink drain: file-source
    * readStream → 1 h watermark → groupBy(window, event_type) →
    * complete-mode memory sink, drained synchronously. `slide = None`
    * gives tumbling windows; `Some(slide)` overlapping ones.
    *
    * BIGINT fixed-point micros for the value sum: per-row round is exact
    * (values have <=2 decimals) and BIGINT sums hash identically in
    * Spark and DuckDB, unlike DECIMAL whose binary layout differs
    * between engines.
    */
  private def windowAggDrain(s: SparkSession, dir: String,
      duration: String, slide: Option[String]): DataFrame =
    drainMemorySink(s, "stream_window", "complete")(
      windowAggStream(s, dir, duration, slide))

  private def windowAggStream(s: SparkSession, dir: String,
      duration: String, slide: Option[String]): DataFrame = {
    val win = slide match {
      case Some(sl) => window(col("event_ts"), duration, sl)
      case None     => window(col("event_ts"), duration)
    }
    eventsStream(s, dir)
      .withWatermark("event_ts", "1 hour")
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 1000000) as bigint)")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))
  }

  /** Daily distinct-user ESTIMATES through a real streaming query: the
    * deterministic KMV sketch ([[graft.operators.Corpus.kmvDistinct]])
    * as streaming aggregation state. The state store holds one k-long
    * sketch buffer per window — bounded regardless of user cardinality,
    * which is the whole point at a 100 TB/day ingest rate: exact
    * streaming COUNT(DISTINCT) state grows with distinct keys ever
    * seen, the sketch never exceeds k longs per window. Determinism
    * (pure function of the data, any partitioning/merge order) means
    * the DuckDB oracle recomputes the streamed estimates exactly
    * (`ext_stream_kmv`).
    */
  def dailyKmvDistinctUsers(s: SparkSession, dir: String): DataFrame =
    drainMemorySink(s, "stream_kmv", "complete")(dailyKmvStream(s, dir))

  /** [[dailyKmvDistinctUsers]] in its scale shape: append mode (only
    * watermark-finalized windows emit), parquet file sink, RocksDB
    * state — per-window sketch buffers live on executor-local disk and
    * finalized estimates land exactly-once via the sink commit log. */
  def dailyKmvDistinctUsersToFiles(s: SparkSession, dir: String,
      outDir: String, checkpointDir: String): DataFrame =
    withRocksDB(s) {
      drainToFiles(s, dailyKmvStream(s, dir), outDir, checkpointDir)
    }

  private def dailyKmvStream(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 day"))
      .agg(graft.operators.Corpus.kmvDistinct(col("user_id"))
          .as("est_users"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("est_users"), col("n_events"))

  /** Tumbling 1-hour window aggregation driven through a REAL streaming
    * query ([[windowAggDrain]]). Returns the complete result. */
  def hourlyWindowAgg(s: SparkSession, dir: String): DataFrame =
    windowAggDrain(s, dir, "1 hour", None)

  /** Append-ready hourly window aggregation STREAM (unsunk): watermarked
    * tumbling groupBy(window, event_type) over the probed events source.
    * Shared by [[hourlyWindowAggToFiles]] and the crash-resume spec,
    * which attaches its own sink so it can kill and resume the query on
    * one checkpoint. */
  def hourlyWindowAggStream(s: SparkSession, dir: String): DataFrame =
    windowAggStream(s, dir, "1 hour", None)

  /** Scale variant of [[hourlyWindowAgg]]: watermarked APPEND mode into a
    * parquet FILE sink — the 100 TB shape. The complete-mode memory sink
    * above re-collects the whole result to the driver every trigger (fine
    * for the oracle harness, a scale-killer in production); append mode
    * emits each window exactly once, when the watermark finalizes it, and
    * the file sink writes distributed. Windows newer than
    * `max(event_ts) - watermark` remain open and unemitted — the inherent
    * streaming/batch boundary (StreamingWindowSinkSpec pins it down).
    */
  def hourlyWindowAggToFiles(s: SparkSession, dir: String, outDir: String,
      checkpointDir: String): DataFrame =
    drainToFiles(s, hourlyWindowAggStream(s, dir), outDir, checkpointDir)

  /** Streaming exact-dedup with custom state: documents arrive as a file
    * stream, group by content hash, and `flatMapGroupsWithState` keeps a
    * seen-flag per hash so only the FIRST occurrence across all
    * micro-batches is emitted. This is the stateful-stream shape
    * (`KeyValueGroupedDataset.flatMapGroupsWithState`) a continuous
    * training-data ingest pipeline uses for online dedup.
    */
  def streamingDedup(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    drainMemorySink(s, "stream_dedup", "append")(dedupStream(s, dir))

  /** Horizon-BOUNDED streaming dedup — the bounded-state answer to
    * [[streamingDedup]]'s forever-growing seen-hash state: built on
    * Spark's `dropDuplicatesWithinWatermark` (built-in before custom
    * state, always), so a key's state is dropped as soon as the
    * watermark passes its event time + `horizon`, and a reoccurrence
    * beyond the horizon is — by design — treated as new and re-emitted.
    * State is bounded by keys-per-horizon instead of distinct-keys-ever:
    * at a 100 TB/day ingest rate that is the difference between a
    * working set that fits a RocksDB instance and one that only grows.
    * Emits `(user_id, event_type)` key rows; which duplicate row inside
    * one micro-batch survives is engine-chosen, so callers wanting a
    * deterministic relation project/distinct the keys (the contract
    * entry does; the horizon semantics are pinned by
    * `StreamingDedupSpec`'s multi-batch test).
    */
  def streamingDedupBounded(s: SparkSession, dir: String,
      horizon: String = "1 hour"): DataFrame =
    drainMemorySink(s, "stream_dedup_b", "append")(
      boundedDedupStream(s, dir, horizon))

  /** [[streamingDedupBounded]] into a parquet FILE sink on the RocksDB
    * state store — the scale shape (see [[streamingDedupToFiles]]). */
  def streamingDedupBoundedToFiles(s: SparkSession, dir: String,
      outDir: String, checkpointDir: String,
      horizon: String = "1 hour"): DataFrame =
    withRocksDB(s) {
      drainToFiles(s, boundedDedupStream(s, dir, horizon), outDir,
        checkpointDir)
    }

  private def boundedDedupStream(s: SparkSession, dir: String,
      horizon: String): DataFrame = {
    eventsStream(s, dir)
      .withWatermark("event_ts", horizon)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
  }

  /** Scale variant of [[streamingDedup]]: append mode into a parquet FILE
    * sink, on the RocksDB state store (see [[RocksDBProvider]]).
    * The seen-hash state is the scale hazard here — one entry per DISTINCT
    * content hash, forever (NoTimeout) — which is exactly the shape that
    * outgrows executor heap on the default provider at 100 TB. */
  def streamingDedupToFiles(s: SparkSession, dir: String, outDir: String,
      checkpointDir: String): DataFrame =
    withRocksDB(s) {
      drainToFiles(s, dedupStream(s, dir), outDir, checkpointDir)
    }

  /** Streaming twin of the prep pipeline's quality + privacy front:
    * gate every arriving document with the one-pass
    * [[graft.operators.TextAnalysis.qualityPasses]] kernel and emit
    * the redacted-text length for survivors. Both stages are
    * STATELESS codegen'd projections, so they run unchanged inside
    * micro-batches — no state store, no watermark, the streaming
    * relation is exactly the batch relation (the oracle pins it).
    * Memory-sink harness like the other `ext_stream_*` contract rows.
    */
  def streamingQualityPrep(s: SparkSession, dir: String): DataFrame =
    drainMemorySink(s, "stream_quality", "append") {
      graft.operators.TextAnalysis.gateByQuality(
          streamSource(s, dir, "documents", DocSchema))
        .select(col("doc_id"), col("lang"),
          length(graft.operators.TextAnalysis.redactedText(col("text")))
            .cast("long").as("n_chars_redacted"))
    }

  /** The COMPLETE streaming prep front: quality gate → PII redaction →
    * stateful exact dedup on the REDACTED content hash, one stream —
    * what a continuous-ingest pipeline actually runs before chunking.
    * The gate/redaction kernels are stateless projections feeding the
    * same flatMapGroupsWithState keeper state as [[streamingDedup]];
    * the dedup hash sees what the tokenizer will see (the redacted
    * text — the prepPipelineV2 contract). Emits `(h, keep_id)`; with
    * the one-file harness source the single micro-batch makes keep_id
    * the global min per hash, same caveat as [[streamingDedup]]. */
  def streamingPrepFront(s: SparkSession, dir: String): DataFrame =
    drainMemorySink(s, "stream_prep", "append") {
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      import s.implicits._
      graft.operators.TextAnalysis.gateByQuality(
          streamSource(s, dir, "documents", DocSchema))
        .select(col("doc_id"),
          org.apache.spark.sql.functions.md5(
            graft.operators.TextAnalysis.redactedText(col("text")))
            .as("h"))
        .as[(Long, String)]
        .groupByKey(_._2)
        .flatMapGroupsWithState[Boolean, (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (hash: String, rows: Iterator[(Long, String)],
              state: GroupState[Boolean]) =>
            if (state.exists) Iterator.empty
            else {
              state.update(true)
              Iterator.single((hash, rows.map(_._1).min))
            }
        }
        .toDF("h", "keep_id")
    }

  /** The stateful dedup stream shared by both sinks: file source →
    * md5(text) → seen-flag per hash via `flatMapGroupsWithState`.
    * Package-visible so the crash-resume spec can drive the REAL operator
    * pipeline under a test-controlled query lifecycle (kill + restart on
    * one checkpoint). */
  private[streaming] def dedupStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import s.implicits._
    streamSource(s, dir, "documents", DocSchema)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.md5(col("text")).as("h"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (hash: String, rows: Iterator[(Long, String)],
            state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // keep the smallest doc_id of the batch for determinism
            Iterator.single((hash, rows.map(_._1).min))
          }
      }
      .toDF("h", "keep_id")
  }

  /** CONTINUOUS-CRAWL near-dup dedup — the streaming twin of
    * [[graft.operators.Dedup.incrementalMinhash]]: a document stream is
    * near-dup-filtered per micro-batch against the LANDED signature
    * table via `foreachBatch` — survivors append to `outDir`, and the
    * FULL batch signature table appends to `sigDir` (the all-seen
    * landing contract that makes sequential batches ≡ one big batch;
    * why survivors-only would silently re-admit chained near-dups is on
    * the batch operator's doc).
    *
    * The dedup state here is deliberately a parquet TABLE, not operator
    * state: it is the SAME artifact the batch pipeline maintains, so
    * batch backfills and streaming ingest share one landed-signature
    * truth, it survives restarts with the checkpoint, and its size is
    * ~40 bytes/doc-ever-seen — the fingerprint-table scale class, never
    * the corpus. Per batch the work is one signature projection
    * (codegen'd, no shuffle) + the per-band aggregates against the
    * landed bands.
    *
    * `transform` lets the harness apply fixture transforms (dup
    * planting) to each batch before filtering; production passes
    * identity.
    *
    * Membership state is a [[graft.operators.BatchStore]] at
    * `sigDir/_bands` (hidden from `sigDir`'s own parquet reads): the
    * per-batch landed-side check is the store's PRUNED lookup
    * (partition + row-group pruning, zero landed-side exchanges)
    * instead of the r16 full-scan + re-distinct of `sigDir` — per-batch
    * cost tracks the batch, not the corpus-ever-seen.
    *
    * Exactly-once landing and inline maintenance follow
    * [[runStoreStream]]'s replay contract. Commit ORDER is survivors →
    * bands → signatures: survivors are recomputable only while the
    * batch's own bands are NOT yet landed, so they commit first; a
    * retry that finds them committed skips straight to landing state. */
  def incrementalMinhashToFiles(s: SparkSession, dir: String,
      knownSigs: DataFrame, sigDir: String, outDir: String,
      checkpointDir: String,
      transform: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None,
      maintainAtBatches: Int = 0,
      retainBatches: Option[Int] = None): DataFrame = {
    atomicBatchWrite(knownSigs, sigDir, "init")
    val store = graft.operators.BatchStore.fromSignatures(
      s, s"$sigDir/_bands", s.read.parquet(s"$sigDir/batch=init"))
    val sigFields = StructField("doc_id", LongType) +:
      graft.operators.Dedup.DefaultSeeds.indices.map(i =>
        StructField(s"m${i + 1}", LongType))
    runStoreStream(s, dir, "documents", DocSchema, maxFilesPerTrigger,
        checkpointDir, outDir, sigFields, "minhash", Seq("bands" -> store),
        maintainAtBatches, retainBatches,
        replayDirs = Seq(sigDir)) { (batch, tag) =>
      val docs = transform(batch.select(col("doc_id"), col("text")))
      // ONE signature-kernel pass per batch (r21): the dedup and
      // the all-seen signature landing share the materialized frame
      val sigs = graft.operators.Dedup.minhashSignatures(docs,
        8, graft.operators.Dedup.DefaultSeeds).localCheckpoint(true)
      val (survivors, newBands) = graft.operators.Dedup
        .incrementalMinhashFromSigs(sigs, store)
      atomicBatchWrite(survivors, outDir, tag)
      store.append(newBands, tag)
      atomicBatchWrite(sigs, sigDir, tag)
    }
  }

  /** CONTINUOUS-CURATION semantic dedup — the streaming twin of
    * [[graft.operators.Clustering.incrementalSemanticWithStore]]: an
    * embedding stream is semantically deduplicated per micro-batch
    * against the landed corpus via `foreachBatch`. Centroids come
    * FROZEN from the persisted kmeans layout at `layoutDir` (no
    * per-batch retraining); the landed state is a
    * [[graft.operators.BatchStore.Vectors]] store at `storeDir`, seeded once
    * from `landedEmb` as `batch=init` (skipped when already landed —
    * the restart path), so per-batch work touches only the batch's own
    * `(c1, c2)` buckets — never the corpus.
    *
    * Survivors commit before the member append ([[runStoreStream]]'s
    * replay contract). The landing is ALL-SEEN (the full member set,
    * survivors and dropped — semantic distance is not transitive),
    * which is what makes id-ordered micro-batches compose to the
    * one-shot batch operator (StreamingDedupSpec differential).
    *
    * `transform` lets the harness plant fixtures / select the batch
    * slice per micro-batch; production passes identity.
    *
    * `maintainAtBatches` / `retainBatches`: inline per-batch store
    * maintenance (the `batch=init` seed is retention-protected by the
    * store default, so a tight horizon never drops the landed corpus).
    *
    * `layoutDir` may be a VERSIONED [[graft.operators.IvfVersions]]
    * root (round 20 — [[resolveLayout]]): the pointer is re-read per
    * micro-batch UNDER the store's read lock, so a drift→retrain
    * cutover (whose `onRetrain` hook re-keys this store, write-locked)
    * lands atomically between batches of the LIVE stream — the next
    * batch probes the new layout against the re-keyed store, no
    * restart, no half-cutover. `afterBatch(batchId)` runs after every
    * batch's commits, outside the store locks — the deterministic hook
    * for an inline drift→retrain sweep (production registers
    * [[graft.operators.IvfVersions.driftRetrainTask]] with the
    * background workers instead; both serialize against batch bodies
    * through the store's RW lock). */
  def incrementalSemanticToFiles(s: SparkSession, dir: String,
      layoutDir: String, landedEmb: DataFrame, storeDir: String,
      outDir: String, checkpointDir: String, dist2Threshold: Long,
      transform: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None,
      maintainAtBatches: Int = 0,
      retainBatches: Option[Int] = None,
      afterBatch: Long => Unit = _ => ()): DataFrame = {
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
      StructField("label", org.apache.spark.sql.types.IntegerType)))
    val store = graft.operators.BatchStore.open(s, storeDir,
      graft.operators.BatchStore.Vectors)
    if (!store.hasBatch("init"))
      graft.operators.StoreState.withRead(storeDir) {
        val (_, initMembers) = graft.operators.Clustering
          .incrementalSemanticWithStore(landedEmb,
            resolveLayout(layoutDir), store, dist2Threshold)
        store.append(initMembers, "init")
      }
    runStoreStream(s, dir, "embeddings", embSchema, maxFilesPerTrigger,
        checkpointDir, outDir,
        Seq(StructField("vec_id", LongType), StructField("cid", LongType)),
        "semantic", Seq("members" -> store), maintainAtBatches,
        retainBatches, afterBatch) { (batch, tag) =>
      // read lock across resolve → assign → append: a concurrent
      // retrain's re-key (write lock) lands before or after the
      // whole batch, never between key derivation and landing
      graft.operators.StoreState.withRead(storeDir) {
        val emb = transform(batch.select(col("vec_id"), col("embedding")))
        val (survivors, members) = graft.operators.Clustering
          .incrementalSemanticWithStore(emb, resolveLayout(layoutDir),
            store, dist2Threshold)
        atomicBatchWrite(survivors, outDir, tag)
        store.append(members, tag)
      }
    }
  }

  /** CONTINUOUS-CRAWL perceptual image dedup — the streaming twin of
    * [[graft.operators.Multimodal.incrementalImageDedupWithStore]]
    * (round 19; completes the modality square: exact, minhash,
    * semantic, and perceptual each now run batch-incremental AND
    * exactly-once streaming). Per micro-batch the document payloads
    * are profile-dHashed and near-dup-filtered against the landed
    * hash-carrying [[graft.operators.BatchStore.Vectors]] store; survivors
    * commit first, the ALL-SEEN member set lands after
    * ([[runStoreStream]]'s replay contract), with the store lookup
    * excluding the batch's own tag (the composed-replay primitive; here
    * it also makes the single-store partial replay exact rather than
    * merely effect-idempotent). The store is seeded once from
    * `landedPayloads` as `batch=init` (skipped when landed — the
    * restart path; retention-protected by the store default). */
  def incrementalImageToFiles(s: SparkSession, dir: String,
      landedPayloads: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String, maxHamming: Int = 3,
      transform: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None,
      maintainAtBatches: Int = 0,
      retainBatches: Option[Int] = None): DataFrame = {
    val store = graft.operators.BatchStore.open(s, storeDir,
      graft.operators.BatchStore.Vectors)
    if (!store.hasBatch("init")) {
      val (_, init) = graft.operators.Multimodal
        .incrementalImageDedupWithStore(landedPayloads, store, maxHamming)
      store.append(init, "init")
    }
    runStoreStream(s, dir, "documents", DocSchema, maxFilesPerTrigger,
        checkpointDir, outDir,
        Seq(StructField("doc_id", LongType), StructField("phash", LongType)),
        "image", Seq("members" -> store), maintainAtBatches,
        retainBatches) { (batch, tag) =>
      val payloads = transform(batch.select(col("doc_id"),
        encode(col("text"), "utf-8").as("payload")))
      val (survivors, members) = graft.operators.Multimodal
        .incrementalImageDedupWithStore(payloads, store, maxHamming,
          excludeTag = Some(tag))
      atomicBatchWrite(survivors, outDir, tag)
      store.append(members, tag)
    }
  }

  /** CONTINUOUS CURATION end-to-end (round 19 — the full pipeline a
    * production crawl runs, as ONE stream): per micro-batch,
    *
    *  1. QUALITY GATE + PII REDACTION (stateless one-pass kernels —
    *     from here on `text` IS the redacted text, the prepPipelineV2
    *     contract);
    *  2. EXACT dedup against the landed content-hash [[graft.operators.BatchStore]]
    *     ([[graft.operators.Dedup.incrementalExactWithStore]]);
    *  3. MINHASH near-dup dedup against the landed band store
    *     ([[graft.operators.Dedup.incrementalMinhashWithStore]],
    *     all-seen landing);
    *  4. SEMANTIC dedup of the survivors' embeddings (static
    *     `embeddings` side, `vec_id = doc_id`) against the landed
    *     [[graft.operators.BatchStore.Vectors]] store with FROZEN centroids
    *     ([[graft.operators.Clustering.incrementalSemanticWithStore]]);
    *  5. survivors land as `(doc_id, lang, n_tokens)` batch dirs; the
    *     returned frame PACKS the landed curated table
    *     ([[graft.operators.Corpus.packSequences]]) — packing is a
    *     training-shard finalization view over curated state, not
    *     per-batch work (a doc's bin depends on every earlier doc in
    *     its shard, so packing mid-stream would make bins
    *     batch-boundary-dependent).
    *
    * All three stores run INLINE maintenance (`maintainAtBatches` —
    * the r19 streaming-lifecycle contract) and every per-batch commit
    * is a batch-keyed atomic dir: survivors first, then the three
    * store appends (hashes → bands → members).
    *
    * REPLAY correctness for the COMPOSED pipeline is the round-19
    * `excludeTag` contract: each stage's landed lookup excludes the
    * batch's OWN tag, so a replay whose earlier-stage appends already
    * committed still recomputes every stage against the PRE-batch
    * state — without it, a crash between the hash append and the band
    * append would make the replayed exact stage drop the whole batch
    * and the band store land an empty (wrong) band set, silently
    * re-admitting near-dups forever after. With id-ordered batches the
    * landed survivor set equals the one-shot batch composition
    * (gate → redact → exact min-id → minhash → semantic), pinned by
    * StreamingDedupSpec's differential and the `ext_stream_curate`
    * oracle. Id order must hold for EVERY id a batch emits — including
    * ids the `transform` plants: a fixture that plants `base + 10^6`
    * ids in an early batch lands bands LARGER-id than later batches'
    * natural docs, and the landed check (directionless by design —
    * landed means arrived earlier) then drops a later doc the one-shot
    * id-directional rule keeps. Plant in-range ids (e.g. `8·base + k`)
    * when the composition differential matters.
    *
    * `layoutDir` may be a VERSIONED [[graft.operators.IvfVersions]]
    * root ([[resolveLayout]], round 20): the semantic stage re-reads
    * the pointer per micro-batch under the vector store's read lock,
    * so a drift→retrain→re-key cutover lands atomically between
    * batches of the LIVE stream — no restart, no half-cutover.
    * `afterBatch(batchId)` runs after the batch's commits outside the
    * store locks — the deterministic hook for an inline drift sweep
    * (production registers
    * [[graft.operators.IvfVersions.driftRetrainTask]] with the
    * background workers; both serialize through the store's RW lock).
    *
    * `embeddings` is materialized ONCE at stream start — but only when
    * it is NOT a pure file-backed projection ([[isPureFileFrame]],
    * round 20): a parquet-backed corpus-embedding table re-plans as a
    * PRUNED scan per batch (the per-batch left-semi join pushes the
    * batch's ids toward the scan), while checkpointing it would
    * materialize the whole table at stream start — at 100 TB a
    * corpus-sized foot-gun. Computed fixture frames (unions, plants)
    * still checkpoint so their plan does not re-run per batch action. */
  def curateToFiles(s: SparkSession, dir: String,
      embeddings: DataFrame, layoutDir: String, stateDir: String,
      outDir: String, checkpointDir: String,
      dist2Threshold: Long = 1000L,
      budgetTokens: Long = 2048L, shards: Int = 32,
      transform: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None,
      maintainAtBatches: Int = 0,
      retainBatches: Option[Int] = None,
      afterBatch: Long => Unit = _ => ()): DataFrame = {
    import graft.operators.{BatchStore, Clustering, Corpus, Dedup, TextAnalysis}
    val exact = BatchStore.open(s, s"$stateDir/exact", BatchStore.Bands)
    val bandSt = BatchStore.open(s, s"$stateDir/bands", BatchStore.Bands)
    val vecSt = BatchStore.open(s, s"$stateDir/vecs", BatchStore.Vectors)
    val embProj = embeddings.select(col("vec_id"), col("embedding"))
    // fixture/computed frames materialize once; file-backed tables
    // stay lazy and re-plan as a pruned per-batch scan (doc above)
    val emb =
      if (isPureFileFrame(embeddings)) embProj
      else embProj.localCheckpoint(true)
    val curated = runStoreStream(s, dir, "documents", DocSchema,
        maxFilesPerTrigger, checkpointDir, outDir,
        Seq(StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("n_tokens", LongType)),
        "curate", Seq("hashes" -> exact, "bands" -> bandSt, "members" -> vecSt),
        maintainAtBatches, retainBatches, afterBatch) { (batch, tag) =>
      val t = Some(tag)
      val raw = transform(
        batch.select(col("doc_id"), col("text"), col("lang")))
      // each stage frame is MATERIALIZED once (eager batch-sized
      // localCheckpoints — the incrementalSemanticWithStore members
      // discipline): the composed body takes ~6 actions (store
      // lookups, three appends, the survivor write), and without
      // the checkpoints every one re-runs the gate + redaction
      // kernels over the raw batch
      val red = labeled(s, s"curate[$tag]: gate+redact") {
        TextAnalysis.gateByQuality(raw)
          .select(col("doc_id"), col("lang"),
            TextAnalysis.redactedText(col("text")).as("text"))
          .localCheckpoint(true)
      }
      val (s1, newHashes) = labeled(s, s"curate[$tag]: exact lookup") {
        Dedup.incrementalExactWithStore(red, exact, excludeTag = t)
      }
      val s1docs = labeled(s, s"curate[$tag]: exact survivors") {
        red.join(s1.select("doc_id"),
          Seq("doc_id"), "left_semi").localCheckpoint(true)
      }
      val (s2sigs, newBands) =
        labeled(s, s"curate[$tag]: minhash lookup") {
          Dedup.incrementalMinhashWithStore(
            s1docs, bandSt, excludeTag = t)
        }
      val s2docs = labeled(s, s"curate[$tag]: minhash survivors") {
        s1docs.join(s2sigs.select("doc_id"),
          Seq("doc_id"), "left_semi").localCheckpoint(true)
      }
      val emb2 = emb.join(
        s2docs.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      // read lock across resolve → assign → appends: a concurrent
      // retrain's re-key (write lock) lands before or after the
      // whole semantic stage, never between key derivation and
      // member landing (resolveLayout doc)
      graft.operators.StoreState.withRead(vecSt.dir) {
        val (s3, members) =
          labeled(s, s"curate[$tag]: semantic lookup") {
            Clustering.incrementalSemanticWithStore(
              emb2, resolveLayout(layoutDir), vecSt, dist2Threshold,
              excludeTag = t)
          }
        val out = s2docs.join(
            s3.select(col("vec_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"),
            graft.functions.SplitCount(col("text"), bySpaceOnly = true)
              .as("n_tokens"))
        labeled(s, s"curate[$tag]: commit survivors") {
          atomicBatchWrite(out, outDir, tag)
        }
        // the three appends are INDEPENDENT jobs on three store dirs
        // (order among them never mattered — replay requires all
        // three, any committed subset after a crash is tolerated
        // exactly as under the old sequential order), so overlap
        // them (guide §2.6): wall cost = the slowest append, not
        // the sum. The members append stays on THIS thread — it
        // must run under the batch's already-held vecSt read lock
        // (a helper thread re-acquiring it could deadlock behind a
        // queued writer); the other two stores' locks are not held
        // here, so their appends take them fresh on pool threads.
        overlapped(s,
          Seq(s"curate[$tag]: append hashes" ->
              (() => { exact.append(newHashes, tag); () }),
            s"curate[$tag]: append bands" ->
              (() => { bandSt.append(newBands, tag); () }))) {
          labeled(s, s"curate[$tag]: append members") {
            vecSt.append(members, tag)
          }
        }
      }
    }
    Corpus.packSequences(curated, "doc_id", "n_tokens", budgetTokens, shards)
      .select(col("doc_id"), col("shard"), col("bin"), col("n_tokens"))
  }

  /** The ONE lifecycle of the store-backed incremental dedup streams
    * ([[incrementalMinhashToFiles]], [[incrementalSemanticToFiles]],
    * [[incrementalImageToFiles]], [[curateToFiles]]): the `table` file
    * source under `dir` (at most `maxFilesPerTrigger` files per
    * micro-batch) drains through `foreachBatch`, where `body(batch,
    * tag)` dedups the batch against the landed `stores` and lands its
    * survivors in `outDir` and its state in the stores.
    *
    * Exactly-once landing: every per-batch output — the survivors, each
    * store append, each `replayDirs` landing — is a `batch=<batchId>`
    * directory committed by write-to-temp + ATOMIC_MOVE, skipped when
    * the target already exists. A `foreachBatch` retry therefore cannot
    * double-append (at-least-once replay collapses to exactly-once
    * effects; pinned by StreamingDedupSpec's forced-replay test).
    * Bodies commit survivors FIRST, then the store appends: survivors
    * are recomputable only while the batch's own state is NOT yet
    * landed. A retry that finds every output committed skips `body`
    * entirely; one that finds only some re-runs it, and the committed
    * outputs skip.
    *
    * INLINE STATE MAINTENANCE (round 19): `maintainAtBatches ≥ 2` runs
    * each store's maintenance pass (expire past `retainBatches`,
    * compact past the fragmentation threshold) INSIDE the loop after
    * each batch lands — a minutes-cadence stream fragments by hundreds
    * of `batch=` dirs before the background workers' 24 h sweep would
    * ever fire, so the stream that creates the fragmentation pays for
    * its own cleanup: one cheap directory count per batch, one merge
    * per threshold crossing, dir count bounded by `maintainAtBatches+1`
    * forever. Exactly-once survives because maintenance is idempotent
    * by construction — compaction is commit-then-delete and changes
    * MEMBERSHIP not content, so a replay whose `batch=<id>` dir was
    * folded away recomputes against the compacted store, finds its
    * survivors already committed (skip), and its re-append lands an
    * empty dir (its bands are all landed) — effects unchanged. Default
    * 0 keeps maintenance with the scheduled workers. The stores are
    * independent dirs and no lock is held here, so every store but the
    * last sweeps on a helper thread ([[overlapped]]; each takes only
    * its own store's write lock) and the last on the calling thread;
    * each sweep's jobs carry the `<name>[<tag>]: maintenance <store>`
    * label.
    *
    * `afterBatch(batchId)` runs after every batch's commits and
    * maintenance, outside the store locks. The result re-reads `outDir`
    * with the explicit `outFields` schema: a run whose every batch
    * dedups to ZERO survivors leaves only data-less `batch=` dirs,
    * which would wedge schema inference (the BatchStore.read
    * precedent). */
  private def runStoreStream(s: SparkSession, dir: String, table: String,
      schema: StructType, maxFilesPerTrigger: Option[Int],
      checkpointDir: String, outDir: String, outFields: Seq[StructField],
      name: String, stores: Seq[(String, graft.operators.BatchStore)],
      maintainAtBatches: Int, retainBatches: Option[Int],
      afterBatch: Long => Unit = _ => (), replayDirs: Seq[String] = Nil)(
      body: (DataFrame, String) => Unit): DataFrame = {
    val q = streamSource(s, dir, table, schema,
        maxFilesPerTrigger
          .map(n => Map("maxFilesPerTrigger" -> n.toString))
          .getOrElse(Map.empty))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tag = batchId.toString
        val fullReplay =
          (outDir +: replayDirs).forall(batchExists(_, tag)) &&
            stores.forall(_._2.hasBatch(tag))
        if (!fullReplay) body(batch, tag)
        if (maintainAtBatches >= 2) {
          val sweeps = stores.map { case (storeName, store) =>
            s"$name[$tag]: maintenance $storeName" ->
              store.maintenanceTask(maintainAtBatches, retainBatches)
          }
          val (lastDesc, lastSweep) = sweeps.last
          overlapped(s, sweeps.init)(labeled(s, lastDesc)(lastSweep()))
        }
        afterBatch(batchId)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    s.read
      .schema(StructType(outFields :+ StructField("batch", StringType)))
      .parquet(outDir)
      .drop("batch")
  }

  private def batchExists(baseDir: String, tag: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(baseDir, s"batch=$tag"))

  /** Run the `side` thunks on helper threads while `main` runs on the
    * calling thread, then join (guide §2.6 "overlap independent jobs"):
    * Spark schedules concurrent actions fine, and a tail of small
    * store-commit jobs otherwise serializes on the driver. Each side
    * task labels its own jobs (job descriptions are thread-local).
    * CALLER CONTRACT: side tasks must not need a lock the calling
    * thread already holds — a helper thread re-acquiring a read lock
    * can queue behind a waiting writer and deadlock; keep such work in
    * `main`. After all complete, main's failure propagates (else the
    * first side task's), carrying every other side failure as a
    * suppressed exception — no concurrent error is dropped. */
  private[graft] def overlapped[T](s: SparkSession,
      side: Seq[(String, () => Unit)])(main: => T): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, side.size))
    try {
      val futs = side.map { case (desc, f) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = labeled(s, desc)(f())
        })
      }
      // always join the side tasks — even when main fails — so no
      // store write is still in flight when the batch unwinds
      var mainErr: Throwable = null
      val r = try Some(main) catch {
        case e: Throwable => mainErr = e; None
      }
      val sideErrs = futs.flatMap { fu =>
        try { fu.get(); None } catch {
          case e: java.util.concurrent.ExecutionException => Some(e.getCause)
          case e: Throwable => Some(e)
        }
      }
      (Option(mainErr) ++ sideErrs).toList match {
        case first :: rest =>
          // addSuppressed rejects self-suppression (one shared error)
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case Nil => r.get
      }
    } finally pool.shutdown()
  }

  /** Run `f` with a thread-local Spark job description (guide §1.5 "label
    * your jobs"): every job an operator phase triggers shows the phase
    * name in the UI / listener tooling instead of an anonymous callsite.
    * Purely observational — restores the previous description after. */
  private def labeled[T](s: SparkSession, desc: String)(f: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** Resolve a semantic stage's layout PER MICRO-BATCH (round 20 — the
    * r19 top ask): `layoutDir` may be either a plain frozen-centroid
    * layout directory (the static deployment, resolved to itself) or a
    * VERSIONED [[graft.operators.IvfVersions]] root — self-describing
    * by its `CURRENT` pointer file, which a plain layout never
    * contains. With a root, every micro-batch re-reads the pointer, so
    * a drift→retrain cutover committed between batches is picked up by
    * the very next batch with no stream restart; the resolved `v=N`
    * dir is immutable and retained one generation past replacement, so
    * a batch that resolved just before a cutover keeps its files.
    *
    * Callers resolve UNDER the member store's read lock and use the
    * resolved dir for the whole batch (assignment keys + member
    * append): the retrain hook's store re-key
    * ([[graft.operators.Clustering.rekeyStore]]) takes the write lock,
    * so a batch sees old-layout+old-keys XOR new-layout+re-keyed-store
    * — never a half-cutover (stale keys probing a re-keyed store, or
    * fresh keys appended under the old layout and stranded). */
  private[graft] def resolveLayout(layoutDir: String): String =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(layoutDir,
        graft.operators.IvfVersions.CurrentName)))
      graft.operators.IvfVersions.currentDir(layoutDir)
    else layoutDir

  /** True when `df` is a plain narrow chain (project/filter/alias)
    * over file-source scans — a frame that is CHEAPER to re-plan per
    * use (pruned scan, pushed filters) than to materialize. Joins,
    * unions, aggregates, or non-file leaves (computed fixtures, local
    * relations) make it false: those plans are worth one
    * `localCheckpoint` so they do not re-run per downstream action.
    * Conservative on purpose — misclassifying computed-as-file costs
    * recompute, misclassifying file-as-computed would materialize a
    * corpus-sized table. */
  private[graft] def isPureFileFrame(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def pure(p: LogicalPlan): Boolean = p match {
      case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
      case _: Project | _: Filter | _: SubqueryAlias =>
        p.children.forall(pure)
      case _ => false
    }
    pure(df.queryExecution.analyzed)
  }

  /** Commit `df` as the atomic directory `baseDir/batch=<tag>`: write
    * to a hidden temp dir, ATOMIC_MOVE into place, skip (returning
    * false, computing nothing) when the target already exists — the
    * idempotent-replay primitive shared by the incremental-dedup sinks
    * (same commit discipline as [[graft.operators.BatchStore.append]]). */
  private[graft] def atomicBatchWrite(df: DataFrame, baseDir: String,
      tag: String): Boolean = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Paths.get(baseDir)
    val target = base.resolve(s"batch=$tag")
    if (Files.exists(target)) return false
    Files.createDirectories(base)
    val tmp = Files.createTempDirectory(base, s".tmp_$tag-")
    val stage = tmp.resolve("stage")
    df.write.mode("overwrite").parquet(stage.toString)
    try {
      Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally graft.core.PathIO.deleteRecursively(tmp)
  }

  /** Open session carried across micro-batches per user. */
  final case class OpenSession(
      sessionId: Long, startTs: Long, endTs: Long, nEvents: Long)

  /** Emitted (closed) session row — matches [[sessionize]]'s output. */
  final case class SessionOut(
      user_id: Long, session_id: Long, n_events: Long,
      session_start: Long, session_end: Long)

  /** The stateful session stream: file source → watermark →
    * `flatMapGroupsWithState` ([[sessionFold]]) — shared by the
    * memory-sink oracle harness and the file-sink scale shape. */
  private def sessionStream(s: SparkSession, dir: String,
      gapNs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import s.implicits._
    eventsStream(s, dir)
      .withWatermark("event_ts", "1 hour")
      // keep the watermark column through to the stateful operator
      .select(col("user_id"), col("ts"), col("event_id"), col("event_ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFold(gapNs))
      .toDF()
  }

  /** TRUE stateful sessionization: `flatMapGroupsWithState` keyed by user
    * with event-time timeout. A session CLOSES (and is emitted, append
    * mode) when a later event of the same user arrives more than `gapNs`
    * after it, or when the watermark passes the gap with no new events
    * (timeout path — idle users don't hold state forever). The in-flight
    * session lives in [[OpenSession]] state.
    *
    * Semantics match the batch-equivalent [[sessionize]] exactly, except
    * that each user's final session stays open until the timeout fires —
    * the inherent streaming/batch boundary difference
    * (StreamingSessionSpec pins both halves down). The memory sink
    * collects every emitted session to the driver — the oracle-harness
    * shape; [[streamingSessionizeToFiles]] is the scale shape.
    */
  def streamingSessionize(s: SparkSession, dir: String,
      gapNs: Long = 30L * 60 * 1000000000L): DataFrame =
    drainMemorySink(s, "stream_sess", "append")(
      sessionStream(s, dir, gapNs))

  /** Scale variant of [[streamingSessionize]]: the same stateful stream
    * into a parquet FILE sink — the 100 TB shape (the memory sink above
    * collects every emitted session to the driver, which is the oracle
    * harness's cost and OOMs long before the operator's keyed state
    * does). Same append semantics: sessions the watermark has not yet
    * closed remain in state, unemitted.
    *
    * Runs on the RocksDB state store (see [[RocksDBProvider]]):
    * per-user session state lives on executor-local disk, so distinct-user
    * cardinality scales with disk, not heap. */
  def streamingSessionizeToFiles(s: SparkSession, dir: String,
      outDir: String, checkpointDir: String,
      gapNs: Long = 30L * 60 * 1000000000L): DataFrame =
    withRocksDB(s) {
      drainToFiles(s, sessionStream(s, dir, gapNs), outDir, checkpointDir)
    }

  /** The per-user session fold driven by `flatMapGroupsWithState`: events
    * of one user in one micro-batch arrive unordered (sorted here with the
    * batch path's event_id tiebreak); a gap closes and emits the open
    * session; the in-flight one lives in state with an event-time timeout
    * at `end + gap` so idle users flush.
    *
    * A timeout emits the open session but keeps a ZERO-EVENT tombstone
    * (one more gap's worth of state) so a user who reappears continues the
    * session numbering instead of duplicating `(user_id, session_id)`
    * pairs; the tombstone's own timeout removes state for good.
    */
  def sessionFold(gapNs: Long): (Long,
      Iterator[(Long, Long, Long, java.sql.Timestamp)],
      org.apache.spark.sql.streaming.GroupState[OpenSession]) =>
      Iterator[SessionOut] = {
    (user, rows, state) =>
      if (state.hasTimedOut) {
        val open = state.get
        if (open.nEvents == 0L) {
          // tombstone expired: numbering may restart, state is released
          state.remove()
          Iterator.empty
        } else {
          state.update(open.copy(nEvents = 0L))
          state.setTimeoutTimestamp(
            state.getCurrentWatermarkMs() + gapNs / 1000000L)
          Iterator.single(SessionOut(user, open.sessionId, open.nEvents,
            open.startTs, open.endTs))
        }
      } else {
        val ts = rows.map(r => (r._2, r._3)).toArray.sortBy(identity)
        val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
        var open = state.getOption
        ts.foreach { case (t, _) =>
          open match {
            case None =>
              open = Some(OpenSession(1L, t, t, 1L))
            case Some(o) if o.nEvents == 0L || t - o.endTs > gapNs =>
              // a tombstone (already emitted on timeout) just advances the
              // numbering; a live session closes and emits here
              if (o.nEvents > 0L)
                out += SessionOut(user, o.sessionId, o.nEvents, o.startTs, o.endTs)
              open = Some(OpenSession(o.sessionId + 1, t, t, 1L))
            case Some(o) =>
              open = Some(o.copy(endTs = math.max(o.endTs, t),
                nEvents = o.nEvents + 1))
          }
        }
        open.foreach { o =>
          state.update(o)
          // close via timeout once the watermark passes end + gap
          state.setTimeoutTimestamp(math.max(o.endTs / 1000000L,
            state.getCurrentWatermarkMs()) + gapNs / 1000000L)
        }
        out.iterator
      }
  }

  /** Gap-based sessionization (30-min inactivity) as a batch pipeline with
    * window functions — the batch-equivalent of
    * `flatMapGroupsWithState`-based session tracking, verifiable in SQL.
    * Session boundaries: event starts a new session when the previous event
    * of the same user is more than `gap` ns earlier.
    */
  def sessionize(events: DataFrame, gapNs: Long = 30L * 60 * 1000000000L): DataFrame = {
    // event_id tiebreak: equal timestamps must rank identically everywhere
    // or the cumulative session counter diverges between engines
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val flagged = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  /** Gap sessionization via Spark's NATIVE `session_window` operator —
    * the built-in Catalyst path (UpdatingSessions + session-merging
    * aggregation) that [[sessionize]] hand-rolls with window functions.
    * At scale this is the preferred shape: one shuffle on the group key,
    * sessions merged inside the aggregation with no full per-user sort
    * window, and the SAME aggregation runs unchanged over a streaming
    * input (NativeWindowOpsSpec drives it through watermark + append
    * mode and pins the emitted set to the watermark-finalized sessions).
    *
    * Boundary semantics differ from [[sessionize]] in exactly one case:
    * `session_window` treats a gap EQUAL to `gap` as a new session
    * (half-open windows: an event at `prev + gap` starts at the previous
    * window's exclusive end), where [[sessionize]] keeps it (strict `>`).
    * The oracle mirrors `>=`; sessions carry no ordinal (identity is the
    * window itself), so output is (user, count, start, end).
    *
    * `events` needs epoch-ns `ts` (µs-aligned so the `event_ts`
    * derivation loses nothing) and `user_id`.
    */
  def sessionizeNative(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .groupBy(col("user_id"), session_window(col("event_ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .select(col("user_id"), col("n_events"),
        col("session_start"), col("session_end"))

  /** SLIDING 2-hour / 1-hour-slide window aggregation through a real
    * streaming query (file source → watermark → overlapping windows →
    * complete-mode memory sink, drained synchronously like
    * [[hourlyWindowAgg]]). Every event lands in exactly window/slide = 2
    * windows — the trend/alerting shape a tumbling window cannot
    * express; Spark expands the window set per row before the same
    * partial-aggregation shuffle, so cost scales with the overlap
    * factor, not with state.
    */
  def slidingWindowAgg(s: SparkSession, dir: String): DataFrame =
    windowAggDrain(s, dir, "2 hours", Some("1 hour"))

  /** Watermarked STREAM-STREAM interval join: click→purchase attribution.
    *
    * Purchases join clicks of the SAME user within a 24-hour lookback —
    * the canonical attribution/feature-enrichment shape of a continuous
    * training-data pipeline, and the one Structured Streaming operator
    * class (symmetric joins with per-side buffered state) the window/
    * session aggregations above don't exercise. Both sides carry an
    * event-time watermark and the join predicate carries the time bound,
    * so Spark derives a state-eviction horizon PER SIDE: each executor
    * buffers only ~horizon + lateness of events per user partition — at
    * a 100 TB/day ingest rate, state is rate × 25 h, not the corpus.
    * Inner join ⇒ every qualifying pair is emitted as soon as both rows
    * are in state, so a synchronous drain of a static dir is exactly the
    * batch join — DuckDB-oracle-comparable (the eviction horizon only
    * DROPS state that can no longer match; with no late data it changes
    * nothing).
    *
    * Package-visible so the spec and the file-sink twin drive the same
    * unsunk stream.
    */
  private[streaming] def attributionJoinStream(s: SparkSession,
      dir: String, joinType: String = "inner"): DataFrame = {
    val ev = eventsStream(s, dir)
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
        col("event_ts").as("buy_ts"))
      .withWatermark("buy_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("event_ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    buys.join(clicks,
      col("buy_user") === col("click_user") &&
        col("click_ts") <= col("buy_ts") &&
        col("click_ts") >= col("buy_ts") - expr("INTERVAL 24 HOURS"),
      joinType)
      .select(col("buy_id"), col("click_id"),
        col("buy_user").as("user_id"),
        unix_micros(col("buy_ts")).as("buy_ts_us"),
        unix_micros(col("click_ts")).as("click_ts_us"))
  }

  /** [[attributionJoinStream]] drained synchronously through a memory
    * sink — the oracle harness shape (driver-collect by design; the
    * scale shape is [[attributionJoinToFiles]]). */
  def attributionJoin(s: SparkSession, dir: String): DataFrame =
    drainJoin(s, attributionJoinStream(s, dir))

  /** SKEW-SALTED stream-stream attribution join: the streaming twin of
    * [[graft.operators.SkewJoin.intervalJoinBucketed]], producing the
    * exact pair set of [[attributionJoinStream]] (same DuckDB oracle;
    * differential-pinned by StreamJoinSpec).
    *
    * Why it exists: the unsalted join hash-partitions BOTH sides' state
    * by `user_id`, so one bot/celebrity user concentrates its entire
    * 25 h state-and-probe workload on a single state-store partition —
    * and in STATEFUL STREAMING there is no AQE to split it (AQE skew
    * handling only rewrites batch shuffle reads; state-store assignment
    * is fixed by the keys at query start). Salting the equality key is
    * the ONLY lever, and as in the batch twin the right salt is the
    * event-time horizon bucket, not a random int:
    *
    *  - state spreads over `(user, bucket)` — a hot user's day of
    *    clicks lands on ~2 partitions per horizon instead of one
    *    partition forever, and the spread tracks time, so it holds for
    *    a key that is hot for a month;
    *  - a random salt of width W would replicate every BUY to W
    *    partitions (unbounded extra state); the time salt replicates
    *    each CLICK to exactly 2 buckets — bounded, and only while the
    *    click is inside its eviction horizon;
    *  - bucket equality TIGHTENS the join (`bucket(buy) ∈
    *    {bucket(click), bucket(click)+1}` ⊇ the interval bound), so
    *    pairs are found exactly once via the replica whose bucket
    *    matches — no dedup pass, same emission timing: a pair emits
    *    when both rows are in state, exactly as unsalted.
    *
    * Watermark/eviction are unchanged: both sides keep their event-time
    * watermark and the µs-precision interval predicate, from which
    * Spark derives the same per-side state horizon (the added equality
    * narrows state keys, it does not extend lifetimes). Buckets use
    * the SAME floor-division expression as the batch twin
    * (`SkewJoin.floorBucket`) so the two agree on every timestamp,
    * including pre-1970 negative epochs where truncating `div` would
    * merge buckets -1 and 0.
    */
  private[streaming] def attributionJoinStreamSalted(s: SparkSession,
      dir: String): DataFrame = {
    val horizonUs = 24L * 3600 * 1000000L
    def bucket(tsCol: String): org.apache.spark.sql.Column =
      graft.operators.SkewJoin.floorBucket(s"unix_micros($tsCol)", horizonUs)
    val ev = eventsStream(s, dir)
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
        col("event_ts").as("buy_ts"))
      .withWatermark("buy_ts", "1 hour")
      .withColumn("buy_bucket", bucket("buy_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("event_ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
      .withColumn("click_bucket",
        explode(array(bucket("click_ts"), bucket("click_ts") + 1)))
    buys.join(clicks,
      col("buy_user") === col("click_user") &&
        col("buy_bucket") === col("click_bucket") &&
        col("click_ts") <= col("buy_ts") &&
        col("click_ts") >= col("buy_ts") - expr("INTERVAL 24 HOURS"),
      "inner")
      .select(col("buy_id"), col("click_id"),
        col("buy_user").as("user_id"),
        unix_micros(col("buy_ts")).as("buy_ts_us"),
        unix_micros(col("click_ts")).as("click_ts_us"))
  }

  /** [[attributionJoinStreamSalted]] drained through the memory-sink
    * oracle harness (same oracle as [[attributionJoin]]). */
  def attributionJoinSalted(s: SparkSession, dir: String): DataFrame =
    drainJoin(s, attributionJoinStreamSalted(s, dir))

  /** [[attributionJoinStreamSalted]] in its scale shape: RocksDB state,
    * exactly-once parquet sink — the file twin ScaleSmoke times. */
  def attributionJoinSaltedToFiles(s: SparkSession, dir: String,
      outDir: String, checkpointDir: String): DataFrame =
    withRocksDB(s) {
      drainToFiles(s, attributionJoinStreamSalted(s, dir), outDir,
        checkpointDir)
    }

  /** LEFT-OUTER attribution: matched pairs as [[attributionJoin]], plus
    * one null-click row per UNATTRIBUTED purchase — emitted only once
    * the watermark proves no matching click can still arrive.
    *
    * The outer emission semantics are pinned empirically and encoded in
    * the oracle + StreamJoinSpec: a purchase is null-emitted iff
    * `buy_ts_us <= (wm_ms - 1) * 1000`, where
    * `wm_ms = min(max buy event ms, max click event ms) - 3_600_000` —
    * Spark tracks watermarks in ms (floor-truncated from the µs event
    * time), applies the min-across-watermark-operators policy, and its
    * symmetric-join state watermark sits 1 ms behind the global
    * watermark; the state predicate itself compares at µs precision.
    * Purchases newer than the cutoff stay buffered (not emitted) — the
    * honest streaming answer, which the DuckDB oracle reproduces with
    * the same cutoff formula over the drained data.
    */
  def attributionJoinOuter(s: SparkSession, dir: String): DataFrame =
    drainJoin(s, attributionJoinStream(s, dir, "left_outer"))

  /** Memory-sink drain for the oracle harnesses. A stateful streaming
    * operator keeps one state store per shuffle partition (a
    * stream-stream join keeps FOUR: keyToNumValues + keyWithIndexToValue,
    * per side), and the default HDFS-backed provider pays a per-store
    * per-batch file commit — at 32 partitions that is 32-128 synchronous
    * commits of test-sized state per micro-batch, which dominates the
    * drain. The state partition count is captured from
    * `spark.sql.shuffle.partitions` at query START (per checkpoint), so
    * the harness pins a small count for its fresh throwaway checkpoint
    * and restores the session conf after; the file-sink scale twins
    * keep the session's production partitioning. (r21: generalized from
    * the join harnesses to every memory-sink oracle drain — the window/
    * KMV/dedup/session harnesses paid the same 32-store commit tax.)
    *
    * Result-identical by construction: every stateful operator here is
    * key-deterministic (per-key folds, per-window aggregates), so the
    * emitted relation does not depend on how keys spread over state
    * partitions. */
  private def drainMemorySink(s: SparkSession, namePrefix: String,
      outputMode: String)(mkStream: => DataFrame): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    try {
      val tableName = s"${namePrefix}_${System.nanoTime()}"
      val q = mkStream.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(tableName)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      s.table(tableName)
    } finally s.conf.set(key, prev)
  }

  private def drainJoin(s: SparkSession, mkJoined: => DataFrame): DataFrame =
    drainMemorySink(s, "stream_join", "append")(mkJoined)

  /** [[attributionJoinStream]] in its scale shape: append-mode parquet
    * file sink on the RocksDB state store — join state (both buffered
    * sides) spills to executor-local disk, emitted pairs land
    * exactly-once via the sink's commit log. */
  def attributionJoinToFiles(s: SparkSession, dir: String, outDir: String,
      checkpointDir: String, joinType: String = "inner"): DataFrame =
    withRocksDB(s) {
      drainToFiles(s, attributionJoinStream(s, dir, joinType), outDir,
        checkpointDir)
    }

  /** State for [[asOfFold]]: the single compressed prior-click summary
    * (the newest click the watermark has sealed) plus the
    * not-yet-finalizable tails of both sides. This is what makes the
    * streaming as-of's state O(lateness window) per key instead of
    * O(history): every click at or below the emission cutoff can only
    * ever lose to a newer sealed click for all FUTURE purchases (which
    * arrive with ts ≥ watermark), so the whole sealed prefix folds into
    * one (ts, id). */
  final case class AsOfKeep(hasBest: Boolean, bestTs: Long, bestId: Long,
      pendClicks: List[(Long, Long)], pendBuys: List[(Long, Long)])

  final case class AsOfOut(buy_id: Long, user_id: Long, buy_ts_us: Long,
      click_id: Option[Long], click_ts_us: Option[Long])

  /** The per-user streaming as-of fold: buffer both sides until the
    * watermark seals them, then finalize purchases in event-time order
    * against a running newest-prior-click, exactly the batch
    * [[graft.operators.AsOfJoin]] carry-forward applied to the sealed
    * segment. Purchases finalize iff
    * `buy_ts_us <= (wm_ms - 1) * 1000` — the probe-pinned cutoff the
    * outer interval join established (wm tracked in ms, state watermark
    * 1 ms behind, µs compare); newer purchases stay buffered, the
    * honest streaming answer. Equal-ts click ties resolve to the
    * largest click_id (the batch operator's tie-break); a click at the
    * same µs as a purchase matches it (inclusive as-of).
    */
  def asOfFold: (Long,
      Iterator[(Long, Long, Long, Boolean, java.sql.Timestamp)],
      org.apache.spark.sql.streaming.GroupState[AsOfKeep]) =>
      Iterator[AsOfOut] = { (user, rows, state) =>
    var st = state.getOption.getOrElse(AsOfKeep(false, 0L, 0L, Nil, Nil))
    if (!state.hasTimedOut) {
      rows.foreach { case (_, tsUs, id, isBuy, _) =>
        st =
          if (isBuy) st.copy(pendBuys = (tsUs, id) :: st.pendBuys)
          else st.copy(pendClicks = (tsUs, id) :: st.pendClicks)
      }
    }
    val wmMs = state.getCurrentWatermarkMs()
    val cutoffUs = (wmMs - 1L) * 1000L
    // the sealed segment, walked in (ts, clicks-before-buys, id) order —
    // a click at a purchase's own µs is visible to it (inclusive match)
    val sealedSeg = (st.pendClicks.collect {
        case (ts, id) if ts <= cutoffUs => (ts, 0, id)
      } ++ st.pendBuys.collect {
        case (ts, id) if ts <= cutoffUs => (ts, 1, id)
      }).sorted
    var (has, bestTs, bestId) = (st.hasBest, st.bestTs, st.bestId)
    val out = scala.collection.mutable.ListBuffer.empty[AsOfOut]
    sealedSeg.foreach {
      case (ts, 0, id) =>
        // the guard (not blind overwrite) keeps a late click that is
        // older than the already-sealed best from regressing it
        if (!has || ts > bestTs || (ts == bestTs && id > bestId)) {
          has = true; bestTs = ts; bestId = id
        }
      case (ts, _, id) =>
        out += AsOfOut(id, user, ts,
          if (has) Some(bestId) else None,
          if (has) Some(bestTs) else None)
    }
    st = AsOfKeep(has, bestTs, bestId,
      st.pendClicks.filter(_._1 > cutoffUs),
      st.pendBuys.filter(_._1 > cutoffUs))
    state.update(st)
    // wake on the next watermark advance while anything is unsealed;
    // a key with only the compressed best carries no timeout (O(1)
    // state at rest, alive for whatever future purchases arrive)
    if (st.pendClicks.nonEmpty || st.pendBuys.nonEmpty)
      state.setTimeoutTimestamp(wmMs + 1L)
    out.iterator
  }

  /** Watermarked STREAMING as-of join: for every purchase, the single
    * newest click at-or-before it by the same user, UNBOUNDED lookback —
    * the stateful twin of [[graft.operators.AsOfJoin.asOfJoin]], the way
    * [[attributionJoinStreamSalted]] twins the batch interval join.
    *
    * An unbounded as-of cannot be a symmetric stream-stream join (no
    * time bound ⇒ no state-eviction horizon ⇒ unbounded click buffers),
    * so it runs as `flatMapGroupsWithState` keyed by user with
    * [[asOfFold]]'s sealed-prefix compression: per-key state at rest is
    * ONE (ts, id) pair however long the history — the property that
    * makes unbounded-lookback attribution viable at a 100 TB/day ingest
    * rate where the interval join's rate × horizon state would be the
    * wrong trade (no horizon exists to bound it).
    */
  private[streaming] def asOfJoinStream(s: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import s.implicits._
    eventsStream(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withWatermark("event_ts", "1 hour")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"),
        (col("event_type") === "purchase").as("is_buy"), col("event_ts"))
      .as[(Long, Long, Long, Boolean, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsOfKeep, AsOfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(asOfFold)
      .toDF()
  }

  /** [[asOfJoinStream]] drained through the memory-sink oracle harness
    * (driver-collect by design; scale shape below). */
  def streamingAsOf(s: SparkSession, dir: String): DataFrame =
    drainJoin(s, asOfJoinStream(s, dir))

  /** [[asOfJoinStream]] in its scale shape: RocksDB state store,
    * exactly-once parquet sink. */
  def streamingAsOfToFiles(s: SparkSession, dir: String, outDir: String,
      checkpointDir: String): DataFrame =
    withRocksDB(s) {
      drainToFiles(s, asOfJoinStream(s, dir), outDir, checkpointDir)
    }

  /** Continuous ingest INTO a wide-column table: the events stream as
    * cells, driven through `foreachBatch` into
    * [[graft.core.Smoltable.writeBulkOnce]] — exactly-once per
    * micro-batch (the idempotent-sink handshake documented there). The
    * 100 TB continuous-ingest shape: each micro-batch is ONE distributed
    * writeBulk append (no driver materialization, no per-row writes),
    * and the only sink-side state is the manifest's high-water batch id.
    * Cells are keyed by the globally-unique event id, so coordinates
    * never collide and the landed set is independent of how the source
    * splits micro-batches. Drains everything currently available, then
    * returns (restartable on the same checkpoint: see
    * StreamingIngestSpec's kill+resume).
    */
  def ingestEventsIntoTable(s: SparkSession, dir: String,
      t: graft.core.Smoltable, checkpointDir: String): Unit =
    ingestCellsIntoTable(
      eventsStream(s, dir).select(
        lpad(col("event_id").cast("string"), 12, "0").as("row_key"),
        lit("ev").as("family"),
        col("event_type").as("qualifier"),
        expr("(ts div 1000) * 1000").as("ts"),
        graft.SparkEntry.cellValueStruct(lit("f64"),
          lit(null).cast("string"), col("value").cast("double"))
          .as("value")),
      t, checkpointDir)

  /** The generic exactly-once cell sink behind [[ingestEventsIntoTable]]:
    * any STREAMING cell frame `(row_key, family, qualifier, ts, value
    * struct)` lands into `t` one idempotent writeBulk per micro-batch.
    * Callers own the source→cell mapping; this owns the
    * foreachBatch/`writeBulkOnce` handshake. Drains what is currently
    * available, then returns; restart with the same checkpoint resumes
    * exactly-once. */
  def ingestCellsIntoTable(cells: DataFrame, t: graft.core.Smoltable,
      checkpointDir: String): Unit = {
    val q = cells.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        t.writeBulkOnce(id, batch.toDF()); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}
