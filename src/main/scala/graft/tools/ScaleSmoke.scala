package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale check: synthesize a `factor`× copy of the sf dir
  * (union of key-shifted copies — same value distributions, same file
  * format the driver generates) and run a representative slice of the
  * driver-contract queries at 1× and at `factor`×, printing per-query
  * times and the scaled/base ratio.
  *
  * What "good" looks like per query class:
  *  - pruned point/prefix reads (`eng_get_row`, `eng_scan_prefix`,
  *    `op03`): ratio ≈ 1 — the physical layout (lg= pruning, row-group
  *    skipping, bucket pruning) keeps touched bytes constant while the
  *    corpus grows;
  *  - full passes (`op18_full_count`, `ext_dedup_exact`, scans with
  *    global predicates): ratio ≈ factor — linear in input, the best any
  *    full pass can do; SUB-linear here would mean the query skipped
  *    input it should have read;
  *  - shuffle-bound operators (`ext_dedup_minhash`, ANN): ratio between
  *    1 and factor, and crucially not ≫ factor — a super-linear ratio is
  *    the scale-killer signature (all-pairs joins, unbounded fan-out).
  *
  * The scaled corpus is cached under /tmp keyed by (base dir, factor);
  * one-time engine-table / ANN-layout builds on the scaled dir are timed
  * separately (they are ingest, not query, cost).
  *
  * Usage: `runMain graft.tools.ScaleSmoke [sfDir] [factor] [runs] [slice]`
  * — `slice` is `all` (default) or `ann` (the ANN query family only, for
  * high-factor layout-manifest probes where the full slice would mostly
  * measure linear full-pass cost).
  */
object ScaleSmoke {

  /** The measured slice: every §2 operator class (point get, prefix/range
    * scan, limits, sampling, counts, engine-backed reads) plus the
    * LLM-pipeline operators that shuffle (dedup family, every ANN path —
    * brute force, LSH logical + layout, IVF pinned/adaptive/layout —
    * batch + stateful-streaming sessionization) and the streaming window
    * in its append/file-sink scale shape. */
  private val Names = Seq(
    "op03_scan_prefix", "op04_scan_range", "op11_row_limit",
    "op16_sampling", "op17_scan_count", "op18_full_count",
    "eng_get_row", "eng_scan_prefix", "eng_locality_scan",
    "ext_dedup_exact", "ext_dedup_minhash", "ext_dedup_simhash",
    "ext_fingerprint", "ext_lang_id",
    "ext_ann_bruteforce", "ext_ann_bucketed", "eng_ann_bucketed",
    "ext_ann_ivf", "ext_ann_ivf_adaptive", "eng_ann_ivf",
    "ext_sessionize", "ext_sessionize_stream", "ext_dedup_stream_files",
    "ext_dedup_stream_bounded_files", "ext_stream_window_append",
    "ext_dedup_cluster", "ext_dedup_cluster_dist",
    "ext_dedup_cluster_fixedgraph",
    "ext_stratified_sample", "ext_sample_threshold",
    "ext_decontaminate", "ext_ann_quantized", "ext_curation_pipeline",
    "ext_repetition", "ext_topk_per_group",
    // round 14: engine-path mutation rows (clone-per-construction —
    // clone cost included), exactly-once streaming ingest, and the
    // SQL-surface twins (pushdown-through-view at scale)
    "eng_delete_row", "eng_write_upsert", "eng_stream_ingest",
    "sql_scan_prefix", "sql_dedup_exact", "sql_sample_threshold",
    // round 14b: range scan through real storage (prune-bounded),
    // physical compaction as a contract row (clone + full rewrite —
    // linear by construction, like the maint slice's compact), and the
    // stream-stream interval join in its file-sink shape
    "eng_scan_range", "eng_compact", "ext_stream_join_files",
    "ext_approx_distinct", "ext_quantile_sampled",
    "ext_stream_join_outer_files", "ext_join_skew_bucketed",
    "ext_sample_weighted", "ext_stream_kmv_files",
    "ext_pack_sequences",
    // round 15: the stateful-streaming skew twin, the PII regex pass,
    // and the TF-IDF two-level aggregate
    "ext_stream_join_salted_files", "ext_pii_scan", "ext_tfidf",
    "ext_dedup_incremental",
    // round 15b: the carry-forward as-of join (one keyed exchange) and
    // the broadcast-centroid integer k-means (T scans + k·d-row
    // shuffles — the update cost is centroid-sized, not corpus-sized)
    "ext_join_asof", "ext_cluster_kmeans", "ext_stream_asof_files",
    "ext_chunk_documents", "ext_split_assign", "ext_rebalance_langs",
    "ext_pipeline_prep", "ext_ann_ivf_kmeans", "ext_corpus_stats",
    // round 16: the redaction payload projection, the incremental
    // near-dup filter (per-band aggregates, no pairs), and the SQL-text
    // front doors (same plans as their DataFrame twins — pinned here)
    "ext_pii_redact", "ext_dedup_incremental_minhash",
    "sql_join_asof", "sql_split_assign",
    // round 17: the band-store incremental near-dup filter (contract
    // row — batch grows with the factor like its legacy twin) and the
    // FLATNESS row (fixed batch, landed corpus grows with the factor:
    // the bucketed sorted store must keep the membership lookup
    // batch-sized, so the ratio target is ~1, not ~factor)
    "ext_dedup_incremental_store", "ext_dedup_incstore_fixedbatch",
    // round 18: the maintained-store flatness twin (50 small appends +
    // scheduled compaction ≡ one-append cost), the incremental semantic
    // dedup (fixed batch vs the landed per-cluster store), the hybrid
    // BM25×IVF fusion, and the multimodal packer
    "ext_dedup_incstore_maintained", "ext_dedup_semantic_incremental",
    "ext_retrieve_hybrid", "ext_retrieve_hybrid_qvec",
    "ext_pack_multimodal", "ext_semantic_drift",
    "ext_rebalance_clusters",
    "eng_ann_ivf_persisted_append",
    // round 17: semantic dedup (kmeans-family band expected), the
    // one-pass multi-query BM25, the full prep pipeline with quality +
    // redaction folded in, and the persisted kmeans-IVF serving index
    "ext_dedup_semantic", "ext_bm25_multi", "ext_pipeline_prep_v2",
    "eng_ann_ivf_persisted", "ext_dedup_incremental_exact_store",
    // round 17b: the rows rebuilt on one-pass kernels (quality gate,
    // BM25 single-query, token counting) — in the default slice so
    // every future campaign regression-gates the kernel family
    "ext_bm25", "ext_quality_gate", "ext_quality_score",
    "ext_token_count", "ext_dedup_ngram_jaccard",
    // round 19: the drift→retrained versioned-pointer probes (layout
    // build is one-time ingest, cached per scaled dir like the other
    // ANN layouts), the SQL fusion door, perceptual image dedup
    // (banded pair join — hash table grows with the corpus, planted
    // pairs constant), and the composed five-stage curation stream
    "eng_ann_ivf_retrained", "eng_ann_recall_retrained",
    "sql_retrieve_hybrid", "ext_dedup_images", "ext_stream_curate",
    // round 20: the live-stream retrain cutover (per-run retrain +
    // re-key + 2-batch stream — the retrain is a full kmeans build,
    // linear in the corpus by design) and the drained-stream disk
    // audit (curation stream + retrain + maintenance, then pure
    // landed-state reads)
    "ext_dedup_stream_semantic_retrained", "ext_stream_curate_audit")

  private val AnnNames = Seq(
    "ext_ann_bruteforce", "ext_ann_bucketed", "eng_ann_bucketed",
    "ext_ann_ivf", "ext_ann_ivf_adaptive", "eng_ann_ivf",
    "ext_ann_quantized", "ext_ann_ivf_quantized",
    "ext_ann_ivf_quantized_adaptive", "ext_ann_ivf_kmeans",
    "ext_ann_ivf_kmeans_adaptive")

  /** Streaming sink/checkpoint dirs created by the [[Extra]] runners —
    * fresh per run (a reused checkpoint would replay nothing and time an
    * empty batch), deleted at the end of main: at factor 100 each
    * session-sink dir holds the full 100× emitted output, and 8 runs per
    * campaign would otherwise accumulate gigabytes in /tmp. */
  private val scratchDirs =
    scala.collection.mutable.ArrayBuffer.empty[String]
  private def scratch(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    scratchDirs.synchronized(scratchDirs += d)
    d
  }
  private def dropScratch(): Unit = scratchDirs.synchronized {
    scratchDirs.foreach { d =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s.close()
    }
    scratchDirs.clear()
  }

  /** Scale-shape runners that are not driver-contract `queries` entries:
    * the streaming window's append-mode file sink (the 100 TB shape —
    * the contract entry's complete-mode memory sink re-collects the full
    * result per trigger, which is the oracle harness's cost, not the
    * operator's). */
  private val Extra: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ext_stream_window_append" -> ((s, dir) =>
      graft.streaming.StreamOps.hourlyWindowAggToFiles(s, dir,
        scratch("sw_out"), scratch("sw_ck"))),
    // true stateful streaming (flatMapGroupsWithState + event-time
    // timeouts) — the keyed-state family's scale row, in its file-sink
    // scale shape (the memory-sink oracle harness collects every emitted
    // session to the driver and OOMs at high factors — harness cost, not
    // operator cost)
    "ext_sessionize_stream" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingSessionizeToFiles(s, dir,
        scratch("ss_out"), scratch("ss_ck"))),
    // stateful streaming dedup: one NoTimeout state entry per DISTINCT
    // content hash (the corpus scales distinct hashes ~factor via the
    // per-copy bijection) — with sessionize-stream this puts both keyed
    // state shapes on the RocksDB provider in the measured slice
    // "_files" suffix: distinct from the SparkEntry contract entry
    // ext_dedup_stream (memory-sink oracle harness) — this is the
    // file-sink + RocksDB scale shape
    "ext_dedup_stream_files" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingDedupToFiles(s, dir,
        scratch("sd_out"), scratch("sd_ck"))),
    // horizon-bounded dedup (dropDuplicatesWithinWatermark) in its
    // file-sink RocksDB shape: state is keys-per-horizon, the BOUNDED
    // contrast to ext_dedup_stream_files' distinct-keys-ever state
    "ext_dedup_stream_bounded_files" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingDedupBoundedToFiles(s, dir,
        scratch("sb_out"), scratch("sb_ck"))),
    // stream-stream interval join in its scale shape (RocksDB-buffered
    // symmetric join state + exactly-once file sink): state is bounded
    // by the 24h horizon + 1h lateness per side, so the ratio should
    // track emitted-pair growth (the scaled corpus key-shifts users →
    // pair growth ~factor), never corpus²
    "ext_stream_join_files" -> ((s, dir) =>
      graft.streaming.StreamOps.attributionJoinToFiles(s, dir,
        scratch("sj_out"), scratch("sj_ck"))),
    // left-outer twin: adds the watermark-gated null-row emission pass
    // on top of the same bounded symmetric state
    "ext_stream_join_outer_files" -> ((s, dir) =>
      graft.streaming.StreamOps.attributionJoinToFiles(s, dir,
        scratch("sjo_out"), scratch("sjo_ck"), joinType = "left_outer")),
    // skew-salted twin: (user, horizon-bucket) state keys, 2× click
    // replication — the stateful-streaming skew insurance; same bounded
    // state horizon, ratio should track the unsalted twin
    "ext_stream_join_salted_files" -> ((s, dir) =>
      graft.streaming.StreamOps.attributionJoinSaltedToFiles(s, dir,
        scratch("sjs_out"), scratch("sjs_ck"))),
    // streaming as-of in its scale shape (RocksDB keyed state +
    // exactly-once file sink): the sealed-prefix compression keeps
    // state-at-rest to ONE click per user whatever the factor does to
    // history length — the ratio should track emitted purchases
    "ext_stream_asof_files" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingAsOfToFiles(s, dir,
        scratch("sa_out"), scratch("sa_ck"))),
    // the KMV sketch as RocksDB streaming state in append mode: the
    // scale twin of the ext_stream_kmv oracle harness — per-window
    // buffers stay k longs however many users the factor adds
    "ext_stream_kmv_files" -> ((s, dir) =>
      graft.streaming.StreamOps.dailyKmvDistinctUsersToFiles(s, dir,
        scratch("sk_out"), scratch("sk_ck"))),
    // connected components with the driver union-find path DISABLED —
    // the contract entry auto-picks the driver path at every test SF
    // (the bijection corpus keeps pair counts far under the 1M-edge
    // threshold even at 100×), so this row is the scale evidence for
    // the distributed alternating-star loop, the path the 100 TB
    // regime (billions of pairs) actually runs
    // the DECOMPOSED cluster row: duplicates planted ONLY from copy 0's
    // id range, so the planted pair graph is CONSTANT while the corpus
    // scales with the factor — separating the driver union-find path's
    // input-size scaling (minhash + banding over the whole corpus, then
    // a fixed-size graph) from the contract entry's graph-size scaling
    // (its planting rule replicates per copy, so ITS graph grows with
    // the factor; at 100× that row measures both effects compounded)
    "ext_dedup_cluster_fixedgraph" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      // copies shift doc_id by i*100M and hold < 1M real ids each, so
      // < 100M selects exactly copy 0 and +50M is collision-free
      val planted = docs.unionAll(docs
        .filter(col("doc_id") % 50 === 0 && col("doc_id") < 100000000L)
        .select((col("doc_id") + 50000000L).as("doc_id"), col("text")))
      val pairs = graft.operators.Dedup.minhashCandidates(planted)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      planted.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),
    // the landed-growth flatness probe for the band store: the BATCH is
    // pinned to copy 0 (constant as the factor grows) while the landed
    // side — the %3 slice of the WHOLE scaled corpus — grows with the
    // factor. The r16 full-scan+re-distinct membership would scale this
    // row ~linearly with the factor; the bucketed sorted store's pruned
    // lookup keeps it flat (store build is one-time, cached per dir
    // like the engine tables — ingest cost, not query cost)
    "ext_dedup_incstore_fixedbatch" -> ((s, dir) => {
      val store = graft.SparkEntry.landedBandsStore(s, dir)
      val copy0 = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 100000000L)
      val batch = copy0.unionAll(copy0.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Dedup.incrementalMinhashWithStore(batch, store)._1
    }),
    // the MAINTAINED-store twin (round 18): same fixed batch, but the
    // landed store was built as 50 SMALL appends (the fragmentation a
    // per-micro-batch pipeline accumulates) and then run through the
    // scheduled maintenance pass (expire none, compact) — the lookup
    // must cost what the single-append store's does (flat vs
    // ext_dedup_incstore_fixedbatch, ~1 vs the factor), proving the
    // Workers-cadence compaction restores tight row-group stats
    // instead of merely shrinking the file count. Store build is
    // one-time ingest cost, cached per (dir, fingerprint)
    "ext_dedup_incstore_maintained" -> ((s, dir) => {
      val store = maintainedBandsStore(s, dir)
      val copy0 = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 100000000L)
      val batch = copy0.unionAll(copy0.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Dedup.incrementalMinhashWithStore(batch, store)._1
    }),
    "ext_dedup_cluster_dist" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      // +50M, not the contract entry's +1M: planted ids must stay
      // clear of every copy's real id range (copies shift by i*100M and
      // hold < 1M real ids each) or two different texts share a doc_id
      val planted = docs.unionAll(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 50000000L).as("doc_id"), col("text")))
      val pairs = graft.operators.Dedup.minhashCandidates(planted)
      val comps = graft.operators.Dedup.connectedComponents(pairs,
        driverEdgeLimit = 0L)
      planted.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }))

  /** Multi-version cell view for the maintenance rows: one cell per
    * event, keyed by user, qualified by event type, real event-time ns
    * timestamps — the only view where version-limit and TTL GC have
    * genuine work to do. Key padded to 12 (not the contract view's 6):
    * Spark `lpad` TRUNCATES overlong input, and the scaled copies shift
    * user_id by i×100M — a 6-wide pad would collapse every shifted copy
    * onto a handful of row keys, GC-ing 96% of cells instead of the
    * base's 63% and measuring a different workload at factor× than at 1×. */
  private def maintEventCells(s: SparkSession, dir: String): DataFrame = {
    // schema-adaptive epoch-ns normalization (TIMESTAMP NANOS/MICROS or
    // raw INT64 — the scaled copies below write the normalized Longs back)
    graft.sources.EventsSource.readEvents(s, dir).select(
      lpad(col("user_id").cast("string"), 12, "0").as("row_key"),
      lit("ev").as("family"),
      col("event_type").as("qualifier"),
      expr("(ts div 1000) * 1000").as("ts"),
      col("value").cast("double").as("vd"))
  }

  /** Engine-backed events table for the maintenance-verb rows
    * ([[maintEventCells]] bulk-loaded into a real
    * [[graft.core.Smoltable]]). Built once per (dir, source fingerprint)
    * like SparkEntry's engine caches; the maintenance rows clone it per
    * run (the verbs mutate). */
  /** The fragmented-then-maintained band store for
    * `ext_dedup_incstore_maintained`: the SAME landed slice as
    * [[graft.SparkEntry.landedBandsStore]] (docs with `doc_id % 3 = 0`),
    * but landed as 50 id-sliced `batch=` appends and then compacted by
    * the scheduled maintenance task — identical membership, different
    * on-disk history. Built once per (dir, source fingerprint). */
  private def maintainedBandsStore(s: SparkSession,
      dir: String): graft.operators.BatchStore = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val fp = java.lang.Long.toHexString(31L * src.length + src.lastModified)
    val base = s"/tmp/graft_bandstore_maint_" +
      s"${Integer.toHexString(dir.hashCode)}_$fp"
    val store = graft.operators.BatchStore.open(s, base,
      graft.operators.BatchStore.Bands)
    if (!store.nonEmpty) {
      val landed = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val sigs = graft.operators.Dedup.minhashSignatures(landed, 8,
        graft.operators.Dedup.DefaultSeeds)
      // 50 small id-sliced appends, then the maintenance pass compacts
      val banded = graft.operators.Dedup.bandRows(sigs, 2)
        .withColumn("_sub", pmod(col("doc_id"), lit(50L)))
      for (i <- 0 until 50)
        store.append(banded.filter(col("_sub") === i).select("band"),
          s"sub$i")
      store.maintenanceTask(compactAtBatches = 8)()
      require(store.batchTags().size == 1,
        s"maintenance must compact to one dir: ${store.batchTags()}")
    }
    store
  }

  private def engineEventsBase(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/events.parquet")
    val fp = java.lang.Long.toHexString(31L * src.length + src.lastModified)
    // v2: 12-wide row-key pad (v1 inherited the contract view's 6-wide
    // pad, whose lpad truncation collapsed scaled-copy keys)
    val base = s"/tmp/graft_scale_evt2_" +
      s"${Integer.toHexString(dir.hashCode)}_$fp"
    val t = graft.core.Smoltable.open(s, new graft.core.Catalog(base),
      "events")
    if (t.dataFileCount == 0) {
      t.createColumnFamilies(Seq(graft.model.ColumnFamilyDefinition("ev")))
      t.writeBulk(maintEventCells(s, dir).select(
        col("row_key"), col("family"), col("qualifier"), col("ts"),
        graft.SparkEntry.cellValueStruct(lit("f64"),
          lit(null).cast("string"), col("vd")).as("value")))
    }
    base
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val sliceArg = args.lift(3).getOrElse("all")
    val slice = sliceArg match {
      case "ann" => AnnNames
      case "maint" => Seq.empty[String] // maintenance verbs only
      case "all" => Names
      case names => names.split(",").toSeq // explicit query-name list
    }
    val spark = SparkSession.builder()
      .appName("graft-scale-smoke").master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val scaled = scaledDir(spark, base, factor)
    println(s"base=$base scaled=$scaled factor=${factor}x runs=$runs " +
      s"slice=$sliceArg")

    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm-up pass builds the one-time scaled artifacts (engine table,
    // ANN + IVF layouts) — ingest cost, reported separately from query
    // time
    // explicit-list slices skip the reported build section: any one-time
    // build cost lands in (and is discarded with) the per-dir warm pass
    val warmBuilds =
      if (slice eq AnnNames) Seq("eng_ann_bucketed", "eng_ann_ivf")
      else if (sliceArg == "all")
        Seq("eng_get_row", "eng_ann_bucketed", "eng_ann_ivf")
      else Seq.empty[String]
    for (dir <- Seq(base, scaled); n <- warmBuilds) {
      val t0 = System.nanoTime()
      sink(graft.SparkEntry.queries(n)(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      if (dt > 2.0) println(f"  [build+warm] $n @ $dir: $dt%.1fs")
    }

    val rows = slice.map { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n, Extra(n))
      def best(dir: String): Double =
        (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          sink(fn(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }.min
      // identical warm-then-measure protocol on BOTH sides: a discarded
      // warm pass per dir, so neither side's min includes cold-cache /
      // first-touch cost
      val wb = best(base)
      val tb = best(base)
      best(scaled) // discarded warm on the scaled dir
      val ts = best(scaled)
      val ratio = ts / tb
      println(f"$n%-24s base=$tb%7.3fs  ${factor}x=$ts%7.3fs  ratio=$ratio%5.2f")
      (n, tb, ts, ratio, wb)
    }

    // maintenance verbs: version GC, TTL GC, compaction — the engine's
    // copy-on-write rewrite surface. Each verb MUTATES the table, so each
    // run opens a fresh clone of the prebuilt engine events table (clone
    // cost excluded); protocol is warm-run-then-measure per dir, like the
    // query slice. Cost model: one full table read + survivor rewrite —
    // ratio should track the factor (a full pass), never exceed it.
    val maintRows = if (sliceArg == "all" || sliceArg == "maint") {
      println("\n-- maintenance verbs (fresh engine-table clone per run) --")
      // TTL cut at the median event time: ~half the cells die, and the ts
      // distribution is identical in base and scaled (copies shift ids,
      // not timestamps), so both sides GC the same fraction.
      val medianNs = maintEventCells(spark, base)
        .agg(expr("approx_percentile(ts, 0.5d)")).head().getLong(0)
      val ttlSecs = math.max(1L,
        java.time.Instant.now().getEpochSecond - medianNs / 1000000000L)
      val verbs: Seq[(String, graft.core.Smoltable => String)] = Seq(
        ("eng_gc_version", t => "dead=" + t.runVersionGcWith(Map("ev" ->
          graft.model.GcSettings(versionLimit = Some(5))))),
        ("eng_gc_ttl", t => "dead=" + t.runVersionGcWith(Map("ev" ->
          graft.model.GcSettings(ttlSecs = Some(ttlSecs))))),
        ("eng_compact", t => { val (b, a) = t.compact()
          s"files=$b->$a" }))
      verbs.map { case (nm, run) =>
        def timed(dir: String): (Double, String) = {
          val srcBase = engineEventsBase(spark, dir)
          def once(): (Double, String) = {
            // copy-on-write mutation → private clone per run (shared
            // helper with the eng_ mutation oracle rows; clone cost
            // excluded from the timing below)
            val t = graft.core.Smoltable.openClone(spark, srcBase, "events")
            val t0 = System.nanoTime()
            val detail = run(t)
            ((System.nanoTime() - t0) / 1e9, detail)
          }
          once() // discarded warm run on its own clone
          once()
        }
        val (tb, db) = timed(base)
        val (ts, dsc) = timed(scaled)
        val ratio = ts / tb
        println(f"$nm%-24s base=$tb%7.3fs  ${factor}x=$ts%7.3fs  " +
          f"ratio=$ratio%5.2f  [base $db, ${factor}x $dsc]")
        (nm, tb, ts, ratio, tb)
      }
    } else Seq.empty

    // rows measured mid-campaign can be inflated by accumulated JVM
    // state (GC/codegen-cache pressure from the dozens of queries that
    // ran before them — measured: the same query at 6.4x in-campaign
    // vs 1.0x isolated, SCALE.md "Round-17b"). Re-measure every >2x
    // query row at END of run and keep the better of the two passes —
    // a query is at least as fast as its best demonstrated run, so
    // late-campaign inflation can only ADD spurious ratio.
    val inflated = rows.filter(_._4 > 2.0)
    val rechecked: Map[String, (Double, Double, Double)] =
      if (inflated.isEmpty) Map.empty
      else {
        println(s"\nend-of-run re-measure of ${inflated.size} " +
          "ratio>2 rows (shared-JVM-state check, best pass kept):")
        inflated.map { case (n, tb0, ts0, r0, _) =>
          val fn = graft.SparkEntry.queries.getOrElse(n, Extra(n))
          def best(dir: String): Double =
            (0 to runs).map { _ =>
              val t0 = System.nanoTime()
              sink(fn(spark, dir))
              (System.nanoTime() - t0) / 1e9
            }.drop(1).min // leading warm pass discarded, like the main loop
          val tb = math.min(tb0, best(base))
          val ts = math.min(ts0, best(scaled))
          val ratio = ts / tb
          println(f"$n%-24s base=$tb%7.3fs  ${factor}x=$ts%7.3fs  " +
            f"ratio=$ratio%5.2f  [in-campaign $r0%.2f]")
          n -> ((tb, ts, ratio))
        }.toMap
      }
    val allRows = (rows ++ maintRows).map { case row @ (n, _, _, _, wb) =>
      rechecked.get(n) match {
        case Some((tb2, ts2, r2)) => (n, tb2, ts2, r2, wb)
        case None => row
      }
    }
    val worst = allRows.maxBy(_._4)
    println(f"\nworst ratio: ${worst._1} at ${worst._4}%.2f (factor=$factor)")
    val superLinear = allRows.filter(_._4 > factor * 1.3)
    println(if (superLinear.isEmpty)
      s"RESULT: no super-linear query at ${factor}x (all ratios <= ${factor}*1.3)"
    else s"RESULT: SUPER-LINEAR: ${superLinear.map(_._1).mkString(", ")}")

    // layout manifest footprint + read/planning cost at factor× — the
    // driver-side planning artifact whose size grows with the corpus
    // file count. The sharded manifest's claim: a probe reads CURRENT
    // plus only its probed partitions' shards, so the probe-planning
    // read stays flat while the full manifest grows with the layout.
    for ((label, path, probe) <- Seq(
        ("ann", graft.SparkEntry.annLayoutPath(scaled),
          // a representative 20-dir LSH probe set (4 tables × 5 probes)
          Seq.tabulate(20)(i => s"l=${i / 5}/bucket=${(i * 3) % 16}")),
        ("ivf", graft.SparkEntry.ivfLayoutPath(scaled),
          Seq.tabulate(8)(i => s"list=${i * 100}")))) {
      if (graft.operators.Similarity.manifestCommitted(path)) {
        val t0 = System.nanoTime()
        val full = graft.operators.Similarity.manifestFiles(path)._2
        val fullMs = (System.nanoTime() - t0) / 1e6
        val t1 = System.nanoTime()
        val probed =
          graft.operators.Similarity.manifestFiles(path, Some(probe))._2
        val probeMs = (System.nanoTime() - t1) / 1e6
        val mdir = java.nio.file.Paths.get(path,
          graft.operators.Similarity.LayoutManifestDirName)
        val bytes = if (java.nio.file.Files.isDirectory(mdir)) {
          val s = java.nio.file.Files.list(mdir)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(java.nio.file.Files.size).sum
          } finally s.close()
        } else 0L
        println(f"$label layout manifest @${factor}x: $bytes bytes gz, " +
          f"${full.size} entries, full read $fullMs%.1f ms; " +
          f"probe-subset read ${probed.size} entries $probeMs%.1f ms")
      }
    }
    dropScratch()
    spark.stop()
  }

  /** Build (or reuse) the `factor`× corpus: each copy `i` shifts every
    * integer key by `i * span` (span chosen per table so padded/string
    * key forms never collide) and applies a PER-COPY CHARACTER BIJECTION
    * to document text (three disjoint letter sets, each rotated by a
    * different digit of `i`). A bijective char map preserves pairwise
    * Jaccard EXACTLY within a copy — near-dup clusters and density stay
    * identical to the base — while any two copies differ in at least one
    * rotation, so nearly every shingle changes and cross-copy Jaccard
    * collapses: near-dup density is CONSTANT as the corpus grows, which
    * is what a scale (not density) measurement needs. Two earlier
    * constructions failed measurably and are kept in SCALE.md as stress
    * data: a suffix-only perturbation left cross-copy J ≈ 1 (cluster
    * size grew with the factor → minhash 558× at 100×), and a
    * copy-constant woven tag made all docs WITHIN a copy share tag
    * shingles (inflated intra-copy collisions → 411× at 100×). Copy 0
    * is bit-identical to the base, keeping every key-targeted query
    * aimed at real rows. Events shift user/event ids (per-user session
    * structure repeats per copy) and land as ONE file named
    * `events.parquet`, because the streaming source filters on that
    * exact leaf name (`pathGlobFilter`). */
  private def scaledDir(spark: SparkSession, base: String,
      factor: Int): String = {
    // v5: + lineitem/customer copies (q1/q3 analytics scale rows) with
    // o_custkey shifted in lockstep with c_custkey so per-copy join
    // selectivity matches the base
    val dir = s"/tmp/graft_scale_v5_${factor}x_" +
      Integer.toHexString(base.hashCode)
    val ready = java.nio.file.Paths.get(dir, "_READY")
    if (java.nio.file.Files.exists(ready)) return dir
    require(factor <= 216, "per-copy cipher space is 6^3 = 216 copies")

    def copies(table: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$base/$table.parquet")
      (0 until factor).map(i => shift(src, i)).reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    copies("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 1000000000L))
    }
    copies("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L))
    }
    copies("customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * 1000000000L))
    }
    def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
    val (c1, c2, c3) = ("etaoin", "shrdlu", "bcfgmp")
    copies("documents") { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
        .withColumn("text",
          if (i == 0) col("text")
          else translate(translate(translate(col("text"),
            c1, rot(c1, i % 6)), c2, rot(c2, (i / 6) % 6)),
            c3, rot(c3, (i / 36) % 6)))
    }
    copies("embeddings") { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * 100000000L))
    }
    // events: single-file output (streaming pathGlobFilter contract);
    // read through the schema-adaptive EventsSource so ts lands as
    // epoch-ns Longs whatever the source encoding — scaled dirs then
    // always carry plain INT64-ns, the adapter's LongType branch
    val ev = graft.sources.EventsSource.readEvents(spark, base)
    val tmpEv = s"$dir/_events_build"
    (0 until factor).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 100000000L))
    }.reduce(_.unionAll(_)).coalesce(1)
      .write.mode("overwrite").parquet(tmpEv)
    val part = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(tmpEv))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
      } finally s.close()
    }
    // REPLACE_EXISTING: a crash between this move and the _READY marker
    // must not wedge every later rebuild on FileAlreadyExists
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(dir, "events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    locally {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(tmpEv))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s.close()
    }

    java.nio.file.Files.write(ready, Array.emptyByteArray)
    dir
  }
}
