package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CellOps, ColumnWriteItem, RowWriteItem}
import graft.model._

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (keys `opNN_*` map to the §2.1 inventory row NN) plus the
  * large-scale pipeline extensions (`ext_*`: dedup, similarity search, text
  * analysis, multimodal). Each query runs the SAME operator code the engine
  * uses ([[graft.core.CellOps]]) over a cell view of the driver's testdata,
  * and has an ANSI-SQL oracle in [[oracleSql]] for the DuckDB compare.
  *
  * The wide-column ops run over deterministic "cell views":
  *  - `orderCells`: 5 cells per `orders` row (families `o` and `m`), ts=0 —
  *    single-version semantics;
  *  - `eventCells`: 1 cell per `events` row keyed by user, qualified by
  *    event type, ts = epoch micros — multi-version semantics.
  * These views exist so results are verifiable against DuckDB running plain
  * SQL on the same parquet; the real engine stores cells natively
  * ([[graft.core.Smoltable]]) where the view cost disappears.
  *
  * DDL/catalog verbs (§2.1 #23-26) and the metrics self-tables (#27) have no
  * SQL-query form; they are covered by the ScalaTest suites
  * (`graft.core.*Spec`) against [[graft.core.Smoltable]].
  */
object SparkEntry {

  // ------------------------------------------------------------ cell views

  private def orders(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/orders.parquet")

  private def rk10(c: Column) = lpad(c.cast("string"), 10, "0")

  /** 5 cells per order; mirrors ORDER_CELLS_SQL exactly.
    *
    * ONE scan + a generator (r21; was a 5-way `unionAll`, i.e. five scans
    * of the same parquet per query — every `op*` row paid 5× the
    * scan/task overhead for the identical cell multiset). The generator
    * is codegen-friendly and the emitted rows are field-for-field the old
    * union's, so the oracle relation is unchanged.
    *
    * r22: `explode(array(struct…))` + per-field extraction instead of
    * `inline` — `GeneratorNestedColumnAliasing` prunes unused struct
    * fields through `explode` (it cannot through `inline`), so a
    * count-shaped consumer that never touches `vs`/`vd` narrows the scan
    * back to `ReadSchema: struct<o_orderkey:bigint>` (the r21 inline form
    * read all six order columns for every consumer — op10/op18 regressed). */
  private def orderCells(s: SparkSession, dir: String): DataFrame =
    orderCellsEntries(s, dir, (_, _) => true)

  /** [[orderCells]] restricted to the (family, qualifier) entries a query
    * with a LITERAL family/qualifier predicate can keep — the predicate
    * pushed BEFORE the generator, which Catalyst cannot do through
    * `explode` on its own. Callers keep the original post-generator
    * `.filter` too (it constant-folds on the literal entry columns), so
    * the emitted relation provably equals `orderCells(...).filter(...)`.
    *
    * Shape: the exploded struct carries ONLY the entry tag (index +
    * family/qualifier literals — a foldable constant array, no source
    * columns inside the generator), and `vs`/`vd` are tag-dispatched
    * CASE projections ABOVE the Generate. Catalyst cannot prune
    * expressions inside a generator argument (r21's `inline` form read
    * all six order columns for every consumer), but it prunes ordinary
    * Project columns fine — a count-shaped consumer that never touches
    * `vs`/`vd` now scans `struct<o_orderkey:bigint>` alone. */
  private[graft] def orderCellsEntries(s: SparkSession, dir: String,
      keep: (String, String) => Boolean): DataFrame = {
    val o = orders(s, dir)
    val entries = Seq[(String, String, Column, Column)](
      ("o", "status", col("o_orderstatus"), lit(null)),
      ("o", "priority", col("o_orderpriority"), lit(null)),
      ("o", "custkey", col("o_custkey").cast("string"), lit(null)),
      ("m", "total", lit(null), col("o_totalprice")),
      ("m", "date",
        date_format(col("o_orderdate"), "yyyy-MM-dd"), lit(null)))
      .filter { case (f, q, _, _) => keep(f, q) }
    require(entries.nonEmpty,
      "orderCellsEntries: the keep predicate rejects every order cell")
    val tags = entries.zipWithIndex.map { case ((f, q, _, _), i) =>
      struct(lit(i).as("i"), lit(f).as("family"), lit(q).as("qualifier"))
    }
    def dispatch(pick: ((String, String, Column, Column)) => Column,
        tpe: String): Column =
      entries.zipWithIndex.foldLeft(lit(null).cast(tpe)) {
        case (acc, (e, i)) =>
          when(col("c.i") === i, pick(e).cast(tpe)).otherwise(acc)
      }
    o.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), explode(array(tags: _*)).as("c"))
      .select(rk10(col("o_orderkey")).as("row_key"),
        col("c.family").as("family"), col("c.qualifier").as("qualifier"),
        lit(0L).as("ts"), dispatch(_._3, "string").as("vs"),
        dispatch(_._4, "double").as("vd"))
  }

  private val OrderCellsSql =
    """WITH cells AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR),10,'0') AS row_key, 'o' AS family, 'status' AS qualifier, CAST(0 AS BIGINT) AS ts, o_orderstatus AS vs, CAST(NULL AS DOUBLE) AS vd FROM orders
      |  UNION ALL SELECT lpad(CAST(o_orderkey AS VARCHAR),10,'0'), 'o', 'priority', CAST(0 AS BIGINT), o_orderpriority, CAST(NULL AS DOUBLE) FROM orders
      |  UNION ALL SELECT lpad(CAST(o_orderkey AS VARCHAR),10,'0'), 'o', 'custkey', CAST(0 AS BIGINT), CAST(o_custkey AS VARCHAR), CAST(NULL AS DOUBLE) FROM orders
      |  UNION ALL SELECT lpad(CAST(o_orderkey AS VARCHAR),10,'0'), 'm', 'total', CAST(0 AS BIGINT), CAST(NULL AS VARCHAR), o_totalprice FROM orders
      |  UNION ALL SELECT lpad(CAST(o_orderkey AS VARCHAR),10,'0'), 'm', 'date', CAST(0 AS BIGINT), strftime(o_orderdate, '%Y-%m-%d'), CAST(NULL AS DOUBLE) FROM orders
      |)""".stripMargin

  /** 1 cell per event: multi-versioned columns (user x event_type).
    * ts in epoch NANOSECONDS (engine convention; source data is µs-granular
    * so µs*1000 is lossless).
    */
  private def eventCells(s: SparkSession, dir: String): DataFrame = {
    // schema-adaptive: events.ts has shipped as TIMESTAMP(NANOS) and
    // TIMESTAMP(MICROS) across testdata generations; EventsSource
    // normalizes either to the engine's native epoch-ns Longs
    graft.sources.EventsSource.readEvents(s, dir).select(
      lpad(col("user_id").cast("string"), 6, "0").as("row_key"),
      lit("ev").as("family"),
      col("event_type").as("qualifier"),
      // truncate to µs-aligned ns: DuckDB's TIMESTAMP is µs-precision, so
      // the oracle cannot observe any sub-µs nanos
      expr("(ts div 1000) * 1000").as("ts"),
      lit(null).cast("string").as("vs"),
      col("value").cast("double").as("vd"))
  }

  private val EventCellsSql =
    """WITH cells AS (
      |  SELECT lpad(CAST(user_id AS VARCHAR),6,'0') AS row_key, 'ev' AS family, event_type AS qualifier, epoch_us(ts) * 1000 AS ts, CAST(NULL AS VARCHAR) AS vs, value AS vd FROM events
      |)""".stripMargin

  private val CellCols =
    Seq("row_key", "family", "qualifier", "ts", "vs", "vd").map(col)

  private def sel(df: DataFrame): DataFrame = df.select(CellCols: _*)

  // ------------------------------------------------- engine-backed storage

  /** Engine tables built once per sf dir under /tmp: the orders cell view
    * bulk-loaded into a REAL [[graft.core.Smoltable]] (family `m` in its own
    * locality group), so the `eng_*` queries exercise the physical layout —
    * lg= partition pruning + row-key row-group skipping — under the same
    * oracles as the view-based ops.
    */
  /** size + mtime fingerprint of a parquet source (shared util; also
    * keys EventsSource's range-gate cache). Same fold as always, so the
    * existing /tmp cache paths stay valid across this refactor. */
  private def sourceFingerprint(path: String): Long =
    graft.util.Fingerprint.of(path)

  /** Cache location of the engine-backed orders table for `dir` —
    * fingerprinted on the SOURCE parquet, so a driver-regenerated
    * `orders.parquet` rebuilds instead of silently serving stale cells to
    * the seven `eng_*` oracle rows. Package-visible for the staleness
    * spec. */
  private[graft] def engineCachePath(dir: String, buckets: Int): String = {
    val suffix = if (buckets > 0) s"_b$buckets" else ""
    val fp = sourceFingerprint(s"$dir/orders.parquet")
    s"/tmp/graft_engine_${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp) + suffix
  }

  /** The landed (doc_id % 3 = 0) band store for `dir` — the dedup state
    * the incremental-store rows probe. Built ONCE per source
    * fingerprint (the [[engineCachePath]] pattern): store construction
    * is ingest cost; the contract row measures the per-batch lookup. */
  private[graft] def landedBandsStore(s: SparkSession,
      dir: String): graft.operators.BatchStore = {
    val fp = sourceFingerprint(s"$dir/documents.parquet")
    val base = s"/tmp/graft_bandstore_${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp)
    val store = graft.operators.BatchStore.open(s, base,
      graft.operators.BatchStore.Bands)
    if (store.nonEmpty) store
    else graft.operators.BatchStore.fromSignatures(s, base,
      graft.operators.Dedup.minhashSignatures(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")), 8,
        graft.operators.Dedup.DefaultSeeds))
  }

  /** The landed (doc_id % 3 = 0) CONTENT-HASH store for `dir` — the
    * exact-dedup twin of [[landedBandsStore]] (the bands layout is
    * key-agnostic; here the membership key is the doc md5). */
  private[graft] def landedHashStore(s: SparkSession,
      dir: String): graft.operators.BatchStore = {
    val fp = sourceFingerprint(s"$dir/documents.parquet")
    val base = s"/tmp/graft_hashstore_${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp)
    val store = graft.operators.BatchStore.open(s, base,
      graft.operators.BatchStore.Bands)
    if (!store.nonEmpty)
      store.append(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 === 0 && col("text").isNotNull)
          .select(md5(col("text")).as("band")), "init")
    store
  }

  /** The planted embedding corpus shared by the semantic-dedup rows:
    * the base vectors plus an exact copy of every 50th, shifted to ids
    * ≥ 1,000,000 (planted d2=0 near-dups that must drop). */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    e.unionAll(e.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  /** The landed id-prefix boundary for the incremental semantic row:
    * `(max base vec_id + 1) / 2` — exact int64, derived identically by
    * the oracle's scalar subquery. Landed = planted ids below it (a
    * strict id PREFIX, so "near any landed vector" coincides with the
    * one-shot's smaller-id drop rule); the batch is everything at or
    * above, including every planted copy. */
  private def semanticSplitId(s: SparkSession, dir: String): Long =
    (s.read.parquet(s"$dir/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(col("vec_id"))).head()
      .getLong(0) + 1L) / 2L

  /** The landed semantic-dedup state for `dir`, built ONCE per source
    * fingerprint (the [[landedBandsStore]] pattern): a persisted kmeans
    * layout TRAINED on the landed id-prefix (frozen centroids — the
    * serving sidecar every batch assigns from) plus a
    * [[graft.operators.BatchStore.Vectors]] store holding the landed members'
    * `(bucket key, vec_id, fx)` rows, bootstrapped as batch 0 of the
    * incremental operator itself (all-seen landing from day one). */
  private[graft] def landedSemanticState(s: SparkSession, dir: String)
      : (String, graft.operators.BatchStore) = {
    val fp = sourceFingerprint(s"$dir/embeddings.parquet")
    val suffix = s"${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp)
    val t = semanticSplitId(s, dir)
    val layout = buildLayoutOnce(s"/tmp/graft_semk_v1_$suffix") { tmp =>
      graft.operators.Clustering.writeKmeansIvfLayout(
        plantedEmbeddings(s, dir).filter(col("vec_id") < t), tmp)
    }
    val store = graft.operators.BatchStore.open(s,
      s"/tmp/graft_vecstore_v1_$suffix", graft.operators.BatchStore.Vectors)
    if (!store.nonEmpty) {
      val (_, members) = graft.operators.Clustering
        .incrementalSemanticWithStore(
          plantedEmbeddings(s, dir).filter(col("vec_id") < t),
          layout, store, dist2Threshold = 1000L)
      store.append(members, "init")
    }
    (layout, store)
  }

  /** The landed seed state for `ext_dedup_stream_minhash`, built ONCE
    * per source fingerprint: `batch=init` signatures + the band store's
    * `_bands/batch=init`, exactly what
    * [[graft.streaming.StreamOps.incrementalMinhashToFiles]] would
    * build into a fresh sigDir — per-run scratch dirs clone this
    * instead of recomputing the landed-corpus signature pass. */
  private[graft] def streamMinhashSeed(s: SparkSession, dir: String,
      known: DataFrame): String = {
    val fp = sourceFingerprint(s"$dir/documents.parquet")
    val seed = s"/tmp/graft_incmh_seed_${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp)
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(seed, "batch=init"))) {
      graft.streaming.StreamOps.atomicBatchWrite(known, seed, "init")
      graft.operators.BatchStore.fromSignatures(s, s"$seed/_bands",
        s.read.parquet(s"$seed/batch=init"))
    }
    seed
  }

  /** The landed seed store for `ext_dedup_stream_images`, built ONCE
    * per source fingerprint: the hash-carrying vector store's
    * `batch=init` member set for the %3 landed payload slice — per-run
    * scratch stores clone this instead of re-hashing the landed
    * corpus ([[streamMinhashSeed]]'s pattern). */
  private[graft] def streamImageSeed(s: SparkSession,
      dir: String): String = {
    val fp = sourceFingerprint(s"$dir/documents.parquet")
    val seed = s"/tmp/graft_imgst_seed_${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp)
    val store = graft.operators.BatchStore.open(s, seed,
      graft.operators.BatchStore.Vectors)
    if (!store.hasBatch("init")) {
      val (_, init) = graft.operators.Multimodal
        .incrementalImageDedupWithStore(
          graft.operators.Multimodal.textPayloads(s, dir)
            .filter(col("doc_id") % 3 === 0), store)
      store.append(init, "init")
    }
    seed
  }

  /** Recursive file-tree copy (seed cloning for per-run scratch
    * stores). No-op when the source is absent (the first-ever run races
    * nothing: the callee then seeds from data). */
  private def copyDirInto(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(src)) return
    val w = java.nio.file.Files.walk(src)
    val all = try w.iterator().asScala.toSeq finally w.close()
    all.foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(to)
      else {
        java.nio.file.Files.createDirectories(to.getParent)
        java.nio.file.Files.copy(p, to,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  private def engineOrders(s: SparkSession, dir: String,
      buckets: Int = 0): graft.core.Smoltable = {
    val base = engineCachePath(dir, buckets)
    val cat = new graft.core.Catalog(base)
    val t = graft.core.Smoltable.open(s, cat, "orders")
    if (t.dataFileCount == 0) {
      t.createColumnFamilies(Seq(ColumnFamilyDefinition("o")))
      t.createColumnFamilies(Seq(ColumnFamilyDefinition("m")),
        localityGroup = true)
      if (buckets > 0) t.setBucketCount(buckets)
      t.writeBulk(orderCells(s, dir).select(
        col("row_key"), col("family"), col("qualifier"), col("ts"),
        cellValueStruct(
          when(col("vs").isNotNull, "string").otherwise("f64"),
          col("vs"), col("vd")).as("value")))
    }
    t
  }

  /** The engine cell `value` struct for writeBulk ingestion — ONE place
    * that knows the field layout, shared by every bulk loader (orders /
    * metrics here, events in ScaleSmoke) so a schema change cannot drift
    * between them. */
  private[graft] def cellValueStruct(vtype: Column, s: Column,
      f64: Column): Column =
    struct(vtype.as("vtype"), s.as("s"),
      lit(null).cast("boolean").as("b"),
      lit(null).cast("short").as("u8"),
      lit(null).cast("int").as("i32"),
      lit(null).cast("long").as("i64"),
      lit(null).cast("float").as("f32"),
      f64.as("f64"))

  /** Engine-backed metrics self-table for `dir` (operator #27's REAL
    * storage, reference `server/src/metrics.rs:10-38`): a `_mtx_events`
    * [[graft.core.MetricsTable]] whose versioned F64 points under
    * `value:` derive deterministically from the events table — metric
    * row = event_type, version ts = µs-aligned event ns, value =
    * max(value) over same-ts ties so the cell set is order-independent.
    * Bulk-loaded DISTRIBUTED (writeBulk, no driver collect) once per
    * source fingerprint; the per-call `data_point!` write path is
    * spec/Demo-covered separately. */
  /** Cache location of the engine-backed metrics table for `dir` —
    * source-fingerprinted like [[engineCachePath]]. */
  private[graft] def engineMetricsPath(dir: String): String = {
    val fp = sourceFingerprint(s"$dir/events.parquet")
    s"/tmp/graft_mtx_${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp)
  }

  private def engineMetrics(s: SparkSession,
      dir: String): graft.core.MetricsTable = {
    val base = engineMetricsPath(dir)
    val mt = graft.core.MetricsTable.open(
      s, new graft.core.Catalog(base), Some("events"))
    // `dataFileCount == 0` is crash-safe WITHOUT a _READY marker (unlike
    // ScaleSmoke's plain-parquet dirs, which need one): it counts the
    // MANIFEST's committed file list, not a disk listing, writeBulk
    // commits that list only AFTER its append job succeeds, and open()
    // sweeps uncommitted debris (recoverRewrite) — so a JVM killed
    // mid-writeBulk leaves dataFileCount == 0 and the next run rebuilds
    // from source instead of serving a partial table. Pinned by
    // EngineMutationSpec's "crashed bulk load" test.
    if (mt.table.dataFileCount == 0) {
      val pts = graft.sources.EventsSource.readEvents(s, dir)
        .groupBy(col("event_type"), expr("(ts div 1000) * 1000").as("ts"))
        .agg(max(col("value")).as("vd"))
      mt.table.writeBulk(pts.select(
        col("event_type").as("row_key"), lit("value").as("family"),
        lit("").as("qualifier"), col("ts"),
        cellValueStruct(lit("f64"), lit(null).cast("string"),
          col("vd")).as("value")))
    }
    mt
  }

  /** Throwaway mutated clone of the engine orders table. The engine's
    * mutation verbs (#20 delete / #22 upsert) rewrite copy-on-write
    * state, so the `eng_` mutation oracle rows each mutate a PRIVATE
    * clone of the fingerprint-cached build
    * ([[graft.core.Smoltable.openClone]]: temp dir, deleted on JVM
    * exit) — query construction stays idempotent across Verify/Bench
    * reruns and the cached table the read-path `eng_` rows share is
    * never dirtied. Same protocol as ScaleSmoke's maintenance rows. */
  private def clonedEngineOrders(s: SparkSession,
      dir: String): graft.core.Smoltable = {
    engineOrders(s, dir) // ensure the shared fingerprint cache is built
    graft.core.Smoltable.openClone(s, engineCachePath(dir, 0), "orders")
  }

  /** As [[clonedEngineOrders]] for the metrics self-table (#21's GC
    * oracle mutates it). */
  private def clonedEngineMetrics(s: SparkSession,
      dir: String): graft.core.Smoltable = {
    engineMetrics(s, dir)
    graft.core.Smoltable.openClone(s, engineMetricsPath(dir), "_mtx_events")
  }

  /** Layout-format version: bump when the on-disk layout shape changes
    * (v2 added the planning manifest, v3 the sharded manifest), orphaning
    * incompatible caches. */
  private val AnnLayoutVersion = 3

  /** Cache location of the physical ANN layout for `dir` — fingerprinted
    * on the source parquet (size + mtime) AND the LSH geometry + layout
    * version, so regenerated embeddings, retuned parameters, or a format
    * change each land on a fresh path instead of probing a stale layout.
    * Package-visible for the staleness spec. */
  private[graft] def annLayoutPath(dir: String): String = {
    import graft.operators.Similarity._
    val fp = sourceFingerprint(s"$dir/embeddings.parquet")
    s"/tmp/graft_ann_v${AnnLayoutVersion}_" +
      s"${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp) +
      s"_t${DefaultTables}p${DefaultPlanes}d$DefaultDim$DefaultSeed"
  }

  /** Build (once per embeddings snapshot × parameters) the physical LSH
    * layout for `eng_ann_bucketed`: embeddings written `l=<table>/
    * bucket=<id>` partitioned, so probes plan as partition-pruned reads.
    * Built in a temp dir and atomically renamed into place, so a
    * concurrent builder can never expose (or probe) a half-written
    * layout: exactly one rename wins, the loser discards its copy. */
  private def annLayoutDir(s: SparkSession, dir: String): String =
    buildLayoutOnce(annLayoutPath(dir)) { tmp =>
      graft.operators.Similarity.writeBucketedLayout(
        s.read.parquet(s"$dir/embeddings.parquet"), tmp)
    }

  /** Cache location of the APPEND-BUILT LSH layout (`eng_ann_append`):
    * same fingerprint inputs as [[annLayoutPath]], distinct prefix — the
    * two layouts are bit-different on disk (file split) while probing
    * identically. */
  private[graft] def annAppendLayoutPath(dir: String): String =
    annLayoutPath(dir).replace("/graft_ann_v", "/graft_annapp_v")

  /** Build (once) the LSH layout INCREMENTALLY: half the corpus as the
    * initial [[graft.operators.Similarity.writeBucketedLayout]] build,
    * the other half via
    * [[graft.operators.Similarity.appendBucketedLayout]] — the
    * continuous-ingest path, oracle-gated by probing it with the same
    * SQL as the one-shot layout. */
  private def annAppendLayoutDir(s: SparkSession, dir: String): String =
    buildLayoutOnce(annAppendLayoutPath(dir)) { tmp =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.writeBucketedLayout(
        e.filter(col("vec_id") % 2 === 0), tmp)
      graft.operators.Similarity.appendBucketedLayout(
        e.filter(col("vec_id") % 2 =!= 0), tmp)
    }

  /** Like [[AnnLayoutVersion]] but for the IVF `list=` layout (v2:
    * sharded manifest). */
  private val IvfLayoutVersion = 2

  /** Cache location of the physical IVF layout for `dir` — fingerprinted
    * like [[annLayoutPath]] (source snapshot + geometry + format
    * version). Package-visible for the staleness spec. */
  private[graft] def ivfLayoutPath(dir: String): String = {
    import graft.operators.Similarity._
    val fp = sourceFingerprint(s"$dir/embeddings.parquet")
    s"/tmp/graft_ivf_v${IvfLayoutVersion}_" +
      s"${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp) +
      s"_s${DefaultIvfStride}d$DefaultDim"
  }

  private def ivfLayoutDir(s: SparkSession, dir: String): String =
    buildLayoutOnce(ivfLayoutPath(dir)) { tmp =>
      graft.operators.Similarity.writeIvfLayout(
        s.read.parquet(s"$dir/embeddings.parquet"), tmp)
    }

  /** Cache location of the APPEND-BUILT IVF layout (`eng_ann_ivf_append`):
    * same fingerprint inputs as [[ivfLayoutPath]], distinct prefix. */
  private[graft] def ivfAppendLayoutPath(dir: String): String =
    ivfLayoutPath(dir).replace("/graft_ivf_v", "/graft_ivfapp_v")

  /** Build (once) the IVF layout INCREMENTALLY: the even half as the
    * initial [[graft.operators.Similarity.writeIvfLayout]] build, the odd
    * half via [[graft.operators.Similarity.appendIvfLayout]] against the
    * frozen centroid sidecar. Centroid seeds (`vec_id % stride == 0`,
    * stride even) are all even, so the base build samples the SAME
    * centroid set as a one-shot build on the union corpus — probe results
    * are identical and the query shares [[annIvfSql]] verbatim. */
  private def ivfAppendLayoutDir(s: SparkSession, dir: String): String =
    buildLayoutOnce(ivfAppendLayoutPath(dir)) { tmp =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.writeIvfLayout(
        e.filter(col("vec_id") % 2 === 0), tmp)
      graft.operators.Similarity.appendIvfLayout(
        e.filter(col("vec_id") % 2 =!= 0), tmp)
    }

  /** Like [[ivfLayoutPath]] but for the LEARNED kmeans-IVF `cid=`
    * layout (fingerprinted on source snapshot + training geometry).
    * Package-visible for the staleness spec / scale harness. */
  private[graft] def kmeansIvfLayoutPath(dir: String): String = {
    val fp = sourceFingerprint(s"$dir/embeddings.parquet")
    s"/tmp/graft_kivf_v1_${Integer.toHexString(dir.hashCode)}_" +
      java.lang.Long.toHexString(fp) + "_s100i2"
  }

  private def kmeansIvfLayoutDir(s: SparkSession, dir: String): String =
    buildLayoutOnce(kmeansIvfLayoutPath(dir)) { tmp =>
      graft.operators.Clustering.writeKmeansIvfLayout(
        s.read.parquet(s"$dir/embeddings.parquet"), tmp)
    }

  /** Cache location of the APPEND-BUILT kmeans-IVF layout
    * (`eng_ann_ivf_persisted_append`): same fingerprint inputs as
    * [[kmeansIvfLayoutPath]], distinct prefix. */
  private[graft] def kmeansIvfAppendLayoutPath(dir: String): String =
    kmeansIvfLayoutPath(dir).replace("/graft_kivf_v", "/graft_kivfapp_v")

  /** Build (once) the kmeans-IVF layout INCREMENTALLY: TRAIN on the even
    * half ([[graft.operators.Clustering.writeKmeansIvfLayout]] — Lloyd
    * runs only over the base corpus), then land the odd half via
    * [[graft.operators.Clustering.appendKmeansIvfLayout]] against the
    * frozen centroid sidecar — the serving-index ingest path: no
    * retraining, no rebuild, new vectors into existing `cid=`
    * partitions. Unlike the stride-IVF append twin the trained
    * centroids DIFFER from a union one-shot (Lloyd updates see only the
    * base half), so this row carries its own oracle
    * ([[annIvfKmeansAppendSql]]: training CTEs over the even half,
    * assignment + probe over the union). */
  private def kmeansIvfAppendLayoutDir(s: SparkSession, dir: String): String =
    buildLayoutOnce(kmeansIvfAppendLayoutPath(dir)) { tmp =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Clustering.writeKmeansIvfLayout(
        e.filter(col("vec_id") % 2 === 0), tmp)
      graft.operators.Clustering.appendKmeansIvfLayout(
        e.filter(col("vec_id") % 2 =!= 0), tmp)
    }

  /** Build (once per corpus fingerprint) the drift→retrain→RE-KEY
    * semantic state (`ext_dedup_semantic_retrained`): v=0 trained on
    * the id-prefix half, the landed member store seeded under it, the
    * second half's drift tripping the retrain on the full corpus, and
    * the store re-keyed under the cut-over v=1 — all one-time ingest
    * cost (the layout-build convention); the contract row measures the
    * post-cutover batch dedup. Returns (versioned root, store dir). */
  private def semanticRetrainState(s: SparkSession,
      dir: String): (String, String) = {
    val path = kmeansIvfLayoutPath(dir).replace("/graft_kivf_v",
      "/graft_semrt_v")
    buildLayoutOnce(path) { tmp =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val split = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) / 2L
      val landed = e.filter(col("vec_id") < split)
      val batch = e.filter(col("vec_id") >= split)
      val root = s"$tmp/root"
      val store = graft.operators.BatchStore.open(s, s"$tmp/store",
        graft.operators.BatchStore.Vectors)
      graft.operators.IvfVersions.init(landed, root)
      val (_, init) = graft.operators.Clustering
        .incrementalSemanticWithStore(landed,
          graft.operators.IvfVersions.currentDir(root), store, 1000L)
      store.append(init, "init")
      var cut = -1L
      graft.operators.IvfVersions.driftRetrainTask(root,
        recentBatch = () => batch, corpus = () => e,
        meanD2Threshold = 0L,
        onRetrain = v => cut = v,
        // pointer publish + re-key as ONE store-write-locked unit
        // (r21 — the r20 ADVICE cutover race)
        cutover = graft.operators.Clustering
          .rekeyStoreOnCutover(store, root))()
      require(cut == 1L, s"drift must trip the retrain, got $cut")
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(tmp, "_SUCCESS"))
    }
    (s"$path/root", s"$path/store")
  }

  /** Build (once per corpus fingerprint) the PRISTINE pre-cutover state
    * for `ext_dedup_stream_semantic_retrained` — the STREAMING twin of
    * [[semanticRetrainState]], cached BEFORE the cutover so every run
    * replays the drift→retrain→re-key against a LIVE stream: a
    * versioned root with `v=0` trained on the landed id-prefix, a
    * member store seeded under it as `batch=init`, and a TWO-FILE
    * id-ordered stream input (batch 0 = `[split, b1lo)`, batch 1 =
    * `[b1lo, ∞)` plus planted d2=0 copies of every 50th natural id at
    * `+10,000,000` — largest ids, so the plants stay in the LAST
    * batch's range and the one-shot id rule composes). Per-run scratch
    * dirs CLONE the root and store (the run mutates both); the input
    * dir is streamed in place. Returns (root, store, stream dir). */
  private def semanticStreamRetrainState(s: SparkSession,
      dir: String): (String, String, String) = {
    val path = kmeansIvfLayoutPath(dir).replace("/graft_kivf_v",
      "/graft_ssrt_v")
    buildLayoutOnce(path) { tmp =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val n = e.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val split = n / 2L
      val b1lo = 3L * (n / 4L)
      val inDir = s"$tmp/in/embeddings.parquet"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(inDir))
      val plants = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"))
      // strictly increasing explicit mtimes pin the batch order (the
      // FileStreamSource ordering discipline from the streaming specs)
      var mtime = 1700000000000L
      for ((df, name) <- Seq(
          (e.filter(col("vec_id") >= split && col("vec_id") < b1lo),
            "b0"),
          (e.filter(col("vec_id") >= b1lo).unionAll(plants), "b1"))) {
        val stage = s"$tmp/stage_$name"
        df.repartition(1).write.parquet(stage)
        val part = {
          val l = java.nio.file.Files.list(
            java.nio.file.Paths.get(stage))
          try l.filter(p => p.toString.endsWith(".parquet"))
            .findFirst().get()
          finally l.close()
        }
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
        graft.core.PathIO.deleteRecursively(java.nio.file.Paths.get(stage))
      }
      val root = s"$tmp/root"
      graft.operators.IvfVersions.init(
        e.filter(col("vec_id") < split), root)
      val store = graft.operators.BatchStore.open(s, s"$tmp/store",
        graft.operators.BatchStore.Vectors)
      val (_, init) = graft.operators.Clustering
        .incrementalSemanticWithStore(e.filter(col("vec_id") < split),
          graft.operators.IvfVersions.currentDir(root), store, 1000L)
      store.append(init, "init")
      // the pristine cache must carry no owner lease: a per-run clone
      // would otherwise present a foreign LIVE token to the run's
      // retrain and fail it fast (the round-20 lease contract)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, graft.operators.StoreState
          .OwnerFileName))
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(tmp, "_SUCCESS"))
    }
    (s"$path/root", s"$path/store", s"$path/in")
  }

  /** Cache location of the VERSIONED drift→retrain layout root
    * (`eng_ann_ivf_retrained`): same fingerprint inputs, distinct
    * prefix. */
  private[graft] def kmeansIvfRetrainRootPath(dir: String): String =
    kmeansIvfLayoutPath(dir).replace("/graft_kivf_v", "/graft_kivfrt_v")

  /** Build (once) the drift→RETRAINED versioned layout
    * ([[graft.operators.IvfVersions]], round 19 — the close of the
    * continuous-operation loop that r18's telemetry only signalled):
    * `v=0` trains on the even half (the serving index gone stale), the
    * odd half plays the drifted ingest whose assignment drift trips
    * the maintenance task, and the task retrains on the FULL corpus
    * into `v=1` with an atomic pointer cutover. The threshold here is
    * zero — the contract row pins the CUTOVER semantics (a post-cutover
    * probe is bit-identical to a fresh one-shot build on the drifted
    * corpus, so the oracle is the full-corpus kmeans SQL); threshold
    * CALIBRATION is deployment telemetry, pinned separately by
    * WorkersSpec's below/above-threshold differential. */
  private def kmeansIvfRetrainRootDir(s: SparkSession, dir: String): String =
    buildLayoutOnce(kmeansIvfRetrainRootPath(dir)) { tmp =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.IvfVersions.init(
        e.filter(col("vec_id") % 2 === 0), tmp)
      var cut = -1L
      graft.operators.IvfVersions.driftRetrainTask(tmp,
        recentBatch = () => e.filter(col("vec_id") % 2 =!= 0),
        corpus = () => e, meanD2Threshold = 0L,
        onRetrain = v => cut = v)()
      require(cut == 1L, s"drift must trip the v=1 cutover, got $cut")
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(tmp, "_SUCCESS"))
    }

  /** Build a derived layout exactly once per cache path: build into a
    * temp dir, atomically rename into place — a concurrent builder can
    * never expose (or probe) a half-written layout: exactly one rename
    * wins, the loser discards its copy. */
  private def buildLayoutOnce(path: String)(build: String => Unit): String = {
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      val tmp = path + ".tmp-" + java.util.UUID.randomUUID()
      build(tmp)
      if (!new java.io.File(tmp).renameTo(new java.io.File(path))) {
        // the rename only legitimately fails when a concurrent builder won
        // it — verify the destination really is a complete layout before
        // discarding our copy, so a failure for any other reason (perms,
        // stray leftovers) surfaces here instead of as an opaque read
        // error on every later probe
        require(new java.io.File(path, "_SUCCESS").exists(),
          s"layout rename $tmp -> $path failed but the destination " +
            "is not a complete layout (no _SUCCESS)")
        graft.core.PathIO.deleteRecursively(java.nio.file.Paths.get(tmp))
      }
    }
    path
  }

  /** Engine cells mapped back to the oracle-comparable view columns. */
  private def engSel(df: DataFrame): DataFrame =
    df.select(col("row_key"), col("family"), col("qualifier"), col("ts"),
      col("value.s").as("vs"), col("value.f64").as("vd"))

  // -------------------------------------------------------------- flagship

  /** Flagship: locality-style family scan + per-column version limit + agg
    * over the versioned event cells (sf0.001 smoke; driver checks rows>0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val cells = eventCells(spark, "/root/testdata/sf0.001")
    val latest = CellOps.scanCells(cells,
      ScanInput(ScanMode.Prefix(""), columnCellLimit = Some(3)))
    latest.groupBy("row_key")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("kept_cells"),
        sum(col("vd").cast("decimal(18,6)")).as("value_sum"))
  }

  // --------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 #1 point get -------------------------------------------
    "op01_get_row" -> ((s, dir) => sel(CellOps.getRowCells(
      orderCells(s, dir), GetRowInput("0000000001")))),

    // ---- #2 multi-get ------------------------------------------------
    "op02_multi_get" -> ((s, dir) => sel(orderCells(s, dir).filter(
      col("row_key").isin("0000000001", "0000000042", "0000000777")))),

    // ---- #3 prefix scan ----------------------------------------------
    "op03_scan_prefix" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("00000001"))))),

    // ---- #4 range scan (inclusive / exclusive) -----------------------
    "op04_scan_range" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir),
      ScanInput(ScanMode.Range("0000000100", "0000000150", inclusive = true))))),
    "op04x_scan_range_exclusive" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir),
      ScanInput(ScanMode.Range("0000000100", "0000000150", inclusive = false))))),

    // ---- #5 column filter: Key (exact and whole-family) --------------
    "op05_filter_key" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("00000002"),
        filter = Some(ColumnFilter.Key(ColumnKey.of("o:status"))))))),
    "op05b_filter_family" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("00000002"),
        filter = Some(ColumnFilter.Key(ColumnKey.of("m:"))))))),

    // ---- #6 column filter: Multi -------------------------------------
    "op06_filter_multi" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("00000002"),
        filter = Some(ColumnFilter.Multi(Seq(
          ColumnKey.of("o:status"), ColumnKey.of("m:total")))))))),

    // ---- #7 column filter: Prefix ------------------------------------
    "op07_filter_prefix" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("00000002"),
        filter = Some(ColumnFilter.Prefix(ColumnKey.of("o:p"))))))),

    // ---- #8 locality-group pruning (family-restricted scan; physical
    //      pruning itself is exercised in SmoltableSpec over lg= dirs) ----
    "op08_locality_scan" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix(""),
        filter = Some(ColumnFilter.Key(ColumnKey.of("m:"))))))),

    // ---- #9 merged multi-group scan in key order ---------------------
    "op09_merge_ordered" -> ((s, dir) =>
      sel(orderCells(s, dir).filter(col("row_key") < "0000000200"))
        .orderBy(CellOps.keyOrder: _*)),

    // ---- #10 chunked/columnar read: projection-only scan -------------
    // literal (family, qualifier) predicate → entry-pruned view: the
    // generator emits ONLY the matching entry, so the scan reads
    // o_orderkey + o_orderstatus instead of all six columns (r22; the
    // filter below is kept and constant-folds on the literal entry).
    "op10_projection_scan" -> ((s, dir) =>
      orderCellsEntries(s, dir, (f, q) => f == "o" && q == "status")
        .filter(col("family") === "o" && col("qualifier") === "status")
        .select(col("row_key"), col("vs"))),

    // ---- #11 row limit ------------------------------------------------
    "op11_row_limit" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("0000001"),
        rowLimit = Some(100))))),

    // ---- #12 row offset -----------------------------------------------
    "op12_row_offset" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("00000012"),
        rowOffset = Some(50L))))),

    // ---- #13 global cell limit ---------------------------------------
    "op13_cell_limit_global" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("0000001"),
        globalCellLimit = Some(500))))),

    // ---- #14 per-row cell limit --------------------------------------
    "op14_cell_limit_row" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("0000001"),
        rowCellLimit = Some(3))))),

    // ---- #15 per-column version limit (+ #27 metrics-style last-N) ----
    "op15_version_limit" -> ((s, dir) => sel(CellOps.scanCells(
      eventCells(s, dir), ScanInput(ScanMode.Prefix(""),
        columnCellLimit = Some(3))))),

    // ---- #16 deterministic row sampling ------------------------------
    "op16_sampling" -> ((s, dir) => sel(CellOps.scanCells(
      orderCells(s, dir), ScanInput(ScanMode.Prefix("000000012"),
        sample = Some(0.25f))))),

    // ---- #17 scan_count ----------------------------------------------
    "op17_scan_count" -> ((s, dir) => CellOps.countCells(
      orderCells(s, dir), CountInput(ScanMode.Prefix("0000001"),
        filter = Some(ColumnFilter.Key(ColumnKey.of("o:")))))),

    // ---- #18 full count ----------------------------------------------
    "op18_full_count" -> ((s, dir) => CellOps.countCells(
      orderCells(s, dir), CountInput(ScanMode.Prefix("")))),

    // ---- #19 approximate count (cells exact / rows = cells/familyCount)
    // through the ENGINE's own path: Smoltable.approximateCount counts the
    // snapshot parquet (metadata-only count) and divides by the family
    // count — 2 here (o, m), matching the oracle's // 2.
    "op19_approx_count" -> ((s, dir) => {
      val (rows, cells) = engineOrders(s, dir).approximateCount()
      import s.implicits._
      Seq((rows, cells)).toDF("row_count_estimate", "cell_count")
    }),

    // ---- #20 filtered row delete (surviving cells) -------------------
    "op20_delete_row" -> ((s, dir) => sel(CellOps.deleteRowRemaining(
      orderCells(s, dir).filter(col("row_key") < "0000000100"),
      "0000000042", Some(ColumnFilter.Key(ColumnKey.of("o:status")))))),

    // ---- #21 GC: version limit + TTL ---------------------------------
    "op21_gc_version" -> ((s, dir) => sel(CellOps.gcSurvivors(
      eventCells(s, dir), Map("ev" -> GcSettings(versionLimit = Some(5))),
      nowNanos = 1719792000000000000L))),
    "op21b_gc_ttl" -> ((s, dir) => sel(CellOps.gcSurvivors(
      eventCells(s, dir), Map("ev" -> GcSettings(ttlSecs = Some(2592000L))),
      nowNanos = 1707868800000000000L))),

    // ---- #22 batch write upsert (last-write-wins) --------------------
    "op22_write_upsert" -> ((s, dir) => {
      val base = eventCells(s, dir).withColumn("seq", lit(1L))
      val upd = eventCells(s, dir).filter(col("qualifier") === "click")
        .withColumn("vd", col("vd") * 2).withColumn("seq", lit(2L))
      sel(CellOps.lastWriteWins(base.unionAll(upd)))
    }),

    // ======= engine-backed (real Smoltable storage, same oracles) =======
    "eng_scan_prefix" -> ((s, dir) => {
      val t = engineOrders(s, dir)
      engSel(CellOps.scanCells(t.cellsFor(None),
        ScanInput(ScanMode.Prefix("00000001"))))
    }),
    // range scan (end-exclusive) through real storage — op04x's engine
    // twin: the range predicate rides the sorted row_key layout
    // (parquet min/max row-group skipping), not a post-filter
    "eng_scan_range" -> ((s, dir) => {
      val t = engineOrders(s, dir)
      engSel(CellOps.scanCells(t.cellsFor(None),
        ScanInput(ScanMode.Range("0000000100", "0000000200",
          inclusive = false))))
    }),
    "eng_get_row" -> ((s, dir) => {
      val t = engineOrders(s, dir)
      engSel(CellOps.getRowCells(t.cellsFor(None), GetRowInput("0000000001")))
    }),
    "eng_locality_scan" -> ((s, dir) => {
      val t = engineOrders(s, dir)
      val f = Some(ColumnFilter.Key(ColumnKey.of("m:")))
      engSel(CellOps.scanCells(t.cellsFor(f),
        ScanInput(ScanMode.Prefix(""), filter = f)))
    }),
    // point get over the hash-bucketed layout: statically pruned to ONE
    // bucket directory of the affected locality groups
    "eng_bucket_get" -> ((s, dir) => {
      val t = engineOrders(s, dir, buckets = 16)
      engSel(CellOps.getRowCells(
        t.cellsForKeys(None, Seq("0000000001")), GetRowInput("0000000001")))
    }),
    // multi-get as ONE plan (`isin` + shared per-row limit windows), the
    // same shape Smoltable.multiGet batches into a single job
    "eng_multi_get" -> ((s, dir) => {
      val t = engineOrders(s, dir)
      engSel(CellOps.getRowCells(t.cellsFor(None), GetRowInput("0000000001"),
        Seq("0000000001", "0000000042", "0000000777")))
    }),
    // limits (row limit + per-row cell limit) through the METRICS-BEARING
    // verb: Smoltable.scan end-to-end over lg= storage — observe/
    // CollectMetrics accounting, limit windows, snapshot pin, driver-side
    // row assembly — then flattened back to oracle-comparable cells. The
    // collect is bounded by the limits (<= 300 cells here).
    // deterministic sampling through the metrics-bearing verb on real
    // storage — op16's engine twin (same closed-form error-diffusion
    // replay, same oracle formula)
    "eng_scan_sample" -> ((s, dir) => {
      import s.implicits._
      val t = engineOrders(s, dir)
      val out = t.scan(ScanInput(ScanMode.Prefix("000000012"),
        sample = Some(0.25f)))
      out.rows.flatMap { r =>
        r.columns.toSeq.flatMap { case (fam, quals) =>
          quals.toSeq.flatMap { case (q, cells) =>
            cells.map { c =>
              val (vs, vd) = c.value match {
                case CellValue.S(v)   => (Option(v), Option.empty[Double])
                case CellValue.F64(v) => (Option.empty[String], Some(v))
                case other => (Some(other.jsonValue), Option.empty[Double])
              }
              (r.rowKey, fam, q, c.time, vs, vd)
            }
          }
        }
      }.toDF("row_key", "family", "qualifier", "ts", "vs", "vd")
    }),

    // offset + row limit through the METRICS-BEARING verb on real
    // storage: rows ranked 50..149 of the prefix survive — the
    // engine-path twin of op12 (offset) composed with op11 (limit)
    "eng_scan_offset" -> ((s, dir) => {
      import s.implicits._
      val t = engineOrders(s, dir)
      val out = t.scan(ScanInput(ScanMode.Prefix("0000001"),
        rowLimit = Some(100), rowOffset = Some(50L)))
      out.rows.flatMap { r =>
        r.columns.toSeq.flatMap { case (fam, quals) =>
          quals.toSeq.flatMap { case (q, cells) =>
            cells.map { c =>
              val (vs, vd) = c.value match {
                case CellValue.S(v)   => (Option(v), Option.empty[Double])
                case CellValue.F64(v) => (Option.empty[String], Some(v))
                case other => (Some(other.jsonValue), Option.empty[Double])
              }
              (r.rowKey, fam, q, c.time, vs, vd)
            }
          }
        }
      }.toDF("row_key", "family", "qualifier", "ts", "vs", "vd")
    }),

    "eng_scan_limits" -> ((s, dir) => {
      import s.implicits._
      val t = engineOrders(s, dir)
      val out = t.scan(ScanInput(ScanMode.Prefix("0000001"),
        rowLimit = Some(100), rowCellLimit = Some(3)))
      out.rows.flatMap { r =>
        r.columns.toSeq.flatMap { case (fam, quals) =>
          quals.toSeq.flatMap { case (q, cells) =>
            cells.map { c =>
              val (vs, vd) = c.value match {
                case CellValue.S(v)   => (Option(v), Option.empty[Double])
                case CellValue.F64(v) => (Option.empty[String], Some(v))
                case other => (Some(other.jsonValue), Option.empty[Double])
              }
              (r.rowKey, fam, q, c.time, vs, vd)
            }
          }
        }
      }.toDF("row_key", "family", "qualifier", "ts", "vs", "vd")
    }),

    // ==== engine-path MUTATION verbs (#20-22 on REAL storage): each
    // construction clones the cached table, mutates the clone through the
    // crash-safe copy-on-write rewrite path, and reads survivors back
    // through the engine — the storage-layout twin of op20/op21/op22's
    // view-level rows, matching reference `table/mod.rs:567-598` (delete),
    // `:455-562` (GC), `tests/delete_column_filter.rs`, `tests/gc.rs`.

    // filtered delete (one column of one row) + unfiltered whole-row
    // delete, like delete_column_filter.rs's two delete_row calls
    "eng_delete_row" -> ((s, dir) => {
      val t = clonedEngineOrders(s, dir)
      t.deleteRow("0000000042",
        Some(ColumnFilter.Key(ColumnKey.of("o:status"))))
      t.deleteRow("0000000007")
      engSel(t.cellsFor(None)).filter(col("row_key") < "0000000100")
    }),

    // version-limit GC on the versioned metrics self-table (720 points
    // per metric bulk-loaded) — keep the newest 100 versions per column,
    // the FIFO-retention shape of tests/gc.rs + metrics.rs
    "eng_gc_version" -> ((s, dir) => {
      val t = clonedEngineMetrics(s, dir)
      t.runVersionGcWith(Map("value" -> GcSettings(versionLimit = Some(100))))
      engSel(t.cellsFor(None))
    }),

    // TTL GC on the same cloned metrics table with an INJECTED clock
    // (op21b's fixed now + 30-day TTL), so the engine's wall-clock GC
    // pass is replayable under the oracle — completes the GC pair
    "eng_gc_ttl" -> ((s, dir) => {
      val t = clonedEngineMetrics(s, dir)
      t.runVersionGcWith(
        Map("value" -> GcSettings(ttlSecs = Some(2592000L))),
        now = 1707868800000000000L)
      engSel(t.cellsFor(None))
    }),

    // transactional batch write over existing cells: same-coordinate
    // overwrites (ts=0 collides with the bulk load) must LWW-resolve on
    // read, and a brand-new column must surface alongside survivors
    "eng_write_upsert" -> ((s, dir) => {
      val t = clonedEngineOrders(s, dir)
      t.write(Seq(
        RowWriteItem("0000000001", Seq(
          ColumnWriteItem(ColumnKey.of("o:status"), Some(0L),
            CellValue.S("X")),
          ColumnWriteItem(ColumnKey.of("o:note"), Some(0L),
            CellValue.S("updated")))),
        RowWriteItem("0000000042", Seq(
          ColumnWriteItem(ColumnKey.of("m:total"), Some(0L),
            CellValue.F64(123.45))))))
      engSel(t.cellsFor(None)).filter(col("row_key") < "0000000100")
    }),

    // PHYSICAL compaction correctness (the levelled-compaction analog,
    // reference `table/mod.rs:124-135` fjall::compaction::Levelled):
    // the same shadowing upsert as eng_write_upsert, then compact() —
    // the sorted rewrite must apply LWW physically, because the
    // post-rewrite read takes the no-window fast path
    // (Smoltable.maybeLww: batchesSinceRewrite == 1) and trusts the
    // layout. A compaction that kept shadowed versions (dup cells) or
    // dropped survivors would hash-mismatch the same oracle
    // eng_write_upsert passes via read-side resolution.
    "eng_compact" -> ((s, dir) => {
      val t = clonedEngineOrders(s, dir)
      t.write(Seq(
        RowWriteItem("0000000001", Seq(
          ColumnWriteItem(ColumnKey.of("o:status"), Some(0L),
            CellValue.S("X")),
          ColumnWriteItem(ColumnKey.of("o:note"), Some(0L),
            CellValue.S("updated")))),
        RowWriteItem("0000000042", Seq(
          ColumnWriteItem(ColumnKey.of("m:total"), Some(0L),
            CellValue.F64(123.45))))))
      t.compact()
      engSel(t.cellsFor(None)).filter(col("row_key") < "0000000100")
    }),

    // exactly-once STREAMING INGEST into a fresh engine table: events →
    // cell frame → foreachBatch + writeBulkOnce (idempotent sink, see
    // Smoltable.writeBulkOnce), read back through the storage layout
    // under an events-cell oracle. Cells keyed by the unique event_id so
    // the landed set is independent of micro-batch splits.
    "eng_stream_ingest" -> ((s, dir) => {
      val t = graft.core.Smoltable.open(s,
        new graft.core.Catalog(
          graft.core.Smoltable.scratchDir("graft_ing_")), "events")
      t.createColumnFamilies(Seq(ColumnFamilyDefinition("ev")))
      graft.streaming.StreamOps.ingestEventsIntoTable(s, dir, t,
        graft.core.Smoltable.scratchDir("graft_ing_ck_"))
      engSel(t.cellsFor(None))
    }),

    // ==== SQL-surface twins: the same semantics driven by spark.sql
    // TEXT over graft.sql's registered views/native functions, under the
    // same DuckDB oracles — proving the SQL face is plan-native (views
    // inline, predicates push to the scan, kernels stay codegen'd), not
    // a shim. No reference analog (the reference has no SQL surface).

    // prefix scan over the registered cell view of the REAL engine table
    "sql_scan_prefix" -> ((s, dir) => {
      engineOrders(s, dir) // build the shared cache the view reads
      graft.sql.SqlSurface.registerCatalog(s,
        new graft.core.Catalog(engineCachePath(dir, 0)))
      s.sql("SELECT row_key, family, qualifier, ts, vs, vd " +
        "FROM graft_orders WHERE row_key LIKE '00000001%'")
    }),

    // the engine scan verb as a SQL TABLE function: prefix + row limit
    // parameterize planning, the analyzer splices the scan plan into
    // FROM — no pre-registered view needed
    "sql_scan_tvf" -> ((s, dir) => {
      engineOrders(s, dir)
      graft.sql.SqlSurface.registerScanTvf(s,
        new graft.core.Catalog(engineCachePath(dir, 0)))
      s.sql("SELECT row_key, family, qualifier, ts, vs, vd " +
        "FROM graft_scan('orders', '00000001', 50)")
    }),

    // exact dedup in SQL text over the registered pipeline view
    "sql_dedup_exact" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s, plantedDocs(s, dir),
        includeClusters = false)
      s.sql("SELECT h, keep_id, dup_count FROM graft_dedup_exact")
    }),

    // deterministic threshold sampling in pure SQL via the native
    // graft_sample_hash function — the SAME 60-bit coin as
    // Corpus.thresholdSample, so SQL and Scala select identical docs
    "sql_sample_threshold" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("SELECT doc_id, lang FROM graft_docs " +
        s"WHERE graft_sample_hash(doc_id) < ${
          (0.25 * 1152921504606846976.0d).toLong}")
    }),

    // sliding-window chunking in pure SQL text (explode + sequence over
    // the pipeline view) — the same integer math as ext_chunk_documents
    // under the same oracle: one semantics, two front doors
    "sql_chunk_documents" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("""SELECT doc_id, chunk_idx, chunk_idx * 24 AS start_tok,
        |  least(chunk_idx * 24 + 32, n) AS end_tok
        |FROM (
        |  SELECT doc_id, n, explode(sequence(0L,
        |    CASE WHEN n <= 32L THEN 0L ELSE (n - 9L) DIV 24L END)) AS chunk_idx
        |  FROM (
        |    -- the one-pass token-count kernel through its SQL door
        |    -- (r18: the regex split(trim(text), '\s+') this replaces
        |    -- was the row's last interpreted per-doc tokenization —
        |    -- the DataFrame twin moved to the kernel in r17, this door
        |    -- had not; kernel ≡ regex pinned by SplitCountSpec)
        |    SELECT doc_id,
        |      CAST(graft_split_count(trim(text), false) AS BIGINT) AS n
        |    FROM graft_docs))""".stripMargin)
    }),

    // the leakage-stable split in pure SQL text via the native
    // graft_sample_hash coin — the same md5 thresholds as
    // ext_split_assign under the same oracle: one semantics, two doors
    "sql_split_assign" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql(s"""SELECT doc_id,
        |  CASE WHEN graft_sample_hash(doc_id) < ${
          (0.8 * 1152921504606846976.0d).toLong} THEN 'train'
        |       WHEN graft_sample_hash(doc_id) < ${
          (0.9 * 1152921504606846976.0d).toLong} THEN 'val'
        |       ELSE 'test' END AS split
        |FROM graft_docs""".stripMargin)
    }),

    // the carry-forward as-of join written as SQL TEXT (union +
    // running last(ignoreNulls) window over registered views) — the
    // same one-exchange plan AsOfJoin.asOfJoin builds, under the same
    // DuckDB ASOF LEFT JOIN oracle: proves the operator's formulation
    // is fully SQL-expressible, no Scala required
    "sql_join_asof" -> ((s, dir) => {
      val ev = graft.sources.EventsSource.readEvents(s, dir)
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("user_id"),
          expr("ts div 1000").as("buy_ts_us"))
        .createOrReplaceTempView("graft_asof_buys")
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          expr("ts div 1000").as("click_ts_us"))
        .createOrReplaceTempView("graft_asof_clicks")
      s.sql("""WITH u AS (
        |  SELECT user_id, buy_ts_us AS ts, 1 AS side,
        |    9223372036854775807L AS tie,
        |    named_struct('buy_id', buy_id, 'buy_ts_us', buy_ts_us) AS l,
        |    CAST(NULL AS STRUCT<click_id: BIGINT, click_ts_us: BIGINT>) AS r
        |  FROM graft_asof_buys
        |  UNION ALL
        |  SELECT user_id, click_ts_us, 0, click_id,
        |    CAST(NULL AS STRUCT<buy_id: BIGINT, buy_ts_us: BIGINT>),
        |    named_struct('click_id', click_id, 'click_ts_us', click_ts_us)
        |  FROM graft_asof_clicks
        |  WHERE click_ts_us IS NOT NULL AND user_id IS NOT NULL
        |), m AS (
        |  SELECT *, last(r, true) OVER (PARTITION BY user_id
        |    ORDER BY ts, side, tie
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mr
        |  FROM u
        |)
        |SELECT l.buy_id AS buy_id, user_id, l.buy_ts_us AS buy_ts_us,
        |  mr.click_id AS click_id, mr.click_ts_us AS click_ts_us
        |FROM m WHERE side = 1""".stripMargin)
    }),

    // the KMV sketch driven as a SQL AGGREGATE over the registered
    // pipeline view — proves the registry route wraps the custom
    // TypedImperativeAggregate correctly (analyzer inserts the
    // AggregateExpression, partials and all), under the same oracle
    // determinism as ext_approx_distinct
    "sql_approx_distinct" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("""SELECT lang,
        |  graft_kmv_distinct(graft_sample_hash(doc_id), 64) AS est_docs,
        |  graft_kmv_distinct(graft_sample_hash(source), 64) AS est_sources
        |FROM graft_docs GROUP BY lang""".stripMargin)
    }),

    // the Gopher-style quality gate as pure SQL text over the pipeline
    // view — same five rules, same pinned zero-token ratios, same
    // oracle as ext_quality_gate: one semantics, two doors
    "sql_quality_gate" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      // the stopword lexicon now travels INSIDE graft_quality_signals
      // (one definition — the kernel's), not as interpolated literals
      s.sql(s"""SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens = 0 THEN 0.0D
        |    ELSE CAST(n_chars AS DOUBLE) / n_tokens END AS mean_token_len,
        |  CASE WHEN n_tokens = 0 THEN 0.0D
        |    ELSE CAST(n_sym AS DOUBLE) / n_tokens END AS symbol_ratio,
        |  CASE WHEN n_tokens = 0 THEN 0.0D
        |    ELSE CAST(n_distinct AS DOUBLE) / n_tokens END AS distinct_ratio,
        |  stopword_hits,
        |  CAST(n_tokens >= 10 AND n_tokens <= 100000
        |    AND (CASE WHEN n_tokens = 0 THEN 0.0D
        |      ELSE CAST(n_chars AS DOUBLE) / n_tokens END) >= 2.0D
        |    AND (CASE WHEN n_tokens = 0 THEN 0.0D
        |      ELSE CAST(n_chars AS DOUBLE) / n_tokens END) <= 12.0D
        |    AND (CASE WHEN n_tokens = 0 THEN 0.0D
        |      ELSE CAST(n_sym AS DOUBLE) / n_tokens END) <= 0.25D
        |    AND (CASE WHEN n_tokens = 0 THEN 0.0D
        |      ELSE CAST(n_distinct AS DOUBLE) / n_tokens END) >= 0.3D
        |    AND stopword_hits >= 1 AS BIGINT) AS passes
        |FROM (
        |  SELECT doc_id, sig.n_tokens AS n_tokens, sig.n_chars AS n_chars,
        |    sig.n_sym AS n_sym, sig.n_distinct AS n_distinct,
        |    sig.n_stop AS stopword_hits
        |  FROM (SELECT doc_id, graft_quality_signals(text) AS sig
        |        FROM graft_docs WHERE text IS NOT NULL))""".stripMargin)
    }),

    // language ID / repetition / SimHash as pure SQL text — the
    // remaining kernel doors, each a narrow projection reusing its
    // DataFrame twin's oracle
    "sql_lang_id" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("""SELECT doc_id, sig.n_tokens AS n_tokens,
        |  sig.de_hits AS de_hits, sig.en_hits AS en_hits,
        |  sig.es_hits AS es_hits, sig.fr_hits AS fr_hits,
        |  CASE
        |    WHEN greatest(sig.de_hits, sig.en_hits, sig.es_hits,
        |      sig.fr_hits) = 0 THEN 'und'
        |    WHEN sig.de_hits >= sig.en_hits AND sig.de_hits >= sig.es_hits
        |      AND sig.de_hits >= sig.fr_hits THEN 'de'
        |    WHEN sig.en_hits >= sig.es_hits AND sig.en_hits >= sig.fr_hits
        |      THEN 'en'
        |    WHEN sig.es_hits >= sig.fr_hits THEN 'es'
        |    ELSE 'fr' END AS predicted_lang
        |FROM (SELECT doc_id, graft_lexicon_hits(text) AS sig
        |      FROM graft_docs WHERE text IS NOT NULL)""".stripMargin)
    }),

    "sql_repetition" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("""SELECT doc_id, sig.n_tokens AS n_tokens,
        |  CAST(sig.n_distinct AS DOUBLE) / CAST(sig.n_tokens AS DOUBLE)
        |    AS distinct_ratio,
        |  sig.max_trigram_count AS max_trigram_count
        |FROM (SELECT doc_id, graft_repetition_signals(text) AS sig
        |      FROM graft_docs WHERE text IS NOT NULL)""".stripMargin)
    }),

    "sql_simhash" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("""SELECT doc_id, graft_simhash(text, 16) AS simhash
        |FROM graft_docs WHERE text IS NOT NULL""".stripMargin)
    }),

    // ---- perceptual dedup as SQL text (round 19): the profile-dHash
    //      stub path through the codegen'd graft_phash kernel, then
    //      banding + verify as plain SQL — identical relation to the
    //      DataFrame row (all-stub on this text corpus), one oracle --
    "sql_dedup_images" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("""WITH pd AS (
        |  SELECT doc_id, encode(text, 'utf-8') AS payload
        |  FROM graft_docs
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    encode(concat(substring(text, 1, length(text) - 8),
        |      'zzzzzzzz'), 'utf-8')
        |  FROM graft_docs WHERE doc_id < 20
        |), hv AS (
        |  SELECT doc_id, graft_phash(payload) AS phash FROM pd
        |  WHERE payload IS NOT NULL
        |), bv AS (
        |  SELECT doc_id, phash, b,
        |    shiftright(phash, CAST(15 * b AS INT)) & 32767 AS v
        |  FROM (SELECT doc_id, phash, explode(sequence(0, 3)) AS b
        |        FROM hv)
        |), cand AS (
        |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
        |    x.phash AS h1, y.phash AS h2
        |  FROM bv x JOIN bv y
        |    ON y.b = x.b AND y.v = x.v AND x.doc_id < y.doc_id
        |)
        |SELECT id1, id2,
        |  CAST(bit_count(h1 ^ h2) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(h1 ^ h2) <= 3""".stripMargin)
    }),

    // TF-IDF top terms as pure SQL text — the graft_term_counts kernel
    // door: narrow (doc, term, tf) rows from the map explode, exactly
    // the DataFrame operator's plan; same oracle as ext_tfidf
    "sql_tfidf" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("""WITH tf AS (
        |  SELECT doc_id, t.term AS term, t.tf AS tf
        |  FROM graft_docs
        |  LATERAL VIEW explode(graft_term_counts(text)) t AS term, tf
        |  WHERE text IS NOT NULL
        |), df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        |), n AS (
        |  SELECT count(*) AS n
        |  FROM (SELECT DISTINCT doc_id FROM graft_docs WHERE text IS NOT NULL)
        |)
        |SELECT doc_id, term, tf, df, score, rnk FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE)
        |        DESC, tf.term ASC) AS BIGINT) AS rnk
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |) WHERE rnk <= 3""".stripMargin)
    }),

    // PII redaction as pure SQL text (same ordered regexp_replace
    // fold, same planted fixture, same oracle as ext_pii_redact)
    "sql_pii_redact" -> ((s, dir) => {
      plantedPiiDocs(s, dir).createOrReplaceTempView("graft_pii_docs")
      // plain (non-interpolated) triple quote: '\\.' here IS the SQL
      // text \\. which the SQL parser unescapes to the regex \.
      s.sql("""SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>'),
        |      '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>'),
        |    '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>') AS text_redacted
        |FROM graft_pii_docs""".stripMargin)
    }),

    // single-query BM25 as pure SQL text — the SAME conditional-tf
    // columns, 1-row stats cross join, and fixed left-to-right score
    // chain as TextAnalysis.bm25TopK, under ext_bm25's oracle
    "sql_bm25" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      def termSql(i: Int): String =
        s"""(CAST(2L*n_docs - 2L*df_$i + 1L AS DOUBLE) / CAST(2L*df_$i + 1L AS DOUBLE)
           |    * (CAST(22L*tf_$i*tt AS DOUBLE) / CAST(10L*tt*tf_$i + 3L*tt + 9L*dl*n_docs AS DOUBLE)))""".stripMargin
      s.sql(s"""WITH tk AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, explode(split(text, ' ')) AS term
        |    FROM graft_docs WHERE text IS NOT NULL
        |  ) WHERE term != ''
        |), pd AS (
        |  SELECT doc_id, count(1) AS dl,
        |${bm25Terms.zipWithIndex.map { case (t, i) =>
            s"    sum(CASE WHEN term = '$t' THEN 1L ELSE 0L END) AS tf_$i"
          }.mkString(",\n")}
        |  FROM tk GROUP BY doc_id
        |), st AS (
        |  SELECT count(1) AS n_docs, sum(dl) AS tt,
        |${bm25Terms.indices.map(i =>
            s"    sum(CASE WHEN tf_$i > 0 THEN 1L ELSE 0L END) AS df_$i"
          ).mkString(",\n")}
        |  FROM pd
        |)
        |SELECT doc_id, dl,
        |  ${bm25Terms.indices.map(termSql).mkString("\n  + ")} AS score
        |FROM pd CROSS JOIN st
        |WHERE ${bm25Terms.indices.map(i => s"tf_$i").mkString(" + ")} > 0
        |ORDER BY score DESC, doc_id ASC LIMIT 25""".stripMargin)
    }),

    // ================= large-scale pipeline extensions =================

    // ---- exact dedup (hash-groupBy over documents + planted dups) ----
    "ext_dedup_exact" -> ((s, dir) =>
      graft.operators.Dedup.exact(plantedDocs(s, dir))),

    // ---- INCREMENTAL exact dedup: the planted batch against the
    //      fingerprint set of an "already-landed" corpus slice
    //      (doc_id % 3 = 0) — within-batch min-id keep + anti join;
    //      the continuous-ingest shape (batch + fingerprints, never
    //      a corpus rescan) --------------------------------------------
    "ext_dedup_incremental" -> ((s, dir) => {
      val known = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 0 && col("text").isNotNull)
        .select(md5(col("text")).as("h"))
      graft.operators.Dedup.incrementalExact(plantedDocs(s, dir), known)
    }),

    // ---- the exact incremental filter against the BUCKETED hash
    //      store: same drop rule as ext_dedup_incremental (same
    //      oracle), landed side a prunable bands store of content md5s —
    //      membership never scans or shuffles the fingerprint table --
    "ext_dedup_incremental_exact_store" -> ((s, dir) =>
      graft.operators.Dedup.incrementalExactWithStore(
        plantedDocs(s, dir), landedHashStore(s, dir))._1),

    // ---- MinHash + LSH band-join candidate pairs ---------------------
    // per-doc polynomial window hashes -> 4 XOR-seeded min-hashes -> 2
    // indexed bands -> pairs sharing a band (sort-merge self-join with
    // exchange reuse). Planted exact dups guarantee true positives.
    "ext_dedup_minhash" -> ((s, dir) =>
      graft.operators.Dedup.minhashCandidates(plantedDocs(s, dir))),

    // ---- INCREMENTAL near-dup dedup: the planted batch against the
    //      LANDED signature table (doc_id % 3 = 0 slice) — band-match
    //      drops via per-band aggregates, nothing pairwise, never a
    //      corpus rescan; the continuous-crawl form of ext_dedup_minhash
    "ext_dedup_incremental_minhash" -> ((s, dir) => {
      val known = graft.operators.Dedup.minhashSignatures(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")), 8,
        graft.operators.Dedup.DefaultSeeds)
      graft.operators.Dedup.incrementalMinhash(
        plantedDocs(s, dir), known)
    }),

    // ---- the same incremental near-dup filter as CONTINUOUS INGEST ---
    // readStream -> foreachBatch(filter vs landed sigs, append
    // survivors + ALL batch signatures): the parquet signature table IS
    // the dedup state, shared between batch backfills and the stream;
    // same oracle as the batch row (multi-batch ≡ one-shot is pinned by
    // StreamingDedupSpec's 3-batch differential)
    "ext_dedup_stream_minhash" -> ((s, dir) => {
      val known = graft.operators.Dedup.minhashSignatures(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")), 8,
        graft.operators.Dedup.DefaultSeeds)
      // fresh sig/store dirs per run (the stream appends batch state),
      // seeded by CLONING a fingerprint-cached landed state (r18): the
      // known-signature compute + band landing run once per corpus
      // snapshot, not once per run — the callee's batch=init commits
      // are existence-gated, so the clone short-circuits them without
      // executing the frames
      val sigDir = graft.core.Smoltable.scratchDir("graft_incmh_sig_")
      copyDirInto(
        java.nio.file.Paths.get(streamMinhashSeed(s, dir, known)),
        java.nio.file.Paths.get(sigDir))
      graft.streaming.StreamOps.incrementalMinhashToFiles(s, dir, known,
        sigDir,
        graft.core.Smoltable.scratchDir("graft_incmh_out_"),
        graft.core.Smoltable.scratchDir("graft_incmh_ck_"),
        docs => docs.unionAll(docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))))
    }),

    // ---- the incremental near-dup filter against the BUCKETED band
    // store (round 17): same drop rule as ext_dedup_incremental_minhash
    // (same oracle SQL), but the landed side is a bands store — the
    // membership lookup prunes (bp partition filters + pushed In(band))
    // and feeds no exchange, so per-batch cost tracks the batch, not
    // the landed corpus. Store built in a scratch dir per run (build is
    // landed-band-sized; the plan shape is what this row pins).
    "ext_dedup_incremental_store" -> ((s, dir) => {
      val store = landedBandsStore(s, dir)
      graft.operators.Dedup
        .incrementalMinhashWithStore(plantedDocs(s, dir), store)._1
    }),

    // ---- near-dup CLUSTERS: minhash pairs -> connected components ----
    // (large-star/small-star; every doc mapped to its cluster's min id,
    // singletons to themselves). The step that turns pairwise evidence
    // into keep-one-per-cluster dedup.
    "ext_dedup_cluster" -> ((s, dir) => {
      val docs = plantedDocs(s, dir)
      val pairs = graft.operators.Dedup.minhashCandidates(docs)
      val comps = graft.operators.Dedup.connectedComponents(pairs)
      docs.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),

    // ---- TRUE stateful-streaming exact dedup (flatMapGroupsWithState
    // seen-flag per content hash, memory-sink oracle harness; the
    // file-sink + RocksDB scale shape is measured in SCALE.md). One
    // source file -> one micro-batch, so keep_id = min doc_id per hash
    // deterministically.
    "ext_dedup_stream" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingDedup(s, dir)),

    // ---- streaming quality gate + redaction (r17): the one-pass text
    // kernels running inside micro-batches — stateless projections, so
    // the streaming relation IS the batch relation -------------------
    "ext_stream_quality" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingQualityPrep(s, dir)),

    // ---- the COMPLETE streaming prep front (r17): gate -> redact ->
    // stateful exact dedup on the redacted content hash, one stream —
    // the kernels feeding the keeper state ----------------------------
    "ext_stream_prep" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingPrepFront(s, dir)),

    // ---- horizon-BOUNDED streaming dedup (dropDuplicatesWithinWatermark
    // — state expires 1h past each key's event time; re-occurrences
    // beyond the horizon re-emit, so the deterministic relation is the
    // key set) ---------------------------------------------------------
    "ext_dedup_stream_bounded" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingDedupBounded(s, dir).distinct()),

    // ---- SimHash (16-bit) fingerprints -------------------------------
    "ext_dedup_simhash" -> ((s, dir) => graft.operators.Dedup.simhash(
      s.read.parquet(s"$dir/documents.parquet"), nBits = 16)),

    // ---- PERCEPTUAL image dedup (round 19): 60-bit profile dHash over
    //      the payloads (real pixel decode for claimable images, byte
    //      profile for the stub path — all-stub on this text corpus, so
    //      the oracle recomputes every bit), Hamming-banded 4×15 with
    //      exact recall at distance ≤ 3; planted variants replace the
    //      LAST 8 bytes in place, landing within a few bits of their
    //      base — real "near-identical image" geometry, not exact-dup --
    "ext_dedup_images" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val payloads = graft.operators.Multimodal.textPayloads(s, dir)
        .unionAll(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            encode(concat(
              expr("substring(text, 1, length(text) - 8)"),
              lit("zzzzzzzz")), "utf-8").as("payload")))
      graft.operators.Multimodal.imageNearDupPairs(
        graft.operators.Multimodal.perceptualHashes(payloads))
    }),

    // ---- INCREMENTAL perceptual dedup (round 19): the profile-dHash
    //      rule against a LANDED vectors store (ck = Hamming band,
    //      fx = [phash] — band membership makes a candidate, the
    //      landed hash verifies it). Landed = the %3 slice; batch =
    //      the rest + the tail-edit variants, which drop vs landed or
    //      within batch by the same ≤3-bit rule -----------------------
    "ext_dedup_images_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = graft.operators.Multimodal.textPayloads(s, dir)
      val variants = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          encode(concat(
            expr("substring(text, 1, length(text) - 8)"),
            lit("zzzzzzzz")), "utf-8").as("payload"))
      val batch = base.filter(col("doc_id") % 3 =!= 0)
        .unionAll(variants)
      // landed state = the fingerprint-cached seed store (r21 — the
      // landedBandsStore / landedSemanticState / streamImageSeed
      // convention applied to the one incremental row still re-hashing
      // the landed corpus per run): store construction is ingest cost,
      // the contract row measures the per-batch lookup. READ-ONLY here
      // (the batch's members are never appended), so the shared cache
      // stays clean.
      val store = graft.operators.BatchStore.open(s,
        streamImageSeed(s, dir), graft.operators.BatchStore.Vectors)
      graft.operators.Multimodal
        .incrementalImageDedupWithStore(batch, store)._1
    }),

    // ---- the STREAMING perceptual-dedup twin (round 19): the same
    //      landed/batch split through the real foreachBatch loop —
    //      survivors batch-keyed atomic, all-seen member landing,
    //      self-tag-excluded lookups; the payload tail-edit is done on
    //      BYTES (ASCII corpus ⇒ byte-identical to the batch row's
    //      text-level edit), one oracle for both ----------------------
    "ext_dedup_stream_images" -> ((s, dir) => {
      // per-run scratch store cloned from the fingerprint-cached seed
      // (the callee's existence-gated batch=init append then skips
      // without executing the landed hash pass)
      // SINGLE-MICRO-BATCH ASSUMPTION (pinned): the +1000000 planted
      // ids are out of range for any id-ordered batch split — this row
      // passes no maxFilesPerTrigger, so the whole table is ONE batch
      // and the id-order precondition is vacuous. Adding a
      // maxFilesPerTrigger here would silently break the streamed ≡
      // one-shot oracle equivalence; the multi-batch case is covered
      // by StreamingDedupSpec with in-range 8·base+k plants.
      val storeDir = graft.core.Smoltable.scratchDir("graft_imgst_store_")
      copyDirInto(
        java.nio.file.Paths.get(streamImageSeed(s, dir)),
        java.nio.file.Paths.get(storeDir))
      graft.streaming.StreamOps.incrementalImageToFiles(s, dir,
        graft.operators.Multimodal.textPayloads(s, dir)
          .filter(col("doc_id") % 3 === 0),
        storeDir,
        graft.core.Smoltable.scratchDir("graft_imgst_out_"),
        graft.core.Smoltable.scratchDir("graft_imgst_ck_"),
        transform = p => p.filter(col("doc_id") % 3 =!= 0)
          .unionAll(p.filter(col("doc_id") < 20)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(
                expr("substring(payload, 1, length(payload) - 8)"),
                lit("zzzzzzzz").cast("binary")).as("payload"))))
    }),

    // ---- END-TO-END CONTINUOUS CURATION (round 19, the composed
    //      contract row): ONE stream running quality gate → PII
    //      redaction → exact dedup → minhash near-dup → semantic dedup
    //      — each dedup stage against its own landed store, all three
    //      maintained INLINE — then packs the landed curated table.
    //      Planted: exact dups (+1000000, same text) die at stage 3;
    //      word-reversed twins (+2000000, same embedding via the
    //      planted static side) survive the text stages and die at the
    //      semantic stage. The oracle recomputes the whole composition
    //      one-shot — id-ordered batches ≡ batch pipeline ------------
    "ext_stream_curate" -> ((s, dir) => {
      // SINGLE-MICRO-BATCH ASSUMPTION (pinned): the +1000000/+2000000
      // planted ids are out of range for any id-ordered batch split —
      // exactly the hazard curateToFiles' scaladoc warns breaks the
      // streamed ≡ one-shot equivalence. The row passes no
      // maxFilesPerTrigger, so the whole table is ONE batch and the
      // precondition is vacuous; do not add one without re-planting
      // in-range ids (StreamingDedupSpec's 8·base+k discipline).
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val plantedEmb = emb.select(col("vec_id"), col("embedding"))
        .unionAll(emb.filter(col("vec_id") % 40 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            col("embedding")))
      graft.streaming.StreamOps.curateToFiles(s, dir,
        plantedEmb, kmeansIvfLayoutDir(s, dir),
        graft.core.Smoltable.scratchDir("graft_curate_state_"),
        graft.core.Smoltable.scratchDir("graft_curate_out_"),
        graft.core.Smoltable.scratchDir("graft_curate_ck_"),
        transform = docs => docs
          .unionAll(docs.filter(col("doc_id") % 50 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), col("lang")))
          .unionAll(docs.filter(col("doc_id") % 40 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              concat_ws(" ", reverse(split(col("text"), " ")))
                .as("text"), col("lang"))),
        maintainAtBatches = 4)
    }),

    // ---- DRAINED-STREAM end-state AUDIT (round 20 — the "restore
    //      from disk alone" proof): run the full curation stream on a
    //      VERSIONED layout with inline maintenance, force a retrain +
    //      store re-key after the batch, then emit NOTHING recomputed —
    //      four state sets read straight off the committed dirs
    //      (curated survivors, exact hashes, minhash bands, vector
    //      member ids). The oracle recomputes the batch composition's
    //      end state; equality proves all state a continuing pipeline
    //      needs lives in the committed dirs and survives
    //      cutover + re-key + compaction. ----------------------------
    "ext_stream_curate_audit" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val plantedEmb = emb.select(col("vec_id"), col("embedding"))
        .unionAll(emb.filter(col("vec_id") % 40 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            col("embedding")))
      // versioned scratch root whose v=0 IS the cached static layout
      // (file copy + pointer) — the run retrains it to v=1
      val root = graft.core.Smoltable.scratchDir("graft_caud_root_")
      copyDirInto(
        java.nio.file.Paths.get(kmeansIvfLayoutDir(s, dir)),
        java.nio.file.Paths.get(s"$root/v=0"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root,
          graft.operators.IvfVersions.CurrentName),
        "v=0\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val stateDir = graft.core.Smoltable.scratchDir("graft_caud_state_")
      val outDir = graft.core.Smoltable.scratchDir("graft_caud_out_")
      val task = graft.operators.IvfVersions.driftRetrainTask(root,
        recentBatch = () => plantedEmb, corpus = () => plantedEmb,
        meanD2Threshold = 0L,
        // pointer publish + re-key as ONE store-write-locked unit
        // (r21 — the r20 ADVICE cutover race)
        cutover = graft.operators.Clustering.rekeyStoreOnCutover(
          graft.operators.BatchStore.open(s, s"$stateDir/vecs",
            graft.operators.BatchStore.Vectors),
          root))
      graft.streaming.StreamOps.curateToFiles(s, dir,
        plantedEmb, root, stateDir, outDir,
        graft.core.Smoltable.scratchDir("graft_caud_ck_"),
        transform = docs => docs
          .unionAll(docs.filter(col("doc_id") % 50 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), col("lang")))
          .unionAll(docs.filter(col("doc_id") % 40 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              concat_ws(" ", reverse(split(col("text"), " ")))
                .as("text"), col("lang"))),
        maintainAtBatches = 2,
        afterBatch = id => if (id == 0L) task())
      // ---- the audit: everything below reads ONLY committed dirs ----
      import org.apache.spark.sql.types.{LongType => LT, StringType => ST, StructField => SF, StructType => STy}
      val curated = s.read
        .schema(STy(Seq(SF("doc_id", LT), SF("lang", ST),
          SF("n_tokens", LT), SF("batch", ST))))
        .parquet(outDir)
        .select(lit("curated").as("kind"),
          col("doc_id").cast("string").as("k"))
      val hashes = graft.operators.BatchStore
        .open(s, s"$stateDir/exact", graft.operators.BatchStore.Bands).read()
        .select(lit("hash").as("kind"), col("band").as("k"))
      val bands = graft.operators.BatchStore
        .open(s, s"$stateDir/bands", graft.operators.BatchStore.Bands).read()
        .select(lit("band").as("kind"), col("band").as("k"))
      val members = graft.operators.BatchStore
        .open(s, s"$stateDir/vecs", graft.operators.BatchStore.Vectors).read()
        .select(lit("member").as("kind"),
          col("vec_id").cast("string").as("k"))
      // ONE distinct over the union (r22, §2.4): `kind` disjoins the
      // four sources, so union-then-distinct ≡ union of per-branch
      // distincts — same relation, one exchange instead of four
      curated.unionAll(hashes).unionAll(bands).unionAll(members)
        .distinct()
    }),

    // ---- LINE-level dedup (C4/RefinedWeb boilerplate removal) --------
    // multi-line docs built from 8-token chunks + two planted footer
    // lines (in ~1/3 and ~1/4 of docs); lines in >20 distinct docs are
    // dropped, naturally-repeated lines (DF 2..20) survive, and docs are
    // reassembled from surviving lines in original order.
    "ext_dedup_lines" -> ((s, dir) =>
      graft.operators.Dedup.removeBoilerplateLines(
        lineDocs(s, dir), maxDocFrequency = 20L)),

    // ---- n-gram (token) Jaccard between consecutive docs -------------
    "ext_dedup_ngram_jaccard" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = docs.select(col("doc_id").as("id1"))
        .join(docs.select(col("doc_id").as("id2")),
          col("id2") === col("id1") + 1)
      graft.operators.Dedup.jaccardCounts(docs, pairs)
    }),

    // ---- embedding cosine near-dup pairs (threshold) -----------------
    "ext_dedup_embedding" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val pairs = e.select(col("vec_id").as("id1"))
        .join(e.select(col("vec_id").as("id2")), col("id2") === col("id1") + 1)
      graft.operators.Similarity.nearDupPairs(e, pairs, 0.5)
    }),

    // ---- SEMANTIC dedup (round 17, SemDeDup shape): capped k-means
    //      clusters × top-2-centroid residual sub-buckets as the
    //      candidate key — pairs only inside a cluster, never
    //      all-pairs within one; planted identical embeddings (d2=0)
    //      must drop, min-id keeps; all-integer end to end ------------
    "ext_dedup_semantic" -> ((s, dir) =>
      graft.operators.Clustering.semanticDedup(
        plantedEmbeddings(s, dir), dist2Threshold = 1000L)),

    // ---- INCREMENTAL semantic dedup (round 18): frozen centroids
    //      from the persisted kmeans layout trained on the landed
    //      id-prefix; the landed members live in a vectors store
    //      (bp partition filters + pushed In(ck), zero landed-side
    //      exchanges), so a batch is deduped against the corpus
    //      without rescanning it — batch-split ≡ one-shot pinned by
    //      the ClusteringSpec differential; the oracle trains on the
    //      prefix and applies the one-shot drop rule to the batch ----
    "ext_dedup_semantic_incremental" -> ((s, dir) => {
      val (layout, store) = landedSemanticState(s, dir)
      val batch = plantedEmbeddings(s, dir)
        .filter(col("vec_id") >= semanticSplitId(s, dir))
      graft.operators.Clustering.incrementalSemanticWithStore(
        batch, layout, store, dist2Threshold = 1000L)._1
    }),

    // ---- semantic dedup ACROSS A RETRAIN (round 19 — the missing
    //      half of the drift→cutover story): the landed store's bucket
    //      keys are a function of the centroids, so the cutover hook
    //      RE-KEYS the landed members under the new layout
    //      (Clustering.rekeyStore). Landed = the id-prefix half under
    //      the stale v=0 layout; the second half's drift trips the
    //      retrain on the full corpus; the batch then dedups against
    //      the re-keyed store under v=1. The row is self-checking for
    //      the re-key: without it the landed membership would be
    //      invisible under the new keys and the survivor set would
    //      hash-mismatch the oracle (which trains on the full corpus
    //      and drops batch docs near ANY landed vector) ---------------
    "ext_dedup_semantic_retrained" -> ((s, dir) => {
      val (root, storeDir) = semanticRetrainState(s, dir)
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val split = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) / 2L
      graft.operators.Clustering.incrementalSemanticWithStore(
        e.filter(col("vec_id") >= split),
        graft.operators.IvfVersions.currentDir(root),
        graft.operators.BatchStore.open(s, storeDir,
          graft.operators.BatchStore.Vectors), 1000L)._1
    }),

    // ---- SEMANTIC-MIXTURE rebalance (round 18): the cluster twin of
    //      ext_rebalance_langs — uniform training mix across semantic
    //      clusters, with assignments read STRAIGHT OFF the persisted
    //      kmeans layout (zero assignment compute: the serving index's
    //      cid= partition column IS the group key); P[keep] =
    //      min_cluster/cluster via the shared md5 coin ----------------
    "ext_rebalance_clusters" -> ((s, dir) =>
      graft.operators.Corpus.rebalanceGroups(
        s.read.parquet(kmeansIvfLayoutDir(s, dir))
          // partition-column inference narrows cid to int32; the
          // logical cid is a vec_id (long) — restore it for the oracle
          .select(col("vec_id"), col("cid").cast("long").as("cid")),
        groupCol = "cid", idCol = "vec_id")),

    // ---- assignment-DRIFT telemetry (round 18): the new batch's
    //      per-cluster count / exact inertia / max d2 against the
    //      FROZEN layout centroids — the ingest-time signal that the
    //      persisted layout needs a re-train; all int64, one kernel
    //      pass + one k-row aggregate --------------------------------
    "ext_semantic_drift" -> ((s, dir) => {
      val (layout, _) = landedSemanticState(s, dir)
      graft.operators.Clustering.assignmentDrift(
        plantedEmbeddings(s, dir)
          .filter(col("vec_id") >= semanticSplitId(s, dir)), layout)
    }),

    // ---- STREAMING semantic dedup (round 18): the same frozen-
    //      centroid + landed-store composition through a real
    //      readStream → foreachBatch loop with exactly-once batch-
    //      keyed commits (survivors first, all-seen member landing
    //      after) — multi-batch ≡ one-shot, so it shares the batch
    //      row's oracle; fresh store per run, seeded from the landed
    //      prefix as batch=init ------------------------------------
    "ext_dedup_stream_semantic" -> ((s, dir) => {
      val (layout, landedStore) = landedSemanticState(s, dir)
      val t = semanticSplitId(s, dir)
      // fresh store per run (the stream appends batch state), but the
      // landed init dir CLONES from the fingerprint-cached store — a
      // file copy, not a per-run recompute of the landed assignment
      // (incrementalSemanticToFiles seeds from landedEmb only when
      // batch=init is absent)
      val storeDir = graft.core.Smoltable.scratchDir("graft_incsem_store_")
      copyDirInto(
        java.nio.file.Paths.get(landedStore.dir, "batch=init"),
        java.nio.file.Paths.get(storeDir, "batch=init"))
      graft.streaming.StreamOps.incrementalSemanticToFiles(s, dir,
        layout,
        plantedEmbeddings(s, dir).filter(col("vec_id") < t),
        storeDir,
        graft.core.Smoltable.scratchDir("graft_incsem_out_"),
        graft.core.Smoltable.scratchDir("graft_incsem_ck_"),
        dist2Threshold = 1000L,
        transform = emb => {
          val planted = emb.unionAll(emb.filter(col("vec_id") % 50 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"),
              col("embedding")))
          planted.filter(col("vec_id") >= t)
        })
    }),

    // ---- STREAMING semantic dedup ACROSS A LIVE RETRAIN (round 20 —
    //      the r19 top ask closed): the stream starts on a VERSIONED
    //      v=0 root trained on the landed half; after batch 0 commits,
    //      the drift task retrains on the full corpus, cuts the
    //      pointer to v=1, and RE-KEYS the landed member store —
    //      batch 1 (the drifted half + planted d2=0 copies of every
    //      50th id) then probes the new layout against the re-keyed
    //      store, no stream restart. Self-checking both ways: without
    //      the per-batch pointer resolve batch 1 would assign under
    //      stale v=0 centroids, and without the re-key the landed
    //      membership would be invisible under v=1 keys — either way
    //      the survivor set hash-mismatches the oracle (batch 0 under
    //      the prefix-trained kmeans, batch 1 under the full-corpus
    //      kmeans, two suffixed CTE chains) ---------------------------
    "ext_dedup_stream_semantic_retrained" -> ((s, dir) => {
      val (rootCache, storeCache, inDir) =
        semanticStreamRetrainState(s, dir)
      // per-run clones: the run mutates both (retrain to v=1, re-key)
      val root = graft.core.Smoltable.scratchDir("graft_ssrt_root_")
      val storeDir = graft.core.Smoltable.scratchDir("graft_ssrt_store_")
      copyDirInto(java.nio.file.Paths.get(rootCache),
        java.nio.file.Paths.get(root))
      copyDirInto(java.nio.file.Paths.get(storeCache),
        java.nio.file.Paths.get(storeDir))
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val n = e.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val split = n / 2L
      val b1lo = 3L * (n / 4L)
      val task = graft.operators.IvfVersions.driftRetrainTask(root,
        recentBatch = () => e.filter(col("vec_id") >= b1lo),
        corpus = () => e, meanD2Threshold = 0L,
        // pointer publish + re-key as ONE store-write-locked unit
        // (r21 — the r20 ADVICE cutover race): a concurrent batch can
        // never resolve the new layout against the old-keyed store
        cutover = graft.operators.Clustering.rekeyStoreOnCutover(
          graft.operators.BatchStore.open(s, storeDir,
            graft.operators.BatchStore.Vectors), root))
      graft.streaming.StreamOps.incrementalSemanticToFiles(s, inDir,
        root, e.filter(col("vec_id") < split), storeDir,
        graft.core.Smoltable.scratchDir("graft_ssrt_out_"),
        graft.core.Smoltable.scratchDir("graft_ssrt_ck_"),
        dist2Threshold = 1000L,
        maxFilesPerTrigger = Some(1),
        afterBatch = id => if (id == 0L) task())
    }),

    // ---- stratified sampling: exact per-language quota (one window
    // shuffle) vs the shuffle-free hash-threshold scale path ----------
    "ext_stratified_sample" -> ((s, dir) =>
      graft.operators.Corpus.stratifiedSampleExact(
        s.read.parquet(s"$dir/documents.parquet"), "lang", 0.2)),
    "ext_sample_threshold" -> ((s, dir) =>
      graft.operators.Corpus.thresholdSample(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang")), 0.25)),

    // ---- deterministic approx-distinct (bounded KMV sketch) ----------
    // per event_type: distinct users (exact branch where cardinality
    // < k) and distinct event ids (estimate branch) in ONE pass —
    // k longs of state per partial vs COUNT(DISTINCT)'s every-pair
    // shuffle; md5-deterministic so DuckDB recomputes it bit-for-bit
    "ext_approx_distinct" -> ((s, dir) => {
      val ev = graft.sources.EventsSource.readEvents(s, dir)
      ev.groupBy(col("event_type")).agg(
        graft.operators.Corpus.kmvDistinct(col("user_id")).as("est_users"),
        graft.operators.Corpus.kmvDistinct(col("event_id")).as("est_events"))
    }),

    // ---- deterministic sequence packing (token-budget bins) ----------
    // greedy contiguous packing into 2048-token bins over 32 md5
    // shards: one shuffle on shard, per-task cumsum — the scalable
    // shape of pretraining batch layout; whitespace tokens match the
    // oracle's string_split
    "ext_pack_sequences" -> ((s, dir) =>
      graft.operators.Corpus.packSequences(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull) // split(null) is -1-sized; keep
          .select(col("doc_id"),         // parity with the oracle filter
            size(split(col("text"), " ")).as("n_tokens")),
        "doc_id", "n_tokens", 2048L)),

    // ---- MULTIMODAL sequence packing (round 18): interleaved
    //      image+text budgets — a doc costs its whitespace tokens PLUS
    //      ceil(w/16)*ceil(h/16) ViT patch tokens from the multimodal
    //      feature dims (the real mapPartitions extraction path), and
    //      the greedy contiguous packer bins on the combined cost;
    //      8192-token bins so the stub dims' up-to-4096-patch images
    //      still pack multi-doc ----------------------------------------
    "ext_pack_multimodal" -> ((s, dir) => {
      val feats = graft.operators.Multimodal.documentFeatures(s, dir)
        .select(col("doc_id"), col("width"), col("height"))
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("text_tokens"))
      graft.operators.Corpus.packMultimodal(
        toks.join(feats, Seq("doc_id")))
    }),

    // ---- the multimodal packer as pure SQL TEXT (two doors, one
    //      semantics): stub dims replayed from md5(text) exactly as the
    //      mapPartitions decode stub computes them, patch cost by
    //      integer ceiling div, shard by the registered graft_sample_
    //      hash kernel, cumsum window — same oracle as the ext row ----
    "sql_pack_multimodal" -> ((s, dir) => {
      graft.sql.SqlSurface.registerPipeline(s,
        s.read.parquet(s"$dir/documents.parquet"),
        includeClusters = false)
      s.sql("""WITH t AS (
        |  SELECT doc_id,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS text_tokens,
        |    ((CAST(conv(substring(md5(text), 1, 4), 16, 10) AS BIGINT) % 1024 + 15) DIV 16)
        |      * ((CAST(conv(substring(md5(text), 5, 4), 16, 10) AS BIGINT) % 1024 + 15) DIV 16) AS patch_tokens,
        |    pmod(graft_sample_hash(doc_id), 32L) AS shard
        |  FROM graft_docs WHERE text IS NOT NULL
        |), c AS (
        |  SELECT doc_id, shard, text_tokens, patch_tokens,
        |    text_tokens + patch_tokens AS n_tokens,
        |    coalesce(sum(text_tokens + patch_tokens) OVER (
        |      PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
        |      AS tokens_before
        |  FROM t
        |)
        |SELECT doc_id, shard, tokens_before DIV 8192 AS bin, n_tokens,
        |  text_tokens, patch_tokens
        |FROM c""".stripMargin)
    }),

    // ---- deterministic WEIGHTED sampling (P[keep] ∝ n_chars) ---------
    // shuffle-free like ext_sample_threshold, integer-exact long
    // compare; tau = 1e15 per char ≈ 26% expected mass at this corpus's
    // length profile
    "ext_sample_weighted" -> ((s, dir) =>
      graft.operators.Corpus.weightedThresholdSample(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "n_chars", 1000000000000000L)),

    // ---- deterministic sampled quantiles (nearest-rank, int-exact) ---
    // p50/p95/p99 of the value metric per event_type over the 25% md5
    // sample: the sample predicate rides the scan shuffle-free, then one
    // window sort per group over SAMPLED rows only; nearest-rank over
    // integer cents keeps the whole computation float-free
    "ext_quantile_sampled" -> ((s, dir) =>
      graft.operators.Corpus.sampledQuantiles(
        graft.sources.EventsSource.readEvents(s, dir),
        "event_type", col("event_id"), round(col("value") * 100))),

    // ---- best-k per group: top 20 docs per language by length -------
    // (WindowGroupLimit: map-side top-k before the shuffle)
    "ext_topk_per_group" -> ((s, dir) =>
      graft.operators.Corpus.topKPerGroup(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars", 20)),

    // ---- test-set decontamination: word-trigram overlap vs a
    // broadcast holdout n-gram set (holdout = doc_id % 100 == 7) ------
    "ext_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Corpus.decontaminate(
        docs.filter(col("doc_id") % 100 =!= 7),
        docs.filter(col("doc_id") % 100 === 7))
    }),

    // ---- the WHOLE curation pass composed: cluster-keeper dedup +
    // token-count quality gate + decontamination in one query ---------
    "ext_curation_pipeline" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Corpus.curate(
        docs.filter(col("doc_id") % 100 =!= 7),
        docs.filter(col("doc_id") % 100 === 7))
    }),

    // ---- brute-force cosine top-k ANN --------------------------------
    "ext_ann_bruteforce" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, k = 5)
    }),

    // ---- int8 scalar-quantized top-k: the 4x-smaller rescore kernel --
    "ext_ann_quantized" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.quantizedTopK(
        e.filter(col("vec_id") < 10), e, k = 5)
    }),

    // ---- IVF pruning + int8 rescore: the quantized kernel in its
    // production placement behind the list-pruned probe ---------------
    "ext_ann_ivf_quantized" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.ivfTopKQuantized(
        e.filter(col("vec_id") < 10), e, k = 5)
    }),

    // ---- adaptive geometry + int8 rescore: the two production
    // choices composed (√n lists, √lists probes, quantized kernel) ----
    "ext_ann_ivf_quantized_adaptive" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.ivfTopKQuantizedAdaptive(
        e.filter(col("vec_id") < 10), e, k = 5)
    }),

    // ---- LSH-bucketed ANN: 4 seeded ±1 random-hyperplane tables (16
    //      buckets each), 5 query-directed probes per table (smallest
    //      |projection|-margin flips) — the scale path vs the baseline ----
    "ext_ann_bucketed" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.bucketedTopK(
        e.filter(col("vec_id") < 10), e, k = 3, smallQueryBatch = true)
    }),

    // ---- the same probe against the PHYSICAL `l=/bucket=` layout: the
    //      100 TB path — candidates pre-partitioned by (table, bucket),
    //      probe planned as a static partition-pruned read (the scan's
    //      PartitionFilters carry the probe set; nothing else is read) ----
    "eng_ann_bucketed" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.bucketedTopKFromLayout(
        annLayoutDir(s, dir), e.filter(col("vec_id") < 10), k = 3)
    }),

    // ---- the same probe against an INCREMENTALLY-built layout (half
    //      one-shot build, half appended): continuous ingest must not
    //      change a single probe result — same oracle SQL as the
    //      one-shot layout --------------------------------------------
    "eng_ann_append" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.bucketedTopKFromLayout(
        annAppendLayoutDir(s, dir), e.filter(col("vec_id") < 10), k = 3)
    }),

    // ---- IVF ANN: deterministic data-sampled centroids (vec_id %
    //      stride), zero-shuffle assignment via the NearestCentroid
    //      kernel, static cid IN (...) list pruning, broadcast rescore.
    //      DELIBERATE LINEAR CONTRAST (kept anti-thesis, SCALE.md "IVF
    //      at 10×/100×"): the stride is PINNED, so centroid count — and
    //      with it per-probe cost — grows linearly with corpus size
    //      (measured 17.9× at 100×). The production paths are
    //      `ext_ann_ivf_adaptive` (√n-scaled stride, 4.26× at 100×) and
    //      `eng_ann_ivf` (physical list-pruned layout, 1.92×); this row
    //      stays to keep the contrast measured, not as a scale path ----
    "ext_ann_ivf" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.ivfTopK(
        e.filter(col("vec_id") < 10), e, k = AnnIvfK)
    }),

    // ---- the same IVF probe against the PHYSICAL `list=` layout:
    //      assignment ran once at build; the probe reads only its probed
    //      list partitions, planned from the committed manifest ---------
    "eng_ann_ivf" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.ivfTopKFromLayout(
        ivfLayoutDir(s, dir), e.filter(col("vec_id") < 10), k = AnnIvfK)
    }),

    // ---- the same IVF probe against an INCREMENTALLY-built layout
    //      (even half one-shot, odd half appended against the frozen
    //      centroid sidecar): continuous IVF ingest must not change a
    //      single probe result — same oracle SQL as the one-shot layout -
    "eng_ann_ivf_append" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.ivfTopKFromLayout(
        ivfAppendLayoutDir(s, dir), e.filter(col("vec_id") < 10),
        k = AnnIvfK)
    }),

    // ---- bucketed-LSH recall telemetry: the same counts-as-data gate
    //      for the OTHER ANN family — multi-probe pruning regressions
    //      (fewer probes, wrong signs, layout drift) go red, not silent -
    "eng_ann_recall_bucketed" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
      val lsh = graft.operators.Similarity.bucketedTopKFromLayout(
          annLayoutDir(s, dir), q, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val brute = graft.operators.Similarity.bruteForceTopK(q, e, k = 3)
        .select(col("query_id").as("bq"), col("neighbor_id").as("bn"))
      recallCounts(lsh, brute)
    }),

    // ---- IVF recall telemetry AS DATA: recall@k of the physical-layout
    //      IVF probe vs exact brute force, per query, integer counts.
    //      Specs assert recall thresholds at one SF; this row pins the
    //      exact hit counts under the oracle, so a probe-pruning
    //      regression (fewer lists probed, wrong assignment) surfaces
    //      as a red correctness row, not a silent quality drop ----------
    "eng_ann_recall" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
      val ivf = graft.operators.Similarity.ivfTopKFromLayout(
          ivfLayoutDir(s, dir), q, k = AnnIvfK)
        .select(col("query_id"), col("neighbor_id"))
      val brute = graft.operators.Similarity.bruteForceTopK(q, e, k = AnnIvfK)
        .select(col("query_id").as("bq"), col("neighbor_id").as("bn"))
      recallCounts(ivf, brute)
    }),

    // ---- corpus-adaptive IVF: ~√n lists (capped), √lists probes, and
    //      an assignment strategy picked by centroid count — the
    //      geometry is pure arithmetic on count(*), so the oracle
    //      computes the identical stride/nprobe in SQL ------------------
    "ext_ann_ivf_adaptive" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.ivfTopKAdaptive(
        e.filter(col("vec_id") < 10), e, k = AnnIvfK)
    }),

    // metrics self-table dashboard read (operator #27): newest 720
    // versions per metric column over the REAL `_mtx_events` storage —
    // the reference dashboard's `cell_limit: 720` multi-get
    // (`server/src/html.rs:72-193`), here as a distributed scan so the
    // oracle sees every metric row at once
    "eng_metrics_lastn" -> ((s, dir) => {
      val mt = engineMetrics(s, dir)
      engSel(CellOps.scanCells(mt.table.cellsFor(None),
        ScanInput(ScanMode.Prefix(""), columnCellLimit = Some(720))))
    }),

    // ---- multimodal resize: REAL decode+scale+PNG-re-encode for
    //      claimable images, deterministic SQL-reproducible stub for
    //      other media (codecs absent in this container) ---------------
    "ext_multimodal_resize" -> ((s, dir) =>
      graft.operators.Multimodal.resizeImages(
        graft.operators.Multimodal.textPayloads(s, dir),
        width = 16, height = 16)),

    // ---- multimodal frame sampling: one-row-in/many-out fan-out with a
    //      clearly-marked stub decode (pseudo-frames at 25 fps) --------
    "ext_multimodal_frames" -> ((s, dir) =>
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.textPayloads(s, dir),
        frameBytes = 256, every = 2)),

    // ---- language ID (stopword-lexicon heuristic) --------------------
    "ext_lang_id" -> ((s, dir) => graft.operators.TextAnalysis.langId(
      s.read.parquet(s"$dir/documents.parquet"))),

    // ---- quality scoring (length/punct/stopword ratios) --------------
    "ext_quality_score" -> ((s, dir) =>
      graft.operators.TextAnalysis.qualityFeatures(
        s.read.parquet(s"$dir/documents.parquet"))),

    // ---- repetition / boilerplate signals ----------------------------
    "ext_repetition" -> ((s, dir) =>
      graft.operators.TextAnalysis.repetition(
        s.read.parquet(s"$dir/documents.parquet"))),

    // ---- token counting (whitespace + BPE-ish regex) -----------------
    "ext_token_count" -> ((s, dir) =>
      graft.operators.TextAnalysis.tokenCounts(
        s.read.parquet(s"$dir/documents.parquet"))),

    // ---- document fingerprinting (normalized content hash) -----------
    "ext_fingerprint" -> ((s, dir) =>
      graft.operators.TextAnalysis.fingerprint(
        s.read.parquet(s"$dir/documents.parquet"))),

    // ---- TF-IDF top terms per document -------------------------------
    // (tf * N) / df scoring (one exact int product + one IEEE divide —
    // no libm ln, so the oracle reproduces scores bit-for-bit); top-3
    // per doc with term-asc tie-break
    "ext_tfidf" -> ((s, dir) =>
      graft.operators.TextAnalysis.tfidfTopTerms(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull))),

    // ---- PII detection + redaction signals ---------------------------
    // counts per pattern class + post-redaction length; the synthetic
    // corpus carries no PII, so the row PLANTS deterministic addresses/
    // phones/IPs from doc_id (same arithmetic in the oracle) — the
    // operator under test is the engine-portable regex kernel, the
    // planting is fixture construction, not semantics
    "ext_pii_scan" -> ((s, dir) =>
      graft.operators.TextAnalysis.piiScan(plantedPiiDocs(s, dir))),

    // ---- PII redaction payload ---------------------------------------
    // the redacted text itself (what the tokenizer receives) over the
    // same planted fixture — ordered regexp_replace fold, so overlap
    // resolution (email consumes its digits before the phone pattern
    // sees them) is pinned by the oracle, not just the counts
    "ext_pii_redact" -> ((s, dir) =>
      graft.operators.TextAnalysis.piiRedact(plantedPiiDocs(s, dir))),

    // ---- Gopher-style rule-based quality gate -------------------------
    // five pre-training filter rules (token bounds, mean token length,
    // symbol ratio, distinct ratio, stopword occurrences) + the 0/1
    // verdict, all from ONE shuffle-free codegen'd projection
    "ext_quality_gate" -> ((s, dir) =>
      graft.operators.TextAnalysis.qualityGate(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull))),

    // ---- integer-exact mean-pooled embedding per label group ----------
    // chunk-vectors -> one vector per group, exploded to scalar rows;
    // fixed-point quantize + floor(sum/count) so every value is
    // cross-engine exact (the Lloyd-update arithmetic as an operator)
    "ext_embed_pool" -> ((s, dir) =>
      graft.operators.Clustering.meanPool(
        s.read.parquet(s"$dir/embeddings.parquet"))),

    // ---- BM25-style retrieval scoring (rational idf, no libm ln) ------
    // top-25 docs for a fixed query; every score a fixed-order chain of
    // correctly-rounded IEEE ops on exact int64 products
    "ext_bm25" -> ((s, dir) =>
      graft.operators.TextAnalysis.bm25TopK(
        s.read.parquet(s"$dir/documents.parquet"), bm25Terms, k = 25)),

    // ---- MULTI-QUERY BM25 (round 17): a (query_id, term) table scores
    //      every query in ONE corpus pass — per-term scores quantized
    //      to fixed-point int64 so the per-(query, doc) sum is exact in
    //      any aggregation order (the float-sum-order hazard the
    //      single-query row avoids with its fixed reduce chain) -------
    "ext_bm25_multi" -> ((s, dir) => {
      import s.implicits._
      graft.operators.TextAnalysis.bm25TopKMulti(
        s.read.parquet(s"$dir/documents.parquet"),
        bm25MultiQueries.toDF("query_id", "term"), k = 10)
    }),

    // ---- HYBRID retrieval (round 18): BM25 top-10 fused with the
    //      persisted kmeans-IVF neighbors of each query's top-1 BM25
    //      anchor by pure-int64 RRF (1000000 div (60 + rnk)) — both
    //      systems already integer-exact, so the fused ranking is
    //      hash-exact; the semantic side rides the committed cid=
    //      layout (PartitionFilters), never the corpus ----------------
    "ext_retrieve_hybrid" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Retrieval.hybridTopK(
        s.read.parquet(s"$dir/documents.parquet"),
        bm25MultiQueries.toDF("query_id", "term"),
        s.read.parquet(s"$dir/embeddings.parquet"),
        kmeansIvfLayoutDir(s, dir), k = 10)
    }),

    // ---- the hybrid fusion as a SQL DOOR (round 19): the two
    //      candidate rankings stay the audited kernel pipelines
    //      (registered as temp views), and the RRF fusion itself is
    //      SQL TEXT — `1000000 div (60 + rnk)` is the same
    //      IntegralDivide the Column door calls through the registry,
    //      so both doors are bit-identical and share one oracle -------
    "sql_retrieve_hybrid" -> ((s, dir) => {
      import s.implicits._
      val (lex, sem) = graft.operators.Retrieval.hybridRankings(
        s.read.parquet(s"$dir/documents.parquet"),
        bm25MultiQueries.toDF("query_id", "term"),
        s.read.parquet(s"$dir/embeddings.parquet"),
        kmeansIvfLayoutDir(s, dir), k = 10)
      lex.createOrReplaceTempView("graft_hybrid_lex")
      sem.createOrReplaceTempView("graft_hybrid_sem")
      s.sql("""WITH u AS (
        |  SELECT query_id, doc_id, rnk FROM graft_hybrid_lex
        |  UNION ALL
        |  SELECT query_id, doc_id, rnk FROM graft_hybrid_sem
        |), sc AS (
        |  SELECT query_id, doc_id,
        |    sum(1000000L div (60L + rnk)) AS score
        |  FROM u GROUP BY query_id, doc_id
        |)
        |SELECT query_id, doc_id, score, rnk FROM (
        |  SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
        |  FROM sc) WHERE rnk <= 10""".stripMargin)
    }),

    // ---- hybrid retrieval with EXPLICIT query vectors (the RAG
    //      shape — an encoder produced a query embedding): semantic
    //      side = persisted-IVF top-k of the query's own vector (here
    //      the fixture reuses corpus vectors 1..3 as the "encoder
    //      output"; identical corpus docs self-exclude like every ANN
    //      row), fused with the same int64 RRF -----------------------
    "ext_retrieve_hybrid_qvec" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Retrieval.hybridTopKWithVectors(
        s.read.parquet(s"$dir/documents.parquet"),
        bm25MultiQueries.toDF("query_id", "term"),
        s.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("query_id"), col("embedding")),
        kmeansIvfLayoutDir(s, dir), k = 10)
    }),

    // ---- multimodal: binary payload -> batched decode stub -> features
    "ext_multimodal_features" -> ((s, dir) =>
      graft.operators.Multimodal.documentFeatures(s, dir)),

    // ---- multimodal audio: real WAV/AIFF header parse for claimable
    //      payloads, SQL-reproducible stub otherwise (text corpus ->
    //      all-stub; the real parse is pinned by OperatorsSpec) --------
    "ext_multimodal_audio" -> ((s, dir) =>
      graft.operators.Multimodal.documentAudioFeatures(s, dir)),

    // ---- structured streaming: real readStream -> watermark -> window
    "ext_stream_window" -> ((s, dir) => {
      val t = graft.streaming.StreamOps.hourlyWindowAgg(s, dir)
      t.select(
        (unix_micros(col("window_start")) / 1000000L).cast("long")
          .as("window_start_epoch"),
        col("event_type"), col("n_events"), col("value_sum"))
    }),

    // ---- sliding-window streaming agg (overlapping windows) ----------
    "ext_stream_window_sliding" -> ((s, dir) => {
      val t = graft.streaming.StreamOps.slidingWindowAgg(s, dir)
      t.select(
        (unix_micros(col("window_start")) / 1000000L).cast("long")
          .as("window_start_epoch"),
        col("event_type"), col("n_events"), col("value_sum"))
    }),

    // ---- stream-stream interval join (click→purchase attribution) ----
    // symmetric watermarked join state, the one streaming operator class
    // the window/session aggs don't exercise; memory-sink oracle
    // harness, scale twin = ScaleSmoke's ext_stream_join_files
    "ext_stream_join" -> ((s, dir) =>
      graft.streaming.StreamOps.attributionJoin(s, dir)),

    // left-outer variant: unattributed purchases surface as null-click
    // rows once the watermark closes their match window — emission
    // cutoff semantics pinned in StreamOps.attributionJoinOuter's doc,
    // probe-derived, reproduced exactly by the oracle
    "ext_stream_join_outer" -> ((s, dir) =>
      graft.streaming.StreamOps.attributionJoinOuter(s, dir)),

    // skew-salted streaming twin: state keys are (user, horizon-bucket)
    // so a hot user's streaming state spreads across partitions — the
    // only skew lever that exists in stateful streaming (no AQE there);
    // exact same pair set and oracle as ext_stream_join
    "ext_stream_join_salted" -> ((s, dir) =>
      graft.streaming.StreamOps.attributionJoinSalted(s, dir)),

    // ---- KMV sketch as STREAMING aggregation state -------------------
    // daily distinct-user estimates through a real streaming query: one
    // k-long sketch buffer per window in the state store (bounded in
    // cardinality, unlike exact streaming COUNT DISTINCT), determinism
    // makes the streamed estimates oracle-reproducible
    "ext_stream_kmv" -> ((s, dir) =>
      graft.streaming.StreamOps.dailyKmvDistinctUsers(s, dir)),

    // ---- skew-salted interval join (batch twin of the stream join) ---
    // the same attribution pairs through the time-bucket-SALTED plan
    // (SkewJoin.intervalJoinBucketed): hot-key work spreads over
    // (user, 24h-bucket) at 2x right-side shuffle cost; result is
    // pair-identical to the unsalted join, so it shares its oracle shape
    "ext_join_skew_bucketed" -> ((s, dir) => {
      val ev = graft.sources.EventsSource.readEvents(s, dir)
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("user_id"),
          col("ts").as("buy_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      graft.operators.SkewJoin.intervalJoinBucketed(
          buys, clicks, "user_id", "buy_ts", "click_ts",
          24L * 3600 * 1000000000L)
        .select(col("buy_id"), col("click_id"), col("user_id"),
          expr("buy_ts div 1000").as("buy_ts_us"),
          expr("click_ts div 1000").as("click_ts_us"))
    }),

    // ---- as-of join (nearest prior click per purchase) ---------------
    // last-touch attribution with NO horizon: for every purchase, the
    // single latest click at-or-before it. Carry-forward plan (one
    // exchange) instead of the quadratic inequality-join + rank the
    // oracle runs; the as-of happens in the µs domain so the equal-ts
    // tie-break (largest click_id) is decided on exactly the values the
    // DuckDB ASOF JOIN sees
    "ext_join_asof" -> ((s, dir) => {
      val ev = graft.sources.EventsSource.readEvents(s, dir)
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("user_id"),
          expr("ts div 1000").as("buy_ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          expr("ts div 1000").as("click_ts_us"))
      graft.operators.AsOfJoin.asOfJoin(buys, clicks, "user_id",
          "buy_ts_us", "click_ts_us", "click_id")
        .select(col("buy_id"), col("user_id"), col("buy_ts_us"),
          col("click_id"), col("click_ts_us"))
    }),

    // ---- STREAMING as-of join (stateful, unbounded lookback) ---------
    // the batch as-of's stateful twin: flatMapGroupsWithState with
    // sealed-prefix compression (state at rest = ONE click per user,
    // however long the history); purchases emit once the watermark
    // seals them, at the probe-pinned cutoff the outer join established
    "ext_stream_asof" -> ((s, dir) =>
      graft.streaming.StreamOps.streamingAsOf(s, dir)),

    // ---- integer-exact distributed k-means over embeddings -----------
    // broadcast-centroid Lloyd's (2 updates, IVF-stride seeding): the
    // whole iteration runs on fixed-point int64, so the assignment is
    // reproducible bit-for-bit cross-engine — no float-summation-order
    // dependence. Assignment is shuffle-free (plan-asserted); the
    // update shuffle carries k·d longs per partition, not the corpus
    "ext_cluster_kmeans" -> ((s, dir) =>
      graft.operators.Clustering.kmeansAssign(
        s.read.parquet(s"$dir/embeddings.parquet"))),

    // ---- sliding-window document chunking ----------------------------
    // context-window preprocessing: overlapping token-range rows per
    // doc (32-token chunks / 8 overlap here so the test corpus' ≤99-
    // token docs exercise the multi-chunk path; production default is
    // 512/64). Shuffle-free integer explode
    "ext_chunk_documents" -> ((s, dir) =>
      graft.operators.Corpus.chunkDocuments(
        s.read.parquet(s"$dir/documents.parquet"),
        chunkTokens = 32, overlap = 8)),

    // ---- deterministic train/val/test split --------------------------
    // 80/10/10 by the md5 coin: a doc's split never changes as the
    // corpus grows — the stability leakage audits need
    "ext_split_assign" -> ((s, dir) =>
      graft.operators.Corpus.splitAssign(
        s.read.parquet(s"$dir/documents.parquet"))),

    // ---- corpus health stats (the curation dashboard query) ----------
    // one partial-aggregated pass: per-lang doc counts, exact token and
    // char mass, distinct sources. Sums, not means, so every output is
    // exact int64 (a mean is one IEEE divide the consumer can do). At
    // a high-cardinality source column swap count(DISTINCT) for the
    // KMV sketch (ext_approx_distinct) — here sources are ~20
    "ext_corpus_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.SplitCount(trim(col("text")),
            bySpaceOnly = false)).as("total_tokens"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"))),

    // ---- corpus rebalancing (uniform language mix) -------------------
    // P[keep] = min_lang_count / lang_count per doc via the md5 coin —
    // the crawl's language skew flattened without shuffling the corpus
    // (counts broadcast back, narrow filter); smallest lang survives
    // intact by construction
    "ext_rebalance_langs" -> ((s, dir) =>
      graft.operators.Corpus.rebalanceGroups(
        s.read.parquet(s"$dir/documents.parquet"))),

    // ---- the training-prep pipeline as ONE composed query ------------
    // rebalance -> exact dedup -> leakage-stable split -> chunk the
    // train docs: the capstone composition; only corpus shuffle is the
    // dedup's hash-groupBy (32/8 chunking so the corpus multi-chunks)
    "ext_pipeline_prep" -> ((s, dir) =>
      graft.operators.Corpus.prepPipeline(
        s.read.parquet(s"$dir/documents.parquet"),
        chunkTokens = 32, overlap = 8)),

    // ---- the COMPLETE prep pipeline (round 17): quality gate + PII
    //      redaction folded in front of rebalance/dedup/split/chunk —
    //      both shuffle-free projections, so the fused plan gains ZERO
    //      exchanges over ext_pipeline_prep (CorpusSpec differential);
    //      dedup hashes and chunk windows see the REDACTED text -------
    "ext_pipeline_prep_v2" -> ((s, dir) =>
      graft.operators.Corpus.prepPipelineV2(
        s.read.parquet(s"$dir/documents.parquet"),
        chunkTokens = 32, overlap = 8)),

    // ---- the SAME complete pipeline with the quality + privacy front
    //      MATERIALIZED to a staging table (r17): one parquet write
    //      buys never re-gating a scan branch — the production shape
    //      when multiple consumers read the gated corpus; identical
    //      relation, so it reuses ext_pipeline_prep_v2's oracle -------
    "ext_pipeline_prep_staged" -> ((s, dir) =>
      graft.operators.Corpus.prepPipelineV2Staged(
        s.read.parquet(s"$dir/documents.parquet"),
        // fingerprint-keyed like every derived layout: a regenerated
        // documents.parquet stages fresh instead of serving the stale
        // table (r18; was keyed on the dir string alone)
        s"/tmp/graft_prep_staged_${Integer.toHexString(dir.hashCode)}_" +
          java.lang.Long.toHexString(
            sourceFingerprint(s"$dir/documents.parquet")),
        chunkTokens = 32, overlap = 8)),

    // ---- ANN over the LEARNED k-means layout (all-integer) -----------
    // inverted lists = Lloyd clusters; probe selection AND rescore rank
    // by fixed-point L2 — the one ANN row with zero float-ordering
    // sensitivity; probes broadcast, the corpus never shuffles for the
    // candidate join
    "ext_ann_ivf_kmeans" -> ((s, dir) =>
      graft.operators.Clustering.ivfTopKKmeans(
        s.read.parquet(s"$dir/embeddings.parquet"))),

    // ---- the same kmeans-IVF probe against the PERSISTED `cid=`
    //      layout (round 17): training + assignment ran ONCE at build
    //      (the serving-index shape — ext_ann_ivf_kmeans re-trains per
    //      query batch); the probe derives driver-side through the same
    //      NearestCentroids kernel and the candidate scan plans off the
    //      committed manifest with a static cid IN (...) partition
    //      filter — same oracle SQL as the logical row ----------------
    "eng_ann_ivf_persisted" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Clustering.ivfTopKKmeansFromLayout(
        kmeansIvfLayoutDir(s, dir), e.filter(col("vec_id") < 10))
    }),

    // ---- the persisted kmeans-IVF layout built INCREMENTALLY (round
    //      18): Lloyd trains once on the even half, the odd half lands
    //      by frozen-sidecar assignment into the existing cid=
    //      partitions (Clustering.appendKmeansIvfLayout — no rebuild,
    //      manifest extended atomically); probed with the same pruned
    //      plan as eng_ann_ivf_persisted, oracle trains on the even
    //      half and assigns/probes the union --------------------------
    "eng_ann_ivf_persisted_append" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Clustering.ivfTopKKmeansFromLayout(
        kmeansIvfAppendLayoutDir(s, dir), e.filter(col("vec_id") < 10))
    }),

    // ---- the drift→RETRAIN loop closed (round 19): v=0 trains on the
    //      even half, the odd half's assignment drift trips the
    //      scheduled retrain, and the probe rides the atomically
    //      cut-over v=1 — which is BY CONTRACT a fresh full-corpus
    //      build, so the oracle is the same full-corpus kmeans SQL as
    //      eng_ann_ivf_persisted ---------------------------------------
    "eng_ann_ivf_retrained" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.IvfVersions.probe(
        kmeansIvfRetrainRootDir(s, dir), e.filter(col("vec_id") < 10))
    }),

    // ---- recall gate off the RETRAINED layout: post-cutover quality
    //      rides the versioned pointer, so a half-cutover or stale
    //      pointer surfaces as a red row ------------------------------
    "eng_ann_recall_retrained" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val ivf = graft.operators.IvfVersions.probe(
          kmeansIvfRetrainRootDir(s, dir), e.filter(col("vec_id") < 10))
        .select(col("query_id"), col("neighbor_id"))
      val brute = graft.operators.Clustering.bruteTopKInt(e)
        .select(col("query_id").as("bq"), col("neighbor_id").as("bn"))
      recallCounts(ivf, brute)
    }),

    // ---- kmeans-IVF recall against the PERSISTED layout: the recall
    //      gate rides the stored index too, so layout staleness or
    //      pruning bugs surface as a red row, not a quality drop ------
    "eng_ann_recall_persisted" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val ivf = graft.operators.Clustering.ivfTopKKmeansFromLayout(
          kmeansIvfLayoutDir(s, dir), e.filter(col("vec_id") < 10))
        .select(col("query_id"), col("neighbor_id"))
      val brute = graft.operators.Clustering.bruteTopKInt(e)
        .select(col("query_id").as("bq"), col("neighbor_id").as("bn"))
      recallCounts(ivf, brute)
    }),

    // ---- kmeans-IVF with the √lists probe rule -----------------------
    // the dial that keeps probe MASS meaningful as learned list count
    // grows with the corpus; oracle derives the identical nprobe from
    // the seed count in SQL
    "ext_ann_ivf_kmeans_adaptive" -> ((s, dir) =>
      graft.operators.Clustering.ivfTopKKmeansAdaptive(
        s.read.parquet(s"$dir/embeddings.parquet"))),

    // ---- kmeans-IVF recall as data (all-integer both sides) ----------
    "ext_ann_recall_kmeans" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val ivf = graft.operators.Clustering.ivfTopKKmeans(e)
        .select(col("query_id"), col("neighbor_id"))
      val brute = graft.operators.Clustering.bruteTopKInt(e)
        .select(col("query_id").as("bq"), col("neighbor_id").as("bn"))
      recallCounts(ivf, brute)
    }),

    // ---- recall gate for the ADAPTIVE (√lists) probe rule ------------
    // the production-recommended dial, regression-gated like the pinned
    // nprobe=2 row: a probe-rule or list-geometry change turns a red
    // correctness row, not a silent recall drop
    "ext_ann_recall_kmeans_adaptive" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val ivf = graft.operators.Clustering.ivfTopKKmeansAdaptive(e)
        .select(col("query_id"), col("neighbor_id"))
      val brute = graft.operators.Clustering.bruteTopKInt(e)
        .select(col("query_id").as("bq"), col("neighbor_id").as("bn"))
      recallCounts(ivf, brute)
    }),

    // ---- clustering-quality telemetry as data ------------------------
    // per-cluster size + total integer inertia (sum of squared
    // distances): a centroid-drift or assignment regression shows as a
    // red correctness row, the eng_ann_recall pattern applied to
    // clustering
    "ext_cluster_inertia" -> ((s, dir) =>
      graft.operators.Clustering.kmeansAssign(
          s.read.parquet(s"$dir/embeddings.parquet"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("dist2")).as("inertia"))),

    // ---- diversity sampling: per-cluster exact quota -----------------
    // the kmeans assignment as sampling strata — a balanced 20% whose
    // per-cluster proportions are exact; operators composing is the
    // point (assignment feeds stratifiedSampleExact unchanged)
    "ext_sample_diverse" -> ((s, dir) =>
      graft.operators.Corpus.stratifiedSampleExact(
        graft.operators.Clustering.kmeansAssign(
          s.read.parquet(s"$dir/embeddings.parquet")),
        "cid", 0.2, "vec_id")),

    // ---- farthest-from-centroid outlier candidates -------------------
    // top-5 per cluster by integer distance (map-side WindowGroupLimit
    // rank over the assignment): the curation signal for junk/anomaly
    // review queues
    "ext_cluster_outliers" -> ((s, dir) =>
      graft.operators.Corpus.topKPerGroup(
        graft.operators.Clustering.kmeansAssign(
          s.read.parquet(s"$dir/embeddings.parquet")),
        "cid", "dist2", 5, "vec_id")),

    // ---- gap sessionization via the NATIVE session_window operator ---
    "ext_sessionize_native" -> ((s, dir) => {
      val ev = graft.sources.EventsSource.readEvents(s, dir).select(
        col("user_id").cast("long").as("user_id"),
        expr("(ts div 1000) * 1000").as("ts"))
      graft.streaming.StreamOps.sessionizeNative(ev)
    }),

    // ---- gap-based sessionization (stateful-stream equivalent) -------
    "ext_sessionize" -> ((s, dir) => {
      val ev = graft.sources.EventsSource.readEvents(s, dir).select(
        col("user_id").cast("long").as("user_id"),
        expr("(ts div 1000) * 1000").as("ts"),
        col("event_id").cast("long").as("event_id"))
      graft.streaming.StreamOps.sessionize(ev)
    }),

    // ---- TPC-H-style analytics (Spark-first capabilities) ------------
    // Money/quantity aggregates are BIGINT fixed-point (cents / 1e-4 units):
    // per-row `round(x * scale)` is exact here (inputs have <=2 decimals, fp
    // noise <3e-7) and BIGINT sums hash identically in Spark and DuckDB,
    // unlike DECIMAL(38,6) whose binary layout differs between engines.
    "q1_pricing_summary" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(expr("cast(round(l_quantity * 100) as bigint)")).as("sum_qty"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
            .as("sum_base_price"),
          org.apache.spark.sql.functions.count(lit(1)).as("count_order"))
    }),
    "q3_shipping_priority" -> ((s, dir) => {
      // no broadcast() hint on the filtered customer side: AQE already
      // picks broadcast when the BUILDING segment fits (verified in the
      // sf0.1 plan, SCALE.md round 13) and flips to a shuffled join when
      // it doesn't — at 100 TB the segment is billions of rows, and a
      // hard-coded hint would force a driver OOM instead of a re-plan
      val c = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint)"))
          .as("revenue"))
    })
  )

  /** Documents with planted exact duplicates (every 50th doc re-inserted
    * under doc_id+1000000) so dedup operators have true positives.
    */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.unionAll(docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  /** Multi-line documents for the line-level dedup query: the corpus text
    * re-wrapped into 8-token lines, plus two planted boilerplate footers
    * ("subscribe…" in every 3rd doc, "all rights reserved…" in every
    * 4th). Mirrored token-for-token by the `ldocs` CTE in the oracle SQL
    * — both engines chunk the SAME token array with the SAME stride, so
    * line text (and therefore line hashes) can never drift. */
  private def lineDocs(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val body = array_join(
      transform(sequence(lit(1), size(toks), lit(8)),
        i => array_join(slice(toks, i, lit(8)), " ")),
      "\n")
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), concat(body,
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\nall rights reserved by the site")).otherwise(lit("")))
        .as("text"))
  }

  // --------------------------------------------------------------- oracle

  /** Multi-table directed-probe LSH ANN oracle, shared by
    * `ext_ann_bucketed` (logical plan) and `eng_ann_bucketed` (probe of the
    * physical `l=/bucket=` layout) — both must produce the identical
    * candidate union: 4 seeded Rademacher families over integer fixed-point
    * projections (`range(4) AS l` below tracks
    * [[graft.operators.Similarity.DefaultTables]]), per table the query
    * probes its own bucket plus the one/two/three smallest-margin plane
    * flips (`ORDER BY abs(dot), p` == Spark's `array_sort` on
    * `(abs(dot), p)` structs), candidates union DISTINCT across tables,
    * then exact cosine rescoring.
    */
  private val annBucketedSql: String =
    """WITH sgn AS (
      |  SELECT l, p, d,
      |    CASE WHEN CAST(concat('0x', substr(md5(concat('graft', l, '_', p, '_', d)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(range(4)) AS l), (SELECT unnest(range(4)) AS p), (SELECT unnest(range(1, 65)) AS d)
      |), comp AS (
      |  SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS d FROM embeddings
      |), proj AS (
      |  SELECT c.vec_id, g.l, g.p, sum(CAST(round(CAST(c.x AS DOUBLE) * 1000000) AS BIGINT) * g.s) AS dot
      |  FROM comp c JOIN sgn g USING (d) GROUP BY c.vec_id, g.l, g.p
      |), buck AS (
      |  SELECT vec_id, l, CAST(sum(CASE WHEN dot > 0 THEN 1 << (3 - p) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id, l
      |), ranked AS (
      |  SELECT vec_id, l, p, row_number() OVER (PARTITION BY vec_id, l ORDER BY abs(dot), p) AS rnk FROM proj
      |), mbits AS (
      |  SELECT vec_id, l,
      |    CAST(max(CASE WHEN rnk = 1 THEN 1 << (3 - p) END) AS BIGINT) AS b1,
      |    CAST(max(CASE WHEN rnk = 2 THEN 1 << (3 - p) END) AS BIGINT) AS b2,
      |    CAST(max(CASE WHEN rnk = 3 THEN 1 << (3 - p) END) AS BIGINT) AS b3
      |  FROM ranked GROUP BY vec_id, l
      |), probes AS (
      |  SELECT b.vec_id, b.l,
      |    unnest([b.bucket, xor(b.bucket, m.b1), xor(b.bucket, m.b2), xor(xor(b.bucket, m.b1), m.b2), xor(b.bucket, m.b3)]) AS bucket
      |  FROM buck b JOIN mbits m ON m.vec_id = b.vec_id AND m.l = b.l
      |  WHERE b.vec_id < 10
      |), cand AS (
      |  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM probes p JOIN buck c ON c.l = p.l AND c.bucket = p.bucket AND c.vec_id != p.vec_id
      |) SELECT query_id, neighbor_id, rnk FROM (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    row_number() OVER (PARTITION BY cand.query_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, cand.neighbor_id) AS rnk
      |  FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
      |            JOIN embeddings c ON c.vec_id = cand.neighbor_id
      |) WHERE rnk <= 3""".stripMargin

  /** Shared oracle for `ext_ann_ivf` (logical) AND `eng_ann_ivf`
    * (physical `list=` layout) — both must produce the identical result:
    * centroids = every [[graft.operators.Similarity.DefaultIvfStride]]-th
    * vec_id, assignment = nearest centroid by cosine (ties -> smallest
    * cid, mirroring the kernel's ascending-id strict-max scan), probes =
    * top-[[graft.operators.Similarity.DefaultIvfProbes]] centroids per
    * query, exact rescore within probed lists.
    */
  /** The k the IVF query entries rank to — interpolated into
    * [[annIvfSql]] alongside the stride/nprobe defaults so the oracle
    * and the engine can never drift on a constant change. */
  private val AnnIvfK = 5

  /** The shared recall-telemetry shape: per-query hit counts of an
    * approximate top-k (`query_id, neighbor_id`) against the exact one
    * (pre-aliased `bq, bn`). One convention for all three ANN families
    * (`eng_ann_recall`, `eng_ann_recall_bucketed`,
    * `ext_ann_recall_kmeans`), so a change to the counting can never
    * drift between them. */
  private def recallCounts(approx: DataFrame,
      exact: DataFrame): DataFrame =
    approx.join(exact,
        col("query_id") === col("bq") && col("neighbor_id") === col("bn"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(col("bn")).as("n_hit"), count(lit(1)).as("n_ret"))

  /** The BM25 query for `ext_bm25` — three corpus terms with distinct
    * document frequencies (one source of truth: the oracle SQL
    * interpolates this same value term by term). */
  private val bm25Terms: Seq[String] = Seq("spark", "customer", "merge")

  /** The multi-query BM25 fixture for `ext_bm25_multi`: query 1 is
    * [[bm25Terms]] verbatim (the single-query slice differential in
    * OperatorsSpec rides on that), 2 and 3 are further corpus terms
    * with distinct frequencies. One source of truth — the oracle SQL
    * interpolates this same value as its VALUES list. */
  private val bm25MultiQueries: Seq[(Long, String)] =
    bm25Terms.map(t => (1L, t)) ++ Seq(
      (2L, "vector"), (2L, "hash"), (2L, "join"),
      (3L, "scan"), (3L, "filter"))

  /** The bm25-multi oracle CTE chain up to the per-(query, doc) exact
    * scores `agg` — one definition, shared by the `ext_bm25_multi`
    * oracle and nested verbatim inside `ext_retrieve_hybrid`'s (the
    * recall-telemetry composition pattern). */
  private lazy val bm25MultiCtesSql: String =
    s"""d AS (
      |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      |), tk AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d
      |  ) WHERE term != ''
      |), pd AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id
      |), st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tt FROM pd
      |), q(query_id, term) AS (
      |  VALUES ${bm25MultiQueries.map { case (qid, t) =>
           s"(CAST($qid AS BIGINT), '$t')"
         }.mkString(", ")}
      |), qtf AS (
      |  SELECT q.query_id, t.doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
      |  FROM tk t JOIN q ON t.term = q.term
      |  GROUP BY q.query_id, t.doc_id, t.term
      |), dfs AS (
      |  SELECT query_id, term, CAST(count(*) AS BIGINT) AS df
      |  FROM qtf GROUP BY query_id, term
      |), scored AS (
      |  SELECT f.query_id, f.doc_id, pd.dl,
      |    CAST(floor(CAST(2*st.n_docs - 2*dfs.df + 1 AS DOUBLE) / CAST(2*dfs.df + 1 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
      |    * CAST(floor(CAST(22*f.tf*st.tt AS DOUBLE) / CAST(10*st.tt*f.tf + 3*st.tt + 9*pd.dl*st.n_docs AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS term_q
      |  FROM qtf f
      |  JOIN pd ON f.doc_id = pd.doc_id
      |  JOIN dfs ON f.query_id = dfs.query_id AND f.term = dfs.term, st
      |), agg AS (
      |  SELECT query_id, doc_id, CAST(min(dl) AS BIGINT) AS dl,
      |    CAST(sum(term_q) AS BIGINT) AS score_q
      |  FROM scored GROUP BY query_id, doc_id
      |)""".stripMargin

  /** The PII fixture: the synthetic corpus carries no PII, so plant
    * deterministic addresses/phones/IPs from doc_id (same arithmetic in
    * the oracle's `planted` CTE). Shared by `ext_pii_scan` (telemetry)
    * and `ext_pii_redact` (payload) so the two rows gate the SAME
    * input. */
  private def plantedPiiDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull)
    docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, concat(lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0, concat(lit(" host 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string")))
        .otherwise(lit(""))).as("text"))
  }

  /** The oracle-side twin of [[plantedPiiDocs]]. */
  private val plantedPiiCte: String =
    """WITH planted AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
      |    || CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS text
      |  FROM documents WHERE text IS NOT NULL
      |)""".stripMargin


  /** The 2-iteration integer Lloyd's CTE chain (quantize -> seed ->
    * assign/update x2 -> final pairwise distances `a2_d`), shared by
    * the kmeans/IVF-kmeans oracles below
    * ([[graft.operators.Clustering.kmeansAssign]]'s math). */
  /** [[kmeansCtes]] parameterized on the corpus source: `extraCtes`
    * (with trailing comma, may be empty) is spliced after WITH so a
    * fixture CTE (e.g. a planted corpus) can precede `v`, and `source`
    * names the relation `v` quantizes. Training (stride, seeds, both
    * Lloyd updates) then runs over THAT corpus — exactly what the
    * Spark operator does when handed the same frame. */
  private def kmeansCtesOver(extraCtes: String, source: String): String =
    s"""WITH $extraCtes v AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)) AS fx
      |  FROM $source
      |), c0 AS (
      |  -- seed stride mirrors Clustering.effectiveStride: the raw
      |  -- stride 100 floored up so the centroid count never exceeds
      |  -- 1024 (pure int64 ceiling-div — both engines derive the
      |  -- identical stride from the same corpus count)
      |  SELECT vec_id AS cid, fx AS cfx FROM v
      |  WHERE vec_id % (SELECT greatest(100, (count(*) + 1023) // 1024)
      |                  FROM v) = 0
      |), a0_d AS (
      |  SELECT vec_id, cid, CAST(sum((vf - cf) * (vf - cf)) AS BIGINT) AS d
      |  FROM (SELECT v.vec_id, c.cid, unnest(v.fx) AS vf, unnest(c.cfx) AS cf
      |        FROM v CROSS JOIN c0 c) z
      |  GROUP BY vec_id, cid
      |), a0 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a0_d) WHERE rn = 1
      |), c1_u AS (
      |  SELECT cid, list(nv ORDER BY i) AS cfx FROM (
      |    SELECT a.cid, t.i,
      |      CAST(floor(CAST(CAST(sum(v.fx[t.i]) AS BIGINT) AS DOUBLE)
      |        / count(*)) AS BIGINT) AS nv
      |    FROM a0 a JOIN v ON v.vec_id = a.vec_id, range(1, 65) t(i)
      |    GROUP BY a.cid, t.i) GROUP BY cid
      |), c1 AS (
      |  SELECT c.cid, COALESCE(u.cfx, c.cfx) AS cfx
      |  FROM c0 c LEFT JOIN c1_u u ON u.cid = c.cid
      |), a1_d AS (
      |  SELECT vec_id, cid, CAST(sum((vf - cf) * (vf - cf)) AS BIGINT) AS d
      |  FROM (SELECT v.vec_id, c.cid, unnest(v.fx) AS vf, unnest(c.cfx) AS cf
      |        FROM v CROSS JOIN c1 c) z
      |  GROUP BY vec_id, cid
      |), a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a1_d) WHERE rn = 1
      |), c2_u AS (
      |  SELECT cid, list(nv ORDER BY i) AS cfx FROM (
      |    SELECT a.cid, t.i,
      |      CAST(floor(CAST(CAST(sum(v.fx[t.i]) AS BIGINT) AS DOUBLE)
      |        / count(*)) AS BIGINT) AS nv
      |    FROM a1 a JOIN v ON v.vec_id = a.vec_id, range(1, 65) t(i)
      |    GROUP BY a.cid, t.i) GROUP BY cid
      |), c2 AS (
      |  SELECT c.cid, COALESCE(u.cfx, c.cfx) AS cfx
      |  FROM c1 c LEFT JOIN c2_u u ON u.cid = c.cid
      |), a2_d AS (
      |  SELECT vec_id, cid, CAST(sum((vf - cf) * (vf - cf)) AS BIGINT) AS d
      |  FROM (SELECT v.vec_id, c.cid, unnest(v.fx) AS vf, unnest(c.cfx) AS cf
      |        FROM v CROSS JOIN c2 c) z
      |  GROUP BY vec_id, cid
      |)""".stripMargin

  private val kmeansCtes: String = kmeansCtesOver("", "embeddings")

  /** [[kmeansCtes]] with SPLIT training and assignment corpora — the
    * oracle shape of every frozen-centroid path: the seed stride, both
    * Lloyd updates, and the carried-forward empty-cluster rule run over
    * `vt` (the rows of `source` matching `trainPred` — the base build's
    * training corpus), while the final assignment distances `a2_d` —
    * what probe chains, layout partitions, and semantic buckets are
    * derived from — cover the FULL corpus `v` against the frozen `c2`
    * centroids. Same arithmetic as [[kmeansCtesOver]] everywhere else.
    * Shared by `eng_ann_ivf_persisted_append` (train = even half) and
    * `ext_dedup_semantic_incremental` (train = landed id-prefix). */
  private def kmeansCtesTrainAssign(extraCtes: String, source: String,
      trainPred: String): String =
    s"WITH $extraCtes ${kmeansCteList("", source, trainPred)}"

  /** The streaming-curation composition recomputed one-shot in SQL,
    * through the semantic-survivor CTE `s3` (plus the intermediate
    * state sets `red` / `mbands` / `mem`): planted input → quality
    * gate + redaction → exact min-id keep → minhash drop on the
    * redacted text → frozen-centroid semantic drop. Shared by
    * `ext_stream_curate` (which appends the cumsum packing) and
    * `ext_stream_curate_audit` (which projects the landed state
    * sets). `minhashH0Sql` is the caller's generated window-hash
    * expression. */
  private def curateOracleSql(minhashH0Sql: String): String = {
    val curateCtes =
      s"""pd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
        |  UNION ALL SELECT doc_id + 2000000,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |  FROM documents WHERE doc_id % 40 = 0
        |), qsig AS (
        |  SELECT doc_id, text,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_sym,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN (${graft.operators.TextAnalysis.DefaultStopwords
               .map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_stop
        |  FROM pd WHERE text IS NOT NULL
        |), red AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
        |        '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
        |      '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS text
        |  FROM qsig
        |  WHERE n_tokens >= 10 AND n_tokens <= 100000
        |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) >= 2.0
        |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 12.0
        |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_sym AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 0.25
        |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) >= 0.3
        |    AND n_stop >= 1
        |), s1 AS (
        |  SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(text)
        |), r1 AS (
        |  SELECT r.doc_id, r.text FROM red r JOIN s1 ON s1.doc_id = r.doc_id
        |), mpos AS (
        |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i FROM r1
        |), mhashed AS (
        |  SELECT doc_id, ($minhashH0Sql) % 2147483647 AS h0 FROM mpos
        |), msig AS (
        |  SELECT doc_id,
        |    min(xor(h0, 0)) AS m1,
        |    min(xor(h0, 25214903917)) AS m2,
        |    min(xor(h0, 173961102589770)) AS m3,
        |    min(xor(h0, 2685821657736338717)) AS m4
        |  FROM mhashed GROUP BY doc_id
        |), mbands AS (
        |  SELECT doc_id, concat('0_', CAST(m1 AS VARCHAR), '_', CAST(m2 AS VARCHAR)) AS band FROM msig
        |  UNION ALL SELECT doc_id, concat('1_', CAST(m3 AS VARCHAR), '_', CAST(m4 AS VARCHAR)) FROM msig
        |), mdrop AS (
        |  SELECT DISTINCT a.doc_id FROM mbands a JOIN mbands c
        |    ON a.band = c.band AND c.doc_id < a.doc_id
        |), s2 AS (
        |  SELECT r.doc_id, r.text FROM r1 r
        |  LEFT JOIN mdrop d ON d.doc_id = r.doc_id
        |  WHERE d.doc_id IS NULL
        |), pe AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 2000000, embedding
        |  FROM embeddings WHERE vec_id % 40 = 0
        |),""".stripMargin
    s"""${kmeansCtesTrainAssign(curateCtes, "pe", "vec_id < 1000000")},
      |t2 AS (
      |  SELECT vec_id, cid, rn FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a2_d) WHERE rn <= 2
      |), mem AS (
      |  SELECT t.vec_id,
      |    max(CASE WHEN rn = 1 THEN cid END) AS c1,
      |    COALESCE(max(CASE WHEN rn = 2 THEN cid END),
      |      max(CASE WHEN rn = 1 THEN cid END)) AS c2
      |  FROM t2 t JOIN s2 ON s2.doc_id = t.vec_id
      |  GROUP BY t.vec_id
      |), prs AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2
      |  FROM mem a JOIN mem b
      |    ON a.c1 = b.c1 AND a.c2 = b.c2 AND a.vec_id < b.vec_id
      |), spd2 AS (
      |  SELECT id1, id2, CAST(sum((x1 - x2) * (x1 - x2)) AS BIGINT) AS d2
      |  FROM (
      |    SELECT p.id1, p.id2, unnest(va.fx) AS x1, unnest(vb.fx) AS x2
      |    FROM prs p JOIN v va ON va.vec_id = p.id1
      |                JOIN v vb ON vb.vec_id = p.id2
      |  ) GROUP BY id1, id2
      |), sdrops AS (
      |  SELECT DISTINCT id2 AS vec_id FROM spd2 WHERE d2 <= 1000
      |), s3 AS (
      |  SELECT s2.doc_id, s2.text FROM s2
      |  JOIN mem m ON m.vec_id = s2.doc_id
      |  LEFT JOIN sdrops d ON d.vec_id = s2.doc_id
      |  WHERE d.vec_id IS NULL
      |)""".stripMargin
  }

  /** The split train/assign kmeans CTE chain as a bare (WITH-less) CTE
    * list, every CTE name suffixed with `sfx` — so TWO independent
    * kmeans instances (e.g. the pre- and post-retrain layouts of
    * `ext_dedup_stream_semantic_retrained`) can coexist in one oracle
    * query. `sfx = ""` reproduces [[kmeansCtesTrainAssign]]'s chain
    * verbatim (train over `vt` = `trainPred` rows, final assignment
    * `a2_d<sfx>` over ALL of `source`). */
  private def kmeansCteList(sfx: String, source: String,
      trainPred: String): String =
    s"""v$sfx AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)) AS fx
      |  FROM $source
      |), vt$sfx AS (
      |  SELECT vec_id, fx FROM v$sfx WHERE $trainPred
      |), c0$sfx AS (
      |  SELECT vec_id AS cid, fx AS cfx FROM vt$sfx
      |  WHERE vec_id % (SELECT greatest(100, (count(*) + 1023) // 1024)
      |                  FROM vt$sfx) = 0
      |), a0_d$sfx AS (
      |  SELECT vec_id, cid, CAST(sum((vf - cf) * (vf - cf)) AS BIGINT) AS d
      |  FROM (SELECT t.vec_id, c.cid, unnest(t.fx) AS vf, unnest(c.cfx) AS cf
      |        FROM vt$sfx t CROSS JOIN c0$sfx c) z
      |  GROUP BY vec_id, cid
      |), a0$sfx AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a0_d$sfx) WHERE rn = 1
      |), c1_u$sfx AS (
      |  SELECT cid, list(nv ORDER BY i) AS cfx FROM (
      |    SELECT a.cid, t.i,
      |      CAST(floor(CAST(CAST(sum(tv.fx[t.i]) AS BIGINT) AS DOUBLE)
      |        / count(*)) AS BIGINT) AS nv
      |    FROM a0$sfx a JOIN vt$sfx tv ON tv.vec_id = a.vec_id, range(1, 65) t(i)
      |    GROUP BY a.cid, t.i) GROUP BY cid
      |), c1$sfx AS (
      |  SELECT c.cid, COALESCE(u.cfx, c.cfx) AS cfx
      |  FROM c0$sfx c LEFT JOIN c1_u$sfx u ON u.cid = c.cid
      |), a1_d$sfx AS (
      |  SELECT vec_id, cid, CAST(sum((vf - cf) * (vf - cf)) AS BIGINT) AS d
      |  FROM (SELECT t.vec_id, c.cid, unnest(t.fx) AS vf, unnest(c.cfx) AS cf
      |        FROM vt$sfx t CROSS JOIN c1$sfx c) z
      |  GROUP BY vec_id, cid
      |), a1$sfx AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a1_d$sfx) WHERE rn = 1
      |), c2_u$sfx AS (
      |  SELECT cid, list(nv ORDER BY i) AS cfx FROM (
      |    SELECT a.cid, t.i,
      |      CAST(floor(CAST(CAST(sum(tv.fx[t.i]) AS BIGINT) AS DOUBLE)
      |        / count(*)) AS BIGINT) AS nv
      |    FROM a1$sfx a JOIN vt$sfx tv ON tv.vec_id = a.vec_id, range(1, 65) t(i)
      |    GROUP BY a.cid, t.i) GROUP BY cid
      |), c2$sfx AS (
      |  SELECT c.cid, COALESCE(u.cfx, c.cfx) AS cfx
      |  FROM c1$sfx c LEFT JOIN c2_u$sfx u ON u.cid = c.cid
      |), a2_d$sfx AS (
      |  SELECT vec_id, cid, CAST(sum((vf - cf) * (vf - cf)) AS BIGINT) AS d
      |  FROM (SELECT v.vec_id, c.cid, unnest(v.fx) AS vf, unnest(c.cfx) AS cf
      |        FROM v$sfx v CROSS JOIN c2$sfx c) z
      |  GROUP BY vec_id, cid
      |)""".stripMargin

  /** Oracle for `eng_ann_ivf_persisted_append`: training on the even
    * half, assignment and probe over the union — the frozen-centroid
    * append contract in SQL. */
  private val annIvfKmeansAppendSql: String =
    s"""${kmeansCtesTrainAssign("", "embeddings", "vec_id % 2 = 0")},
      |${ivfKmeansCtes("2")}
      |SELECT query_id, neighbor_id, rnk FROM ivfk""".stripMargin

  private val clusterKmeansSql: String =
    s"""$kmeansCtes,
      |km AS (
      |  SELECT vec_id, cid, d FROM (
      |    SELECT vec_id, cid, d,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a2_d) WHERE rn = 1
      |)
      |SELECT vec_id, cid, d AS dist2 FROM km""".stripMargin

  /** The IVF-over-kmeans candidate/rescore CTE chain (appended to
    * [[kmeansCtes]]): learned lists `km`, integer probe selection,
    * candidate join, integer rescore distances `cd`, and the ranked
    * top-5 `ivfk` — probe selection AND rescore rank by fixed-point
    * squared-L2, so the whole query is hash-exact with no
    * float-ordering sensitivity (the cosine family's one residual risk
    * class). Shared by the `ext_ann_ivf_kmeans` oracle and the recall
    * row. */
  private def ivfKmeansCtes(nprobeSql: String): String =
    s"""km AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a2_d) WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS query_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM a2_d WHERE vec_id < 10) WHERE rn <= $nprobeSql
      |), cand AS (
      |  SELECT p.query_id, l.vec_id AS neighbor_id
      |  FROM probes p JOIN km l ON l.cid = p.cid AND l.vec_id != p.query_id
      |), cd AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(sum((qf - nf) * (qf - nf)) AS BIGINT) AS d
      |  FROM (SELECT c.query_id, c.neighbor_id,
      |          unnest(q.fx) AS qf, unnest(n.fx) AS nf
      |        FROM cand c JOIN v q ON q.vec_id = c.query_id
      |                    JOIN v n ON n.vec_id = c.neighbor_id) z
      |  GROUP BY query_id, neighbor_id
      |),
      |ivfk AS (
      |  SELECT query_id, neighbor_id, rnk FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY d, neighbor_id) AS rnk
      |    FROM cd) WHERE rnk <= 5
      |)""".stripMargin

  private val annIvfKmeansSql: String =
    s"""$kmeansCtes,
      |${ivfKmeansCtes("2")}
      |SELECT query_id, neighbor_id, rnk FROM ivfk""".stripMargin

  /** Oracle for `ext_ann_ivf_kmeans_adaptive`: same chain with the
    * √lists probe rule computed IN SQL from the seed-centroid count —
    * integer count → IEEE sqrt → ceil, each correctly rounded, so both
    * engines derive the identical nprobe. */
  private val annIvfKmeansAdaptiveSql: String =
    s"""$kmeansCtes,
      |${ivfKmeansCtes(
        "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c0)")}
      |SELECT query_id, neighbor_id, rnk FROM ivfk""".stripMargin

  /** Oracle for `ext_ann_recall_kmeans` (and the `_adaptive` twin via
    * [[annRecallKmeansSqlFor]]): the kmeans-IVF top-5 vs the INTEGER
    * brute-force top-5 — both all-int64, so this recall row is exactly
    * reproducible (no float brute-force in the loop). */
  private def annRecallKmeansSqlFor(nprobeSql: String): String =
    s"""$kmeansCtes,
      |${ivfKmeansCtes(nprobeSql)},
      |bd AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(sum((qf - nf) * (qf - nf)) AS BIGINT) AS d
      |  FROM (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |          unnest(q.fx) AS qf, unnest(n.fx) AS nf
      |        FROM v q JOIN v n ON n.vec_id != q.vec_id
      |        WHERE q.vec_id < 10) z
      |  GROUP BY query_id, neighbor_id
      |), brute AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY d, neighbor_id) AS rnk
      |    FROM bd) WHERE rnk <= 5
      |)
      |SELECT i.query_id AS query_id,
      |  CAST(count(b.neighbor_id) AS BIGINT) AS n_hit,
      |  CAST(count(*) AS BIGINT) AS n_ret
      |FROM ivfk i LEFT JOIN brute b
      |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      |GROUP BY i.query_id""".stripMargin

  private val annRecallKmeansSql: String = annRecallKmeansSqlFor("2")

  /** `ext_ann_recall_kmeans_adaptive`: same recall shape with the
    * √lists probe rule recomputed in SQL (identical arithmetic to the
    * `ext_ann_ivf_kmeans_adaptive` oracle). */
  private val annRecallKmeansAdaptiveSql: String = annRecallKmeansSqlFor(
    "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c0)")

  /** Shared oracle for `ext_chunk_documents` (DataFrame route) and
    * `sql_chunk_documents` (SQL-text route) — one chunking
    * semantics, two front doors. */
  private val chunkDocumentsSql: String =
        """WITH d AS (
          |  SELECT doc_id,
          |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
          |  FROM documents
          |), c AS (
          |  SELECT doc_id, n,
          |    CASE WHEN n <= 32 THEN 1
          |         ELSE 1 + (n - 32 + 23) // 24 END AS n_chunks
          |  FROM d
          |), e AS (
          |  SELECT doc_id, n,
          |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
          |  FROM c
          |)
          |SELECT doc_id, chunk_idx, chunk_idx * 24 AS start_tok,
          |  least(chunk_idx * 24 + 32, n) AS end_tok
          |FROM e""".stripMargin

  private val annIvfSql: String =
    s"""WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id % ${graft.operators.Similarity.DefaultIvfStride} = 0
      |), assign AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cid) AS rn
      |  FROM embeddings e CROSS JOIN cent c
      |), lists AS (
      |  SELECT vec_id, embedding, cid FROM assign WHERE rn = 1
      |), qp AS (
      |  SELECT q.vec_id AS query_id, q.embedding AS qe, c.cid,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cid) AS rn
      |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10
      |), probes AS (SELECT query_id, qe, cid FROM qp WHERE rn <= ${graft.operators.Similarity.DefaultIvfProbes})
      |SELECT query_id, neighbor_id, rnk FROM (
      |  SELECT p.query_id, l.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY p.query_id ORDER BY list_cosine_similarity(CAST(p.qe AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])) DESC, l.vec_id) AS rnk
      |  FROM probes p JOIN lists l ON l.cid = p.cid AND l.vec_id != p.query_id
      |) WHERE rnk <= $AnnIvfK""".stripMargin

  /** Oracle for `eng_ann_recall`: recompute the IVF top-k
    * ([[annIvfSql]], nested verbatim as a CTE) and the exact
    * brute-force top-k, then count per query how many IVF neighbors
    * appear in the exact set — integer recall counts, deterministic
    * because both member queries are already hash-exact oracles. */
  private val annRecallSql: String =
    s"""WITH ivf AS (
       |$annIvfSql
       |), brute AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
       |    WHERE q.vec_id < 10
       |  ) WHERE rnk <= $AnnIvfK
       |)
       |SELECT i.query_id AS query_id,
       |  CAST(count(b.neighbor_id) AS BIGINT) AS n_hit,
       |  CAST(count(*) AS BIGINT) AS n_ret
       |FROM ivf i LEFT JOIN brute b
       |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |GROUP BY i.query_id""".stripMargin

  /** Oracle for `eng_ann_recall_bucketed`: [[annBucketedSql]] nested as
    * a CTE vs the exact brute-force top-3, per-query hit counts. */
  private val annRecallBucketedSql: String =
    s"""WITH lsh AS (
       |$annBucketedSql
       |), brute AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rnk
       |    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
       |    WHERE q.vec_id < 10
       |  ) WHERE rnk <= 3
       |)
       |SELECT i.query_id AS query_id,
       |  CAST(count(b.neighbor_id) AS BIGINT) AS n_hit,
       |  CAST(count(*) AS BIGINT) AS n_ret
       |FROM lsh i LEFT JOIN brute b
       |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |GROUP BY i.query_id""".stripMargin

  /** Oracle for `ext_ann_ivf_adaptive`: the SAME derivation as
    * [[graft.operators.Similarity.adaptiveIvfStride]] /
    * [[graft.operators.Similarity.autoNprobe]] in SQL — lists =
    * max(1, min(ceil(√n), cap)), stride = max(1, ceil(n/lists)),
    * nprobe = max(default, ceil(√(ceil(n/stride)))) — then the pinned
    * IVF semantics (nearest-centroid assignment with smallest-cid ties,
    * driver-identical probe ranking, exact rescore within probed
    * lists). Both engines compute ceil/sqrt on IEEE doubles, so the
    * derived geometry is bit-identical. */
  private val annIvfAdaptiveSql: String = {
    import graft.operators.Similarity.{DefaultIvfProbes, DefaultMaxIvfLists}
    s"""WITH p AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
      |), geo AS (
      |  SELECT n, greatest(1, CAST(ceil(CAST(n AS DOUBLE) / CAST(greatest(1, least(CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT), $DefaultMaxIvfLists)) AS DOUBLE)) AS BIGINT)) AS stride
      |  FROM p
      |), geo2 AS (
      |  SELECT stride, greatest($DefaultIvfProbes, CAST(ceil(sqrt(CAST((n + stride - 1) // stride AS DOUBLE))) AS BIGINT)) AS nprobe
      |  FROM geo
      |), cent AS (
      |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id % (SELECT stride FROM geo2) = 0
      |), assign AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cid) AS rn
      |  FROM embeddings e CROSS JOIN cent c
      |), lists AS (
      |  SELECT vec_id, embedding, cid FROM assign WHERE rn = 1
      |), qp AS (
      |  SELECT q.vec_id AS query_id, q.embedding AS qe, c.cid,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cid) AS rn
      |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10
      |), probes AS (SELECT query_id, qe, cid FROM qp WHERE rn <= (SELECT nprobe FROM geo2))
      |SELECT query_id, neighbor_id, rnk FROM (
      |  SELECT pr.query_id, l.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY pr.query_id ORDER BY list_cosine_similarity(CAST(pr.qe AS DOUBLE[]), CAST(l.embedding AS DOUBLE[])) DESC, l.vec_id) AS rnk
      |  FROM probes pr JOIN lists l ON l.cid = pr.cid AND l.vec_id != pr.query_id
      |) WHERE rnk <= $AnnIvfK""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    val oc = OrderCellsSql
    val ec = EventCellsSql
    val plantedSql =
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
        |)""".stripMargin
    // The 8-char polynomial window hash of MinHashSignature.compute, as
    // portable SQL over (text, i): sum_j cp(i+j) * 131^(7-j), chars past
    // end-of-string as 0 — generated from the SAME power table the Spark
    // side uses (Dedup.hashPows delegates to MinHashSignature.hashPows),
    // so the two can never drift.
    val minhashH0Sql = {
      val pows = graft.operators.Dedup.hashPows(8)
      (0 until 8).map { j =>
        s"(CASE WHEN i + $j <= length(text) THEN CAST(ascii(substr(text, CAST(i + $j AS INT), 1)) AS BIGINT) ELSE 0 END) * ${pows(7 - j)}"
      }.mkString(" + ")
    }
    // The perceptual profile-dHash chain (planted tail-edit variants →
    // per-byte segment levels → 60 comparison bits), shared by the
    // one-shot pair row and the incremental-store twin.
    val imagePhashCtes =
      """pd AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(text, 1, greatest(length(text) - 8, 0)) || 'zzzzzzzz'
        |  FROM documents WHERE doc_id < 20
        |), ch AS (
        |  SELECT doc_id, length(text) AS n,
        |    unnest(generate_series(1, length(text))) AS i, text
        |  FROM pd WHERE text IS NOT NULL AND length(text) > 0
        |), cv AS (
        |  SELECT doc_id, ((i - 1) * 61) // n AS s,
        |    unicode(substr(text, CAST(i AS INTEGER), 1)) AS v
        |  FROM ch
        |), sa AS (
        |  SELECT doc_id, s, CAST(sum(v) // count(*) AS BIGINT) AS a
        |  FROM cv GROUP BY doc_id, s
        |), spine AS (
        |  -- text IS NOT NULL: the Spark side's perceptualHashes drops
        |  -- NULL payloads, so a NULL-text doc must get NO phash row
        |  -- here either (latent on the generated corpus, which has
        |  -- none — the oracle now matches the pipeline on any corpus)
        |  SELECT p.doc_id, g.s, COALESCE(sa.a, 0) AS a
        |  FROM (SELECT DISTINCT doc_id FROM pd WHERE text IS NOT NULL) p
        |  CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS s) g
        |  LEFT JOIN sa ON sa.doc_id = p.doc_id AND sa.s = g.s
        |), hv AS (
        |  SELECT x.doc_id,
        |    CAST(sum(CASE WHEN x.a < y.a
        |      THEN (CAST(1 AS BIGINT) << CAST(x.s AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS phash
        |  FROM spine x JOIN spine y
        |    ON y.doc_id = x.doc_id AND y.s = x.s + 1
        |  WHERE x.s < 60
        |  GROUP BY x.doc_id
        |)""".stripMargin
    // DuckDB's native ASOF LEFT JOIN as the oracle for BOTH as-of front
    // doors (ext_join_asof the DataFrame route, sql_join_asof the
    // SQL-text route). The right side is deduped to one row per
    // (user, µs) keeping the largest click_id — ASOF picks arbitrarily
    // among exact duplicates and the engine's tie-break is pinned to
    // largest-id, so the dedup makes both engines deterministic AND
    // equal.
    val joinAsofSql =
      """WITH buys AS (
        |  SELECT event_id AS buy_id, user_id, epoch_us(ts) AS buy_ts_us
        |  FROM events WHERE event_type = 'purchase'
        |), clicks AS (
        |  SELECT click_id, user_id, click_ts_us FROM (
        |    SELECT event_id AS click_id, user_id,
        |      epoch_us(ts) AS click_ts_us,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts)
        |        ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click') WHERE rn = 1
        |)
        |SELECT b.buy_id, b.user_id, b.buy_ts_us, c.click_id,
        |  c.click_ts_us
        |FROM buys b ASOF LEFT JOIN clicks c
        |  ON b.user_id = c.user_id AND b.buy_ts_us >= c.click_ts_us""".stripMargin
    // the md5-coin split thresholds, shared by ext_split_assign and
    // sql_split_assign (the graft_sample_hash SQL door)
    val splitAssignSql =
      s"""SELECT doc_id,
         |  CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < ${(0.8 * 1152921504606846976.0d).toLong} THEN 'train'
         |       WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < ${(0.9 * 1152921504606846976.0d).toLong} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin
    val base = Map(
      "op01_get_row" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key = '0000000001'",
      "op02_multi_get" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key IN ('0000000001','0000000042','0000000777')",
      "op03_scan_prefix" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key LIKE '00000001%'",
      "op04_scan_range" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key >= '0000000100' AND row_key <= '0000000150'",
      "op04x_scan_range_exclusive" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key >= '0000000100' AND row_key < '0000000150'",
      "op05_filter_key" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key LIKE '00000002%' AND family = 'o' AND qualifier = 'status'",
      "op05b_filter_family" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key LIKE '00000002%' AND family = 'm'",
      "op06_filter_multi" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key LIKE '00000002%' AND ((family='o' AND qualifier='status') OR (family='m' AND qualifier='total'))",
      "op07_filter_prefix" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key LIKE '00000002%' AND family = 'o' AND qualifier LIKE 'p%'",
      "op08_locality_scan" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE family = 'm'",
      "op09_merge_ordered" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key < '0000000200' ORDER BY row_key, family, qualifier, ts DESC",
      "op10_projection_scan" ->
        s"$oc SELECT row_key, vs FROM cells WHERE family = 'o' AND qualifier = 'status'",
      "op11_row_limit" ->
        s"""$oc, lim AS (
           |  SELECT DISTINCT row_key FROM cells WHERE row_key LIKE '0000001%' ORDER BY row_key LIMIT 100
           |) SELECT c.row_key, family, qualifier, ts, vs, vd FROM cells c JOIN lim USING (row_key)""".stripMargin,
      "op12_row_offset" ->
        s"""$oc, rk AS (
           |  SELECT row_key, row_number() OVER (ORDER BY row_key) AS rn
           |  FROM (SELECT DISTINCT row_key FROM cells WHERE row_key LIKE '00000012%')
           |) SELECT c.row_key, family, qualifier, ts, vs, vd FROM cells c JOIN rk USING (row_key) WHERE rk.rn >= 50""".stripMargin,
      "op13_cell_limit_global" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key LIKE '0000001%' ORDER BY row_key, family, qualifier, ts DESC LIMIT 500",
      "op14_cell_limit_row" ->
        s"""$oc SELECT row_key, family, qualifier, ts, vs, vd FROM (
           |  SELECT c.*, row_number() OVER (PARTITION BY row_key ORDER BY family, qualifier, ts DESC) AS rn
           |  FROM cells c WHERE row_key LIKE '0000001%'
           |) WHERE rn <= 3""".stripMargin,
      "op15_version_limit" ->
        s"""$ec SELECT row_key, family, qualifier, ts, vs, vd FROM (
           |  SELECT c.*, row_number() OVER (PARTITION BY row_key, family, qualifier ORDER BY ts DESC) AS rn
           |  FROM cells c
           |) WHERE rn <= 3""".stripMargin,
      "op16_sampling" ->
        s"""$oc, rk AS (
           |  SELECT row_key, row_number() OVER (ORDER BY row_key) AS rn
           |  FROM (SELECT DISTINCT row_key FROM cells WHERE row_key LIKE '000000012%')
           |) SELECT c.row_key, family, qualifier, ts, vs, vd FROM cells c JOIN rk USING (row_key)
           |WHERE rk.rn = 1 OR floor(rk.rn * 0.25) > floor((rk.rn - 1) * 0.25)""".stripMargin,
      "op17_scan_count" ->
        s"$oc SELECT CAST(count(DISTINCT row_key) AS BIGINT) AS row_count, CAST(count(*) AS BIGINT) AS cell_count FROM cells WHERE row_key LIKE '0000001%' AND family = 'o'",
      "op18_full_count" ->
        s"$oc SELECT CAST(count(DISTINCT row_key) AS BIGINT) AS row_count, CAST(count(*) AS BIGINT) AS cell_count FROM cells",
      "op19_approx_count" ->
        s"$oc SELECT CAST(count(*) // 2 AS BIGINT) AS row_count_estimate, CAST(count(*) AS BIGINT) AS cell_count FROM cells",
      "op20_delete_row" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key < '0000000100' AND NOT (row_key = '0000000042' AND family = 'o' AND qualifier = 'status')",
      "op21_gc_version" ->
        s"""$ec SELECT row_key, family, qualifier, ts, vs, vd FROM (
           |  SELECT c.*, row_number() OVER (PARTITION BY row_key, family, qualifier ORDER BY ts DESC) AS rn
           |  FROM cells c
           |) WHERE rn <= 5""".stripMargin,
      "op21b_gc_ttl" ->
        s"$ec SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE NOT (ts > 0 AND (1707868800 - ts // 1000000000) > 2592000)",
      "op22_write_upsert" ->
        s"""$ec, base AS (
           |  SELECT row_key, family, qualifier, ts, vs, vd, CAST(1 AS BIGINT) AS seq FROM cells
           |), upd AS (
           |  SELECT row_key, family, qualifier, ts, vs, vd * 2 AS vd, CAST(2 AS BIGINT) AS seq FROM cells WHERE qualifier = 'click'
           |), unioned AS (
           |  SELECT * FROM base UNION ALL SELECT * FROM upd
           |) SELECT row_key, family, qualifier, ts, vs, vd FROM (
           |  SELECT u.*, row_number() OVER (PARTITION BY row_key, family, qualifier, ts ORDER BY seq DESC) AS rn FROM unioned u
           |) WHERE rn = 1""".stripMargin,
      "eng_scan_prefix" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key LIKE '00000001%'",
      "eng_get_row" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key = '0000000001'",
      "eng_multi_get" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key IN ('0000000001','0000000042','0000000777')",
      "eng_bucket_get" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key = '0000000001'",
      // the TVF row-limit is the engine's distributed row limit: first
      // 50 distinct row_keys in key order, each with its full cell set
      "sql_scan_tvf" ->
        s"""$oc, lim AS (
           |  SELECT DISTINCT row_key FROM cells WHERE row_key LIKE '00000001%' ORDER BY row_key LIMIT 50
           |) SELECT row_key, family, qualifier, ts, vs, vd FROM cells JOIN lim USING (row_key)""".stripMargin,
      "eng_scan_limits" ->
        s"""$oc, lim AS (
           |  SELECT DISTINCT row_key FROM cells WHERE row_key LIKE '0000001%' ORDER BY row_key LIMIT 100
           |), ranked AS (
           |  SELECT c.*, row_number() OVER (PARTITION BY c.row_key ORDER BY family, qualifier, ts DESC) AS rn
           |  FROM cells c JOIN lim USING (row_key)
           |) SELECT row_key, family, qualifier, ts, vs, vd FROM ranked WHERE rn <= 3""".stripMargin,
      // engine-path mutation verbs: oracle expresses the post-mutation
      // state over the same source cells
      "eng_scan_range" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key >= '0000000100' AND row_key < '0000000200'",
      "eng_delete_row" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key < '0000000100' AND row_key <> '0000000007' AND NOT (row_key = '0000000042' AND family = 'o' AND qualifier = 'status')",
      "eng_gc_version" ->
        """WITH pts AS (
          |  SELECT event_type, epoch_us(ts) * 1000 AS ts, max(value) AS vd
          |  FROM events GROUP BY 1, 2
          |), ranked AS (
          |  SELECT event_type AS row_key, 'value' AS family,
          |    '' AS qualifier, ts, CAST(NULL AS VARCHAR) AS vs, vd,
          |    row_number() OVER (PARTITION BY event_type ORDER BY ts DESC) AS rn
          |  FROM pts
          |) SELECT row_key, family, qualifier, ts, vs, vd
          |FROM ranked WHERE rn <= 100""".stripMargin,
      "eng_gc_ttl" ->
        """WITH pts AS (
          |  SELECT event_type, epoch_us(ts) * 1000 AS ts, max(value) AS vd
          |  FROM events GROUP BY 1, 2
          |) SELECT event_type AS row_key, 'value' AS family,
          |  '' AS qualifier, ts, CAST(NULL AS VARCHAR) AS vs, vd
          |FROM pts
          |WHERE NOT (ts > 0 AND (1707868800 - ts // 1000000000) > 2592000)""".stripMargin,
      "eng_write_upsert" ->
        s"""$oc, upd AS (
           |  SELECT CAST('0000000001' AS VARCHAR) AS row_key, 'o' AS family, 'status' AS qualifier, CAST(0 AS BIGINT) AS ts, CAST('X' AS VARCHAR) AS vs, CAST(NULL AS DOUBLE) AS vd
           |  UNION ALL SELECT '0000000001', 'o', 'note', CAST(0 AS BIGINT), 'updated', CAST(NULL AS DOUBLE)
           |  UNION ALL SELECT '0000000042', 'm', 'total', CAST(0 AS BIGINT), CAST(NULL AS VARCHAR), 123.45
           |), unioned AS (
           |  SELECT row_key, family, qualifier, ts, vs, vd, 1 AS seq FROM cells
           |  UNION ALL SELECT row_key, family, qualifier, ts, vs, vd, 2 AS seq FROM upd
           |) SELECT row_key, family, qualifier, ts, vs, vd FROM (
           |  SELECT u.*, row_number() OVER (PARTITION BY row_key, family, qualifier, ts ORDER BY seq DESC) AS rn FROM unioned u
           |) WHERE rn = 1 AND row_key < '0000000100'""".stripMargin,
      // compaction is result-invariant by contract: post-compact physical
      // state must equal eng_write_upsert's logical LWW view
      "eng_compact" ->
        s"""$oc, upd AS (
           |  SELECT CAST('0000000001' AS VARCHAR) AS row_key, 'o' AS family, 'status' AS qualifier, CAST(0 AS BIGINT) AS ts, CAST('X' AS VARCHAR) AS vs, CAST(NULL AS DOUBLE) AS vd
           |  UNION ALL SELECT '0000000001', 'o', 'note', CAST(0 AS BIGINT), 'updated', CAST(NULL AS DOUBLE)
           |  UNION ALL SELECT '0000000042', 'm', 'total', CAST(0 AS BIGINT), CAST(NULL AS VARCHAR), 123.45
           |), unioned AS (
           |  SELECT row_key, family, qualifier, ts, vs, vd, 1 AS seq FROM cells
           |  UNION ALL SELECT row_key, family, qualifier, ts, vs, vd, 2 AS seq FROM upd
           |) SELECT row_key, family, qualifier, ts, vs, vd FROM (
           |  SELECT u.*, row_number() OVER (PARTITION BY row_key, family, qualifier, ts ORDER BY seq DESC) AS rn FROM unioned u
           |) WHERE rn = 1 AND row_key < '0000000100'""".stripMargin,
      "eng_scan_sample" ->
        s"""$oc, rk AS (
           |  SELECT row_key, row_number() OVER (ORDER BY row_key) AS rn
           |  FROM (SELECT DISTINCT row_key FROM cells WHERE row_key LIKE '000000012%')
           |) SELECT c.row_key, family, qualifier, ts, vs, vd FROM cells c JOIN rk USING (row_key)
           |WHERE rk.rn = 1 OR floor(rk.rn * 0.25) > floor((rk.rn - 1) * 0.25)""".stripMargin,
      "eng_scan_offset" ->
        s"""$oc, rk AS (
           |  SELECT row_key, row_number() OVER (ORDER BY row_key) AS rn
           |  FROM (SELECT DISTINCT row_key FROM cells WHERE row_key LIKE '0000001%')
           |) SELECT c.row_key, family, qualifier, ts, vs, vd FROM cells c JOIN rk USING (row_key) WHERE rk.rn >= 50 AND rk.rn <= 149""".stripMargin,
      "eng_stream_ingest" ->
        """SELECT lpad(CAST(event_id AS VARCHAR), 12, '0') AS row_key,
          |  'ev' AS family, event_type AS qualifier,
          |  epoch_us(ts) * 1000 AS ts, CAST(NULL AS VARCHAR) AS vs,
          |  value AS vd
          |FROM events""".stripMargin,
      // SQL-surface twins: same oracles as their Scala-verb siblings
      "sql_scan_prefix" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE row_key LIKE '00000001%'",
      "sql_dedup_exact" ->
        s"$plantedSql SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count FROM docs2 GROUP BY md5(text)",
      "sql_sample_threshold" ->
        s"""SELECT doc_id, lang FROM documents
           |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < ${(0.25 * 1152921504606846976.0d).toLong}""".stripMargin,
      "sql_approx_distinct" ->
        """WITH dh AS (
          |  SELECT DISTINCT lang, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv FROM documents
          |), dk AS (
          |  SELECT lang, count(*) AS n, max(hv) AS kth FROM (
          |    SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM dh
          |  ) WHERE rn <= 64 GROUP BY 1
          |), sh AS (
          |  SELECT DISTINCT lang, CAST(concat('0x', substr(md5(CAST(source AS VARCHAR)), 1, 15)) AS BIGINT) AS hv FROM documents
          |), sk AS (
          |  SELECT lang, count(*) AS n, max(hv) AS kth FROM (
          |    SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM sh
          |  ) WHERE rn <= 64 GROUP BY 1
          |)
          |SELECT dk.lang AS lang,
          |  CASE WHEN dk.n < 64 THEN CAST(dk.n AS DOUBLE) ELSE 63.0 * 1152921504606846976.0 / CAST(dk.kth AS DOUBLE) END AS est_docs,
          |  CASE WHEN sk.n < 64 THEN CAST(sk.n AS DOUBLE) ELSE 63.0 * 1152921504606846976.0 / CAST(sk.kth AS DOUBLE) END AS est_sources
          |FROM dk JOIN sk ON dk.lang = sk.lang""".stripMargin,
      // metrics self-table: newest 720 versions per metric (= event_type
      // row); points are max(value) per µs-aligned ts so ranking is
      // tie-free and order-independent
      "eng_metrics_lastn" ->
        """WITH pts AS (
          |  SELECT event_type, epoch_us(ts) * 1000 AS ts, max(value) AS vd
          |  FROM events GROUP BY 1, 2
          |), ranked AS (
          |  SELECT event_type AS row_key, 'value' AS family,
          |    '' AS qualifier, ts, CAST(NULL AS VARCHAR) AS vs, vd,
          |    row_number() OVER (PARTITION BY event_type ORDER BY ts DESC) AS rn
          |  FROM pts
          |) SELECT row_key, family, qualifier, ts, vs, vd
          |FROM ranked WHERE rn <= 720""".stripMargin,
      "eng_ann_bucketed" -> annBucketedSql,
      "eng_ann_append" -> annBucketedSql,
      "eng_locality_scan" ->
        s"$oc SELECT row_key, family, qualifier, ts, vs, vd FROM cells WHERE family = 'm'",
      "ext_dedup_exact" ->
        s"$plantedSql SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count FROM docs2 GROUP BY md5(text)",
      // within-batch min-id keep, then anti join against the known
      // fingerprint slice (doc_id % 3 = 0)
      "ext_dedup_incremental" ->
        s"""$plantedSql, batch AS (
           |  SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS doc_id
           |  FROM docs2 GROUP BY md5(text)
           |), known AS (
           |  SELECT DISTINCT md5(text) AS h FROM documents
           |  WHERE doc_id % 3 = 0 AND text IS NOT NULL
           |)
           |SELECT b.doc_id, b.h FROM batch b
           |LEFT JOIN known k ON b.h = k.h WHERE k.h IS NULL""".stripMargin,
      "ext_dedup_minhash" ->
        s"""$plantedSql, pos AS (
           |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i FROM docs2
           |), hashed AS (
           |  SELECT doc_id, ($minhashH0Sql) % 2147483647 AS h0 FROM pos
           |), sig AS (
           |  SELECT doc_id,
           |    min(xor(h0, 0)) AS m1,
           |    min(xor(h0, 25214903917)) AS m2,
           |    min(xor(h0, 173961102589770)) AS m3,
           |    min(xor(h0, 2685821657736338717)) AS m4
           |  FROM hashed GROUP BY doc_id
           |), bands AS (
           |  SELECT doc_id, concat('0_', CAST(m1 AS VARCHAR), '_', CAST(m2 AS VARCHAR)) AS band FROM sig
           |  UNION ALL SELECT doc_id, concat('1_', CAST(m3 AS VARCHAR), '_', CAST(m4 AS VARCHAR)) FROM sig
           |) SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id1, CAST(b.doc_id AS BIGINT) AS id2
           |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin,
      // incremental near-dup: batch doc dropped when any band matches a
      // landed (doc_id % 3 = 0) band or a smaller-id batch doc's band;
      // survivors return with signatures. Same sig/band derivation as
      // ext_dedup_minhash for the batch, mirrored for the landed slice.
      "ext_dedup_incremental_minhash" ->
        s"""$plantedSql, pos AS (
           |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i FROM docs2
           |), hashed AS (
           |  SELECT doc_id, ($minhashH0Sql) % 2147483647 AS h0 FROM pos
           |), sig AS (
           |  SELECT doc_id,
           |    min(xor(h0, 0)) AS m1,
           |    min(xor(h0, 25214903917)) AS m2,
           |    min(xor(h0, 173961102589770)) AS m3,
           |    min(xor(h0, 2685821657736338717)) AS m4
           |  FROM hashed GROUP BY doc_id
           |), bands AS (
           |  SELECT doc_id, concat('0_', CAST(m1 AS VARCHAR), '_', CAST(m2 AS VARCHAR)) AS band FROM sig
           |  UNION ALL SELECT doc_id, concat('1_', CAST(m3 AS VARCHAR), '_', CAST(m4 AS VARCHAR)) FROM sig
           |), kpos AS (
           |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
           |  FROM documents WHERE doc_id % 3 = 0
           |), khashed AS (
           |  SELECT doc_id, ($minhashH0Sql) % 2147483647 AS h0 FROM kpos
           |), ksig AS (
           |  SELECT doc_id,
           |    min(xor(h0, 0)) AS m1,
           |    min(xor(h0, 25214903917)) AS m2,
           |    min(xor(h0, 173961102589770)) AS m3,
           |    min(xor(h0, 2685821657736338717)) AS m4
           |  FROM khashed GROUP BY doc_id
           |), kbands AS (
           |  SELECT DISTINCT band FROM (
           |    SELECT concat('0_', CAST(m1 AS VARCHAR), '_', CAST(m2 AS VARCHAR)) AS band FROM ksig
           |    UNION ALL SELECT concat('1_', CAST(m3 AS VARCHAR), '_', CAST(m4 AS VARCHAR)) FROM ksig)
           |), drop_ids AS (
           |  SELECT DISTINCT b.doc_id FROM bands b JOIN kbands k ON b.band = k.band
           |  UNION SELECT a.doc_id FROM bands a JOIN bands c
           |    ON a.band = c.band AND c.doc_id < a.doc_id
           |)
           |SELECT CAST(s.doc_id AS BIGINT) AS doc_id, m1, m2, m3, m4
           |FROM sig s LEFT JOIN drop_ids d ON d.doc_id = s.doc_id
           |WHERE d.doc_id IS NULL""".stripMargin,
      // The WHOLE streaming curation composition recomputed one-shot:
      // planted input (exact dups +1000000, word-reversed semantic
      // twins +2000000) → quality gate + redaction (the ext_stream_prep
      // CTEs) → exact min-id keep → minhash drop on the REDACTED text →
      // frozen-centroid semantic drop over the planted embedding side
      // (train = base corpus, the layout's contract) → the
      // ext_pack_sequences cumsum binning over survivors. Id-ordered
      // micro-batches with all-seen store landing make the streamed
      // relation equal this one-shot form.
      "ext_stream_curate" -> (curateOracleSql(minhashH0Sql) + "," +
        """
          |packt AS (
          |  SELECT doc_id,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS shard
          |  FROM s3
          |), pc AS (
          |  SELECT doc_id, shard, n_tokens,
          |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
          |  FROM packt
          |)
          |SELECT doc_id, shard, CAST(tokens_before // 2048 AS BIGINT) AS bin, n_tokens FROM pc""".stripMargin),

      // DRAINED-STREAM end-state AUDIT (round 20 — the "restore from
      // disk alone" proof): the Spark side runs the curation stream
      // with a VERSIONED layout, a post-batch forced retrain + store
      // re-key, and inline maintenance — then emits NOTHING recomputed:
      // four sets read straight off the committed dirs (curated
      // survivors, exact-store hashes, band-store bands, vector-store
      // member ids). The oracle recomputes the batch composition's
      // end state; equality proves every byte of state a continuing
      // pipeline needs lives in the committed dirs and survives
      // cutover + re-key + compaction.
      "ext_stream_curate_audit" -> (curateOracleSql(minhashH0Sql) +
        """
          |SELECT 'curated' AS kind, CAST(doc_id AS VARCHAR) AS k FROM s3
          |UNION ALL SELECT DISTINCT 'hash', md5(text) FROM red
          |UNION ALL SELECT DISTINCT 'band', band FROM mbands
          |UNION ALL SELECT DISTINCT 'member', CAST(vec_id AS VARCHAR) FROM mem""".stripMargin),

      // the streaming twin lands the identical survivor set (multi-batch
      // ≡ one-shot under the all-seen landing contract) — same oracle
      "ext_dedup_stream_minhash" ->
        s"""$plantedSql, pos AS (
           |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i FROM docs2
           |), hashed AS (
           |  SELECT doc_id, ($minhashH0Sql) % 2147483647 AS h0 FROM pos
           |), sig AS (
           |  SELECT doc_id,
           |    min(xor(h0, 0)) AS m1,
           |    min(xor(h0, 25214903917)) AS m2,
           |    min(xor(h0, 173961102589770)) AS m3,
           |    min(xor(h0, 2685821657736338717)) AS m4
           |  FROM hashed GROUP BY doc_id
           |), bands AS (
           |  SELECT doc_id, concat('0_', CAST(m1 AS VARCHAR), '_', CAST(m2 AS VARCHAR)) AS band FROM sig
           |  UNION ALL SELECT doc_id, concat('1_', CAST(m3 AS VARCHAR), '_', CAST(m4 AS VARCHAR)) FROM sig
           |), kpos AS (
           |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
           |  FROM documents WHERE doc_id % 3 = 0
           |), khashed AS (
           |  SELECT doc_id, ($minhashH0Sql) % 2147483647 AS h0 FROM kpos
           |), ksig AS (
           |  SELECT doc_id,
           |    min(xor(h0, 0)) AS m1,
           |    min(xor(h0, 25214903917)) AS m2,
           |    min(xor(h0, 173961102589770)) AS m3,
           |    min(xor(h0, 2685821657736338717)) AS m4
           |  FROM khashed GROUP BY doc_id
           |), kbands AS (
           |  SELECT DISTINCT band FROM (
           |    SELECT concat('0_', CAST(m1 AS VARCHAR), '_', CAST(m2 AS VARCHAR)) AS band FROM ksig
           |    UNION ALL SELECT concat('1_', CAST(m3 AS VARCHAR), '_', CAST(m4 AS VARCHAR)) FROM ksig)
           |), drop_ids AS (
           |  SELECT DISTINCT b.doc_id FROM bands b JOIN kbands k ON b.band = k.band
           |  UNION SELECT a.doc_id FROM bands a JOIN bands c
           |    ON a.band = c.band AND c.doc_id < a.doc_id
           |)
           |SELECT CAST(s.doc_id AS BIGINT) AS doc_id, m1, m2, m3, m4
           |FROM sig s LEFT JOIN drop_ids d ON d.doc_id = s.doc_id
           |WHERE d.doc_id IS NULL""".stripMargin,
      // Transitive closure via WITH RECURSIVE: reach(id, r) = "r reaches
      // id"; component = min reaching id. Same minhash pair derivation as
      // ext_dedup_minhash, then closure — the oracle for the alternating
      // star algorithm is the DEFINITION it must match, not the algorithm.
      "ext_dedup_cluster" ->
        s"""${plantedSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, pos AS (
           |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i FROM docs2
           |), hashed AS (
           |  SELECT doc_id, ($minhashH0Sql) % 2147483647 AS h0 FROM pos
           |), sig AS (
           |  SELECT doc_id,
           |    min(xor(h0, 0)) AS m1,
           |    min(xor(h0, 25214903917)) AS m2,
           |    min(xor(h0, 173961102589770)) AS m3,
           |    min(xor(h0, 2685821657736338717)) AS m4
           |  FROM hashed GROUP BY doc_id
           |), bands AS (
           |  SELECT doc_id, concat('0_', CAST(m1 AS VARCHAR), '_', CAST(m2 AS VARCHAR)) AS band FROM sig
           |  UNION ALL SELECT doc_id, concat('1_', CAST(m3 AS VARCHAR), '_', CAST(m4 AS VARCHAR)) FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
           |), sym AS (
           |  SELECT id1 AS u, id2 AS v FROM pairs UNION SELECT id2, id1 FROM pairs
           |), reach AS (
           |  SELECT u AS id, u AS r FROM sym
           |  UNION
           |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.id
           |), comp AS (
           |  SELECT id, min(r) AS component FROM reach GROUP BY id
           |) SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           |  CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component
           |FROM docs2 d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin,
      // The streaming dedup's single-batch emission = batch group-by:
      // first (and only) micro-batch sees every row of the one source
      // file, so the emitted keeper is the global min per hash.
      "ext_dedup_stream" ->
        "SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id FROM documents GROUP BY md5(text)",
      // The full prep front: gate conjuncts + min-id keeper per
      // REDACTED-content hash (the streaming dedup caveat from
      // ext_dedup_stream applies — one source file, one micro-batch).
      "ext_stream_prep" ->
        (s"""WITH sig AS (
          |  SELECT doc_id, text,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
          |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_chars,
          |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_sym,
          |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_distinct,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      x -> x IN (${graft.operators.TextAnalysis.DefaultStopwords
                 .map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_stop
          |  FROM documents WHERE text IS NOT NULL
          |), gated AS (
          |  SELECT doc_id,
          |    md5(regexp_replace(
          |      regexp_replace(
          |        regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
          |        '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
          |      '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g')) AS h
          |  FROM sig
          |  WHERE n_tokens >= 10 AND n_tokens <= 100000
          |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) >= 2.0
          |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 12.0
          |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_sym AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 0.25
          |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) >= 0.3
          |    AND n_stop >= 1
          |) SELECT h, CAST(min(doc_id) AS BIGINT) AS keep_id
          |FROM gated GROUP BY h""".stripMargin),
      // Stateless gate + redaction: the streaming relation equals the
      // batch relation — same signals CTE as ext_quality_gate, same
      // ordered redaction fold as ext_pii_redact, composed.
      "ext_stream_quality" ->
        (s"""WITH sig AS (
          |  SELECT doc_id, lang, text,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
          |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_chars,
          |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_sym,
          |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_distinct,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      x -> x IN (${graft.operators.TextAnalysis.DefaultStopwords
                 .map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_stop
          |  FROM documents WHERE text IS NOT NULL
          |) SELECT doc_id, lang,
          |  CAST(length(regexp_replace(
          |    regexp_replace(
          |      regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
          |      '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
          |    '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g')) AS BIGINT) AS n_chars_redacted
          |FROM sig
          |WHERE n_tokens >= 10 AND n_tokens <= 100000
          |  AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) >= 2.0
          |  AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 12.0
          |  AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_sym AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 0.25
          |  AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) >= 0.3
          |  AND n_stop >= 1""".stripMargin),
      // Horizon dedup emits >=1 row per key (re-occurrences beyond the
      // horizon re-emit; in-horizon duplicates are dropped), and never a
      // key that doesn't exist — the deterministic cross-engine relation
      // is the DISTINCT key set.
      "ext_dedup_stream_bounded" ->
        "SELECT DISTINCT user_id, event_type FROM events",
      // Line-level dedup: the ldocs CTE mirrors lineDocs token-for-token
      // (8-token chunks, same planted footers); drop set = normalized
      // lines in >20 distinct docs; docs reassembled in line order.
      "ext_dedup_lines" ->
        """WITH ldocs AS (
          |  SELECT doc_id, concat(
          |    array_to_string(
          |      [array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')
          |       FOR i IN range(1, len(string_split(text, ' ')) + 1, 8)],
          |      chr(10)),
          |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END,
          |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'all rights reserved by the site' ELSE '' END) AS text
          |  FROM documents
          |), ls AS (
          |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
          |    generate_subscripts(string_split(text, chr(10)), 1) AS idx
          |  FROM ldocs
          |), hs AS (
          |  SELECT doc_id, idx, line, md5(lower(trim(line))) AS h FROM ls
          |), boiler AS (
          |  SELECT h FROM hs GROUP BY h HAVING count(DISTINCT doc_id) > 20
          |) SELECT doc_id,
          |  string_agg(line, chr(10) ORDER BY idx) AS clean_text,
          |  CAST(count(*) AS BIGINT) AS kept_lines
          |FROM hs WHERE h NOT IN (SELECT h FROM boiler)
          |GROUP BY doc_id""".stripMargin,
      "ext_dedup_simhash" ->
        s"""WITH toks AS (
           |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           |), tokh AS (
           |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS th FROM toks
           |), bits AS (
           |  SELECT doc_id, b.bit, sum(CASE WHEN (th >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
           |  FROM tokh, (SELECT unnest(range(16)) AS bit) b GROUP BY doc_id, b.bit
           |) SELECT doc_id, CAST(sum(CASE WHEN sgn > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
           |FROM bits GROUP BY doc_id""".stripMargin,
      // Perceptual profile-dHash recomputed bit-for-bit: the ASCII
      // corpus makes unicode(char) == utf-8 byte, segment-of-byte is
      // the closed form k*61 div n, levels floor-divide, bit j =
      // (level[j] < level[j+1]) << j, then the 4x15 banded pair join
      // and the bit_count(xor) verify — the exact Spark pipeline.
      "ext_dedup_images" ->
        s"""WITH $imagePhashCtes, bv AS (
          |  SELECT doc_id, phash, b,
          |    (phash >> CAST(15 * b AS INTEGER)) & 32767 AS v
          |  FROM (SELECT doc_id, phash,
          |          unnest(generate_series(0, 3)) AS b FROM hv)
          |), cand AS (
          |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
          |    x.phash AS h1, y.phash AS h2
          |  FROM bv x JOIN bv y
          |    ON y.b = x.b AND y.v = x.v AND x.doc_id < y.doc_id
          |)
          |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
          |FROM cand WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin,
      // The incremental twin: same hash chain, landed = the %3 base
      // slice, batch = the rest + variants; a batch doc drops when a
      // LANDED hash is within 3 bits (directionless — landed means
      // arrived earlier) or a smaller-id BATCH doc is. The banded
      // candidate join is recall-exact to Hamming 3 (pigeonhole), so
      // the oracle may verify pairwise directly.
      "ext_dedup_images_incremental" ->
        s"""WITH $imagePhashCtes, lhv AS (
          |  SELECT doc_id, phash FROM hv
          |  WHERE doc_id % 3 = 0 AND doc_id < 1000000
          |), bhv AS (
          |  SELECT doc_id, phash FROM hv
          |  WHERE NOT (doc_id % 3 = 0 AND doc_id < 1000000)
          |), dropl AS (
          |  SELECT DISTINCT b.doc_id FROM bhv b JOIN lhv l
          |    ON bit_count(xor(b.phash, l.phash)) <= 3
          |), dropw AS (
          |  SELECT DISTINCT y.doc_id FROM bhv x JOIN bhv y
          |    ON x.doc_id < y.doc_id
          |   AND bit_count(xor(x.phash, y.phash)) <= 3
          |)
          |SELECT b.doc_id, b.phash FROM bhv b
          |LEFT JOIN (SELECT doc_id FROM dropl
          |           UNION SELECT doc_id FROM dropw) d
          |  ON d.doc_id = b.doc_id
          |WHERE d.doc_id IS NULL""".stripMargin,
      "ext_dedup_ngram_jaccard" ->
        s"""WITH dt AS (
           |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           |), pair AS (
           |  SELECT a.doc_id AS id1, b.doc_id AS id2 FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
           |), inter AS (
           |  SELECT p.id1, p.id2, count(*) AS i FROM pair p
           |  JOIN dt x ON x.doc_id = p.id1 JOIN dt y ON y.doc_id = p.id2 AND y.tok = x.tok
           |  GROUP BY p.id1, p.id2
           |), sizes AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id)
           |SELECT p.id1, p.id2, CAST(coalesce(i.i, 0) AS BIGINT) AS intersection,
           |  CAST(s1.n + s2.n - coalesce(i.i, 0) AS BIGINT) AS union_size
           |FROM pair p JOIN sizes s1 ON s1.doc_id = p.id1 JOIN sizes s2 ON s2.doc_id = p.id2
           |LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2""".stripMargin,
      "ext_dedup_embedding" ->
        """SELECT a.vec_id AS id1, b.vec_id AS id2,
          |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.5 AS near_dup
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin,
      // The 60-bit md5 sampling coin, same formula as Corpus.sampleHash.
      "ext_stratified_sample" ->
        """WITH s AS (
          |  SELECT doc_id, lang,
          |    row_number() OVER (PARTITION BY lang ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn,
          |    count(*) OVER (PARTITION BY lang) AS n
          |  FROM documents
          |) SELECT doc_id, lang FROM s WHERE rn <= ceil(n * 0.2)""".stripMargin,
      // Threshold computed driver-side and interpolated as an exact
      // BIGINT literal: Scala's .toLong truncates, DuckDB's CAST rounds
      // — interpolation removes the engine-specific double->int step.
      "ext_sample_threshold" ->
        s"""SELECT doc_id, lang FROM documents
           |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < ${(0.25 * 1152921504606846976.0d).toLong}""".stripMargin,
      // KMV sketch recomputed exactly: same md5-60bit coin, same
      // k-smallest-distinct set, same single IEEE division
      "ext_approx_distinct" ->
        """WITH uh AS (
          |  SELECT DISTINCT event_type, CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv FROM events
          |), uk AS (
          |  SELECT event_type, count(*) AS n, max(hv) AS kth FROM (
          |    SELECT event_type, hv, row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM uh
          |  ) WHERE rn <= 64 GROUP BY 1
          |), eh AS (
          |  SELECT DISTINCT event_type, CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv FROM events
          |), ek AS (
          |  SELECT event_type, count(*) AS n, max(hv) AS kth FROM (
          |    SELECT event_type, hv, row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM eh
          |  ) WHERE rn <= 64 GROUP BY 1
          |)
          |SELECT uk.event_type AS event_type,
          |  CASE WHEN uk.n < 64 THEN CAST(uk.n AS DOUBLE) ELSE 63.0 * 1152921504606846976.0 / CAST(uk.kth AS DOUBLE) END AS est_users,
          |  CASE WHEN ek.n < 64 THEN CAST(ek.n AS DOUBLE) ELSE 63.0 * 1152921504606846976.0 / CAST(ek.kth AS DOUBLE) END AS est_events
          |FROM uk JOIN ek ON uk.event_type = ek.event_type""".stripMargin,
      "ext_pack_sequences" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS shard
          |  FROM documents WHERE text IS NOT NULL
          |), c AS (
          |  SELECT doc_id, shard, n_tokens,
          |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
          |  FROM t
          |)
          |SELECT doc_id, shard, CAST(tokens_before // 2048 AS BIGINT) AS bin, n_tokens FROM c""".stripMargin,
      // multimodal packing: the same cumsum binning with the combined
      // text + ViT-patch cost; stub dims reproduced from md5(text) as
      // in the ext_multimodal_features oracle, patch count by exact
      // integer ceiling division
      "ext_pack_multimodal" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS text_tokens,
          |    CAST(((CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 1024 + 15) // 16)
          |      * ((CAST(concat('0x', substr(md5(text), 5, 4)) AS BIGINT) % 1024 + 15) // 16) AS BIGINT) AS patch_tokens,
          |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS shard
          |  FROM documents WHERE text IS NOT NULL
          |), c AS (
          |  SELECT doc_id, shard, text_tokens, patch_tokens,
          |    text_tokens + patch_tokens AS n_tokens,
          |    coalesce(sum(text_tokens + patch_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
          |  FROM t
          |)
          |SELECT doc_id, shard, CAST(tokens_before // 8192 AS BIGINT) AS bin,
          |  CAST(n_tokens AS BIGINT) AS n_tokens, text_tokens, patch_tokens
          |FROM c""".stripMargin,

      "ext_sample_weighted" ->
        """SELECT doc_id, lang, n_chars FROM documents
          |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < n_chars * 1000000000000000""".stripMargin,
      // nearest-rank quantiles over the same md5 sample: rank arithmetic
      // (ceil(p*n)) is the only float op and is one IEEE multiply+ceil
      // in both engines; everything else is integer-exact
      "ext_quantile_sampled" ->
        s"""WITH s AS (
           |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
           |  FROM events
           |  WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) < ${(0.25 * 1152921504606846976.0d).toLong}
           |), r AS (
           |  SELECT event_type, c,
           |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
           |    count(*) OVER (PARTITION BY event_type) AS n
           |  FROM s
           |)
           |SELECT event_type, CAST(max(n) AS BIGINT) AS n_sample,
           |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN c END) AS p50,
           |  max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN c END) AS p95,
           |  max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN c END) AS p99
           |FROM r GROUP BY 1""".stripMargin,
      "ext_topk_per_group" ->
        """SELECT doc_id, lang, n_chars FROM (
          |  SELECT doc_id, lang, n_chars,
          |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
          |  FROM documents
          |) WHERE rk <= 20""".stripMargin,
      "ext_decontaminate" ->
        """WITH tok AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
          |), hn AS (
          |  SELECT DISTINCT array_to_string(list_slice(t, i, i + 2), ' ') AS ngram
          |  FROM (SELECT t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM tok WHERE doc_id % 100 = 7)
          |), cg AS (
          |  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS ngram
          |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM tok WHERE doc_id % 100 != 7)
          |), m AS (
          |  SELECT cg.doc_id, count(DISTINCT cg.ngram) AS n_matched
          |  FROM cg JOIN hn USING (ngram) GROUP BY cg.doc_id
          |) SELECT d.doc_id, CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
          |  coalesce(m.n_matched, 0) > 0 AS contaminated
          |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
          |WHERE d.doc_id % 100 != 7""".stripMargin,
      // The composed curation pass: the ext_dedup_cluster closure (over
      // the corpus half only), a 30-token quality gate, and the
      // ext_decontaminate trigram membership test, intersected.
      "ext_curation_pipeline" ->
        s"""WITH RECURSIVE docs2 AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 100 != 7
           |), pos AS (
           |  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i FROM docs2
           |), hashed AS (
           |  SELECT doc_id, ($minhashH0Sql) % 2147483647 AS h0 FROM pos
           |), sig AS (
           |  SELECT doc_id,
           |    min(xor(h0, 0)) AS m1,
           |    min(xor(h0, 25214903917)) AS m2,
           |    min(xor(h0, 173961102589770)) AS m3,
           |    min(xor(h0, 2685821657736338717)) AS m4
           |  FROM hashed GROUP BY doc_id
           |), bands AS (
           |  SELECT doc_id, concat('0_', CAST(m1 AS VARCHAR), '_', CAST(m2 AS VARCHAR)) AS band FROM sig
           |  UNION ALL SELECT doc_id, concat('1_', CAST(m3 AS VARCHAR), '_', CAST(m4 AS VARCHAR)) FROM sig
           |), prs AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
           |), sym AS (
           |  SELECT id1 AS u, id2 AS v FROM prs UNION SELECT id2, id1 FROM prs
           |), reach AS (
           |  SELECT u AS id, u AS r FROM sym
           |  UNION
           |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.id
           |), comp AS (
           |  SELECT id, min(r) AS component FROM reach GROUP BY id
           |), tok AS (
           |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
           |), hn AS (
           |  SELECT DISTINCT array_to_string(list_slice(t, i, i + 2), ' ') AS ngram
           |  FROM (SELECT t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM tok WHERE doc_id % 100 = 7)
           |), cg AS (
           |  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS ngram
           |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM tok WHERE doc_id % 100 != 7)
           |), m AS (
           |  SELECT cg.doc_id, count(DISTINCT cg.ngram) AS n_matched
           |  FROM cg JOIN hn USING (ngram) GROUP BY cg.doc_id
           |) SELECT d.doc_id, d.lang,
           |  CAST(length(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
           |FROM documents d
           |LEFT JOIN comp c ON c.id = d.doc_id
           |LEFT JOIN m ON m.doc_id = d.doc_id
           |WHERE d.doc_id % 100 != 7
           |  AND coalesce(c.component, d.doc_id) = d.doc_id
           |  AND length(string_split(d.text, ' ')) >= 30
           |  AND coalesce(m.n_matched, 0) = 0""".stripMargin,
      // IVF pruning (float assignment/probes, as annIvfSql) + int8
      // rescore: rank ORDER BY the quantized score instead of float
      // cosine. Null embeddings are excluded on BOTH sides up front
      // (the Spark variant filters candidates and queries identically).
      "ext_ann_ivf_quantized" ->
        s"""WITH nn0 AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
           |), cent AS (
           |  SELECT vec_id AS cid, embedding AS cemb FROM nn0 WHERE vec_id % ${graft.operators.Similarity.DefaultIvfStride} = 0
           |), assign AS (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cid) AS rn
           |  FROM nn0 e CROSS JOIN cent c
           |), lists AS (
           |  SELECT vec_id, embedding, cid FROM assign WHERE rn = 1
           |), qp AS (
           |  SELECT q.vec_id AS query_id, c.cid,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cid) AS rn
           |  FROM nn0 q CROSS JOIN cent c WHERE q.vec_id < 10
           |), probes AS (SELECT query_id, cid FROM qp WHERE rn <= ${graft.operators.Similarity.DefaultIvfProbes}),
           |mx AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS ma
           |  FROM nn0
           |), qv AS (
           |  SELECT vec_id,
           |    CASE WHEN ma = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
           |         ELSE list_transform(e, x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)) END AS q
           |  FROM mx
           |), nrm AS (
           |  SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nn FROM qv
           |) SELECT query_id, neighbor_id, rnk FROM (
           |  SELECT p.query_id, l.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY p.query_id ORDER BY
           |      CASE WHEN qa.nn * qb.nn = 0 THEN 0.0
           |           ELSE list_dot_product(CAST(qa.q AS DOUBLE[]), CAST(qb.q AS DOUBLE[])) / sqrt(CAST(qa.nn * qb.nn AS DOUBLE)) END DESC,
           |      l.vec_id) AS rnk
           |  FROM probes p JOIN lists l ON l.cid = p.cid AND l.vec_id != p.query_id
           |  JOIN nrm qa ON qa.vec_id = p.query_id
           |  JOIN nrm qb ON qb.vec_id = l.vec_id
           |) WHERE rnk <= $AnnIvfK""".stripMargin,
      // Adaptive geometry (same derivation as annIvfAdaptiveSql: n =
      // unfiltered count, √n lists capped, √lists probes) + the int8
      // rescore; cent/assign over non-null embeddings like the Spark
      // kernel path.
      "ext_ann_ivf_quantized_adaptive" -> {
        import graft.operators.Similarity.{DefaultIvfProbes, DefaultMaxIvfLists}
        s"""WITH p AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
           |), geo AS (
           |  SELECT n, greatest(1, CAST(ceil(CAST(n AS DOUBLE) / CAST(greatest(1, least(CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT), $DefaultMaxIvfLists)) AS DOUBLE)) AS BIGINT)) AS stride
           |  FROM p
           |), geo2 AS (
           |  SELECT stride, greatest($DefaultIvfProbes, CAST(ceil(sqrt(CAST((n + stride - 1) // stride AS DOUBLE))) AS BIGINT)) AS nprobe
           |  FROM geo
           |), nn0 AS (
           |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
           |), cent AS (
           |  SELECT vec_id AS cid, embedding AS cemb FROM nn0 WHERE vec_id % (SELECT stride FROM geo2) = 0
           |), assign AS (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |    row_number() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cid) AS rn
           |  FROM nn0 e CROSS JOIN cent c
           |), lists AS (
           |  SELECT vec_id, embedding, cid FROM assign WHERE rn = 1
           |), qp AS (
           |  SELECT q.vec_id AS query_id, c.cid,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.cemb AS DOUBLE[])) DESC, c.cid) AS rn
           |  FROM nn0 q CROSS JOIN cent c WHERE q.vec_id < 10
           |), probes AS (SELECT query_id, cid FROM qp WHERE rn <= (SELECT nprobe FROM geo2)),
           |mx AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS ma
           |  FROM nn0
           |), qv AS (
           |  SELECT vec_id,
           |    CASE WHEN ma = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
           |         ELSE list_transform(e, x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)) END AS q
           |  FROM mx
           |), nrm AS (
           |  SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nn FROM qv
           |) SELECT query_id, neighbor_id, rnk FROM (
           |  SELECT pr.query_id, l.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY pr.query_id ORDER BY
           |      CASE WHEN qa.nn * qb.nn = 0 THEN 0.0
           |           ELSE list_dot_product(CAST(qa.q AS DOUBLE[]), CAST(qb.q AS DOUBLE[])) / sqrt(CAST(qa.nn * qb.nn AS DOUBLE)) END DESC,
           |      l.vec_id) AS rnk
           |  FROM probes pr JOIN lists l ON l.cid = pr.cid AND l.vec_id != pr.query_id
           |  JOIN nrm qa ON qa.vec_id = pr.query_id
           |  JOIN nrm qb ON qb.vec_id = l.vec_id
           |) WHERE rnk <= $AnnIvfK""".stripMargin
      },
      // int8 quantization in SQL: identical floor(x*127/max|x| + 0.5)
      // form; integer dot/norms exact, one final double sqrt/divide.
      "ext_ann_quantized" ->
        """WITH base AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE embedding IS NOT NULL
          |), mx AS (
          |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS ma FROM base
          |), qv AS (
          |  SELECT vec_id,
          |    CASE WHEN ma = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
          |         ELSE list_transform(e, x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)) END AS q
          |  FROM mx
          |), nrm AS (
          |  SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nn FROM qv
          |) SELECT query_id, neighbor_id, rnk FROM (
          |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
          |      CASE WHEN a.nn * b.nn = 0 THEN 0.0
          |           ELSE list_dot_product(CAST(a.q AS DOUBLE[]), CAST(b.q AS DOUBLE[])) / sqrt(CAST(a.nn * b.nn AS DOUBLE)) END DESC,
          |      b.vec_id) AS rnk
          |  FROM nrm a JOIN nrm b ON b.vec_id != a.vec_id
          |  WHERE a.vec_id < 10
          |) WHERE rnk <= 5""".stripMargin,
      "ext_ann_bruteforce" ->
        """SELECT query_id, neighbor_id, rnk FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rnk
          |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
          |  WHERE q.vec_id < 10
          |) WHERE rnk <= 5""".stripMargin,
      "ext_ann_bucketed" -> annBucketedSql,
      "ext_ann_ivf" -> annIvfSql,
      "eng_ann_ivf" -> annIvfSql,
      "eng_ann_ivf_append" -> annIvfSql,
      "eng_ann_recall" -> annRecallSql,
      "eng_ann_recall_bucketed" -> annRecallBucketedSql,
      "ext_ann_ivf_adaptive" -> annIvfAdaptiveSql,
      "ext_lang_id" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok FROM documents
          |), scored AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |    CAST(sum(CASE WHEN tok IN ('der','die','das','und','zu','ist','nicht','ein') THEN 1 ELSE 0 END) AS BIGINT) AS de_hits,
          |    CAST(sum(CASE WHEN tok IN ('the','a','of','and','to','in','is','that') THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
          |    CAST(sum(CASE WHEN tok IN ('el','la','los','y','de','es','un','una') THEN 1 ELSE 0 END) AS BIGINT) AS es_hits,
          |    CAST(sum(CASE WHEN tok IN ('le','la','les','et','de','est','un','une') THEN 1 ELSE 0 END) AS BIGINT) AS fr_hits
          |  FROM toks GROUP BY doc_id
          |) SELECT doc_id, n_tokens, de_hits, en_hits, es_hits, fr_hits,
          |  CASE WHEN greatest(de_hits, en_hits, es_hits, fr_hits) = 0 THEN 'und'
          |       WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
          |       WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
          |       WHEN es_hits >= fr_hits THEN 'es'
          |       ELSE 'fr' END AS predicted_lang
          |FROM scored""".stripMargin,
      "ext_quality_score" ->
        """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          |  CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
          |  CAST(length(text) AS DOUBLE) / CAST(length(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
          |FROM documents""".stripMargin,
      "ext_repetition" ->
        """WITH toks AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
          |), grams AS (
          |  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS g
          |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)
          |), tri AS (
          |  SELECT doc_id, max(c) AS max_trigram_count
          |  FROM (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g) GROUP BY doc_id
          |), ts AS (
          |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
          |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id
          |) SELECT ts.doc_id, CAST(ts.n_tokens AS BIGINT) AS n_tokens,
          |  CAST(ts.n_distinct AS DOUBLE) / CAST(ts.n_tokens AS DOUBLE) AS distinct_ratio,
          |  CAST(coalesce(tri.max_trigram_count, 0) AS BIGINT) AS max_trigram_count
          |FROM ts LEFT JOIN tri ON tri.doc_id = ts.doc_id""".stripMargin,
      "ext_token_count" ->
        """SELECT doc_id,
          |  CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
          |  CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
          |FROM documents""".stripMargin,
      "ext_fingerprint" ->
        """SELECT doc_id,
          |  CAST(concat('0x', substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fingerprint
          |FROM documents""".stripMargin,
      // tf*N exact in int64, one IEEE divide — bit-reproducible scores;
      // Spark's split(' ') keeps empty strings so the filter matches
      "ext_tfidf" ->
        """WITH d AS (
          |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
          |), toks AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d
          |), tf AS (
          |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          |  FROM toks WHERE term != '' GROUP BY doc_id, term
          |), df AS (
          |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
          |), n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM d)
          |SELECT doc_id, term, tf, df, score, rnk FROM (
          |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
          |    CAST(tf.tf * (SELECT n FROM n) AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
          |    CAST(row_number() OVER (PARTITION BY tf.doc_id
          |      ORDER BY CAST(tf.tf * (SELECT n FROM n) AS DOUBLE) / CAST(df.df AS DOUBLE) DESC, tf.term ASC) AS BIGINT) AS rnk
          |  FROM tf JOIN df ON tf.term = df.term
          |) WHERE rnk <= 3""".stripMargin,
      // PII planting arithmetic mirrored exactly; the regexes use only
      // constructs Java regex and RE2 share (classes, bounded reps, \b)
      "ext_pii_scan" ->
        (plantedPiiCte + "\n" +
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(text, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
          |  CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
          |  CAST(length(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          |        '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
          |      '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')) AS BIGINT) AS n_chars_redacted
          |FROM planted""".stripMargin),
      // same planted fixture; the ordered replace fold IS the
      // semantics under test (email first, then IP, then phone)
      "ext_pii_redact" ->
        (plantedPiiCte + "\n" +
        """SELECT doc_id,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
          |    '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS text_redacted
          |FROM planted""".stripMargin),
      // every ratio = one IEEE divide of two exact int64 counts; the
      // stopword list interpolates from the SAME Scala value the
      // operator uses (one source of truth); occurrence count via
      // list_filter (distinct-intersection builtins differ across
      // engines on dedup order)
      "ext_quality_gate" ->
        (s"""WITH sig AS (
          |  SELECT doc_id,
          |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
          |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_chars,
          |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_sym,
          |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_distinct,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      x -> x IN (${graft.operators.TextAnalysis.DefaultStopwords
                 .map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS stopword_hits
          |  FROM documents WHERE text IS NOT NULL
          |), rat AS (
          |  SELECT doc_id, n_tokens,
          |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS mean_token_len,
          |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_sym AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS symbol_ratio,
          |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS distinct_ratio,
          |    stopword_hits
          |  FROM sig
          |) SELECT doc_id, n_tokens, mean_token_len, symbol_ratio,
          |  distinct_ratio, stopword_hits,
          |  CAST((n_tokens >= 10 AND n_tokens <= 100000
          |    AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
          |    AND symbol_ratio <= 0.25 AND distinct_ratio >= 0.3
          |    AND stopword_hits >= 1) AS BIGINT) AS passes
          |FROM rat""".stripMargin),
      // the rational-BM25 arithmetic mirrored term by term: idf and
      // tfpart are each ONE int64 ratio; the per-term products sum
      // left-to-right in the same fixed order as the Scala reduce
      "ext_bm25" -> {
        def termSql(i: Int): String =
          s"""CAST(2*st.n_docs - 2*st.df$i + 1 AS DOUBLE) / CAST(2*st.df$i + 1 AS DOUBLE)
             |    * (CAST(22*pd.tf$i*st.tt AS DOUBLE) / CAST(10*st.tt*pd.tf$i + 3*st.tt + 9*pd.dl*st.n_docs AS DOUBLE))""".stripMargin
        s"""WITH d AS (
          |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
          |), toks AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d
          |), pd AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
          |${bm25Terms.zipWithIndex.map { case (t, i) =>
              s"    CAST(sum(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
            }.mkString(",\n")}
          |  FROM toks WHERE term != '' GROUP BY doc_id
          |), st AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tt,
          |${bm25Terms.indices.map(i =>
              s"    CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
            ).mkString(",\n")}
          |  FROM pd
          |) SELECT doc_id, dl,
          |  ${bm25Terms.indices.map(termSql).mkString("\n  + ")} AS score
          |FROM pd, st
          |WHERE ${bm25Terms.indices.map(i => s"pd.tf$i").mkString(" + ")} > 0
          |ORDER BY score DESC, doc_id ASC
          |LIMIT 25""".stripMargin
      },

      // multi-query BM25: same rational arithmetic, each factor
      // floor-quantized (one correctly-rounded IEEE divide of int64
      // counts < 2^53, ×10^6, +0.5, floor) so the per-(query, doc)
      // term sum is EXACT int64 in any order; query table interpolated
      // from the same Scala value (one source of truth)
      "ext_bm25_multi" ->
        (s"""WITH $bm25MultiCtesSql
          |SELECT query_id, doc_id, dl, score_q,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS rnk
          |FROM agg QUALIFY rnk <= 10""".stripMargin),

      // assignment drift: nearest frozen centroid per batch vector
      // (split-trained kmeans chain), then exact per-cluster integer
      // aggregates over the batch slice
      "ext_semantic_drift" -> {
        val plantedCte =
          """pe AS (
            |  SELECT vec_id, embedding FROM embeddings
            |  UNION ALL SELECT vec_id + 1000000, embedding
            |  FROM embeddings WHERE vec_id % 50 = 0
            |),""".stripMargin
        val split = "(SELECT (max(vec_id) + 1) // 2 FROM embeddings)"
        s"""${kmeansCtesTrainAssign(plantedCte, "pe", s"vec_id < $split")},
          |km AS (
          |  SELECT vec_id, cid, d FROM (
          |    SELECT vec_id, cid, d,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d) WHERE rn = 1
          |)
          |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
          |  CAST(sum(d) AS BIGINT) AS inertia,
          |  CAST(max(d) AS BIGINT) AS max_d2
          |FROM km WHERE vec_id >= $split GROUP BY cid""".stripMargin
      },

      // query-vector hybrid: identical chain, but the probe set is the
      // literal query-vector ids (no anchor derivation) and fusion
      // joins ann directly on query_id = the query's own vec_id
      "ext_retrieve_hybrid_qvec" ->
        s"""${kmeansCtesOver(
             s"""$bm25MultiCtesSql, bm AS (
               |  SELECT query_id, doc_id,
               |    CAST(row_number() OVER (PARTITION BY query_id
               |      ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS rnk
               |  FROM agg QUALIFY rnk <= 10
               |),""".stripMargin, "embeddings")},
          |aprobes AS (
          |  SELECT vec_id AS anchor_id, cid FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d WHERE vec_id IN (1, 2, 3)) WHERE rn <= 2
          |), km AS (
          |  SELECT vec_id, cid FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d) WHERE rn = 1
          |), acand AS (
          |  SELECT p.anchor_id, l.vec_id AS neighbor_id
          |  FROM aprobes p JOIN km l
          |    ON l.cid = p.cid AND l.vec_id != p.anchor_id
          |), acd AS (
          |  SELECT anchor_id, neighbor_id,
          |    CAST(sum((qf - nf) * (qf - nf)) AS BIGINT) AS dd
          |  FROM (SELECT c.anchor_id, c.neighbor_id,
          |          unnest(q.fx) AS qf, unnest(n.fx) AS nf
          |        FROM acand c JOIN v q ON q.vec_id = c.anchor_id
          |                     JOIN v n ON n.vec_id = c.neighbor_id) z
          |  GROUP BY anchor_id, neighbor_id
          |), ann AS (
          |  SELECT anchor_id, neighbor_id, rnk FROM (
          |    SELECT anchor_id, neighbor_id,
          |      CAST(row_number() OVER (PARTITION BY anchor_id
          |        ORDER BY dd, neighbor_id) AS BIGINT) AS rnk
          |    FROM acd) WHERE rnk <= 10
          |), fused AS (
          |  SELECT query_id, doc_id,
          |    CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS score
          |  FROM (
          |    SELECT query_id, doc_id, rnk FROM bm
          |    UNION ALL
          |    SELECT anchor_id AS query_id, neighbor_id AS doc_id, rnk
          |    FROM ann
          |  ) GROUP BY query_id, doc_id
          |)
          |SELECT query_id, doc_id, score,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
          |FROM fused QUALIFY rnk <= 10""".stripMargin,

      // hybrid retrieval: the bm25-multi chain nested verbatim (top-10
      // lexical ranking `bm`, per-query top-1 anchors), the kmeans CTE
      // chain assigning the full corpus, the anchors' nprobe=2 IVF
      // neighbors, and pure-int64 RRF fusion `1000000 // (60 + rnk)` —
      // no float anywhere, so the fused ranking is hash-exact
      "ext_retrieve_hybrid" ->
        s"""${kmeansCtesOver(
             s"""$bm25MultiCtesSql, bm AS (
               |  SELECT query_id, doc_id,
               |    CAST(row_number() OVER (PARTITION BY query_id
               |      ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS rnk
               |  FROM agg QUALIFY rnk <= 10
               |), anchors AS (
               |  SELECT query_id, doc_id AS anchor_id FROM bm WHERE rnk = 1
               |),""".stripMargin, "embeddings")},
          |aprobes AS (
          |  SELECT vec_id AS anchor_id, cid FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d
          |    WHERE vec_id IN (SELECT anchor_id FROM anchors)) WHERE rn <= 2
          |), km AS (
          |  SELECT vec_id, cid FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d) WHERE rn = 1
          |), acand AS (
          |  SELECT p.anchor_id, l.vec_id AS neighbor_id
          |  FROM aprobes p JOIN km l
          |    ON l.cid = p.cid AND l.vec_id != p.anchor_id
          |), acd AS (
          |  SELECT anchor_id, neighbor_id,
          |    CAST(sum((qf - nf) * (qf - nf)) AS BIGINT) AS dd
          |  FROM (SELECT c.anchor_id, c.neighbor_id,
          |          unnest(q.fx) AS qf, unnest(n.fx) AS nf
          |        FROM acand c JOIN v q ON q.vec_id = c.anchor_id
          |                     JOIN v n ON n.vec_id = c.neighbor_id) z
          |  GROUP BY anchor_id, neighbor_id
          |), ann AS (
          |  SELECT anchor_id, neighbor_id, rnk FROM (
          |    SELECT anchor_id, neighbor_id,
          |      CAST(row_number() OVER (PARTITION BY anchor_id
          |        ORDER BY dd, neighbor_id) AS BIGINT) AS rnk
          |    FROM acd) WHERE rnk <= 10
          |), fused AS (
          |  SELECT query_id, doc_id,
          |    CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS score
          |  FROM (
          |    SELECT query_id, doc_id, rnk FROM bm
          |    UNION ALL
          |    SELECT a.query_id, n.neighbor_id AS doc_id, n.rnk
          |    FROM anchors a JOIN ann n ON n.anchor_id = a.anchor_id
          |  ) GROUP BY query_id, doc_id
          |)
          |SELECT query_id, doc_id, score,
          |  CAST(row_number() OVER (PARTITION BY query_id
          |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
          |FROM fused QUALIFY rnk <= 10""".stripMargin,

      // quantize + floor(sum/count): the Lloyd-update arithmetic —
      // exact int64 sums, one correctly-rounded IEEE divide per cell
      "ext_embed_pool" ->
        """WITH fx AS (
          |  SELECT label, unnest(list_transform(embedding,
          |      x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT))) AS v,
          |    unnest(range(0, len(embedding))) AS pos
          |  FROM embeddings WHERE embedding IS NOT NULL
          |) SELECT label AS grp, CAST(pos AS BIGINT) AS pos,
          |  CAST(floor(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS pooled_fx,
          |  CAST(count(*) AS BIGINT) AS n_vecs
          |FROM fx GROUP BY label, pos""".stripMargin,
      "ext_multimodal_features" ->
        """SELECT doc_id,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 1024 AS width,
          |  CAST(concat('0x', substr(md5(text), 5, 4)) AS BIGINT) % 1024 AS height,
          |  CAST(3 AS BIGINT) AS channels
          |FROM documents WHERE text IS NOT NULL""".stripMargin,
      // text payloads are never claimable images, so every row takes the
      // deterministic stub path: resized payload = utf8(md5(text||'_WxH'))
      // (32 ascii bytes), reported as its own md5 — both reproducible in
      // SQL, pinning the schema/batch contract the real decode drops into
      "ext_multimodal_resize" ->
        """SELECT doc_id,
          |  CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
          |  CAST(32 AS BIGINT) AS n_bytes_out,
          |  md5(md5(text || '_16x16')) AS resized_md5
          |FROM documents WHERE text IS NOT NULL""".stripMargin,
      // stub frame decode: ceil(bytes/256) pseudo-frames at 25 fps,
      // every 2nd sampled; frame hash = md5(md5(payload) || '#' || idx)
      "ext_multimodal_frames" ->
        """WITH f AS (
          |  SELECT doc_id, md5(text) AS base,
          |    unnest(range(0, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT), 2)) AS frame_idx
          |  FROM documents WHERE text IS NOT NULL
          |)
          |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
          |  CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
          |  md5(base || '#' || frame_idx) AS frame_md5
          |FROM f""".stripMargin,
      // text payloads never carry a WAV/AIFF magic, so every row takes
      // the audio stub: rate biased into [8000, 44100), 1-2 channels,
      // 8/16 bits, one pseudo-frame per byte — all md5-derived
      "ext_multimodal_audio" ->
        """SELECT doc_id,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  8000 + CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 36100 AS sample_rate,
          |  1 + CAST(concat('0x', substr(md5(text), 5, 4)) AS BIGINT) % 2 AS channels,
          |  8 * (1 + CAST(concat('0x', substr(md5(text), 9, 4)) AS BIGINT) % 2) AS bits_per_sample,
          |  CAST(octet_length(encode(text)) AS BIGINT) AS frames
          |FROM documents WHERE text IS NOT NULL""".stripMargin,
      // stream-stream interval join: inner join emission is complete
      // over a drained static source, so the oracle is the plain batch
      // interval join (both bounds inclusive)
      "ext_stream_join" ->
        """SELECT b.event_id AS buy_id, c.event_id AS click_id,
          |  b.user_id AS user_id, epoch_us(b.ts) AS buy_ts_us,
          |  epoch_us(c.ts) AS click_ts_us
          |FROM events b JOIN events c ON b.user_id = c.user_id
          |WHERE b.event_type = 'purchase' AND c.event_type = 'click'
          |  AND c.ts <= b.ts AND c.ts >= b.ts - INTERVAL 24 HOUR""".stripMargin,
      // streamed daily KMV estimates == the batch KMV formula per
      // UTC-epoch-aligned day window
      "ext_stream_kmv" ->
        """WITH uh AS (
          |  SELECT epoch_us(date_trunc('day', ts)) AS window_start_us,
          |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
          |  FROM events
          |), base AS (
          |  SELECT window_start_us, count(*) AS n_events FROM uh GROUP BY 1
          |), dk AS (
          |  SELECT window_start_us, count(*) AS n, max(hv) AS kth FROM (
          |    SELECT window_start_us, hv, row_number() OVER (PARTITION BY window_start_us ORDER BY hv) AS rn
          |    FROM (SELECT DISTINCT window_start_us, hv FROM uh)
          |  ) WHERE rn <= 64 GROUP BY 1
          |)
          |SELECT b.window_start_us AS window_start_us,
          |  CASE WHEN dk.n < 64 THEN CAST(dk.n AS DOUBLE) ELSE 63.0 * 1152921504606846976.0 / CAST(dk.kth AS DOUBLE) END AS est_users,
          |  CAST(b.n_events AS BIGINT) AS n_events
          |FROM base b JOIN dk ON b.window_start_us = dk.window_start_us""".stripMargin,
      // the salted STREAMING plan must produce the exact same pair set
      // as the unsalted streaming join (inner emission is complete over
      // a drained static source)
      "ext_stream_join_salted" ->
        """SELECT b.event_id AS buy_id, c.event_id AS click_id,
          |  b.user_id AS user_id, epoch_us(b.ts) AS buy_ts_us,
          |  epoch_us(c.ts) AS click_ts_us
          |FROM events b JOIN events c ON b.user_id = c.user_id
          |WHERE b.event_type = 'purchase' AND c.event_type = 'click'
          |  AND c.ts <= b.ts AND c.ts >= b.ts - INTERVAL 24 HOUR""".stripMargin,
      // the salted plan must produce the exact same pair set as the
      // unsalted interval join
      "ext_join_skew_bucketed" ->
        """SELECT b.event_id AS buy_id, c.event_id AS click_id,
          |  b.user_id AS user_id, epoch_us(b.ts) AS buy_ts_us,
          |  epoch_us(c.ts) AS click_ts_us
          |FROM events b JOIN events c ON b.user_id = c.user_id
          |WHERE b.event_type = 'purchase' AND c.event_type = 'click'
          |  AND c.ts <= b.ts AND c.ts >= b.ts - INTERVAL 24 HOUR""".stripMargin,
      // DuckDB's native ASOF LEFT JOIN is the oracle for the
      // carry-forward as-of operator. The right side is deduped to one
      // row per (user, µs) keeping the largest click_id first — ASOF
      // picks arbitrarily among exact duplicates, and the Spark side's
      // tie-break is pinned to largest-id, so the dedup makes both
      // engines deterministic AND equal.
      "ext_join_asof" -> joinAsofSql,
      // SQL-text front door, same oracle: one semantics, two doors
      "sql_join_asof" -> joinAsofSql,
      // the batch as-of oracle restricted to watermark-sealed purchases:
      // single-stream watermark over clicks+purchases, ms-floored, 1 h
      // lateness, cutoff `(wm_ms - 1) * 1000` — the same pin as
      // ext_stream_join_outer
      "ext_stream_asof" ->
        """WITH wm AS (
          |  SELECT epoch_us(max(ts)) // 1000 - 3600000 AS wm_ms
          |  FROM events WHERE event_type IN ('click', 'purchase')
          |), buys AS (
          |  SELECT event_id AS buy_id, user_id, epoch_us(ts) AS buy_ts_us
          |  FROM events, wm WHERE event_type = 'purchase'
          |    AND epoch_us(ts) <= (wm.wm_ms - 1) * 1000
          |), clicks AS (
          |  SELECT click_id, user_id, click_ts_us FROM (
          |    SELECT event_id AS click_id, user_id,
          |      epoch_us(ts) AS click_ts_us,
          |      row_number() OVER (PARTITION BY user_id, epoch_us(ts)
          |        ORDER BY event_id DESC) AS rn
          |    FROM events WHERE event_type = 'click') WHERE rn = 1
          |)
          |SELECT b.buy_id, b.user_id, b.buy_ts_us, c.click_id,
          |  c.click_ts_us
          |FROM buys b ASOF LEFT JOIN clicks c
          |  ON b.user_id = c.user_id AND b.buy_ts_us >= c.click_ts_us""".stripMargin,
      // unrolled 2-iteration Lloyd's in DuckDB: every step is integer
      // (fixed-point quantize, int squared-L2, floor(sum/count)
      // re-quantize), so this reproduces Clustering.kmeansAssign
      // exactly. Parallel unnest zips the two fixed-point lists
      // positionally; CASTs pin DuckDB's HUGEINT sums back to BIGINT.
      "ext_cluster_kmeans" -> clusterKmeansSql,
      // chunk math mirrored exactly: ws-token count, ceil-div chunk
      // count, clamped final range — all BIGINT
      "ext_chunk_documents" -> chunkDocumentsSql,
      // same math through the SQL-TEXT route (Spark SQL explode+sequence
      // over the pipeline view) — one semantics, two front doors
      "sql_chunk_documents" -> chunkDocumentsSql,
      // split thresholds interpolated as exact BIGINT literals (the
      // ext_sample_threshold pattern): 0.8 / 0.9 of 2^60
      "ext_split_assign" -> splitAssignSql,
      // SQL-text front door, same oracle: one semantics, two doors
      "sql_split_assign" -> splitAssignSql,
      "ext_corpus_stats" ->
        """SELECT lang,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS total_tokens,
          |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
          |  CAST(sum(n_chars) AS BIGINT) AS total_chars
          |FROM documents GROUP BY lang""".stripMargin,
      // per-group threshold floor(min/cnt * 2^60): exact int64 inputs
      // make the IEEE divide/multiply/floor identical cross-engine
      "ext_rebalance_langs" ->
        """WITH c AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt
          |  FROM documents GROUP BY lang
          |), m AS (SELECT min(cnt) AS mn FROM c)
          |SELECT d.doc_id, d.lang
          |FROM documents d JOIN c ON d.lang = c.lang, m
          |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |  < CAST(floor(CAST(m.mn AS DOUBLE) / cnt * 1152921504606846976.0) AS BIGINT)""".stripMargin,
      // cluster-mixture rebalance: the kmeans chain's final assignment
      // as the group key, then the identical rebalance coin rule
      "ext_rebalance_clusters" ->
        s"""$kmeansCtes,
          |km AS (
          |  SELECT vec_id, cid FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d) WHERE rn = 1
          |), cc AS (
          |  SELECT cid, CAST(count(*) AS BIGINT) AS cnt FROM km GROUP BY cid
          |), m AS (SELECT min(cnt) AS mn FROM cc)
          |SELECT k.vec_id AS doc_id, k.cid
          |FROM km k JOIN cc ON k.cid = cc.cid, m
          |WHERE CAST(concat('0x', substr(md5(CAST(k.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |  < CAST(floor(CAST(m.mn AS DOUBLE) / cnt * 1152921504606846976.0) AS BIGINT)""".stripMargin,

      "ext_ann_ivf_kmeans" -> annIvfKmeansSql,
      // the persisted-layout twins answer with the logical rows' SQL —
      // one semantics, stored vs recomputed index
      "eng_ann_ivf_persisted" -> annIvfKmeansSql,
      "eng_ann_ivf_persisted_append" -> annIvfKmeansAppendSql,
      "eng_ann_recall_persisted" -> annRecallKmeansSql,
      // retrained ≡ fresh full-corpus build — the cutover contract
      "eng_ann_ivf_retrained" -> annIvfKmeansSql,
      "eng_ann_recall_retrained" -> annRecallKmeansSql,
      "ext_ann_ivf_kmeans_adaptive" -> annIvfKmeansAdaptiveSql,
      "ext_ann_recall_kmeans" -> annRecallKmeansSql,
      "ext_ann_recall_kmeans_adaptive" -> annRecallKmeansAdaptiveSql,
      // the four stages' oracles chained as CTEs: rebalance thresholds,
      // min-id-per-md5 dedup, the 0.8*2^60 train coin, chunk math
      "ext_pipeline_prep" ->
        s"""WITH c AS (
           |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt
           |  FROM documents GROUP BY lang
           |), m AS (SELECT min(cnt) AS mn FROM c),
           |bal AS (
           |  SELECT d.doc_id, d.lang, d.text
           |  FROM documents d JOIN c ON d.lang = c.lang, m
           |  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           |    < CAST(floor(CAST(m.mn AS DOUBLE) / cnt * 1152921504606846976.0) AS BIGINT)
           |), keep AS (
           |  SELECT min(doc_id) AS doc_id FROM bal GROUP BY md5(text)
           |), train AS (
           |  SELECT b.doc_id, b.lang, b.text
           |  FROM bal b JOIN keep k ON b.doc_id = k.doc_id
           |  WHERE CAST(concat('0x', substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < ${(0.8 * 1152921504606846976.0d).toLong}
           |), t AS (
           |  SELECT doc_id, lang,
           |    CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n
           |  FROM train
           |), cc AS (
           |  SELECT doc_id, lang, n,
           |    CASE WHEN n <= 32 THEN 1
           |         ELSE 1 + (n - 32 + 23) // 24 END AS n_chunks
           |  FROM t
           |), e AS (
           |  SELECT doc_id, lang, n,
           |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
           |  FROM cc
           |)
           |SELECT doc_id, lang, chunk_idx, chunk_idx * 24 AS start_tok,
           |  least(chunk_idx * 24 + 32, n) AS end_tok
           |FROM e""".stripMargin,
      // the v1 chain with the quality-gate WHERE + redaction projection
      // prepended (signals and predicate mirror ext_quality_gate, the
      // redact fold mirrors ext_pii_redact — one semantics per stage);
      // every later stage reads the REDACTED text
      "ext_pipeline_prep_v2" ->
        (s"""WITH sigq AS (
           |  SELECT doc_id, lang, text,
           |    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens,
           |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_chars,
           |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_sym,
           |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_distinct,
           |    CAST(len(list_filter(string_split(text, ' '),
           |      x -> x IN (${graft.operators.TextAnalysis.DefaultStopwords
                  .map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS stopword_hits
           |  FROM documents WHERE text IS NOT NULL
           |), q AS (
           |  SELECT doc_id, lang,
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
           |        '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
           |      '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS text
           |  FROM sigq
           |  WHERE n_tokens >= 10 AND n_tokens <= 100000
           |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) >= 2.0
           |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 12.0
           |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_sym AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 0.25
           |    AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) >= 0.3
           |    AND stopword_hits >= 1
           |), c AS (
           |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt
           |  FROM q GROUP BY lang
           |), m AS (SELECT min(cnt) AS mn FROM c),
           |bal AS (
           |  SELECT d.doc_id, d.lang, d.text
           |  FROM q d JOIN c ON d.lang = c.lang, m
           |  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           |    < CAST(floor(CAST(m.mn AS DOUBLE) / cnt * 1152921504606846976.0) AS BIGINT)
           |), keep AS (
           |  SELECT min(doc_id) AS doc_id FROM bal GROUP BY md5(text)
           |), train AS (
           |  SELECT b.doc_id, b.lang, b.text
           |  FROM bal b JOIN keep k ON b.doc_id = k.doc_id
           |  WHERE CAST(concat('0x', substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < ${(0.8 * 1152921504606846976.0d).toLong}
           |), t AS (
           |  SELECT doc_id, lang,
           |    CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n
           |  FROM train
           |), cc AS (
           |  SELECT doc_id, lang, n,
           |    CASE WHEN n <= 32 THEN 1
           |         ELSE 1 + (n - 32 + 23) // 24 END AS n_chunks
           |  FROM t
           |), e AS (
           |  SELECT doc_id, lang, n,
           |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
           |  FROM cc
           |)
           |SELECT doc_id, lang, chunk_idx, chunk_idx * 24 AS start_tok,
           |  least(chunk_idx * 24 + 32, n) AS end_tok
           |FROM e""".stripMargin),
      // semantic dedup: the kmeans CTE chain retrained over the
      // PLANTED corpus (kmeansCtesOver), top-2 centroids pivoted to the
      // (c1, c2) bucket key, within-bucket integer distances, min-id
      // drop — every step exact int64, mirror of Clustering.semanticDedup
      "ext_dedup_semantic" -> {
        val plantedCte =
          """pe AS (
            |  SELECT vec_id, embedding FROM embeddings
            |  UNION ALL SELECT vec_id + 1000000, embedding
            |  FROM embeddings WHERE vec_id % 50 = 0
            |),""".stripMargin
        s"""${kmeansCtesOver(plantedCte, "pe")},
          |t2 AS (
          |  SELECT vec_id, cid, rn FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d) WHERE rn <= 2
          |), mem AS (
          |  SELECT vec_id,
          |    max(CASE WHEN rn = 1 THEN cid END) AS c1,
          |    COALESCE(max(CASE WHEN rn = 2 THEN cid END),
          |      max(CASE WHEN rn = 1 THEN cid END)) AS c2
          |  FROM t2 GROUP BY vec_id
          |), prs AS (
          |  SELECT a.vec_id AS id1, b.vec_id AS id2
          |  FROM mem a JOIN mem b
          |    ON a.c1 = b.c1 AND a.c2 = b.c2 AND a.vec_id < b.vec_id
          |), pd2 AS (
          |  SELECT id1, id2, CAST(sum((x1 - x2) * (x1 - x2)) AS BIGINT) AS d2
          |  FROM (
          |    SELECT p.id1, p.id2, unnest(va.fx) AS x1, unnest(vb.fx) AS x2
          |    FROM prs p JOIN v va ON va.vec_id = p.id1
          |                JOIN v vb ON vb.vec_id = p.id2
          |  ) GROUP BY id1, id2
          |), drops AS (
          |  SELECT DISTINCT id2 AS vec_id FROM pd2 WHERE d2 <= 1000
          |)
          |SELECT m.vec_id, m.c1 AS cid
          |FROM mem m LEFT JOIN drops d ON d.vec_id = m.vec_id
          |WHERE d.vec_id IS NULL""".stripMargin
      },

      // incremental semantic dedup: the SAME bucket/pair/min-id chain,
      // but kmeans trains ONLY on the landed id-prefix (the frozen
      // layout's training corpus) while assignment covers the full
      // planted corpus; with the landed set an id-PREFIX, "near any
      // landed vector" ≡ the one-shot smaller-id rule, so the batch's
      // survivors are the one-shot survivors at-or-above the boundary
      // Semantic dedup across a retrain: after the cutover + re-key
      // the state is EXACTLY "train on the full corpus, landed = the
      // id-prefix half" — one-shot in SQL, no centroid history left.
      // (The row self-checks the re-key: stale keys would hide the
      // landed membership and hash-mismatch this oracle.)
      "ext_dedup_semantic_retrained" -> {
        val split = "(SELECT (max(vec_id) + 1) // 2 FROM embeddings)"
        s"""${kmeansCtesTrainAssign("", "embeddings", "vec_id >= 0")},
          |t2 AS (
          |  SELECT vec_id, cid, rn FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d) WHERE rn <= 2
          |), mem AS (
          |  SELECT vec_id,
          |    max(CASE WHEN rn = 1 THEN cid END) AS c1,
          |    COALESCE(max(CASE WHEN rn = 2 THEN cid END),
          |      max(CASE WHEN rn = 1 THEN cid END)) AS c2
          |  FROM t2 GROUP BY vec_id
          |), prs AS (
          |  SELECT a.vec_id AS id1, b.vec_id AS id2
          |  FROM mem a JOIN mem b
          |    ON a.c1 = b.c1 AND a.c2 = b.c2 AND a.vec_id < b.vec_id
          |), pd2 AS (
          |  SELECT id1, id2, CAST(sum((x1 - x2) * (x1 - x2)) AS BIGINT) AS d2
          |  FROM (
          |    SELECT p.id1, p.id2, unnest(va.fx) AS x1, unnest(vb.fx) AS x2
          |    FROM prs p JOIN v va ON va.vec_id = p.id1
          |                JOIN v vb ON vb.vec_id = p.id2
          |  ) GROUP BY id1, id2
          |), drops AS (
          |  SELECT DISTINCT id2 AS vec_id FROM pd2 WHERE d2 <= 1000
          |)
          |SELECT m.vec_id, m.c1 AS cid
          |FROM mem m LEFT JOIN drops d ON d.vec_id = m.vec_id
          |WHERE d.vec_id IS NULL AND m.vec_id >= $split""".stripMargin
      },
      // STREAMING semantic dedup across a LIVE retrain: batch 0
      // ([split, b1lo)) dedups under the PREFIX-trained kmeans (the
      // v=0 layout), then the cutover retrains on the full natural
      // corpus and re-keys the store, and batch 1 ([b1lo, ∞) plus the
      // +10M planted copies) dedups under the FULL-corpus kmeans — two
      // independent suffixed CTE chains, one-shot smaller-id drop rule
      // per batch range (the landed set is always an id-prefix of the
      // batch, so "near any landed vector" ≡ the directional rule).
      "ext_dedup_stream_semantic_retrained" -> {
        val split = "(SELECT (max(vec_id) + 1) // 2 FROM embeddings)"
        val b1lo =
          "(SELECT 3 * ((max(vec_id) + 1) // 4) FROM embeddings)"
        def memChain(sfx: String) =
          s"""t2$sfx AS (
            |  SELECT vec_id, cid, rn FROM (
            |    SELECT vec_id, cid,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            |    FROM a2_d$sfx) WHERE rn <= 2
            |), mem$sfx AS (
            |  SELECT vec_id,
            |    max(CASE WHEN rn = 1 THEN cid END) AS c1,
            |    COALESCE(max(CASE WHEN rn = 2 THEN cid END),
            |      max(CASE WHEN rn = 1 THEN cid END)) AS c2
            |  FROM t2$sfx GROUP BY vec_id
            |), prs$sfx AS (
            |  SELECT a.vec_id AS id1, b.vec_id AS id2
            |  FROM mem$sfx a JOIN mem$sfx b
            |    ON a.c1 = b.c1 AND a.c2 = b.c2 AND a.vec_id < b.vec_id
            |), pd2$sfx AS (
            |  SELECT id1, id2, CAST(sum((x1 - x2) * (x1 - x2)) AS BIGINT) AS d2
            |  FROM (
            |    SELECT p.id1, p.id2, unnest(va.fx) AS x1, unnest(vb.fx) AS x2
            |    FROM prs$sfx p JOIN v$sfx va ON va.vec_id = p.id1
            |                JOIN v$sfx vb ON vb.vec_id = p.id2
            |  ) GROUP BY id1, id2
            |), drops$sfx AS (
            |  SELECT DISTINCT id2 AS vec_id FROM pd2$sfx WHERE d2 <= 1000
            |)""".stripMargin
        s"""WITH pe AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL SELECT vec_id + 10000000, embedding
          |  FROM embeddings WHERE vec_id % 50 = 0
          |),
          |${kmeansCteList("a", "pe", s"vec_id < $split")},
          |${kmeansCteList("b", "pe", "vec_id < 10000000")},
          |${memChain("a")},
          |${memChain("b")}
          |SELECT m.vec_id, m.c1 AS cid
          |FROM mema m LEFT JOIN dropsa d ON d.vec_id = m.vec_id
          |WHERE d.vec_id IS NULL
          |  AND m.vec_id >= $split AND m.vec_id < $b1lo
          |UNION ALL
          |SELECT m.vec_id, m.c1 AS cid
          |FROM memb m LEFT JOIN dropsb d ON d.vec_id = m.vec_id
          |WHERE d.vec_id IS NULL AND m.vec_id >= $b1lo""".stripMargin
      },
      "ext_dedup_semantic_incremental" -> {
        val plantedCte =
          """pe AS (
            |  SELECT vec_id, embedding FROM embeddings
            |  UNION ALL SELECT vec_id + 1000000, embedding
            |  FROM embeddings WHERE vec_id % 50 = 0
            |),""".stripMargin
        val split = "(SELECT (max(vec_id) + 1) // 2 FROM embeddings)"
        s"""${kmeansCtesTrainAssign(plantedCte, "pe", s"vec_id < $split")},
          |t2 AS (
          |  SELECT vec_id, cid, rn FROM (
          |    SELECT vec_id, cid,
          |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |    FROM a2_d) WHERE rn <= 2
          |), mem AS (
          |  SELECT vec_id,
          |    max(CASE WHEN rn = 1 THEN cid END) AS c1,
          |    COALESCE(max(CASE WHEN rn = 2 THEN cid END),
          |      max(CASE WHEN rn = 1 THEN cid END)) AS c2
          |  FROM t2 GROUP BY vec_id
          |), prs AS (
          |  SELECT a.vec_id AS id1, b.vec_id AS id2
          |  FROM mem a JOIN mem b
          |    ON a.c1 = b.c1 AND a.c2 = b.c2 AND a.vec_id < b.vec_id
          |), pd2 AS (
          |  SELECT id1, id2, CAST(sum((x1 - x2) * (x1 - x2)) AS BIGINT) AS d2
          |  FROM (
          |    SELECT p.id1, p.id2, unnest(va.fx) AS x1, unnest(vb.fx) AS x2
          |    FROM prs p JOIN v va ON va.vec_id = p.id1
          |                JOIN v vb ON vb.vec_id = p.id2
          |  ) GROUP BY id1, id2
          |), drops AS (
          |  SELECT DISTINCT id2 AS vec_id FROM pd2 WHERE d2 <= 1000
          |)
          |SELECT m.vec_id, m.c1 AS cid
          |FROM mem m LEFT JOIN drops d ON d.vec_id = m.vec_id
          |WHERE d.vec_id IS NULL AND m.vec_id >= $split""".stripMargin
      },

      // int64 sums of int distances — CAST pins DuckDB's HUGEINT back
      "ext_cluster_inertia" ->
        s"""WITH km AS (
           |$clusterKmeansSql
           |) SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
           |  CAST(sum(dist2) AS BIGINT) AS inertia
           |FROM km GROUP BY cid""".stripMargin,
      // per-cluster exact-quota sample over the k-means assignment
      // (diversity sampling): the kmeans oracle nested verbatim as a
      // CTE, then the stratified sampler's md5-order row_number
      "ext_sample_diverse" ->
        s"""WITH km AS (
           |$clusterKmeansSql
           |) SELECT vec_id, cid FROM (
           |  SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY cid ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS rn,
           |    count(*) OVER (PARTITION BY cid) AS n
           |  FROM km
           |) WHERE rn <= ceil(n * 0.2)""".stripMargin,
      // farthest-from-centroid top-5 per cluster (outlier candidates):
      // kmeans CTE + dist2-descending rank, vec_id tiebreak
      "ext_cluster_outliers" ->
        s"""WITH km AS (
           |$clusterKmeansSql
           |) SELECT vec_id, cid, dist2 FROM (
           |  SELECT vec_id, cid, dist2,
           |    row_number() OVER (PARTITION BY cid
           |      ORDER BY dist2 DESC, vec_id) AS rn
           |  FROM km
           |) WHERE rn <= 5""".stripMargin,
      // left-outer: matched pairs plus null-click rows for purchases at
      // or below the probe-pinned watermark cutoff (wm tracked in ms,
      // min across sides, state watermark 1 ms behind, µs compare)
      "ext_stream_join_outer" ->
        """WITH b AS (
          |  SELECT event_id AS buy_id, user_id, ts AS bts FROM events WHERE event_type = 'purchase'
          |), c AS (
          |  SELECT event_id AS click_id, user_id AS cu, ts AS cts FROM events WHERE event_type = 'click'
          |), wm AS (
          |  SELECT least((SELECT epoch_us(max(bts)) // 1000 FROM b),
          |               (SELECT epoch_us(max(cts)) // 1000 FROM c)) - 3600000 AS wm_ms
          |), m AS (
          |  SELECT b.buy_id, c.click_id, b.user_id,
          |    epoch_us(b.bts) AS buy_ts_us, epoch_us(c.cts) AS click_ts_us
          |  FROM b JOIN c ON b.user_id = c.cu
          |   AND c.cts <= b.bts AND c.cts >= b.bts - INTERVAL 24 HOUR
          |)
          |SELECT buy_id, click_id, user_id, buy_ts_us, click_ts_us FROM m
          |UNION ALL
          |SELECT b.buy_id, CAST(NULL AS BIGINT), b.user_id,
          |  epoch_us(b.bts), CAST(NULL AS BIGINT)
          |FROM b, wm
          |WHERE epoch_us(b.bts) <= (wm.wm_ms - 1) * 1000
          |  AND b.buy_id NOT IN (SELECT buy_id FROM m)""".stripMargin,
      "ext_stream_window" ->
        """SELECT epoch_us(date_trunc('hour', ts)) // 1000000 AS window_start_epoch,
          |  event_type, CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_sum
          |FROM events GROUP BY 1, 2""".stripMargin,
      // sliding 2h/1h windows: each event lands in the hour-aligned
      // window containing it and the one starting an hour earlier
      "ext_stream_window_sliding" ->
        """WITH e AS (
          |  SELECT epoch_us(date_trunc('hour', ts)) // 1000000 AS h, event_type, value FROM events
          |), w AS (
          |  SELECT h AS w_start, event_type, value FROM e
          |  UNION ALL
          |  SELECT h - 3600 AS w_start, event_type, value FROM e
          |)
          |SELECT w_start AS window_start_epoch, event_type,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_sum
          |FROM w GROUP BY 1, 2""".stripMargin,
      // native session_window semantics: a gap EQUAL to 30 min starts a
      // new session (>=), unlike ext_sessionize's strict >
      "ext_sessionize_native" ->
        """WITH ev AS (
          |  SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) * 1000 AS ts FROM events
          |), f AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= 1800000000000 THEN 1 ELSE 0 END AS ns
          |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
          |), s AS (
          |  SELECT user_id, ts,
          |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM f
          |)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          |  min(ts) AS session_start, max(ts) AS session_end
          |FROM s GROUP BY user_id, sid""".stripMargin,
      "ext_sessionize" ->
        """WITH ev AS (
          |  SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) * 1000 AS ts, CAST(event_id AS BIGINT) AS event_id FROM events
          |), f AS (
          |  SELECT user_id, ts, event_id,
          |    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > 1800000000000 THEN 1 ELSE 0 END AS ns
          |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), s AS (
          |  SELECT user_id, ts,
          |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          |  FROM f
          |) SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          |  CAST(count(*) AS BIGINT) AS n_events, min(ts) AS session_start, max(ts) AS session_end
          |FROM s GROUP BY user_id, session_id""".stripMargin,
      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty,
          |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price,
          |  CAST(count(*) AS BIGINT) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin,
      "q3_shipping_priority" ->
        """SELECT l_orderkey,
          |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY l_orderkey""".stripMargin
    )
    // the band-store path is semantics-identical to the legacy
    // incremental near-dup filter (one drop rule, two landed-side
    // layouts) — one oracle, three doors; the SQL-text front doors of
    // the round-16 text operators likewise reuse their oracles verbatim
    base +
      ("ext_dedup_incremental_store" ->
        base("ext_dedup_incremental_minhash")) +
      ("ext_dedup_incremental_exact_store" ->
        base("ext_dedup_incremental")) +
      ("sql_bm25" -> base("ext_bm25")) +
      ("sql_quality_gate" -> base("ext_quality_gate")) +
      ("sql_pii_redact" -> base("ext_pii_redact")) +
      // the staged variant materializes the gated front but computes
      // the IDENTICAL relation — one oracle, two execution shapes
      ("ext_pipeline_prep_staged" -> base("ext_pipeline_prep_v2")) +
      // the streaming semantic twin shares the batch incremental
      // row's oracle: multi-batch ≡ one-shot under all-seen landing
      ("ext_dedup_stream_semantic" ->
        base("ext_dedup_semantic_incremental")) +
      ("sql_pack_multimodal" -> base("ext_pack_multimodal")) +
      ("sql_tfidf" -> base("ext_tfidf")) +
      ("sql_lang_id" -> base("ext_lang_id")) +
      ("sql_repetition" -> base("ext_repetition")) +
      ("sql_simhash" -> base("ext_dedup_simhash")) +
      // the SQL fusion door computes the identical relation to the
      // Column-API hybrid row (same kernels, same int64 RRF)
      ("sql_retrieve_hybrid" -> base("ext_retrieve_hybrid")) +
      // the streaming perceptual twin lands the batch-incremental
      // row's survivor set (single-source micro-batches, all-seen
      // landing) — same oracle
      ("ext_dedup_stream_images" ->
        base("ext_dedup_images_incremental")) +
      // the SQL-text perceptual door computes the identical relation
      // through the registered graft_phash kernel
      ("sql_dedup_images" -> base("ext_dedup_images"))
  }
}
