package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over the embedding corpus, engineered so
  * every arithmetic step is CROSS-ENGINE EXACT — the whole iteration
  * runs on fixed-point integers, so the DuckDB oracle reproduces the
  * final assignment bit-for-bit and the result is hash-stable
  * run-over-run (no float-summation-order dependence anywhere):
  *
  *   - vectors quantize once to `floor(x * 1024 + 0.5)` int64
  *     components (float→double cast, one IEEE multiply, one add, one
  *     floor — each correctly rounded, hence identical in any engine);
  *   - distances are integer squared-L2 (exact, ≤ 2^28 here — no
  *     overflow, no rounding);
  *   - assignment ties break to the smallest centroid id;
  *   - the Lloyd update re-quantizes each new centroid with
  *     `floor(sum / count)`: sum and count are exact int64 (< 2^53, so
  *     the double division is correctly rounded and `floor` of it is
  *     deterministic); empty clusters keep their previous centroid.
  *
  * Spark shape, per iteration over n vectors / k centroids / d dims:
  *
  *   - ASSIGNMENT is a narrow projection — centroids travel to every
  *     task inside the native [[graft.functions.NearestCentroids]]
  *     kernel as ONE flat `long[k·d]` reference object
  *     (driver-collected, k = n/effectiveStride rows, HARD-CAPPED at
  *     `maxCentroids` — see [[effectiveStride]]): one tight codegen'd
  *     loop per row, zero per-centroid AST nodes, zero constant-pool
  *     pressure; ties break to the smallest centroid id inside the
  *     kernel.
  *   - UPDATE is `posexplode` → partial-aggregated `groupBy(cid, pos)`
  *     sums → a k·d-row shuffle (data-size-independent) → rebuild
  *     ordered arrays. Map-side combine means the exchange carries k·d
  *     longs per input partition, not n·d.
  *
  * At 100 TB this is the canonical broadcast-centroid k-means loop (the
  * same shape MLlib's KMeans uses): T full scans, T tiny shuffles, no
  * all-pairs materialization. Skew-proof by construction — the
  * assignment has no keyed shuffle at all.
  *
  * The reference (smoltable) has no clustering surface; this extends
  * the LLM-pipeline extension family (corpus organization, diversity
  * sampling, IVF list seeding).
  */
object Clustering {

  /** Fixed-point scale: 2^10. Embedding components are < 1 in absolute
    * value, so components land in (-1024, 1024) and a 64-dim squared
    * distance stays < 2^28 — integer-exact with 35 bits to spare. */
  val FxScale = 1024.0

  /** Hard cap on the learned centroid count. The centroid set is (a)
    * collected to the driver and (b) baked into the broadcast-literal
    * assignment expression, so k must stay bounded REGARDLESS of corpus
    * size — with the raw `stride` seeding, k = n/stride grows linearly
    * and the defaults become a driver OOM / constant-pool-busting
    * expression at real scale. 1024 centroids × 64 dims is ~65k
    * literals, comfortably inside codegen limits and a few MB on the
    * driver; anyone needing more lists should shard the corpus, not
    * widen this dial. */
  val MaxCentroidsDefault = 1024L

  /** The seeding stride that actually applies: `max(stride,
    * ceil(n / maxCentroids))` — pure int64 arithmetic (`(n + maxC - 1)
    * / maxC` is the exact ceiling), so an external oracle derives the
    * identical stride from the same corpus count. With vec_id dense
    * from 0, `vec_id % eff == 0` then yields `ceil(n / eff) ≤
    * maxCentroids` seeds. */
  def effectiveStride(n: Long, stride: Long, maxCentroids: Long): Long = {
    require(stride > 0 && maxCentroids > 0)
    math.max(stride, (n + maxCentroids - 1L) / maxCentroids)
  }

  /** `floor(x * 1024 + 0.5)` per component, as int64 — the one-pass
    * [[graft.functions.FixedPointQuantize]] kernel since r17 (the
    * `transform` lambda it replaced was interpreted per corpus row;
    * identical IEEE arithmetic, pinned by the ClusteringSpec
    * differential). */
  def quantize(emb: Column): Column =
    graft.functions.FixedPointQuantize(emb, FxScale)

  /** Integer squared-L2 between two fixed-point vectors (the pairwise
    * rescore path; the against-all-centroids path is the native
    * [[graft.functions.NearestCentroids]] kernel). Native
    * [[graft.functions.IntSquaredL2]] — bit-identical to the
    * `aggregate(zip_with((x-y)²))` fold it replaced (same fold order,
    * exact int64). */
  private def dist2(a: Column, b: Column): Column =
    graft.functions.IntSquaredL2(a, b)

  /** The `n` nearest centroids as `array<struct<d, cid>>`, ascending
    * `(d, cid)` — the native one-loop kernel (centroid matrix travels
    * as ONE flat reference object, not k·d literal AST nodes; see
    * [[graft.functions.NearestCentroids]] for the measured history vs
    * the composed-builtin fold it replaced). */
  private def nearestN(fx: Column, cents: Seq[(Long, Array[Long])],
      n: Int): Column =
    graft.functions.NearestCentroids(fx, cents, n)

  /** `(dist2, cid)` of the nearest centroid. */
  private def nearest(fx: Column, cents: Seq[(Long, Array[Long])]): Column =
    element_at(nearestN(fx, cents, 1), 1)

  /** One Lloyd update: per-cluster, per-dimension exact sums, then the
    * `floor(sum / count)` re-quantization. Returns the new centroid set
    * (driver-side, k rows), carrying forward centroids whose cluster
    * emptied. */
  private def update(fxDf: DataFrame,
      cents: Seq[(Long, Array[Long])]): Seq[(Long, Array[Long])] = {
    val dim = cents.head._2.length
    val assigned = fxDf.select(
      nearest(col("fx"), cents).getField("cid").as("cid"), col("fx"))
    val newCents = assigned
      .select(col("cid"), posexplode(col("fx")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("nv",
        floor(col("s").cast("double") / col("cnt")).cast("long"))
      .groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("nv")))),
        p => p.getField("nv")).as("cfx"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .toMap
    cents.map { case (cid, old) =>
      val nw = newCents.getOrElse(cid, old)
      require(nw.length == dim, s"centroid $cid dim ${nw.length} != $dim")
      cid -> nw
    }
  }

  /** Shared Lloyd's trainer: seeds from every [[effectiveStride]]-th
    * vec_id, then `iters` updates. The driver-side centroid set is
    * bounded by `maxCentroids` however large the corpus (one count
    * action over the — cached — fx frame derives the stride). */
  private def train(fxDf: DataFrame, stride: Long, iters: Int,
      maxCentroids: Long): Seq[(Long, Array[Long])] = {
    val eff = effectiveStride(fxDf.count(), stride, maxCentroids)
    val seeds = fxDf.filter(col("vec_id") % eff === 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1).toSeq
    require(seeds.nonEmpty, "no seed centroids: is vec_id dense from 0?")
    (0 until iters).foldLeft(seeds)((c, _) => update(fxDf, c))
  }

  /** Full pipeline: quantize, seed centroids from every
    * [[effectiveStride]]-th vec_id (the IVF trainer's deterministic
    * seeding, capped at `maxCentroids`), run `iters` Lloyd updates,
    * emit the final assignment `(vec_id, cid, dist2)` — all-integer
    * output, hash-exact.
    *
    * Caching contract: the fx cache lives only for the driver-side
    * training collects (count + seeds + T updates) and is released
    * before return — the RETURNED frame re-quantizes on each action
    * (deterministic, so correctness is unaffected). A caller fanning
    * the assignment out into several downstream actions should
    * `.cache()` the result before the fan-out. */
  def kmeansAssign(emb: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding", stride: Long = 100L,
      iters: Int = 2, maxCentroids: Long = MaxCentroidsDefault): DataFrame = {
    require(stride > 0 && iters >= 0)
    val fxDf = emb.select(col(idCol).as("vec_id"),
      quantize(col(embCol)).as("fx"))
    fxDf.cache()
    try {
      val best = nearest(col("fx"), train(fxDf, stride, iters, maxCentroids))
      fxDf.select(col("vec_id"), best.getField("cid").as("cid"),
        best.getField("d").as("dist2"))
    } finally fxDf.unpersist(blocking = false)
  }

  /** ANN over the LEARNED k-means layout, ALL-INTEGER: inverted lists
    * are the Lloyd clusters (vs the stride-seeded flat lists of
    * `Similarity.ivfTopK`), probe selection AND the rescore both rank
    * by fixed-point squared-L2 — so unlike the cosine ANN family,
    * every comparison this query makes is exact int64 and the top-k is
    * hash-stable with zero float-ordering sensitivity.
    *
    * Plan shape: training as in [[kmeansAssign]]; the list assignment
    * is the shuffle-free broadcast-literal projection; the tiny probe
    * table (numQueries × nprobe rows) BROADCASTS onto the lists, so
    * the corpus never shuffles for the candidate join — the only
    * exchange is the final per-query window over candidates (probed
    * lists only, ~nprobe/k of the corpus per query at scale).
    *
    * Caching contract (same as [[kmeansAssign]]): the fx cache covers
    * only the training collects; the RETURNED frame re-quantizes on
    * each action (both the lists and the probes branch) — cache the
    * result before fanning it out. */
  def ivfTopKKmeans(emb: DataFrame, nprobe: Int = 2, k: Int = 5,
      numQueries: Int = 10, stride: Long = 100L, iters: Int = 2,
      maxCentroids: Long = MaxCentroidsDefault): DataFrame = {
    require(nprobe > 0 && k > 0 && numQueries > 0)
    val fxDf = emb.select(col("vec_id"),
      quantize(col("embedding")).as("fx"))
    fxDf.cache()
    try {
      val cents = train(fxDf, stride, iters, maxCentroids)
      val lists = fxDf.select(col("vec_id"), col("fx"),
        nearest(col("fx"), cents).getField("cid").as("cid"))
      val probes = fxDf.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("fx").as("qfx"),
          explode(nearestN(col("fx"), cents, nprobe)).as("p"))
        .select(col("query_id"), col("qfx"),
          col("p").getField("cid").as("cid"))
      lists.join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("d", dist2(col("qfx"), col("fx")))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("d"), col("vec_id"))))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("rnk").cast("long").as("rnk"))
    } finally fxDf.unpersist(blocking = false)
  }

  /** [[ivfTopKKmeans]] with the adaptive family's probe rule:
    * `nprobe = ceil(√lists)` — the dial that keeps probe MASS
    * meaningful as the learned list count grows with the corpus
    * (a pinned nprobe=2 is 40% of 5 test-SF lists but 4% of 50 at
    * 10×; √lists holds ~√-proportional mass). The count → sqrt → ceil
    * arithmetic is a correctly-rounded IEEE chain on an exact integer,
    * so the oracle recomputes the identical nprobe in SQL. */
  def ivfTopKKmeansAdaptive(emb: DataFrame, k: Int = 5,
      numQueries: Int = 10, stride: Long = 100L, iters: Int = 2,
      maxCentroids: Long = MaxCentroidsDefault): DataFrame = {
    val eff = effectiveStride(emb.count(), stride, maxCentroids)
    val nLists = emb.filter(col("vec_id") % eff === 0).count()
    require(nLists > 0, "no seed centroids")
    // pass the already-capped stride down: effectiveStride is
    // idempotent (max(eff, ceil(n/maxC)) = eff), so training seeds
    // from exactly the nLists vectors counted above
    ivfTopKKmeans(emb,
      nprobe = math.ceil(math.sqrt(nLists.toDouble)).toInt,
      k = k, numQueries = numQueries, stride = eff, iters = iters,
      maxCentroids = maxCentroids)
  }

  /** Centroid sidecar of a [[writeKmeansIvfLayout]] directory: the
    * exact FIXED-POINT centroid matrix the layout was assigned with
    * (int64 components — no float round-trip question at all, unlike
    * the cosine family's double sidecar). */
  val KmeansCentroidsName = "_graft_kmeans_centroids"

  /** Persist the LEARNED k-means IVF layout: train as in
    * [[kmeansAssign]], then write `(vec_id, fx)` physically partitioned
    * by `cid=` — the Lloyd clusters as on-disk inverted lists — plus
    * the sharded layout manifest ([[Similarity.writeLayoutManifest]],
    * the same zero-listing probe-planning contract as the LSH and
    * stride-IVF layouts) and the fixed-point centroid sidecar.
    *
    * This is the 100 TB kmeans-ANN path: training + assignment run
    * ONCE at build (T bounded scans, k·d-row shuffles), and every
    * probe afterwards reads ONLY its probed `cid=` partitions off the
    * stored layout — [[ivfTopKKmeans]] re-trains and re-assigns the
    * whole corpus per query batch, which is the right shape for
    * exploratory one-shots but not for a serving index. Null
    * embeddings are dropped at build (they can never match a probe on
    * the logical path either — same result set). */
  def writeKmeansIvfLayout(emb: DataFrame, dir: String,
      stride: Long = 100L, iters: Int = 2,
      maxCentroids: Long = MaxCentroidsDefault): Unit = {
    val fxDf = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("fx"))
    fxDf.cache()
    try {
      val cents = train(fxDf, stride, iters, maxCentroids)
      // r22: assign/write from the SAME cached fx frame the trainer
      // just used — routing through the emb-shaped entry point here
      // re-read the source and re-ran the quantize kernel over the
      // whole corpus for a frame the cache already holds (one full
      // uncached pass per layout build/retrain, §5 reuse)
      writeKmeansIvfLayoutFrozenFx(fxDf, dir, cents)
    } finally fxDf.unpersist(blocking = false)
  }

  /** Assign-only layout build against an EXPLICIT (already-trained)
    * centroid set — [[writeKmeansIvfLayout]] minus the training loop.
    * This is also the differential anchor for the append path: a base
    * build plus [[appendKmeansIvfLayout]] batches must probe
    * identically to one frozen-centroid build over the union corpus
    * (same centroids in, same assignment kernel, same layout —
    * ClusteringSpec pins it). */
  private[graft] def writeKmeansIvfLayoutFrozen(emb: DataFrame,
      dir: String, cents: Seq[(Long, Array[Long])]): Unit =
    writeKmeansIvfLayoutFrozenFx(emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("fx")),
      dir, cents)

  /** [[writeKmeansIvfLayoutFrozen]] over an ALREADY-QUANTIZED
    * `(vec_id, fx)` frame — the trainer hands its cached fx frame
    * straight to the layout write (r22). */
  private def writeKmeansIvfLayoutFrozenFx(fxDf: DataFrame,
      dir: String, cents: Seq[(Long, Array[Long])]): Unit = {
    val frame = fxDf
      .select(col("vec_id"), col("fx"),
        nearest(col("fx"), cents).getField("cid").as("cid"))
    // writer parallelism = list count (r21, the store-append fix's
    // shape): an un-pinned dynamic-partition write from a few source
    // partitions makes each task open every cid= writer sequentially
    // (and insert a per-task sort); the pinned repartition + cid-led
    // local sort writes lists in parallel, one file per list per task
    frame.repartition(cents.size, col("cid"))
      .sortWithinPartitions("cid", "vec_id")
      .write.mode("overwrite").partitionBy("cid").parquet(dir)
    Similarity.writeLayoutManifest(dir,
      org.apache.spark.sql.types.StructType(
        frame.schema.fields.filterNot(_.name == "cid")))
    val lines = cents.map { case (cid, v) =>
      s"$cid\t${v.mkString(",")}"
    }
    val p = java.nio.file.Paths.get(dir, KmeansCentroidsName)
    val tmp = java.nio.file.Paths.get(dir, KmeansCentroidsName + ".tmp")
    java.nio.file.Files.write(tmp, lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Incrementally add vectors to a [[writeKmeansIvfLayout]] directory
    * (round 18 — the persisted twin of the LSH/stride-IVF append
    * contract): assignment runs against the FROZEN fixed-point centroid
    * sidecar, so appended vectors land in existing `cid=` partitions
    * and a probe of (build + appends) equals a probe of a one-shot
    * frozen-centroid build on the union corpus
    * ([[writeKmeansIvfLayoutFrozen]]; ClusteringSpec differential).
    * The commit is the shared stage-move-extend path
    * ([[Similarity.appendPartitioned]]): new files staged, moved into
    * the `cid=` dirs, then the sharded manifest extended — a probe
    * planning from the manifest never sees a half-landed append.
    * Re-centroiding after heavy drift is a rebuild, by design —
    * identical to every production IVF index. */
  def appendKmeansIvfLayout(emb: DataFrame, dir: String): Unit = {
    val cents = readKmeansCentroids(dir)
    val assigned = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("fx"))
      .select(col("vec_id"), col("fx"),
        nearest(col("fx"), cents).getField("cid").as("cid"))
    Similarity.appendPartitioned(assigned, dir, Seq("cid"))
  }

  private[graft] def readKmeansCentroids(dir: String): Seq[(Long, Array[Long])] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(dir, KmeansCentroidsName),
        java.nio.charset.StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(cid, vec) = line.split("\t", 2)
        (cid.toLong, vec.split(",").map(_.toLong))
      }
  }

  /** Driver-side replica of [[quantize]] for one collected embedding
    * row: `floor(double(x) * 1024 + 0.5)` — the same correctly-rounded
    * IEEE chain, so the local probe derivation is bit-exact with the
    * distributed kernel (pinned by the layout ≡ logical differential
    * in ClusteringSpec). */
  private def quantizeLocal(emb: Seq[Any]): Array[Long] =
    emb.map { x =>
      val d = x match {
        case f: Float => f.toDouble
        case dd: Double => dd
        case null => 0.0
        case other => throw new IllegalArgumentException(
          s"embedding element of type ${other.getClass}")
      }
      Math.floor(d * FxScale + 0.5).toLong
    }.toArray

  /** Probe a [[writeKmeansIvfLayout]] directory: centroids from the
    * fixed-point sidecar; the probe set derives DRIVER-SIDE from the
    * collected query batch through the very same
    * [[graft.functions.NearestCentroids.compute]] kernel the
    * distributed path runs (identical arithmetic, identical `(d, cid)`
    * tie-break); the candidate scan is planned from the committed
    * manifest with a static `cid IN (...)` partition filter — explain
    * shows `PartitionFilters: [cid IN (probed…)]` and only the probed
    * `cid=` directories are listed, read, or scanned. Results are
    * identical to [[ivfTopKKmeans]] on the same parameters. */
  def ivfTopKKmeansFromLayout(dir: String, queries: DataFrame,
      nprobe: Int = 2, k: Int = 5): DataFrame = {
    require(nprobe > 0 && k > 0)
    val spark = queries.sparkSession
    val cents = readKmeansCentroids(dir)
    val sorted = cents.sortBy(_._1)
    val dim = sorted.head._2.length
    val cids = sorted.map(_._1).toArray
    val flat = sorted.flatMap(_._2).toArray
    val probeRows = queries
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect().flatMap { r =>
        val fx = quantizeLocal(r.getSeq[Any](1))
        val top = graft.functions.NearestCentroids.compute(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            fx.map(x => x: Any)),
          cids, flat, dim, nprobe)
        (0 until top.numElements()).map { i =>
          val s = top.getStruct(i, 2)
          org.apache.spark.sql.Row(r.getLong(0), fx.toSeq, s.getLong(1))
        }
      }
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows.toSeq: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("qfx",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false),
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val probedCids = probeRows.map(_.getLong(2)).distinct.toSeq
    val pruned = Similarity.layoutFrame(spark, dir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.LongType))),
        probedDirs = Some(probedCids.map(c => s"cid=$c")))
      .filter(col("cid").isin(probedCids: _*))
    pruned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d", dist2(col("qfx"), col("fx")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("d"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Element-wise mean-pooled embedding per group, integer-exact — the
    * "one vector per document/label from many chunk vectors" step a
    * multimodal/RAG pipeline runs after chunk-level embedding (and the
    * same arithmetic that makes a k-means Lloyd update: fixed-point
    * quantize, exact int64 per-dimension sums, `floor(sum/count)`
    * re-quantize — every value cross-engine exact). Emits the pooled
    * vector EXPLODED as `(grp, pos, pooled_fx, n_vecs)` rows: scalar
    * int64 outputs hash-gate cleanly and downstream consumers regroup
    * with one `collect_list` when they want the array back.
    *
    * Shape at 100 TB: posexplode → ONE exchange on (grp, pos) with
    * map-side partial sums — dimension count multiplies rows, not
    * shuffle rounds; no window, no join, no collect. Exactness bound:
    * per-(group, dim) `sum(fx)` must stay under 2^53 for the IEEE
    * divide to be correctly rounded from an exact integer — fx
    * components are O(2^10), so safe to ~2^42 vectors per group
    * (trillions; far past any real group). */
  def meanPool(emb: DataFrame, groupCol: String = "label",
      embCol: String = "embedding"): DataFrame =
    emb.filter(col(embCol).isNotNull)
      .select(col(groupCol).as("grp"),
        posexplode(quantize(col(embCol))).as(Seq("pos", "v")))
      .groupBy(col("grp"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n_vecs"))
      .select(col("grp"), col("pos").cast("long").as("pos"),
        floor(col("s").cast("double") / col("n_vecs")).cast("long")
          .as("pooled_fx"),
        col("n_vecs"))

  /** Candidate-bucket cap for [[semanticPairs]] — the
    * [[Dedup.DefaultMaxBandSize]] argument applied to (c1, c2)
    * residual buckets: a bucket of B members yields B²/2 pairs, so one
    * degenerate mega-bucket (a corpus of one repeated embedding) would
    * go quadratic; buckets past the cap are dropped wholesale. Never
    * binds at test scale (spec-asserted). */
  val DefaultMaxBucketSize: Int = 100000

  /** SEMANTIC-DEDUP candidate pairs (SemDeDup shape, Abbas et al. 2023
    * §3, re-expressed integer-exact): cluster with the capped k-means,
    * then generate candidate pairs ONLY inside a cluster — and not
    * all-pairs within it either: the pair key is the TOP-2 nearest
    * centroid ids `(c1, c2)` (the residual sub-bucket — near-identical
    * vectors agree on both), so a cluster of B members splits into
    * ~k sub-buckets instead of B²/2 pairs. Pairs further than
    * `dist2Threshold` (fixed-point squared-L2, the all-integer kernel)
    * are discarded in the same pass.
    *
    * Output: `(id1, id2, cid, d2)` with `id1 < id2`, `cid` = shared
    * nearest centroid — NEVER a cross-cluster pair by construction.
    *
    * Plan shape at 100 TB: training is the bounded kmeans loop; the
    * self-join is hinted SORT-MERGE on `(c1, c2)` so exchange reuse
    * executes the quantize+assign pipeline once for both sides (the
    * [[Dedup.lshCandidates]] pattern); the per-pair distance is the
    * codegen'd [[graft.functions.IntSquaredL2]] kernel; buckets past
    * `maxBucketSize` drop wholesale (cap rides the join's own
    * shuffle+sort — no extra exchange). */
  def semanticPairs(emb: DataFrame, dist2Threshold: Long,
      stride: Long = 100L, iters: Int = 2,
      maxCentroids: Long = MaxCentroidsDefault,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    semanticPairsFrom(semanticMembers(emb, stride, iters, maxCentroids),
      dist2Threshold, maxBucketSize)

  private def semanticPairsFrom(members: DataFrame, dist2Threshold: Long,
      maxBucketSize: Int): DataFrame = {
    require(dist2Threshold >= 0 && maxBucketSize > 0)
    val capped =
      if (maxBucketSize == Int.MaxValue) members
      else members
        .withColumn("_bn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("c1"), col("c2"))))
        .filter(col("_bn") <= maxBucketSize).drop("_bn")
    val a = capped.select(col("vec_id").as("id1"), col("fx").as("fx1"),
      col("c1"), col("c2"))
    val b = capped.select(col("vec_id").as("id2"), col("fx").as("fx2"),
      col("c1"), col("c2"))
    a.hint("merge").join(b.hint("merge"), Seq("c1", "c2"))
      .filter(col("id1") < col("id2"))
      .withColumn("d2",
        graft.functions.IntSquaredL2(col("fx1"), col("fx2")))
      .filter(col("d2") <= dist2Threshold)
      .select(col("id1"), col("id2"), col("c1").as("cid"), col("d2"))
  }

  /** `(vec_id, fx, c1, c2)`: quantized vector + its two nearest
    * learned centroids (the semantic-dedup bucket key). Degenerate
    * single-centroid corpora fall back to `c2 = c1`. */
  private def semanticMembers(emb: DataFrame, stride: Long, iters: Int,
      maxCentroids: Long): DataFrame = {
    val fxDf = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("fx"))
    fxDf.cache()
    try {
      val cents = train(fxDf, stride, iters, maxCentroids)
      semanticMembersFrozen(fxDf, cents)
    } finally fxDf.unpersist(blocking = false)
  }

  /** [[semanticMembers]] against an EXPLICIT centroid set — the
    * frozen-centroid assignment a continuously-ingesting pipeline runs
    * (centroids from a persisted layout's sidecar, no retraining).
    * Input is the already-quantized `(vec_id, fx)` frame. */
  private def semanticMembersFrozen(fxDf: DataFrame,
      cents: Seq[(Long, Array[Long])]): DataFrame = {
    val top2 = nearestN(col("fx"), cents, 2)
    fxDf.select(col("vec_id"), col("fx"),
      element_at(top2, 1).getField("cid").as("c1"),
      coalesce(element_at(top2, 2).getField("cid"),
        element_at(top2, 1).getField("cid")).as("c2"))
  }

  /** SEMANTIC DEDUP proper: [[semanticPairs]] + the min-id keep rule —
    * any vector with a smaller-id near-duplicate in its `(c1, c2)`
    * bucket drops; survivors return with their cluster id. The
    * composition production pipelines run between embedding and
    * packing: exact dedup catches byte-copies, MinHash catches
    * lexical templates, THIS catches paraphrases the embedding folds
    * together. All-integer end to end — hash-exact under the oracle. */
  def semanticDedup(emb: DataFrame, dist2Threshold: Long,
      stride: Long = 100L, iters: Int = 2,
      maxCentroids: Long = MaxCentroidsDefault,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // members computed ONCE (training is the expensive half) and
    // shared by the pair branch and the survivor anti-join
    val members = semanticMembers(emb, stride, iters, maxCentroids)
    val dropIds = semanticPairsFrom(members, dist2Threshold,
        maxBucketSize)
      .select(col("id2").as("vec_id")).distinct()
    members.join(dropIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("c1").as("cid"))
  }

  /** [[semanticDedup]] against an EXPLICIT (frozen) centroid set — the
    * batch anchor the incremental path's differential compares against:
    * same bucket key, same pair rule, same min-id keep, but assignment
    * from given centroids instead of in-query training. */
  private[graft] def semanticDedupFrozen(emb: DataFrame,
      cents: Seq[(Long, Array[Long])], dist2Threshold: Long,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val fxDf = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("fx"))
    val members = semanticMembersFrozen(fxDf, cents)
    val dropIds = semanticPairsFrom(members, dist2Threshold,
        maxBucketSize)
      .select(col("id2").as("vec_id")).distinct()
    members.join(dropIds, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("c1").as("cid"))
  }

  /** INCREMENTAL semantic dedup (round 18 — the continuous-curation
    * shape the batch-only [[semanticDedup]] cannot run): a NEW batch of
    * embeddings is semantically deduplicated (a) within itself and (b)
    * against the LANDED corpus, without ever rescanning it. Centroids
    * come FROZEN from a persisted kmeans layout's sidecar
    * ([[writeKmeansIvfLayout]] — no retraining per batch); the landed
    * state is a [[BatchStore.Vectors]] store of `(bucket key, vec_id,
    * fx)` rows, so the membership+distance question touches only the
    * batch's own `(c1, c2)` buckets (partition filters + pushed
    * `In(ck)`, zero landed-side exchanges — the
    * [[BatchStore.prunedLookup]] tiers).
    *
    * Drop rule (the [[semanticDedup]] rule split across the landing
    * boundary): a batch doc drops when some landed vector in its bucket
    * is within `dist2Threshold`, or a smaller-id batch doc is. With
    * id-ordered batches and the ALL-SEEN landing contract (append the
    * full returned member set — semantic distance is not transitive,
    * so survivors-only landing re-admits chained near-dups; the
    * [[Dedup.incrementalMinhash]] argument), a batch split at any id
    * boundary composes to exactly the one-shot
    * [[semanticDedupFrozen]] survivor set (ClusteringSpec
    * differential).
    *
    * The bucket cap guards the candidate joins like
    * [[semanticPairs]]'s: buckets whose landed+batch size exceeds
    * `maxBucketSize` generate NO candidates (their batch docs survive
    * and still land). When the cap binds, incremental and one-shot may
    * diverge — the cap is a quadratic-join guard, not part of the
    * landing contract; it never binds at test scale.
    *
    * Returns `(survivors, newMembers)`: survivors as `(vec_id, cid)`
    * (cid = nearest frozen centroid), and the batch's FULL member set
    * `(ck, vec_id, fx)` for the caller to land via
    * `store.append(newMembers, tag)` AFTER committing survivors — the
    * order that keeps a replay from seeing the batch's own vectors as
    * landed (the store lookup is materialized, so the returned
    * survivors frame stays safe to consume lazily either way). */
  def incrementalSemanticWithStore(newEmb: DataFrame, layoutDir: String,
      store: BatchStore, dist2Threshold: Long,
      maxBucketSize: Int = DefaultMaxBucketSize,
      /** Exclude `batch=<tag>` from the landed lookup — a composed
        * streaming replay's pre-batch-state restore
        * ([[BatchStore.prunedLookup]]'s round-19 contract). */
      excludeTag: Option[String] = None)
      : (DataFrame, DataFrame) = {
    require(dist2Threshold >= 0 && maxBucketSize > 0)
    val cents = readKmeansCentroids(layoutDir)
    val fxDf = newEmb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("fx"))
    // members MATERIALIZED (eager localCheckpoint, batch-sized): the
    // frame feeds six plan branches (lookup keys, both bucket counts,
    // both candidate joins, the survivor anti-join, the landing set) —
    // lazy, each branch re-runs the quantize + nearest-centroids
    // kernels over the batch; checkpointed, assignment runs once
    val m = semanticMembersFrozen(fxDf, cents)
      .withColumn("ck", concat_ws("_", col("c1"), col("c2")))
      .localCheckpoint(true)
    val landed = store.landedAmong(m.select("ck"), excludeTag) // materialized
    // one cap rule over the UNION bucket size (landed + batch): an
    // over-cap bucket generates no candidates from either join.
    // ONE aggregate over the concatenated key streams (r22, §2.4) —
    // the two per-side counts + outer join it replaces cost two
    // exchanges and a join stage per consuming action for the same
    // per-ck total (landed is already restricted to the batch's cks,
    // so union count ≡ batch count + landed count, with absent landed
    // contributing the old coalesce(0)).
    val okBuckets = m.select(col("ck"))
      .unionAll(landed.select(col("ck")))
      .groupBy("ck").agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucketSize)
      .select("ck")
    val mOk = m.join(okBuckets, Seq("ck"), "left_semi")
    val dropVsLanded = mOk.select(col("ck"), col("vec_id"), col("fx"))
      .join(landed.join(okBuckets, Seq("ck"), "left_semi")
        .select(col("ck"), col("fx").as("lfx")), Seq("ck"))
      .filter(graft.functions.IntSquaredL2(col("fx"), col("lfx"))
        <= dist2Threshold)
      .select(col("vec_id"))
    val a = mOk.select(col("vec_id").as("id1"), col("fx").as("fx1"),
      col("ck"))
    val b = mOk.select(col("vec_id").as("id2"), col("fx").as("fx2"),
      col("ck"))
    val dropWithin = a.hint("merge").join(b.hint("merge"), Seq("ck"))
      .filter(col("id1") < col("id2"))
      .filter(graft.functions.IntSquaredL2(col("fx1"), col("fx2"))
        <= dist2Threshold)
      .select(col("id2").as("vec_id"))
    val drops = dropVsLanded.unionAll(dropWithin).distinct()
    val survivors = m.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("c1").as("cid"))
    val newMembers = m.select(col("ck"), col("vec_id"), col("fx"))
    (survivors, newMembers)
  }

  /** RE-KEY a landed [[BatchStore.Vectors]] store under a (new) layout's
    * centroids (round 19 — the missing half of the drift→retrain
    * story): the store's bucket key `ck = "c1_c2"` is a FUNCTION OF
    * THE CENTROIDS, so an [[IvfVersions]] cutover strands every landed
    * member under keys post-cutover lookups never probe — the corpus
    * membership would be silently invisible and every near-dup
    * re-admitted. This reads the landed `(vec_id, fx)` set once,
    * recomputes the top-2 assignment under `layoutDir`'s sidecar (the
    * same [[graft.functions.NearestCentroids]] kernel every lookup
    * uses), and commits the re-keyed member set as one crash-safe
    * rewrite ([[BatchStore.replaceAllWith]] — old keys live until the
    * new set is committed). Call it from the retrain hook:
    * {{{ onRetrain = _ => Clustering.rekeyStore(store, IvfVersions.currentDir(root)) }}}
    * Cost: one store scan + one k·d-row broadcast assignment + one
    * bucketed write — the same shape as a compaction pass, scheduled
    * at retrain cadence (hours), not batch cadence. Returns the dirs
    * folded away.
    *
    * The landed frame is derived UNDER the store's write lock
    * (round 20): planning it outside would pin the dir list before
    * the lock, and an append landing in that window (the advertised
    * deployment — the retrain task fires from the background workers
    * while the pipeline appends per batch) would have its dir deleted
    * while its rows are absent from the re-keyed set. Appends hold the read lock, so the
    * list-rekey-commit-delete span sees a frozen member set. */
  def rekeyStore(store: BatchStore, layoutDir: String): Int = {
    val cents = readKmeansCentroids(layoutDir)
    store.replaceAllWith { landedAll =>
      val landed = landedAll
        .select(col("vec_id"), col("fx")).dropDuplicates("vec_id")
      semanticMembersFrozen(landed, cents)
        .withColumn("ck", concat_ws("_", col("c1"), col("c2")))
        .select(col("ck"), col("vec_id"), col("fx"))
    }
  }

  /** The ATOMIC pointer-publish + re-key cutover for a store whose
    * bucket keys derive from a versioned layout's centroids (round 21 —
    * the r20 ADVICE race): pass as `cutover` to
    * [[IvfVersions.retrain]]/[[IvfVersions.driftRetrainTask]]. The
    * pointer swap and the [[rekeyStore]] rewrite run in ONE span of the
    * store's WRITE lock, so a micro-batch holding the store's read lock
    * across resolve→assign→append can never observe the new pointer
    * against the old keys (or vice versa). The store's write lock is
    * reentrant for the rewrite inside. */
  def rekeyStoreOnCutover(store: BatchStore,
      root: String): (Long, () => Unit) => Unit =
    (_, swap) => StoreState.withWrite(store.dir) {
      swap()
      rekeyStore(store, IvfVersions.currentDir(root))
      ()
    }

  /** ASSIGNMENT-DRIFT telemetry for a frozen-centroid layout (round
    * 18): per-cluster count / exact inertia / max squared distance of
    * a NEW batch assigned from the persisted sidecar — the signal that
    * tells a continuously-ingesting pipeline when the frozen centroids
    * have drifted from the data and the layout needs a re-train
    * (rising batch inertia against a static layout = drift;
    * [[ivfTopKKmeansFromLayout]]'s recall row gates quality at query
    * time, this gates it at INGEST time). All int64 — count, exact
    * distance sums, max — so the row is hash-exact under the oracle.
    * One narrow kernel pass + one k-row aggregate; no joins, no
    * corpus state touched. */
  def assignmentDrift(emb: DataFrame, layoutDir: String): DataFrame = {
    val cents = readKmeansCentroids(layoutDir)
    val fxDf = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("fx"))
    val best = nearest(col("fx"), cents)
    fxDf.select(best.getField("cid").as("cid"),
        best.getField("d").as("d2"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2")).as("inertia"),
        max(col("d2")).as("max_d2"))
  }

  /** Integer brute-force top-k (fixed-point L2, id tie-break) — the
    * exact reference the kmeans-IVF recall telemetry compares against.
    * Queries broadcast (numQueries rows); one pass over the corpus. */
  def bruteTopKInt(emb: DataFrame, numQueries: Int = 10,
      k: Int = 5): DataFrame = {
    val fxDf = emb.select(col("vec_id"),
      quantize(col("embedding")).as("fx"))
    val q = fxDf.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("fx").as("qfx"))
    fxDf.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("d", dist2(col("qfx"), col("fx")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("d"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk").cast("long").as("rnk"))
  }
}
