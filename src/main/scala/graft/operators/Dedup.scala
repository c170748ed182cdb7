package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document corpora.
  *
  * All hash functions are md5-derived (no JVM-specific hashing) so results
  * are reproducible across engines and languages — which is also what makes
  * them oracle-verifiable. Scale notes: every operator here is a
  * shuffle-on-key pipeline (group by doc / band / hash); nothing collects to
  * the driver, and candidate generation is band-bucketed so the quadratic
  * pair space is never materialized globally.
  */
object Dedup {

  /** 60-bit positive hash from md5 (portable across engines) — the
    * native digest-bytes kernel since r17 (the composed
    * `conv(substring(md5(c),1,15),16,10)` hex-formatted and re-parsed
    * per row; retained as [[composedMd5Hash60]] for the differential
    * spec). */
  def md5Hash60(c: Column): Column =
    graft.functions.Md5Hash60(c.cast("string"))

  /** The hex-format-and-reparse formulation [[md5Hash60]]'s kernel
    * replaced — retained ONLY as the differential-spec reference. */
  private[graft] def composedMd5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Exact dedup by content hash: one surviving doc id per distinct text,
    * plus the duplicate count. `groupBy(hash)` — a single shuffle on the
    * hash, no pairwise work.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** INCREMENTAL exact dedup — the continuous-ingest shape: a NEW batch
    * of documents deduplicated (a) within itself and (b) against the
    * fingerprint set of the corpus already landed. Returns `(doc_id, h)`
    * for the batch docs that survive both: per-hash min id within the
    * batch, then a LEFT ANTI join against the known hashes.
    *
    * Why this exists next to [[exact]]: re-running full-corpus dedup on
    * every ingest batch is O(corpus) per batch — at 100 TB that is the
    * difference between a pipeline that keeps up and one that falls a
    * day behind per day. The incremental form touches the batch plus a
    * FINGERPRINT table (one 16-byte md5 per corpus doc — ~0.02% of the
    * corpus bytes): the anti join shuffles on the hash, or broadcasts
    * the batch side when the batch is small (the common continuous-
    * ingest case — AQE picks it). The fingerprint table is exactly what
    * [[exact]] already emits (`h`), so corpus maintenance is: append
    * survivors' hashes after each batch — no rescan, ever. */
  def incrementalExact(newDocs: DataFrame, knownHashes: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      hashCol: String = "h"): DataFrame = {
    val batch = newDocs
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
    batch.join(knownHashes.select(col(hashCol).as("h")).distinct(),
        Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"))
  }

  /** [[incrementalExact]] against a [[BatchStore.Bands]] store holding
    * the landed CONTENT-HASH set — the layout is key-agnostic (it lands
    * membership strings; here the "band" is the doc's md5), so the
    * exact fingerprint table gets the same prunable layout as the
    * minhash band store: per-batch membership is the tiered pruned lookup
    * (pushed `In` + partition filters / broadcast semi-join — zero
    * landed-side exchanges) instead of a full scan + re-distinct of
    * the fingerprint table.
    *
    * Returns `(survivors, newHashes)`; `newHashes` is exactly the
    * SURVIVORS' hash set (unlike the minhash twin's all-seen contract,
    * an exact content hash IS transitive: a batch doc matching a
    * dropped doc's hash matches the kept doc's hash too, so
    * survivors-only landing composes — the same contract
    * [[incrementalExact]]'s maintenance doc states). The caller lands
    * `newHashes` via `store.append(newHashes, tag)` after committing
    * survivors. */
  def incrementalExactWithStore(newDocs: DataFrame, store: BatchStore,
      idCol: String = "doc_id", textCol: String = "text",
      /** Exclude `batch=<tag>` from the landed lookup — a composed
        * streaming replay's pre-batch-state restore
        * ([[BatchStore.prunedLookup]]'s round-19 contract). */
      excludeTag: Option[String] = None)
      : (DataFrame, DataFrame) = {
    // batch hashes MATERIALIZED once (r21, the minhash twin's
    // discipline): feeds the lookup (count + collect) and the survivor
    // anti-join — lazy, each action re-ran the md5 pass + aggregate
    val batch = newDocs
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .localCheckpoint(true)
    val known = store.landedAmong(batch.select(col("h").as("band")),
      excludeTag)
    val survivors = batch
      .join(known.select(col("band").as("h")), Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"))
    (survivors, survivors.select(col("h").as("band")))
  }

  /** INCREMENTAL near-dup dedup — [[incrementalExact]]'s continuous-
    * ingest shape applied to MinHash: a NEW batch is near-dup-filtered
    * (a) within itself and (b) against the LANDED signature table,
    * without ever rescanning the corpus. A batch doc is dropped when
    * any of its LSH bands matches a landed band, or matches a band of a
    * smaller-id doc in the same batch; survivors return with their
    * signatures `(doc_id, m1..mk)`.
    *
    * Maintenance contract (and why it differs from the exact twin):
    * append the FULL batch signature table after each batch —
    * `minhashSignatures(newDocs, ...)`, survivors and dropped alike —
    * not just the survivors. Band equality is NOT transitive the way an
    * exact content hash is: a doc that near-matches a DROPPED doc need
    * not share any band with whatever that doc matched, so a
    * survivors-only table would silently re-admit chained
    * near-duplicates, and batch-split composition would not equal the
    * one-shot run. With all-seen signatures landed, splitting a batch
    * at any id boundary composes exactly (the differential spec pins
    * this). Cost: one `k`-long row per doc ever seen — the same
    * fingerprint-table scale class as [[incrementalExact]].
    *
    * Plan shape at 100 TB: the signature kernel is the codegen'd
    * no-shuffle projection ([[minhashSignatures]]); band checks are
    * per-band AGGREGATES, not a self-join — `min(doc_id)` per batch
    * band + a semi-flag from the landed bands, joined back and
    * max-folded per doc. Nothing pairwise is ever materialized, so a
    * mega-cluster band costs one partial-aggregated group, not B²/2
    * pairs (the hot-band cap exists for the PAIR-emitting
    * [[lshCandidates]]; this path doesn't need it). */
  def incrementalMinhash(newDocs: DataFrame, knownSigs: DataFrame,
      shingleLen: Int = 8, seeds: Seq[Long] = DefaultSeeds,
      rowsPerBand: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val batchSigs = minhashSignatures(
      newDocs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      shingleLen, seeds)
    val bBands = bandRows(batchSigs, rowsPerBand)
    val kBands = bandRows(knownSigs, rowsPerBand)
      .select(col("band")).distinct().withColumn("known", lit(1))
    val bandStats = bBands.groupBy("band")
      .agg(min(col("doc_id")).as("min_id"))
      .join(kBands, Seq("band"), "left")
    val dropIds = bBands.join(bandStats, Seq("band"))
      .filter(col("known").isNotNull || col("min_id") < col("doc_id"))
      .select(col("doc_id")).distinct()
    batchSigs.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** [[incrementalMinhash]] against a [[BatchStore.Bands]] store — identical
    * semantics (same drop rule, same survivor signatures; pinned by an
    * OperatorsSpec differential), but the landed-side membership check
    * is the store's PRUNED lookup instead of a full scan + re-distinct
    * of the landed signature table. Per batch the landed side
    * contributes `PartitionFilters` + pushed-`In` row-group pruning and
    * ZERO exchanges ([[BatchStore]] doc) — per-batch cost tracks the
    * batch, not the corpus-ever-seen.
    *
    * Returns `(survivors, newBands)`: survivors with their signatures
    * (safe to consume lazily — the membership result is materialized
    * inside `landedAmong`, so a later store append cannot leak into this
    * plan), and the batch's NOT-yet-landed distinct bands, covering ALL
    * batch docs (the all-seen landing contract — see
    * [[incrementalMinhash]]'s doc for why survivors-only re-admits
    * chained near-dups). The CALLER lands `newBands` via
    * `store.append(newBands, tag)` AFTER committing survivors — that
    * order keeps a foreachBatch retry from seeing the batch's own bands
    * as landed and dropping everything. */
  def incrementalMinhashWithStore(newDocs: DataFrame, store: BatchStore,
      shingleLen: Int = 8, seeds: Seq[Long] = DefaultSeeds,
      rowsPerBand: Int = 2, idCol: String = "doc_id",
      textCol: String = "text",
      /** Exclude `batch=<tag>` from the landed lookup — a composed
        * streaming replay's pre-batch-state restore. */
      excludeTag: Option[String] = None): (DataFrame, DataFrame) = {
    // signatures MATERIALIZED once (r21 — the incrementalSemanticWithStore
    // members discipline applied to the minhash twin): the frame feeds
    // the band aggregate (whose lookup runs a count + a collect), the
    // drop join, and the survivor anti-join — lazy, each action re-ran
    // the signature kernel over the batch text
    val batchSigs = minhashSignatures(
      newDocs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      shingleLen, seeds).localCheckpoint(true)
    incrementalMinhashFromSigs(batchSigs, store, rowsPerBand, excludeTag)
  }

  /** [[incrementalMinhashWithStore]] starting from an already-
    * MATERIALIZED signature frame `(doc_id, m1..mk)` (r21): callers that
    * also LAND the batch's all-seen signature table (the streaming twin,
    * [[graft.streaming.StreamOps.incrementalMinhashToFiles]]) compute
    * the signature kernel once and share the frame between the dedup
    * and the landing — previously the landing re-ran the kernel over
    * the batch text. `batchSigs` must be materialized (checkpointed /
    * landed) or the lookup-then-append ordering contract is lost. */
  def incrementalMinhashFromSigs(batchSigs: DataFrame, store: BatchStore,
      rowsPerBand: Int = 2,
      excludeTag: Option[String] = None): (DataFrame, DataFrame) = {
    val bBands = bandRows(batchSigs, rowsPerBand)
    val bandStats = bBands.groupBy("band")
      .agg(min(col("doc_id")).as("min_id"))
    val known = store.landedAmong(bandStats.select("band"), excludeTag)
      .withColumn("known", lit(1))
    val stats2 = bandStats.join(known, Seq("band"), "left")
    val dropIds = bBands.join(stats2, Seq("band"))
      .filter(col("known").isNotNull || col("min_id") < col("doc_id"))
      .select(col("doc_id")).distinct()
    val survivors = batchSigs.join(dropIds, Seq("doc_id"), "left_anti")
    val newBands = bandStats.select("band")
      .join(known.select("band"), Seq("band"), "left_anti")
    (survivors, newBands)
  }

  /** Character shingles of length `n` (positions exploded). `dedup = false`
    * keeps duplicate (doc, shingle) pairs — harmless under idempotent
    * aggregates like `min`, and skips a full shuffle of the exploded rows.
    */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text", dedup: Boolean = true): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - (n - 1), lit(1)))).as("i"),
        col("text"))
      .select(col("doc_id"), expr(s"substring(text, i, $n)").as("sh"))
    if (dedup) exploded.distinct() else exploded
  }

  /** Polynomial base for the windowed shingle hash (see
    * [[minhashSignatures]]): `131^k mod (2^31 - 1)` for k = 0..n-1. ONE
    * definition, shared with the native expression
    * ([[graft.functions.MinHashSignature.hashPows]]) and the oracle-SQL
    * generator in [[graft.SparkEntry]] — pure 64-bit arithmetic, so the
    * identical formula runs in any ANSI SQL engine, which is what makes the
    * signatures oracle-verifiable WITHOUT paying an md5 per shingle (md5
    * over every shingle row measured ~7x the cost of the rest of the
    * minhash pipeline combined at sf0.1).
    */
  val HashP: Long = graft.functions.MinHashSignature.HashP
  def hashPows(n: Int): Seq[Long] =
    graft.functions.MinHashSignature.hashPows(n)

  /** MinHash signatures, one row per document: every `shingleLen`-char
    * window of `text` is hashed with the polynomial
    * `h(i) = (sum_j cp(i+j) * 131^(shingleLen-1-j)) mod (2^31 - 1)` over
    * character codes, `k` permutations are derived from that ONE hash via
    * XOR seeding (the standard k-permutations-from-one-hash trick), and
    * each permutation is min-folded per document. Output: doc_id, m1..mk.
    *
    * Plan shape (scale-critical): the whole fold runs inside
    * [[graft.functions.MinHashSignature]], a codegen'd Catalyst expression
    * — one narrow projection per document, NO explode, NO shuffle (the
    * composed-builtins history and why the expression wins by ~8x is
    * documented on that class). The per-seed signature columns are O(1)
    * `element_at` picks from the signature array; the expression's
    * value-based `equals` keeps Catalyst subexpression elimination
    * computing the array once across the k picks.
    *
    * Characters past end-of-string count as 0 (only reachable for docs
    * shorter than `shingleLen`, which hash their zero-padded prefix —
    * mirrored in the oracle SQL). Code points are per UTF-16 unit; parity
    * with SQL-engine `ascii(substr(...))` holds for BMP text.
    */
  def minhashSignatures(docs: DataFrame, shingleLen: Int, seeds: Seq[Long],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sig =
      graft.functions.MinHashSignature(col(textCol), shingleLen, seeds)
    val sigCols = seeds.indices.map { i =>
      element_at(col("_sig"), i + 1).as(s"m${i + 1}")
    }
    docs
      .select(col(idCol).as("doc_id"), sig.as("_sig"))
      .select(col("doc_id") +: sigCols: _*)
  }

  val DefaultSeeds: Seq[Long] =
    Seq(0L, 0x5deece66dL, 0x9e3779b97f4aL, 0x2545f4914f6cdd1dL)

  /** Buckets larger than this are skipped by [[lshCandidates]]: a band
    * shared by B docs yields B²/2 pairs, so one mega-duplicate cluster
    * (every copy shares EVERY band) would go quadratic. Clusters that big
    * are exact duplicates in practice and [[exact]] already catches them;
    * capping trades that sliver of recall for a hard bound of
    * `maxBandSize²/2` pairs per band. Never binds at test scale. */
  val DefaultMaxBandSize: Int = 100000

  def lshCandidates(signatures: DataFrame, rowsPerBand: Int): DataFrame =
    lshCandidates(signatures, rowsPerBand, DefaultMaxBandSize)

  /** Exploded (doc_id, band) rows — one band key per signature band. A
    * single explode over an array of band keys; a union of per-band selects
    * would re-execute the whole signature pipeline once per band.
    * Public because [[BatchStore]] and the streaming twin derive landed
    * band sets with the SAME banding (one definition of "band").
    */
  def bandRows(signatures: DataFrame, rowsPerBand: Int): DataFrame = {
    val sigCols = signatures.columns.filter(_.startsWith("m"))
    val bandExprs = sigCols.grouped(rowsPerBand).zipWithIndex.map {
      case (cols, bi) =>
        concat_ws("_", (lit(bi.toString) +: cols.toIndexedSeq.map(col)): _*)
    }.toSeq
    signatures.select(col("doc_id"),
      explode(array(bandExprs: _*)).as("band"))
  }

  /** LSH banding: signature columns grouped into bands of `rowsPerBand`;
    * docs sharing any band become candidate pairs (id1 < id2).
    *
    * Plan shape (scale-critical): the self-join is hinted SORT-MERGE so
    * BOTH sides carry an identical shuffle-on-`band` subplan — exchange
    * reuse then executes the shingle→hash→minhash pipeline ONCE and serves
    * both join sides from the same disk-backed, lineage-recoverable shuffle
    * files. No persist and no checkpoint: the returned frame is fully lazy,
    * leaves no cache entries behind on a long-lived server, and recomputes
    * from lineage on executor loss. (A broadcast self-join would NOT get
    * this reuse — the probe side has no exchange and re-executes the whole
    * upstream pipeline; measured 3.2s vs 0.8s at sf0.1.)
    *
    * Bands larger than `maxBandSize` are dropped wholesale (see
    * [[DefaultMaxBandSize]] for the rationale); that drop is silent here —
    * use [[droppedHotBands]] as the audit side-output to see exactly which
    * bands and how many docs the cap removed. The per-band count is a
    * window over the band partitioning, so it rides the join's own
    * shuffle+sort (no extra exchange — the sort-merge join needs the input
    * shuffled and sorted by `band` anyway); it is skipped entirely when
    * `maxBandSize == Int.MaxValue`.
    */
  def lshCandidates(signatures: DataFrame, rowsPerBand: Int,
      maxBandSize: Int): DataFrame = {
    val bands = bandRows(signatures, rowsPerBand)
    val capped =
      if (maxBandSize == Int.MaxValue) bands
      else bands
        .withColumn("_bn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("band")))
        .filter(col("_bn") <= maxBandSize).drop("_bn")
    val a = capped.as("a"); val b = capped.as("b")
    a.hint("merge").join(b.hint("merge"),
        col("a.band") === col("b.band") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** Audit side-output for the [[lshCandidates]] hot-band cap: the bands
    * that exceed `maxBandSize` with their row and distinct-doc counts.
    * Near-duplicate clusters larger than the cap (templated docs that are
    * NOT byte-identical, so [[exact]] misses them) surface here instead of
    * vanishing silently.
    */
  def droppedHotBands(signatures: DataFrame, rowsPerBand: Int,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    bandRows(signatures, rowsPerBand)
      .groupBy("band")
      .agg(count(lit(1)).as("band_rows"),
        count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("band_rows") > maxBandSize)

  /** Convenience: per-doc window-hash minhash → LSH candidate pairs.
    * Duplicate shingles within a doc are NOT removed first — `min` is
    * idempotent, so the result is identical without a distinct pass.
    */
  def minhashCandidates(docs: DataFrame, shingleLen: Int = 8,
      seeds: Seq[Long] = DefaultSeeds, rowsPerBand: Int = 2,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    lshCandidates(minhashSignatures(docs, shingleLen, seeds),
      rowsPerBand, maxBandSize)

  /** SimHash over distinct word tokens: per-bit majority vote of
    * md5-derived token hashes. `nBits` ≤ 60. Near-dup detection then
    * compares fingerprints by hamming distance ([[hammingDistance]]).
    *
    * SHUFFLE-FREE since r17: the whole fingerprint is per-document, so
    * the one-pass [[graft.functions.SimHashFingerprint]] kernel
    * replaced the corpus-wide `distinct()` + `groupBy(doc_id)`
    * exchanges (retained as [[composedSimhash]] for the differential
    * spec). Null-text docs filtered to match its explode-drop. */
  def simhash(docs: DataFrame, nBits: Int = 60, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.SimHashFingerprint(col(textCol), nBits)
          .as("simhash"))

  /** The explode + distinct + groupBy formulation [[simhash]]'s kernel
    * replaced — retained ONLY as the differential-spec reference. */
  private[operators] def composedSimhash(docs: DataFrame, nBits: Int = 60,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .distinct()
      .select(col("doc_id"), md5Hash60(col("tok")).as("th"))
    val votes = (0 until nBits).map { b =>
      sum(when(expr(s"shiftright(th, $b) & 1") === 1, 1).otherwise(-1))
        .as(s"_sgn$b")
    }
    val fingerprint = (0 until nBits).map { b =>
      when(col(s"_sgn$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint.cast("long").as("simhash"))
  }

  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Connected components over an undirected candidate-pair graph —
    * turns pairwise near-dup evidence ([[lshCandidates]], SimHash
    * hamming matches, embedding near-dup pairs) into CLUSTERS, so a
    * dedup pipeline can keep one canonical document per cluster instead
    * of only collapsing direct pairs (A~B, B~C must collapse A,B,C even
    * when A~C was never a candidate pair).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14) — each
    * round is two shuffle-on-node aggregations + joins, and the edge
    * set converges to stars `(component-min, node)` in O(log² n)
    * rounds REGARDLESS of component diameter. That bound is the scale
    * reason to prefer it over naive min-label propagation, whose round
    * count is the graph diameter (a 1M-doc chain of overlapping
    * template revisions would need 1M rounds; this needs ~20).
    *
    * Iteration discipline (scale-critical): each round's edge set is
    * checkpointed — reliably if `spark.sparkContext.setCheckpointDir`
    * is configured (the cluster deployment: lineage truncated AND
    * fault-tolerant), else `localCheckpoint` (executor-local blocks;
    * right for local mode) — so the plan does not grow by two
    * joins per round and convergence checks don't recompute the whole
    * history. Convergence = unchanged (count, hash-xor) fingerprint of
    * the distinct edge set, one tiny aggregate per round; at the true
    * fixpoint large∘small maps the edge set to itself, so equality is
    * exact (a premature stop would need a 64-bit hash-xor collision
    * between consecutive DIFFERENT edge sets).
    *
    * Input: `(id1, id2)` pairs (any orientation, self-pairs ignored).
    * Output: `(doc_id, component)` for every node that appears in a
    * pair, `component` = least doc_id in the node's component (roots
    * included, mapped to themselves). Nodes with no pairs don't appear
    * — left-join the corpus and `coalesce(component, doc_id)` for
    * total coverage.
    *
    * Strategy threshold (same pattern as the IVF assignment kernel): a
    * candidate-pair graph at or under `driverEdgeLimit` edges runs
    * union-find on the driver — one bounded collect, microseconds of
    * CPU, ZERO iterative jobs — because a dozen distributed rounds
    * over a graph that fits in one task is pure scheduler overhead.
    * Past the limit (the 100 TB regime: billions of pairs), the
    * alternating-star loop runs fully distributed. Both paths are
    * pinned identical by `ConnectedComponentsSpec`'s differential
    * test; the edge count that picks the path is one aggregate over
    * the already-checkpointed edge set.
    */
  def connectedComponents(pairs: DataFrame,
      maxIterations: Int = 50,
      driverEdgeLimit: Long = DefaultDriverEdgeLimit): DataFrame = {
    val spark = pairs.sparkSession

    // Canonical undirected edge set: (u < v), distinct, no self-loops.
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    // Large-star: per node u over BOTH edge directions, m = min(N(u) ∪
    // {u}); emit (m, v) for every strictly larger neighbor v.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      canon(sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v")))
    }

    // Small-star: orient (big, small); per big node, m = min smaller
    // neighbor; emit (m, big) and (m, v) for the other small neighbors.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(col("v").as("big"), col("u").as("small"))
      val mins = oriented.groupBy("big").agg(min(col("small")).as("m"))
      val joined = oriented.join(mins, "big")
      canon(
        joined.select(col("m").as("u"), col("small").as("v"))
          .unionAll(mins.select(col("m").as("u"), col("big").as("v"))))
    }

    def truncate(e: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined) e.checkpoint()
      else e.localCheckpoint()

    // bit_xor, not sum: order-independent over the DISTINCT edge set and
    // immune to ANSI-mode long overflow (xxhash64 spans the full range).
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = truncate(canon(
      pairs.select(col("id1").as("u"), col("id2").as("v"))))
    var fp = fingerprint(edges)
    if (fp._1 <= driverEdgeLimit) return driverUnionFind(spark, edges, fp._1)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      val next = truncate(smallStar(largeStar(edges)))
      val nfp = fingerprint(next)
      converged = nfp == fp
      edges = next; fp = nfp; iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIterations rounds " +
        "(expected O(log^2 n)); raise maxIterations")
    // Fixpoint edges are stars (u = component min, v = member).
    edges.select(col("v").as("doc_id"), col("u").as("component"))
      .unionAll(edges.select(col("u").as("doc_id"), col("u").as("component")))
      .distinct()
  }

  /** [[connectedComponents]] runs union-find driver-side at or below
    * this many candidate edges (~32 MB of (long, long) rows — well
    * under any driver heap; the collect is bounded by the count check
    * BEFORE it happens). */
  val DefaultDriverEdgeLimit: Long = 1000000L

  /** Driver union-find with path compression over a KNOWN-BOUNDED edge
    * set (`n` already counted ≤ the caller's limit). Labels are
    * re-rooted to the component MINIMUM so the output contract is
    * byte-identical to the star loop's. */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame, n: Long): DataFrame = {
    val collected = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    require(collected.length == n, // the checkpointed set the count saw
      s"edge set changed between count ($n) and collect (${collected.length})")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) {
        val next = parent.getOrElse(c, c); parent(c) = r; c = next
      }
      r
    }
    collected.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { // union by min root: labels converge to the min
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    val nodes = collected.iterator.flatMap(e => Iterator(e._1, e._2))
      .toArray.distinct
    import spark.implicits._
    nodes.map(x => (x, find(x))).toSeq.toDF("doc_id", "component")
  }

  /** Token-set Jaccard for candidate pairs `(id1, id2)`: integer
    * intersection/union counts (exact, no floating point). Used to verify
    * LSH candidates; the pair list bounds the work.
    */
  def jaccardCounts(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the per-doc DISTINCT token set, NARROW (r17): map keys of the
    // one-pass TermCounts kernel are the doc's distinct non-empty
    // tokens — the corpus-wide `explode(split).distinct()` exchange
    // this replaces also kept the EMPTY token wherever a doc's
    // space-split had an empty part (leading/trailing/consecutive
    // spaces or empty text), so that membership is re-added exactly;
    // null-text docs dropped as the explode dropped them. Doc set
    // sizes come from the same expressions with no groupBy.
    val kernel = graft.functions.TermCounts(col(textCol))
    val hasEmptyPart = col(textCol) === "" ||
      col(textCol).startsWith(" ") || col(textCol).endsWith(" ") ||
      col(textCol).contains("  ")
    val nonNull = docs.filter(col(textCol).isNotNull)
    val dt = nonNull.select(col(idCol).as("doc_id"),
      explode(array_union(map_keys(kernel),
        when(hasEmptyPart, array(lit("")))
          .otherwise(typedLit(Seq.empty[String])))).as("tok"))
    val x = dt.select(col("doc_id").as("id1"), col("tok"))
    val y = dt.select(col("doc_id").as("id2"), col("tok"))
    val inter = pairs.join(x, "id1").join(y, Seq("id2", "tok"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("intersection"))
    val sizes = nonNull.select(col(idCol).as("doc_id"),
      (size(map_keys(kernel)).cast("long") +
        when(hasEmptyPart, 1L).otherwise(0L)).as("n"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("n", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("n", "n2"), "id2")
      .join(inter, Seq("id1", "id2"), "left")
      .select(col("id1"), col("id2"),
        coalesce(col("intersection"), lit(0L)).as("intersection"),
        (col("n1") + col("n2") - coalesce(col("intersection"), lit(0L)))
          .as("union_size"))
  }

  /** Line-level dedup (the C4/RefinedWeb boilerplate-removal stage):
    * drop every LINE whose normalized form (`lower(trim(line))`) appears
    * in more than `maxDocFrequency` distinct documents — navigation
    * chrome, cookie banners, copyright footers — and reassemble each
    * document from its surviving lines in original order.
    *
    * Returns one row per document that keeps at least one line:
    * `(doc_id, clean_text, kept_lines)`. Documents made entirely of
    * boilerplate drop out — the standard curation behavior (a page that
    * is all chrome carries no content worth keeping).
    *
    * Scale shape: explode to (doc, idx, line), ONE groupBy on the line
    * hash to get document frequencies, then a left-anti join of the
    * lines against only the OVER-threshold hashes — that drop set is
    * tiny (boilerplate is by definition a small set of distinct lines,
    * however many copies exist), so AQE broadcasts it and the join adds
    * no shuffle of the line table. Reassembly is one groupBy on doc_id.
    * Never pairwise, never a driver collect; two shuffles of the line
    * table total (`h` for the DF aggregate, `doc_id` for reassembly).
    */
  def removeBoilerplateLines(docs: DataFrame, maxDocFrequency: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("h", md5(lower(trim(col("line")))))
    val boilerplate = lines.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") > maxDocFrequency)
    lines.join(boilerplate, Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("line")))),
            x => x.getField("line")),
          "\n").as("clean_text"),
        count(lit(1)).as("kept_lines"))
  }
}
