package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: deterministic
  * sampling (stratified exact-quota and shuffle-free threshold) and
  * test-set decontamination. Like the rest of the extension surface,
  * every randomized-looking choice is an md5-derived deterministic
  * function of the data, so results are reproducible run-over-run and
  * oracle-verifiable cross-engine.
  */
object Corpus {

  /** 60-bit md5 hash of a column's string form — the shared sampling
    * coin. One definition for both sampling variants so a doc's "coin"
    * is identical whichever sampler inspects it. */
  def sampleHash(c: Column): Column =
    Dedup.md5Hash60(c.cast("string"))

  /** EXACT-quota stratified sample: per stratum, keep
    * `ceil(fraction * stratum_size)` docs, chosen by ascending md5
    * hash (id tiebreak). Guarantees per-stratum proportions exactly —
    * the property threshold sampling trades away — at the cost of ONE
    * shuffle on the stratum key plus a per-stratum sort (the
    * `row_number`/`count` windows share a single window partitioning,
    * so Catalyst plans one exchange, two window functions).
    *
    * At 100 TB: the shuffle carries only (id, stratum) width (callers
    * re-join payload columns after selection); skewed strata (one
    * language is half the corpus) make the per-stratum sort the
    * bottleneck — that is when to switch to [[thresholdSample]], whose
    * quota is approximate but whose plan is a pure narrow filter.
    */
  def stratifiedSampleExact(df: DataFrame, strataCol: String,
      fraction: Double, idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
    val ordered = w.orderBy(sampleHash(col(idCol)), col(idCol))
    df.select(col(idCol), col(strataCol))
      .withColumn("_rn", row_number().over(ordered))
      .withColumn("_n", count(lit(1)).over(w))
      .filter(col("_rn") <= ceil(col("_n") * fraction))
      .select(col(idCol), col(strataCol))
  }

  /** Shuffle-FREE deterministic sample: keep a doc iff its 60-bit md5
    * coin falls under `fraction * 2^60`. No shuffle, no window, no
    * per-stratum state — a narrow filter that pushes into the scan and
    * scales to any corpus size with zero coordination; the quota is
    * approximate (binomial around `fraction`, exact in expectation per
    * stratum too since the coin is independent of any stratum column).
    * The production default at 100 TB; [[stratifiedSampleExact]] is
    * for when per-stratum counts must be exact.
    */
  def thresholdSample(df: DataFrame, fraction: Double,
      idCol: String = "doc_id"): DataFrame = {
    // 2^60 is IEEE-exact; the product rounds identically in any engine.
    val threshold = (fraction * 1152921504606846976.0d).toLong
    df.filter(sampleHash(col(idCol)) < threshold)
  }

  /** Word n-grams of `textCol` (space-tokenized), one row per position:
    * `(id, ngram)`. Docs shorter than `n` tokens yield no rows. */
  private[operators] def wordNgrams(df: DataFrame, n: Int, idCol: String,
      textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    df.select(col(idCol), toks.as("_t"))
      .select(col(idCol),
        explode(when(size(col("_t")) >= n,
            sequence(lit(1), size(col("_t")) - (n - 1)))
          .otherwise(array())).as("_i"),
        col("_t"))
      .select(col(idCol),
        concat_ws(" ", slice(col("_t"), col("_i"), lit(n))).as("ngram"))
  }

  /** [[decontaminate]] broadcasts the holdout n-gram set at or below
    * this many DISTINCT n-grams (~1M word trigrams ≈ tens of MB
    * serialized — comfortably shippable to every executor). Past it,
    * shipping the whole set everywhere costs more than shuffling the
    * corpus n-grams that might match, so the join degrades to a
    * shuffled hash join with the (still-smaller) holdout as the per-
    * partition build side. */
  val DefaultMaxBroadcastNgrams: Long = 1000000L

  /** Test-set decontamination: flag every corpus doc sharing at least
    * one word `n`-gram with the holdout set (the membership test that
    * keeps eval data out of training corpora). Output: one row per
    * corpus doc — `(id, n_matched, contaminated)` where `n_matched`
    * counts DISTINCT holdout n-grams found in the doc.
    *
    * Plan shape: the holdout's distinct n-gram set is BROADCAST (test
    * sets are MB-scale against a 100 TB corpus), so the TEXT column is
    * read in a single narrow pass — explode n-grams, hash-join against
    * the broadcast set, re-aggregate per doc. One shuffle (the per-doc
    * aggregate), nothing driver-side; the output left-join re-reads
    * only the id column (column-pruned scan).
    *
    * Strategy gate (the [[Dedup.connectedComponents]] pattern: COUNT
    * first, then pick): a holdout-only pre-count job runs at call time;
    * past `maxBroadcastNgrams` distinct n-grams the broadcast becomes a
    * shuffled HASH join (holdout as build side — it is the smaller
    * relation by contract even when too big to broadcast). The two
    * strategies are result-identical (spec differential); only the
    * exchange placement moves.
    */
  def decontaminate(corpus: DataFrame, holdout: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      maxBroadcastNgrams: Long = DefaultMaxBroadcastNgrams): DataFrame = {
    holdoutNgramSet(holdout, n, idCol, textCol, maxBroadcastNgrams) match {
      case Some(grams) =>
        // within the broadcast budget the set rides the NgramMatches
        // kernel as ONE reference object (the NearestCentroids
        // bounded-collect precedent — the strategy count just proved
        // the collect is bounded), and the membership test answers per
        // document in one pass: NO corpus n-gram explode, NO
        // groupBy(doc) exchange, no join — the whole operator is a
        // narrow projection over the corpus (strategy differential in
        // CorpusSpec pins kernel ≡ shuffled join)
        val matches = coalesce(
          graft.functions.NgramMatches(col(textCol), n, grams), lit(0L))
        corpus.select(col(idCol), matches.as("n_matched"),
          (matches > 0L).as("contaminated"))
      case None =>
        val holdoutNgrams = wordNgrams(holdout, n, idCol, textCol)
          .select(col("ngram")).distinct()
        val matched = wordNgrams(corpus, n, idCol, textCol)
          .join(holdoutNgrams.hint("shuffle_hash"), "ngram")
          .groupBy(col(idCol))
          .agg(count_distinct(col("ngram")).as("n_matched"))
        corpus.select(col(idCol))
          .join(matched, Seq(idCol), "left")
          .select(col(idCol),
            coalesce(col("n_matched"), lit(0L)).as("n_matched"),
            (coalesce(col("n_matched"), lit(0L)) > 0).as("contaminated"))
    }
  }

  /** The holdout's distinct word n-grams IF they fit the broadcast
    * budget (the eager count IS the strategy pick) — `None` means the
    * caller must take the shuffled-join path. Shared by
    * [[decontaminate]] and [[curate]] so both agree on the cutover. */
  private[operators] def holdoutNgramSet(holdout: DataFrame, n: Int,
      idCol: String, textCol: String,
      maxBroadcastNgrams: Long): Option[Array[String]] = {
    val holdoutNgrams = wordNgrams(holdout, n, idCol, textCol)
      .select(col("ngram")).distinct()
    if (holdoutNgrams.count() <= maxBroadcastNgrams)
      Some(holdoutNgrams.collect().map(_.getString(0)))
    else None
  }

  /** Keep the best `k` docs per group by a score column (ties broken by
    * id): "top-20 per source by quality" — the bounded-output curation
    * shape, complementing fraction-based sampling. Compiles to
    * `rank <= k` over a grouped window, which Spark turns into
    * `WindowGroupLimit` — each map task pre-truncates its partition to
    * k rows per group BEFORE the shuffle, so the exchange carries
    * O(groups × k) rows, not the corpus (asserted by the spec).
    */
  def topKPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      k: Int, idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** The whole curation pass as ONE composed query — what a user of
    * this library actually runs over a raw crawl: near-dup clustering
    * keeps one canonical doc per cluster ([[Dedup.connectedComponents]]
    * over minhash LSH pairs), a token-count quality gate drops
    * fragments, and [[decontaminate]] removes anything sharing a word
    * n-gram with the holdout. Output: `(doc_id, lang, n_tokens)` of
    * surviving docs.
    *
    * Every stage is itself scale-shaped (banded pair join, star-loop /
    * union-find CC, broadcast holdout), so the composition inherits the
    * parts' bounds; the per-doc gates commute, so the planner is free
    * to reorder the cheap narrow filters below the joins.
    *
    * The corpus parquet is scanned once per stage (pair generation,
    * keeper join, decontamination n-grams) — composed without caching,
    * correct at any size. One stage is NOT lazy: building the returned
    * frame already runs the [[Dedup.connectedComponents]] jobs
    * (checkpoint + convergence aggregates per round); the other stages
    * stay unevaluated until an action. At 100 TB, scans dominating the
    * joins is the signal to persist the post-quality projection
    * (`doc_id, lang, text`) once and feed the stages from it — a
    * caller-side `.persist`/write, deliberately not baked in here.
    */
  def curate(corpus: DataFrame, holdout: DataFrame, minTokens: Int = 30,
      ngramN: Int = 3): DataFrame = {
    val pairs = Dedup.minhashCandidates(
      corpus.select(col("doc_id"), col("text")))
    val comps = Dedup.connectedComponents(pairs)
    val keepers = corpus
      .join(comps, Seq("doc_id"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .drop("component")
    val qualified = keepers
      .withColumn("n_tokens",
        graft.functions.SplitCount(col("text"), bySpaceOnly = true))
      .filter(col("n_tokens") >= minTokens)
    // contamination as an INLINE kernel filter when the holdout fits
    // the broadcast budget: `qualified.join(decontaminate(qualified))`
    // re-planned the whole upstream (minhash candidates + the CC
    // rounds) on BOTH join sides — at 100x that doubled the pipeline's
    // dominant cost. Same cutover rule as [[decontaminate]]; oversized
    // holdouts keep the join-back shape.
    holdoutNgramSet(holdout.select(col("doc_id"), col("text")), ngramN,
        "doc_id", "text", DefaultMaxBroadcastNgrams) match {
      case Some(grams) =>
        val m = coalesce(
          graft.functions.NgramMatches(col("text"), ngramN, grams),
          lit(0L))
        qualified.filter(m === 0L)
          .select(col("doc_id"), col("lang"), col("n_tokens"))
      case None =>
        qualified
          .join(decontaminate(qualified, holdout, ngramN), Seq("doc_id"))
          .filter(!col("contaminated"))
          .select(col("doc_id"), col("lang"), col("n_tokens"))
    }
  }

  /** Deterministic approximate-distinct aggregate column: the bounded
    * K-minimum-values sketch ([[graft.functions.KmvDistinct]]) over the
    * shared md5 sampling coin — so, unlike `approx_count_distinct`
    * (HLL++), the estimate is a pure function of the data, reproducible
    * across runs, partitionings, and engines (the DuckDB oracle
    * recomputes it exactly). Use where a curation decision (sample
    * threshold, dedup budget, shard count) derives from a cardinality
    * and must be replayable. State is k longs per group per partial;
    * exact `COUNT(DISTINCT)` shuffles every distinct pair instead. */
  def kmvDistinct(value: Column, k: Int = 64): Column =
    org.apache.spark.sql.graft.GraftColumn(
      graft.functions.KmvDistinct(
        org.apache.spark.sql.graft.GraftColumn.expr(sampleHash(value)), k)
        .toAggregateExpression())

  /** Deterministic WEIGHTED sampling (inclusion probability ∝ weight):
    * keep a row iff `sampleHash(key) < weight * tauPerUnit` — the
    * threshold-sampling coin scaled per unit of weight, so a doc with
    * twice the tokens has twice the inclusion probability (capped at 1
    * when `weight * tauPerUnit ≥ 2^60`). Shuffle-free like
    * [[thresholdSample]] (the predicate rides the scan), deterministic
    * (same coin ⇒ same sample under any engine/partitioning), and
    * INTEGER-exact: the comparison is long < long. Overflow-safe by
    * construction: the weight is clamped to `Long.MaxValue /
    * tauPerUnit` BEFORE the multiply, so the product never wraps.
    * The clamp is semantics-preserving — a clamped product is still
    * ≥ 2^62 > 2^60 (the coin's exclusive upper bound), so any row the
    * clamp touches has P[keep] = 1, exactly what the unclamped math
    * would give. Without it, non-ANSI Spark wraps `weight * tau`
    * negative and silently DROPS the row while DuckDB raises — the
    * worst kind of cross-engine divergence (pinned by CorpusSpec's
    * huge-weight case).
    *
    * This is how a training-data pipeline samples proportional to
    * token count (compute-optimal mixing) while staying replayable:
    * rerunning the pipeline, or running it on a different cluster,
    * selects the exact same documents.
    */
  def weightedThresholdSample(df: DataFrame, idCol: String,
      weightCol: String, tauPerUnit: Long): DataFrame = {
    require(tauPerUnit > 0, s"tauPerUnit must be positive: $tauPerUnit")
    val maxSafeWeight = Long.MaxValue / tauPerUnit // ≥ 1; clamped product ∈ (2^62, 2^63)
    // clamp BOTH ends: a huge NEGATIVE weight would wrap `w * tau` just
    // like a huge positive one (possibly to a positive value ≥ 2^60,
    // silently KEEPING a row whose P[keep] should be 0). Floored at 0
    // the product is 0 and the coin (always ≥ 0) never passes — the
    // exact semantics any non-positive weight deserves. NULL weights
    // coalesce to 0 FIRST: least/greatest skip NULL operands, so an
    // uncoalesced NULL would resolve to maxSafeWeight and keep the row
    // with P~1 — the opposite of the non-positive-drops contract.
    df.filter(sampleHash(col(idCol)) <
      greatest(lit(0L),
        least(coalesce(col(weightCol).cast("long"), lit(0L)),
          lit(maxSafeWeight))) *
        lit(tauPerUnit))
  }

  /** Deterministic SEQUENCE PACKING: assign documents to fixed
    * token-budget bins — the step between token counting and batch
    * construction in a pretraining data pipeline.
    *
    * Definition (greedy contiguous): within a shard, documents are
    * taken in `idCol` order and a doc starts in bin
    * `floor(tokens_before_it / budget)` — so bins are contiguous runs,
    * a bin's payload never exceeds `budget + max single doc` tokens,
    * and the assignment is a pure function of (shard, order, token
    * counts): reproducible anywhere, DuckDB-oracle-exact
    * (`ext_pack_sequences`), and integer-only.
    *
    * Sharding is what makes it scale: a GLOBAL greedy pack is a global
    * sort + running sum (one reducer at 100 TB). Sharding by the md5
    * coin keeps bins deterministic while the cumsum window runs per
    * shard — one shuffle on `shard`, each task packing ~1/shards of the
    * corpus. Bins are per-shard (bin ids only unique within a shard) —
    * exactly how packed pretraining shards are laid out on disk.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      budgetTokens: Long, shards: Int = 32): DataFrame =
    packByCumsum(
      df.select(col(idCol), col(tokensCol).cast("long").as("n_tokens")),
      idCol, budgetTokens, shards, Seq.empty)

  /** The shared greedy-contiguous packer: md5-shard, per-shard id-order
    * running token sum, `bin = tokens_before div budget`. `carryCols`
    * ride through to the output (the multimodal packer's per-modality
    * decomposition). Input must already carry an exact long
    * `n_tokens`. */
  private def packByCumsum(df: DataFrame, idCol: String,
      budgetTokens: Long, shards: Int,
      carryCols: Seq[String]): DataFrame = {
    require(budgetTokens > 0 && shards > 0)
    val sharded = df
      .withColumn("shard", pmod(sampleHash(col(idCol)), lit(shards.toLong)))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    sharded
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr(s"tokens_before div $budgetTokens"))
      .select((Seq(col(idCol), col("shard"), col("bin"),
        col("n_tokens")) ++ carryCols.map(col)): _*)
  }

  /** MULTIMODAL sequence packing (round 18 — the interleaved
    * image+text budget a vision-language pretraining batch layout
    * needs): a document's budget cost is its whitespace text tokens
    * PLUS its image's ViT patch tokens `ceil(w/P) · ceil(h/P)`
    * (patch size `P`, the standard vision-transformer accounting — an
    * image enters the sequence as one token per patch), and the greedy
    * contiguous packer ([[packSequences]]) bins on the combined cost.
    * Output carries the per-modality decomposition
    * `(text_tokens, patch_tokens)` next to the packed `n_tokens` so a
    * loader can budget projector capacity per bin.
    *
    * Input: `(idCol, textTokensCol, widthCol, heightCol)` — dimensions
    * from the multimodal feature extraction
    * ([[Multimodal.extractFeatures]]); all arithmetic is exact int64
    * (ceiling division `(x + P - 1) div P`), so bins are
    * oracle-reproducible. Scale shape identical to [[packSequences]]:
    * one shuffle on the md5 shard, per-task cumsum, no collect. */
  def packMultimodal(df: DataFrame, idCol: String = "doc_id",
      textTokensCol: String = "text_tokens",
      widthCol: String = "width", heightCol: String = "height",
      patchSize: Int = 16, budgetTokens: Long = 8192L,
      shards: Int = 32): DataFrame = {
    require(patchSize > 0)
    val p = patchSize.toLong
    val patches =
      (expr(s"($widthCol + ${p - 1}) div $p") *
        expr(s"($heightCol + ${p - 1}) div $p")).cast("long")
    packByCumsum(
      df.select(col(idCol),
        col(textTokensCol).cast("long").as("text_tokens"),
        patches.as("patch_tokens"))
        .withColumn("n_tokens",
          col("text_tokens") + col("patch_tokens")),
      idCol, budgetTokens, shards, Seq("text_tokens", "patch_tokens"))
  }

  /** Deterministic sampled quantiles: nearest-rank percentiles of an
    * INTEGER-quantized metric over the md5 threshold sample.
    *
    * Two determinism choices make this oracle-exact cross-engine where
    * `percentile_approx`/t-digest (merge-order-dependent) and even exact
    * interpolated percentiles (engine-specific float formula) are not:
    *  - the sample is [[thresholdSample]]'s shuffle-free md5 coin, so
    *    every engine picks the SAME rows;
    *  - nearest-rank (`ceil(p·n)`-th smallest) of an integer-quantized
    *    value involves no floating arithmetic at all.
    *
    * 100 TB shape: the sample predicate rides the scan (no shuffle,
    * fraction × corpus rows survive), then ONE window sort per group
    * over sampled rows only. For heavy-tail telemetry (p95/p99 latency,
    * doc-length budgets) a 1–25% deterministic sample is the standard
    * accuracy/cost trade, and reproducibility makes the numbers
    * comparable run-over-run.
    *
    * `sampleKey` must be a unique row key (the sampling coin);
    * `valueCents` an integer-valued column (caller quantizes, e.g.
    * `round(value*100)`). Returns one row per group:
    * (group, n_sample, p50, p95, p99).
    */
  def sampledQuantiles(df: DataFrame, groupCol: String, sampleKey: Column,
      valueCents: Column, fraction: Double = 0.25): DataFrame = {
    val threshold = (fraction * (1L << 60).toDouble).toLong
    val sampled = df.filter(sampleHash(sampleKey) < threshold)
      .select(col(groupCol), valueCents.cast("long").as("c"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("c"))
    val ranked = sampled
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    def pick(p: Double, name: String) =
      max(when(col("rn") === ceil(lit(p) * col("n")).cast("long"),
        col("c"))).as(name)
    ranked.groupBy(col(groupCol))
      .agg(max(col("n")).as("n_sample"), pick(0.5, "p50"),
        pick(0.95, "p95"), pick(0.99, "p99"))
  }

  /** Deterministic sliding-window CHUNKING of documents into
    * token-range rows — the context-window preprocessing step of every
    * LLM training pipeline (long doc → overlapping `chunkTokens`-sized
    * pieces, stride = chunk − overlap). Emits
    * `(doc_id, chunk_idx, start_tok, end_tok)`: every doc yields at
    * least one chunk; every non-final chunk spans exactly `chunkTokens`
    * and overlaps the next by `overlap`; the final chunk clamps to the
    * doc's token count. Token counting is [[TextAnalysis.tokenCounts]]'
    * whitespace tokenizer, so the ranges line up with `ws_tokens`.
    *
    * Pure integer arithmetic over one narrow projection + `explode` —
    * shuffle-free, codegen'd, hash-exact cross-engine. At 100 TB the
    * output is input-row-bounded × (doc length / stride); no state, no
    * exchange, nothing to skew.
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 512,
      overlap: Int = 64, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap,
      s"need chunk > overlap >= 0: chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val n =
      graft.functions.SplitCount(trim(col(textCol)), bySpaceOnly = false)
    val nChunks = when(col("_n") <= chunkTokens, lit(1L)).otherwise(
      lit(1L) + expr(s"(_n - $chunkTokens + ${stride - 1}) div $stride"))
    docs.select(col(idCol).as("doc_id"), n.as("_n"))
      .select(col("doc_id"), col("_n"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(col("chunk_idx") * stride + chunkTokens, col("_n"))
          .as("end_tok"))
  }

  /** Deterministic corpus REBALANCING: downsample every group to the
    * smallest group's expected size (the data-mixing step that turns a
    * crawl's natural language skew into a uniform training mix).
    * P[keep] = min_count / group_count via the shared md5 coin against
    * a per-group threshold `floor(min/cnt * 2^60)` — computed with
    * exact int64 inputs (< 2^53), so the IEEE divide/multiply/floor
    * sequence is identical in any engine and the kept set is
    * reproducible cross-engine. The smallest group's threshold is
    * exactly 2^60, which every 60-bit coin is below — it survives
    * INTACT, not approximately.
    *
    * Plan shape: one tiny `groupBy(group)` aggregate, its 1-row min,
    * both BROADCAST back onto the corpus, then a narrow filter — the
    * corpus itself never shuffles, so the op scales as a scan whatever
    * the group skew (the 218-vs-64 English skew in the test corpus is
    * exactly the shape this exists for). Fully lazy: no driver action
    * builds the returned frame.
    */
  def rebalanceGroups(docs: DataFrame, groupCol: String = "lang",
      idCol: String = "doc_id"): DataFrame = {
    // `_min` via a global window OVER the counts frame (|groups| rows,
    // one tiny exchange) instead of `counts.agg(min)` — a separate agg
    // frame re-plans the whole counts subtree, so the corpus (and any
    // upstream per-doc work, e.g. prepPipelineV2's quality gate) was
    // scanned a third time just to reduce |groups| rows to one
    val counts = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_min", min(col("_cnt")).over(Window.partitionBy()))
    val thr = floor(col("_min").cast("double") / col("_cnt")
      * lit(1152921504606846976.0d)).cast("long")
    docs.join(broadcast(counts), Seq(groupCol))
      .filter(sampleHash(col(idCol)) < thr)
      .select(col(idCol).as("doc_id"), col(groupCol))
  }

  /** The TRAINING-PREP pipeline as ONE composed query — what a user
    * runs to turn a raw multilingual crawl into train-split context
    * windows: [[rebalanceGroups]] flattens the language skew,
    * [[Dedup.exact]]-style min-id-per-content-hash keeps one doc per
    * duplicate set, [[splitAssign]] fixes the leakage-stable split,
    * and [[chunkDocuments]] windows the surviving train docs. Output:
    * `(doc_id, lang, chunk_idx, start_tok, end_tok)`.
    *
    * The stages are FUSED, not operator-chained: calling the four
    * operators and joining their id outputs back would cost three
    * corpus self-joins (SortMergeJoins — measured in the plan audit
    * before this rewrite); inlining each stage's math keeps every
    * column flowing through one dataflow, so the whole pipeline plans
    * as broadcast-joined thresholds + narrow coin filters + ONE corpus
    * exchange (the content-hash dedup window) + an integer explode.
    * Stage semantics are bit-identical to the standalone operators
    * (the oracle chains their SQL unchanged). */
  def prepPipeline(docs: DataFrame, chunkTokens: Int = 512,
      overlap: Int = 64): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap)
    val stride = chunkTokens - overlap
    // stage 1: rebalance — inlined (not `docs.join(rebalanceGroups)`)
    // so the survivors keep every column without a corpus self-join;
    // `_min` folds into the counts frame via a global window (see
    // [[rebalanceGroups]]) so the corpus scans TWICE (main + counts),
    // not three times — at v2's gate-on-every-branch that third scan
    // re-ran the quality kernel over the whole corpus
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("_cnt"))
      .withColumn("_min", min(col("_cnt")).over(Window.partitionBy()))
    val thr = floor(col("_min").cast("double") / col("_cnt")
      * lit(1152921504606846976.0d)).cast("long")
    val balanced = docs.join(broadcast(counts), Seq("lang"))
      .filter(sampleHash(col("doc_id")) < thr)
    // stage 2: exact dedup as a rank-1 window on the content hash —
    // the pipeline's ONE corpus exchange (a groupBy-then-join-back
    // would shuffle the corpus twice for the same result)
    val deduped = balanced
      .withColumn("_h", md5(col("text")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_h")).orderBy(col("doc_id"))))
      .filter(col("_rn") === 1)
    // stage 3: the leakage-stable split coin ([[splitAssign]]'s train
    // threshold), a narrow filter
    val train = deduped.filter(
      sampleHash(col("doc_id")) < lit((0.8 * 1152921504606846976.0d).toLong))
    // stage 4: chunking ([[chunkDocuments]]'s math), narrow explode
    val withN = train.select(col("doc_id"), col("lang"),
      graft.functions.SplitCount(trim(col("text")), bySpaceOnly = false)
        .as("_n"))
    val nChunks = when(col("_n") <= chunkTokens, lit(1L)).otherwise(
      lit(1L) + expr(s"(_n - $chunkTokens + ${stride - 1}) div $stride"))
    withN.select(col("doc_id"), col("lang"), col("_n"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("lang"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(col("chunk_idx") * stride + chunkTokens, col("_n"))
          .as("end_tok"))
  }

  /** [[prepPipeline]] with the quality + privacy stages folded in — the
    * COMPLETE raw-crawl → train-chunks dataflow a pretraining pipeline
    * actually runs:
    *
    *   0. QUALITY GATE ([[TextAnalysis.qualityPasses]] — the gate's own
    *      verdict expression, one definition): failing / null-text docs
    *      drop before anything else spends work on them;
    *   1. PII REDACTION ([[TextAnalysis.redactedText]]): from here on
    *      `text` IS the redacted text — the dedup hash, token counts,
    *      and chunk windows all see what the tokenizer will see;
    *   2..5. rebalance → exact dedup (on the REDACTED text) → split →
    *      chunk, exactly [[prepPipeline]]'s fused stages (language
    *      counts are over gate-surviving docs: balance what you keep).
    *
    * Both new stages are shuffle-free codegen'd projections, so the
    * fused plan gains ZERO exchanges over [[prepPipeline]] — pinned by
    * CorpusSpec's exchange-count differential. Output schema unchanged:
    * `(doc_id, lang, chunk_idx, start_tok, end_tok)`. */
  def prepPipelineV2(docs: DataFrame, chunkTokens: Int = 512,
      overlap: Int = 64): DataFrame = {
    val gated = TextAnalysis.gateByQuality(docs)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.redactedText(col("text")).as("text"))
    prepPipeline(gated, chunkTokens, overlap)
  }

  /** [[prepPipelineV2]] with the quality + privacy front MATERIALIZED:
    * writes the gated, redacted corpus ONCE to `stagingDir` and runs
    * the fused rebalance → dedup → split → chunk pipeline off the
    * staged table. Identical relation to [[prepPipelineV2]] (same
    * oracle) — the trade is one parquet write for not re-evaluating
    * the gate on both of the pipeline's corpus scan branches (the
    * language-count aggregate and the main flow each re-gate in the
    * inline form; at 100 TB a production pipeline stages the expensive
    * front exactly like this, and every downstream consumer — not just
    * this pipeline — reads the cheap staged table). */
  def prepPipelineV2Staged(docs: DataFrame, stagingDir: String,
      chunkTokens: Int = 512, overlap: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    // Build-once, ATOMIC (round 18; the r17 version overwrote the
    // staging table in place — a concurrent run on the same dir could
    // clobber the table mid-read, and a crashed overwrite left a
    // partial table every later read consumed): stage into a unique
    // temp dir, rename into place; exactly one concurrent builder
    // wins, the loser discards its copy and reads the winner's. The
    // CALLER keys `stagingDir` on the source corpus fingerprint —
    // reusing a path for a different corpus serves the stale table by
    // design (it is a cache key contract, same as the ANN layouts).
    if (!new java.io.File(stagingDir, "_SUCCESS").exists()) {
      val tmp = stagingDir + ".tmp-" + java.util.UUID.randomUUID()
      TextAnalysis.gateByQuality(docs)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.redactedText(col("text")).as("text"))
        .write.mode("overwrite").parquet(tmp)
      // Rename with DEBRIS RECOVERY (round 19; the r18 version
      // require-failed here, so staging-dir debris — an incomplete
      // destination without _SUCCESS, left by a pre-r18 in-place
      // overwrite crash or a killed run — wedged every subsequent call
      // until someone removed the dir by hand): when the rename loses
      // to a dir that is NOT a complete table, sweep the debris and
      // retry once; only a COMPLETE concurrent winner makes this
      // builder the loser.
      if (!new java.io.File(tmp).renameTo(new java.io.File(stagingDir))) {
        if (!new java.io.File(stagingDir, "_SUCCESS").exists()) {
          graft.core.PathIO.deleteRecursively(
            java.nio.file.Paths.get(stagingDir))
          new java.io.File(tmp).renameTo(new java.io.File(stagingDir))
        }
        require(new java.io.File(stagingDir, "_SUCCESS").exists(),
          s"staging rename $tmp -> $stagingDir failed and the " +
            "destination is not a complete table (no _SUCCESS)")
        graft.core.PathIO.deleteRecursively(java.nio.file.Paths.get(tmp))
      }
    }
    prepPipeline(spark.read.parquet(stagingDir), chunkTokens, overlap)
  }

  /** Deterministic train/val/test split assignment: the 60-bit md5 coin
    * partitioned into `[0, train)`, `[train, train+val)`, rest — every
    * doc lands in exactly one split, stable across runs/engines/corpus
    * growth (a doc's split never changes when other docs arrive — the
    * property a random split lacks and leakage audits need). Shuffle-
    * free narrow projection. */
  def splitAssign(docs: DataFrame, trainFrac: Double = 0.8,
      valFrac: Double = 0.1, idCol: String = "doc_id"): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1)
    val scale = 1152921504606846976.0d // 2^60, IEEE-exact
    val t1 = (trainFrac * scale).toLong
    val t2 = ((trainFrac + valFrac) * scale).toLong
    val h = sampleHash(col(idCol))
    docs.select(col(idCol).as("doc_id"),
      when(h < t1, lit("train")).when(h < t2, lit("val"))
        .otherwise(lit("test")).as("split"))
  }
}
