package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Integer-exact k-means: differential against a sequential plain-Scala
  * Lloyd's implementation (same fixed-point spec, independently coded),
  * determinism across runs, and the shuffle-free assignment plan.
  */
class ClusteringSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Sequential reference: identical math, none of the distribution. */
  private def reference(stride: Long, iters: Int): Map[Long, (Long, Long)] = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(f => math.floor(f.toDouble * 1024.0 + 0.5).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(cents: Seq[(Long, Array[Long])], fx: Array[Long]): (Long, Long) =
      cents.map { case (cid, c) => (d2(fx, c), cid) }.min
    var cents = rows.filter(_._1 % stride == 0).toSeq
    for (_ <- 0 until iters) {
      val byC = rows.groupBy(r => assign(cents, r._2)._2)
      cents = cents.map { case (cid, old) =>
        cid -> byC.get(cid).map { members =>
          val dim = old.length
          Array.tabulate(dim) { i =>
            val s = members.map(_._2(i)).sum
            math.floor(s.toDouble / members.length).toLong
          }
        }.getOrElse(old)
      }
    }
    rows.map { case (id, fx) =>
      val (d, c) = assign(cents, fx); id -> (c, d)
    }.toMap
  }

  test("distributed Lloyd's ≡ sequential reference (2 iterations)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = Clustering.kmeansAssign(emb)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = reference(100L, 2)
    assert(got.size == want.size)
    val diff = got.filter { case (k, v) => want(k) != v }
    assert(diff.isEmpty, s"${diff.size} mismatches, e.g. ${diff.take(3)}")
  }

  test("zero iterations = nearest-seed assignment; more iterations " +
      "change it (the updates do something)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val a0 = Clustering.kmeansAssign(emb, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a2 = Clustering.kmeansAssign(emb, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a0 == reference(100L, 0).map { case (k, (c, _)) => (k, c) }.toSet)
    assert(a0 != a2, "2 Lloyd updates left every assignment unchanged")
  }

  test("partition-independent: 1 vs 7 input partitions, identical " +
      "assignment (integer sums commute)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = Clustering.kmeansAssign(emb.repartition(1))
      .collect().map(_.toSeq).toSet
    val b = Clustering.kmeansAssign(emb.repartition(7))
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("deterministic run-over-run") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val r1 = Clustering.kmeansAssign(emb).collect().map(_.toSeq).toSet
    val r2 = Clustering.kmeansAssign(emb).collect().map(_.toSeq).toSet
    assert(r1 == r2)
  }

  test("compositions: per-cluster sample quota is exact, outliers are " +
      "the true per-cluster dist2 maxima") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val assign = Clustering.kmeansAssign(emb)
    val rows = assign.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sizes = rows.groupBy(_._2).view.mapValues(_.length).toMap

    val sampled = Corpus.stratifiedSampleExact(assign, "cid", 0.2, "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val quotas = sampled.groupBy(_._2).view.mapValues(_.length).toMap
    sizes.foreach { case (cid, n) =>
      assert(quotas(cid) == math.ceil(n * 0.2).toLong,
        s"cluster $cid: quota ${quotas.get(cid)} for size $n")
    }

    val got = Corpus.topKPerGroup(assign, "cid", "dist2", 5, "vec_id")
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    val want = rows.groupBy(_._2).toSeq.flatMap { case (cid, members) =>
      members.sortBy { case (id, _, d) => (-d, id) }.take(5)
        .map(m => (cid, m._1)).toSeq
    }.toSet
    assert(got == want, s"outlier sets differ: ${got.diff(want)}")
  }

  test("ivfTopKKmeans: ranks match integer brute force within probed " +
      "lists, decent recall vs global brute force, broadcast-join plan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = Clustering.ivfTopKKmeans(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).distinct.length == 10, "10 query rows expected")
    // integer brute-force reference
    val fx = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        Clustering.quantize(
          org.apache.spark.sql.functions.col("embedding")).as("fx"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var hits = 0
    for (q <- 0L until 10L) {
      val brute = fx.keys.filter(_ != q).toSeq
        .map(n => (d2(fx(q), fx(n)), n)).sorted.take(5).map(_._2).toSet
      val ivf = got.filter(_._1 == q).map(_._2).toSet
      assert(ivf.size == 5)
      hits += ivf.intersect(brute).size
    }
    // nprobe=2 of 5 lists at this SF is a REAL 60% prune (unlike the
    // cosine IVF whose nprobe=8 covers all 5 test-SF lists), so recall
    // is genuinely sub-1: observed 34/50; gate at 60%
    assert(hits >= 30, s"recall@5 too low: $hits/50")
    val plan = Clustering.ivfTopKKmeans(emb)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"candidate join must broadcast the probes:\n$plan")
  }

  test("persisted kmeans-IVF layout probes identically to the logical " +
      "operator, and the scan prunes with a static cid IN (...) " +
      "partition filter off the committed manifest") {
    withTempDir { tmp =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val layout = s"$tmp/kivf"
      Clustering.writeKmeansIvfLayout(emb, layout)
      // committed manifest + centroid sidecar present
      assert(Similarity.manifestCommitted(layout), "no committed manifest")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        layout, Clustering.KmeansCentroidsName)), "no centroid sidecar")
      val q = emb.filter(
        org.apache.spark.sql.functions.col("vec_id") < 10)
      val fromLayout = Clustering.ivfTopKKmeansFromLayout(layout, q)
      val got = fromLayout.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val logical = Clustering.ivfTopKKmeans(emb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == logical,
        s"layout probe ${got.size} vs logical ${logical.size} rows")
      // static partition pruning: the candidate scan carries a
      // cid IN (probed...) PartitionFilters entry and broadcasts the
      // probe batch — the corpus never shuffles
      val plan = fromLayout.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan)
        .isDefined,
        s"expected static cid IN (...) PartitionFilters in scan:\n$plan")
      assert(plan.contains("BroadcastHashJoin") &&
        !plan.contains("SortMergeJoin"),
        s"candidate join must broadcast the probes:\n$plan")
      // the pruned scan plans strictly fewer files than the full layout
      val probedFiles = "PartitionFilters".r.findAllIn(plan).size
      assert(probedFiles >= 1)
    }
  }

  test("appendKmeansIvfLayout: base build + frozen-centroid append " +
      "probes identically to a one-shot frozen build on the union, the " +
      "manifest extends atomically, and the pruned plan shape holds") {
    import org.apache.spark.sql.functions.col
    withTempDir { tmp =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd = emb.filter(col("vec_id") % 2 =!= 0)
      val appended = s"$tmp/kivf_app"
      Clustering.writeKmeansIvfLayout(even, appended)
      val baseFiles = Similarity.manifestFiles(appended)._2.size
      Clustering.appendKmeansIvfLayout(odd, appended)
      // manifest grew (append committed) and still covers every file
      val extFiles = Similarity.manifestFiles(appended)._2
      assert(extFiles.size > baseFiles, "append must extend the manifest")
      // one-shot differential: same frozen centroids, union corpus
      val cents = Clustering.readKmeansCentroids(appended)
      val oneShot = s"$tmp/kivf_union"
      Clustering.writeKmeansIvfLayoutFrozen(emb, oneShot, cents)
      val q = emb.filter(col("vec_id") < 10)
      val fromAppended = Clustering.ivfTopKKmeansFromLayout(appended, q)
      val got = fromAppended.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ref = Clustering.ivfTopKKmeansFromLayout(oneShot, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == ref,
        s"append-built probe ${got.size} vs one-shot ${ref.size} rows")
      // appended rows are actually reachable: some odd vec_id surfaces
      // as a neighbor (the odd half is half the corpus)
      assert(got.exists(_._2 % 2 == 1),
        "no appended (odd) vector ever surfaced as a neighbor")
      // pruned plan shape survives the append: static cid IN (...)
      // partition filters, probes broadcast, corpus never shuffles
      val plan = fromAppended.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan)
        .isDefined, s"expected cid PartitionFilters post-append:\n$plan")
      assert(plan.contains("BroadcastHashJoin") &&
        !plan.contains("SortMergeJoin"),
        s"candidate join must broadcast the probes:\n$plan")
    }
  }

  test("adaptive probes = ceil(√lists): at 5 test lists that is 3, and " +
      "recall dominates the pinned nprobe=2 run") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val fixed = Clustering.ivfTopKKmeans(emb, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adaptive = Clustering.ivfTopKKmeansAdaptive(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wider = Clustering.ivfTopKKmeans(emb, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive == wider, "adaptive must equal nprobe=3 at 5 lists")
    // more probed lists can only improve the candidate pool; with the
    // same deterministic ranking the result sets may differ, but the
    // integer brute-force agreement must not get worse
    val brute = Clustering.bruteTopKInt(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive.intersect(brute).size >= fixed.intersect(brute).size)
  }

  test("incrementalSemanticWithStore: id-ordered batch splits compose " +
      "to the one-shot frozen-centroid dedup, landing is all-seen " +
      "(rerun drops everything), and the landed lookup prunes") {
    import org.apache.spark.sql.functions.col
    withTempDir { tmp =>
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      // planted copies land at high ids (exact near-dups, d2 = 0)
      val planted = e.unionAll(e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding")))
      val maxId = e.agg(org.apache.spark.sql.functions.max("vec_id"))
        .head().getLong(0)
      val layout = s"$tmp/semk"
      // centroids frozen from the low third — every batch assigns from
      // the same sidecar, like a production serving layout
      Clustering.writeKmeansIvfLayout(
        planted.filter(col("vec_id") < maxId / 3), layout)
      val cents = Clustering.readKmeansCentroids(layout)
      val oneShot = Clustering
        .semanticDedupFrozen(planted, cents, dist2Threshold = 1000L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // three id-ordered batches through a fresh store, all-seen landing
      val store = BatchStore.open(spark, s"$tmp/vecs", BatchStore.Vectors)
      val bounds = Seq(
        col("vec_id") < maxId / 3,
        col("vec_id") >= maxId / 3 && col("vec_id") < 1000000L,
        col("vec_id") >= 1000000L)
      val got = scala.collection.mutable.Set.empty[(Long, Long)]
      bounds.zipWithIndex.foreach { case (pred, i) =>
        val (surv, members) = Clustering.incrementalSemanticWithStore(
          planted.filter(pred), layout, store, dist2Threshold = 1000L)
        got ++= surv.collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(store.append(members, s"b$i"), s"append b$i must commit")
        assert(!store.append(members, s"b$i"), "replay tag is a no-op")
      }
      assert(got.toSet == oneShot,
        s"batch-split ${got.size} vs one-shot ${oneShot.size} survivors")
      // planted copies actually dropped (their base has a smaller id)
      assert(!got.exists(_._1 >= 1000000L),
        "planted d2=0 copies must never survive")
      // all-seen landing: rerunning the last batch drops every doc
      // (each doc is now within distance 0 of its own landed vector)
      val (rerun, _) = Clustering.incrementalSemanticWithStore(
        planted.filter(bounds.last), layout, store,
        dist2Threshold = 1000L)
      assert(rerun.count() == 0L, "rerun after landing must drop all")
      // the landed-side lookup prunes: bp partition filters + pushed
      // In(ck), and no join on the landed scan path
      val keys = spark.range(3).select(
        org.apache.spark.sql.functions.concat_ws("_",
          col("id"), col("id")).as("ck"))
      val plan = store.prunedLookup(keys)
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bp".r.findFirstIn(plan)
        .isDefined, s"expected bp PartitionFilters:\n$plan")
      assert(plan.contains("PushedFilters: [In(ck"),
        s"expected pushed In(ck, ...):\n$plan")
      assert(!plan.contains("Join"), s"no join in tier 1:\n$plan")
      // compaction preserves the landed state (rerun still drops all)
      assert(store.compact() == 3)
      val (rerun2, _) = Clustering.incrementalSemanticWithStore(
        planted.filter(bounds.last), layout, store,
        dist2Threshold = 1000L)
      assert(rerun2.count() == 0L, "compaction must preserve membership")
    }
  }

  test("assignmentDrift: exact per-cluster inertia against the frozen " +
      "sidecar, planted far-out vectors surface in max_d2, and the " +
      "plan is one kernel pass + one k-row aggregate (no join)") {
    import org.apache.spark.sql.functions._
    withTempDir { tmp =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val layout = s"$tmp/kivf"
      Clustering.writeKmeansIvfLayout(
        emb.filter(col("vec_id") < 250), layout)
      val batch = emb.filter(col("vec_id") >= 250)
      val drift = Clustering.assignmentDrift(batch, layout)
      val rows = drift.collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // totals must cover the batch exactly
      assert(rows.values.map(_._1).sum == batch.count())
      // differential: per-row nearest-centroid distances re-derived
      // through the layout probe path's own centroid reader
      val cents = Clustering.readKmeansCentroids(layout)
      val fx = batch.select(col("vec_id"),
          graft.functions.FixedPointQuantize(col("embedding"),
            Clustering.FxScale).as("fx"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      def d2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val want = fx.map { case (_, v) =>
        cents.map { case (cid, c) => (d2(v, c), cid) }.min
      }.groupBy(_._2).map { case (cid, ds) =>
        cid -> ((ds.length.toLong, ds.map(_._1).sum, ds.map(_._1).max))
      }
      assert(rows == want, s"drift $rows vs recomputed $want")
      // a planted far-out vector dominates its cluster's max_d2
      val outlier = batch.limit(1)
        .select(col("vec_id"), transform(col("embedding"),
          x => x + lit(30.0f)).as("embedding"))
      val spiked = Clustering.assignmentDrift(outlier, layout)
        .collect().map(_.getLong(3)).max
      assert(spiked > rows.values.map(_._3).max,
        "a far-out vector must dominate max_d2")
      // plan: no join anywhere — one kernel projection, one aggregate
      val plan = drift.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"drift must not plan a join:\n$plan")
    }
  }

  test("Vectors-store retention: expiring landed batches re-admits " +
      "their near-dups BY DESIGN (the bounded-state horizon), and the " +
      "maintenance task composes expire + compact") {
    import org.apache.spark.sql.functions.col
    withTempDir { tmp =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val layout = s"$tmp/semk"
      Clustering.writeKmeansIvfLayout(
        emb.filter(col("vec_id") < 100), layout, stride = 20L)
      val store = BatchStore.open(spark, s"$tmp/vecs", BatchStore.Vectors)
      val batch = emb.filter(col("vec_id") >= 100 && col("vec_id") < 300)
      def run(): Set[Long] = Clustering.incrementalSemanticWithStore(
          batch, layout, store, dist2Threshold = 1000L)._1
        .collect().map(_.getLong(0)).toSet
      val (surv0, members) = Clustering.incrementalSemanticWithStore(
        batch, layout, store, dist2Threshold = 1000L)
      val first = surv0.collect().map(_.getLong(0)).toSet
      assert(store.append(members, "b0"))
      assert(run().isEmpty, "landed batch must drop on rerun")
      // FIFO horizon: expire everything — the batch's membership is
      // forgotten and its docs re-admit (bounded state beats unbounded
      // perfect memory at 100 TB; the re-admission is the contract)
      assert(store.expireBatches(0) == Seq("b0"))
      assert(run() == first,
        "expired membership must re-admit the batch's survivors")
      // maintenance composition: several small appends, then one sweep
      // task expires past the horizon and compacts the rest
      import spark.implicits._
      for (i <- 0 until 6)
        store.append(Seq((s"k$i", 7000L + i, Seq(1L, 2L)))
          .toDF("ck", "vec_id", "fx"), s"t$i")
      store.batchTags().zipWithIndex.foreach { case (t, i) =>
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(s"$tmp/vecs", s"batch=$t"),
          java.nio.file.attribute.FileTime.fromMillis(2000000L + i * 1000L))
      }
      store.maintenanceTask(compactAtBatches = 2,
        retainBatches = Some(4))()
      val tags = store.batchTags()
      assert(tags.size == 1 && tags.head.startsWith("compacted-"),
        s"sweep must expire + compact, got $tags")
      val kept = store.read().select("ck").collect()
        .map(_.getString(0)).toSet
      assert(kept == Set("k2", "k3", "k4", "k5"),
        s"retention must keep the newest 4: $kept")
    }
  }

  test("semanticDedup: planted identical embeddings drop (min-id " +
      "keeps), candidate pairs NEVER cross clusters, the bucket cap " +
      "never binds at test scale, and the plan is never cartesian") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(e.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val surv = Clustering.semanticDedup(planted, 1000L)
      .collect().map(_.getLong(0)).toSet
    val plantedIds = (0L until 500L by 50L).map(_ + 1000000L).toSet
    assert(plantedIds.intersect(surv).isEmpty,
      s"planted byte-copies must drop: ${plantedIds.intersect(surv)}")
    plantedIds.foreach(p => assert(surv.contains(p - 1000000L),
      s"smaller-id original of $p must survive"))
    // zero cross-cluster pairs: both sides of every candidate pair sit
    // in the pair's own cluster under the independent assignment
    val assign = Clustering.kmeansAssign(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Clustering.semanticPairs(planted, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty, "fixture must generate candidate pairs")
    pairs.foreach { case (id1, id2, cid) =>
      assert(assign(id1) == cid && assign(id2) == cid,
        s"cross-cluster pair ($id1, $id2) in cid $cid " +
          s"(${assign(id1)}, ${assign(id2)})")
    }
    // the quadratic-insurance cap must not bind on real test data
    val uncapped = Clustering.semanticPairs(planted, Long.MaxValue,
        maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSet == uncapped.toSet, "bucket cap binds at test scale")
    val plan = Clustering.semanticPairs(planted, 1000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"semantic candidates must never plan all-pairs:\n$plan")
  }

  test("maxCentroids caps the learned centroid count at a corpus that " +
      "would exceed it, and the capped run ≡ the equivalent raw-stride run") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet") // 500 rows
    // stride=1 would seed ALL 500 vectors as centroids; cap 7 floors
    // the stride up to ceil(500/7) = 72 → seeds {0,72,...,432} = 7
    assert(Clustering.effectiveStride(500L, 1L, 7L) == 72L)
    val capped = Clustering.kmeansAssign(emb, stride = 1L, maxCentroids = 7L)
    val cids = capped.select(col("cid")).distinct().count()
    assert(cids <= 7L, s"cap violated: $cids centroids > 7")
    // semantics are EXACTLY the raw-stride-72 run — the cap is pure
    // integer stride arithmetic, not a different algorithm
    val manual = Clustering.kmeansAssign(emb, stride = 72L,
      maxCentroids = Long.MaxValue)
    assert(capped.collect().map(_.toSeq).toSet ==
      manual.collect().map(_.toSeq).toSet)
    // the contract default (stride 100, cap 1024) is a no-op at every
    // oracle SF: the cap binds only past 1024*100 dense vec_ids
    assert(Clustering.effectiveStride(500L, 100L, 1024L) == 100L)
    assert(Clustering.effectiveStride(2000L, 100L, 1024L) == 100L)
    assert(Clustering.effectiveStride(200000L, 100L, 1024L) == 196L)
  }

  test("plan: final assignment is shuffle-free (broadcast-literal " +
      "centroids, no exchange)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = Clustering.kmeansAssign(emb)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"assignment must not shuffle:\n$plan")
  }

  test("rekeyStore: after a centroid cutover the re-keyed store " +
      "equals one freshly built under the new layout — and WITHOUT " +
      "the re-key, landed membership is invisible to new-layout " +
      "lookups (planted dups re-admitted)") {
    import org.apache.spark.sql.functions._
    withTempDir { tmp =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val landed = emb.filter(col("vec_id") < 150)
      // batch: fresh vectors + planted DUPLICATES of landed vecs —
      // the docs the landed membership must keep dropping forever
      val batch = emb.filter(col("vec_id") >= 150 && col("vec_id") < 300)
        .unionAll(landed.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 10000L).as("vec_id"),
            col("embedding")))
      // stale layout (v0: landed only, stride 30) vs the retrained one
      // (v1: full corpus, stride 25 — different seed set, so bucket
      // keys genuinely change)
      Clustering.writeKmeansIvfLayout(landed, s"$tmp/v0", stride = 30L)
      Clustering.writeKmeansIvfLayout(
        landed.unionAll(batch), s"$tmp/v1", stride = 25L)
      val store = graft.operators.BatchStore.open(spark, s"$tmp/st",
        graft.operators.BatchStore.Vectors)
      val (_, init0) = Clustering.incrementalSemanticWithStore(
        landed, s"$tmp/v0", store, 1000L)
      assert(store.append(init0, "init"))
      def plantedSurvivors(s3: org.apache.spark.sql.DataFrame): Long =
        s3.filter(col("vec_id") >= 10000L).count()
      // STALE keys + new layout: the planted duplicates of landed
      // vectors survive — membership silently lost
      val stale = Clustering.incrementalSemanticWithStore(
        batch, s"$tmp/v1", store, 1000L)._1
      assert(plantedSurvivors(stale) > 0,
        "fixture must demonstrate the stale-key hazard")
      // re-key, then compare against a store built fresh under v1
      assert(Clustering.rekeyStore(store, s"$tmp/v1") >= 1)
      val fresh = graft.operators.BatchStore.open(spark, s"$tmp/fr",
        graft.operators.BatchStore.Vectors)
      val (_, init1) = Clustering.incrementalSemanticWithStore(
        landed, s"$tmp/v1", fresh, 1000L)
      assert(fresh.append(init1, "init"))
      def surv(st: graft.operators.BatchStore): Set[(Long, Long)] =
        Clustering.incrementalSemanticWithStore(batch, s"$tmp/v1",
            st, 1000L)._1
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rekeyed = surv(store)
      assert(rekeyed == surv(fresh),
        "re-keyed store must behave as if built under the new layout")
      assert(rekeyed.forall(_._1 < 10000L),
        "planted duplicates must drop against the re-keyed membership")
    }
  }
}
