package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Behavioral tests for the pipeline-extension operators on purpose-built
  * fixtures (real language samples, planted near-duplicates) — the synthetic
  * driver corpus shares one vocabulary across languages, so semantic checks
  * need their own data.
  */
class OperatorsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs to the hills"),
    (2L, "the quick brown fox jumps over the lazy dog and runs to the hill"),
    (3L, "der schnelle braune fuchs springt und das ist nicht ein problem"),
    (4L, "le chat est sur la table et les livres sont dans le salon"),
    (5L, "el perro es un animal y los gatos son animales de la casa"),
    (6L, "completely different content about distributed query engines"),
    (7L, "the quick brown fox jumps over the lazy dog and runs to the hills"))
    .toDF("doc_id", "text")

  test("langId picks the right lexicon for real-language samples") {
    val out = TextAnalysis.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang"))
      .toMap
    assert(out(1L) == "en")
    assert(out(3L) == "de")
    assert(out(4L) == "fr")
    assert(out(5L) == "es")
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs).filter(col("dup_count") > 1).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("keep_id") == 1L) // docs 1 and 7 identical
    assert(out.head.getAs[Long]("dup_count") == 2L)
  }

  test("line-level dedup drops planted boilerplate lines, keeps unique " +
      "content, reassembles in order, and drops all-boilerplate docs") {
    import spark.implicits._
    val footer = "Subscribe to our newsletter"
    val ldocs = (1L to 30L).map { i =>
      val body =
        if (i <= 28L) s"unique content line $i\nsecond unique line $i"
        else "" // docs 29/30: footer-only
      val sep = if (body.isEmpty) "" else "\n"
      // planted chrome: same footer in EVERY doc, case/space-jittered so
      // the lower(trim()) normalization is what has to unify them
      (i, s"$body$sep  ${if (i % 2 == 0) footer.toUpperCase else footer} ")
    }.toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(ldocs, maxDocFrequency = 5L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    // footer-only docs drop out entirely
    assert(!out.contains(29L) && !out.contains(30L),
      "all-boilerplate docs must be dropped")
    assert(out.size == 28)
    // surviving docs lose exactly the footer, keep order
    assert(out(7L) == (("unique content line 7\nsecond unique line 7", 2L)))
    assert(out(8L) == (("unique content line 8\nsecond unique line 8", 2L)))
    // below-threshold repetition survives: rerun with a higher threshold
    val loose = Dedup.removeBoilerplateLines(ldocs, maxDocFrequency = 50L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(loose(7L) == 3L, "footer must survive a loose DF threshold")
    assert(loose(29L) == 1L)
  }

  test("line-level dedup plan: drop-set join is broadcast, no pairwise " +
      "or driver-side work") {
    val out = Dedup.removeBoilerplateLines(docs, maxDocFrequency = 2L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"),
      s"expected broadcast left-anti drop-set join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no pairwise work:\n$plan")
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated docs") {
    val pairs = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 7L)), "exact dup pair must be a candidate")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 7L)),
      "near dup (one-char diff) should collide in some band")
    assert(!pairs.exists { case (a, b) =>
      Set(a, b).contains(6L) && Set(a, b).intersect(Set(3L, 4L, 5L)).nonEmpty
    }, "unrelated docs should not be candidates")
  }

  test("lshCandidates leaves no cache entries behind") {
    // start from a known-empty cache so the assertion is about THIS call,
    // not about whatever earlier tests may have legitimately persisted
    spark.catalog.clearCache()
    Dedup.minhashCandidates(docs).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "lshCandidates must not register cache entries")
  }

  test("lshCandidates executes the signature pipeline once (exchange reuse)") {
    val plan = Dedup.minhashCandidates(docs).queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("SortMergeJoin"),
      s"self-join must be sort-merge for exchange reuse, got:\n$s")
  }

  test("droppedHotBands reports what the cap removed") {
    val mega = (1L to 200L).map(i => (i, "identical hot cluster text body"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(mega, 8, Dedup.DefaultSeeds)
    val dropped = Dedup.droppedHotBands(sigs, rowsPerBand = 2,
      maxBandSize = 100).collect()
    assert(dropped.nonEmpty, "a 200-copy cluster must exceed a 100 cap")
    assert(dropped.forall(_.getAs[Long]("n_docs") == 200L))
    assert(Dedup.droppedHotBands(sigs, 2, maxBandSize = 1000).count() == 0L)
  }

  test("hot-band cap bounds a mega-duplicate cluster") {
    val mega = (1L to 1000L).map(i => (i, "identical hot cluster text body"))
      .toDF("doc_id", "text")
    val distinctDocs = Seq((2001L, "some other unrelated document one"),
      (2002L, "and a second unrelated document two")).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(mega.unionAll(distinctDocs),
      maxBandSize = 100)
    // every band of the 1000-copy cluster exceeds the cap, so the cluster
    // contributes zero pairs (exact dedup owns identical docs) instead of
    // ~500k; the op completes with a hard-bounded pair count.
    assert(pairs.count() == 0L)
    val uncapped = Dedup.minhashCandidates(mega.limit(50))
    assert(uncapped.count() == 50L * 49 / 2,
      "below the cap, the cluster still pairs fully")
  }

  test("simhash: identical docs share fingerprints; near dups are close") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(7L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= 8,
      s"near dups should be close, got ${hamming(sh(1L), sh(2L))}")
    assert(hamming(sh(1L), sh(6L)) > hamming(sh(1L), sh(2L)),
      "unrelated doc should be farther than near-dup")
  }

  test("jaccardCounts: identical = full overlap, near dup high, unrelated low") {
    val pairs = Seq((1L, 7L), (1L, 2L), (1L, 6L)).toDF("id1", "id2")
    val out = Dedup.jaccardCounts(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("intersection"), r.getAs[Long]("union_size"))).toMap
    val (i17, u17) = out((1L, 7L))
    assert(i17 == u17) // identical token sets
    val (i12, u12) = out((1L, 2L))
    assert(i12.toDouble / u12 > 0.8)
    val (i16, u16) = out((1L, 6L))
    assert(i16.toDouble / u16 < 0.2)
  }

  test("brute-force ANN: nearest neighbor of a vector is its duplicate") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (1L, Array(1.0f, 0.01f, 0.5f, 0.2f)), // near-identical to 0
      (2L, Array(-1.0f, 0.5f, -0.5f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 0.0f, -0.4f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, 2)
      .orderBy("rnk").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
  }

  test("bucketed ANN agrees with brute force for near-parallel vectors") {
    val emb = (0L to 19L).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i, Array(base, base * 0.5f, base * 0.25f, i.toFloat / 20))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val bucketed = Similarity.bucketedTopK(
        emb.filter(col("vec_id") === 0), emb, 3, planes = 2, dim = 4)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    // near-parallel even vectors land in vec 0's bucket under any
    // hyperplane family; top neighbors are all even
    assert(bucketed == brute)
  }

  test("multi-table directed-probe LSH recalls the exact top-k (sf0.1)") {
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val k = 5
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k))
    val approx = pairs(Similarity.bucketedTopK(q, e, k))
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"recall@$k over 2000 candidates, 4 tables x 5 directed probes: " +
      f"$recall%.2f")
    assert(recall >= 0.90, f"recall $recall%.2f below floor")
  }

  test("IVF recalls the exact top-k and plans without an assignment " +
      "shuffle (sf0.1)") {
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val k = 5
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k))
    val ivf = Similarity.ivfTopK(q, e, k)
    val recall = exact.intersect(pairs(ivf)).size.toDouble / exact.size
    info(f"IVF recall@$k, 20 lists x 8 probes: $recall%.2f")
    assert(recall >= 0.60, f"recall $recall%.2f below floor")
    // every result rank chain is complete: rnk 1..n per query
    val byQ = ivf.collect().groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(2)).sorted.toSeq ==
        (1L to rows.length).toSeq)
    }
    // plan shape: assignment is a scalar kernel + static IN filter —
    // exactly ONE exchange end-to-end (the rank window's); a join- or
    // aggregate-based assignment would show a second one
    // the AQE string repeats the plan under "== Initial Plan ==" — count
    // exchanges in the final section only
    val plan = ivf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("graft_nearest_centroid"),
      s"expected NearestCentroid kernel in plan:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected 1 exchange (rank window), got $exchanges:\n$plan")
  }

  test("adaptive IVF: stride bounds the centroid count at any corpus " +
      "size and the distributed assignment matches the kernel path") {
    import Similarity._
    // √n targeting: list count tracks √n until the cap, then stays flat —
    // never the linear growth of a fixed stride
    def lists(n: Long, stride: Int): Long = (n + stride - 1) / stride
    assert(lists(2000L, adaptiveIvfStride(2000L)) <= 45 + 1)
    assert(lists(1000000000L, adaptiveIvfStride(1000000000L)) <= 31623 + 1)
    // 10^13 vectors (≈ 2.5 PB fp32 @ dim 64): capped, driver-safe
    assert(lists(10000000000000L, adaptiveIvfStride(10000000000000L)) <=
      DefaultMaxIvfLists)
    assert(adaptiveIvfStride(0L) == 1 && adaptiveIvfStride(1L) == 1)

    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val derived = adaptiveIvfStride(e.count())
    // kernel strategy (|C| under the threshold) ≡ explicit-stride ivfTopK
    // (autoNprobe(45 lists) = max(8, ceil(√45)) = 8 = the pinned default)
    val viaKernel = ivfTopKAdaptive(q, e, 5)
    assert(tuples(viaKernel) == tuples(ivfTopK(q, e, 5, stride = derived)))
    // adaptive geometry keeps useful recall (√n lists + √lists probes)
    val exact = tuples(bruteForceTopK(q, e, 5)).map(t => (t._1, t._2))
    val approx = tuples(viaKernel).map(t => (t._1, t._2))
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"adaptive IVF recall@5 (45 lists, 8 probes): $recall%.2f")
    assert(recall >= 0.40, f"adaptive recall $recall%.2f below floor")
    // forced distributed strategy must produce the identical result with
    // NO centroid matrix in the plan (no embedded kernel reference)
    val viaDistributed = ivfTopKAdaptive(q, e, 5, maxKernelCentroids = 0)
    assert(tuples(viaDistributed) == tuples(viaKernel),
      "broadcast-join assignment must equal the embedded-matrix kernel")
    val plan = viaDistributed.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_nearest_centroid"),
      s"distributed path must not embed the centroid matrix:\n$plan")

    // the layout BUILD has the same strategy switch: forced-distributed
    // assignment writes identical lists, so probes agree exactly
    val small = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = small.filter(col("vec_id") < 5)
    def tmp() = java.nio.file.Files.createTempDirectory("ivf_b").toString
    val (dk, dd) = (tmp(), tmp())
    try {
      ivfTopKAdaptive(qs, small, 3) // warms nothing; sanity that it runs
      Similarity.writeIvfLayout(small, dk, stride = 50)
      Similarity.writeIvfLayout(small, dd, stride = 50,
        maxKernelCentroids = 0)
      assert(tuples(ivfTopKFromLayout(dk, qs, 3, nprobe = 2)) ==
        tuples(ivfTopKFromLayout(dd, qs, 3, nprobe = 2)),
        "distributed-assignment layout must probe identically")
    } finally Seq(dk, dd).foreach { d =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("sharded layout manifest: probe-subset reads cover the probed " +
      "dirs, skip others, and legacy manifests migrate on append") {
    import java.nio.file.{Files, Paths}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft_mf_shard").toString
    try {
      Similarity.writeBucketedLayout(e, dir)
      // new builds commit the sharded form only
      assert(Files.exists(Paths.get(dir, Similarity.LayoutManifestDirName,
        Similarity.ManifestCurrentName)), "sharded CURRENT must exist")
      assert(!Files.exists(Paths.get(dir, Similarity.LayoutManifestName)),
        "legacy single-file manifest must not be written")
      val (schemaJson, full) = Similarity.manifestFiles(dir)
      assert(full.nonEmpty)
      // probe-subset read: every file of the probed dir is returned...
      val probedDir = {
        val rel = full.head._1
        rel.substring(0, rel.lastIndexOf('/'))
      }
      val (_, sub) = Similarity.manifestFiles(dir, Some(Seq(probedDir)))
      val inDir = full.filter(_._1.startsWith(probedDir + "/"))
      assert(inDir.toSet.subsetOf(sub.toSet),
        "probe-subset must contain every file of the probed dir")
      // ...from a subset of the shards (flat planning read at scale)
      assert(sub.toSet.subsetOf(full.toSet))
      assert(sub.size < full.size,
        s"probe-subset (${sub.size}) should skip unprobed shards " +
          s"(full=${full.size})")
      // legacy migration: rewrite the manifest in the legacy single-file
      // form, then append — the append must migrate it to sharded and
      // keep every entry
      val mdir = Paths.get(dir, Similarity.LayoutManifestDirName)
      import scala.jdk.CollectionConverters._
      Files.walk(mdir).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
      val legacyLines = s"schema\t$schemaJson" +:
        full.map { case (rel, size) => s"file\t$rel\t$size" }
      Files.write(Paths.get(dir, Similarity.LayoutManifestName),
        legacyLines.mkString("\n").getBytes("UTF-8"))
      assert(Similarity.manifestFiles(dir)._2.toSet == full.toSet,
        "legacy manifest must read back identically")
      Similarity.appendBucketedLayout(
        e.limit(0), dir) // empty batch: pure manifest migration
      assert(Files.exists(mdir.resolve(Similarity.ManifestCurrentName)),
        "append must migrate a legacy manifest to the sharded form")
      assert(!Files.exists(Paths.get(dir, Similarity.LayoutManifestName)),
        "migrated legacy file must be removed after commit")
      assert(Similarity.manifestFiles(dir)._2.toSet == full.toSet,
        "migration must preserve every manifest entry")
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  test("tombstone GC with zero grace reclaims superseded shards, prunes " +
      "the tombstone file, and a stale-snapshot reader recovers") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = e.filter(col("vec_id") % 3 === 0)
    val extra1 = e.filter(col("vec_id") % 3 === 1)
    val extra2 = e.filter(col("vec_id") % 3 === 2)
    val dir = Files.createTempDirectory("graft_mf_gc").toString
    val graceProp = "graft.ann.manifest.gc.grace.ms"
    val priorGrace = System.getProperty(graceProp)
    try {
      Similarity.writeBucketedLayout(base, dir)
      val mdir = Paths.get(dir, Similarity.LayoutManifestDirName)
      val snap0 = Similarity.readCurrent(mdir)
      System.setProperty(graceProp, "0")
      Similarity.appendBucketedLayout(extra1, dir)
      val snap1 = Similarity.readCurrent(mdir)
      val superseded = snap0._3.collect {
        case (sid, name) if snap1._3.get(sid).exists(_ != name) => name
      }.toSeq
      assert(superseded.nonEmpty,
        "append must supersede at least one existing shard")
      // grace=0: superseded shards reclaimed by the same append...
      superseded.foreach { n =>
        assert(!Files.exists(mdir.resolve(n)),
          s"superseded shard $n must be reclaimed at zero grace")
      }
      // ...leaving the tombstone file pruned to zero kept entries
      val tf = mdir.resolve(Similarity.ManifestTombstonesName)
      assert(Files.exists(tf), "tombstone file must exist after GC")
      assert(Files.readAllLines(tf).asScala.forall(_.isEmpty),
        "tombstone file must be pruned after reclaim")
      // second append over the already-GC'd state stays clean
      Similarity.appendBucketedLayout(extra2, dir)
      // a reader that planned from the PRE-append snapshot opens a
      // reclaimed shard — manifestFilesFrom must recover by re-reading
      // CURRENT (the retry the grace-window scaladoc promises)
      val (schemaJson, recovered) =
        Similarity.manifestFilesFrom(mdir, snap0, None)
      val (liveSchema, live) = Similarity.manifestFiles(dir)
      assert(recovered.toSet == live.toSet,
        "stale-snapshot reader must recover to the live manifest")
      assert(schemaJson == liveSchema)
      // every live manifest entry is on disk and probes still work
      live.foreach { case (rel, _) =>
        assert(Files.exists(Paths.get(dir, rel)), s"missing $rel")
      }
      val q = e.filter(col("vec_id") < 10)
      assert(Similarity.bucketedTopKFromLayout(dir, q, 3).count() > 0)
    } finally {
      if (priorGrace == null) System.clearProperty(graceProp)
      else System.setProperty(graceProp, priorGrace)
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  test("manifest writer lock fails a concurrent append fast and " +
      "reclaims a crashed writer's stale lock") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = e.filter(col("vec_id") % 2 === 0)
    val extra = e.filter(col("vec_id") % 2 =!= 0)
    val dir = Files.createTempDirectory("graft_mf_lock").toString
    try {
      Similarity.writeBucketedLayout(base, dir)
      val mdir = Paths.get(dir, Similarity.LayoutManifestDirName)
      val lock = mdir.resolve(Similarity.ManifestLockName)
      Files.createFile(lock) // simulate a live concurrent appender
      val err = intercept[IllegalStateException] {
        Similarity.appendBucketedLayout(extra, dir)
      }
      assert(err.getMessage.contains("single-writer"))
      // a crashed writer's lock (older than the grace window) is
      // reclaimed instead of wedging the layout forever
      Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 16L * 60L * 1000L))
      Similarity.appendBucketedLayout(extra, dir)
      assert(!Files.exists(lock), "lock must be released after the append")
      val q = e.filter(col("vec_id") < 10)
      assert(Similarity.bucketedTopKFromLayout(dir, q, 3).count() > 0)
    } finally {
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  test("physical l=/bucket= layout probe matches the logical plan and " +
      "prunes partitions") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_layout")
      .toString
    try {
      Similarity.writeBucketedLayout(e, dir)
      assert(Similarity.manifestCommitted(dir),
        "layout must commit a planning manifest")
      val fromLayout = Similarity.bucketedTopKFromLayout(dir, q, 3)
      val logical = Similarity.bucketedTopK(q, e, 3)
      val a = fromLayout.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val b = logical.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(a == b, "layout probe must equal the logical bucketed probe")
      // the probe plan must prune statically: PartitionFilters on (l,
      // bucket) at the scan, no pushed data filter doing the work
      val plan = fromLayout.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan)
          .isDefined,
        s"expected static (l, bucket) PartitionFilters in scan:\n$plan")
      // and the scan must plan from the manifest, not a directory listing
      assert(plan.contains("ManifestFileIndex"),
        s"expected manifest-planned scan location:\n$plan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("incremental layout append probes identically to a one-shot build") {
    import scala.jdk.CollectionConverters._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    // centroid seeds (vec_id % stride == 0) are all even, so the odd half
    // adds rows but no new IVF centroids — the frozen-geometry contract
    val base = e.filter(col("vec_id") % 2 === 0)
    val extra = e.filter(col("vec_id") % 2 =!= 0)
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val dirs = Seq.fill(5)(tmp("ann_append"))
    val Seq(lshOne, lshApp, ivfOne, ivfApp, ivfAppD) = dirs
    try {
      // LSH: one-shot union build vs build(base) + append(extra)
      Similarity.writeBucketedLayout(e, lshOne)
      Similarity.writeBucketedLayout(base, lshApp)
      val before = Similarity.manifestFiles(lshApp)._2.size
      Similarity.appendBucketedLayout(extra, lshApp)
      val mfFiles = Similarity.manifestFiles(lshApp)._2
      assert(mfFiles.size > before, "append must extend the manifest")
      assert(mfFiles.size == mfFiles.toSet.size,
        "append must not duplicate manifest entries")
      // every manifest file must exist on disk (the commit moved them in)
      mfFiles.foreach { case (rel, _) =>
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(lshApp, rel)), s"missing $rel")
      }
      // mismatched geometry must refuse, not silently mis-bucket
      val geomErr = intercept[IllegalArgumentException] {
        Similarity.appendBucketedLayout(extra, lshApp, seed = "other")
      }
      assert(geomErr.getMessage.contains("geometry"))
      val probeApp = Similarity.bucketedTopKFromLayout(lshApp, q, 3)
      assert(tuples(probeApp) ==
        tuples(Similarity.bucketedTopKFromLayout(lshOne, q, 3)),
        "LSH append+build must probe identically to the one-shot build")
      // appended layout still plans from the manifest with static pruning
      val plan = probeApp.queryExecution.executedPlan.toString
      assert(plan.contains("ManifestFileIndex"))

      // IVF: same differential, both assignment strategies for the append
      Similarity.writeIvfLayout(e, ivfOne, stride = 50)
      for ((d, maxKernel) <- Seq((ivfApp, 4096), (ivfAppD, 0))) {
        Similarity.writeIvfLayout(base, d, stride = 50)
        Similarity.appendIvfLayout(extra, d, maxKernelCentroids = maxKernel)
        assert(tuples(Similarity.ivfTopKFromLayout(d, q, 3, nprobe = 2)) ==
          tuples(Similarity.ivfTopKFromLayout(ivfOne, q, 3, nprobe = 2)),
          s"IVF append (maxKernelCentroids=$maxKernel) diverged from " +
            "the one-shot build")
      }
    } finally dirs.foreach { d =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("physical list= IVF layout probe matches the logical plan and " +
      "prunes partitions") {
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    // stride 400 -> 5 lists, nprobe 2: a probe that genuinely excludes
    // lists, so the pruning assertion below has something to prune
    val (stride, nprobe, k) = (400, 2, 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_layout")
      .toString
    try {
      Similarity.writeIvfLayout(e, dir, stride = stride)
      assert(Similarity.manifestCommitted(dir),
        "layout must commit a planning manifest")
      assert(new java.io.File(dir, Similarity.IvfCentroidsName).exists,
        "layout must commit the centroid sidecar")
      val fromLayout = Similarity.ivfTopKFromLayout(dir, q, k,
        nprobe = nprobe)
      val logical = Similarity.ivfTopK(q, e, k, stride = stride,
        nprobe = nprobe)
      def tuples(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
      assert(tuples(fromLayout) == tuples(logical),
        "layout probe must equal the logical IVF result")
      val plan = fromLayout.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(plan)
          .isDefined,
        s"expected static list IN (...) PartitionFilters in scan:\n$plan")
      assert(plan.contains("ManifestFileIndex"),
        s"expected manifest-planned scan location:\n$plan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("quality features and token counts") {
    val q = TextAnalysis.qualityFeatures(docs).filter(col("doc_id") === 1)
      .collect().head
    assert(q.getAs[Long]("n_tokens") == 14L)
    assert(q.getAs[Long]("n_punct") == 0L)
    val t = TextAnalysis.tokenCounts(docs).filter(col("doc_id") === 1)
      .collect().head
    assert(t.getAs[Long]("ws_tokens") == 14L)
    assert(t.getAs[Long]("bpe_ish_tokens") == 14L)
  }

  test("incrementalExact: within-batch min-id keep, known hashes " +
      "dropped, and batch-then-batch equals one big batch") {
    val corpus = Seq((100L, "already landed text"), (101L, "old news"))
      .toDF("doc_id", "text")
    val known = corpus.select(md5(col("text")).as("h"))
    val batch = Seq(
      (5L, "fresh content"), (3L, "fresh content"),   // intra-batch dup: keep 3
      (7L, "already landed text"),                     // known -> dropped
      (9L, "genuinely new"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, known)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 9L), s"got $got")
    // incremental composes: dedup batch A, append its hashes, dedup
    // batch B against known+A == dedup (A ∪ B) against known, for
    // disjoint id ranges (the continuous-ingest maintenance loop)
    val a = batch.filter(col("doc_id") <= 5)
    val b = batch.filter(col("doc_id") > 5)
    val afterA = Dedup.incrementalExact(a, known)
    val knownPlusA = known.unionAll(afterA.select(col("h")))
    val twoStep = afterA.select(col("doc_id"))
      .unionAll(Dedup.incrementalExact(b, knownPlusA).select(col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    assert(twoStep == got, s"two-step $twoStep vs one-shot $got")
  }

  test("incrementalExactWithStore matches incrementalExact, and " +
      "survivors-only landing composes across batch splits (exact " +
      "hashes are transitive)") {
    withTempDir { tmp =>
      val corpus = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
      val landed = corpus.filter(col("doc_id") % 3 === 0)
      val store = BatchStore.open(spark, s"$tmp/hashes", BatchStore.Bands)
      store.append(landed.select(md5(col("text")).as("band")), "init")
      val batch = corpus.filter(col("doc_id") % 3 =!= 0)
        .unionAll(landed.limit(20)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val (surv, newHashes) =
        Dedup.incrementalExactWithStore(batch, store)
      val got = surv.collect().map(_.toSeq).toSet
      val legacy = Dedup.incrementalExact(batch,
          landed.select(md5(col("text")).as("h")))
        .collect().map(_.toSeq).toSet
      assert(got == legacy,
        s"store path ${got.size} vs legacy ${legacy.size} survivors")
      // composition under survivors-only landing: append survivors'
      // hashes, rerun the same batch → everything drops
      assert(store.append(newHashes, "b1"))
      val (surv2, _) = Dedup.incrementalExactWithStore(batch, store)
      assert(surv2.count() == 0L, "rerun after landing must drop all")
    }
  }

  test("incrementalMinhash: landed band-matches dropped, within-batch " +
      "smaller-id wins, and batch-then-batch (landing ALL seen " +
      "signatures) equals one big batch") {
    val landed = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val known = Dedup.minhashSignatures(landed, 8, Dedup.DefaultSeeds)
    val batch = Seq(
      (3L, "the quick brown fox jumps over the lazy dog"), // = landed -> drop
      (5L, "the quick brown fox jumps over the lazy dog"), // dup of 3 -> drop
      (9L, "completely different content goes here xyzzy"), // survives
      (12L, "completely different content goes here xyzzy")) // dup of 9 -> drop
      .toDF("doc_id", "text")
    val oneShot = Dedup.incrementalMinhash(batch, known)
    assert(oneShot.collect().map(_.getLong(0)).toSet == Set(9L))
    // survivors carry their signatures (the appendable shape)
    assert(oneShot.columns.toSeq == Seq("doc_id", "m1", "m2", "m3", "m4"))
    // composition: the maintenance loop lands the FULL batch signature
    // table (seen, not just surviving, docs — band equality is not
    // transitive, see the operator doc); under that contract a batch
    // split at any id boundary reproduces the one-shot survivor set
    val a = batch.filter(col("doc_id") <= 5)
    val b = batch.filter(col("doc_id") > 5)
    val knownPlusA = known.unionAll(
      Dedup.minhashSignatures(a, 8, Dedup.DefaultSeeds))
    val twoStep = Dedup.incrementalMinhash(a, known).select(col("doc_id"))
      .unionAll(Dedup.incrementalMinhash(b, knownPlusA).select(col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    assert(twoStep == Set(9L), s"two-step $twoStep vs one-shot {9}")
    // nothing pairwise in the plan: band checks are aggregates, so no
    // join may carry a band-equality condition with two doc_id sides
    val plan = oneShot.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"pairwise plan:\n$plan")
  }

  test("incrementalMinhashWithStore matches incrementalMinhash, lands " +
      "the all-seen band set, and the landed-side lookup PRUNES " +
      "(PartitionFilters + pushed In, no landed-side exchange)") {
    withTempDir { tmp =>
      val corpus = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val landedSlice = corpus.filter(col("doc_id") % 3 === 0)
      val known = Dedup.minhashSignatures(landedSlice, 8, Dedup.DefaultSeeds)
      val store = BatchStore.fromSignatures(spark, s"$tmp/bands", known)
      // batch with planted near-dups of landed docs and of itself
      val batch = corpus.filter(col("doc_id") % 3 =!= 0)
        .unionAll(landedSlice.limit(20)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val (surv, newBands) = Dedup.incrementalMinhashWithStore(batch, store)
      val got = surv.collect().map(_.toSeq).toSet
      val legacy = Dedup.incrementalMinhash(batch, known)
        .collect().map(_.toSeq).toSet
      assert(got == legacy,
        s"store path ${got.size} vs legacy ${legacy.size} survivors")
      // the pruned lookup's plan: partition pruning on bp, the band IN
      // predicate pushed to parquet, and NO exchange fed by the landed
      // scan (the only exchange aggregates the post-filter result) — the
      // shape that keeps per-batch cost batch-sized at 100 B landed docs
      val someBands = Dedup.bandRows(
        Dedup.minhashSignatures(batch.limit(50), 8, Dedup.DefaultSeeds), 2)
        .select("band")
      val lookup = store.prunedLookup(someBands)
      val plan = lookup.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bp".r.findFirstIn(plan).isDefined,
        s"expected bp PartitionFilters in landed scan:\n$plan")
      assert(plan.contains("PushedFilters: [In(band"),
        s"expected pushed In(band, ...) filter:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
        s"landed-side membership must not plan a shuffled join:\n$plan")
      assert(plan.split("Exchange").length - 1 <= 1,
        s"expected at most the tiny post-filter distinct exchange:\n$plan")
      // tier 2 — batch bands past the pushdown stack cap: a BROADCAST
      // left-semi join (build side = batch bands); the landed side
      // still streams with zero shuffles. Synthetic distinct bands:
      // the fixture batch collapses to a few hundred distinct bands,
      // under the tier-1 cap
      val manyBands = spark.range(3000)
        .select(concat(lit("0_"), col("id"), lit("_t2")).as("band"))
      val plan2 = store.prunedLookup(manyBands)
        .queryExecution.executedPlan.toString
      assert(plan2.contains("BroadcastHashJoin") &&
        plan2.contains("LeftSemi"),
        s"expected broadcast left-semi membership plan:\n$plan2")
      assert(!plan2.contains("SortMergeJoin"),
        s"landed side must not shuffle in the broadcast tier:\n$plan2")
      // all-seen landing: after appending newBands, rerunning the SAME
      // batch drops every doc (its own bands are landed now)
      assert(store.append(newBands, "b1"), "append b1 must commit")
      assert(!store.append(newBands, "b1"), "replayed tag must be a no-op")
      val (surv2, nb2) = Dedup.incrementalMinhashWithStore(batch, store)
      assert(surv2.count() == 0L, "rerun after landing must drop all")
      assert(nb2.count() == 0L, "no new bands on a rerun")
      // compaction preserves membership, one file per touched bucket
      assert(store.compact() == 2, "compaction folds both batch dirs")
      val (surv3, _) = Dedup.incrementalMinhashWithStore(batch, store)
      assert(surv3.count() == 0L, "compaction must preserve membership")
      // an already-compacted store is a no-op (nothing to fold)
      assert(store.compact() == 0)
    }
  }

  test("BatchStore membership fuzz, both layouts: across all three " +
      "lookup tiers (pushed-In / broadcast-semi / shuffled join), " +
      "landedAmong is exactly the landed rows keyed in the probe, " +
      "regardless of batch-split history") {
    val rng = new scala.util.Random(20260815L)
    for (layout <- Seq(BatchStore.Bands, BatchStore.Vectors))
      withTempDir { tmp =>
      // landed universe: 400 keys, committed as 1-4 random batch splits
      val all = (0 until 400).map(i => s"key_${rng.nextInt(100000)}_$i")
      // a Vectors key carries two members: a hit returns both rows
      def rows(keys: Seq[String]): org.apache.spark.sql.DataFrame =
        if (layout == BatchStore.Bands) keys.toDF("band")
        else keys.flatMap(k => Seq(0L, 1L).map(j =>
            (k, j, Seq(j, k.length.toLong))))
          .toDF("ck", "vec_id", "fx")
      def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq.sorted
      val store = BatchStore.open(spark, s"$tmp/fuzz", layout,
        pushdownLimit = 32, broadcastLimit = 128)
      val splits = 1 + rng.nextInt(4)
      all.grouped((all.size + splits - 1) / splits).zipWithIndex
        .foreach { case (g, i) => assert(store.append(rows(g), s"f$i")) }
      // a key landed by two batches comes back twice: lookups return
      // landed rows, not a distinct
      val twice = all.take(5)
      assert(store.append(rows(twice), "dup"))
      // probe sizes chosen to land in each tier: ≤32 pushes In,
      // ≤128 broadcasts, >128 shuffles
      for (n <- Seq(1, 31, 32, 33, 100, 128, 129, 300)) {
        val hit = rng.shuffle(all).take(n / 2)
        val miss = (0 until (n - hit.size)).map(i => s"nothere_${i}_$n")
        val probe = rng.shuffle(hit ++ miss).toDF(layout.key)
        val want = hit ++ hit.filter(twice.contains)
        assert(multiset(store.landedAmong(probe)) == multiset(rows(want)),
          s"${layout.key} tier for n=$n: want ${want.size} keys")
      }
      // compaction folds the duplicates and preserves the rule
      assert(store.compact() == splits + 1)
      val probe2 = (all.take(10) ++ Seq("gone_a", "gone_b"))
        .toDF(layout.key)
      assert(multiset(store.landedAmong(probe2)) ==
        multiset(rows(all.take(10))))
    }
  }

  /** Fresh store's lookup-session clone value of the driver-listing
    * threshold, with the shared session's value set to `shared` (None
    * = unset) for the store's first lookup. Restores the shared conf. */
  private def listingThresholdOnClone(dir: String,
      shared: Option[String]): (Option[String], Option[String]) = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getAll.get(key)
    try {
      shared match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val store = BatchStore.open(spark, dir, BatchStore.Bands)
      store.append(Seq("a", "b").toDF("band"), "t0")
      assert(store.landedAmong(Seq("a").toDF("band")).count() == 1L)
      // getAll: explicitly set keys only (getOption reports defaults)
      (store.lookupSession.conf.getAll.get(key), spark.conf.getAll.get(key))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("store listing threshold: an explicit session setting (Spark's " +
      "default 32 included) is kept on the lookup clone, an unset one " +
      "gets ListingThreshold, and the shared session is never mutated") {
    withTempDir { tmp =>
      val (explicitClone, explicitShared) =
        listingThresholdOnClone(s"$tmp/a", Some("32"))
      assert(explicitClone.contains("32"),
        s"explicit 32 must survive on the clone: $explicitClone")
      assert(explicitShared.contains("32"))
      val (unsetClone, unsetShared) = listingThresholdOnClone(s"$tmp/b", None)
      assert(unsetClone.contains(BatchStore.ListingThreshold.toString),
        s"unset session must get the store threshold: $unsetClone")
      assert(unsetShared.isEmpty,
        s"the raise leaked into the shared session: $unsetShared")
    }
  }

  test("BatchStore tier-1 lookup never mutates the shared session's " +
      "parquet In-pushdown threshold (r18: the raise is scoped to a " +
      "session clone), and the raise is capped at the safe constant") {
    withTempDir { tmp =>
      val key = "spark.sql.parquet.pushdown.inFilterThreshold"
      val before = spark.conf.getOption(key)
      try {
        spark.conf.set(key, "10")
        // a store opened with a pushdownBandLimit far past the stack-
        // safety cap: the tier-1 raise must clamp to SafeInPushdownCap
        val store = BatchStore.open(spark, s"$tmp/bands", BatchStore.Bands,
          pushdownLimit = 100000)
        store.append(spark.range(100)
          .select(concat(lit("b"), col("id")).as("band")), "init")
        val probe = spark.range(5)
          .select(concat(lit("b"), col("id")).as("band"))
        // materialized lookup (the real read path) + lazy plan check
        val known = store.landedAmong(probe)
        assert(known.count() == 5)
        assert(spark.conf.get(key) == "10",
          "tier-1 lookup leaked the threshold raise into the session")
        val plan = store.prunedLookup(probe)
          .queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters: [In(band"),
          s"pushed In must survive the conf scoping:\n$plan")
      } finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("BatchStore retention is mtime-independent: scrambled directory " +
      "mtimes still expire oldest-by-COMMIT (the _commitlog order)") {
    withTempDir { tmp =>
      val store = BatchStore.open(spark, s"$tmp/bands", BatchStore.Bands)
      for (i <- 0 until 4)
        assert(store.append(spark.range(i * 10, i * 10 + 10)
          .select(concat(lit("c"), col("id")).as("band")), s"t$i"))
      // scramble: oldest commit gets the NEWEST mtime and vice versa —
      // a backup restore / cp -r scenario where mtimes lie
      for (i <- 0 until 4)
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(s"$tmp/bands", s"batch=t$i"),
          java.nio.file.attribute.FileTime.fromMillis(
            9000000L - i * 1000L))
      assert(store.batchTags() == Seq("t0", "t1", "t2", "t3"),
        "batchTags must follow commit order, not the scrambled mtimes")
      assert(store.expireBatches(2) == Seq("t0", "t1"),
        "retention must drop the two oldest-by-commit")
      val left = store.read().select("band").collect()
        .map(_.getString(0)).toSet
      assert(left == (20 until 40).map(i => s"c$i").toSet,
        s"t2+t3 bands must survive: ${left.size}")
      // the pruned log only names live dirs
      val log = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tmp/bands", "_commitlog")), "UTF-8")
      assert(!log.contains("t0") && !log.contains("t1") &&
        log.contains("t2") && log.contains("t3"), s"stale log:\n$log")
    }
  }

  test("batch=init is protected from FIFO retention by default: a " +
      "1-dir horizon never drops the bootstrap seed's membership") {
    withTempDir { tmp =>
      val corpus = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text")).limit(60)
      val sigs = Dedup.minhashSignatures(corpus, 8, Dedup.DefaultSeeds)
      val store = BatchStore.fromSignatures(spark, s"$tmp/bands", sigs)
      assert(store.append(spark.range(3)
        .select(concat(lit("x"), col("id")).as("band")), "t0"))
      assert(store.append(spark.range(3, 6)
        .select(concat(lit("x"), col("id")).as("band")), "t1"))
      // horizon 1: t0 expires, init survives (protected), t1 survives
      assert(store.expireBatches(1) == Seq("t0"))
      assert(store.batchTags() == Seq("init", "t1"))
      // the landed corpus still drops on a rerun — membership intact
      val (surv, _) = Dedup.incrementalMinhashWithStore(corpus, store)
      assert(surv.count() == 0L,
        "init membership lost: landed docs re-admitted")
      // even horizon 0 keeps the seed...
      assert(store.expireBatches(0) == Seq("t1"))
      assert(store.batchTags() == Seq("init"))
      // ...until a caller opts out explicitly
      assert(store.expireBatches(0, protectInit = false) == Seq("init"))
      assert(store.batchTags().isEmpty)
    }
  }

  test("store lookups are serialized against maintenance: concurrent " +
      "expire+compact sweeps never make knownAmong miss landed bands") {
    withTempDir { tmp =>
      val store = BatchStore.open(spark, s"$tmp/race", BatchStore.Bands)
      val landed = (0 until 200).map(i => s"rb_$i")
      landed.grouped(25).zipWithIndex.foreach { case (g, i) =>
        assert(store.append(g.toDF("band"), s"r$i"))
      }
      val probe = landed.toDF("band")
      val misses = new java.util.concurrent.atomic.AtomicInteger(0)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val maint = new Thread(() => {
        var i = 0
        while (!stop.get) {
          try {
            // keep the store churning: fresh fragmentation, then a
            // sweep that expires nothing but compacts it all away —
            // every cycle deletes the dirs a racing lookup planned
            store.append(Seq(s"extra_$i").toDF("band"), s"x$i")
            store.maintenanceTask(compactAtBatches = 2)()
          } catch {
            case e: Throwable => errors.add(s"maint: ${e.getMessage}")
          }
          i += 1
        }
      })
      maint.start()
      try {
        for (_ <- 0 until 12) {
          val got = store.landedAmong(probe).collect()
            .map(_.getString(0)).toSet
          if (!landed.forall(got.contains)) misses.incrementAndGet()
        }
      } finally { stop.set(true); maint.join(30000) }
      assert(errors.isEmpty, s"maintenance errors: $errors")
      assert(misses.get == 0,
        s"${misses.get}/12 lookups missed landed membership mid-sweep")
    }
  }

  test("cross-process owner lease: a LIVE foreign lease fails " +
      "maintenance fast with a clean error, a stale (crashed) one is " +
      "reclaimed, and membership survives the whole episode") {
    withTempDir { tmp =>
      val store = BatchStore.open(spark, s"$tmp/own", BatchStore.Bands)
      assert(store.append(Seq("a", "b").toDF("band"), "t0"))
      assert(store.append(Seq("c").toDF("band"), "t1"))
      assert(store.compact() == 2) // first mutation claims the lease
      val owner = java.nio.file.Paths.get(s"$tmp/own/_owner")
      assert(java.nio.file.Files.exists(owner), "lease file missing")
      // simulate a second LIVE process: foreign token, fresh mtime
      java.nio.file.Files.write(owner,
        "11111111-2222-3333-4444-555555555555\n".getBytes("UTF-8"))
      // appends stay unguarded (read-lock side) — only maintenance
      // enforces the single-maintainer contract
      assert(store.append(Seq("d").toDF("band"), "t2"))
      val err = intercept[IllegalStateException] { store.compact() }
      assert(err.getMessage.contains("owner lease"),
        s"wrong error: ${err.getMessage}")
      // a crashed owner's stale lease (older than the window) is
      // reclaimed instead of wedging the store forever
      java.nio.file.Files.setLastModifiedTime(owner,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 16L * 60L * 1000L))
      assert(store.compact() == 2) // compacted-0 + t2 fold
      // the reclaimed lease carries OUR token: repeat mutations pass
      store.maintenanceTask(compactAtBatches = 2)()
      val got = store.read().select("band").collect()
        .map(_.getString(0)).toSet
      assert(got == Set("a", "b", "c", "d"), s"membership lost: $got")
    }
  }

  test("replaceAllWith: appends racing a whole-store re-key are never " +
      "lost — every append that returned true is in the final member " +
      "set (the rekey reads the landed frame UNDER the write lock)") {
    withTempDir { tmp =>
      val store = BatchStore.open(spark, s"$tmp/rk", BatchStore.Vectors)
      def members(ids: Seq[Long]) =
        ids.map(i => (s"ck_${i % 7}", i, Seq(i, i + 1L)))
          .toDF("ck", "vec_id", "fx")
      assert(store.append(members(0L until 50L), "init"))
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val landedIds = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val appender = new Thread(() => {
        var i = 0
        while (!stop.get) {
          try {
            val id = 1000L + i
            if (store.append(members(Seq(id)), s"a$i")) landedIds.add(id)
          } catch {
            case e: Throwable => errors.add(s"append: ${e.getMessage}")
          }
          i += 1
        }
      })
      appender.start()
      try {
        for (_ <- 0 until 4) {
          // re-key under a different bucket function each round — the
          // r20 contract: the landed frame is read UNDER the write
          // lock, so no append's dir can be deleted while its rows are
          // absent from the replacement
          store.replaceAllWith { landed =>
            landed.select(
              concat(lit("k"), col("vec_id") % 5).as("ck"),
              col("vec_id"), col("fx"))
          }
        }
      } finally { stop.set(true); appender.join(30000) }
      assert(errors.isEmpty, s"racing append errors: $errors")
      val got = store.read().select("vec_id").distinct().collect()
        .map(_.getLong(0)).toSet
      (0L until 50L).foreach(i => assert(got.contains(i),
        s"seed member $i lost across the re-keys"))
      import scala.jdk.CollectionConverters._
      val landed = landedIds.asScala.toSeq
      assert(landed.nonEmpty, "racing appender never landed a batch")
      landed.foreach(id => assert(got.contains(id),
        s"racing append $id returned true but its membership is gone"))
    }
  }

  test("perceptual image dedup: REAL PNG decode — a lightly edited " +
      "image lands within Hamming 3 of its original, a RESCALED one " +
      "does too (2-D grid dHash), an unrelated one lands far away; " +
      "the stub path matches a hand-computed profile hash") {
    import graft.operators.Multimodal
    // deterministic gradient image + a near-identical variant (one
    // corner block brightened) + a structurally different image
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val g = f(x, y) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val base = png((x, y) => x * 3 + y)
    val nearDup = png((x, y) =>
      if (x >= 60 && y >= 60) 255 else x * 3 + y) // 16-pixel corner edit
    val different = png((x, y) => 255 - (x * 3 + y))
    // RESCALE of the base image (96×96 bilinear redraw + re-encode):
    // the payload LENGTH changes, so a 1-D length-keyed profile would
    // shift every segment — the 2-D proportional grid must not care
    val rescaled = {
      val src = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(base))
      val dst = new java.awt.image.BufferedImage(96, 96,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = dst.createGraphics()
      g2.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(src, 0, 0, 96, 96, null)
      g2.dispose()
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(dst, "png", out)
      out.toByteArray
    }
    assert(rescaled.length != base.length,
      "the rescale must change the payload length")
    val rows =
      Seq((1L, base), (2L, nearDup), (3L, different), (4L, rescaled))
    val payloads = spark.createDataFrame(
      java.util.Arrays.asList(
        rows.map(r => org.apache.spark.sql.Row(r._1, r._2)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
    val hashes = Multimodal.perceptualHashes(payloads)
    val h = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 3,
      s"near-identical images must land close: ${ham(h(1L), h(2L))}")
    assert(ham(h(1L), h(3L)) > 3,
      s"a structurally different image must not: ${ham(h(1L), h(3L))}")
    assert(ham(h(1L), h(4L)) <= 3,
      s"a rescaled image must land close: ${ham(h(1L), h(4L))}")
    assert(ham(h(3L), h(4L)) > 3,
      s"rescale must not collapse distinct images: ${ham(h(3L), h(4L))}")
    // the banded pair join surfaces exactly the near pairs
    val pairs = Multimodal.imageNearDupPairs(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)),
      s"pairs: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"the different image must pair with nothing: $pairs")
    // stub differential: profile hash of raw bytes, hand-computed on a
    // sequence engineered per segment (61 segs over 122 values: seg j
    // = values {2j, 2j+1})
    val bytes = Array.tabulate(122)(k =>
      (if ((k / 2) % 2 == 0) 10 else 200).toByte)
    val got = Multimodal.profileHash60(bytes.map(b => (b & 0xff): Int))
    var want = 0L
    for (j <- 0 until 60) // avg alternates 10,200: bit set iff j even
      if (j % 2 == 0) want |= 1L << j
    assert(got == want, s"stub hash ${got.toBinaryString}")
  }

  test("incrementalImageDedupWithStore: id-ordered batch splits " +
      "compose to the one-shot near-dup drop rule (all-seen landing), " +
      "and a landed batch fully drops on rerun") {
    import graft.operators.{BatchStore, Multimodal}
    withTempDir { tmp =>
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      val base = docs.select(col("doc_id"),
        encode(col("text"), "utf-8").as("payload"))
      val variants = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 1000L).as("doc_id"),
          encode(concat(expr("substring(text, 1, length(text) - 8)"),
            lit("zzzzzzzz")), "utf-8").as("payload"))
      val all = base.unionAll(variants)
      // one-shot: drop every pair's larger id
      val hashes = Multimodal.perceptualHashes(all)
      val dropIds = Multimodal.imageNearDupPairs(hashes)
        .select("id2").collect().map(_.getLong(0)).toSet
      val oneShot = hashes.collect().map(_.getLong(0)).toSet -- dropIds
      assert(dropIds.nonEmpty, "fixture must contain near pairs")
      // incremental: split at an id boundary, land all-seen members
      val store = BatchStore.open(spark, s"$tmp/imgs", BatchStore.Vectors)
      val b1 = all.filter(col("doc_id") < 250)
      val b2 = all.filter(col("doc_id") >= 250)
      val (s1, m1) = Multimodal.incrementalImageDedupWithStore(b1, store)
      val ids1 = s1.collect().map(_.getLong(0)).toSet
      assert(store.append(m1, "t0"))
      val (s2, m2) = Multimodal.incrementalImageDedupWithStore(b2, store)
      val ids2 = s2.collect().map(_.getLong(0)).toSet
      assert(store.append(m2, "t1"))
      assert(ids1 ++ ids2 == oneShot,
        s"batched ${ids1.size}+${ids2.size} vs one-shot ${oneShot.size}")
      // a fully-landed batch drops completely on rerun (hamming 0 to
      // its own landed hashes)
      val (s3, _) = Multimodal.incrementalImageDedupWithStore(b2, store)
      assert(s3.count() == 0L, "landed batch must drop entirely")
    }
  }

  test("tfidfTopTerms: hand-computed scores, rare terms outrank common, " +
      "top-k window plans as WindowGroupLimit") {
    val d = Seq(
      (1L, "apple apple banana the the the"),
      (2L, "banana cherry the the"),
      (3L, "durian the"))
      .toDF("doc_id", "text")
    // N=3; df: apple=1, banana=2, cherry=1, durian=1, the=3
    // doc1 scores: apple 2*3/1=6, the 3*3/3=3, banana 1*3/2=1.5
    val out = TextAnalysis.tfidfTopTerms(d, k = 2)
    val doc1 = out.filter(col("doc_id") === 1).orderBy("rnk").collect()
    assert(doc1.map(r => (r.getAs[String]("term"), r.getAs[Double]("score")))
      .toSeq == Seq(("apple", 6.0), ("the", 3.0)))
    // doc3: durian (1*3/1=3) outranks the ubiquitous "the" (1*3/3=1)
    val doc3 = out.filter(col("doc_id") === 3).orderBy("rnk").collect()
    assert(doc3.head.getAs[String]("term") == "durian")
    // the per-doc top-k must plan as WindowGroupLimit (rank pushed
    // before the final exchange), not a full window sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-k window not group-limited:\n$plan")
  }

  test("piiScan: hand-computed counts, redaction order, and " +
      "post-redaction length") {
    val d = Seq(
      (1L, "mail me at jo.doe+x@mail.example.org or jo@ex.io today"),
      (2L, "server 192.168.0.1 and 10.0.0.255 port 555-1234"),
      (3L, "digits 555-12 and 555-12345 are NOT phones, 1.2.3 not an ip"),
      (4L, "clean text with no pii at all"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiScan(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("n_emails") == 2L)
    assert(r(1L).getAs[Long]("n_phones") == 0L)
    assert(r(2L).getAs[Long]("n_ipv4") == 2L)
    assert(r(2L).getAs[Long]("n_phones") == 1L)
    // 555-12 too short, 555-12345 too long (\b excludes), 1.2.3 only 3 octets
    assert(r(3L).getAs[Long]("n_emails") == 0L)
    assert(r(3L).getAs[Long]("n_phones") == 0L)
    assert(r(3L).getAs[Long]("n_ipv4") == 0L)
    assert(r(3L).getAs[Long]("n_chars_redacted") ==
      "digits 555-12 and 555-12345 are NOT phones, 1.2.3 not an ip".length)
    assert(r(4L).getAs[Long]("n_chars_redacted") ==
      "clean text with no pii at all".length)
    // doc 2 redacted: both IPs -> <IP>, phone -> <PHONE>
    assert(r(2L).getAs[Long]("n_chars_redacted") ==
      "server <IP> and <IP> port <PHONE>".length)
  }

  test("piiRedact emits the redacted payload; pattern order pins " +
      "overlap resolution (email consumes its digits before the phone " +
      "pattern sees them)") {
    val d = Seq(
      // the local part 555-1234@... IS phone-shaped — the email pattern
      // must consume it first, leaving no <PHONE> behind
      (1L, "reach 555-1234@ex.io or call 555-9876"),
      (2L, "server 192.168.0.1 port 555-1234"),
      (3L, "clean text"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(d).collect()
      .map(x => x.getLong(0) -> x.getAs[String]("text_redacted")).toMap
    assert(r(1L) == "reach <EMAIL> or call <PHONE>")
    assert(r(2L) == "server <IP> port <PHONE>")
    assert(r(3L) == "clean text")
    // no shuffle: one narrow projection
    val plan = TextAnalysis.piiRedact(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"redaction must not shuffle:\n$plan")
  }

  test("qualityGate: each rule rejects its violation class, clean text " +
      "passes, and the whole gate is one shuffle-free projection") {
    val d = Seq(
      // passes every rule: long enough, normal words, stopwords present
      (1L, "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the quiet green woods tonight again"),
      (2L, "too short"),                                    // < 10 tokens
      (3L, ("spam " * 20).trim),                            // distinct 1/20
      (4L, "@@ ## $$ %% ^^ && ** (( )) !! ~~ ++ == ;; :: " +
        "the of and to in is that a of to"),                // symbol-heavy
      (5L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp"))  // no stopwords
      .toDF("doc_id", "text")
    val r = TextAnalysis.qualityGate(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("passes") == 1L, s"clean doc must pass: ${r(1L)}")
    assert(r(2L).getAs[Long]("n_tokens") < 10L &&
      r(2L).getAs[Long]("passes") == 0L)
    assert(r(3L).getAs[Double]("distinct_ratio") < 0.3 &&
      r(3L).getAs[Long]("passes") == 0L)
    assert(r(4L).getAs[Double]("symbol_ratio") > 0.25 &&
      r(4L).getAs[Long]("passes") == 0L)
    assert(r(5L).getAs[Long]("stopword_hits") == 0L &&
      r(5L).getAs[Long]("passes") == 0L)
    val plan = TextAnalysis.qualityGate(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gate must not shuffle:\n$plan")
  }

  test("meanPool: per-(group, dim) floor(sum/count) matches a driver-side " +
      "recompute exactly, through one exchange") {
    val d = Seq(
      (0L, Array(0.5f, -1.25f), 1),
      (1L, Array(1.5f, 0.25f), 1),
      (2L, Array(-0.5f, 2.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val r = Clustering.meanPool(d).collect()
      .map(x => (x.getInt(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3))).toMap
    def fx(x: Double): Long = math.floor(x * 1024.0 + 0.5).toLong
    // group 1: dims pooled over 2 vectors, floor division
    assert(r((1, 0L)) ==
      (math.floorDiv(fx(0.5) + fx(1.5), 2L), 2L), s"got ${r((1, 0L))}")
    assert(r((1, 1L)) ==
      (math.floorDiv(fx(-1.25) + fx(0.25), 2L), 2L))
    // group 2: singleton passes through re-quantized unchanged
    assert(r((2, 0L)) == (fx(-0.5), 1L) && r((2, 1L)) == (fx(2.0), 1L))
    val plan = Clustering.meanPool(d).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(exchanges <= 2, // partial+final of ONE logical exchange (AQE
      s"expected one logical exchange, plan:\n$plan") // may show 2 nodes)
  }

  test("bm25TopK: scores match a driver-side recompute bit-for-bit, " +
      "no-term docs are excluded, top-k plans as TakeOrderedAndProject") {
    val d = Seq(
      (1L, "spark spark fast"),
      (2L, "spark slow"),
      (3L, "customer data here now"),
      (4L, "merge merge merge merge"),
      (5L, "nothing relevant words"))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "customer", "merge")
    val q = TextAnalysis.bm25TopK(d, terms, k = 25)
    val got = q.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // same fixed-order IEEE chain as the operator and the oracle
    val D = 5L; val T = 16L
    val df = Map("spark" -> 2L, "customer" -> 1L, "merge" -> 1L)
    def score(dl: Long, tfs: Seq[Long]): Double =
      terms.zip(tfs).map { case (t, tf) =>
        val idf = (2 * D - 2 * df(t) + 1).toDouble / (2 * df(t) + 1).toDouble
        val tfp = (22 * tf * T).toDouble /
          (10 * T * tf + 3 * T + 9 * dl * D).toDouble
        idf * tfp
      }.reduce(_ + _)
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"doc 5 must be excluded: $got")
    assert(got(1L) == ((3L, score(3, Seq(2, 0, 0)))))
    assert(got(2L) == ((2L, score(2, Seq(1, 0, 0)))))
    assert(got(3L) == ((4L, score(4, Seq(0, 1, 0)))))
    assert(got(4L) == ((4L, score(4, Seq(0, 0, 4)))))
    // rare terms outrank the common one at comparable tf: customer
    // (df=1, tf=1) must beat spark (df=2, tf=1)
    assert(got(3L)._2 > got(2L)._2)
    // top-k shape pinned where the limit survives: on this 5-row local
    // fixture the kernel projection exposes maxRows <= k, so Catalyst
    // correctly ELIMINATES the limit (small-input-only rewrite) — the
    // scale shape is asserted against a real scan, where row counts
    // are unknown and the limit must plan as TakeOrderedAndProject
    val plan = TextAnalysis.bm25TopK(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        terms, k = 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$plan")
    assert(!plan.contains("Generate"),
      s"bm25TopK must not explode the token stream:\n$plan")
  }

  test("jaccardCounts narrow distinct-token frame matches the " +
      "explode+distinct formulation, including empty-token membership") {
    // docs chosen to exercise the empty-part rule: leading/trailing/
    // consecutive spaces and empty text all put "" in the token set,
    // which affects BOTH the intersection and the set sizes
    val d = Seq(
      (1L, "a b c"),
      (2L, "a b  c"),   // "" joins the set -> n=4, shares "" with 3/4
      (3L, " x "),      // "" + "x"
      (4L, ""),         // just ""
      (5L, "a b c"))
      .toDF("doc_id", "text")
    val p = Seq((1L, 2L), (1L, 5L), (3L, 4L), (2L, 3L), (1L, 4L))
      .toDF("id1", "id2")
    def composed(docs: org.apache.spark.sql.DataFrame,
        pairs: org.apache.spark.sql.DataFrame) = {
      val dt = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok")).distinct()
      val x = dt.select(col("doc_id").as("id1"), col("tok"))
      val y = dt.select(col("doc_id").as("id2"), col("tok"))
      val inter = pairs.join(x, "id1").join(y, Seq("id2", "tok"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("intersection"))
      val sizes = dt.groupBy("doc_id").agg(count(lit(1)).as("n"))
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
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(rows(Dedup.jaccardCounts(d, p)) == rows(composed(d, p)))
    // corpus slice too
    val real = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(100)
      .filter(col("text").isNotNull)
    val rp = Seq((0L, 1L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    assert(rows(Dedup.jaccardCounts(real, rp)) == rows(composed(real, rp)))
    // the distinct-token frame no longer re-aggregates the corpus: no
    // aggregate keyed on (doc_id, tok) anywhere in the plan
    val plan = Dedup.jaccardCounts(real, rp)
      .queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*HashAggregate\\(keys=\\[doc_id[^\\]]*tok.*"),
      s"jaccardCounts must not distinct per (doc, tok):\n$plan")
  }

  test("SimHashFingerprint kernel: simhash matches the " +
      "explode+distinct+groupBy formulation and plans shuffle-free") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    // edges: empty token participation (consecutive/trailing spaces —
    // explode emitted "" and distinct kept one), duplicate tokens
    // (distinct-before-vote), empty text ([""] -> one empty token),
    // null text (dropped), unicode tokens, 16 and 60 bit widths
    val edges = Seq(
      (900001L, "a a a b"),
      (900002L, "a  b "),
      (900003L, ""),
      (900004L, null),
      (900005L, "café 世界 café"))
      .toDF("doc_id", "text")
    val all = real.unionAll(edges)
    for (bits <- Seq(16, 60)) {
      val bad = Dedup.simhash(all, nBits = bits)
        .withColumnRenamed("simhash", "k")
        .join(Dedup.composedSimhash(all, nBits = bits)
          .withColumnRenamed("simhash", "c"), Seq("doc_id"), "full_outer")
        .filter(!(col("k") <=> col("c"))).count()
      assert(bad == 0L, s"$bad simhash rows differ at nBits=$bits")
    }
    val plan = Dedup.simhash(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        nBits = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"simhash must plan shuffle-free:\n$plan")
  }

  test("TermCounts kernel: the (doc, term, tf) frame matches the " +
      "explode+groupBy formulation and tfidf drops its widest exchange") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    val edges = Seq(
      (900001L, "a a  b a"), // multiplicity + empty part skipped
      (900002L, ""),
      (900003L, "   "),
      (900004L, "café café 世界"))
      .toDF("doc_id", "text")
    val all = real.unionAll(edges).filter(col("text").isNotNull)
    val kern = all.select(col("doc_id"),
      explode(graft.functions.TermCounts(col("text")))
        .as(Seq("term", "tf")))
    val comp = all.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val bad = kern.join(comp, Seq("doc_id", "term"), "full_outer")
      .filter(!(kern("tf") <=> comp("tf"))).count()
    assert(bad == 0L, s"$bad (doc, term, tf) rows differ")
    // tfidf's plan: the only aggregation exchange left is the df one —
    // no HashAggregate keyed on (doc_id, term) anywhere
    val plan = TextAnalysis.tfidfTopTerms(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .filter(col("text").isNotNull))
      .queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*HashAggregate\\(keys=\\[doc_id[^\\]]*term.*"),
      s"tfidf must not re-aggregate per (doc, term):\n$plan")
  }

  test("SplitCount kernel matches size(split(...)) in both modes " +
      "(corpus + whitespace edges, incl. trim composition)") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("text")).limit(300)
    val edges = Seq("", " ", "  ", "a", " a ", "a  b", "\ta\nb ",
      "xy\fz\r w", "é 世界", null).toDF("text")
    val all = real.unionAll(edges)
    val bad = all.select(
        graft.functions.SplitCount(col("text"), bySpaceOnly = true)
          .as("k1"),
        size(split(col("text"), " ")).cast("long").as("c1"),
        graft.functions.SplitCount(trim(col("text")), bySpaceOnly = false)
          .as("k2"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("c2"))
      .filter(!(col("k1") <=> col("c1")) || !(col("k2") <=> col("c2")))
      .count()
    assert(bad == 0L, s"$bad SplitCount rows differ from size(split)")
  }

  test("Md5Hash60 kernel: the 60-bit coin matches the composed " +
      "conv(substring(md5)) form AND the driver-side PortableHash twin") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("text")).filter(col("text").isNotNull).limit(300)
    val edges = Seq("", " ", "0", "-1", "café 世界 😀",
      "a" * 1000).toDF("text")
    val all = real.unionAll(edges)
    val bad = all.select(
        graft.operators.Dedup.md5Hash60(col("text")).as("k"),
        graft.operators.Dedup.composedMd5Hash60(col("text")).as("c"))
      .filter(!(col("k") <=> col("c"))).count()
    assert(bad == 0L, s"$bad md5Hash60 rows differ from composed")
    // the JVM twin the bucket routers / band stores rely on
    for (s <- Seq("", "hello", "café 世界", "12345")) {
      val spark60 = Seq(s).toDF("t")
        .select(graft.operators.Dedup.md5Hash60(col("t"))).head().getLong(0)
      assert(spark60 == graft.model.PortableHash.md5Long60(s),
        s"PortableHash twin diverges on '$s'")
    }
    // coins are in [0, 2^60)
    val range = all.select(graft.operators.Corpus
        .sampleHash(col("text")).as("h"))
      .agg(min(col("h")), max(col("h"))).head()
    assert(range.getLong(0) >= 0L && range.getLong(1) < (1L << 60))
  }

  test("BpeishTokenCount kernel matches the regexp_count alternation " +
      "(corpus + class-boundary edges)") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("text")).limit(300)
    // edges: run boundaries at every class transition, symbols between
    // runs, multibyte codepoints (each = ONE symbol match), whitespace
    // contributing nothing, empty and null text
    val edges = Seq("", " ", "abc", "abc123", "a1b2", "!@#", "a-b.c",
      "café 世界 😀", "A1 b!2\tC", "12 34", null).toDF("text")
    val all = real.unionAll(edges)
    val bad = all.select(
        graft.functions.BpeishTokenCount(col("text")).as("k"),
        regexp_count(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("c"))
      .filter(!(col("k") <=> col("c"))).count()
    assert(bad == 0L, s"$bad BpeishTokenCount rows differ from regexp_count")
  }

  test("quantizer kernels are bit-exact with the transform-lambda " +
      "forms (incl. NaN-poisoned maxabs, null elements, zero vectors)") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("embedding")).limit(200)
    val edges = Seq(
      Array(0.0f, 0.0f, 0.0f),               // all-zero -> zero bytes
      Array(-1.0f, 0.5f, 1.0f),
      Array(Float.NaN, 1.0f, -2.0f),         // NaN poisons maxabs
      Array(Float.PositiveInfinity, 1.0f),
      Array(-0.0f, 1e-30f, -1e30f))
      .toDF("embedding")
    val all = real.unionAll(edges)
    val badQ = all.select(
        graft.operators.Similarity.scalarQuantize(col("embedding"))
          .as("k"),
        graft.operators.Similarity
          .composedScalarQuantize(col("embedding")).as("c"))
      .filter(!(col("k") <=> col("c"))).count()
    assert(badQ == 0L, s"$badQ int8-quantize rows differ")
    // fixed-point: kernel vs the transform form, with a null element
    val withNull = all.select(col("embedding")).unionAll(
      Seq(1).toDF("x").select(array(lit(0.25f),
        lit(null).cast("float"), lit(-0.75f)).as("embedding")))
    val badF = withNull.select(
        graft.operators.Clustering.quantize(col("embedding")).as("k"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * lit(1024.0d) + lit(0.5d)).cast("long"))
          .as("c"))
      .filter(!(col("k") <=> col("c"))).count()
    assert(badF == 0L, s"$badF fixed-point-quantize rows differ")
  }

  test("NormalizedFingerprint kernel matches the lower + regex + " +
      "md5Hash60 chain (corpus + whitespace/unicode edges)") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    val edges = Seq(
      (900001L, "  A\t\tB  "),       // edge runs -> edge single spaces
      (900002L, "a b"),
      (900003L, ""),
      (900004L, null),
      (900005L, "CAFÉ\n世界K"))  // Kelvin sign lowercases to 'k'
      .toDF("doc_id", "text")
    val all = real.unionAll(edges)
    val bad = all
      .select(col("doc_id"),
        graft.functions.NormalizedFingerprint(col("text")).as("k"))
      .join(graft.operators.TextAnalysis.composedFingerprint(all)
        .withColumnRenamed("fingerprint", "c"), Seq("doc_id"), "full_outer")
      .filter(!(col("k") <=> col("c"))).count()
    assert(bad == 0L, s"$bad fingerprint rows differ from composed")
  }

  test("fingerprint is whitespace-insensitive but content-sensitive") {
    val d = Seq(
      (1L, "hello   world"), (2L, "hello world"), (3L, "hello worlds"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("native vector kernels are bit-exact with the composed-builtin " +
      "formulas (sf0.1 differential)") {
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(200)
    // adversarial rows: negative halves (round-half-away-from-zero) and
    // near-zero components that a float fold could flip
    val extra = Seq(
      (900001L, Array(-0.0000005f, 0.0000005f, -2.5f, 2.5f) ++
        Array.fill(60)(-0.25f)),
      (900002L, Array.tabulate(64)(i => (if (i % 2 == 0) -1 else 1) *
        (i + 0.5f) / 1000000f)))
      .toDF("vec_id", "embedding")
    val all = e.unionAll(extra)
    import org.apache.spark.sql.Column
    def hofDot(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val hofCos = hofDot(col("e1"), col("e2")) /
      sqrt(hofDot(col("e1"), col("e1"))) /
      sqrt(hofDot(col("e2"), col("e2")))
    val pairs = all.select(col("vec_id").as("id1"),
        col("embedding").as("e1"))
      .join(all.select((col("vec_id") + 1).as("id1"),
        col("embedding").as("e2")), "id1")
    val cosDiff = pairs.select(
        graft.functions.CosineSimilarity(col("e1"), col("e2")).as("native"),
        hofCos.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(cosDiff == 0L, s"$cosDiff cosine rows differ from HOF fold")
    // sign projections vs the zip_with/aggregate integer fold, plane 0..3
    val signs = (0 until 4).map { p =>
      (1 to 64).map { d =>
        if (graft.model.PortableHash.md5Long60(s"graft0_${p}_$d") % 2 == 0)
          1L
        else -1L
      }
    }
    val hofDots = array(signs.map { s =>
      aggregate(
        zip_with(col("embedding"), typedLit(s), (x, sg) =>
          round(x.cast("double") * 1000000).cast("long") * sg),
        lit(0L), (acc, v) => acc + v)
    }: _*)
    val projDiff = all.select(
        graft.functions.SignProjections(col("embedding"), signs)
          .as("native"),
        hofDots.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(projDiff == 0L, s"$projDiff projection rows differ from HOF fold")
  }

  test("round-16 native kernels (IntDotProduct, NearestCentroids) are " +
      "bit-exact with the composed-builtin folds they replaced") {
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(200)
    import org.apache.spark.sql.Column
    // IntDotProduct vs the zip_with/aggregate long fold, over int8
    // quantized pairs (the quantized-rescore shape)
    val pairs = e.select(col("vec_id").as("id1"),
        Similarity.scalarQuantize(col("embedding")).as("q1"))
      .join(e.select((col("vec_id") + 1).as("id1"),
        Similarity.scalarQuantize(col("embedding")).as("q2")), "id1")
    val hofIntDot = aggregate(
      zip_with(col("q1"), col("q2"), (a, b) => a.cast("long") * b.cast("long")),
      lit(0L), (acc, x) => acc + x)
    val dotDiff = pairs.select(
        graft.functions.IntDotProduct(col("q1"), col("q2")).as("native"),
        hofIntDot.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(dotDiff == 0L, s"$dotDiff int-dot rows differ from HOF fold")
    // IntSquaredL2 vs the zip_with/aggregate (x-y)^2 fold on the same
    // quantized pairs (the IVF candidate-rescore shape)
    val hofL2 = aggregate(
      zip_with(col("q1"), col("q2"),
        (a, b) => (a.cast("long") - b.cast("long")) *
          (a.cast("long") - b.cast("long"))),
      lit(0L), (acc, x) => acc + x)
    val l2Diff = pairs.select(
        graft.functions.IntSquaredL2(col("q1"), col("q2")).as("native"),
        hofL2.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(l2Diff == 0L, s"$l2Diff int-l2 rows differ from HOF fold")
    // NearestCentroids vs array_min / slice(array_sort) over the
    // per-centroid struct array (the k-means assignment + probe shapes)
    val fx = e.select(col("vec_id"),
      Clustering.quantize(col("embedding")).as("fx"))
    val cents = fx.filter(col("vec_id") % 37 === 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1).toSeq
    assert(cents.size >= 3, s"fixture too small: ${cents.size} centroids")
    def d2(a: Column, b: Column) = aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (s, x) => s + x)
    val hofDists = array(cents.map { case (cid, cfx) =>
      struct(d2(col("fx"), array(cfx.map(lit): _*)).as("d"),
        lit(cid).as("cid"))
    }: _*)
    val nnDiff = fx.select(
        element_at(graft.functions.NearestCentroids(col("fx"), cents, 1), 1)
          .as("native"),
        array_min(hofDists).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(nnDiff == 0L, s"$nnDiff nearest rows differ from array_min fold")
    val topNDiff = fx.select(
        graft.functions.NearestCentroids(col("fx"), cents, 2).as("native"),
        slice(array_sort(hofDists), 1, 2).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(topNDiff == 0L, s"$topNDiff top-2 rows differ from sorted slice")
  }

  test("native kernels pin malformed-input semantics: null elements " +
      "skip in Int kernels, NearestCentroids validates and throws") {
    // IntDotProduct / IntSquaredL2: a null element contributes 0 —
    // identical for Generic and Unsafe array data (r16 ADVICE)
    val withNulls = Seq(1)
      .toDF("x")
      .select(
        array(lit(2L), lit(null).cast("long"), lit(3L)).as("a"),
        array(lit(5L), lit(7L), lit(11L)).as("b"))
    val r = withNulls.select(
      graft.functions.IntDotProduct(col("a"), col("b")).as("dot"),
      graft.functions.IntSquaredL2(col("a"), col("b")).as("l2")).head()
    assert(r.getLong(0) == 2L * 5L + 3L * 11L, s"dot with null hole: $r")
    assert(r.getLong(1) == 9L + 64L, s"l2 with null hole: $r")
    // NearestCentroids: short vector and null-holed vector both fail
    // fast with a diagnostic instead of assigning to a wrong centroid
    val cents = Seq(1L -> Array(0L, 0L, 0L), 2L -> Array(1L, 1L, 1L))
    val short = Seq(1).toDF("x")
      .select(array(lit(1L), lit(2L)).as("fx"))
    val shortErr = intercept[Exception] {
      short.select(graft.functions.NearestCentroids(col("fx"), cents, 1))
        .collect()
    }
    assert(shortErr.toString.contains("graft_nearest_centroids") ||
      Option(shortErr.getCause).exists(
        _.toString.contains("graft_nearest_centroids")),
      s"short-vector error must carry the kernel name: $shortErr")
    val holed = Seq(1).toDF("x")
      .select(array(lit(1L), lit(null).cast("long"), lit(2L)).as("fx"))
    val holedErr = intercept[Exception] {
      holed.select(graft.functions.NearestCentroids(col("fx"), cents, 1))
        .collect()
    }
    assert(holedErr.toString.contains("graft_nearest_centroids") ||
      Option(holedErr.getCause).exists(
        _.toString.contains("graft_nearest_centroids")),
      s"null-element error must carry the kernel name: $holedErr")
  }

  test("QualitySignals kernel is bit-exact with the composed-builtin " +
      "soup it replaced (corpus + adversarial whitespace/unicode edges)") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text"))
      .limit(300)
    // adversarial rows: the exact split-on-SPACE-only semantics (tabs
    // and newlines stay INSIDE tokens), consecutive/leading/trailing
    // spaces, every Java-regex \s char, multibyte UTF-8 (2/3/4-byte
    // codepoints — each counts once as char AND symbol), stopwords
    // with multiplicity, empty and whitespace-only and NULL text
    val edges = Seq(
      ("e1", "the the the"),
      ("e2", "a\tb c\nd"),            // tab/newline inside tokens
      ("e3", "  leading and   runs  "),
      ("e4", "café 世界 😀 naïve"),
      ("e5", "x\u000By\fz\r w"),    // VT, FF, CR are \s for n_chars
      ("e6", ""),
      ("e7", "   "),
      ("e8", null),
      ("e9", "a-b.c @#$ 12,34 e_f"),
      ("e10", "is is is of of the und zu"))
      .toDF("id", "text")
    val all = real.unionAll(edges)
    val k = graft.operators.TextAnalysis.qualitySignals(col("text"))
    val c = graft.operators.TextAnalysis
      .composedQualitySignals(col("text"))
    val bad = all.select(col("id"),
        k.nTokens.as("kn"), c.nTokens.as("cn"),
        k.meanTokenLen.as("km"), c.meanTokenLen.as("cm"),
        k.symbolRatio.as("ks"), c.symbolRatio.as("cs"),
        k.distinctRatio.as("kd"), c.distinctRatio.as("cd"),
        k.stopwordHits.as("kh"), c.stopwordHits.as("ch"))
      .filter(!(col("kn") <=> col("cn")) || !(col("km") <=> col("cm")) ||
        !(col("ks") <=> col("cs")) || !(col("kd") <=> col("cd")) ||
        !(col("kh") <=> col("ch")))
    assert(bad.isEmpty, s"kernel != composed:\n${bad.head(5).mkString("\n")}")
    // the gate verdict built on the kernel matches one built composed
    val kp = graft.operators.TextAnalysis.qualityPasses(col("text"))
    val cs = graft.operators.TextAnalysis
      .composedQualitySignals(col("text"))
    val cp = cs.nTokens >= 10L && cs.nTokens <= 100000L &&
      cs.meanTokenLen >= 2.0 && cs.meanTokenLen <= 12.0 &&
      cs.symbolRatio <= 0.25 && cs.distinctRatio >= 0.3 &&
      cs.stopwordHits >= 1L
    val vDiff = all.select(kp.as("k"), cp.as("c"))
      .filter(!(col("k") <=> col("c"))).count()
    assert(vDiff == 0L, s"$vDiff verdict rows differ")
  }

  test("LexiconHits kernel: langId matches the explode+groupBy " +
      "formulation row-for-row and plans with ZERO exchanges") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .limit(300)
    // edges: leading/trailing/runs-of whitespace (Java split keeps the
    // leading and trailing EMPTY parts with limit -1 — n_tokens counts
    // them), tabs/VT/FF/CR as separators, uppercase stopwords (lower()
    // first), words shared across lexicons ("de"/"la"/"un"), unicode,
    // empty text ([""] -> n_tokens=1), all-und, null text (dropped)
    val edges = Seq(
      ("e1", " The\tDER la "),
      ("e2", "zzz qqq"),
      ("e3", "de de de la la un"),
      ("e4", "café 世界 THE"),
      ("e5", "ab\fc\rd\ne"),
      ("e6", ""),
      ("e7", "   "),
      ("e8", null))
      .toDF("doc_id", "text")
    val all = real.unionAll(edges)
    val kern = graft.operators.TextAnalysis.langId(all)
    val comp = graft.operators.TextAnalysis.composedLangId(all)
    assert(kern.columns.sameElements(comp.columns))
    val kk = kern.columns.map(c => kern(c).as(s"k_$c"))
    val cc = comp.columns.map(c => comp(c).as(s"c_$c"))
    val joined = kern.select(col("doc_id"), struct(kk.toIndexedSeq: _*).as("k"))
      .join(comp.select(col("doc_id"), struct(cc.toIndexedSeq: _*).as("c")),
        Seq("doc_id"), "full_outer")
    val bad = joined.filter(!(col("k") <=> col("c")))
    assert(bad.isEmpty,
      s"kernel != composed:\n${bad.head(5).mkString("\n")}")
    // null-text doc must be absent from BOTH (the explode-drop parity)
    assert(kern.filter(col("doc_id") === "e8").isEmpty)
    // the kernel plan is a narrow projection: zero exchanges (asserted
    // on the bare scan — the fixture union above carries a limit
    // exchange of its own)
    val plan = graft.operators.TextAnalysis.langId(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"langId must plan shuffle-free:\n$plan")
  }

  test("RepetitionSignals kernel: repetition matches the " +
      "3-exchange formulation row-for-row and plans with ZERO exchanges") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .limit(300)
    // edges: empty parts count as tokens AND appear in trigrams
    // (consecutive spaces), repeated trigram runs (max multiplicity
    // from overlapping windows), < 3 tokens -> max 0, empty text
    // ([""] -> n_tokens=1), null text (dropped)
    val edges = Seq(
      ("e1", "a a a a a a"),       // "a a a" x4
      ("e2", "x  y z"),            // empty middle part
      ("e3", "only two"),
      ("e4", ""),
      ("e5", "   "),               // ["","","",""] all empty parts
      ("e6", null),
      ("e7", "p q p q p q p q"))   // alternating period-2 repeat
      .toDF("doc_id", "text")
    val all = real.unionAll(edges)
    val kern = graft.operators.TextAnalysis.repetition(all)
    val comp = graft.operators.TextAnalysis.composedRepetition(all)
    val kk = kern.columns.map(c => kern(c).as(s"k_$c"))
    val cc = comp.columns.map(c => comp(c).as(s"c_$c"))
    val joined = kern.select(col("doc_id"), struct(kk.toIndexedSeq: _*).as("k"))
      .join(comp.select(col("doc_id"), struct(cc.toIndexedSeq: _*).as("c")),
        Seq("doc_id"), "full_outer")
    val bad = joined.filter(!(col("k") <=> col("c")))
    assert(bad.isEmpty,
      s"kernel != composed:\n${bad.head(5).mkString("\n")}")
    // hand-pinned: 6x "a" has trigram "a a a" four times
    val e1 = kern.filter(col("doc_id") === "e1").head()
    assert(e1.getLong(1) == 6L && e1.getLong(3) == 4L, s"e1: $e1")
    val plan = graft.operators.TextAnalysis.repetition(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetition must plan shuffle-free:\n$plan")
  }

  test("kernel fuzz: all seven one-pass text kernels (QualitySignals, " +
      "LexiconHits, RepetitionSignals, TermHits, TermCounts, SplitCount, " +
      "SimHashFingerprint) match their composed forms on 220 seeded " +
      "random whitespace/unicode-heavy strings") {
    val rnd = new scala.util.Random(0x17C0FFEE)
    // word pool: every lexicon word (case-variants exercise lower()),
    // unicode incl. U+212A KELVIN SIGN (lowercases to ASCII 'k' —
    // byte length CHANGES under toLowerCase), multibyte, punctuation
    val words = Seq("the", "a", "of", "and", "to", "in", "is", "that",
      "der", "die", "das", "und", "zu", "ist", "nicht", "ein",
      "el", "la", "los", "y", "de", "es", "un", "una",
      "le", "les", "et", "est", "une",
      "THE", "Der", "zzz", "q1!", "café", "世界",
      "😀", "ß", "\u212A", "a-b", "x.y", "12,34")
    val ws = Seq(" ", " ", " ", "\t", "\n", "", "\f", "\r",
      "  ", " \t ", "   ")
    def mk(): String = {
      val sb = new StringBuilder
      if (rnd.nextBoolean()) sb.append(ws(rnd.nextInt(ws.size)))
      for (_ <- 0 until rnd.nextInt(30))
        sb.append(words(rnd.nextInt(words.size)))
          .append(ws(rnd.nextInt(ws.size)))
      sb.toString
    }
    val fuzz = (0 until 200).map(i => (s"f$i", mk())) ++
      // high-repetition strings for the trigram max path
      (0 until 20).map(i =>
        (s"r$i", Seq.fill(3 + rnd.nextInt(20))(
          words(rnd.nextInt(6))).mkString(" ")))
    val docs = fuzz.toDF("doc_id", "text")
    // 1. quality signals
    val k1 = graft.operators.TextAnalysis.qualitySignals(col("text"))
    val c1 = graft.operators.TextAnalysis
      .composedQualitySignals(col("text"))
    val bad1 = docs.select(
        struct(k1.nTokens, k1.meanTokenLen, k1.symbolRatio,
          k1.distinctRatio, k1.stopwordHits).as("k"),
        struct(c1.nTokens, c1.meanTokenLen, c1.symbolRatio,
          c1.distinctRatio, c1.stopwordHits).as("c"))
      .filter(!(col("k") <=> col("c"))).count()
    assert(bad1 == 0L, s"$bad1 qualitySignals fuzz rows differ")
    // 2. language ID
    val badL = graft.operators.TextAnalysis.langId(docs)
      .select(col("doc_id"), struct(col("n_tokens"), col("de_hits"),
        col("en_hits"), col("es_hits"), col("fr_hits"),
        col("predicted_lang")).as("k"))
      .join(graft.operators.TextAnalysis.composedLangId(docs)
        .select(col("doc_id"), struct(col("n_tokens"), col("de_hits"),
          col("en_hits"), col("es_hits"), col("fr_hits"),
          col("predicted_lang")).as("c")), Seq("doc_id"), "full_outer")
      .filter(!(col("k") <=> col("c"))).count()
    assert(badL == 0L, s"$badL langId fuzz rows differ")
    // 3. repetition
    val badR = graft.operators.TextAnalysis.repetition(docs)
      .select(col("doc_id"), struct(col("n_tokens"),
        col("distinct_ratio"), col("max_trigram_count")).as("k"))
      .join(graft.operators.TextAnalysis.composedRepetition(docs)
        .select(col("doc_id"), struct(col("n_tokens"),
          col("distinct_ratio"), col("max_trigram_count")).as("c")),
        Seq("doc_id"), "full_outer")
      .filter(!(col("k") <=> col("c"))).count()
    assert(badR == 0L, s"$badR repetition fuzz rows differ")
    // 4. the scalar kernels: TermHits and SplitCount vs their
    //    composed-builtin formulas, compared as one aligned struct
    val terms = Seq("the", "de", "café", "q1!")
    val kTh = graft.functions.TermHits(col("text"), terms)
    val kSide = struct(
      (kTh.getField("dl").as("dl") +:
        terms.indices.map(i => kTh.getField(s"tf_$i").as(s"tf_$i"))) ++
      Seq(graft.functions.SplitCount(col("text"), bySpaceOnly = true)
          .as("sc_space"),
        graft.functions.SplitCount(trim(col("text")), bySpaceOnly = false)
          .as("sc_ws")): _*)
    val cSide = struct(
      (size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(split(col("text"), " "), x => x === t))
            .cast("long").as(s"tf_$i")
        }) ++
      Seq(size(split(col("text"), " ")).cast("long").as("sc_space"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("sc_ws")): _*)
    val badS = docs.select(kSide.as("k"), cSide.as("c"))
      .filter(!(col("k") <=> col("c"))).count()
    assert(badS == 0L, s"$badS TermHits/SplitCount fuzz rows differ")
    val badSh = graft.operators.Dedup.simhash(docs, nBits = 24)
      .withColumnRenamed("simhash", "k")
      .join(graft.operators.Dedup.composedSimhash(docs, nBits = 24)
        .withColumnRenamed("simhash", "c"), Seq("doc_id"), "full_outer")
      .filter(!(col("k") <=> col("c"))).count()
    assert(badSh == 0L, s"$badSh simhash fuzz rows differ")
    val badTc = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.functions.TermCounts(col("text")))
          .as(Seq("term", "tf")))
      .join(docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("ctf")),
        Seq("doc_id", "term"), "full_outer")
      .filter(!(col("tf") <=> col("ctf"))).count()
    assert(badTc == 0L, s"$badTc TermCounts fuzz rows differ")
  }

  test("TermHits kernel: bm25TopK matches the explode+groupBy " +
      "formulation row-for-row and no longer explodes the token stream") {
    val real = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    // edges planted via union: case sensitivity ("The" != "the"),
    // empty/whitespace-only docs (dl=0 -> excluded like the composed
    // explode), multi-space runs, term-only docs, null text
    val edges = Seq(
      (900001L, "the the the data"),
      (900002L, "The THE data"),
      (900003L, ""),
      (900004L, "   "),
      (900005L, "data  vector\tdata"),
      (900006L, null))
      .toDF("doc_id", "text")
    val all = real.unionAll(edges)
    val terms = Seq("the", "data", "vector", "merge")
    val kern = graft.operators.TextAnalysis.bm25TopK(all, terms, k = 50)
    val comp = graft.operators.TextAnalysis
      .composedBm25TopK(all, terms, k = 50)
    val kk = kern.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSeq
    val cc = comp.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSeq
    assert(kk == cc, s"kernel top-k != composed top-k:\n$kk\nvs\n$cc")
    // per-token rows are gone: no Generate (explode) in the plan
    val plan = kern.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"bm25TopK must not explode the token stream:\n$plan")
  }

  test("bm25TopKMulti: the query-1 slice ranks exactly like the " +
      "single-query operator, the quantized sum is partition-" +
      "independent, and the plan window-limits per query") {
    val realDocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val q = Seq((1L, "spark"), (1L, "customer"), (1L, "merge"),
        (2L, "vector"), (2L, "hash"), (2L, "join"))
      .toDF("query_id", "term")
    val multi = TextAnalysis.bm25TopKMulti(realDocs, q, k = 10)
    val slice = multi.filter(col("query_id") === 1L).orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val single = TextAnalysis
      .bm25TopK(realDocs, Seq("spark", "customer", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(slice == single,
      s"multi slice $slice != single-query ranking $single")
    // the fixed-point per-term scores sum exactly in ANY aggregation
    // order — the property the quantization buys
    val rep = TextAnalysis.bm25TopKMulti(realDocs.repartition(13), q,
      k = 10).collect().map(_.toSeq).toSet
    assert(rep == multi.collect().map(_.toSeq).toSet,
      "result depends on input partitioning")
    val plan = multi.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must plan as WindowGroupLimit:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the query table must broadcast onto the token stream:\n$plan")
  }

  test("multimodal feature extraction is deterministic and bounded") {
    val d = Seq((1L, "payload-one"), (2L, "payload-two"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
    val f = Multimodal.extractFeatures(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Long]("n_bytes") == 11L)
    assert(f(1L).getAs[Long]("width") >= 0 && f(1L).getAs[Long]("width") < 1024)
    assert(f(1L).getAs[Long]("channels") == 3L)
    // deterministic across runs
    val again = Multimodal.extractFeatures(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("width")).toMap
    assert(again(1L) == f(1L).getAs[Long]("width"))
  }

  test("multimodal decode reads real PNG and JPEG headers") {
    import java.awt.image.BufferedImage
    def imageBytes(w: Int, h: Int, imgType: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, imgType)
      img.setRGB(0, 0, 0xff8040) // non-trivial pixel so encoders emit data
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      out.toByteArray
    }
    val png = imageBytes(31, 17, BufferedImage.TYPE_INT_RGB, "png")
    val pngA = imageBytes(5, 9, BufferedImage.TYPE_INT_ARGB, "png")
    val jpg = imageBytes(23, 41, BufferedImage.TYPE_3BYTE_BGR, "jpg")
    val d = Seq((1L, png), (2L, pngA), (3L, jpg),
        (4L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val f = Multimodal.extractFeatures(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Long]("width") == 31L)
    assert(f(1L).getAs[Long]("height") == 17L)
    assert(f(1L).getAs[Long]("channels") == 3L)
    assert(f(2L).getAs[Long]("width") == 5L)
    assert(f(2L).getAs[Long]("height") == 9L)
    assert(f(2L).getAs[Long]("channels") == 4L) // RGBA
    assert(f(3L).getAs[Long]("width") == 23L)
    assert(f(3L).getAs[Long]("height") == 41L)
    assert(f(3L).getAs[Long]("channels") == 3L)
    // undecodable payload falls back to the deterministic stub
    assert(f(4L).getAs[Long]("width") < 1024L)
    assert(f(4L).getAs[Long]("n_bytes") == 12L)
  }

  test("multimodal audio decode reads real WAV and AIFF headers and " +
      "stubs unclaimable payloads SQL-reproducibly") {
    import javax.sound.sampled._
    def audioBytes(t: AudioFileFormat.Type, rate: Float, channels: Int,
        bits: Int, nFrames: Int): Array[Byte] = {
      // WAV is little-endian PCM, AIFF big-endian — match the container
      val fmt = new AudioFormat(rate, bits, channels, true,
        t == AudioFileFormat.Type.AIFF)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(
          new Array[Byte](nFrames * fmt.getFrameSize)), fmt, nFrames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, t, out)
      out.toByteArray
    }
    val wav = audioBytes(AudioFileFormat.Type.WAVE, 44100f, 2, 16, 100)
    val aiff = audioBytes(AudioFileFormat.Type.AIFF, 8000f, 1, 8, 50)
    val text = "not audio".getBytes("UTF-8")
    val d = Seq((1L, wav), (2L, aiff), (3L, text)).toDF("doc_id", "payload")
    val f = Multimodal.extractAudioFeatures(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Long]("sample_rate") == 44100L)
    assert(f(1L).getAs[Long]("channels") == 2L)
    assert(f(1L).getAs[Long]("bits_per_sample") == 16L)
    assert(f(1L).getAs[Long]("frames") == 100L)
    assert(f(1L).getAs[Long]("n_bytes") == wav.length.toLong)
    assert(f(2L).getAs[Long]("sample_rate") == 8000L)
    assert(f(2L).getAs[Long]("channels") == 1L)
    assert(f(2L).getAs[Long]("bits_per_sample") == 8L)
    assert(f(2L).getAs[Long]("frames") == 50L)
    // unclaimable payload: the stub must match the oracle's md5
    // derivation field-for-field (ext_multimodal_audio's SQL)
    val hex = java.security.MessageDigest.getInstance("MD5").digest(text)
      .map("%02x".format(_)).mkString
    def h(i: Int) = java.lang.Long.parseLong(hex.substring(i, i + 4), 16)
    assert(f(3L).getAs[Long]("sample_rate") == 8000L + h(0) % 36100)
    assert(f(3L).getAs[Long]("channels") == 1L + h(4) % 2)
    assert(f(3L).getAs[Long]("bits_per_sample") == 8L * (1 + h(8) % 2))
    assert(f(3L).getAs[Long]("frames") == text.length.toLong)
    // deterministic across runs (stub and real parse alike)
    val again = Multimodal.extractAudioFeatures(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("sample_rate")).toMap
    assert(again == f.view.mapValues(_.getAs[Long]("sample_rate")).toMap)
  }

  test("multimodal resize really rescales claimable images and stubs " +
      "the rest deterministically") {
    import java.awt.image.BufferedImage
    def pngBytes(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out), "no png writer")
      out.toByteArray
    }
    val d = Seq((1L, pngBytes(8, 8)),
        (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = Multimodal.resizeImages(d, 4, 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the real path re-encodes an actual 4x4 PNG (bigger than the
    // 32-byte stub hash and itself a decodable PNG-sized payload)
    assert(out(1L).getAs[Long]("width") == 4L)
    assert(out(1L).getAs[Long]("n_bytes_out") > 32L)
    // real resize is deterministic: same input -> same output hash
    val again = Multimodal.resizeImages(d, 4, 4).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("resized_md5")).toMap
    assert(again(1L) == out(1L).getAs[String]("resized_md5"))
    // stub path: exactly the SQL-reproducible 32-byte hash payload
    assert(out(2L).getAs[Long]("n_bytes_out") == 32L)
    assert(again(2L) == out(2L).getAs[String]("resized_md5"))
  }

  test("frame sampling fans one video row out to every Nth pseudo-frame") {
    val payload = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val d = Seq((7L, payload)).toDF("doc_id", "payload")
    // 1000 bytes / 256 -> 4 pseudo-frames; every 2nd -> idx 0 and 2
    val rows = Multimodal.sampleFrames(d, frameBytes = 256, every = 2)
      .collect().sortBy(_.getLong(1))
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 2L))
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 80L)) // 25 fps
    assert(rows.map(_.getAs[String]("frame_md5")).distinct.length == 2)
    // empty payload -> zero frames, the iterator shape stays total
    val empty = Multimodal.sampleFrames(
      Seq((8L, Array.emptyByteArray)).toDF("doc_id", "payload"))
    assert(empty.count() == 0L)
  }

  test("sessionize splits on gaps and counts events") {
    import graft.streaming.StreamOps
    val ns = 1000000000L
    val ev = Seq(
      (1L, 0L * ns, 1L), (1L, 60L * ns, 2L), // session 1: two events
      (1L, 4000L * ns, 3L),                  // > 30 min later: session 2
      (2L, 0L * ns, 4L))                     // other user: own session
      .toDF("user_id", "ts", "event_id")
    val out = StreamOps.sessionize(ev).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) ->
        r.getAs[Long]("n_events")).toMap
    assert(out((1L, 1L)) == 2L)
    assert(out((1L, 2L)) == 1L)
    assert(out((2L, 1L)) == 1L)
  }
}
