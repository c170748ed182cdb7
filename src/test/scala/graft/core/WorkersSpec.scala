package graft.core

import graft.SparkSuite
import graft.model._

/** Background workers (`server/src/worker/mod.rs`): sweeps are exercised
  * synchronously for determinism; scheduling itself is a smoke test.
  */
class WorkersSpec extends SparkSuite {

  private def str(v: String) = CellValue.S(v)

  test("GC sweep runs version GC on user tables and records gc#del_cnt") {
    withTempDir { dir =>
      val cat = new Catalog(dir.toString)
      val t = Smoltable.open(spark, cat, "events")
      t.createColumnFamilies(Seq(
        ColumnFamilyDefinition("v", GcSettings(versionLimit = Some(2)))))
      for (ts <- 1L to 5L)
        t.write(Seq(RowWriteItem("k", Seq(
          ColumnWriteItem(ColumnKey.of("v:"), Some(ts), str(s"v$ts"))))))

      new Workers(spark, cat).gcSweep()

      assert(t.count()._2 == 2L) // newest 2 survive
      val points = MetricsTable.open(spark, cat, Some("events"))
        .latest("gc#del_cnt")
      assert(points.map(_._2) == Seq(3.0))
    }
  }

  test("row-count sweep records stats#row_cnt / stats#cell_cnt") {
    withTempDir { dir =>
      val cat = new Catalog(dir.toString)
      val t = Smoltable.open(spark, cat, "webtable")
      t.createColumnFamilies(Seq(ColumnFamilyDefinition("v")))
      t.write(Seq("a", "b", "c").map(k => RowWriteItem(k, Seq(
        ColumnWriteItem(ColumnKey.of("v:"), Some(0L), str(k))))))

      new Workers(spark, cat).rowCountSweep()

      val m = MetricsTable.open(spark, cat, Some("webtable"))
      assert(m.latest("stats#row_cnt").map(_._2) == Seq(3.0))
      assert(m.latest("stats#cell_cnt").map(_._2) == Seq(3.0))
    }
  }

  test("system sweep records per-table segments/du and global sys gauges") {
    withTempDir { dir =>
      val cat = new Catalog(dir.toString)
      val t = Smoltable.open(spark, cat, "webtable")
      t.createColumnFamilies(Seq(ColumnFamilyDefinition("v")))
      t.write(Seq(RowWriteItem("a", Seq(
        ColumnWriteItem(ColumnKey.of("v:"), Some(0L), str("x"))))))

      new Workers(spark, cat).systemSweep()

      val m = MetricsTable.open(spark, cat, Some("webtable"))
      assert(m.latest("stats#seg_cnt").map(_._2) == Seq(t.dataFileCount.toDouble))
      assert(m.latest("stats#du").headOption.exists(_._2 > 0))
      val g = MetricsTable.open(spark, cat, None)
      assert(g.latest("sys#mem").headOption.exists(_._2 > 0))
      // metrics tables are skipped by the sweeps (system `_` prefix)
      assert(!cat.listTables().filter(_.startsWith("_"))
        .exists(n => MetricsTable.open(spark, cat, Some(n))
          .latest("stats#du").nonEmpty))
    }
  }

  test("SMOLTABLE_METRICS_CAP_MB wires to the FIFO cap and a tiny cap " +
      "forces an eviction in the system sweep") {
    // env parsing mirrors the reference (env.rs:26-31): default 1 MB,
    // u16 range, invalid input rejects at startup
    assert(MetricsTable.envCapBytes(Map.empty) == 1024L * 1024)
    assert(MetricsTable.envCapBytes(
      Map("SMOLTABLE_METRICS_CAP_MB" -> "16")) == 16L * 1024 * 1024)
    intercept[IllegalArgumentException] {
      MetricsTable.envCapBytes(Map("SMOLTABLE_METRICS_CAP_MB" -> "woof"))
    }
    intercept[IllegalArgumentException] {
      MetricsTable.envCapBytes(Map("SMOLTABLE_METRICS_CAP_MB" -> "70000"))
    }

    withTempDir { dir =>
      val cat = new Catalog(dir.toString)
      val t = Smoltable.open(spark, cat, "capped")
      t.createColumnFamilies(Seq(ColumnFamilyDefinition("v")))
      t.write(Seq(RowWriteItem("a", Seq(
        ColumnWriteItem(ColumnKey.of("v:"), Some(0L), str("x"))))))
      val m = MetricsTable.open(spark, cat, Some("capped"))
      // more versions of one metric than the FIFO keep window (720), in
      // ONE write batch with explicit version timestamps; any on-disk
      // footprint exceeds a 0-byte cap, so the sweep's enforceCap must
      // trim the version list to the window
      m.table.write((1 to 750).map(i => RowWriteItem("probe#n", Seq(
        ColumnWriteItem(ColumnKey.of("value:"), Some(i.toLong),
          CellValue.F64(i.toDouble))))))
      assert(m.latest("probe#n", limit = 800).size == 750)
      new Workers(spark, cat, metricsCapBytes = 0L).systemSweep()
      val after = MetricsTable.open(spark, cat, Some("capped"))
        .latest("probe#n", limit = 800).size
      assert(after == 720, s"cap 0 must evict down to 720, got $after")
    }
  }

  test("registered band-store maintenance: the sweep expires past the " +
      "retention horizon, compacts fragmentation away, and the pruned " +
      "lookup keeps its bp-PartitionFilters / pushed-In plan shape") {
    import org.apache.spark.sql.functions._
    withTempDir { dir =>
      val cat = new Catalog(s"$dir/cat")
      val store = graft.operators.BatchStore.open(spark, s"$dir/bands",
        graft.operators.BatchStore.Bands)
      // 50 tiny appends — the fragmentation a per-micro-batch dedup
      // store accumulates (one file per touched bucket per batch)
      for (i <- 0 until 50) {
        store.append(
          spark.range(i * 10, i * 10 + 10)
            .select(concat(lit("b"), col("id")).as("band")), s"t$i")
        // deterministic ages for the expiry assertion (append commit
        // times can tie at filesystem timestamp resolution)
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(s"$dir/bands", s"batch=t$i"),
          java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000L))
      }
      assert(store.batchTags().size == 50)
      val w = new Workers(spark, cat)
      w.registerMaintenance("bands")(
        store.maintenanceTask(compactAtBatches = 8,
          retainBatches = Some(40)))
      w.maintenanceSweep()
      // expiry dropped the 10 oldest batch dirs, compaction folded the
      // surviving 40 into one
      val tags = store.batchTags()
      assert(tags.size == 1 && tags.head.startsWith("compacted-"),
        s"expected one compacted dir, got $tags")
      val bands = store.read().select("band").collect()
        .map(_.getString(0)).toSet
      assert(!bands.contains("b0") && !bands.contains("b99"),
        "expired bands must be gone")
      assert(bands.contains("b100") && bands.contains("b499") &&
        bands.size == 400, s"retained 40 batches x 10 bands: ${bands.size}")
      // post-compaction, the tier-1 lookup still prunes: bp partition
      // filters + the pushed In(band) predicate, no landed-side join
      val probe = spark.range(3)
        .select(concat(lit("b"), col("id") + 200).as("band"))
      val plan = store.prunedLookup(probe)
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bp".r.findFirstIn(plan).isDefined,
        s"expected bp PartitionFilters after compaction:\n$plan")
      assert(plan.contains("PushedFilters: [In(band"),
        s"expected pushed In(band, ...) after compaction:\n$plan")
      assert(!plan.contains("Join"), s"no join in tier 1:\n$plan")
      // a second sweep is a no-op (1 dir: under horizon, under the
      // fragmentation threshold)
      w.maintenanceSweep()
      assert(store.batchTags() == tags)
      // a follow-up compaction tag never collides with the landed one
      for (i <- 0 until 9)
        store.append(spark.range(1000 + i, 1001 + i)
          .select(concat(lit("n"), col("id")).as("band")), s"n$i")
      w.maintenanceSweep()
      val tags2 = store.batchTags()
      assert(tags2.size == 1 && tags2.head != tags.head &&
        tags2.head.startsWith("compacted-"),
        s"fresh compaction tag expected, got $tags2 after $tags")
      assert(store.read().count() == 409)
    }
  }

  test("a throwing maintenance task is isolated (other tasks still " +
      "run, error recorded to the global metrics table)") {
    withTempDir { dir =>
      val cat = new Catalog(dir.toString)
      val w = new Workers(spark, cat)
      var ran = false
      w.registerMaintenance("aaa_boom")(() =>
        throw new RuntimeException("boom"))
      w.registerMaintenance("zzz_ok")(() => { ran = true })
      w.maintenanceSweep() // must not throw
      assert(ran, "later tasks must run after an earlier one throws")
      val g = MetricsTable.open(spark, cat, None)
      assert(g.latest("task#aaa_boom_err").map(_._2) == Seq(1.0))
      w.unregisterMaintenance("aaa_boom")
      w.maintenanceSweep()
      assert(g.latest("task#aaa_boom_err").map(_._2) == Seq(1.0))
    }
  }

  test("drift-gated IVF retrain through the workers: below-threshold " +
      "drift is a no-op, planted drift trips an ATOMIC cutover (probes " +
      "racing it see old XOR new, never half), and stale versions " +
      "retire one generation later") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfVersions
    withTempDir { dir =>
      val emb = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") < 150)
      // planted drift: the same vectors uniformly shifted +1.0 per
      // dim — ~dim*(2^10)^2 of squared fixed-point distance nothing
      // trained on `base` can explain
      val drifted = emb.filter(col("vec_id") >= 150 && col("vec_id") < 300)
        .select((col("vec_id") + 10000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(1.0f)).as("embedding"))
      val union = base.unionAll(drifted)
      val root = s"$dir/ivf"
      IvfVersions.init(base, root, stride = 30L)
      assert(IvfVersions.currentVersion(root).contains(0L))
      // queries from BOTH regimes: drifted queries are what makes the
      // two snapshots differ (v=0 has no drifted vectors to return)
      val queries = union.filter(col("vec_id") < 5 ||
        (col("vec_id") >= 10150L && col("vec_id") < 10155L))
      def probeSet(): Set[(Long, Long, Long)] =
        IvfVersions.probe(root, queries).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val v0Res = probeSet()
      assert(v0Res.nonEmpty)

      val cat = new Catalog(s"$dir/cat")
      val w = new Workers(spark, cat)
      var retrained = List.empty[Long]
      // 1. below threshold: the SAME distribution the layout was
      // trained on, judged against a generous bound — no cutover
      w.registerMaintenance("ivf")(IvfVersions.driftRetrainTask(root,
        recentBatch = () => base, corpus = () => union,
        meanD2Threshold = 1000000000000L, stride = 30L,
        onRetrain = v => retrained ::= v))
      w.maintenanceSweep()
      assert(IvfVersions.currentVersion(root).contains(0L) &&
        retrained.isEmpty, "below-threshold drift must not retrain")

      // 2. planted drift + racing probes: the sweep retrains on the
      // union and swaps the pointer while reader threads loop — every
      // observed result must equal the old snapshot XOR the new one
      val observed =
        new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Long, Long)]]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val readers = (1 to 2).map(_ => new Thread(() => {
        while (!stop.get) observed.add(probeSet())
      }))
      readers.foreach(_.start())
      try {
        w.registerMaintenance("ivf")(IvfVersions.driftRetrainTask(root,
          recentBatch = () => drifted, corpus = () => union,
          meanD2Threshold = 1000000L, stride = 30L,
          onRetrain = v => retrained ::= v))
        w.maintenanceSweep()
      } finally { stop.set(true); readers.foreach(_.join(30000)) }
      assert(retrained == List(1L), s"planted drift must trip: $retrained")
      assert(IvfVersions.currentVersion(root).contains(1L))
      val v1Res = probeSet()
      assert(v1Res != v0Res,
        "retrained layout must change the probe (drifted corpus landed)")
      // the cutover contract: the post-cutover probe IS a fresh
      // one-shot build on the drifted corpus
      graft.operators.Clustering.writeKmeansIvfLayout(
        union, s"$dir/fresh", stride = 30L)
      val fresh = graft.operators.Clustering
        .ivfTopKKmeansFromLayout(s"$dir/fresh", queries).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(v1Res == fresh,
        "post-cutover probe must hash-match a fresh build on the union")
      import scala.jdk.CollectionConverters._
      val bad = observed.asScala.filterNot(r => r == v0Res || r == v1Res)
      assert(bad.isEmpty,
        s"${bad.size}/${observed.size} probes saw a half-cutover state")
      // one-generation grace: v=0 survives the first cutover...
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$root/v=0")))
      // ...and retires on the next one; v=1 stays for in-flight probes
      IvfVersions.retrain(union, root, stride = 30L)
      assert(IvfVersions.currentVersion(root).contains(2L))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/v=0")), "v=0 must retire")
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$root/v=1")), "grace version must stay")
    }
  }

  test("IvfVersions.append extends the CURRENT version (serialized " +
      "against retrain by the root lock) and appended vectors stay " +
      "probe-able across a cutover") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfVersions
    withTempDir { dir =>
      val emb = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") < 150)
      // appended slice carries an EXACT copy of vector 3 at id 100003:
      // its probe must return the copy at distance 0, which pins
      // "appended and probe-visible" deterministically
      val extra = emb.filter(col("vec_id") >= 150 && col("vec_id") < 200)
        .unionAll(emb.filter(col("vec_id") === 3)
          .select((col("vec_id") + 100000L).as("vec_id"),
            col("embedding")))
      val root = s"$dir/ivf"
      IvfVersions.init(base, root, stride = 30L)
      IvfVersions.append(extra, root)
      val q3 = emb.filter(col("vec_id") === 3)
      def neighbors(): Set[Long] =
        IvfVersions.probe(root, q3).collect().map(_.getLong(1)).toSet
      assert(neighbors().contains(100003L),
        "appended exact copy must be probe-visible in the CURRENT version")
      // cutover: retrain on the full source-of-truth corpus (which
      // carries the appended vectors forward) — still probe-able
      IvfVersions.retrain(base.unionAll(extra), root, stride = 30L)
      assert(IvfVersions.currentVersion(root).contains(1L))
      assert(neighbors().contains(100003L),
        "appended vectors must survive the retrain cutover")
      // and a post-cutover append extends v=1, not the retired v=0
      val extra2 = emb.filter(col("vec_id") === 5)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      IvfVersions.append(extra2, root)
      val q5 = emb.filter(col("vec_id") === 5)
      val n5 = IvfVersions.probe(root, q5).collect()
        .map(_.getLong(1)).toSet
      assert(n5.contains(100005L),
        "a post-cutover append must land in the new CURRENT version")
    }
  }

  test("start/stop schedule without throwing") {
    withTempDir { dir =>
      val w = new Workers(spark, new Catalog(dir.toString))
      w.start(initialDelaySecs = 3600L) // never fires during the test
      w.stop()
    }
  }
}
