package graft.streaming

import graft.SparkSuite

/** Stateful streaming dedup: first occurrence per content hash across
  * micro-batches, via flatMapGroupsWithState. */
class StreamingDedupSpec extends SparkSuite {

  test("streamingDedup emits one row per distinct text hash") {
    val dir = "/root/testdata/sf0.001"
    val out = StreamOps.streamingDedup(spark, dir)
    val n = out.count()
    val distinctTexts = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").distinct().count()
    assert(n == distinctTexts)
    // deterministic keep choice: smallest doc_id per hash
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions._
    val expectedKeep = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    assert(out.except(expectedKeep).count() == 0)
  }

  test("bounded dedup emits every key and collapses in-batch duplicates") {
    val out = StreamOps.streamingDedupBounded(spark, "/root/testdata/sf0.001")
    val keys = out.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    import org.apache.spark.sql.functions._
    // through the schema-adaptive reader: a NANOS-encoded ts would fail
    // plain schema inference even though this test never selects it
    val expected = graft.sources.EventsSource
      .readEvents(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keys == expected) // >=1 emission per key, no invented keys
  }

  test("bounded dedup state EXPIRES at the horizon: a key recurring " +
      "beyond it re-emits, within it stays deduped") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val H = 3600L * 1000000000L // 1h in ns
    val t0 = 1700000000L * 1000000000L
    withTempDir { tmp =>
      // strictly-increasing EXPLICIT mtimes per batch: FileStreamSource
      // orders files by modification time, and on coarse-granularity
      // (1 s) filesystems sleep-separated writes can tie, making batch
      // order — and the emission-count assertion — nondeterministic
      var mtime = 1700000000000L
      def writeBatch(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
        val rdd = spark.sparkContext.parallelize(rows.map { case (id, ts, u, et) =>
          org.apache.spark.sql.Row(id, ts, u, et, 0.0d) }, 1)
        spark.createDataFrame(rdd, schema).write.parquet(s"$tmp/in/$name")
        mtime += 10000
        import scala.jdk.CollectionConverters._
        val walked = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/in/$name"))
        try walked.iterator().asScala.foreach(p =>
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(mtime)))
        finally walked.close()
      }
      // batch 0: key (1,a) twice within the horizon + key (2,b)
      writeBatch("part0", Seq((1L, t0, 1L, "a"), (2L, t0 + H / 6, 1L, "a"),
        (3L, t0, 2L, "b")))
      // batch 1: watermark pusher — after it, watermark = t0+3h-1h = t0+2h,
      // which is past (1,a)'s t0+1h expiry
      writeBatch("part1", Seq((4L, t0 + 3 * H, 9L, "z")))
      // batch 2: another key at the same time — a full batch at the
      // advanced watermark, so the expired (1,a) state's eviction is
      // committed (eviction is applied at state commit, AFTER the
      // batch's dedup checks — a re-occurrence in THIS batch would
      // still see the stale row)
      writeBatch("part2", Seq((5L, t0 + 3 * H, 10L, "y")))
      // batch 3: (1,a) again — state gone, must RE-emit
      writeBatch("part3", Seq((6L, t0 + 3 * H, 1L, "a")))

      import org.apache.spark.sql.functions._
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/in/*")
        .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
        .withWatermark("event_ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      val name = s"bdedup_${System.nanoTime()}"
      val q = src.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      val emitted = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1))).groupBy(identity)
        .view.mapValues(_.length).toMap
      assert(emitted == Map(
        (1L, "a") -> 2, // once per horizon window — state expired between
        (2L, "b") -> 1,
        (9L, "z") -> 1,
        (10L, "y") -> 1))
    }
  }

  test("incremental MINHASH stream: 3 id-ordered micro-batches land " +
      "exactly the one-shot batch survivor set (the all-seen signature " +
      "landing contract, through the real foreachBatch loop)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    withTempDir { tmp =>
      // id-ordered batch files (the composition precondition: every id
      // in batch k is smaller than every id in batch k+1), explicit
      // increasing mtimes so FileStreamSource's order is deterministic
      val inDir = s"$tmp/in/documents.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for ((lo, hi, name) <- Seq((0L, 170L, "b0"), (170L, 340L, "b1"),
          (340L, 1000000L, "b2"))) {
        val stage = s"$tmp/stage_$name"
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val known = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")), 8, Dedup.DefaultSeeds)
      val got = StreamOps.incrementalMinhashToFiles(spark, s"$tmp/in",
          known, s"$tmp/sig", s"$tmp/out", s"$tmp/ck",
          maxFilesPerTrigger = Some(1))
        .collect().map(_.toSeq).toSet
      // it really ran as multiple micro-batches, not one big one
      val nBatches = java.nio.file.Files
        .list(java.nio.file.Paths.get(s"$tmp/ck/offsets")).count()
      assert(nBatches >= 3, s"expected >=3 micro-batches, got $nBatches")
      val oneShot = Dedup.incrementalMinhash(
          docs.select(col("doc_id"), col("text")), known)
        .collect().map(_.toSeq).toSet
      assert(got == oneShot,
        s"streamed ${got.size} vs one-shot ${oneShot.size}; " +
          s"diff ${(got -- oneShot).take(3)} / ${(oneShot -- got).take(3)}")
      // the landed signature table holds ALL seen docs (known + every
      // batch doc), the contract that made the equality above hold
      val sigCount = spark.read.parquet(s"$tmp/sig").count()
      assert(sigCount == known.count() + docs.count(), s"sig table $sigCount")
    }
  }

  test("INLINE maintenance keeps a 50-micro-batch stream's band store " +
      "bounded (dir count <= compactAtBatches+1 throughout) without " +
      "changing the survivor set") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    withTempDir { tmp =>
      // 50 id-ordered batch files of 10 docs each — the minutes-cadence
      // crawl shape that outruns any scheduled background sweep
      val inDir = s"$tmp/in/documents.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for (b <- 0 until 50) {
        val stage = s"$tmp/stage_$b"
        docs.filter(col("doc_id") >= b * 10 && col("doc_id") < b * 10 + 10)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(f"$inDir/b$b%03d.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val known = Dedup.minhashSignatures(
        docs.limit(0).select(col("doc_id"), col("text")),
        8, Dedup.DefaultSeeds)
      // observe store fragmentation at every batch start via the
      // transform hook (runs inside foreachBatch, before the filter)
      val bandsDir = java.nio.file.Paths.get(s"$tmp/sig/_bands")
      val observed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      def dirCount(): Int =
        if (!java.nio.file.Files.isDirectory(bandsDir)) 0
        else {
          val s = java.nio.file.Files.list(bandsDir)
          try s.filter(_.getFileName.toString.startsWith("batch="))
            .count().toInt
          finally s.close()
        }
      val got = StreamOps.incrementalMinhashToFiles(spark, s"$tmp/in",
          known, s"$tmp/sig", s"$tmp/out", s"$tmp/ck",
          transform = df => { observed.add(dirCount()); df },
          maxFilesPerTrigger = Some(1), maintainAtBatches = 5)
        .collect().map(_.toSeq).toSet
      val nBatches = java.nio.file.Files
        .list(java.nio.file.Paths.get(s"$tmp/ck/offsets")).count()
      assert(nBatches >= 50, s"expected >=50 micro-batches, got $nBatches")
      import scala.jdk.CollectionConverters._
      val counts = observed.asScala.toSeq
      assert(counts.size >= 50 && counts.max <= 6,
        s"store fragmentation must stay <= compactAtBatches+1: " +
          s"max ${counts.max} over ${counts.size} batches")
      assert(dirCount() <= 6, s"final dir count ${dirCount()}")
      // and the maintained stream still lands the one-shot survivor set
      val oneShot = Dedup.incrementalMinhash(
          docs.select(col("doc_id"), col("text")), known)
        .collect().map(_.toSeq).toSet
      assert(got == oneShot,
        s"streamed ${got.size} vs one-shot ${oneShot.size}")
    }
  }

  test("curateToFiles: id-ordered micro-batches compose to the " +
      "one-shot run, a partial-commit replay restores PRE-batch state " +
      "via self-tag exclusion (stores land the original bands, not " +
      "empties), and inline maintenance bounds all three stores") {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    withTempDir { tmp =>
      // ids SPREAD to 8·base so planted variants (8·base+1, 8·base+2)
      // stay IN RANGE of their batch — the composition precondition is
      // id order over EVERY emitted id, planted included (an early
      // batch planting base+10^6 would land larger-than-later-batch
      // ids, and the directionless landed check would drop later docs
      // the one-shot id rule keeps — the curateToFiles doc's caveat)
      val sdocs = docs.select((col("doc_id") * 8).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      val inDir = s"$tmp/in/documents.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for ((lo, hi, name) <- Seq((0L, 1360L, "b0"), (1360L, 2720L, "b1"),
          (2720L, 8000000L, "b2"))) {
        val stage = s"$tmp/stage_$name"
        sdocs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      graft.operators.Clustering.writeKmeansIvfLayout(
        emb.select((col("vec_id") * 8).as("vec_id"), col("embedding")),
        s"$tmp/layout")
      val plantedEmb = emb
        .select((col("vec_id") * 8).as("vec_id"), col("embedding"))
        .unionAll(emb.filter(col("vec_id") % 40 === 0)
          .select((col("vec_id") * 8 + 2).as("vec_id"),
            col("embedding")))
      val plant: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = d => d
        .unionAll(d.filter(col("doc_id") % 400 === 0) // base % 50 == 0
          .select((col("doc_id") + 1L).as("doc_id"),
            col("text"), col("lang")))
        .unionAll(d.filter(col("doc_id") % 320 === 0) // base % 40 == 0
          .select((col("doc_id") + 2L).as("doc_id"),
            concat_ws(" ", reverse(split(col("text"), " ")))
              .as("text"), col("lang")))
      def run(id: String, mft: Option[Int],
          maintain: Int): Set[(Long, Long, Long, Long)] =
        StreamOps.curateToFiles(spark, s"$tmp/in", plantedEmb,
            s"$tmp/layout", s"$tmp/state_$id", s"$tmp/out_$id",
            s"$tmp/ck_$id", transform = plant,
            maxFilesPerTrigger = mft, maintainAtBatches = maintain)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
      // A: 3 id-ordered micro-batches, no maintenance (replay target)
      val multi = run("a", Some(1), 0)
      assert(multi.nonEmpty)
      val nBatches = java.nio.file.Files
        .list(java.nio.file.Paths.get(s"$tmp/ck_a/offsets")).count()
      assert(nBatches >= 3, s"expected >=3 micro-batches, got $nBatches")
      // B: the whole corpus as ONE batch — the one-shot twin
      assert(run("b", None, 0) == multi,
        "micro-batched curation must equal the one-shot composition")
      // C: inline maintenance keeps every store <= compactAtBatches+1
      assert(run("c", Some(1), 2) == multi,
        "maintained run must land the same survivors")
      def dirCount(store: String): Int = {
        val p = java.nio.file.Paths.get(s"$tmp/state_c/$store")
        val s = java.nio.file.Files.list(p)
        try s.filter(_.getFileName.toString.startsWith("batch="))
          .count().toInt
        finally s.close()
      }
      for (st <- Seq("exact", "bands", "vecs"))
        assert(dirCount(st) <= 3, s"$st store: ${dirCount(st)} dirs")
      // partial-commit replay on A: survivors + exact hashes committed,
      // crash before the band/vector appends — the dangerous window
      // where a lookup WITHOUT self-tag exclusion would see the batch's
      // own hashes landed, drop everything, and land EMPTY band state
      val bandsBefore = graft.operators.BatchStore.open(spark,
        s"$tmp/state_a/bands", graft.operators.BatchStore.Bands).read()
        .select("band").collect().map(_.getString(0)).toSet
      val vecsBefore = graft.operators.BatchStore.open(spark,
        s"$tmp/state_a/vecs", graft.operators.BatchStore.Vectors).read()
        .select("vec_id").collect().map(_.getLong(0)).toSet
      def lastCommit(): java.nio.file.Path = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$tmp/ck_a/commits"))
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        finally s.close()
      }
      val lc = lastCommit()
      val lastId = lc.getFileName.toString
      java.nio.file.Files.delete(lc)
      java.nio.file.Files.deleteIfExists(
        lc.resolveSibling(s".${lc.getFileName}.crc"))
      def deleteRecursively(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        if (!java.nio.file.Files.exists(p)) return
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally s.close()
      }
      deleteRecursively(java.nio.file.Paths.get(
        s"$tmp/state_a/bands/batch=$lastId"))
      deleteRecursively(java.nio.file.Paths.get(
        s"$tmp/state_a/vecs/batch=$lastId"))
      assert(run("a", Some(1), 0) == multi,
        "partial replay changed the packed survivor set")
      val bandsAfter = graft.operators.BatchStore.open(spark,
        s"$tmp/state_a/bands", graft.operators.BatchStore.Bands).read()
        .select("band").collect().map(_.getString(0)).toSet
      assert(bandsAfter == bandsBefore,
        s"replayed band append must restore the ORIGINAL bands " +
          s"(${bandsBefore.size} before, ${bandsAfter.size} after) — " +
          "an empty re-append means the exact-stage lookup saw the " +
          "batch's own hashes (self-tag exclusion broken)")
      val vecsAfter = graft.operators.BatchStore.open(spark,
        s"$tmp/state_a/vecs", graft.operators.BatchStore.Vectors).read()
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(vecsAfter == vecsBefore, "vector members must restore")
      val outIds = spark.read.parquet(s"$tmp/out_a").drop("batch")
        .select("doc_id").collect().map(_.getLong(0))
      assert(outIds.distinct.length == outIds.length,
        "duplicate survivors after replay")
    }
  }

  test("curateToFiles embeddings checkpoint is GATED: a parquet-backed " +
      "projection stays lazy (pruned per-batch scan, no stream-start " +
      "materialization), a computed frame still checkpoints, and both " +
      "paths land identical survivors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the classifier: pure scan → project/filter chains re-plan per
    // batch; anything computed (union, local data) materializes once
    assert(StreamOps.isPureFileFrame(
      emb.select(col("vec_id"), col("embedding"))))
    assert(StreamOps.isPureFileFrame(
      emb.filter(col("vec_id") > 10).select(col("vec_id"))))
    assert(!StreamOps.isPureFileFrame(
      emb.unionAll(emb.limit(0))), "a union is not a pure file frame")
    assert(!StreamOps.isPureFileFrame(
      Seq((1L, Seq(0.1f))).toDF("vec_id", "embedding")),
      "a local relation is not a pure file frame")
    assert(!StreamOps.isPureFileFrame(
      emb.groupBy("vec_id").agg(first(col("embedding")))),
      "an aggregate is not a pure file frame")
    withTempDir { tmp =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/in"))
      val sdocs = docs.filter(col("doc_id") < 200)
      sdocs.repartition(1).write
        .parquet(s"$tmp/in/documents.parquet")
      graft.operators.Clustering.writeKmeansIvfLayout(
        emb.select(col("vec_id"), col("embedding")), s"$tmp/layout",
        stride = 20L)
      def run(id: String, embFrame: org.apache.spark.sql.DataFrame) =
        StreamOps.curateToFiles(spark, s"$tmp/in", embFrame,
            s"$tmp/layout", s"$tmp/state_$id", s"$tmp/out_$id",
            s"$tmp/ck_$id")
          .collect().map(_.toSeq).toSet
      // file-backed (lazy, per-batch pruned scan) vs computed twin
      // (checkpointed) — same rows, so the survivor sets must match
      val lazyPath = run("lazy",
        emb.select(col("vec_id"), col("embedding")))
      val ckptPath = run("ckpt",
        emb.select(col("vec_id"), col("embedding"))
          .unionAll(emb.select(col("vec_id"), col("embedding")).limit(0)))
      assert(lazyPath == ckptPath,
        "gated-checkpoint paths landed different survivors")
      assert(lazyPath.nonEmpty)
    }
  }

  test("incremental IMAGE stream: id-ordered micro-batches land the " +
      "batch operator's survivor set; a rerun on the same checkpoint " +
      "replays to identical output and store state") {
    import org.apache.spark.sql.functions._
    import graft.operators.{BatchStore, Multimodal}
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    withTempDir { tmp =>
      // spread ids (8·base) so planted +2 variants stay in batch range
      val sdocs = docs.select((col("doc_id") * 8).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      val inDir = s"$tmp/in/documents.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for ((lo, hi, name) <- Seq((0L, 1360L, "b0"), (1360L, 2720L, "b1"),
          (2720L, 8000000L, "b2"))) {
        val stage = s"$tmp/stage_$name"
        sdocs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      // landed = every 24th id (base % 3 == 0); batch transform drops
      // them from the stream and plants in-range tail-edit variants
      val allPayloads = sdocs.select(col("doc_id"),
        encode(col("text"), "utf-8").as("payload"))
      val landed = allPayloads.filter(col("doc_id") % 24 === 0)
      val plant: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = p => p
        .filter(col("doc_id") % 24 =!= 0)
        .unionAll(p.filter(col("doc_id") % 80 === 0)
          .select((col("doc_id") + 2L).as("doc_id"),
            concat(expr("substring(payload, 1, length(payload) - 8)"),
              lit("zzzzzzzz").cast("binary")).as("payload")))
      // one-shot twin: the batch operator on the identical planted set
      val refStore = BatchStore.open(spark, s"$tmp/refstore",
        BatchStore.Vectors)
      val (_, init) = Multimodal
        .incrementalImageDedupWithStore(landed, refStore)
      assert(refStore.append(init, "init"))
      val oneShot = Multimodal.incrementalImageDedupWithStore(
          plant(allPayloads), refStore)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(oneShot.nonEmpty)
      def run(): Set[(Long, Long)] =
        StreamOps.incrementalImageToFiles(spark, s"$tmp/in", landed,
            s"$tmp/store", s"$tmp/out", s"$tmp/ck",
            transform = plant, maxFilesPerTrigger = Some(1))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(run() == oneShot,
        "streamed survivors must equal the batch operator's")
      val nBatches = java.nio.file.Files
        .list(java.nio.file.Paths.get(s"$tmp/ck/offsets")).count()
      assert(nBatches >= 3, s"expected >=3 micro-batches, got $nBatches")
      val tags = BatchStore.open(spark, s"$tmp/store",
        BatchStore.Vectors).batchTags()
      // idempotent rerun: same output, no new store batches
      assert(run() == oneShot, "rerun changed the survivor set")
      assert(BatchStore.open(spark, s"$tmp/store",
        BatchStore.Vectors).batchTags()
        == tags, "rerun appended new store state")
    }
  }

  test("incremental minhash stream: a REPLAYED micro-batch cannot " +
      "double-append survivors, bands, or signatures (batch-keyed " +
      "atomic commits), including a partial-commit crash replay") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    withTempDir { tmp =>
      val inDir = s"$tmp/in/documents.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for ((lo, hi, name) <- Seq((0L, 170L, "b0"), (170L, 340L, "b1"),
          (340L, 1000000L, "b2"))) {
        val stage = s"$tmp/stage_$name"
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val known = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text")), 8, Dedup.DefaultSeeds)
      def run(): Set[Seq[Any]] =
        StreamOps.incrementalMinhashToFiles(spark, s"$tmp/in",
            known, s"$tmp/sig", s"$tmp/out", s"$tmp/ck",
            maxFilesPerTrigger = Some(1))
          .collect().map(_.toSeq).toSet
      val first = run()
      val sigCount = spark.read.parquet(s"$tmp/sig").count()
      def lastCommit(): java.nio.file.Path = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$tmp/ck/commits"))
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        finally s.close()
      }
      // the local FS keeps a .N.crc sidecar next to each commit marker;
      // it must go too or the replayed commit's rename fails
      def deleteCommit(p: java.nio.file.Path): Unit = {
        java.nio.file.Files.delete(p)
        java.nio.file.Files.deleteIfExists(
          p.resolveSibling(s".${p.getFileName}.crc"))
      }
      // ---- replay 1: fully-committed batch re-fires (commit marker
      // deleted) — every per-batch output already exists, all skipped
      val lc = lastCommit()
      val lastId = lc.getFileName.toString
      deleteCommit(lc)
      assert(run() == first, "full replay changed the survivor set")
      assert(spark.read.parquet(s"$tmp/sig").count() == sigCount,
        "full replay double-appended signatures")
      // ---- replay 2: PARTIAL commit — survivors landed but the crash
      // hit before bands/signatures (the dangerous window: recomputing
      // survivors now would see the batch's own bands as landed) — the
      // replay must skip the committed survivors and land only state
      deleteCommit(lastCommit())
      def deleteRecursively(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally s.close()
      }
      deleteRecursively(java.nio.file.Paths.get(
        s"$tmp/sig/_bands/batch=$lastId"))
      deleteRecursively(java.nio.file.Paths.get(
        s"$tmp/sig/batch=$lastId"))
      assert(run() == first, "partial replay changed the survivor set")
      assert(spark.read.parquet(s"$tmp/sig").count() == sigCount,
        "partial replay double-appended signatures")
      val out = spark.read.parquet(s"$tmp/out").drop("batch").collect()
        .map(_.getLong(0))
      assert(out.distinct.length == out.length,
        s"duplicate survivor doc_ids after replays")
    }
  }

  test("incremental SEMANTIC stream: 3 id-ordered micro-batches land " +
      "exactly the one-shot batch operator's survivor set through the " +
      "real foreachBatch loop, and a replayed micro-batch (full AND " +
      "partial commit) cannot double-land survivors or members") {
    import org.apache.spark.sql.functions._
    import graft.operators.{BatchStore, Clustering}
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    withTempDir { tmp =>
      // id-ordered batch files with deterministic source order
      val inDir = s"$tmp/in/embeddings.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for ((lo, hi, name) <- Seq((0L, 170L, "b0"), (170L, 340L, "b1"),
          (340L, 1000000L, "b2"))) {
        val stage = s"$tmp/stage_$name"
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      // frozen centroids from a layout trained on the landed prefix;
      // landed state = vec_id < 100
      val layout = s"$tmp/semk"
      val landed = emb.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding"))
      Clustering.writeKmeansIvfLayout(landed, layout, stride = 20L)
      // the stream filters each batch to the un-landed slice and
      // plants an exact copy of every 25th doc at ids >= 1,000,000
      def plant(df: org.apache.spark.sql.DataFrame) = {
        val p = df.unionAll(df.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")))
        p.filter(col("vec_id") >= 100)
      }
      def run(): Set[(Long, Long)] =
        StreamOps.incrementalSemanticToFiles(spark, s"$tmp/in",
            layout, landed, s"$tmp/store", s"$tmp/out", s"$tmp/ck",
            dist2Threshold = 1000L, transform = plant,
            maxFilesPerTrigger = Some(1))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = run()
      val nBatches = java.nio.file.Files
        .list(java.nio.file.Paths.get(s"$tmp/ck/offsets")).count()
      assert(nBatches >= 3, s"expected >=3 micro-batches, got $nBatches")
      // one-shot batch-operator equivalent: the same slices as ONE
      // batch against a fresh store seeded with the same landed state
      val oneStore = BatchStore.open(spark, s"$tmp/store_oneshot",
        BatchStore.Vectors)
      val (_, initMembers) = Clustering.incrementalSemanticWithStore(
        landed, layout, oneStore, 1000L)
      oneStore.append(initMembers, "init")
      val oneShot = Clustering.incrementalSemanticWithStore(
          plant(emb.select(col("vec_id"), col("embedding"))),
          layout, oneStore, 1000L)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == oneShot,
        s"streamed ${got.size} vs one-shot ${oneShot.size}; " +
          s"diff ${(got -- oneShot).take(3)} / ${(oneShot -- got).take(3)}")
      // planted d2=0 copies never survive (their base is landed or a
      // smaller id in the same or an earlier batch)
      assert(!got.exists(_._1 >= 1000000L), "a planted copy survived")
      val store = BatchStore.open(spark, s"$tmp/store", BatchStore.Vectors)
      val tagsBefore = store.batchTags().toSet
      def lastCommit(): java.nio.file.Path = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$tmp/ck/commits"))
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        finally s.close()
      }
      def deleteCommit(p: java.nio.file.Path): Unit = {
        java.nio.file.Files.delete(p)
        java.nio.file.Files.deleteIfExists(
          p.resolveSibling(s".${p.getFileName}.crc"))
      }
      // full replay: everything committed, all skipped
      val lc = lastCommit()
      val lastId = lc.getFileName.toString
      deleteCommit(lc)
      assert(run() == got, "full replay changed the survivor set")
      assert(store.batchTags().toSet == tagsBefore,
        "full replay double-appended members")
      // partial replay: survivors landed, member append missing — the
      // dangerous window (recomputing survivors now would see the
      // batch's own vectors as landed); replay must land ONLY state
      deleteCommit(lastCommit())
      val s2 = java.nio.file.Files.walk(java.nio.file.Paths.get(
        s"$tmp/store/batch=$lastId"))
      try {
        import scala.jdk.CollectionConverters._
        s2.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s2.close()
      assert(run() == got, "partial replay changed the survivor set")
      assert(store.batchTags().toSet == tagsBefore,
        "partial replay lost or duplicated a member batch")
      val out = spark.read.parquet(s"$tmp/out").drop("batch").collect()
        .map(_.getLong(0))
      assert(out.distinct.length == out.length,
        "duplicate survivor vec_ids after replays")
    }
  }

  test("incremental SEMANTIC stream rides a VERSIONED layout: a drift " +
      "retrain + store re-key between micro-batches cuts over " +
      "atomically — later batches probe the new layout against the " +
      "re-keyed store, no landed membership is lost, and the stream " +
      "equals the batch composition with the same cutover point") {
    import org.apache.spark.sql.functions._
    import graft.operators.{BatchStore, Clustering, IvfVersions}
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    withTempDir { tmp =>
      // 3 id-ordered batch files, deterministic source order
      val inDir = s"$tmp/in/embeddings.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for ((lo, hi, name) <- Seq((0L, 170L, "b0"), (170L, 340L, "b1"),
          (340L, 1000000L, "b2"))) {
        val stage = s"$tmp/stage_$name"
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val landed = emb.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding"))
      // VERSIONED root: v=0 trained on the landed prefix only — the
      // serving layout gone stale once the stream's ids arrive
      val root = s"$tmp/root"
      IvfVersions.init(landed, root, stride = 20L)
      // planted exact copies stay equivalent to their base (same
      // vectors), so the large planted ids cannot diverge the
      // composition — the existing semantic-stream spec's argument
      def plant(df: org.apache.spark.sql.DataFrame) = {
        val p = df.unionAll(df.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")))
        p.filter(col("vec_id") >= 100)
      }
      val storeDir = s"$tmp/store"
      var cuts = List.empty[Long]
      val task = IvfVersions.driftRetrainTask(root,
        recentBatch = () => emb.filter(col("vec_id") >= 170)
          .select(col("vec_id"), col("embedding")),
        corpus = () => corpus, meanD2Threshold = 0L, stride = 20L,
        onRetrain = v => {
          cuts = v :: cuts
          Clustering.rekeyStore(
            BatchStore.open(spark, storeDir, BatchStore.Vectors),
            IvfVersions.currentDir(root))
        })
      // the drift sweep fires after batch 0's commits: batches 1-2
      // must probe v=1 against the re-keyed store
      val got = StreamOps.incrementalSemanticToFiles(spark, s"$tmp/in",
          root, landed, storeDir, s"$tmp/out", s"$tmp/ck",
          dist2Threshold = 1000L, transform = plant,
          maxFilesPerTrigger = Some(1),
          afterBatch = id => if (id == 0) task())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cuts == List(1L), s"exactly one cutover expected: $cuts")
      assert(IvfVersions.currentVersion(root).contains(1L))
      // one-generation grace: the replaced v=0 survives for in-flight
      // probes
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$root/v=0")), "v=0 retired too early")
      val nBatches = java.nio.file.Files
        .list(java.nio.file.Paths.get(s"$tmp/ck/offsets")).count()
      assert(nBatches >= 3, s"expected >=3 micro-batches, got $nBatches")
      // batch-composed twin with the SAME cutover point: batch 0 under
      // a v0-equivalent layout, retrain on the full corpus, re-key,
      // batches 1-2 under the v1-equivalent layout
      val v0 = s"$tmp/v0twin"
      Clustering.writeKmeansIvfLayout(landed, v0, stride = 20L)
      val twin = BatchStore.open(spark, s"$tmp/twinstore", BatchStore.Vectors)
      val (_, init) = Clustering.incrementalSemanticWithStore(
        landed, v0, twin, 1000L)
      assert(twin.append(init, "init"))
      def slice(lo: Long, hi: Long) = plant(
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select(col("vec_id"), col("embedding")))
      val (s0, m0) = Clustering.incrementalSemanticWithStore(
        slice(0L, 170L), v0, twin, 1000L)
      val surv0 = s0.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(twin.append(m0, "0"))
      val v1 = s"$tmp/v1twin"
      Clustering.writeKmeansIvfLayout(corpus, v1, stride = 20L)
      Clustering.rekeyStore(twin, v1)
      val (s1, m1) = Clustering.incrementalSemanticWithStore(
        slice(170L, 340L), v1, twin, 1000L)
      val surv1 = s1.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(twin.append(m1, "1"))
      val (s2, m2) = Clustering.incrementalSemanticWithStore(
        slice(340L, 1000000L), v1, twin, 1000L)
      val surv2 = s2.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(twin.append(m2, "2"))
      val expected = (surv0 ++ surv1 ++ surv2).toSet
      assert(got == expected,
        s"streamed ${got.size} vs composed ${expected.size}; diff " +
          s"${(got -- expected).take(3)} / ${(expected -- got).take(3)}")
      // landed membership survived the cutover: the stream store's
      // member ids equal the twin's (all-seen, re-keyed, nothing lost)
      val streamIds = BatchStore.open(spark, storeDir,
        BatchStore.Vectors).read()
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      val twinIds = twin.read()
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      assert(streamIds == twinIds,
        s"store membership diverged across the cutover: " +
          s"${(streamIds -- twinIds).take(3)} / " +
          s"${(twinIds -- streamIds).take(3)}")
      // and the re-keyed buckets match the new layout: every stream
      // store ck equals the twin store's ck for the same vec_id
      val streamCks = BatchStore.open(spark, storeDir,
        BatchStore.Vectors).read()
        .select("vec_id", "ck").distinct().collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val twinCks = twin.read()
        .select("vec_id", "ck").distinct().collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamCks == twinCks, "bucket keys diverged after re-key")
    }
  }

  test("CONCURRENT drift retrains against a live semantic stream " +
      "(the Workers deployment shape): no batch ever sees half a " +
      "layout, no landed membership is lost, survivors stay " +
      "duplicate-free, and the final store is a re-key fixpoint of " +
      "the final layout") {
    import org.apache.spark.sql.functions._
    import graft.operators.{BatchStore, Clustering, IvfVersions}
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    withTempDir { tmp =>
      val inDir = s"$tmp/in/embeddings.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for ((lo, hi, name) <- Seq((0L, 170L, "b0"), (170L, 340L, "b1"),
          (340L, 1000000L, "b2"))) {
        val stage = s"$tmp/stage_$name"
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val landed = emb.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding"))
      val root = s"$tmp/root"
      IvfVersions.init(landed, root, stride = 20L)
      val storeDir = s"$tmp/store"
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val cuts = new java.util.concurrent.atomic.AtomicInteger(0)
      val task = IvfVersions.driftRetrainTask(root,
        recentBatch = () => emb.filter(col("vec_id") >= 170)
          .select(col("vec_id"), col("embedding")),
        corpus = () => emb.select(col("vec_id"), col("embedding")),
        meanD2Threshold = 0L, stride = 20L,
        onRetrain = _ => {
          cuts.incrementAndGet()
          Clustering.rekeyStore(
            BatchStore.open(spark, storeDir, BatchStore.Vectors),
            IvfVersions.currentDir(root))
        })
      // ONE background sweeper (the contract: one drift task per
      // root), firing up to 3 sweeps while the stream runs — each
      // sweep retrains (threshold 0, drift always present) and
      // re-keys, racing the batch bodies through the store's RW lock
      val sweeper = new Thread(() => {
        try { for (_ <- 0 until 3) task() }
        catch { case e: Throwable => errors.add(s"sweep: ${e.getMessage}") }
      })
      def plant(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("vec_id") >= 100)
      sweeper.start()
      val got = try StreamOps.incrementalSemanticToFiles(spark,
          s"$tmp/in", root, landed, storeDir, s"$tmp/out", s"$tmp/ck",
          dist2Threshold = 1000L, transform = plant,
          maxFilesPerTrigger = Some(1))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally sweeper.join(120000)
      assert(errors.isEmpty, s"sweeper errors: $errors")
      assert(cuts.get == 3, s"expected 3 cutovers, got ${cuts.get}")
      assert(IvfVersions.currentVersion(root).contains(3L))
      // no batch was lost or doubled: survivors are duplicate-free and
      // the store holds every id the stream saw (all-seen landing)
      val ids = got.map(_._1)
      assert(ids.size == got.size, "duplicate survivor vec_ids")
      val store = BatchStore.open(spark, storeDir, BatchStore.Vectors)
      val memberIds = store.read().select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet
      val expectedIds = emb.filter(col("vec_id") >= 100)
        .select("vec_id").collect().map(_.getLong(0)).toSet ++
        landed.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(memberIds == expectedIds,
        s"landed membership lost across concurrent cutovers: missing " +
          s"${(expectedIds -- memberIds).take(5)}")
      // re-key fixpoint: every member is already keyed under the FINAL
      // layout — a batch that had seen half a cutover (old keys landed
      // after the re-key) would leave stragglers this re-key would move
      val before = store.read().select("vec_id", "ck").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      Clustering.rekeyStore(store, IvfVersions.currentDir(root))
      val after = store.read().select("vec_id", "ck").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(before == after,
        s"store was not a re-key fixpoint of the final layout: " +
          s"${(before -- after).take(5)} moved")
    }
  }

  test("partial-commit replay ACROSS a cutover: a batch that crashed " +
      "between its survivor commit and its member append, with a " +
      "retrain + re-key landing while the stream was down, replays to " +
      "the ORIGINAL survivors and a complete, new-layout-keyed store") {
    import org.apache.spark.sql.functions._
    import graft.operators.{BatchStore, Clustering, IvfVersions}
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    withTempDir { tmp =>
      val inDir = s"$tmp/in/embeddings.parquet"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      var mtime = 1700000000000L
      for ((lo, hi, name) <- Seq((0L, 170L, "b0"), (170L, 340L, "b1"),
          (340L, 1000000L, "b2"))) {
        val stage = s"$tmp/stage_$name"
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .repartition(1).write.parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        val dest = java.nio.file.Paths.get(s"$inDir/$name.parquet")
        java.nio.file.Files.move(part, dest)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val landed = emb.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding"))
      val root = s"$tmp/root"
      IvfVersions.init(landed, root, stride = 20L)
      def plant(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("vec_id") >= 100)
      val storeDir = s"$tmp/store"
      def run(): Set[(Long, Long)] =
        StreamOps.incrementalSemanticToFiles(spark, s"$tmp/in", root,
            landed, storeDir, s"$tmp/out", s"$tmp/ck",
            dist2Threshold = 1000L, transform = plant,
            maxFilesPerTrigger = Some(1))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = run() // all three batches land under v=0
      val store = BatchStore.open(spark, storeDir, BatchStore.Vectors)
      val memberIdsBefore = store.read().select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet
      // simulate the crash window: last batch's survivors committed,
      // member append missing (commit marker + member dir deleted)
      def lastCommit(): java.nio.file.Path = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$tmp/ck/commits"))
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        finally s.close()
      }
      val lc = lastCommit()
      val lastId = lc.getFileName.toString
      java.nio.file.Files.delete(lc)
      java.nio.file.Files.deleteIfExists(
        lc.resolveSibling(s".${lc.getFileName}.crc"))
      def deleteRecursively(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        if (!java.nio.file.Files.exists(p)) return
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally s.close()
      }
      deleteRecursively(java.nio.file.Paths.get(
        s"$storeDir/batch=$lastId"))
      // while the stream is DOWN, the maintenance loop retrains on the
      // source-of-truth corpus and re-keys the landed store — exactly
      // what a background drift sweep does between stream incarnations
      IvfVersions.retrain(corpus, root, stride = 20L)
      Clustering.rekeyStore(store, IvfVersions.currentDir(root))
      assert(IvfVersions.currentVersion(root).contains(1L))
      // replay: the committed survivors stand (v=0-derived, skipped by
      // the existence gate); the member append recomputes under the
      // NEW layout — the membership SET is layout-independent
      // (all-seen), and its keys match the re-keyed store
      assert(run() == got,
        "replay across the cutover changed the survivor set")
      val memberIdsAfter = store.read().select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(memberIdsAfter == memberIdsBefore,
        "replayed member landing lost or invented membership")
      // the whole store — pre-crash batches re-keyed, the replayed
      // batch landed fresh — is a re-key fixpoint of the final layout
      val before = store.read().select("vec_id", "ck").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      Clustering.rekeyStore(store, IvfVersions.currentDir(root))
      val after = store.read().select("vec_id", "ck").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(before == after,
        "store not a re-key fixpoint after the cross-cutover replay")
      val out = spark.read.parquet(s"$tmp/out").drop("batch").collect()
        .map(_.getLong(0))
      assert(out.distinct.length == out.length,
        "duplicate survivors after the cross-cutover replay")
    }
  }

  test("file-sink dedup survives kill + resume on one checkpoint: " +
      "no duplicate, no lost keys (exactly-once landing)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    withTempDir { tmp =>
      // directory-layout streaming table: streamSource watches this dir
      val in = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/in/documents.parquet"))
      var mtime = 1700000000000L // explicit, strictly increasing (see above)
      def writeBatch(name: String, rows: Seq[(Long, String)]): Unit = {
        val rdd = spark.sparkContext.parallelize(rows.map { case (id, t) =>
          org.apache.spark.sql.Row(id, t, "en", "test", t.length.toLong) }, 1)
        val stage = s"$tmp/stage/$name"
        spark.createDataFrame(rdd, schema).write.parquet(stage)
        import scala.jdk.CollectionConverters._
        val part = {
          val s = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          try s.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally s.close()
        }
        val dst = in.resolve(s"$name.parquet")
        java.nio.file.Files.move(part, dst)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      def text(i: Int) = s"document body number $i with some words"
      val out = s"$tmp/out"
      val ck = s"$tmp/ck"
      val prev = spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        StreamOps.RocksDBProvider)
      try {
        def startQuery() = StreamOps.dedupStream(spark, s"$tmp/in")
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ck).start()

        // ---- run 1: two batches land, then the query dies ----
        writeBatch("b0", (1L to 10L).map(i => (i, text(i.toInt))))
        writeBatch("b1", (11L to 15L).map(i => (i, text(i.toInt))) :+
          ((16L, text(1)))) // in-run cross-batch duplicate
        val q1 = startQuery()
        q1.processAllAvailable()
        // more input arrives, then the query is stopped WITHOUT draining —
        // whether b2 was picked up, mid-batch, or untouched at stop time,
        // the resumed query must converge to the same exactly-once output
        writeBatch("b2", (21L to 25L).map(i => (i, text(i.toInt - 20))))
        q1.stop()

        // ---- run 2: resume from the same checkpoint ----
        writeBatch("b3", (31L to 35L).map(i => (i, text(i.toInt - 15))))
        val q2 = startQuery()
        try q2.processAllAvailable() finally q2.stop()

        // read through the sink's _spark_metadata commit log (exactly-once
        // visibility: uncommitted files from the killed run are invisible)
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$out/_spark_metadata")))
        val rows = spark.read.parquet(out).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        // no duplicate keys: state survived the restart (b2's texts 1..5
        // were seen in b0 and must NOT re-emit), and the sink did not
        // double-land any batch
        assert(rows.map(_._1).distinct.length == rows.length,
          s"duplicate hashes after resume: ${rows.groupBy(_._1)
            .filter(_._2.length > 1).keys}")
        // no lost keys, deterministic keeper: first-emission doc_id wins
        val expected = ((1 to 15) ++ (31 to 35)).map { i =>
          val t = if (i >= 31) text(i - 15) else text(i)
          (org.apache.commons.codec.digest.DigestUtils.md5Hex(t), i.toLong)
        }.toSet
        assert(rows.toSet == expected)
      } finally prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("file-sink dedup on RocksDB state matches the memory-sink result") {
    val dir = "/root/testdata/sf0.001"
    val viaMemory = StreamOps.streamingDedup(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val out = java.nio.file.Files.createTempDirectory("sd_out").toString
    val ck = java.nio.file.Files.createTempDirectory("sd_ck").toString
    val viaFiles = StreamOps.streamingDedupToFiles(spark, dir, out, ck)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaFiles == viaMemory)
    val stateFiles = StreamingSessionSpec.stateFileNames(ck)
    assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
      s"no RocksDB-format state files under $ck/state: $stateFiles")
    assert(!stateFiles.exists(_.endsWith(".delta")),
      "default-provider .delta files present — RocksDB was not in effect")
  }

  test("streamingQualityPrep: the stateless gate + redaction stream " +
      "equals the batch projection row-for-row") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamOps
      .streamingQualityPrep(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val batch = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull &&
        graft.operators.TextAnalysis.qualityPasses(col("text")))
      .select(col("doc_id"), col("lang"),
        length(graft.operators.TextAnalysis.redactedText(col("text")))
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed == batch, s"stream != batch: ${
      (streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    assert(batch.nonEmpty, "fixture must have gate survivors")
  }

  test("streamingPrepFront: gate -> redact -> keeper dedup equals the " +
      "batch composition row-for-row") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamOps
      .streamingPrepFront(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull &&
        graft.operators.TextAnalysis.qualityPasses(col("text")))
      .groupBy(md5(graft.operators.TextAnalysis.redactedText(col("text")))
        .as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream != batch: ${
      (streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    assert(batch.nonEmpty)
  }

  test("overlapped: when main and two side tasks fail, main's error is " +
      "thrown carrying both side errors as suppressed") {
    val boom = new IllegalStateException("main")
    val sides = Seq("s1", "s2").map(n =>
      n -> (() => throw new RuntimeException(n)))
    val thrown = intercept[IllegalStateException] {
      StreamOps.overlapped(spark, sides) { throw boom }
    }
    assert(thrown eq boom)
    assert(thrown.getSuppressed.map(_.getMessage).toSet == Set("s1", "s2"))
  }
}
