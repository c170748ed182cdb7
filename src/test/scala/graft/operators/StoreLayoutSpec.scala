package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the round-21 write-path properties the optimization round
  * changed:
  *
  *  1. a [[BatchStore]] append writes AT MOST ONE file per bucket dir,
  *     in either layout, and every file is genuinely sorted by its
  *     membership key — the property the pre-r21 writer silently
  *     voided (the dynamic-partition writer inserted a non-stable sort
  *     by `bp` over the key-sorted rows) and the row-group-stat pruning
  *     tiers depend on;
  *  2. [[Multimodal.imageNearDupPairs]]' hot-clique salted path emits
  *     EXACTLY the plain path's pair set — the de-skew split must be
  *     invisible in the relation.
  */
class StoreLayoutSpec extends SparkSuite {

  /** (file, key) rows of every data file under the store dir. */
  private def fileKeys(dir: String, keyCol: String,
      schemaCols: Seq[(String, String)]): Map[String, Seq[String]] = {
    val st = org.apache.spark.sql.types.StructType(
      schemaCols.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DataType.fromDDL(t))
      })
    spark.read.schema(st).option("basePath", dir)
      .parquet(dir)
      .select(input_file_name().as("_f"), col(keyCol).cast("string"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (f, rows) => f -> rows.map(_.getString(1)).toSeq }
  }

  /** One append per layout — enough distinct keys to touch every bucket
    * several times over — with the on-disk schema spelled out, not
    * derived from the layout, so the test pins the file format. */
  private def layoutCases = {
    import spark.implicits._
    Seq(
      (BatchStore.Bands, Seq("band" -> "string"),
        (1 to 5000).map(i => "band_%04d".format(i)).toDF("band")),
      (BatchStore.Vectors,
        Seq("ck" -> "string", "vec_id" -> "bigint", "fx" -> "array<bigint>"),
        (1 to 3000)
          .map(i => ("ck_%04d".format(i % 500), i.toLong, Seq(i.toLong)))
          .toDF("ck", "vec_id", "fx")))
  }

  /** Appends `rows` to a fresh store of `layout` and checks the store
    * wrote at most one file per bp dir, each sorted by the layout key. */
  private def assertOneSortedFilePerBucket(layout: BatchStore.Layout,
      cols: Seq[(String, String)],
      rows: org.apache.spark.sql.DataFrame): Unit = withTempDir { tmp =>
    val store = BatchStore.open(spark, s"$tmp/store", layout)
    assert(store.append(rows, "b0"))
    val perFile = fileKeys(s"$tmp/store", layout.key,
      cols ++ Seq("batch" -> "string", "bp" -> "bigint"))
    assert(perFile.nonEmpty)
    // one file per bp dir: no two files share a parent directory
    val parents = perFile.keys.toSeq
      .map(f => f.substring(0, f.lastIndexOf('/')))
    assert(parents.distinct.size == parents.size,
      s"${layout.key}: expected at most one file per bp dir, got " +
        s"${parents.size} files over ${parents.distinct.size} dirs")
    // every file's rows arrive in key order (the row-group-stat
    // tightness the pruned lookup tiers rely on)
    perFile.foreach { case (f, keys) =>
      assert(keys == keys.sorted, s"file $f not ${layout.key}-sorted")
    }
  }

  test("BandStore.append writes one band-sorted file per touched bucket") {
    val (layout, cols, rows) = layoutCases(0)
    assertOneSortedFilePerBucket(layout, cols, rows)
  }

  test("ClusterVecStore.append writes one ck-sorted file per touched bucket") {
    val (layout, cols, rows) = layoutCases(1)
    assertOneSortedFilePerBucket(layout, cols, rows)
  }

  /** Shuffle exchanges planned by each parquet write `f` runs. */
  private def writeExchanges(f: => Unit): Seq[Int] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val helper = new AdaptiveSparkPlanHelper {}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        helper.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec])
          .foreach(w => seen.add(
            helper.collect(w) { case e: ShuffleExchangeLike => e }.size))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      // listener events are async: wait until the count is nonzero
      // and stable
      var prev = -1
      var spins = 0
      while ((seen.size != prev || seen.isEmpty) && spins < 100) {
        prev = seen.size; Thread.sleep(50); spins += 1
      }
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("a Vectors append and a Vectors compaction each plan exactly " +
      "one Exchange (dedup rides the bucket shuffle)") {
    withTempDir { tmp =>
      val store = BatchStore.open(spark, s"$tmp/vecs", BatchStore.Vectors)
      val rows = layoutCases(1)._3
      assert(writeExchanges(assert(store.append(rows, "b0"))) == Seq(1))
      assert(writeExchanges(assert(store.append(rows, "b1"))) == Seq(1))
      assert(writeExchanges(assert(store.compact() == 2)) == Seq(1))
      // the second copy of every (ck, vec_id) folded away
      assert(store.read().count() == 3000L)
    }
  }

  test("rekeyStoreOnCutover: pointer publish and re-key are ONE unit " +
      "w.r.t. store readers (a reader released mid-cutover blocks and " +
      "then sees new pointer + re-keyed store, never the half state)") {
    withTempDir { tmp =>
      import org.apache.spark.sql.functions.col
      val e = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val root = s"$tmp/root"
      IvfVersions.init(e.filter(col("vec_id") < 250), root)
      val store = BatchStore.open(spark, s"$tmp/store", BatchStore.Vectors)
      val (_, init) = Clustering.incrementalSemanticWithStore(
        e.filter(col("vec_id") < 250),
        IvfVersions.currentDir(root), store, 1000L)
      store.append(init, "init")
      def rekeyedDirExists: Boolean = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(store.dir))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.exists(
            _.getFileName.toString.startsWith("batch=rekeyed"))
        } finally s.close()
      }
      // release the reader EXACTLY between the pointer swap and the
      // re-key; without the single write-locked span it would observe
      // (v=1, old keys) — the silent half-cutover the r20 ADVICE flagged
      val swapped = new java.util.concurrent.CountDownLatch(1)
      val observed =
        new java.util.concurrent.atomic.AtomicReference[(Long, Boolean)]
      val reader = new Thread(() => {
        swapped.await()
        StoreState.withRead(store.dir) {
          observed.set((IvfVersions.currentVersion(root).get,
            rekeyedDirExists))
        }
      })
      reader.start()
      IvfVersions.retrain(e, root, cutover = (_, swap) =>
        StoreState.withWrite(store.dir) {
          swap()
          swapped.countDown()
          Thread.sleep(400) // hold the half-state window open
          Clustering.rekeyStore(store, IvfVersions.currentDir(root))
          ()
        })
      reader.join(30000)
      assert(!reader.isAlive, "reader never completed")
      val (v, rekeyed) = observed.get
      assert(v == 1L, s"reader resolved v=$v, expected the new pointer")
      assert(rekeyed,
        "reader observed the new pointer against the OLD-keyed store — " +
          "the cutover was not atomic w.r.t. store readers")
    }
  }

  test("imageNearDupPairs: a clique past the salt threshold emits " +
      "exactly the plain-path pair set (count + spot membership)") {
    import spark.implicits._
    // 1200 identical payloads (one clique past the 1024 salt threshold)
    // plus two unrelated distinct docs
    val m = 1200
    val clique = (0 until m).map(i =>
      (i.toLong, "identical payload bytes for the hot clique"))
    val others = Seq((100000L, "some other text entirely different"),
      (100001L, "yet another unrelated document body"))
    val payloads = (clique ++ others).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
    val pairs = Multimodal.imageNearDupPairs(
      Multimodal.perceptualHashes(payloads))
    val withinClique = pairs.filter(col("id1") < m && col("id2") < m)
    // the clique emits every ordered pair exactly once
    assert(withinClique.count() == m.toLong * (m - 1) / 2)
    assert(withinClique.distinct().count() == m.toLong * (m - 1) / 2)
    // spot-check boundary pairs exist with hamming 0
    val spot = withinClique.filter(
      (col("id1") === 0 && col("id2") === (m - 1)) ||
        (col("id1") === 598 && col("id2") === 599))
      .collect()
    assert(spot.length == 2 && spot.forall(_.getLong(2) == 0L))
  }
}
