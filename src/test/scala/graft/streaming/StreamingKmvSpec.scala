package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The KMV sketch as RocksDB streaming state across a crash: a window's
  * PARTIAL sketch buffer (serialized TypedImperativeAggregate state)
  * must survive kill + resume on one checkpoint, so the finalized
  * estimate equals the batch sketch over BOTH runs' events — and lands
  * exactly once.
  */
class StreamingKmvSpec extends SparkSuite {

  private val D = 86400L * 1000000000L // one day in ns
  private val H = 3600L * 1000000000L
  private val W0 = (1770000000000000000L / D) * D // day-aligned, 2026

  test("sketch state survives kill + resume: finalized window estimates " +
      "the union of both runs' users, exactly once") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    withTempDir { tmp =>
      val in = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/in/events.parquet"))
      var mtime = 1700000000000L
      def writeBatch(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
        val rdd = spark.sparkContext.parallelize(rows.map {
          case (id, ts, u) =>
            org.apache.spark.sql.Row(id, ts, u, "click", 1.0) }, 1)
        val stage = s"$tmp/stage/$name"
        spark.createDataFrame(rdd, schema).write.parquet(stage)
        import scala.jdk.CollectionConverters._
        val part = {
          val st = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          try st.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally st.close()
        }
        val dst = in.resolve(s"$name.parquet")
        java.nio.file.Files.move(part, dst)
        mtime += 10000
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      val out = s"$tmp/out"
      val ck = s"$tmp/ck"
      val prev = spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        StreamOps.RocksDBProvider)
      try {
        def startQuery() =
          StreamOps.dailyKmvDistinctUsersToFiles(spark, s"$tmp/in", out, ck)
        // run 1: 40 users land in window W0 (partial sketch buffered),
        // nothing finalized yet (watermark still below W0+1day+1h)
        writeBatch("b0", (1L to 40L).map(u => (u, W0 + u * 1000000L, u)))
        startQuery() // drains and stops inside the helper
        // run 2 on the same checkpoint: 40 MORE users in W0 — the
        // resumed buffer must still hold run 1's hashes — plus a pusher
        // event two days later that finalizes W0
        writeBatch("b1", (41L to 80L).map(u => (u, W0 + u * 1000000L, u)) :+
          (999L, W0 + 2 * D + 2 * H, 999L))
        val got = startQuery()
          .select(col("window_start_us"), col("est_users"), col("n_events"))
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        val w0Rows = got.filter(_._1 == W0 / 1000L)
        assert(w0Rows.length == 1, s"W0 must land exactly once: ${got.toSeq}")
        // 80 distinct users < k=64? No: 80 > 64 -> estimate branch; the
        // batch sketch over the SAME 80 users is the expected value
        import spark.implicits._
        val expected = (1L to 80L).toDF("user_id")
          .agg(graft.operators.Corpus.kmvDistinct(col("user_id")).as("e"))
          .head().getDouble(0)
        assert(w0Rows.head._2 == expected,
          s"resumed sketch estimate ${w0Rows.head._2} != batch $expected")
        assert(w0Rows.head._3 == 80L)
      } finally prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
