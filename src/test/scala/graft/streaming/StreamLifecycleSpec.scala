package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The two shared lifecycles of [[StreamOps]]: the parquet file-sink
  * drain behind the `*ToFiles` scale shapes, and the store-backed
  * micro-batch runner behind the incremental dedup streams. */
class StreamLifecycleSpec extends SparkSuite {

  private val Dir = "/root/testdata/sf0.001"

  test("file-sink drain: bounded dedup and the plain and salted " +
      "attribution joins land their memory-sink twins' keys on sf0.001") {
    def keys(df: DataFrame, cols: Seq[String]): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val pair = Seq("buy_id", "click_id")
    withTempDir { tmp =>
      Seq(
        ("dedup_bounded", Seq("user_id", "event_type"),
          StreamOps.streamingDedupBounded(spark, Dir),
          StreamOps.streamingDedupBoundedToFiles(spark, Dir,
            _: String, _: String)),
        ("join", pair, StreamOps.attributionJoin(spark, Dir),
          StreamOps.attributionJoinToFiles(spark, Dir, _: String, _: String)),
        ("join_salted", pair, StreamOps.attributionJoinSalted(spark, Dir),
          StreamOps.attributionJoinSaltedToFiles(spark, Dir,
            _: String, _: String))
      ).foreach { case (name, cols, viaMemory, toFiles) =>
        val want = keys(viaMemory, cols)
        assert(want.nonEmpty, s"$name: empty memory-sink result")
        val got = keys(toFiles(s"$tmp/${name}_out", s"$tmp/${name}_ck"), cols)
        assert(got == want,
          s"$name: ${(got -- want).size} extra, ${(want -- got).size} missing")
      }
    }
  }

  test("store-stream runner: inline maintenance on a single-store image " +
      "stream lands the unmaintained run's survivors in <=3 batch dirs") {
    import graft.operators.BatchStore
    val docs = spark.read.parquet(s"$Dir/documents.parquet")
    withTempDir { tmp =>
      val inDir = Paths.get(s"$tmp/in/documents.parquet")
      Files.createDirectories(inDir)
      // the last file also carries exact copies (fresh ids) of
      // first-batch docs: only a store that still holds batch 0's
      // members after a compaction folded them away drops every copy
      val copies = docs.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      var mtime = 1700000000000L
      Seq(docs.filter(col("doc_id") < 170),
          docs.filter(col("doc_id") >= 170 && col("doc_id") < 340),
          docs.filter(col("doc_id") >= 340).unionByName(copies))
        .zipWithIndex.foreach { case (df, i) =>
          val stage = s"$tmp/stage_$i"
          df.repartition(1).write.parquet(stage)
          val l = Files.list(Paths.get(stage))
          val part = try l.filter(_.toString.endsWith(".parquet"))
            .findFirst().get() finally l.close()
          val dest = inDir.resolve(s"b$i.parquet")
          Files.move(part, dest)
          mtime += 10000
          Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
      val landed = docs.filter(col("doc_id") % 24 === 0)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      def run(name: String, maintainAtBatches: Int): Set[(Long, Long)] =
        StreamOps.incrementalImageToFiles(spark, s"$tmp/in", landed,
            s"$tmp/${name}_store", s"$tmp/${name}_out", s"$tmp/${name}_ck",
            maxFilesPerTrigger = Some(1),
            maintainAtBatches = maintainAtBatches)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def tags(name: String): Seq[String] =
        BatchStore.open(spark, s"$tmp/${name}_store", BatchStore.Vectors)
          .batchTags()
      val plain = run("plain", 0)
      assert(plain.nonEmpty)
      assert(!plain.exists(_._1 >= 1000000L), "a planted copy survived")
      val maintained = run("maintained", 2)
      val nBatches = Files.list(Paths.get(s"$tmp/maintained_ck/offsets"))
        .count()
      assert(nBatches >= 3, s"expected >=3 micro-batches, got $nBatches")
      assert(maintained == plain,
        "maintenance changed the survivor set")
      assert(tags("plain").size >= 4, s"plain store: ${tags("plain")}")
      val kept = tags("maintained")
      assert(kept.exists(_.startsWith("compacted")),
        s"maintenance never compacted: $kept")
      assert(kept.size <= 3, s"maintained store holds $kept")
    }
  }
}
