package graft

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Benchmark main: runs every driver-contract query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is forced through a noop sink (full materialization of every
  * column — `count()` would let Catalyst prune the work away). A session
  * warm-up query runs first so JVM/codegen startup is not billed to the
  * first benchmark entry.
  *
  * Stability: every query runs `SPARK_GRAFT_BENCH_RUNS` times (default 3)
  * and reports the per-query MINIMUM — single-shot numbers in a shared
  * sandbox swing 2-10x on scheduler noise. A query that throws reports the
  * sentinel -1.0 (and its message in `"errors"`) so a broken query can
  * never masquerade as a fast pass.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the suite runs ~200 query executions in one JVM; the default
      // status-store retention (1000 SQL executions, 100k tasks, ...)
      // quietly accumulates hundreds of MB of driver heap over the run,
      // and the resulting GC pressure lands on whatever query happens to
      // sort LAST (r10: q3 officially 3.6 s vs 0.6 s isolated on
      // identical code). The bench needs no UI history at all.
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.retainedDeadExecutors", "5")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm-up: JVM + parquet footer caches + codegen paths, and the
    // engine-table build so eng_* entries measure queries, not bulk load
    run(spark.read.parquet(s"$sfDir/lineitem.parquet"))
    try run(SparkEntry.queries("eng_get_row")(spark, sfDir))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // between-query hygiene, so a query's measurement never pays for the
    // session state its PREDECESSORS left behind: cached plans/relations,
    // the memory-sink temp tables the streaming oracle harness registers
    // (each holds its last run's rows on the driver heap), and whatever
    // garbage the previous query made collectable. The GC call is outside
    // every timed window — it trades untimed wall-clock for stable timed
    // numbers.
    def resetSession(): Unit = {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      System.gc()
    }

    // optional subset (comma-separated names) for isolated drift
    // triage on a fresh JVM — unset in the driver's per-round run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      resetSession()
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          run(fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case NonFatal(e) =>
            errors.getOrElseUpdate(name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
            None
        }
      }
      name -> (if (times.isEmpty) -1.0 else times.min)
    }
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
    val qs = results
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val errJson = errors
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // host-boot identity: round-over-round ratios are only comparable
    // within one boot (SCALE.md "Round-13 bench root-cause": a host
    // reboot shifted every query family uniformly by ±30%); stamping
    // boot_id + uptime lets the next cross-round compare flag itself
    // as same-boot (comparable) or cross-boot (absolute ratios void)
    def readFirstLine(p: String): String =
      try scala.io.Source.fromFile(p).getLines().next().trim
      catch { case NonFatal(_) => "unknown" }
    val bootId = readFirstLine("/proc/sys/kernel/random/boot_id")
    val uptimeSec = readFirstLine("/proc/uptime").split(" ").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"errors":$errJson,"boot_id":"${esc(bootId)}","uptime_sec":$uptimeSec%.0f}"""
    // The bare println below is the original driver contract and stays
    // LAST on stdout, unchanged. Every recorded round's BENCH_*.json has
    // `parsed: null` (the line competes with sbt noise and the recorder's
    // 2000-char tail truncation clips its head), so ALSO (additions only):
    //  - write the identical JSON to deterministic files a consumer can
    //    read without parsing stdout at all. The paths are fixed, so they
    //    assume ONE Bench run at a time: concurrent runs overwrite each
    //    other's copy (the stdout line stays per-run);
    //  - print a sentinel-prefixed copy first, so a grep for a stable
    //    token recovers the full line from any log capture.
    def writeQuietly(path: String): Unit =
      try {
        val w = new java.io.PrintWriter(path, "UTF-8")
        try w.println(line) finally w.close()
      } catch { case NonFatal(_) => () }
    writeQuietly("/tmp/graft_bench_last.json")
    writeQuietly("bench_out.json")
    println(s"BENCH_JSON $line")
    println(line)
    spark.stop()
  }
}
