package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: one workload, one seed, tracing on or
  * off. `run.py` builds the harness and starts this; see `README.md`.
  *
  * Writes `result.json` (the outcome and every metric), `detail.json` (every
  * named metric, the checks and the environment stamp) and, when traced,
  * `spans.jsonl` and `layers.json` into `--out`. */
object Main {

  /** Layer counts and ratios that read zero in a workload that does not
    * reach the layer (every other per-layer metric is measured in every
    * workload). */
  private val LayerUnits: Map[String, String] = Map(
    "api.response_bytes.get" -> "bytes", "core.read_amp.get" -> "ratio",
    "core.read_amp.scan" -> "ratio", "storage.write_amp" -> "ratio",
    "storage.rewrite_bytes_per_delete" -> "bytes",
    "storage.compact_bytes" -> "bytes", "stream.triggers" -> "count",
    "stream.jobs_per_trigger" -> "count",
    "operators.store_files_end" -> "count")

  val Workloads: Map[String, (Ctx, Report) => Unit] = Map(
    "serve_mixed" -> ServeMixed.run,
    "scan_mutate" -> ScanMutate.run,
    "curate_stream" -> CurateStream.run)

  def main(args: Array[String]): Unit = {
    val code =
      try run(args.grouped(2).collect { case Array(k, v) => k -> v }.toMap)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // explicit exit: the HTTP server's request pool is non-daemon
    System.exit(code)
  }

  private def run(opt: Map[String, String]): Int = {
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opt("--workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = Paths.get(opt("--work")).toAbsolutePath
    val out = Paths.get(opt("--out")).toAbsolutePath
    Files.createDirectories(out)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val trace = opt.getOrElse("--trace", "0") == "1"
    val ctx = Ctx(spark, opt("--seed").toLong,
      opt("--seconds").toDouble, trace, opt.get("--smoke").contains("1"),
      work, out, clients = math.max(1, cpus - 1), setups = 3, sessionS)
    val rep = new Report
    Util.mark("session ready")
    body(ctx, rep)
    Util.mark("workload done")
    rep.endToEnd("live_heap_mb") = Metric(Util.liveHeapMb(), "MB")
    rep.layers("jvm.gc_ms") = Metric(Util.gcMillis().toDouble, "ms")
    rep.detail("error_ratio") =
      Metric(Util.ratio(rep.failed.toDouble, rep.attempted.toDouble), "ratio")
    spark.stop()
    Util.mark("session stopped")

    if (trace) LayerUnits.foreach { case (k, unit) =>
      if (!rep.layers.contains(k)) rep.layers(k) = Metric(0.0, unit)
    }
    def metricMap(m: Iterable[(String, Metric)]) =
      scala.collection.immutable.ListMap(m.toSeq.map { case (k, v) =>
        k -> scala.collection.immutable.ListMap("value" -> v.value, "unit" -> v.unit)
      }: _*)
    val env = scala.collection.immutable.ListMap(
      "nproc" -> cpus, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "commit" -> opt.getOrElse("--commit", "unknown"),
      "source_sha256" -> opt.getOrElse("--source-sha", "unknown"),
      "boot_id" -> opt.getOrElse("--boot-id", "unknown"),
      "seed" -> ctx.seed, "workload" -> workload, "trace" -> trace,
      "clients" -> (if (workload == "serve_mixed") ctx.clients else 1),
      "window_s" -> ctx.window, "smoke" -> ctx.smoke)
    write(out.resolve("detail.json"), Util.json(scala.collection.immutable.ListMap(
      "env" -> (env ++ rep.stamp),
      "end_to_end" -> metricMap(rep.endToEnd),
      "workload_metrics" -> metricMap(rep.detail),
      "checks" -> rep.checks, "check_failures" -> rep.failureNotes,
      "samples_ms" -> rep.samples,
      "attempted" -> rep.attempted, "failed" -> rep.failed)))
    if (trace) write(out.resolve("layers.json"), Util.json(metricMap(rep.layers)))
    write(out.resolve("result.json"), Util.json(scala.collection.immutable.ListMap(
      "correct" -> (rep.failed == 0 && rep.checks > 0),
      "attempted" -> rep.attempted, "failed" -> rep.failed,
      "end_to_end" -> metricMap(rep.endToEnd),
      "per_layer" -> metricMap(if (trace) rep.layers else Nil))))
    0
  }

  private def write(p: Path, s: String): Unit =
    Files.write(p, (s + "\n").getBytes(StandardCharsets.UTF_8))
}
