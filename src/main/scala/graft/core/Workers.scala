package graft.core

import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Background maintenance workers, mirroring `server/src/worker/mod.rs`:
  *
  *  - '''GC worker''' (`worker/gc.rs`): `run_version_gc` on every user
  *    table every 24 h, recording `gc#del_cnt` in the table's metrics
  *    table;
  *  - '''row-count worker''' (`worker/row_count.rs`): approximate counts →
  *    `stats#row_cnt` / `stats#cell_cnt`, with the reference's adaptive
  *    cadence — 30 s / 60 s / 1 h / 6 h depending on how long the sweep
  *    took (`row_count.rs:38-45`);
  *  - '''system metrics worker''' (`worker/metrics.rs`): every 60 s,
  *    per-table `stats#seg_cnt` (parquet data-file count, the segment
  *    analog) and `stats#du`, plus `sys#cpu` / `sys#mem` to the global
  *    `_metrics` table. The fjall journal/write-buffer gauges have no
  *    Spark analog and are skipped; the metrics FIFO byte cap is enforced
  *    here instead (the reference gets that from its compaction strategy).
  *
  * All workers start after the reference's 15 s warm-up delay
  * (`worker/mod.rs:20-44`). Sweeps also run synchronously via the public
  * methods so tests and embedders can drive them deterministically.
  */
final class Workers(spark: SparkSession, catalog: Catalog,
    /** FIFO byte cap per metrics table — read ONCE from
      * `SMOLTABLE_METRICS_CAP_MB` by default ([[MetricsTable.envCapBytes]],
      * the reference's `env::metrics_cap_mb`); injectable for tests. */
    metricsCapBytes: Long = MetricsTable.envCapBytes()) {

  private val pool = Executors.newScheduledThreadPool(1, new ThreadFactory {
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-workers")
      t.setDaemon(true)
      t
    }
  })

  private def userTables: Seq[String] =
    catalog.listTables().filterNot(_.startsWith("_"))

  private def metricsFor(name: String): MetricsTable =
    MetricsTable.open(spark, catalog, Some(name))

  /** One GC pass over all user tables (`worker/gc.rs:12-36`). */
  def gcSweep(): Unit = userTables.foreach { name =>
    val deleted = Smoltable.open(spark, catalog, name).runVersionGc()
    metricsFor(name).dataPoint("gc#del_cnt", deleted.toDouble)
  }

  /** Registered auxiliary maintenance tasks (round 18): operator-layer
    * state that needs the same background cadence as table GC — e.g. a
    * dedup [[graft.operators.BatchStore]]'s expire+compact pass
    * (`store.maintenanceTask(...)`) — without the core layer depending
    * on the operator layer. Registration is idempotent per name
    * (re-register to replace). Tasks run inside the GC worker's sweep,
    * each failure isolated and reported to the global metrics table
    * (`task#<name>_err`), so one wedged store cannot stall table GC. */
  private val maintenance =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()

  def registerMaintenance(name: String)(task: () => Unit): Unit = {
    maintenance.put(name, task); ()
  }

  def unregisterMaintenance(name: String): Unit = {
    maintenance.remove(name); ()
  }

  /** One pass over every registered maintenance task (also runs inside
    * the scheduled GC cadence). Only `NonFatal` failures are absorbed —
    * interrupts and VM errors propagate (a cancelled worker thread must
    * actually stop) — and the error-metrics write is itself guarded, so
    * a wedged metrics table cannot abort the sweep and skip the
    * remaining tasks (round 19; the r18 version caught `Throwable` and
    * let a throwing `dataPoint` defeat the per-task isolation). */
  def maintenanceSweep(): Unit = {
    import scala.jdk.CollectionConverters._
    maintenance.asScala.toSeq.sortBy(_._1).foreach { case (name, task) =>
      try task()
      catch {
        case NonFatal(e) =>
          System.err.println(s"[workers] maintenance $name: ${e.getMessage}")
          try MetricsTable.open(spark, catalog, None)
            .dataPoint(s"task#${name}_err", 1.0)
          catch {
            case NonFatal(e2) => System.err.println(
              s"[workers] maintenance $name: error metric failed: ${e2.getMessage}")
          }
      }
    }
  }

  /** One counting pass (`worker/row_count.rs:16-32`). */
  def rowCountSweep(): Unit = userTables.foreach { name =>
    val (rows, cells) =
      Smoltable.open(spark, catalog, name).approximateCount()
    val m = metricsFor(name)
    m.dataPoint("stats#row_cnt", rows.toDouble)
    m.dataPoint("stats#cell_cnt", cells.toDouble)
  }

  /** One system-metrics pass (`worker/metrics.rs:14-50`) + FIFO cap.
    * Also the visibility bound for coalesced per-call latency points:
    * every buffered metrics point lands within one sweep period. */
  def systemSweep(): Unit = {
    MetricsTable.flushAll(spark, catalog)
    userTables.foreach { name =>
      val t = Smoltable.open(spark, catalog, name)
      val m = metricsFor(name)
      m.dataPoint("stats#seg_cnt", t.dataFileCount.toDouble)
      m.dataPoint("stats#du", catalog.diskSpaceUsage(name).toDouble)
      m.enforceCap(metricsCapBytes)
    }
    val global = MetricsTable.open(spark, catalog, None)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val rt = Runtime.getRuntime
    global.dataPoint("sys#cpu", os.getSystemLoadAverage)
    global.dataPoint("sys#mem", (rt.totalMemory - rt.freeMemory).toDouble)
    global.enforceCap(metricsCapBytes)
  }

  private def safely(f: () => Unit): Runnable = new Runnable {
    override def run(): Unit =
      try f()
      catch { case NonFatal(e) => System.err.println(s"[workers] ${e.getMessage}") }
  }

  /** Start all three workers (daemon thread). */
  def start(initialDelaySecs: Long = 15L): Unit = {
    pool.scheduleWithFixedDelay(
      safely(() => { gcSweep(); maintenanceSweep() }),
      initialDelaySecs, 24L * 3600, TimeUnit.SECONDS)
    pool.scheduleWithFixedDelay(safely(() => systemSweep()),
      initialDelaySecs, 60L, TimeUnit.SECONDS)
    scheduleRowCount(initialDelaySecs)
  }

  /** Adaptive re-scheduling per `row_count.rs:38-45`. */
  private def scheduleRowCount(delaySecs: Long): Unit = {
    pool.schedule(new Runnable {
      override def run(): Unit = {
        val t0 = System.nanoTime()
        safely(() => rowCountSweep()).run()
        val secs = (System.nanoTime() - t0) / 1e9
        val next =
          if (secs < 2) 30L
          else if (secs < 5) 60L
          else if (secs < 60) 3600L
          else 21600L
        scheduleRowCount(next)
      }
    }, delaySecs, TimeUnit.SECONDS)
    ()
  }

  def stop(): Unit = { pool.shutdownNow(); () }
}
