package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.{Catalog, ColumnWriteItem, RowWriteItem, Smoltable}
import graft.model._

/** `scan_mutate`: one thread calls the `Smoltable` verbs directly on a
  * bulk-loaded, compacted orders table holding several versions per cell.
  * Each seeded pass runs, in order: a full `count()`, a locality-group scan
  * of family `m` under a global cell limit, three prefix scans (sampled,
  * offset + row limit, column cell limit 1), a prefix `scanCount`, two
  * `deleteRow`s (one filtered to a column, one whole row), one small
  * `write`, a version-GC pass and `compact()`. The bulk path does the work
  * here: Parquet scan volume, the scan windows, and whole-table
  * copy-on-write rewrites.
  *
  * A model of the table (rows and versions per column for every row a pass
  * touched) checks each count, each limited scan, every delete and GC
  * count, and that deleted cells stay gone. Every scan size and limit is
  * fixed; the seed picks the table's values, the prefixes, rows and
  * columns, so seeds differ in data, not in the amount of work. */
object ScanMutate {
  private object WindowOver extends scala.util.control.ControlThrowable
  private val Families = Seq("o", "m")
  private val Columns = Seq("o:status", "o:priority", "o:custkey", "m:total",
    "m:date")

  def run(ctx: Ctx, rep: Report): Unit = {
    val s = ctx.spark
    val rows = if (ctx.smoke) 2000L else 10000L
    val versions = 3
    val t = ctx.setup(rep) { dir =>
      val tb = Smoltable.open(s, new Catalog(dir.toString), "orders")
      tb.createColumnFamilies(Seq(ColumnFamilyDefinition("o")))
      tb.createColumnFamilies(Seq(ColumnFamilyDefinition("m")),
        localityGroup = true)
      tb.writeBulk(Inputs.orderCells(s, ctx.seed, rows, versions))
      tb.compact()
      tb
    }(tb => Util.deleteTree(java.nio.file.Paths.get(tb.catalog.baseDir)))

    val model = new Model(rows, versions)
    val rnd = ctx.rng(7)
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var readMs = 0.0
    var cellsScanned = 0L
    var cellsReturned = 0L
    var verbMs = 0.0
    var verbs = 0L
    val rewrites = mutable.ArrayBuffer.empty[(String, Long, Int)]
    val tracer = if (ctx.trace) Some(new Tracer(s, full = true)) else None
    val tableDir = t.catalog.tablePath(t.name)
    var pass = 0
    var writes = 0L
    var deadline = Double.MaxValue
    var firstPass = true
    var recording = true
    /** Table bytes on disk and data files after the last complete pass:
      * a window can end mid-pass, between a rewrite and the compaction. */
    var endOfPass = (0.0, 0)

    /** Time one verb; in the traced phase it runs as a span. Past the
      * window's end, only the phase's first pass still runs to completion. */
    def verb[T](op: String, read: Boolean, traced: Boolean)(f: => T): T = {
      if (!firstPass && Util.nowMs() >= deadline) throw WindowOver
      val before = if (Seq("delete", "gc", "compact").contains(op))
        t.manifest.dataFiles.map(_.path).toSet else Set.empty[String]
      val (ms, r) = Util.timed {
        if (traced) tracer.get.span(s"p${pass}_${verbs}", op, "core")(f) else f
      }
      rep.attempted += 1
      if (!recording) return r
      verbs += 1
      verbMs += ms
      if (read) readMs += ms
      if (!traced) lat.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
      if (before.nonEmpty) {
        val fresh = t.manifest.dataFiles.filterNot(f => before(f.path))
        rewrites += ((op, fresh.map(_.sizeOrStat(tableDir)).sum, fresh.size))
      }
      r
    }

    def onePass(traced: Boolean): Unit = {
      // 1. full count
      val (nRows, nCells) = verb("count", read = true, traced)(t.count())
      cellsScanned += nCells
      cellsReturned += nCells
      rep.check(nRows == model.liveRows && nCells == model.cells,
        s"count() = ($nRows, $nCells), model (${model.liveRows}, ${model.cells})")
      // 2. locality-group scan of family m under a global cell limit
      val limit = 1000
      val lg = verb("scan", read = true, traced)(t.scan(ScanInput(
        ScanMode.Prefix(""), filter = Some(ColumnFilter.Key(ColumnKey.of("m"))),
        globalCellLimit = Some(limit))))
      cellsScanned += lg.metrics.cellsScanned
      cellsReturned += lg.rows.map(_.cellCount.toLong).sum
      rep.check(lg.rows.map(_.cellCount).sum == limit &&
        lg.rows.forall(_.columns.keySet == Set("m")),
        s"family scan returned ${lg.rows.map(_.cellCount).sum} cells, limit $limit")
      // 3. prefix scans: sampled, offset + limit, one cell per column
      val p1 = model.prefix(rnd)
      val sampled = verb("scan", read = true, traced)(t.scan(ScanInput(
        ScanMode.Prefix(p1), sample = Some(0.25f))))
      cellsScanned += sampled.metrics.cellsScanned
      cellsReturned += sampled.rows.map(_.cellCount.toLong).sum
      rep.check(sampled.rows.forall(r => r.rowKey.startsWith(p1) &&
        model.isLive(r.rowKey)) &&
        sampled.rows.map(_.rowKey).distinct.size == sampled.rows.size,
        s"sampled scan of $p1 left its prefix or returned a deleted row")
      val p2 = model.prefix(rnd)
      val (off, lim) = (20L, 20)
      val window = verb("scan", read = true, traced)(t.scan(ScanInput(
        ScanMode.Prefix(p2), rowOffset = Some(off), rowLimit = Some(lim))))
      cellsScanned += window.metrics.cellsScanned
      cellsReturned += window.rows.map(_.cellCount.toLong).sum
      // the reference's offset gate keeps rows whose 1-based rank >= offset
      val expectKeys = model.liveKeys(p2).drop(math.max(0, off.toInt - 1))
        .take(lim)
      rep.check(window.rows.map(_.rowKey) == expectKeys &&
        window.rows.forall(r => r.cellCount == model.cellsOf(r.rowKey)),
        s"offset $off limit $lim scan of $p2 returned " +
          s"${window.rows.map(_.rowKey).take(3)}..., expected ${expectKeys.take(3)}...")
      val p3 = model.prefix(rnd)
      val newest = verb("scan", read = true, traced)(t.scan(ScanInput(
        ScanMode.Prefix(p3), columnCellLimit = Some(1), rowLimit = Some(50))))
      cellsScanned += newest.metrics.cellsScanned
      cellsReturned += newest.rows.map(_.cellCount.toLong).sum
      rep.check(newest.rows.size <= 50 &&
        newest.rows.forall(r => r.rowKey.startsWith(p3) &&
          r.columns.valuesIterator.forall(_.valuesIterator.forall(_.size == 1))),
        s"column-cell-limit scan of $p3 broke its limit or prefix")
      // 4. prefix count
      val p4 = model.prefix(rnd)
      val cnt = verb("count", read = true, traced)(
        t.scanCount(CountInput(ScanMode.Prefix(p4))))
      cellsScanned += cnt.cellCount
      cellsReturned += cnt.cellCount
      rep.check(cnt.rowCount == model.liveKeys(p4).size &&
        cnt.cellCount == model.liveKeys(p4).map(model.cellsOf).sum,
        s"scanCount($p4) = (${cnt.rowCount}, ${cnt.cellCount})")
      // 5. two deletes: one column of a row, one whole row
      val k1 = model.liveKey(rnd)
      val col = Columns(rnd.nextInt(Columns.size))
      val d1 = verb("delete", read = false, traced)(
        t.deleteRow(k1, Some(ColumnFilter.Key(ColumnKey.of(col)))))
      rep.check(d1 == model.versionsOf(k1, col),
        s"deleteRow($k1, $col) deleted $d1, model ${model.versionsOf(k1, col)}")
      model.deleteColumn(k1, col)
      val k2 = model.liveKey(rnd)
      val d2 = verb("delete", read = false, traced)(t.deleteRow(k2))
      rep.check(d2 == model.cellsOf(k2),
        s"deleteRow($k2) deleted $d2, model ${model.cellsOf(k2)}")
      model.deleteRow(k2)
      // 6. one small write: a newer version of two columns of a live row
      val k3 = model.liveKey(rnd)
      writes += 1
      val ts = versions + writes
      verb("write", read = false, traced)(t.write(Seq(RowWriteItem(k3, Seq(
        ColumnWriteItem(ColumnKey.of("o:status"), Some(ts), CellValue.S("W")),
        ColumnWriteItem(ColumnKey.of("m:total"), Some(ts),
          CellValue.F64(rnd.nextInt(100000) / 100.0)))))))
      model.write(k3, Seq("o:status", "m:total"))
      // 7. version GC back to `versions` per column
      val gc = Families.map(_ -> GcSettings(versionLimit = Some(versions))).toMap
      val dead = verb("gc", read = false, traced)(t.runVersionGcWith(gc))
      rep.check(dead == model.excess, s"GC dropped $dead, model ${model.excess}")
      model.gc()
      // 8. compaction
      verb("compact", read = false, traced)(t.compact())
      endOfPass = (t.catalog.diskSpaceUsage(t.name).toDouble, t.dataFileCount)
      // deleted cells stay gone (untimed)
      val back = t.multiGet(Seq(GetRowInput(k1), GetRowInput(k2))).rows
      rep.check(back.forall(_.rowKey != k2) &&
        back.filter(_.rowKey == k1).forall(r => !r.columns.get(col.takeWhile(_ != ':'))
          .exists(_.contains(col.dropWhile(_ != ':').drop(1)))),
        s"deleted cells of $k1/$k2 came back")
      pass += 1
    }

    def phase(traced: Boolean): Unit = {
      deadline = Util.nowMs() + ctx.window * 1000
      firstPass = true
      try while (true) { onePass(traced); firstPass = false }
      catch { case WindowOver => }
    }

    // one untimed pass first: a cold pass runs 1.5-2x slower than the next
    ctx.warmUp(rep) {
      recording = false
      onePass(traced = false)
      recording = true
    }
    phase(traced = false)
    val untracedDelete = Util.median(lat("delete").toSeq)
    // the pass's fixed verb mix makes the median over all calls a steady
    // "typical verb" latency; the per-verb medians are reported as well
    val untracedVerb = Util.median(lat.values.flatten.toSeq)
    val untracedVerbs = verbs
    val untracedVerbMs = verbMs
    val untracedRead = (readMs, cellsScanned, cellsReturned)
    Util.mark("window done")
    tracer.foreach(_ => phase(traced = true))
    val (finalRows, finalCells) = t.count()
    rep.check(finalRows == model.liveRows && finalCells == model.cells,
      s"final count() = ($finalRows, $finalCells)")

    val userBytes = Workloads.logicalBytes(t)
    val diskBytes = endOfPass._1
    rep.endToEnd("ops_per_s") =
      Metric(untracedVerbs / (untracedVerbMs / 1000.0), "1/s")
    rep.endToEnd("op_p50_ms") = Metric(untracedVerb, "ms")
    rep.endToEnd("disk_bytes_per_user_byte") =
      Metric(diskBytes / userBytes, "ratio")
    rep.detail("scan_cells_per_s") =
      Metric(untracedRead._2 / (untracedRead._1 / 1000.0), "cells/s")
    rep.detail("delete_p50_ms") = Metric(untracedDelete, "ms")
    rep.detail("compact_s") = Metric(Util.median(lat("compact").toSeq) / 1000, "s")
    Seq("count", "scan", "write", "gc").foreach { op =>
      rep.detail(s"${op}_p50_ms") = Metric(Util.median(lat(op).toSeq), "ms")
    }
    lat.foreach { case (op, xs) => rep.samples(op) = xs.toSeq }
    rep.detail("passes") = Metric(pass, "count")
    rep.detail("deletes") = Metric(lat("delete").size, "count")

    tracer.foreach { tr =>
      Workloads.finishTrace(ctx, rep, tr)
      val spans = tr.spans
      Seq("count", "scan", "delete", "write", "gc", "compact").foreach { op =>
        SparkCost.of(tr, spans.filter(_.name == op))
          .metrics(op).foreach { case (k, v, u) =>
            rep.layers(k) = Metric(v, u)
          }
      }
      val all = SparkCost.of(tr, spans)
      Workloads.genericLayers(rep, all, tr)
      rep.layers("trace.overhead_ratio") =
        Metric(Util.median(spans.map(_.ms)) / untracedVerb, "ratio")
      rep.layers("core.read_amp.scan") =
        Metric(untracedRead._2.toDouble / math.max(1L, untracedRead._3), "ratio")
      val del = rewrites.filter(_._1 == "delete")
      rep.layers("storage.rewrite_bytes_per_delete") =
        Metric(Util.mean(del.map(_._2.toDouble).toSeq), "bytes")
      rep.layers("storage.rewrite_files_per_delete") =
        Metric(Util.mean(del.map(_._3.toDouble).toSeq), "count")
      rep.layers("storage.compact_bytes") = Metric(Util.mean(
        rewrites.filter(_._1 == "compact").map(_._2.toDouble).toSeq), "bytes")
    }
    rep.stamp("input") = s"orders seed=${ctx.seed} rows=$rows versions=$versions"

    rep.layers("storage.files_end") = Metric(endOfPass._2, "count")
    rep.layers("storage.bytes_end") = Metric(diskBytes, "bytes")
    tracer.foreach(_.close())
  }

  /** The expected table: `rows` keys with 5 columns of `versions` versions,
    * except the rows a pass touched, which are tracked exactly. */
  private final class Model(rows: Long, versions: Int) {
    private val touched = mutable.Map.empty[String, mutable.Map[String, Int]]

    private def cols(k: String): mutable.Map[String, Int] =
      touched.getOrElseUpdate(k,
        mutable.Map(Columns.map(_ -> versions): _*))
    private def untouched: Long = rows - touched.size

    def isLive(k: String): Boolean = touched.get(k).forall(_.nonEmpty)
    def cellsOf(k: String): Long =
      touched.get(k).map(_.values.sum.toLong).getOrElse(5L * versions)
    def versionsOf(k: String, c: String): Long =
      touched.get(k).map(_.getOrElse(c, 0).toLong).getOrElse(versions.toLong)
    def liveRows: Long = untouched + touched.count(_._2.nonEmpty)
    def cells: Long = untouched * 5 * versions + touched.values.map(_.values.sum).sum
    def excess: Long = touched.values.flatMap(_.values)
      .map(v => math.max(0, v - versions).toLong).sum

    /** An 8-character key prefix: 100 consecutive keys. */
    def prefix(r: scala.util.Random): String =
      Inputs.rowKey(r.nextLong(rows)).take(8)
    def liveKeys(p: String): Seq[String] = {
      val lo = p.toLong * 100
      (lo until math.min(lo + 100, rows)).map(Inputs.rowKey).filter(isLive)
    }
    def liveKey(r: scala.util.Random): String = {
      var k = Inputs.rowKey(r.nextLong(rows))
      while (!isLive(k)) k = Inputs.rowKey(r.nextLong(rows))
      k
    }
    def deleteColumn(k: String, c: String): Unit = { cols(k).remove(c); () }
    def deleteRow(k: String): Unit = cols(k).clear()
    def write(k: String, cs: Seq[String]): Unit =
      cs.foreach(c => cols(k)(c) = cols(k).getOrElse(c, 0) + 1)
    def gc(): Unit = touched.values.foreach { m =>
      m.keys.toSeq.foreach(c => m(c) = math.min(m(c), versions))
    }
  }
}
