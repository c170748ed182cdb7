package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.operators.Clustering
import graft.streaming.StreamOps

/** `curate_stream`: the bulk curation pipeline as one stream. A seeded
  * corpus (documents at ids `8·i`, embeddings for the first of them) is
  * split into 8 id-ordered parquet files, with seeded exact copies at
  * `8·i+1` and word-reversed copies at `8·i+2` (sharing the base's
  * embedding) planted in range, so id-ordered batches keep the streamed
  * result equal to the one-shot one. Setup also builds the k-means IVF
  * layout. Each timed call runs `StreamOps.curateToFiles` from empty stores
  * with one file per trigger and inline store maintenance, and collects the
  * packed result. The streaming lifecycle, store lookups, appends and
  * maintenance and the text kernels do the work; no table verb runs.
  *
  * Checks: no planted copy survives, and the multi-batch result equals an
  * untimed single-batch run over the same input. */
object CurateStream {
  private val Files = 2
  private val MaintainAtBatches = 2

  /** Job-description stage of `curateToFiles` -> reported stage. */
  private def stageOf(desc: String): Option[String] = {
    val i = desc.indexOf("]: ")
    if (!desc.startsWith("curate[") || i < 0) None
    else Some(desc.substring(i + 3).takeWhile(_ != ' ') match {
      case "gate+redact" => "gate_redact"
      case "exact" => "exact_lookup"
      case "minhash" => "minhash_lookup"
      case "semantic" => "semantic_lookup"
      case other => other
    })
  }
  private val Stages = Seq("gate_redact", "exact_lookup", "minhash_lookup",
    "semantic_lookup", "commit", "append", "maintenance")

  private final case class RunRec(start: Double, returned: Double,
      end: Double, packMs: Double, rows: Seq[Row], runId: Option[String])

  def run(ctx: Ctx, rep: Report): Unit = {
    val s = ctx.spark
    val (nDocs, nEmb) = if (ctx.smoke) (400, 160) else (5000, 2000)
    var corpus: Inputs.Corpus = null
    val fixture = ctx.setup(rep) { dir =>
      corpus = Inputs.corpus(ctx.seed, nDocs, nEmb, plantEvery = 10)
      Inputs.writeCorpus(s, corpus, dir.resolve("input"), Files)
      Clustering.writeKmeansIvfLayout(
        s.read.parquet(dir.resolve("input/embeddings.parquet").toString),
        dir.resolve("layout").toString)
      dir
    }(Util.deleteTree)
    val input = fixture.resolve("input")
    val emb = s.read.parquet(input.resolve("embeddings.parquet").toString)
    val inputDocs = corpus.docs.size

    var runNo = 0
    def curate(tr: Tracer, batches: Option[Int]): RunRec = {
      val dir = ctx.work.resolve(s"run-$runNo")
      runNo += 1
      val before = tr.triggers.map(_.runId).toSet
      val t0 = tr.now()
      val packed = StreamOps.curateToFiles(s, input.toString, emb,
        fixture.resolve("layout").toString, dir.resolve("state").toString,
        dir.resolve("out").toString, dir.resolve("checkpoint").toString,
        maxFilesPerTrigger = batches, maintainAtBatches = MaintainAtBatches)
      val t1 = tr.now()
      val rows = packed.collect().toSeq
      val t2 = tr.now()
      tr.drain()
      val runId = tr.triggers.map(_.runId).find(id => !before(id))
      RunRec(t0, t1, t2, t2 - t1, rows, runId)
    }
    def runDir(k: Int): Path = ctx.work.resolve(s"run-$k")

    /** Full curation calls for `ctx.window` seconds: the first always
      * runs; another starts only while the window still holds the last
      * call's duration, so the number of calls does not hinge on a few
      * percent of speed. The last call's state stays on disk, earlier
      * ones are deleted. */
    def phase(tr: Tracer): Seq[RunRec] = {
      val end = Util.nowMs() + ctx.window * 1000
      val runs = mutable.ArrayBuffer.empty[RunRec]
      do {
        if (runs.nonEmpty) Util.deleteTree(runDir(runNo - 1))
        runs += curate(tr, Some(1))
        rep.attempted += 1
      } while (Util.nowMs() + (runs.last.end - runs.last.start) <= end)
      runs.toSeq
    }
    def triggersOf(tr: Tracer, runs: Seq[RunRec]): Seq[Trigger] = {
      val ids = runs.flatMap(_.runId).toSet
      tr.triggers.filter(t => ids(t.runId) && t.inputRows > 0)
    }
    def docsPerS(runs: Seq[RunRec]): Double =
      Util.median(runs.map(r => inputDocs / ((r.end - r.start) / 1000.0)))

    // the untimed single-batch run the check compares against goes first:
    // it also warms the JVM, so timed calls do not pay first-call costs
    val oneShot = {
      val t = new Tracer(s, full = false)
      try {
        var r: RunRec = null
        ctx.warmUp(rep) { r = curate(t, None) }
        r
      } finally t.close()
    }
    rep.attempted += 1
    val plain = new Tracer(s, full = false)
    val runs = phase(plain)
    Util.mark("window done")
    val trig = triggersOf(plain, runs).map(_.ms)
    val last = runs.last
    rep.endToEnd("ops_per_s") = Metric(docsPerS(runs), "1/s")
    rep.endToEnd("op_p50_ms") = Metric(Util.median(trig), "ms")
    rep.detail("docs_per_s") = Metric(docsPerS(runs), "docs/s")
    rep.detail("trigger_p50_ms") = Metric(Util.median(trig), "ms")
    rep.detail("runs") = Metric(runs.size, "count")
    rep.detail("triggers") = Metric(trig.size, "count")
    rep.samples("call_docs_per_s") =
      runs.map(r => inputDocs / ((r.end - r.start) / 1000.0))
    rep.samples("trigger") = trig
    val stateDir = runDir(runNo - 1).resolve("state")  // the last timed call
    val outBytes = Util.dirBytes(runDir(runNo - 1))
    rep.endToEnd("disk_bytes_per_user_byte") =
      Metric(outBytes.toDouble / corpus.textBytes, "ratio")
    rep.layers("storage.files_end") =
      Metric(Util.dataFiles(runDir(runNo - 1)).size, "count")
    rep.layers("storage.bytes_end") = Metric(outBytes.toDouble, "bytes")
    rep.layers("operators.store_files_end") =
      Metric(Util.dataFiles(stateDir).size, "count")
    rep.layers("operators.store_bytes_end") =
      Metric(Util.dirBytes(stateDir).toDouble, "bytes")
    rep.layers("operators.survivor_ratio") =
      Metric(last.rows.size.toDouble / inputDocs, "ratio")
    rep.layers("operators.pack_ms") =
      Metric(Util.median(runs.map(_.packMs)), "ms")
    plain.close()

    if (ctx.trace) {
      val tr = new Tracer(s, full = true)
      val truns = phase(tr)
      tr.drain()
      val jobs = tr.allJobs.filterNot(_.end.isNaN)
      val trigSpans = truns.flatMap { r =>
        val run = tr.addSpan("curate", "streaming", r.start, r.end, -1L,
          s"run_${r.runId.getOrElse("")}")
        val ts = triggersOf(tr, Seq(r))
        ts.map(t => tr.addSpan(s"trigger ${t.batchId}", "streaming", t.start,
          t.end, run.id, run.request) -> t)
      }
      def jobsIn(sp: Span) = jobs.filter(j => j.start >= sp.start && j.start <= sp.end)
      val ts = trigSpans.map(_._2)
      rep.layers("stream.triggers") =
        Metric(ts.size.toDouble / truns.size, "count")
      Seq("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit")
        .foreach { k =>
          rep.layers(s"stream.trigger_ms.$k") = Metric(
            Util.median(ts.map(_.durations.getOrElse(k, 0L).toDouble)), "ms")
        }
      rep.layers("stream.start_ms") = Metric(Util.median(truns.map { r =>
        triggersOf(tr, Seq(r)).headOption.map(_.start - r.start).getOrElse(0.0)
      }), "ms")
      rep.layers("stream.finish_ms") = Metric(Util.median(truns.map { r =>
        triggersOf(tr, Seq(r)).lastOption.map(r.returned - _.end).getOrElse(0.0)
      }), "ms")
      rep.layers("stream.jobs_per_trigger") = Metric(
        Util.mean(trigSpans.map(p => jobsIn(p._1).size.toDouble)), "count")
      Stages.foreach { st =>
        val per = trigSpans.map { case (sp, _) =>
          val js = jobsIn(sp).filter(j => stageOf(j.desc).contains(st))
          js.foreach(j => tr.addSpan(s"operators.$st", "operators", j.start,
            j.end, sp.id, sp.request))
          (tr.covered(sp.start, sp.end, tr.jobIntervals(js)), js.size.toDouble)
        }
        rep.layers(s"operators.stage_ms.$st") = Metric(Util.mean(per.map(_._1)), "ms")
        rep.layers(s"operators.jobs.$st") = Metric(Util.mean(per.map(_._2)), "count")
      }
      val cost = SparkCost.of(tr, trigSpans.map(_._1), jobsIn)
      Workloads.genericLayers(rep, cost, tr)
      rep.layers("trace.overhead_ratio") = Metric(
        Util.median(ts.map(_.ms)) / Util.median(trig), "ratio")
      rep.layers("trace.spans") =
        Metric(tr.writeSpans(ctx.out.resolve("spans.jsonl")), "count")
      tr.close()
    }

    // checks (untimed). An exact copy always dies (gate or exact stage).
    // A word-reversed copy shares its base's embedding, so it dies at the
    // semantic stage whenever its base reached it; when the base was
    // dropped earlier as a near-duplicate of another document, the copy is
    // a new document and may rightly survive.
    val ids = last.rows.map(_.getLong(0)).toSet
    val exactKept = ids & corpus.exactPlants
    val reversedKept = (ids & corpus.reversedPlants).filter(id => ids(id - 2))
    rep.check(exactKept.isEmpty && reversedKept.isEmpty,
      s"planted copies survived: exact ${exactKept.take(5)}, " +
        s"reversed ${reversedKept.take(5)}")
    rep.detail("planted_copies") = Metric(
      corpus.exactPlants.size + corpus.reversedPlants.size, "count")
    rep.detail("planted_copies_dropped") = Metric(
      (corpus.exactPlants ++ corpus.reversedPlants).count(id => !ids(id)), "count")
    def key(r: Row) = r.mkString("|")
    rep.check(last.rows.map(key).sorted == oneShot.rows.map(key).sorted,
      s"$Files-batch result (${last.rows.size} rows) != single batch " +
        s"(${oneShot.rows.size} rows)")
    rep.stamp("input_fingerprint") = Workloads.digest(corpus.docs.iterator.map(d =>
      s"${d.docId}\t${d.lang}\t${d.source}\t${d.text}") ++
      corpus.embeddings.iterator.map { case (id, e) => s"$id\t${e.mkString(",")}" })
  }
}
