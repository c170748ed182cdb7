package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed call at a layer boundary. Times are epoch ms. */
final case class Span(id: Long, name: String, layer: String, start: Double,
    end: Double, parent: Long, request: String) {
  def ms: Double = end - start
}

/** One Spark job with its stages' task metrics summed. */
final class JobRec(val id: Int, val desc: String, val execId: Long,
    val start: Double) {
  @volatile var end: Double = Double.NaN
  @volatile var tasks = 0L
  @volatile var inputBytes = 0L
  @volatile var shuffleBytes = 0L
  @volatile var resultBytes = 0L
}

/** One micro-batch, from a `StreamingQueryListener` progress event. */
final case class Trigger(runId: String, batchId: Long, start: Double,
    durations: Map[String, Long], inputRows: Long) {
  def ms: Double = durations.getOrElse("triggerExecution", 0L).toDouble
  def end: Double = start + ms
}

/** Records the per-layer trace of one run: spans the benchmark opens around
  * each call into the program, plus Spark's own job, SQL-execution and
  * streaming-progress events from three listeners. Every request or verb
  * runs under its own job description (`pb|<request>|<op>`), set on the
  * calling thread, so jobs and SQL executions are attributed exactly even
  * under concurrent clients. Everything stays in memory until the run ends.
  *
  * With `full = false` only the streaming-progress listener is registered:
  * the untraced runs need trigger times and nothing else. */
final class Tracer(spark: SparkSession, full: Boolean) {
  private val sc = spark.sparkContext
  private val originNano = System.nanoTime()
  private val originEpoch = System.currentTimeMillis().toDouble
  /** Epoch ms at nanosecond resolution, comparable with listener times. */
  def now(): Double = originEpoch + (System.nanoTime() - originNano) / 1e6

  private val ids = new AtomicLong(0)
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execs = ConcurrentHashMap.newKeySet[Long]()
  /** Query id -> analysis + optimization + planning ms. */
  private val planning = new ConcurrentHashMap[Long, Double]()
  /** SQL execution id -> query id. */
  private val execQuery = new ConcurrentHashMap[Long, Long]()
  private val triggerQ = new ConcurrentLinkedQueue[Trigger]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
        .getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, desc, exec, e.time.toDouble))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          val tm = info.taskMetrics
          j.synchronized {
            j.tasks += info.numTasks
            if (tm != null) {
              j.inputBytes += tm.inputMetrics.bytesRead
              j.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
              j.resultBytes += tm.resultSize
            }
          }
        }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.add(s.executionId)
      case s: SparkListenerSQLExecutionEnd =>
        SqlEvents.queryId(s).foreach(q => execQuery.put(s.executionId, q))
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
      planning.merge(qe.id, ms, (a: Double, b: Double) => a + b)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggerQ.add(Trigger(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  if (full) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    drain()
    if (full) {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
    }
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every listener event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `f` as span `name` of `request`, under its own job description. */
  def span[T](request: String, name: String, layer: String)(f: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"pb|$request|$name")
    val t0 = now()
    try f
    finally {
      spanQ.add(Span(ids.incrementAndGet(), name, layer, t0, now(), -1L,
        request))
      sc.setJobDescription(prev)
    }
  }

  def addSpan(name: String, layer: String, start: Double, end: Double,
      parent: Long, request: String): Span = {
    val s = Span(ids.incrementAndGet(), name, layer, start, end, parent, request)
    spanQ.add(s)
    s
  }

  def spans: Seq[Span] = spanQ.asScala.toSeq
  def triggers: Seq[Trigger] = triggerQ.asScala.toSeq.sortBy(_.start)
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Jobs run under `request` (the `pb|<request>|...` job description). */
  def jobsOf(request: String): Seq[JobRec] = {
    val prefix = s"pb|$request|"
    allJobs.filter(_.desc.startsWith(prefix))
  }

  /** Planning ms of the SQL executions that ran `js`. */
  def planningMs(js: Seq[JobRec]): Double =
    js.map(_.execId).filter(_ >= 0).distinct
      .map(planningOf).sum

  private def planningOf(exec: Long): Double =
    Option(execQuery.get(exec)).flatMap(q => Option(planning.get(q)))
      .map(_.doubleValue).getOrElse(0.0)

  /** SQL executions seen, and how many of them had planning attributed
    * (a check that execution ids and query ids line up). */
  def planningCoverage: (Int, Int) = {
    (execs.size, execs.asScala.count(e =>
      Option(execQuery.get(e)).exists(q => planning.containsKey(q))))
  }

  /** Time inside [start, end] covered by the union of `ivs`. */
  def covered(start: Double, end: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def jobIntervals(js: Seq[JobRec]): Seq[(Double, Double)] =
    js.filterNot(_.end.isNaN).map(j => (j.start, j.end))

  /** Write spans (JSON lines). Job spans are emitted under the op span that
    * ran them, so parent links and request ids cover every layer. */
  def writeSpans(path: java.nio.file.Path): Int = {
    val opSpans = spans
    val byRequest = opSpans.groupBy(_.request)
    val jobSpans = allJobs.filterNot(_.end.isNaN).flatMap { j =>
      val (req, parent) = j.desc.split('|') match {
        case Array("pb", r, _*) =>
          (r, byRequest.get(r).flatMap(_.find(s =>
            s.start <= j.start && j.start <= s.end)).map(_.id).getOrElse(-1L))
        case _ => ("", -1L)
      }
      Seq(Span(-j.id.toLong - 1, s"job ${j.desc}", "spark", j.start, j.end,
        parent, req))
    }
    val all = opSpans ++ jobSpans
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Util.json(scala.collection.immutable.ListMap("id" -> s.id,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent, "request" -> s.request)))
      w.newLine()
    } finally w.close()
    all.size
  }
}

/** Per-op Spark costs of a set of op spans. */
final case class SparkCost(ops: Int, jobs: Double, tasks: Double, jobMs: Double,
    planningMs: Double, inputBytes: Double, shuffleBytes: Double,
    resultBytes: Double, selfMs: Double) {
  /** Metrics keyed `spark.<name>.<op>` plus the driver-side self time. */
  def metrics(op: String): Seq[(String, Double, String)] = Seq(
    (s"spark.jobs.$op", jobs, "count"),
    (s"spark.tasks.$op", tasks, "count"),
    (s"spark.job_ms.$op", jobMs, "ms"),
    (s"spark.planning_ms.$op", planningMs, "ms"),
    (s"spark.input_bytes.$op", inputBytes, "bytes"),
    (s"spark.shuffle_bytes.$op", shuffleBytes, "bytes"),
    (s"spark.result_bytes.$op", resultBytes, "bytes"),
    (s"core.driver_ms.$op", selfMs, "ms"))
}

object SparkCost {
  /** Means per op span: Spark work of the jobs each span ran, and the
    * span's self time (its wall time not covered by those jobs). */
  def of(t: Tracer, spans: Seq[Span]): SparkCost =
    of(t, spans, s => t.jobsOf(s.request))

  def of(t: Tracer, spans: Seq[Span], jobsFor: Span => Seq[JobRec]): SparkCost = {
    val per = spans.map { s =>
      val js = jobsFor(s)
      val self = s.ms - t.covered(s.start, s.end, t.jobIntervals(js))
      (js, self)
    }
    def m(f: Seq[JobRec] => Double) = Util.mean(per.map(p => f(p._1)))
    SparkCost(spans.size, m(_.size.toDouble), m(_.map(_.tasks).sum.toDouble),
      m(js => js.filterNot(_.end.isNaN).map(j => j.end - j.start).sum),
      m(t.planningMs), m(_.map(_.inputBytes).sum.toDouble),
      m(_.map(_.shuffleBytes).sum.toDouble), m(_.map(_.resultBytes).sum.toDouble),
      Util.median(per.map(_._2)))
  }
}
