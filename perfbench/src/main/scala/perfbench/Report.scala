package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** What one run hands back: the contract's end-to-end metrics, the
  * workload's own named metrics, the per-layer metrics of a traced run,
  * and every output check. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val detail = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  /** Raw latency samples (ms) per op, in the order taken. */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  /** Environment-stamp entries a workload adds (input fingerprints). */
  val stamp = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var checksRun = 0L

  /** Record an output check; a failed one also counts as a failed op. */
  def check(ok: Boolean, what: => String): Boolean = {
    checksRun += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
    ok
  }
  def checks: Long = checksRun
  def failureNotes: Seq[String] = failures.toSeq
}

/** Settings shared by every workload of one run. */
final case class Ctx(spark: SparkSession, seed: Long,
    seconds: Double, trace: Boolean, smoke: Boolean, work: Path, out: Path,
    clients: Int, setups: Int, sessionS: Double) {
  def rng(salt: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + salt)

  /** Setup time: JVM start to a ready session, plus the median of
    * `setups` fixture builds, each into a fresh directory (plus any
    * [[warmUp]]). Returns the last fixture; the others are deleted. */
  def setup[F](rep: Report)(build: Path => F)(dispose: F => Unit): F = {
    var last: Option[F] = None
    val times = (0 until setups).map { k =>
      last.foreach(dispose)
      val dir = work.resolve(s"fixture-$k")
      val (ms, fx) = Util.timed(build(dir))
      last = Some(fx)
      ms / 1000.0
    }
    Util.mark(s"fixtures built: ${times.mkString(", ")} s")
    rep.endToEnd("setup_s") = Metric(sessionS + Util.median(times), "s")
    rep.detail("setup_fixture_s") = Metric(Util.median(times), "s")
    rep.detail("setup_session_s") = Metric(sessionS, "s")
    last.get
  }

  /** Run an untimed warm-up before the first timed operation; its time
    * counts into `setup_s`, which runs from JVM start to that operation. */
  def warmUp(rep: Report)(f: => Unit): Unit = {
    val (ms, _) = Util.timed(f)
    Util.mark("warm-up done")
    rep.detail("setup_warmup_s") = Metric(ms / 1000.0, "s")
    val s = rep.endToEnd("setup_s")
    rep.endToEnd("setup_s") = s.copy(value = s.value + ms / 1000.0)
  }

  /** Time window: seconds of measured work per phase. A traced run splits
    * `--seconds` between its untraced and traced phases. */
  def window: Double = if (trace) seconds / 2 else seconds
}
