package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Util {

  def nowMs(): Double = System.nanoTime() / 1e6

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Log a progress mark (seconds since JVM start) to the run's log. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s: $what")

  /** Wall time of `f` in ms, with its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e6, r)
  }

  /** Linear-interpolated quantile (`q` in [0, 1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(num: Double, den: Double): Double =
    if (den == 0) 0.0 else num / den

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.toList finally st.close()
    }

  /** Regular files under `p` that hold data (Spark's `.crc` checksums and
    * `_SUCCESS` markers excluded). */
  def dataFiles(p: Path): Seq[Path] = walk(p).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.endsWith(".crc") && n != "_SUCCESS"
  }

  def dirBytes(p: Path): Long =
    walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    walk(p).reverse.foreach(f => Files.deleteIfExists(f))

  /** Minimal JSON rendering for the harness's own output. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => graft.model.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => json(other.toString)
  }

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    // the least of three collections: objects a finalizer or a listener
    // thread releases during the first one are gone by the last
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}
