package perfbench

import org.apache.spark.sql.functions._

import graft.core.Smoltable

/** Measurements more than one workload takes. */
object Workloads {

  /** Logical payload of the live cells: key, column and timestamp bytes
    * plus the value (string bytes, or 8 for a number). */
  def logicalBytes(t: Smoltable): Double =
    t.allCells.agg(sum(length(col("row_key")) + length(col("family")) +
      length(col("qualifier")) + lit(8) +
      coalesce(length(col("value.s")), lit(8)))).head().getLong(0).toDouble

  /** SHA-256 of `lines`, hex. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** End a traced phase: wait for the listeners, write the spans. */
  def finishTrace(ctx: Ctx, rep: Report, t: Tracer): Unit = {
    t.drain()
    rep.layers("trace.spans") =
      Metric(t.writeSpans(ctx.out.resolve("spans.jsonl")), "count")
  }

  /** The per-layer metrics every workload reports, as means per op (a
    * request, a verb call or a micro-batch). */
  def genericLayers(rep: Report, c: SparkCost, t: Tracer): Unit = {
    Seq(
      ("spark.jobs_per_op", c.jobs, "count"),
      ("spark.tasks_per_op", c.tasks, "count"),
      ("spark.job_ms_per_op", c.jobMs, "ms"),
      ("spark.planning_ms_per_op", c.planningMs, "ms"),
      ("spark.input_bytes_per_op", c.inputBytes, "bytes"),
      ("spark.shuffle_bytes_per_op", c.shuffleBytes, "bytes"),
      ("spark.result_bytes_per_op", c.resultBytes, "bytes"),
      ("driver.self_ms_per_op", c.selfMs, "ms"),
      ("trace.ops", c.ops.toDouble, "count"))
      .foreach { case (k, v, u) => rep.layers(k) = Metric(v, u) }
    val (execs, planned) = t.planningCoverage
    rep.layers("trace.sql_executions") = Metric(execs, "count")
    rep.layers("trace.planning_coverage") =
      Metric(Util.ratio(planned, execs), "ratio")
  }
}
