package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must at least ANALYZE against the CURRENT
  * driver-generated testdata — the cheap (no execution) canary for
  * schema drift. Round 12 lost five queries to a testdata regeneration
  * (`events.ts` TIMESTAMP(NANOS) → MICROS) that `sbt test` never saw
  * because nothing resolved the contract queries against the real sf
  * dirs; this spec makes the next drift a red test instead of a red
  * round.
  *
  * Queries whose CONSTRUCTION already executes work (streaming harnesses
  * drain a full query; engine-backed entries bulk-load tables on first
  * touch) are excluded — their execution paths are covered by their own
  * suites (Streaming*Spec, EngineSpec shapes) and by EventsSourceSpec's
  * dual-encoding pins; analyzing them here would re-run, not re-check.
  */
class QueryContractSpec extends SparkSuite {

  private val Dir = "/root/testdata/sf0.001"

  /** Construction triggers real execution (streaming drain or engine /
    * ANN layout build) — skipped here, exercised by dedicated suites.
    * op19_approx_count is engine-backed despite its opNN name (it calls
    * engineOrders → full bulk load on first touch). Note the remaining
    * "lazy" events-backed entries still run ONE small cached job at
    * construction (EventsSource's per-(path,fingerprint) range gate) —
    * accepted: that gate is exactly the drift canary this spec wants. */
  private def eager(name: String): Boolean =
    name.startsWith("eng_") || name.contains("_stream") ||
      name.startsWith("ext_ann") || name.startsWith("ext_dedup_cluster") ||
      name == "op19_approx_count" ||
      // registers views over the engine cache -> bulk load on first touch
      name == "sql_scan_prefix"

  test("every lazy contract query analyzes against current testdata") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if eager(name) => None
      case (name, fn) =>
        try { fn(spark, Dir).queryExecution.analyzed; None }
        catch { case e: Throwable =>
          Some(s"$name: ${Option(e.getMessage).getOrElse(e).toString.take(160)}")
        }
    }
    assert(failures.isEmpty,
      s"queries no longer analyze against $Dir:\n${failures.mkString("\n")}")
  }

  test("flagship entry analyzes and keeps its contract shape") {
    val df = SparkEntry.entry(spark)
    assert(df.schema.nonEmpty)
  }

  test("eager-operator source schemas hold (drift canary)") {
    // the eager queries (eng_*/ANN/streams) are excluded from the analyze
    // pass above, so their source-schema assumptions get an explicit pin:
    // a driver regeneration that changes these types must land as a red
    // test with a pointed message, not a broken correctness round
    import org.apache.spark.sql.types._
    val emb = spark.read.parquet(s"$Dir/embeddings.parquet").schema
    val elem = emb("embedding").dataType.asInstanceOf[ArrayType].elementType
    assert(elem == FloatType,
      s"embeddings.embedding element drifted to $elem — Similarity's " +
        "vector kernels are Float-typed; add a cast shim at the readers")
    assert(emb("vec_id").dataType == LongType)
    val docs = spark.read.parquet(s"$Dir/documents.parquet").schema
    for ((n, t) <- Seq("doc_id" -> LongType, "text" -> StringType,
        "n_chars" -> LongType))
      assert(docs(n).dataType == t, s"documents.$n drifted: ${docs(n).dataType}")
  }

  test("orderCellsEntries: a keep predicate that rejects every order " +
      "cell fails fast with a message naming it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.orderCellsEntries(spark, Dir, (_, _) => false)
    }
    assert(e.getMessage.contains(
      "the keep predicate rejects every order cell"), e.getMessage)
  }

  test("queries and oracle SQL stay in bijection") {
    // repo convention: every registered query carries a DuckDB oracle.
    // A deliberately rows-only query (driver allows them, weaker check)
    // must be added to this allowlist EXPLICITLY so the weakening is a
    // reviewed decision, not a silently dropped oracle.
    val rowsOnlyAllowlist = Set.empty[String]
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${o -- q}")
    assert((q -- o) == rowsOnlyAllowlist,
      s"queries without oracle SQL not in allowlist: ${q -- o -- rowsOnlyAllowlist}")
  }
}
