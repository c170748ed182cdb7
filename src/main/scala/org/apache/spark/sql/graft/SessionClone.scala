package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Access shim for `SparkSession.cloneSession()`, which Spark 4 keeps
  * `private[sql]` on the classic implementation: operators that need a
  * conf-scoped session (an isolated copy of the current session state
  * whose conf changes do NOT leak back — e.g. the
  * [[graft.operators.BatchStore]] lookup raising the parquet
  * In-pushdown threshold for exactly one read path) clone through here.
  */
object SessionClone {

  /** An isolated clone of `s` (same SparkContext + shared state,
    * independent session conf), or `s` itself when the session is not
    * the classic implementation (no clone available — callers must
    * then skip their conf changes, not apply them to the original). */
  def cloneOrSelf(s: SparkSession): (SparkSession, Boolean) = s match {
    case cl: org.apache.spark.sql.classic.SparkSession =>
      (cl.cloneSession(), true)
    case other => (other, false)
  }
}
