package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge to Spark's `private[sql]` Dataset.ofRows: re-bind a frame's
  * analyzed logical plan to ANOTHER session on the same SparkContext.
  *
  * Why: scoped performance confs (spark.sql.shuffle.partitions for an
  * iterative loop's skinny rounds, spark.sql.adaptive.enabled around
  * pre-sized kernels) used to be set-and-restored on the CALLER's
  * session — not thread-safe on a shared production session (a
  * concurrent query planned mid-scope observed the scoped values, and
  * two overlapping scopes raced on save/restore). A child session
  * (`newSession()` — same SparkContext, same SharedState, so the same
  * cache manager and catalog; its OWN SQLConf) carries the scoped
  * values instead, and the loop's frames are re-bound here so their
  * actions plan under the child conf. Plans are session-agnostic
  * (LogicalRDD / parquet relations / catalyst operators), and cache
  * lookup is by plan equality on the SHARED CacheManager, so a
  * re-bound frame still hits blocks persisted through the parent.
  */
object SessionBridge {
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      to.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  // child sessions memoized per (parent, conf tuple): a fresh
  // SessionState pays ~0.3 s of analyzer/optimizer initialization on
  // its FIRST planned action (measured 2026-08-18 — creating the
  // session itself is ~0.6 ms), which a child-per-call design charged
  // to every scoped operator invocation. A child's scoped conf is set
  // ONCE here and never mutated afterwards, so sharing one child per
  // distinct conf tuple is race-free by construction — concurrent
  // scopes with the same values share it, different values get their
  // own. Parents are weakly referenced so a closed session's children
  // can be collected; cardinality is bounded by the distinct scoped
  // values a parent ever uses (a handful of partition counts).
  private val scopedCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, SparkSession]]())

  /** A child of `parent` (shared context/cache manager, own SQLConf)
    * carrying exactly `confs` on top of the parent's initial conf —
    * memoized, immutable after creation. Callers must NOT mutate the
    * returned session's conf.
    *
    * The child starts from the parent's BUILD-time conf: a conf set on
    * the parent at runtime (`parent.conf.set`) is not visible in the
    * child. It does share the parent's session extensions, so the
    * engine's SQL functions resolve in it when the parent was built by
    * [[graft.Session.build]].
    */
  def scoped(parent: SparkSession, confs: Seq[(String, String)]): SparkSession = {
    val perParent = scopedCache.computeIfAbsent(parent,
      _ => new java.util.concurrent.ConcurrentHashMap[String, SparkSession]())
    val key = confs.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
    perParent.computeIfAbsent(key, { _ =>
      val child = parent.newSession()
      confs.foreach { case (k, v) => child.conf.set(k, v) }
      child
    })
  }
}
