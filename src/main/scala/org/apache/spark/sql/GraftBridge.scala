package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `private[sql]` Column↔Expression conversions —
  * the standard pattern for Spark extension libraries that define custom
  * Catalyst expressions (the public API intentionally hides the
  * expression-backed Column constructor since Spark 4's backend split).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a logical plan (plan-shape tests re-plan a subtree
    * after peeling a presentation-only operator). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The LIVE CacheManager entry record this frame's plan resolves to,
    * if any. The `CachedData` record is created at `persist()`
    * registration and replaced by a NEW record after
    * `clearCache()`/`unpersist()` + re-persist — so two verdicts
    * computed "over the cache" can be told apart even when the plans
    * are semantically identical (same path, rewritten data).
    * `Dataset.storageLevel` only answers "cached NOW", which cannot
    * distinguish a re-registered entry from the one a memoized verdict
    * was computed on. Callers hold the record WEAKLY (a WeakReference
    * in the memo) and compare by reference identity (`eq`) — an
    * identityHashCode token could collide (~2^-32) with a later record
    * after the old one is GC'd and silently revive a stale verdict
    * (r18 advice). */
  def cacheEntryRecord(df: Dataset[_]): Option[AnyRef] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
  }

  /** Unpersist `df` AND every cached frame whose plan is built on it.
    * `Dataset.unpersist` drops only the frame itself, so caches a
    * callee persisted on top of it would outlive it. */
  def uncacheCascade(df: Dataset[_]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.uncacheQuery(ds, cascade = true)
  }
}
