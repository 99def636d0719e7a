package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression converters, so graft's
  * native Catalyst expressions can surface as Columns without going
  * through the string SQL parser. Lives in the spark.sql package for
  * visibility only; contains no logic.
  */
object GraftInternal {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a 1-row / 1-column DataFrame as an uncorrelated scalar
    * subquery expression. LAZY: nothing runs when the Column is built —
    * the subquery executes as its own (small) job when the FIRST action
    * on the enclosing plan runs, and its result is then inlined as a
    * constant in the generated code (one reference — NOT a per-row
    * copied column). Identical occurrences across the plan are
    * deduplicated by Spark's ReuseSubquery rule. This is exactly how
    * Spark's own InjectRuntimeFilter attaches a runtime bloom filter:
    * the filter-building aggregate rides the plan as a ScalarSubquery.
    * Operators whose plan SHAPE depends on a small data-derived value
    * (BloomJoin's sketch, SkewJoin's hot-key set) use this to stay
    * composable inside uncollected pipelines. */
  def scalarSubquery(df: Dataset[_]): Column =
    column(catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed))

  /** The analyzed LogicalPlan behind a DataFrame — what an injected
    * TABLE function returns (SparkSessionExtensions.injectTableFunction
    * takes Seq[Expression] => LogicalPlan; graft's table-valued
    * operator wrappers build the operator DataFrame and hand its plan
    * to the analyzer). */
  def logicalPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Free the block-manager storage behind a `localCheckpoint`ed
    * Dataset. `Dataset.unpersist` only knows CacheManager entries, so
    * checkpoint blocks otherwise live until the RDD is GC'd; iterative
    * operators (connected components) call this to drop each round's
    * blocks as soon as the next round is materialized. No-op for plans
    * that aren't RDD-backed. */
  def unpersistBackingRdd(df: Dataset[_]): Unit =
    backingRdd(df).foreach(_.unpersist(blocking = false))

  /** The RDD behind a `localCheckpoint`ed / `checkpoint`ed Dataset;
    * None for plans that aren't RDD-backed. */
  def backingRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Block until the async listener bus has delivered every queued
    * event (QueryExecutionListener callbacks included). Specs that
    * assert on listener-observed action counts use this instead of a
    * polled sleep, which can elapse on a stalled host before delivery. */
  def waitForListeners(spark: SparkSession, timeoutMs: Long = 60000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Cache state of `df`'s CacheManager entry:
    *  - `None`        — not cached (never persisted, or already freed);
    *  - `Some(false)` — persist() registered but no action has
    *                    materialized the column buffers yet;
    *  - `Some(true)`  — an action loaded the cached buffers.
    * [[graft.operators.Staged]] polls this from a QueryExecutionListener
    * to free intra-operator staging caches as soon as the action that
    * consumes them completes — "loaded" is exactly "the staged subtree
    * has been read", because the ONLY reader of an operator-private
    * staged frame is the operator's own plan. */
  def stagedCacheLoaded(df: Dataset[_]): Option[Boolean] = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    session.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
  }
}
