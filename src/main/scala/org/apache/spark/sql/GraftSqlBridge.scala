package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark internals that are `private[sql]` in Spark 4:
  * the Column <-> catalyst Expression conversion and the session function
  * registry (plus the `private[spark]` listener bus, for the profiler).
  * Everything else in graft stays outside the spark namespace.
  */
object GraftSqlBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The builder the session registry holds under `name`, if any. */
  def registeredFunction(spark: SparkSession,
                         name: String): Option[Seq[Expression] => Expression] =
    spark.sessionState.functionRegistry
      .lookupFunctionBuilder(org.apache.spark.sql.catalyst.FunctionIdentifier(name))

  /** Block until every listener event posted so far has been delivered
    * (the listener bus is `private[spark]`), so a listener's buffer is
    * complete when the action that produced its events returns. */
  def awaitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** True when the session's SQL cache holds no entries — the test hook for
    * the no-caller-orphaned-cache discipline (CacheManager is private[sql]). */
  def sqlCacheIsEmpty(spark: SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty

  /** Eagerly free the storage behind a checkpointed ("detached") frame:
    * unpersist the underlying RDD's blocks (localCheckpoint keeps them in
    * executor storage until a driver GC + ContextCleaner pass otherwise)
    * and delete its reliable-checkpoint files if any (Spark never deletes
    * them unless `spark.cleaner.referenceTracking.cleanCheckpoints` is set,
    * and even then only on GC). For iterative operators that detach once
    * per round, this is the deterministic alternative to waiting on the
    * garbage collector. The frame must not be used afterwards. */
  def releaseDetached(df: Dataset[Row]): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { rdd =>
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
}
