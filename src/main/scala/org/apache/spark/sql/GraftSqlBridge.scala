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

  /** [[Dataset.checkpoint]]'s materialization with a row-count side
    * channel folded into the SAME job: detach `ds` (localCheckpoint, or
    * reliable checkpoint when a checkpoint dir is set — the
    * graft Relational.detach contract) and, during the one materialization
    * pass, count rows whose BOOLEAN column `flagCol` is true via an
    * accumulator. Iterative fixpoint operators (connected components)
    * previously paid TWO jobs per round — the detach plus a count over the
    * materialized blocks; this folds the count into the detach (guide
    * §1.2: fewer jobs), halving driver-loop job count.
    *
    * ACCUMULATOR CAVEAT — the returned count is a BOOLEAN-GRADE signal,
    * not an exact statistic: accumulator updates inside transformations
    * are re-applied by retried/speculative tasks, so the value can
    * overcount under task retry. It can never turn zero into nonzero or
    * nonzero into zero (a retry of a zero-flag partition adds zero), so
    * `count == 0` / `count > 0` tests — the only use — are exact. Callers
    * needing the exact count must pay the separate job.
    *
    * Mirrors Dataset.checkpoint's internals: per-row copy (toRdd reuses
    * UnsafeRow buffers), eager count() materialization, and
    * [[org.apache.spark.sql.execution.LogicalRDD.fromDataset]] so the
    * handback keeps the child's output partitioning/ordering exactly like
    * a plain .checkpoint() handback. */
  def detachWithFlagCount(ds: Dataset[Row], flagCol: String): (Dataset[Row], Long) = {
    import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
    val spark = ds.sparkSession.asInstanceOf[CSparkSession]
    val ord = ds.schema.fieldIndex(flagCol)
    require(ds.schema(ord).dataType == org.apache.spark.sql.types.BooleanType,
      s"detachWithFlagCount: $flagCol must be boolean, is ${ds.schema(ord).dataType}")
    val acc = spark.sparkContext.longAccumulator
    val internalRdd = ds.queryExecution.toRdd.mapPartitions { it =>
      it.map { row =>
        if (!row.isNullAt(ord) && row.getBoolean(ord)) acc.add(1L)
        row.copy()
      }
    }
    if (spark.sparkContext.getCheckpointDir.isDefined) internalRdd.checkpoint()
    else internalRdd.localCheckpoint()
    internalRdd.count() // the single materialization job; populates acc
    val plan = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(internalRdd, ds.asInstanceOf[CDataset[Row]], isStreaming = false)
    (CDataset.ofRows(spark, plan), acc.value)
  }

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
