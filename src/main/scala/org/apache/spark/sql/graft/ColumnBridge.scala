package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Column↔Expression bridge `private[sql]`
  * (classic.ExpressionUtils); extension libraries conventionally expose it
  * from inside the sql package namespace. This is the only file outside the
  * `graft` package. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Same convention for the batch→streaming Dataset bridge: a V1
  * streaming `Source.getBatch` must hand back a DataFrame whose plan is
  * marked `isStreaming` (the engine rejects plain batch frames inside a
  * streaming query), and the marker is only settable through the
  * classic session's `private[sql]` `internalCreateDataFrame` — exactly
  * how Spark's own `FileStreamSource` builds its batches. */
object StreamingBridge {
  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The converse bridge for a V1 `Sink.addBatch`: the incoming frame
    * rides an IncrementalExecution plan that ordinary batch writes must
    * not re-analyze — re-wrap its executed RDD as a plain batch frame
    * (exactly Spark's own `ForeachBatchSink` discipline). */
  def asBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}

/** Same convention for the CacheManager: "is this frame already
  * cached?" is `private[sql]` (SharedState.cacheManager), yet a library
  * that persists internally must NOT unpersist a CALLER-cached input —
  * Dataset.persist on a cached frame only logs, it never throws, so the
  * ownership question has to be answered before persisting. */
object CacheBridge {
  def isCached(df: org.apache.spark.sql.DataFrame): Boolean = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.sharedState.cacheManager
      .lookupCachedData(spark, df.queryExecution.normalized).isDefined
  }
}

/** Same convention for the Dataset↔LogicalPlan bridge: Spark 4's
  * `Dataset.ofRows` is `private[sql]` on the classic session — custom
  * logical operators (graft.plans.AsOfJoin) need it to hand a plan back
  * to the public Dataset API. */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Same convention for `cloneSession`: a copy of a session whose
  * `SQLConf`, catalog and registries are its own while the SparkContext
  * and cache are shared — the only per-plan conf scope Spark has. */
object SessionBridge {
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
