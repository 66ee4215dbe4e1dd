package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Expression <-> Column and RDD <-> DataFrame bridge. `ExpressionUtils`
  * and `internalCreateDataFrame` are private[sql] in Spark 4 (and the
  * listener bus private[spark]), so this
  * one-file shim lives inside the org.apache.spark.sql package hierarchy;
  * everything else in this project stays in `graft`. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over `rows`, which must be laid out as `schema`. */
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    castToImpl(spark).internalCreateDataFrame(rows, schema)

  /** `df`'s rows copied into an RDD-level MEMORY_AND_DISK persist, exposed
    * as a DataFrame: every job over the returned frame reads the copy
    * instead of re-running `df`'s plan. Unlike `Dataset.persist`, nothing
    * registers in the session's CacheManager, which concurrent sibling
    * queries share. The first job over the frame fills the copy; the
    * returned RDD is the handle to unpersist it by. */
  def persisted(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rows = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    (frame(df.sparkSession, rows, df.schema), rows)
  }

  /** The RDD that holds the blocks of `df`, which `Dataset.persist` cached. */
  def cachedRdd(df: DataFrame): RDD[_] =
    castToImpl(df.sparkSession).sharedState.cacheManager
      .lookupCachedData(castToImpl(df)).get
      .cachedRepresentation.cacheBuilder.cachedColumnBuffers

  /** Blocks until the listener bus has delivered every posted event. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
