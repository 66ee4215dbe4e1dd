package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Expression <-> Column and RDD <-> DataFrame bridge. `ExpressionUtils`,
  * `internalCreateDataFrame` and `cloneSession` are private[sql] in Spark 4
  * (and the listener bus private[spark]), so this
  * one-file shim lives inside the org.apache.spark.sql package hierarchy;
  * everything else in this project stays in `graft`. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over the logical `plan`. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(castToImpl(spark), plan)

  /** `body` run with `spark` as the thread's active session, which physical
    * operators built at run time take their context from. */
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)

  /** A DataFrame over the internal `rows`, laid out as `schema`. */
  def ofRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    castToImpl(spark).internalCreateDataFrame(rows, schema)

  /** `df`'s rows copied into an RDD-level MEMORY_AND_DISK persist, exposed
    * as a DataFrame: every job over the returned frame reads the copy
    * instead of re-running `df`'s plan. Unlike `Dataset.persist`, nothing
    * registers in the session's CacheManager, which concurrent sibling
    * queries share. The first job over the frame fills the copy; the
    * returned RDD is the handle to unpersist it by. */
  def persisted(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rows = castToImpl(df).queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    (ofRows(df.sparkSession, rows, df.schema), rows)
  }

  /** A copy of `spark` with `confs` set: it keeps the caller's runtime
    * conf, temp views, functions and planner strategies, and shares its
    * SparkContext and cache, but a conf given here never reaches the caller
    * or a sibling query. `cloneSession` is private[sql] in Spark 4. This is
    * the one place engine code sets session conf.
    *
    * The copy adds no artifacts (jars, files), so it runs without artifact
    * isolation: an isolated session gets its own classloader, and generated
    * code is cached per classloader, so each isolated copy recompiled ~30
    * classes and ran them cold (q_knn_tile_sql at sf0.1, 4 cores: 2.4 s
    * per run and 31 compilations, against 1.7 s and none with every copy
    * sharing the unisolated loader). Spark reads the isolation flag while
    * it clones, so the flag goes on an intermediate copy and the returned
    * copy is cloned from that. */
  def sessionWith(spark: SparkSession, confs: (String, String)*): SparkSession = {
    def copy(from: classic.SparkSession, kvs: Seq[(String, String)]) = {
      val s = from.cloneSession()
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }
    copy(copy(castToImpl(spark), Seq("spark.sql.artifact.isolation.enabled" -> "false")), confs)
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
