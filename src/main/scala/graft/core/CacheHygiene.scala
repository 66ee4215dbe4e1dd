package graft.core

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Cache-lifecycle hygiene for mid-pipeline persists (minhash signatures,
  * shingle relations, two-pass kNN intermediates): a long-lived session
  * running many queries must not accumulate cache blocks from operators the
  * caller never knew persisted anything.
  *
  * The contract: intermediates stay cached through the first action that
  * consumes the operator's result — exactly the window in which the persist
  * pays for its multiple consumers — then release. If the caller re-runs the
  * result afterwards it recomputes uncached (correct, just not accelerated).
  */
object CacheHygiene {

  /** Arranges for `release` to run after the first completed action
    * (success or failure) whose plan contains `out`'s plan, then returns
    * `out` unchanged. Purely lazy: nothing is analyzed beyond `out`'s own
    * resolution, no job is triggered. The QueryExecutionListener bus is
    * asynchronous, so the release lands shortly AFTER the consuming action
    * returns — callers polling storage state immediately may still see the
    * blocks for a moment. */
  def releaseAfterUse(out: DataFrame)(release: => Unit): DataFrame = {
    val spark = out.sparkSession
    val key = out.queryExecution.analyzed
    val done = new AtomicBoolean(false)
    val listener = new QueryExecutionListener {
      private def check(qe: QueryExecution): Unit = {
        val touched =
          try qe.analyzed.exists(_.sameResult(key))
          catch { case _: Throwable => false }
        if (touched && done.compareAndSet(false, true)) {
          try release
          finally spark.listenerManager.unregister(this)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        check(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        check(qe)
    }
    spark.listenerManager.register(listener)
    out
  }

  /** Arranges for `cached` to be unpersisted after the first completed
    * action (success or failure) whose plan contains `out`'s plan, then
    * returns `out` unchanged. */
  def unpersistAfterUse(out: DataFrame, cached: Seq[DataFrame]): DataFrame =
    releaseAfterUse(out)(cached.foreach(_.unpersist(blocking = false)))

  /** Run `body` (which is expected to persist or checkpoint something) and
    * return its result together with the ids of the persistent RDDs it
    * registered — the handle [[freeRdds]] takes. This is how
    * localCheckpoint blocks get an explicit lifecycle: a checkpointed
    * DataFrame exposes no public reference to its backing RDD, and without
    * one the blocks sit in the BlockManager until GC pressure triggers the
    * ContextCleaner — the round-blocks of an iterative algorithm then
    * accumulate for the life of the session (the within-session slowdown
    * mechanism: storage memory fills, execution spills earlier). Driver is
    * single-threaded per query; concurrent persists from another session
    * thread could be misattributed — acceptable for engine-internal
    * checkpoints. */
  def trackNewRdds[T](sc: SparkContext)(body: => T): (T, Seq[Int]) = {
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, (sc.getPersistentRDDs.keySet -- before).toSeq)
  }

  /** Unpersist the given persistent-RDD ids (no-op for already-freed ids).
    * NEVER call this on a live localCheckpoint an unexecuted plan still
    * references: lineage is truncated, so freed blocks are unrecoverable —
    * free only superseded intermediates, or defer via [[releaseAfterUse]]. */
  def freeRdds(sc: SparkContext, ids: Seq[Int]): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))

  /** RDD-level variant: runs `release` once the first consumer of `result`
    * ends — the SQL execution of the first job that reads it (adaptive
    * execution runs each exchange of a query as its own job), or that job
    * alone outside any SQL execution. Register after the operator's own
    * eager jobs (planning aggregates), or they count as the consumer. */
  def releaseAfterFirstJob[T](sc: SparkContext, result: RDD[T])(release: => Unit): RDD[T] = {
    val rddId = result.id
    val listener = new SparkListener {
      // "sql:<execution id>" or "job:<job id>"; events arrive on one thread
      private var consumer: String = null
      private def ended(key: String): Unit = if (key == consumer) {
        consumer = "released"
        try release
        finally sc.removeSparkListener(this)
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (consumer == null && js.stageInfos.exists(_.rddInfos.exists(_.id == rddId)))
          consumer = Option(js.properties)
            .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .fold(s"job:${js.jobId}")(id => s"sql:$id")
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ended(s"job:${je.jobId}")
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionEnd => ended(s"sql:${e.executionId}")
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    result
  }
}
