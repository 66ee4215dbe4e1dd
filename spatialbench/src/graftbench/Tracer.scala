package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A span around one call into a layer, made from the benchmark's files. */
final case class Span(name: String, op: Int, startNs: Long, endNs: Long, parent: String)

/** Spark runtime events of one traced operation. */
final class OpEvents {
  val jobs = ArrayBuffer.empty[(Long, Long)] // (start, end) ms, epoch
  val stages = mutable.Set.empty[Int]
  // per task: (stageId, durationMs, runMs, cpuNs, gcMs, inBytes, inRecords,
  //            shuffleReadBytes, shuffleWriteBytes, spillBytes)
  val tasks = ArrayBuffer.empty[Array[Long]]
  val counters = mutable.Map.empty[String, Double]
}

/** Records spans and Spark listener events while enabled; a disabled
  * tracer only runs the wrapped code. Everything stays in memory until
  * [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  private var on = false
  private var op = 0
  private val stack = mutable.Stack.empty[String]
  val spans = ArrayBuffer.empty[Span]
  val events = mutable.LinkedHashMap.empty[Int, OpEvents]
  private var current = new OpEvents
  private val jobStart = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      current.jobs += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      current.stages += e.stageInfo.stageId }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) current.tasks += Array(e.stageId.toLong, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def enable(flag: Boolean): Unit = if (spark != null && flag != on) {
    if (flag) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    on = flag
  }

  private val collectors =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = collectors.map(c => math.max(0L, c.getCollectionTime)).sum
  private var gc0 = 0L

  def beginOp(id: Int, kind: String): Unit = if (on) {
    op = id
    synchronized { current = new OpEvents }
    gc0 = gcMs()
  }

  def endOp(startNs: Long, endNs: Long): Unit = if (on) {
    spans += Span("op", op, startNs, endNs, "")
    note("gc_ms", (gcMs() - gc0).toDouble)
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    synchronized { events(op) = current; current = new OpEvents }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.getOrElse("op")
      stack.push(name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(name, op, t0, System.nanoTime(), parent)
        stack.pop()
      }
    }

  /** A count observed by the benchmark for the current operation. */
  def note(key: String, v: Double): Unit = if (on) synchronized {
    current.counters(key) = v }

  /** Summed duration of the named spans inside operation `id`, in ns. */
  def spanNs(id: Int, names: String*): Long =
    spans.iterator.filter(s => s.op == id && names.contains(s.name))
      .map(s => s.endNs - s.startNs).sum

  def hasSpan(id: Int, name: String): Boolean =
    spans.exists(s => s.op == id && s.name == name)

  def writeSpans(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      Json.obj(Seq("name" -> Json.str(s.name), "op" -> Json.num(s.op),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6),
        "end_ms" -> Json.num((s.endNs - t0) / 1e6),
        "parent" -> Json.str(s.parent)))
    } ++ events.map { case (id, ev) =>
      Json.obj(Seq("op" -> Json.num(id),
        "jobs_ms" -> Json.arr(ev.jobs.map { case (a, b) => Json.arr(Seq(Json.num(a), Json.num(b))) }.toSeq)))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val off = new Tracer(null)
}
