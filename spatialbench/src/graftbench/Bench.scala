package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed operation, in run order. */
final case class OpRecord(id: Int, kind: String, wallNs: Long, cpuNs: Long, spanNs: Long,
                          objects: Long, ok: Boolean, traced: Boolean)

/** CPU time of every Spark task, by stage, as the listener reports it. It
  * stays attached in untraced runs too: [[TaskCpu.span]] needs it per
  * operation. */
final class TaskCpu(spark: SparkSession) extends SparkListener {
  private val tasks = ArrayBuffer.empty[(Int, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += ((e.stageId, m.executorDeserializeCpuTime + m.executorCpuTime))
  }

  spark.sparkContext.addSparkListener(this)

  /** (stage id, task CPU ns) of the tasks that ended since the last call. */
  def drain(): Seq[(Int, Long)] = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    synchronized { val t = tasks.toList; tasks.clear(); t }
  }
}

object TaskCpu {
  /** CPU critical path of an operation that took `cpuNs` of Java-thread CPU
    * and ran `tasks`: the CPU outside tasks (driver, planning, scheduling),
    * plus for each stage the longer of its longest task and its task CPU
    * spread over `cores`, as if the stages ran one after another. It grows
    * when parallelism is lost (fewer tasks than cores, task skew, work
    * moved to the driver) even if the summed CPU does not, and it does not
    * grow while other tenants hold the host's CPUs, as wall time does. */
  def span(cpuNs: Long, tasks: Seq[(Int, Long)], cores: Int): Long = {
    val stages = tasks.groupBy(_._1).valuesIterator.map { ts =>
      val c = ts.map(_._2); math.max(c.max, c.sum / cores) }.sum
    math.max(0L, cpuNs - tasks.map(_._2).sum) + stages
  }
}

/** Benchmark driver for one workload run: set up the engine several times
  * (median CPU time = `setup_s`), check the engine against brute force, run one
  * untimed warm cycle, then run whole closed-loop cycles of the workload's operations (one client) for
  * at least `--seconds`. Writes the run's result as JSON to `--out`.
  *
  * With `--trace 1` every other cycle is traced (spans + listener) and the
  * per-layer characterization runs after the loop; the untraced cycles of
  * the same run give the tracing overhead.
  */
object Bench {

  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val dir = opts("dir")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val seed = opts("seed").toLong
    val cpus = opts("cpus")
    val code =
      try { run(workload, dir, seconds, trace, seed, cpus, opts("out")); 0 }
      catch { case e: Throwable => e.printStackTrace(); 3 }
    System.exit(code)
  }

  def newSession(cpus: String, dir: String): SparkSession = {
    val s = graft.Sessions.localBuilder(cpus)
      .appName("spatialbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$dir/tmp")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def run(name: String, dir: String, seconds: Double, trace: Boolean,
          seed: Long, cpus: String, out: String): Unit = {
    val w = Workload(name, dir, seed)
    // set-up: session start, graft functions + planner strategy (the
    // session extension), warm-up operations; repeated, median reported
    val setups = ArrayBuffer.empty[Double]
    val setupsCpu = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to SetupRepeats) {
      val c0 = threadCpu()
      val t0 = System.nanoTime()
      spark = newSession(cpus, dir)
      w.warmUp(spark)
      setups += (System.nanoTime() - t0) / 1e9
      setupsCpu += cpuSince(c0) / 1e9
      if (i < SetupRepeats) stopSession(spark)
    }
    val failures = ArrayBuffer.empty[String]
    failures ++= w.prepare(spark)
    // one untimed cycle at full size: the JIT is still compiling the hot
    // kernels after the reference pass, which showed as a 20-35% drift
    // over the first timed cycles
    for (kind <- w.cycle)
      if (!w.run(spark, kind, Tracer.off)._2) failures += s"warm cycle: $kind differs from the reference"

    val tracer = new Tracer(spark)
    val taskCpu = new TaskCpu(spark)
    val cores = spark.sparkContext.defaultParallelism
    val ops = ArrayBuffer.empty[OpRecord]
    val cpu0 = hostCpu()
    val start = System.nanoTime()
    var cycle = 0
    while (cycle == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && cycle % 2 == 0
      tracer.enable(traced)
      for (kind <- w.cycle) {
        val id = ops.length + 1
        tracer.beginOp(id, kind)
        taskCpu.drain()
        val c0 = threadCpu()
        val t0 = System.nanoTime()
        val (objects, ok) =
          try w.run(spark, kind, tracer)
          catch { case e: Exception =>
            failures += s"op $id ($kind) threw: $e"; (0L, false) }
        val wall = System.nanoTime() - t0
        val cpu = cpuSince(c0)
        tracer.endOp(t0, t0 + wall)
        val span = TaskCpu.span(cpu, taskCpu.drain(), cores)
        if (!ok && !failures.exists(_.startsWith(s"op $id ")))
          failures += s"op $id ($kind) result differs from the reference"
        ops += OpRecord(id, kind, wall, cpu, span, objects, ok, traced)
      }
      cycle += 1
    }
    tracer.enable(false)
    val cpu1 = hostCpu()

    val untraced = ops.filterNot(_.traced)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(w, setupsCpu.toSeq, untraced.toSeq)
      else Layers.metrics(spark, w, tracer, ops.toSeq, seed)
    val json = Json.obj(Seq(
      "workload" -> Json.str(name),
      "setup_runs_s" -> Json.arr(setups.map(Json.num).toSeq),
      "setup_runs_cpu_s" -> Json.arr(setupsCpu.map(Json.num).toSeq),
      "ops" -> Json.arr(ops.map { o =>
        Json.obj(Seq("id" -> Json.num(o.id), "kind" -> Json.str(o.kind),
          "wall_ms" -> Json.num(o.wallNs / 1e6), "cpu_ms" -> Json.num(o.cpuNs / 1e6),
          "span_ms" -> Json.num(o.spanNs / 1e6),
          "objects" -> Json.num(o.objects),
          "ok" -> Json.bool(o.ok), "traced" -> Json.bool(o.traced)))
      }.toSeq),
      "failures" -> Json.arr((failures ++ w.failures).map(Json.str).toSeq),
      "input_props" -> Json.obj(w.props.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "jvm" -> Json.obj(Seq(
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "host_steal_pct" -> Json.num(100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)),
        "peak_rss_mb" -> Json.num(peakRssMb()))),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    if (trace) tracer.writeSpans(s"$out.spans.jsonl")
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    stopSession(spark)
  }

  /** End-to-end metrics from the untraced operations. They are CPU times
    * of this JVM's Java threads, not wall times: on a shared host the wall
    * time of the same run varied up to 2x with the CPU time other tenants
    * took (`host_steal_pct`), while the CPU time stayed within a few
    * percent. `op_span_p50_ms` stands in for latency: lost parallelism
    * moves it (see [[TaskCpu.span]]). Wall times stay in the record, per
    * operation. */
  def endToEnd(w: Workload, setupsCpu: Seq[Double], ops: Seq[OpRecord])
      : Seq[(String, Double, String)] = {
    def cpuMs(kind: String) = ops.filter(_.kind == kind).map(_.cpuNs / 1e6)
    val primary = cpuMs(w.primary)
    Seq(
      ("setup_s", Stats.median(setupsCpu), "s"),
      ("op_cpu_p50_ms", Stats.median(primary), "ms"),
      ("op_cpu_tail_ms", Stats.tail(primary), "ms"),
      ("op_span_p50_ms", Stats.median(ops.filter(_.kind == w.primary).map(_.spanNs / 1e6)), "ms"),
      ("op2_cpu_p50_ms", Stats.median(cpuMs(w.secondary)), "ms"),
      ("objects_per_cpu_s", ops.map(_.objects).sum / (ops.map(_.cpuNs).sum / 1e9), "obj/s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
  }

  /** Host CPU time (steal, total) in jiffies: time other tenants took from
    * this machine's CPUs shows as steal, and explains run-to-run spread. */
  def hostCpu(): (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
      .linesIterator.next().split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time so far of every live Java thread (driver, task and Spark
    * service threads; not the JIT compiler or GC threads, whose bursts
    * while the JIT warms up added 10-20% noise per operation). */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU ns the Java threads spent since `before` (threads that ended in
    * between are not counted). Unlike wall time, it does not grow while
    * other tenants hold the host's CPUs. */
  def cpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum

  /** Process high-water resident set (VmHWM). */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    """VmHWM:\s+(\d+) kB""".r.findFirstMatchIn(status)
      .map(_.group(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (p == 0.5 && s.length % 2 == 0) (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** The highest percentile with at least ten samples beyond it: p90 from
    * 100 samples on, the median below 20. */
  def tail(xs: Seq[Double]): Double =
    quantile(xs, math.max(0.5, math.min(0.9, 1.0 - 10.0 / xs.length)))
}

/** Minimal JSON writer (the result file is read by run.py). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
