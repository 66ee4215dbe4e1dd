package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** Job- and stage-level attribution for one gate: `runMain graft.Profile
  * <gate> [--sf=<dir>]`. One sf0.001 warmup, then one timed `count()`
  * under one listener that prints
  *
  *  - every job: offset from the timed start, the driver-side gap since the
  *    previous job ended (planning, streaming lifecycle, driver loops), its
  *    wall time and description;
  *  - every stage over 150 ms: tasks, records read from input and shuffle,
  *    records shuffled out, and executor CPU seconds;
  *
  * then `[total]`, the wall time of the timed `count()`. For min-of-3
  * timings of a gate subset use Bench:
  * `SPARK_GRAFT_BENCH_ONLY=<gates> SPARK_GRAFT_BENCH_SINGLE_JVM=1 runMain graft.Bench`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--sf="))
    val sfDir = flags.headOption.map(_.stripPrefix("--sf="))
      .getOrElse("/root/testdata/sf0.1")
    require(names.length == 1, "usage: Profile <gate> [--sf=<dir>]")
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, names.head, sfDir, println)
    finally spark.stop()
  }

  def run(spark: SparkSession, gate: String, sfDir: String,
          out: String => Unit): Unit = {
    val fn = SparkEntry.queries.getOrElse(gate, throw new IllegalArgumentException(
      s"unknown gate $gate; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val sc = spark.sparkContext
    fn(spark, "/root/testdata/sf0.001").count()
    Bridge.drainListenerBus(sc)
    out(s"=== timed $sfDir ===")
    System.gc()
    val t0 = System.currentTimeMillis()
    val lastEnd = new java.util.concurrent.atomic.AtomicLong(t0)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.get(je.jobId)).foreach { case (st, desc) =>
          val prev = lastEnd.getAndUpdate(e => math.max(e, je.time))
          val gap = math.max(0L, st - prev) / 1e3
          out(f"[job] ${je.jobId}%4d +${(st - t0) / 1e3}%7.3f gap=$gap%6.3f " +
            f"wall=${(je.time - st) / 1e3}%6.3f  ${desc.take(110)}")
        }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val dur = si.completionTime.zip(si.submissionTime)
          .map { case (c, s) => (c - s) / 1e3 }.getOrElse(0.0)
        if (dur > 0.15) {
          val m = si.taskMetrics
          out(f"[stage] ${si.stageId}%4d $dur%6.2f s tasks=${si.numTasks}%3d " +
            f"in=${m.inputMetrics.recordsRead}%9d shR=${m.shuffleReadMetrics.recordsRead}%9d " +
            f"shW=${m.shuffleWriteMetrics.recordsWritten}%9d cpu=${m.executorCpuTime / 1e9}%7.1f")
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      val n0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - n0) / 1e9
      Bridge.drainListenerBus(sc)
      out(f"[total] $total%.2f s")
    } finally sc.removeSparkListener(listener)
  }
}
