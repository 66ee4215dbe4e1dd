package graft

import org.apache.spark.sql.SparkSession

/** The ONE local session-builder recipe and core count shared by every
  * entry point (Bench, Verify, Profile, PlanDump, ScaleData): a tuning flag
  * or core count edited in one launcher but not another would silently
  * de-sync the measured plans from the verified ones (round-16 advice).
  * Flags:
  *
  *  - shuffle partitions = the core count (scale-adaptive: AQE coalescing
  *    stays on; the driver's low-core bench lane follows automatically);
  *  - UTC + parquet nanosAsLong: the testdata contract;
  *  - AQE coalescing floor 64k: parallelismFirst merges sub-1MB shuffle
  *    partitions, but this engine's refinement kernels (geometry
  *    predicates, exact cosines) carry seconds of CPU per MB — the byte
  *    heuristic under-parallelizes exactly the dense stages (measured r16:
  *    the spjoin cogroup ran 1.0s of CPU on 2 tasks at sf0.1;
  *    q_spjoin_intersects 1.47→0.95s at a 64k floor). At production
  *    shuffle sizes partitions are far above 1MB, so the floor is inert
  *    there.
  */
object Sessions {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: String = cpusFrom(sys.env)

  private[graft] def cpusFrom(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Builder for a `local[cpus]` session with the shared flags; callers
    * append launcher-specific config before `getOrCreate()`. */
  def localBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
}
