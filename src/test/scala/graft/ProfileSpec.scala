package graft

/** The one profiler and the one core-count rule the launchers share. */
class ProfileSpec extends SparkTestBase {

  test("Profile prints the timed gate's jobs, then its total") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Profile.run(spark, "q_spjoin_intersects", "/root/testdata/sf0.001",
      l => lines.add(l))
    val out = lines.toArray(Array.empty[String]).toSeq
    assert(out.exists(_.startsWith("[job]")), out.mkString("\n"))
    assert(out.last.startsWith("[total]"), out.mkString("\n"))
  }

  test("Sessions.cpus is SPARK_GRAFT_CPUS when set, else every available core") {
    val all = Runtime.getRuntime.availableProcessors.toString
    assert(Sessions.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "7")) == "7")
    assert(Sessions.cpusFrom(Map.empty) == all)
    assert(Sessions.cpus == sys.env.getOrElse("SPARK_GRAFT_CPUS", all))
  }
}
