package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for every declared gate (or an explicit
  * list) to `plans/<tag>/<gate>_<suffix>.txt` — the optimization-round
  * evidence channel: the judge checks plan claims against these files.
  * Usage: `runMain graft.PlanDump <outDir> <suffix> [gate,gate,...]`
  * (e.g. `runMain graft.PlanDump plans/r16 before`). Gate construction may
  * run side jobs (aux writes, trainer loops); the dump captures the plan of
  * the RETURNED DataFrame, the relation the bench times with `.count()`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val gates = SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1)))
    var failed = List.empty[String]
    gates.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    println(s"[plandump] ${gates.size - failed.size}/${gates.size} dumped" +
      (if (failed.nonEmpty) s", failed: ${failed.mkString(",")}" else ""))
    spark.stop()
  }
}
