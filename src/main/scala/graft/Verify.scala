package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated gate-name filter, for re-running
    // some gates into a full output directory (oracle_sql.json always
    // lists every gate, so the checker reports the gates not run as
    // missing when the directory holds only the filtered run)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // a handful of files, not coalesce(1): coalesce is narrow, so a
      // single-file write serializes the whole upstream pipeline into one
      // task — the same mistake Queries.writeOracleAux documents. The
      // driver reads the directory as a glob; 8 parts is fine.
      try fn(spark, sfDir).repartition(8).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir)
    // A query that throws silently drops out of the driver's comparison
    // (its parquet never exists) rather than surfacing as `err` — the
    // round-7 events regression shipped exactly that way. Scream: last
    // line always states written/total, and any loss is unmissable.
    val total = SparkEntry.queries.count(kv => selected(kv._1))
    val okCnt = total - failed.size
    if (failed.nonEmpty) {
      val msg = s"[verify] GATES LOST: $okCnt/$total written, failed: ${failed.mkString("[", ", ", "]")}"
      System.err.println("!" * 72); System.err.println(msg); System.err.println("!" * 72)
      println(msg)
    } else println(s"[verify] $okCnt/$total written, failed: []")
    // exit 0 even on loss: the driver must still compare the gates that
    // DID write — the banner + summary line are the failure signal.
    spark.stop()
  }

  /** Writes `<outDir>/oracle_sql.json` with EVERY gate's oracle SQL, also
    * when a gate filter narrowed the run: the strings are static, and a
    * filtered re-run into a full output directory must not shrink what the
    * checker compares to the re-run gates. */
  def writeOracleSql(outDir: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in a gate's SQL would otherwise make the checker's
    // json.load fail and silently zero the correctness check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
