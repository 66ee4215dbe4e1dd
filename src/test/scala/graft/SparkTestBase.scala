package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs run
  * in one forked JVM, so getOrCreate reuses it across suites). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // keep the session for sibling suites
}

object SparkTestBase {
  /** `target/<rel>` under the working directory, made absolute — the root
    * `Queries` keeps its side files under. */
  def targetPath(rel: String): String =
    java.nio.file.Paths.get("target", rel).toAbsolutePath.toString

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
