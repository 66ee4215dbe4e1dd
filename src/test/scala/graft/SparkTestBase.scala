package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs run
  * in one forked JVM, so getOrCreate reuses it across suites). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // keep the session for sibling suites

  /** The envelopes of `df`'s WKB geometry column `geom` as the `__xmin`,
    * `__ymin`, `__xmax`, `__ymax` columns `SpatialJoin.planTiles` reads,
    * rows without one dropped: the MBBs a planar intersects join plans its
    * tiles from. */
  def envelopes(df: DataFrame, geom: String): DataFrame =
    df.select(graft.functions.st_envelope(col(geom)).as("e")).where(col("e").isNotNull)
      .select(col("e.xmin").as("__xmin"), col("e.ymin").as("__ymin"),
        col("e.xmax").as("__xmax"), col("e.ymax").as("__ymax"))
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
