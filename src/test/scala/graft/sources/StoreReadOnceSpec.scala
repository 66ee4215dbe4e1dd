package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.SparkTestBase
import graft.functions._
import graft.operators.SpatialJoin3d.Mbb3Cols

/** Both stores' writes evaluate their input once per row: tile or octree
  * planning, the tag, the range partitioner's sample and the write's map
  * stage all scan one persisted copy, which every exit path releases. */
class StoreReadOnceSpec extends SparkTestBase {
  import spark.implicits._

  private val C3 = Mbb3Cols("x0", "y0", "z0", "x1", "y1", "z1")

  /** `rows` as a parquet scan (a local relation would let the optimizer
    * evaluate filters while planning) behind an always-true filter that
    * counts its evaluations. Catalyst keeps the filter in every plan that
    * scans the input, so the counter is the number of row evaluations. */
  private def counted(rows: DataFrame, name: String): (DataFrame, LongAccumulator) = {
    val dir = Files.createTempDirectory(name).toString + "/in"
    rows.write.parquet(dir)
    val evals = spark.sparkContext.longAccumulator(name)
    val pass = udf { (_: Long) => evals.add(1); true }
    (spark.read.parquet(dir).where(pass(col("id"))), evals)
  }

  private def boxes(n: Int) = {
    val rnd = new scala.util.Random(11)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 50
      (i.toLong, x, y)
    }.toDF("id", "x", "y")
      .withColumn("geom", st_makebox(col("x"), col("y"),
        col("x") + lit(3.0), col("y") + lit(3.0)))
  }

  private def cubes(n: Int) = {
    val rnd = new scala.util.Random(12)
    (0 until n).map { i =>
      val (x, y, z) = (rnd.nextDouble() * 50, rnd.nextDouble() * 50,
        rnd.nextDouble() * 50)
      (i.toLong, x, y, z, x + 3.0, y + 3.0, z + 3.0)
    }.toDF("id", "x0", "y0", "z0", "x1", "y1", "z1")
  }

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("2-D write evaluates its input once per row and leaves no persisted RDD") {
    val (in, evals) = counted(boxes(300), "graft_once2")
    val before = persistedIds
    val dir = Files.createTempDirectory("graft_once2s").toString + "/s"
    SpatialStore.write(in, "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 20))
    assert(evals.value == 300L, "the input plan ran more than once per row")
    assert(persistedIds -- before == Set.empty)
    assert(SpatialStore.read(spark, dir).count() == 300)
    assert(SpatialStore.readMeta(spark, dir).tiles.length > 1)
  }

  test("3-D write evaluates its input once per row") {
    val (in, evals) = counted(cubes(250), "graft_once3")
    val before = persistedIds
    val dir = Files.createTempDirectory("graft_once3s").toString + "/s"
    SpatialStore3d.write(in, C3, dir, leafCap = 16)
    assert(evals.value == 250L, "the input plan ran more than once per row")
    assert(persistedIds -- before == Set.empty)
    assert(SpatialStore3d.read(spark, dir).count() == 250)
    assert(SpatialStore3d.readMeta(spark, dir).leafBoxes.length > 1)
  }

  test("a 3-D write that fails after the copy exists leaves no persisted RDD") {
    val before = persistedIds
    val dir = Files.createTempDirectory("graft_once3f").toString + "/s"
    val e = intercept[IllegalArgumentException] {
      SpatialStore3d.write(cubes(20).withColumn("z1", lit(Double.NaN)), C3, dir)
    }
    assert(e.getMessage.contains("no rows with a complete 3-D envelope"))
    assert(persistedIds -- before == Set.empty)
  }
}
