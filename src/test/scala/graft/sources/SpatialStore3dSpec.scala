package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.SpatialJoin3d.Mbb3Cols

class SpatialStore3dSpec extends SparkTestBase {
  import spark.implicits._

  private val C = Mbb3Cols("x0", "y0", "z0", "x1", "y1", "z1")

  /** n cubes, clustered (most mass near the origin octant) so octree
    * leaves must adapt; side 3 so plenty straddle leaf boundaries. */
  private def cubesDf(n: Int) = {
    val rnd = new scala.util.Random(23)
    (0 until n).map { i =>
      val (x, y, z) =
        if (i % 4 != 0) (rnd.nextDouble() * 30, rnd.nextDouble() * 30, rnd.nextDouble() * 30)
        else (rnd.nextDouble() * 100, rnd.nextDouble() * 100, rnd.nextDouble() * 100)
      (i.toLong, x, y, z, x + 3.0, y + 3.0, z + 3.0)
    }.toDF("id", "x0", "y0", "z0", "x1", "y1", "z1")
  }

  test("write -> full read roundtrip collapses replicas; meta roundtrips") {
    val dir = Files.createTempDirectory("graft_store3d").toString + "/t1"
    val df = cubesDf(600)
    SpatialStore3d.write(df, C, dir, leafCap = 32)
    val back = SpatialStore3d.read(spark, dir)
    assert(back.count() == 600)
    assert(back.select("id").as[Long].collect().toSet == (0L until 600L).toSet)
    val meta = SpatialStore3d.readMeta(spark, dir)
    assert(meta.cols == Seq("x0", "y0", "z0", "x1", "y1", "z1"))
    assert(meta.leafBoxes.length > 1, "clustered data must split the root")
    // the store is replicated: raw row count >= logical rows
    assert(spark.read.parquet(dir + "/data").count() >= 600)
  }

  test("containment read == brute-force window filter, and prunes leaves") {
    val dir = Files.createTempDirectory("graft_store3d").toString + "/t2"
    val df = cubesDf(800)
    SpatialStore3d.write(df, C, dir, leafCap = 16)
    val w = Array(10.0, 12.0, 8.0, 28.0, 30.0, 26.0)
    val got = SpatialStore3d.containmentRead(spark, dir, w)
      .select("id").as[Long].collect().toSet
    val want = df.where(
        $"x0" <= w(3) && lit(w(0)) <= $"x1" &&
        $"y0" <= w(4) && lit(w(1)) <= $"y1" &&
        $"z0" <= w(5) && lit(w(2)) <= $"z1")
      .select("id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // driver pruning engages: the window must not need every leaf
    val meta = SpatialStore3d.readMeta(spark, dir)
    val wanted = meta.leafBoxes.count(b =>
      b(0) <= w(3) && w(0) <= b(3) && b(1) <= w(4) &&
        w(1) <= b(4) && b(2) <= w(5) && w(2) <= b(5))
    assert(wanted < meta.leafBoxes.length,
      s"window should prune: $wanted of ${meta.leafBoxes.length} leaves")
  }

  test("null envelope sides drop at write; duplicates collapse unless preserved") {
    val dir = Files.createTempDirectory("graft_store3d").toString + "/t3"
    val withNull = cubesDf(50).union(
      Seq((999L, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0)).toDF("id", "x0", "y0", "z0", "x1", "y1", "z1")
        .withColumn("z1", lit(null).cast("double")))
    SpatialStore3d.write(withNull, C, dir, leafCap = 16)
    assert(!SpatialStore3d.read(spark, dir).select("id").as[Long]
      .collect().contains(999L))

    // value-identical rows collapse (reference uniq semantics) ...
    val dupDir = Files.createTempDirectory("graft_store3d").toString + "/t4"
    val dup = cubesDf(20).union(cubesDf(20))
    SpatialStore3d.write(dup, C, dupDir, leafCap = 8)
    assert(SpatialStore3d.read(spark, dupDir).count() == 20)
    // ... unless the caller opts into preserving them
    val keepDir = Files.createTempDirectory("graft_store3d").toString + "/t5"
    SpatialStore3d.write(dup, C, keepDir, leafCap = 8, preserveDuplicates = true)
    assert(SpatialStore3d.read(spark, keepDir).count() == 40)
  }

  test("compact (manifest-committed) layout: same reads, task-count files") {
    val dir = Files.createTempDirectory("graft_store3d").toString + "/t6"
    val df = cubesDf(800)
    SpatialStore3d.write(df, C, dir, leafCap = 16)
    val w = Array(10.0, 12.0, 8.0, 28.0, 30.0, 26.0)
    val got = SpatialStore3d.containmentRead(spark, dir, w)
      .select("id").as[Long].collect().toSet
    val want = df.where(
        $"x0" <= w(3) && lit(w(0)) <= $"x1" &&
        $"y0" <= w(4) && lit(w(1)) <= $"y1" &&
        $"z0" <= w(5) && lit(w(2)) <= $"z1")
      .select("id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // the layout's point: data file count tracks TASKS, not leaves
    val meta = SpatialStore3d.readMeta(spark, dir)
    val dataFiles = new java.io.File(s"$dir/data").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(meta.leafBoxes.length > dataFiles,
      s"compact layout should write fewer files ($dataFiles) than leaves " +
        s"(${meta.leafBoxes.length})")
    // manifest file-pruning engages: a small window reads < all files
    val manifest = spark.read.parquet(s"$dir/_graft_manifest")
    assert(manifest.count() == dataFiles.toLong)
    // empty window returns empty, not an error
    assert(SpatialStore3d.containmentRead(spark, dir,
      Array(-500.0, -500.0, -500.0, -400.0, -400.0, -400.0)).count() == 0)
  }

  test("compact layout torn writes (3-D): loud failure, re-write heals") {
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete()
    }
    val dir = Files.createTempDirectory("graft_store3d").toString + "/torn"
    val df = cubesDf(400)
    SpatialStore3d.write(df, C, dir, leafCap = 16)
    val w = Array(10.0, 12.0, 8.0, 28.0, 30.0, 26.0)
    val want = df.where(
        $"x0" <= w(3) && lit(w(0)) <= $"x1" &&
        $"y0" <= w(4) && lit(w(1)) <= $"y1" &&
        $"z0" <= w(5) && lit(w(2)) <= $"z1")
      .select("id").as[Long].collect().toSet

    // manifest lost between data write and commit → loud failure
    rmAll(new java.io.File(s"$dir/_graft_manifest"))
    val noManifest = intercept[IllegalStateException] {
      SpatialStore3d.containmentRead(spark, dir, w).count()
    }
    assert(noManifest.getMessage.contains("torn write"))
    SpatialStore3d.write(df, C, dir, leafCap = 16)
    assert(SpatialStore3d.containmentRead(spark, dir, w)
      .select("id").as[Long].collect().toSet == want)

    // stale manifest naming a vanished data file → loud failure, heal
    val victim = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val stale = intercept[IllegalStateException] {
      SpatialStore3d.containmentRead(spark, dir, w).count()
    }
    assert(stale.getMessage.contains("stale manifest"))
    SpatialStore3d.write(df, C, dir, leafCap = 16)
    assert(SpatialStore3d.containmentRead(spark, dir, w)
      .select("id").as[Long].collect().toSet == want)
  }
}
