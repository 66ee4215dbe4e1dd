package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions._
import graft.operators.SpatialJoin3d.Mbb3Cols

/** Round-15 store hardening: the format-version stamp (round-14 verdict
  * #6), the torn-write guard on the FULL-read path (round-14 advice #1),
  * and the self-overwrite refusal (round-14 advice #2). Every failure mode
  * here previously surfaced as an opaque path-not-found or silent data
  * loss; the contract now is a targeted, heal-instructing error. */
class StoreHardeningSpec extends SparkTestBase {
  import spark.implicits._

  private def boxesDf(n: Int) = {
    val rnd = new scala.util.Random(5)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 50
      (i.toLong, x, y)
    }.toDF("id", "x", "y")
      .withColumn("geom", st_makebox(col("x"), col("y"),
        col("x") + lit(2.0), col("y") + lit(2.0)))
  }

  private val C3 = Mbb3Cols("x0", "y0", "z0", "x1", "y1", "z1")
  private def cubesDf(n: Int) = {
    val rnd = new scala.util.Random(6)
    (0 until n).map { i =>
      val (x, y, z) = (rnd.nextDouble() * 50, rnd.nextDouble() * 50,
        rnd.nextDouble() * 50)
      (i.toLong, x, y, z, x + 3.0, y + 3.0, z + 3.0)
    }.toDF("id", "x0", "y0", "z0", "x1", "y1", "z1")
  }

  /** Tamper with a store file THROUGH the Hadoop FileSystem (a raw
    * java.nio overwrite leaves the local FS's .crc sidecar stale and every
    * later read dies with ChecksumException instead of reaching the code
    * under test). */
  private def overwrite(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  test("meta carries format_version; a FUTURE version fails loudly (2-D)") {
    val dir = Files.createTempDirectory("graft_fv").toString + "/s"
    SpatialStore.write(boxesDf(50), "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    val metaPath = dir + "/_graft_meta.json"
    val json = new String(Files.readAllBytes(Paths.get(metaPath)), "UTF-8")
    assert(json.contains(s""""format_version":${SpatialStore.FormatVersion}"""))
    // current version reads fine
    assert(SpatialStore.readMeta(spark, dir).tiles.nonEmpty)
    // a store stamped by a future build must be refused with the hint
    overwrite(metaPath,
      json.replace(s""""format_version":${SpatialStore.FormatVersion}""",
        """"format_version":99"""))
    val e = intercept[IllegalStateException] {
      SpatialStore.readMeta(spark, dir)
    }
    assert(e.getMessage.contains("format_version=99") &&
      e.getMessage.contains("newer than this build"))
  }

  test("unstamped (pre-round-15) meta still reads: absent stamp = v1") {
    val dir = Files.createTempDirectory("graft_fv").toString + "/s"
    SpatialStore.write(boxesDf(40), "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    val metaPath = dir + "/_graft_meta.json"
    val json = new String(Files.readAllBytes(Paths.get(metaPath)), "UTF-8")
    overwrite(metaPath,
      json.replace(s""""format_version":${SpatialStore.FormatVersion},""", ""))
    val meta = SpatialStore.readMeta(spark, dir)
    assert(meta.geomCol == "geom" && meta.tiles.nonEmpty)
  }

  test("meta format_version gate covers the 3-D store too") {
    val dir = Files.createTempDirectory("graft_fv3").toString + "/s"
    SpatialStore3d.write(cubesDf(60), C3, dir, leafCap = 16)
    val metaPath = dir + "/_graft_meta3d.json"
    val json = new String(Files.readAllBytes(Paths.get(metaPath)), "UTF-8")
    assert(json.contains(s""""format_version":${SpatialStore.FormatVersion}"""))
    overwrite(metaPath, json.replace(
      s""""format_version":${SpatialStore.FormatVersion}""",
      """"format_version":99"""))
    val e = intercept[IllegalStateException] {
      SpatialStore3d.readMeta(spark, dir)
    }
    assert(e.getMessage.contains("format_version=99"))
  }

  test("torn compact store (manifest, no data/): full read fails with heal hint") {
    val dir = Files.createTempDirectory("graft_torn").toString + "/s"
    SpatialStore.write(boxesDf(50), "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    // simulate the torn half: data/ lost, manifest still committed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "data"), true)
    val e = intercept[IllegalStateException] {
      SpatialStore.read(spark, dir).count()
    }
    assert(e.getMessage.contains("torn write") &&
      e.getMessage.contains("re-run write"),
      s"wanted the heal-instructing error, got: ${e.getMessage}")
  }

  test("torn compact store: 3-D full read fails the same way") {
    val dir = Files.createTempDirectory("graft_torn3").toString + "/s"
    SpatialStore3d.write(cubesDf(60), C3, dir, leafCap = 16)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "data"), true)
    val e = intercept[IllegalStateException] {
      SpatialStore3d.read(spark, dir).count()
    }
    assert(e.getMessage.contains("torn write"))
  }

  test("in-place rebuild write(read(p), ..., p) is refused, store intact") {
    val dir = Files.createTempDirectory("graft_self").toString + "/s"
    SpatialStore.write(boxesDf(80), "geom", dir,
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    val e = intercept[IllegalArgumentException] {
      SpatialStore.write(SpatialStore.read(spark, dir), "geom", dir,
        graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    }
    assert(e.getMessage.contains("overwrite data its own input reads"))
    // and the refusal fired BEFORE any destruction: the store still reads
    assert(SpatialStore.read(spark, dir).count() == 80)
  }

  test("self-overwrite refusal covers the 3-D write") {
    val dir3 = Files.createTempDirectory("graft_self3").toString + "/s"
    SpatialStore3d.write(cubesDf(50), C3, dir3, leafCap = 16)
    intercept[IllegalArgumentException] {
      SpatialStore3d.write(SpatialStore3d.read(spark, dir3), C3, dir3,
        leafCap = 16)
    }
    assert(SpatialStore3d.read(spark, dir3).count() == 50)
  }

  test("writes to a FRESH path from a live store scan still work") {
    val base = Files.createTempDirectory("graft_fresh").toString
    SpatialStore.write(boxesDf(60), "geom", base + "/a",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    // the legitimate migration the refusal message prescribes
    SpatialStore.write(SpatialStore.read(spark, base + "/a"), "geom",
      base + "/b",
      graft.operators.SpatialJoin.Config(partitioner = "fg", bucket = 10))
    assert(SpatialStore.read(spark, base + "/b").count() == 60)
  }
}
