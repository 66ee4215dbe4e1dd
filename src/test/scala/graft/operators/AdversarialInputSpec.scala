package graft.operators

import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

import graft.SparkTestBase
import graft.core.GeometryCodec
import graft.functions._

/** Adversarial-input hardening for the spatial public API (round-14
  * verdict #7): the gates feed well-formed parquet; these feed the entry
  * points garbage — corrupt WKB bytes, NaN/Inf coordinates, zero-area
  * envelopes, malformed configs, empty relations — and assert TARGETED
  * errors or the DOCUMENTED drop semantics, never wrong answers.
  *
  * Documented semantics under test: null/unparseable WKB and non-finite
  * envelopes are INVALID GEOMETRY and drop from joins/stores (reference
  * P3/P4 malformed-row tolerance, extended to non-finite coordinates —
  * a NaN bound would otherwise ride min/max tile planning into every
  * tile boundary). Malformed config arguments fail fast with a message
  * naming the argument, before any job runs. */
class AdversarialInputSpec extends SparkTestBase {
  import spark.implicits._

  private val gf = new GeometryFactory()

  private def boxWkb(x1: Double, y1: Double, x2: Double, y2: Double): Array[Byte] =
    GeometryCodec.toWkb(gf.toGeometry(
      new org.locationtech.jts.geom.Envelope(x1, x2, y1, y2)))

  private def pointWkb(x: Double, y: Double): Array[Byte] =
    GeometryCodec.toWkb(gf.createPoint(new Coordinate(x, y)))

  /** 10 clean unit boxes at x = 0, 3, 6, ... (disjoint). */
  private def cleanRows: Seq[(Long, Array[Byte])] =
    (0 until 10).map(i => (i.toLong, boxWkb(i * 3.0, 0, i * 3.0 + 1, 1)))

  test("corrupt WKB + NaN/Inf coordinates drop from join; clean rows unaffected") {
    val dirty = cleanRows ++ Seq(
      (100L, Array[Byte](1, 2, 3, 4)), // corrupt WKB
      (101L, null.asInstanceOf[Array[Byte]]), // null geometry
      (102L, pointWkb(Double.NaN, 0.5)), // NaN coordinate
      (103L, pointWkb(Double.PositiveInfinity, 0.5)), // +Inf
      (104L, pointWkb(0.5, Double.NegativeInfinity))) // -Inf
    val left = dirty.toDF("lid", "lgeom")
    val right = cleanRows.map { case (i, g) => (i + 1000, g) }.toDF("rid", "rgeom")
    val out = SpatialJoin.join(left, "lgeom", right, "rgeom",
      SpatialJoin.Config(predicate = "intersects", partitioner = "fg", bucket = 4))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // each clean box matches exactly its own twin; no garbage row survives
    assert(out == (0 until 10).map(i => (i.toLong, i + 1000L)).toSet)
  }

  test("NaN/Inf rows drop from knnJoin without poisoning tile planning") {
    val probes = (cleanRows ++ Seq(
      (200L, pointWkb(Double.NaN, Double.NaN)),
      (201L, Array[Byte](9, 9)))).toDF("lid", "lgeom")
    val index = cleanRows.map { case (i, g) => (i + 1000, g) }.toDF("rid", "rgeom")
    val out = SpatialJoin.knnJoin(probes, "lgeom", index, "rgeom", k = 1,
      SpatialJoin.Config(partitioner = "fg", bucket = 4))
    val got = out.select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == (0 until 10).map(i => (i.toLong, i + 1000L)).toSet)
  }

  test("zero-area envelopes (points, degenerate boxes) join correctly") {
    val pts = (0 until 8).map(i => (i.toLong, pointWkb(i + 0.5, 0.5)))
      .toDF("pid", "pgeom")
    val boxes = (0 until 8).map(i =>
      (i + 100L, boxWkb(i, 0, i + 1, 1))).toDF("bid", "bgeom")
    val out = SpatialJoin.join(pts, "pgeom", boxes, "bgeom",
      SpatialJoin.Config(predicate = "within", partitioner = "fg", bucket = 4))
      .select("pid", "bid").as[(Long, Long)].collect().toSet
    assert(out == (0 until 8).map(i => (i.toLong, i + 100L)).toSet)
    // degenerate boxes (xmin==xmax line segments) survive as zero-area
    // envelopes: st_intersects(line, box) still refines exactly
    val lines = (0 until 8).map(i => (i.toLong, boxWkb(i + 0.5, 0, i + 0.5, 1)))
      .toDF("pid", "pgeom")
    val out2 = SpatialJoin.join(lines, "pgeom", boxes, "bgeom",
      SpatialJoin.Config(predicate = "intersects", partitioner = "fg", bucket = 4))
      .select("pid", "bid").as[(Long, Long)].collect().toSet
    assert(out2 == (0 until 8).map(i => (i.toLong, i + 100L)).toSet)
  }

  test("malformed configs fail fast with the argument named") {
    val df = cleanRows.toDF("id", "geom")
    val r = cleanRows.map { case (i, g) => (i + 50, g) }.toDF("rid", "rgeom")
    def msg(t: Throwable) = Option(t.getMessage).getOrElse("")

    assert(msg(intercept[IllegalArgumentException] {
      SpatialJoin.join(df, "geom", r, "rgeom",
        SpatialJoin.Config(bucket = -3))
    }).contains("bucket"))
    assert(msg(intercept[IllegalArgumentException] {
      SpatialJoin.join(df, "geom", r, "rgeom",
        SpatialJoin.Config(sampleTarget = 0))
    }).contains("sampleTarget"))
    assert(msg(intercept[IllegalArgumentException] {
      SpatialJoin.join(df, "geom", r, "rgeom",
        SpatialJoin.Config(predicate = "dwithin", distance = Double.NaN))
    }).contains("distance"))
    assert(msg(intercept[IllegalArgumentException] {
      SpatialJoin.join(df, "geom", r, "rgeom",
        SpatialJoin.Config(partitioner = "nope"))
    }).contains("unknown partitioner"))
    assert(msg(intercept[IllegalArgumentException] {
      SpatialJoin.knnJoin(df, "geom", r, "rgeom", k = 0)
    }).contains("k must be >= 1"))
    assert(msg(intercept[IllegalArgumentException] {
      SpatialJoin.knnJoinExact(df, "geom", r, "rgeom", k = -2)
    }).contains("k must be >= 1"))
    assert(msg(intercept[IllegalArgumentException] {
      SpatialJoin.knnJoinBounded(df, "geom", r, "rgeom", k = 3,
        maxDistance = 0.0)
    }).contains("maxDistance"))
  }

  test("a misspelled dedup mode fails fast instead of running refpoint") {
    val df = cleanRows.toDF("id", "geom")
    val r = cleanRows.map { case (i, g) => (i + 50, g) }.toDF("rid", "rgeom")
    for (mode <- Seq("global", "refpiont", "")) {
      val e = intercept[IllegalArgumentException] {
        SpatialJoin.join(df, "geom", r, "rgeom", SpatialJoin.Config(dedup = mode))
      }
      assert(Option(e.getMessage).exists(_.contains("dedup must be refpoint|none")),
        s"dedup = '$mode': ${e.getMessage}")
    }
  }

  test("empty relations: joins return empty with the right schema, no crash") {
    val empty = Seq.empty[(Long, Array[Byte])].toDF("lid", "lgeom")
    val full = cleanRows.map { case (i, g) => (i + 1000, g) }.toDF("rid", "rgeom")
    val a = SpatialJoin.join(empty, "lgeom", full, "rgeom",
      SpatialJoin.Config(partitioner = "fg", bucket = 4))
    assert(a.columns.toSeq == Seq("lid", "lgeom", "rid", "rgeom"))
    assert(a.count() == 0)
    val b = SpatialJoin.join(full.toDF("lid", "lgeom"), "lgeom",
      Seq.empty[(Long, Array[Byte])].toDF("rid", "rgeom"), "rgeom",
      SpatialJoin.Config(partitioner = "qt", bucket = 4))
    assert(b.count() == 0)
    val c = SpatialJoin.knnJoinExact(empty, "lgeom",
      full, "rgeom", k = 2)
    assert(c.count() == 0)
  }

  test("store write drops garbage rows, round-trips the clean ones; " +
      "corrupt containment window is refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_adv").toString + "/s"
    val dirty = (cleanRows ++ Seq(
      (300L, Array[Byte](0, 0, 7)),
      (301L, pointWkb(Double.NaN, 1.0)),
      (302L, pointWkb(2.0, Double.PositiveInfinity)))).toDF("id", "geom")
    graft.sources.SpatialStore.write(dirty, "geom", dir,
      SpatialJoin.Config(partitioner = "fg", bucket = 4))
    val back = graft.sources.SpatialStore.read(spark, dir)
    assert(back.select("id").as[Long].collect().toSet ==
      (0L until 10L).toSet, "only the 10 valid rows round-trip")
    val e = intercept[IllegalArgumentException] {
      graft.sources.SpatialStore.containmentRead(spark, dir,
        Array[Byte](42, 42, 42))
    }
    assert(e.getMessage.contains("invalid window geometry"))
  }

  test("3-D join: NaN/Inf and min>max rows drop without poisoning the cell grid") {
    import graft.operators.SpatialJoin3d.Mbb3Cols
    val C = Mbb3Cols("x0", "y0", "z0", "x1", "y1", "z1")
    val clean = (0 until 6).map { i =>
      (i.toLong, i * 4.0, 0.0, 0.0, i * 4.0 + 1, 1.0, 1.0)
    }
    val dirty = clean ++ Seq(
      (400L, Double.NaN, 0.0, 0.0, 1.0, 1.0, 1.0),
      (401L, 0.0, Double.PositiveInfinity, 0.0, 1.0, 1.0, 1.0),
      (402L, 5.0, 0.0, 0.0, 2.0, 1.0, 1.0)) // min > max
    val l = dirty.toDF("lid", "x0", "y0", "z0", "x1", "y1", "z1")
    val r = clean.map { case (i, a, b, c2, d, e, f) => (i + 1000, a, b, c2, d, e, f) }
      .toDF("rid", "rx0", "ry0", "rz0", "rx1", "ry1", "rz1")
    val RC = Mbb3Cols("rx0", "ry0", "rz0", "rx1", "ry1", "rz1")
    val out = SpatialJoin3d.joinMbb(l, C, r, RC, cellsPerAxis = 4)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(out == (0 until 6).map(i => (i.toLong, i + 1000L)).toSet)

    // the kNN on both tilings and both probe forms answers as if the
    // malformed rows of either side were absent: an infinite right box is
    // no neighbour and no bound of the space
    val rDirty = r.union(Seq(
      (2000L, 0.0, 0.0, 0.0, Double.PositiveInfinity, 1.0, 1.0),
      (2001L, 2.0, Double.NaN, 0.0, 3.0, 1.0, 1.0),
      (2002L, 9.0, 0.0, 0.0, 3.0, 1.0, 1.0)).toDF("rid", "rx0", "ry0", "rz0", "rx1", "ry1", "rz1"))
    def gap(a: (Long, Double, Double, Double, Double, Double, Double), b: (Long, Double, Double, Double, Double, Double, Double)) = {
      val dx = math.max(math.max(a._2 - b._5, b._2 - a._5), 0.0)
      val dy = math.max(math.max(a._3 - b._6, b._3 - a._6), 0.0)
      val dz = math.max(math.max(a._4 - b._7, b._4 - a._7), 0.0)
      math.sqrt(dx * dx + dy * dy + dz * dz)
    }
    val want = clean.flatMap { a =>
      clean.map(b => (gap(a, b), b._1 + 1000)).sorted.take(3).zipWithIndex
        .map { case ((_, rid), i) => (a._1, rid, i + 1) }
    }.toSet
    Seq(1000000L, 0L).foreach { pcm =>
      val grid = SpatialJoin3d.knnJoinMbb(l, C, rDirty, RC, "rid", k = 3, cellsPerAxis = 4, probeCollectMax = pcm)
      val oc = SpatialJoin3d.knnJoinMbbOc(l, C, rDirty, RC, "rid", k = 3, leafCap = 2, probeCollectMax = pcm)
      Seq("grid" -> grid, "octree" -> oc).foreach { case (name, df) =>
        val got = df.select("lid", "rid", "knn_rank").as[(Long, Long, Int)].collect()
        assert(got.length == want.size && got.toSet == want, s"$name kNN, probeCollectMax = $pcm")
      }
    }
  }
}
