package graft.operators

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkTestBase
import graft.operators.SpatialJoin3d.Mbb3Cols

/** 3-D MBB join and kNN: exactness vs brute force, dedup (each pair
  * once), malformed tolerance, degenerate space, normalization, and a
  * differential property over every tiling and probe form. */
class SpatialJoin3dSpec extends SparkTestBase {
  import spark.implicits._

  private val lc = Mbb3Cols("ax0", "ay0", "az0", "ax1", "ay1", "az1")
  private val rc = Mbb3Cols("bx0", "by0", "bz0", "bx1", "by1", "bz1")

  private def cubes(n: Int, seed: Int, side: Double) = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 80
      val z = rnd.nextDouble() * 60; val w = rnd.nextDouble() * side
      (i.toLong, x, y, z, x + w, y + w, z + w)
    }
  }

  test("joinMbb == brute-force cross filter, each pair exactly once") {
    val data = cubes(400, 7, 8.0)
    val a = data.toDF("aid", "ax0", "ay0", "az0", "ax1", "ay1", "az1")
    val b = data.toDF("bid", "bx0", "by0", "bz0", "bx1", "by1", "bz1")
    Seq(1, 4, 16).foreach { cells =>
      val got = SpatialJoin3d.joinMbb(a, lc, b, rc, cellsPerAxis = cells)
        .select("aid", "bid").as[(Long, Long)].collect()
      val want = data.flatMap { p =>
        data.filter(q =>
          p._2 <= q._5 && q._2 <= p._5 &&
          p._3 <= q._6 && q._3 <= p._6 &&
          p._4 <= q._7 && q._4 <= p._7).map(q => (p._1, q._1))
      }
      assert(got.length == got.distinct.length, s"dup pairs at cells=$cells")
      assert(got.toSet == want.toSet, s"cells=$cells")
    }
  }

  private type Box = (Long, Double, Double, Double, Double, Double, Double)

  /** MBB gap distance, the engine's arithmetic. */
  private def gap(l: Box, r: Box): Double = {
    def ax(lo1: Double, hi1: Double, lo2: Double, hi2: Double) =
      math.max(math.max(lo1 - hi2, lo2 - hi1), 0.0)
    val dx = ax(l._2, l._5, r._2, r._5)
    val dy = ax(l._3, l._6, r._3, r._6)
    val dz = ax(l._4, l._7, r._4, r._7)
    math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  /** Finite bounds with min <= max on every axis: the rows a 3-D join keeps. */
  private def wellFormed(b: Box): Boolean =
    Seq(b._2, b._3, b._4, b._5, b._6, b._7).forall(v => !v.isNaN && !v.isInfinite) &&
      b._2 <= b._5 && b._3 <= b._6 && b._4 <= b._7

  /** A box on a coarse lattice, so boxes touch and distances tie; `flat`
    * pins the z axis to one value (a zero-span axis). */
  private def boxGen(flat: Boolean): Gen[(Double, Double, Double, Double)] = for {
    x <- Gen.choose(0, 20); y <- Gen.choose(0, 16); z <- Gen.choose(0, 12)
    w <- Gen.oneOf(0.0, 0.0, 1.0, 3.0, 8.0)
  } yield (x * 5.0, y * 5.0, if (flat) 7.0 else z * 5.0, w)

  private def boxes(n: Gen[Int], flat: Boolean, from: Long): Gen[Seq[Box]] =
    n.flatMap(Gen.listOfN(_, boxGen(flat))).map(_.zipWithIndex.map {
      case ((x, y, z, w), i) => (from + i, x, y, z, x + w, y + w, if (flat) z else z + w)
    })

  /** The input shapes of the differential property: (lefts, rights, k). */
  private val shapes: Seq[(String, Gen[(Seq[Box], Seq[Box], Int)])] = Seq(
    "random boxes and points" -> (for {
      k <- Gen.choose(1, 5)
      a <- boxes(Gen.choose(1, 50), flat = false, 0L)
      b <- boxes(Gen.choose(k, 60), flat = false, 1000L)
    } yield (a, b, k)),
    // every right box stacked more than k times under distinct ids: k cuts
    // through a group of equidistant rows
    "stacked duplicates" -> (for {
      k <- Gen.choose(2, 5); copies <- Gen.choose(k + 1, k + 3)
      a <- boxes(Gen.choose(1, 30), flat = false, 0L)
      base <- boxes(Gen.choose(1, 12), flat = false, 0L)
    } yield (a, base.flatMap(c => (0 until copies).map(cp =>
      c.copy(_1 = 1000L + c._1 * 100 + cp))), k)),
    "a zero-span axis" -> (for {
      k <- Gen.choose(1, 4)
      a <- boxes(Gen.choose(1, 40), flat = true, 0L)
      b <- boxes(Gen.choose(k, 40), flat = true, 1000L)
    } yield (a, b, k)),
    // fewer right rows than k, down to none
    "k above the right side" -> (for {
      k <- Gen.choose(2, 6)
      a <- boxes(Gen.choose(1, 20), flat = false, 0L)
      b <- boxes(Gen.choose(0, k - 1), flat = false, 1000L)
    } yield (a, b, k)),
    // a NaN or infinite bound, or min > max, on either side: such rows are
    // neither answered nor neighbours, nor do they bound the space
    "malformed rows on both sides" -> (for {
      k <- Gen.choose(1, 4)
      a <- boxes(Gen.choose(1, 30), flat = false, 0L)
      b <- boxes(Gen.choose(k, 40), flat = false, 1000L)
      bad <- Gen.listOfN(4, Gen.zip(Gen.choose(0, 5), Gen.oneOf(Double.NaN,
        Double.PositiveInfinity, Double.NegativeInfinity, -1.0)))
    } yield {
      // the bound at index i of the box set to v; -1 swaps the axis' bounds
      def broken(x: Box, i: Int, v: Double): Box = {
        val bs = Array(x._2, x._3, x._4, x._5, x._6, x._7)
        if (v == -1.0) { val a = i % 3; bs(a) = bs(a + 3) + 1 } else bs(i) = v
        (x._1, bs(0), bs(1), bs(2), bs(3), bs(4), bs(5))
      }
      val (la, lb) = bad.splitAt(2)
      (a ++ la.zipWithIndex.map { case ((i, v), j) => broken(a(j % a.length), i, v).copy(_1 = 500L + j) },
       b ++ lb.zipWithIndex.map { case ((i, v), j) => broken(b(j % b.length), i, v).copy(_1 = 5000L + j) }, k)
    }),
    // left rows sharing an id are each answered on their own
    "duplicated left ids" -> (for {
      k <- Gen.choose(1, 4)
      a <- boxes(Gen.choose(2, 30), flat = false, 0L)
      b <- boxes(Gen.choose(k, 40), flat = false, 1000L)
    } yield (a.map(x => x.copy(_1 = x._1 / 3)), b, k)))

  test("property: joinMbb, knnJoinMbb and knnJoinMbbOc == brute force on every tiling and probe form") {
    val lCols = Seq("aid", "ax0", "ay0", "az0", "ax1", "ay1", "az1")
    val rCols = Seq("bid", "bx0", "by0", "bz0", "bx1", "by1", "bz1")
    def knnVariants(k: Int): Seq[(String, (DataFrame, DataFrame) => DataFrame)] =
      Seq(1, 4, 8).flatMap(cells => Seq(1000000L, 0L).map { pcm =>
        s"grid cells=$cells probeCollectMax=$pcm" -> ((a: DataFrame, b: DataFrame) =>
          SpatialJoin3d.knnJoinMbb(a, lc, b, rc, "bid", k, cellsPerAxis = cells, probeCollectMax = pcm))
      }) ++ Seq(4, 64, 100000).flatMap(cap => Seq(1000000L, 0L).map { pcm =>
        s"octree leafCap=$cap probeCollectMax=$pcm" -> ((a: DataFrame, b: DataFrame) =>
          SpatialJoin3d.knnJoinMbbOc(a, lc, b, rc, "bid", k, leafCap = cap,
            sampleTarget = 200, probeCollectMax = pcm))
      })
    shapes.foreach { case (shape, gen) =>
      val prop = Prop.forAllNoShrink(gen) { case (as, bs, k) =>
        val a = as.toDF(lCols: _*); val b = bs.toDF(rCols: _*)
        val (la, rb) = (as.filter(wellFormed), bs.filter(wellFormed))
        val wantJoin = (for (l <- la; r <- rb if gap(l, r) == 0.0) yield (l._1, r._1)).sorted
        Seq(1, 4, 8).foreach { cells =>
          val got = SpatialJoin3d.joinMbb(a, lc, b, rc, cellsPerAxis = cells)
            .select("aid", "bid").as[(Long, Long)].collect().toSeq.sorted
          assert(got == wantJoin, s"$shape: joinMbb cells=$cells")
        }
        val wantKnn = la.flatMap { l =>
          rb.map(r => (gap(l, r), r._1)).sorted.take(k).zipWithIndex
            .map { case ((d, r), i) => (l._1, r, i + 1, d) }
        }.sorted
        knnVariants(k).foreach { case (name, run) =>
          val got = run(a, b).select("aid", "bid", "knn_rank", "knn_dist")
            .as[(Long, Long, Int, Double)].collect().toSeq.sorted
          assert(got == wantKnn, s"$shape: $name, k=$k")
        }
        true
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2).withWorkers(1), prop)
      assert(res.passed, s"$shape: $res")
    }
  }

  test("malformed (min>max) and null rows are dropped, not fatal") {
    val a = Seq((1L, 0.0, 0.0, 0.0, 5.0, 5.0, 5.0),
                (2L, 9.0, 0.0, 0.0, 1.0, 5.0, 5.0)) // xmin > xmax
      .toDF("aid", "ax0", "ay0", "az0", "ax1", "ay1", "az1")
    val b = Seq((10L, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0)).toDF(
      "bid", "bx0", "by0", "bz0", "bx1", "by1", "bz1")
    val got = SpatialJoin3d.joinMbb(a, lc, b, rc, cellsPerAxis = 4)
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("degenerate space (all MBBs identical) doesn't divide by zero") {
    val a = Seq((1L, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0),
                (2L, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0))
      .toDF("aid", "ax0", "ay0", "az0", "ax1", "ay1", "az1")
    val b = a.toDF("bid", "bx0", "by0", "bz0", "bx1", "by1", "bz1")
    val got = SpatialJoin3d.joinMbb(a, lc, b, rc, cellsPerAxis = 8).count()
    assert(got == 4)
  }

  test("knnJoinMbb == brute-force global kNN at several grid resolutions") {
    val items = cubes(300, 11, 6.0)
    val probes = cubes(120, 23, 0.0).map(p => (p._1, p._2, p._3, p._4))
    val a = probes.toDF("aid", "ax0", "ay0", "az0")
      .withColumn("ax1", col("ax0")).withColumn("ay1", col("ay0"))
      .withColumn("az1", col("az0"))
    val b = items.toDF("bid", "bx0", "by0", "bz0", "bx1", "by1", "bz1")
    def gap(lo1: Double, hi1: Double, lo2: Double, hi2: Double) =
      math.max(math.max(lo1 - hi2, lo2 - hi1), 0.0)
    val want = probes.flatMap { p =>
      items.map { q =>
        val dx = gap(p._2, p._2, q._2, q._5)
        val dy = gap(p._3, p._3, q._3, q._6)
        val dz = gap(p._4, p._4, q._4, q._7)
        (p._1, q._1, math.sqrt(dx * dx + dy * dy + dz * dz))
      }.sortBy { case (_, bid, d) => (d, bid) }.take(3)
        .zipWithIndex.map { case ((aid, bid, _), i) => (aid, bid, i + 1) }
    }.toSet
    Seq(1, 4, 8).foreach { cells =>
      val got = SpatialJoin3d.knnJoinMbb(a, lc, b, rc, "bid", k = 3, cellsPerAxis = cells)
        .select("aid", "bid", "knn_rank").as[(Long, Long, Int)].collect()
      assert(got.length == want.size, s"row count at cells=$cells")
      assert(got.toSet == want, s"kNN mismatch at cells=$cells")
    }
    // octree tiling: same exact answer at several leaf capacities,
    // including a cap so small the tree bottoms out at maxDepth and a cap
    // so large the tree is a single root leaf
    Seq(4, 64, 100000).foreach { cap =>
      val got = SpatialJoin3d.knnJoinMbbOc(a, lc, b, rc, "bid", k = 3,
          leafCap = cap, sampleTarget = 200)
        .select("aid", "bid", "knn_rank").as[(Long, Long, Int)].collect()
      assert(got.length == want.size, s"row count at leafCap=$cap")
      assert(got.toSet == want, s"octree kNN mismatch at leafCap=$cap")
    }
    // both PROBE forms answer identically: probeCollectMax = 0 forces the
    // probe on the refine slots that the collected map skips at spec scale
    val gotRel = SpatialJoin3d.knnJoinMbb(a, lc, b, rc, "bid", k = 3,
        cellsPerAxis = 4, probeCollectMax = 0L)
      .select("aid", "bid", "knn_rank").as[(Long, Long, Int)].collect()
    assert(gotRel.toSet == want, "relational probe branch kNN mismatch")
    val gotRelOc = SpatialJoin3d.knnJoinMbbOc(a, lc, b, rc, "bid",
        k = 3, leafCap = 64, sampleTarget = 200, probeCollectMax = 0L)
      .select("aid", "bid", "knn_rank").as[(Long, Long, Int)].collect()
    assert(gotRelOc.toSet == want, "octree relational probe kNN mismatch")
  }

  test("Octree3d.build: inseparable duplicate points stop splitting") {
    // 100 positions x 25 identical copies, cap 1 (the sf10 budget-scaled
    // shape): without the separability guard every position recurses to
    // the depth cap and the tree mints ~8*12 chain nodes per position;
    // with it, splitting stops once a node holds one distinct point.
    val pts = (0 until 100).flatMap { i =>
      val x = (i % 10) * 10.0; val y = (i / 10) * 10.0
      Array.fill(25)(Array(x, y, 50.0))
    }.toArray
    val tree = graft.operators.Octree3d.build(
      pts, Array(0.0, 0.0, 0.0, 100.0, 100.0, 100.0), leafCap = 1)
    // isolation needs ~log8(100) ~ 3 levels; give slack to 2k nodes —
    // the degenerate build mints ~10k+
    assert(tree.boxes.length < 2000,
      s"duplicate chains in the octree build: ${tree.boxes.length} nodes")
    // lookups still partition correctly: every point owns a leaf whose
    // box contains it, and the ball walk finds that leaf
    val o = tree.owner(55.0, 55.0, 50.0)
    assert(o >= 0 && o < tree.numLeaves)
    assert(tree.leavesWithinBall(55.0, 55.0, 50.0, 55.0, 55.0, 50.0, 0.1)
      .contains(o))
  }

  test("knnJoinMbb: k larger than the right side returns all, ranked") {
    val a = Seq((1L, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0))
      .toDF("aid", "ax0", "ay0", "az0", "ax1", "ay1", "az1")
    val b = Seq((10L, 5.0, 0.0, 0.0, 6.0, 1.0, 1.0),
                (11L, 9.0, 0.0, 0.0, 9.5, 1.0, 1.0))
      .toDF("bid", "bx0", "by0", "bz0", "bx1", "by1", "bz1")
    Seq(1, 4).foreach { cells =>
      val got = SpatialJoin3d.knnJoinMbb(a, lc, b, rc, "bid", k = 5, cellsPerAxis = cells)
        .select("bid", "knn_rank").as[(Long, Int)].collect().toSet
      assert(got == Set((10L, 1), (11L, 2)), s"cells=$cells")
    }
  }

  test("normalized maps the space envelope to the unit cube") {
    val df = Seq((1L, 10.0, 20.0, 30.0, 20.0, 40.0, 50.0),
                 (2L, 20.0, 40.0, 50.0, 30.0, 60.0, 70.0))
      .toDF("id", "x0", "y0", "z0", "x1", "y1", "z1")
    val n = SpatialJoin3d.normalized(df,
        Mbb3Cols("x0", "y0", "z0", "x1", "y1", "z1"), s => s"n$s")
      .select("id", "nxmin", "nymin", "nzmin", "nxmax", "nymax", "nzmax")
      .as[(Long, Double, Double, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(n(0) == ((1L, 0.0, 0.0, 0.0, 0.5, 0.5, 0.5)))
    assert(n(1) == ((2L, 0.5, 0.5, 0.5, 1.0, 1.0, 1.0)))
  }
}
