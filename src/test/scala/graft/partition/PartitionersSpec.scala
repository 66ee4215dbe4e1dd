package graft.partition

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Mbb, TileBoundary}
import graft.operators.TileIndex

class PartitionersSpec extends AnyFunSuite {

  private val space = Mbb(0, 0, 100, 50)

  private def randomMbbs(n: Int, seed: Long, skew: Boolean = false): Array[Mbb] = {
    val rnd = new Random(seed)
    Array.fill(n) {
      val (cx, cy) =
        if (skew && rnd.nextDouble() < 0.7)
          (5 + rnd.nextDouble() * 10, 5 + rnd.nextDouble() * 5) // hot corner
        else (rnd.nextDouble() * 100, rnd.nextDouble() * 50)
      val w = rnd.nextDouble() * 2; val h = rnd.nextDouble() * 2
      Mbb(math.max(0, cx - w), math.max(0, cy - h),
          math.min(100, cx + w), math.min(50, cy + h))
    }
  }

  private def checkDisjoint(tiles: Array[TileBoundary]): Unit =
    for {
      a <- tiles; b <- tiles if a.tileId < b.tileId
      ia = a.mbb; ib = b.mbb
    } {
      val ox = math.min(ia.xmax, ib.xmax) - math.max(ia.xmin, ib.xmin)
      val oy = math.min(ia.ymax, ib.ymax) - math.max(ia.ymin, ib.ymin)
      assert(ox <= 1e-9 || oy <= 1e-9,
        s"tiles ${a.tileId} and ${b.tileId} overlap with area ${ox * oy}")
    }

  for (name <- SpatialPartitioner.all.keys.toSeq.sorted) {
    test(s"$name: tiles are sane, bounded count, ids unique (uniform + skew)") {
      for (skew <- Seq(false, true)) {
        val mbbs = randomMbbs(2000, seed = 7, skew)
        val tiles = SpatialPartitioner(name).partition(mbbs, space, bucket = 100)
        assert(tiles.nonEmpty)
        assert(tiles.map(_.tileId).distinct.length == tiles.length)
        assert(tiles.length <= 2000, s"$name produced ${tiles.length} tiles")
        tiles.foreach { t =>
          assert(t.mbb.xmin <= t.mbb.xmax && t.mbb.ymin <= t.mbb.ymax)
        }
      }
    }

    test(s"$name: TileIndex padding yields full coverage + unique ref owner") {
      val mbbs = randomMbbs(1000, seed = 11)
      val tiles = SpatialPartitioner(name).partition(mbbs, space, bucket = 64)
      val idx = new TileIndex(tiles, space)
      val rnd = new Random(3)
      for (_ <- 1 to 500) {
        val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 50
        assert(idx.refTile(x, y) >= 0, s"$name: no owner tile for ($x,$y)")
      }
      // edges and corners of the space are owned too
      for ((x, y) <- Seq((0.0, 0.0), (100.0, 50.0), (100.0, 0.0), (0.0, 50.0),
                         (50.0, 50.0), (100.0, 25.0)))
        assert(idx.refTile(x, y) >= 0, s"$name: no owner at boundary ($x,$y)")
    }
  }

  test("fg/bsp/qt/slc/bos tiles are pairwise disjoint") {
    val mbbs = randomMbbs(1500, seed = 23)
    for (name <- Seq("fg", "bsp", "qt", "slc", "bos")) {
      val tiles = SpatialPartitioner(name).partition(mbbs, space, bucket = 120)
      checkDisjoint(tiles)
    }
  }

  for ((seed, skew) <- Seq((31L, true), (47L, false), (101L, true)))
  test(s"bosTiles: disjoint strips covering the space, ≥bucket centers per carve [seed=$seed skew=$skew]") {
    // build the exact histograms bos_dist would aggregate, driver-side
    val N = 1 << DistributedHisto.Depth
    val mbbs = randomMbbs(1500, seed, skew)
    val w = space.width / N; val h = space.height / N
    def cell(v: Double, lo: Double, wd: Double): Int =
      math.max(0, math.min(N - 1, math.floor((v - lo) / wd).toInt))
    val counts = mbbs.groupBy(m =>
        cell(m.centerX, space.xmin, w) * N + cell(m.centerY, space.ymin, h))
      .view.mapValues(_.length.toLong).toMap
    def tab(center: Mbb => Double, edge: Mbb => Double, lo: Double, wd: Double) = {
      val t = Array.ofDim[Long](N, N)
      mbbs.foreach(m => t(cell(center(m), lo, wd))(cell(edge(m), lo, wd)) += 1)
      t
    }
    val cross = DistributedHisto.CrossTables(
      xs = tab(_.centerX, _.xmin, space.xmin, w), xe = tab(_.centerX, _.xmax, space.xmin, w),
      ys = tab(_.centerY, _.ymin, space.ymin, h), ye = tab(_.centerY, _.ymax, space.ymin, h))
    val tiles = DistributedHisto.bosTiles(counts, cross, space, bucket = 120)
    assert(tiles.length > 1)
    checkDisjoint(tiles)
    // strips cover the space exactly: total area matches, every center owned
    val area = tiles.map(t => t.mbb.width * t.mbb.height).sum
    assert(math.abs(area - space.width * space.height) < 1e-6)
    val idx = new TileIndex(tiles, space)
    mbbs.foreach(m => assert(idx.refTile(m.centerX, m.centerY) >= 0))
    // every carved strip (all but the remainder tile) holds ≥ bucket centers
    val perTile = mbbs.groupBy(m => idx.refTile(m.centerX, m.centerY))
      .view.mapValues(_.length).toMap
    tiles.dropRight(1).foreach { t =>
      assert(perTile.getOrElse(t.tileId, 0) >= 120,
        s"strip ${t.tileId} holds ${perTile.getOrElse(t.tileId, 0)} < bucket centers")
    }
  }

  test("TileIndex.covering pads gaps and leaves covering tilings unchanged") {
    val full = Array(TileBoundary(0, Mbb(0, 0, 50, 50)), TileBoundary(1, Mbb(50, 0, 100, 50)))
    assert(TileIndex.covering(full, Mbb(0, 0, 100, 50)).length == 2)
    val gappy = Array(TileBoundary(0, Mbb(10, 10, 20, 20)), TileBoundary(5, Mbb(60, 30, 90, 45)))
    val padded = TileIndex.covering(gappy, Mbb(0, 0, 100, 50))
    assert(padded.length > 2)
    assert(padded.map(_.tileId).distinct.length == padded.length)
    val idx = new TileIndex(gappy, Mbb(0, 0, 100, 50))
    val rnd = new Random(5)
    for (_ <- 1 to 300) {
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 50
      assert(idx.refTile(x, y) >= 0)
    }
    // original tiles keep their ids and still own their interiors
    assert(idx.refTile(15, 15) == 0)
    assert(idx.refTile(75, 40) == 5)
  }

  test("TileIndex.covering keeps str and hc tilings near their planned tile count") {
    // union-MBB tilings leave gaps between tiles; padding each strip's gaps
    // separately multiplied the count (str: 1,024 planned → 15,061 padded)
    val rnd = new Random(17)
    val space = Mbb(0, 0, 1000, 1000)
    val boxes = Array.fill(100000) {
      val x = rnd.nextDouble() * 999; val y = rnd.nextDouble() * 999
      Mbb(x, y, x + 1, y + 1)
    }
    for (name <- Seq("str", "hc")) {
      val planned = SpatialPartitioner(name).partition(boxes, space, 100)
      val padded = TileIndex.covering(planned, space)
      assert(padded.length < 2 * planned.length,
        s"$name: ${planned.length} planned tiles padded to ${padded.length}")
      // the pads partition the gaps: pads overlap no tile and no other pad
      val pads = padded.drop(planned.length)
      def overlap(a: Mbb, b: Mbb) =
        a.xmin < b.xmax && b.xmin < a.xmax && a.ymin < b.ymax && b.ymin < a.ymax
      assert(pads.forall(p => padded.forall(t => t.tileId == p.tileId || !overlap(p.mbb, t.mbb))),
        s"$name: a pad overlaps another tile")
    }
  }

  test("empty sample still yields a usable tiling") {
    for (name <- SpatialPartitioner.all.keys) {
      val tiles = SpatialPartitioner(name).partition(Array.empty, space, 10)
      val idx = new TileIndex(tiles, space)
      assert(idx.refTile(50, 25) >= 0, s"$name empty-sample coverage")
    }
  }
}
