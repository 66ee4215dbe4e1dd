package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.locationtech.jts.geom.Envelope
import org.locationtech.jts.index.strtree.STRtree

import graft.core.{Mbb, TileBoundary}

/** Broadcast-able spatial index over tile boundaries — the Spark replacement
  * for the reference's cache-file partition index + per-task R-tree
  * (/root/reference/src/transform/manipulate_2d.cpp:218-234).
  *
  * The tile set handed to this index is ALWAYS padded to cover the whole
  * space envelope (see [[TileIndex.covering]]): partitioners whose
  * sample-derived tiles leave gaps (str/hc union-MBB tiles) get complement
  * rectangles appended, so every point of the space has >=1 owning tile.
  * This guarantees a spatially matching pair always co-occurs in the tile
  * owning their envelope-intersection reference point — no silent false
  * negatives, and reference-point dedup is exact for every partitioner.
  *
  * `tilesFor` maps an object MBB to every intersecting tile (the 1->N
  * replication of manipulate_2d.cpp:159-178).
  *
  * `refTile` implements reference-point deduplication: a joined pair is
  * emitted only in the unique owner tile of the bottom-left corner of the two
  * envelopes' intersection, removing the reference's global sort+uniq dedup
  * job (queryprocessor_2d.cpp:393-445). With overlapping tiles the owner is
  * the containing tile with the smallest tileId (deterministic everywhere).
  *
  * `tileWeights` are the per-tile object counts planning already took (the
  * exact fg histogram, or sample counts); absent tiles weigh 0. They order
  * the refine tasks ([[refineKeys]]).
  *
  * The public constructor pads `rawTiles`; the private one (told apart by
  * its `covered` marker) takes tiles that already cover the space.
  */
final class TileIndex private (val tiles: Array[TileBoundary], val space: Mbb,
                               val shardCounts: Map[Int, Int],
                               val tileWeights: Map[Int, Long], covered: Unit)
    extends Serializable {

  def this(rawTiles: Array[TileBoundary], space: Mbb,
           shardCounts: Map[Int, Int] = Map.empty,
           tileWeights: Map[Int, Long] = Map.empty) =
    this(TileIndex.covering(rawTiles, space), space, shardCounts, tileWeights, ())

  /** These tiles with hot-tile shards and per-tile weights set. The tiles
    * already cover the space, and a second [[TileIndex.covering]] pass costs
    * several times the first: padding multiplies the tile count (an str
    * tiling of 210 tiles pads to 4,230). */
  def withCounts(shards: Map[Int, Int], weights: Map[Int, Long]): TileIndex =
    new TileIndex(tiles, space, shards, weights, ())

  /** Shards for a tile (>1 only for spatially-unsplittable hotspots). */
  def shardsOf(tile: Int): Int = shardCounts.getOrElse(tile, 1)

  /** The composite (tile, shard) keys of [[probeKeys]]/[[buildKeys]], the
    * refine keys of [[SpatialJoin.slotCogroup]]: each weighs its tile's
    * weight over the tile's shard count (the probe rows split across
    * shards). */
  def refineKeys: Seq[(Long, Double)] = tiles.toSeq.flatMap { tb =>
    val s = shardsOf(tb.tileId)
    val w = tileWeights.getOrElse(tb.tileId, 0L).toDouble / s
    (0 until s).map(sh => (tb.tileId.toLong * TileIndex.MaxShards + sh, w))
  }

  /** The refine slots of [[refineKeys]] ([[SpatialJoin.planSlots]]). */
  def refineSlots(maxSlots: Int): (Int, Map[Long, Int]) = SpatialJoin.planSlots(refineKeys, maxSlots)

  /** Composite cogroup keys for the PROBE side: one (tile, shard) per
    * intersecting tile, shard picked by the row's salt — hot tiles split
    * their probe rows across shards. */
  def probeKeys(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                salt: Long): Array[Long] =
    tilesFor(xmin, ymin, xmax, ymax).map(probeKey(_, salt))

  /** The composite key of the shard of `tile` that a probe row with `salt`
    * lands on. */
  def probeKey(tile: Int, salt: Long): Long = {
    val s = shardsOf(tile)
    tile.toLong * TileIndex.MaxShards +
      (if (s <= 1) 0L else java.lang.Long.remainderUnsigned(salt, s))
  }

  /** Composite keys for the BUILD side: replicated to every shard of each
    * intersecting tile (the build side of a hot tile ships to all shards). */
  def buildKeys(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Long] =
    tilesFor(xmin, ymin, xmax, ymax).flatMap { t =>
      val s = shardsOf(t)
      (0 until s).map(sh => t.toLong * TileIndex.MaxShards + sh)
    }

  @transient private lazy val byId: Map[Int, TileBoundary] =
    tiles.iterator.map(t => t.tileId -> t).toMap

  /** Tile boundary by id (padded tiles included). */
  def tileById(id: Int): TileBoundary = byId(id)

  @transient private lazy val tree: STRtree = {
    val t = new STRtree()
    tiles.foreach { tb =>
      t.insert(new Envelope(tb.mbb.xmin, tb.mbb.xmax, tb.mbb.ymin, tb.mbb.ymax), tb)
    }
    t.build()
    t
  }

  def tilesFor(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Int] = {
    val env = new Envelope(xmin, xmax, ymin, ymax)
    val hits = tree.query(env)
    if (!hits.isEmpty) {
      val out = new Array[Int](hits.size())
      var i = 0
      while (i < hits.size()) {
        out(i) = hits.get(i).asInstanceOf[TileBoundary].tileId; i += 1
      }
      out
    } else {
      // Only reachable for envelopes fully outside the space (cannot happen
      // when the space was computed from these same inputs); route to the
      // nearest tile center as a defensive fallback.
      val m = Mbb(xmin, ymin, xmax, ymax)
      var best = tiles(0); var bestD = Double.PositiveInfinity
      tiles.foreach { tb =>
        val d = tb.mbb.centerDist2(m)
        if (d < bestD || (d == bestD && tb.tileId < best.tileId)) { best = tb; bestD = d }
      }
      Array(best.tileId)
    }
  }

  // Regular lookup grid over the space: cell -> tiles overlapping it
  // (usually 1-3). refTile runs once per MATCHED pair in refpoint dedup —
  // an O(1) array walk here beats an STRtree query by ~10x.
  @transient private lazy val grid: Array[Array[TileBoundary]] = {
    val g = TileIndex.GridSize
    val cells = Array.fill(g * g)(List.empty[TileBoundary])
    val w = math.max(space.width, Double.MinPositiveValue)
    val h = math.max(space.height, Double.MinPositiveValue)
    tiles.foreach { tb =>
      val c0 = math.max(0, math.min(g - 1, ((tb.mbb.xmin - space.xmin) / w * g).toInt))
      val c1 = math.max(0, math.min(g - 1, ((tb.mbb.xmax - space.xmin) / w * g).toInt))
      val r0 = math.max(0, math.min(g - 1, ((tb.mbb.ymin - space.ymin) / h * g).toInt))
      val r1 = math.max(0, math.min(g - 1, ((tb.mbb.ymax - space.ymin) / h * g).toInt))
      var r = r0
      while (r <= r1) {
        var c = c0
        while (c <= c1) { cells(r * g + c) ::= tb; c += 1 }
        r += 1
      }
    }
    cells.map(_.toArray)
  }

  /** The owner tile of point (x,y): among tiles containing it under
    * half-open semantics ([min,max) except at the space's right/top edge),
    * the one with the smallest tileId. -1 only for points outside space. */
  def refTile(x: Double, y: Double): Int = {
    val g = TileIndex.GridSize
    val w = math.max(space.width, Double.MinPositiveValue)
    val h = math.max(space.height, Double.MinPositiveValue)
    val c = math.max(0, math.min(g - 1, ((x - space.xmin) / w * g).toInt))
    val r = math.max(0, math.min(g - 1, ((y - space.ymin) / h * g).toInt))
    val cands = grid(r * g + c)
    var ownerId = Int.MaxValue
    var i = 0
    while (i < cands.length) {
      val tb = cands(i)
      val m = tb.mbb
      val inX = x >= m.xmin && (x < m.xmax || (x == m.xmax && m.xmax == space.xmax))
      val inY = y >= m.ymin && (y < m.ymax || (y == m.ymax && m.ymax == space.ymax))
      if (inX && inY && tb.tileId < ownerId) ownerId = tb.tileId
      i += 1
    }
    if (ownerId == Int.MaxValue) -1 else ownerId
  }
}

object TileIndex {

  /** refTile lookup-grid resolution (GridSize² cells over the space). */
  val GridSize: Int = 128

  /** Max probe-side shards per hot tile (composite-key stride). */
  val MaxShards: Int = 64

  /** Pads `tiles` with complement rectangles so the union exactly covers
    * `space`. Strip sweep: the distinct clipped tile y-edges slice the space
    * into horizontal strips; within each strip every tile either spans it
    * fully or misses its interior, so coverage reduces to 1-D interval
    * merging per strip. Gaps become new tiles (ids continue after the max
    * existing id); a gap with the same x-interval as a pad of the strip
    * below extends that pad upward instead, so the pads still partition the
    * gaps but number near the planned tiles (an str tiling of 100k random
    * unit boxes at bucket 100 plans 1,024 tiles and padded to 15,061 before
    * the merge, 1,506 after). Already-covering tilings come back unchanged. */
  def covering(tiles: Array[TileBoundary], space: Mbb): Array[TileBoundary] = {
    if (tiles.isEmpty) return Array(TileBoundary(0, space))
    val eps = 0.0 // exact edges: tiles derive from the same double arithmetic
    val ys = {
      val b = ArrayBuffer(space.ymin, space.ymax)
      tiles.foreach { t =>
        if (t.mbb.ymin > space.ymin && t.mbb.ymin < space.ymax) b += t.mbb.ymin
        if (t.mbb.ymax > space.ymin && t.mbb.ymax < space.ymax) b += t.mbb.ymax
      }
      b.distinct.sorted.toArray
    }
    var nextId = tiles.map(_.tileId).max + 1
    val pads = new ArrayBuffer[TileBoundary]
    // the previous strip's gaps: x-interval -> index of its pad
    var open = Map.empty[(Double, Double), Int]
    var s = 0
    while (s < ys.length - 1) {
      val y0 = ys(s); val y1 = ys(s + 1)
      // tiles spanning this strip's interior
      val xs = tiles.iterator
        .filter(t => t.mbb.ymin <= y0 + eps && t.mbb.ymax >= y1 - eps)
        .map(t => (math.max(t.mbb.xmin, space.xmin), math.min(t.mbb.xmax, space.xmax)))
        .filter { case (a, b) => b > a }
        .toArray.sortBy(_._1)
      val gaps = new ArrayBuffer[(Double, Double)]
      var cursor = space.xmin
      var i = 0
      while (i < xs.length) {
        val (a, b) = xs(i)
        if (a > cursor) gaps += ((cursor, a))
        if (b > cursor) cursor = b
        i += 1
      }
      if (cursor < space.xmax) gaps += ((cursor, space.xmax))
      open = gaps.iterator.map { case g @ (a, b) =>
        g -> open.get(g).fold {
          pads += TileBoundary(nextId, Mbb(a, y0, b, y1)); nextId += 1
          pads.length - 1
        } { p =>
          pads(p) = pads(p).copy(mbb = pads(p).mbb.copy(ymax = y1))
          p
        }
      }.toMap
      s += 1
    }
    if (pads.isEmpty) tiles else tiles ++ pads
  }
}
