package graft.operators

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference,
  GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, SpatialJoinExec}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.KthHeap

/** 3-D MBB spatial join and kNN — the Spark counterpart of the reference's
  * 3-D lifecycle (`queryproc3d` / `resque3d` / `map_obj_to_tile_3d` /
  * `get_space_dimension_3d` / `fg3d`, /root/reference/src/README.md:5-15).
  * The reference's shipped 3-D sources are MBB-level (`mbb_3d` R-tree
  * streams, extensions/rtree3d/rtree_traversal3d.h:54-117; the mesh refine
  * stage ships only as prebuilt binaries), so the Spark surface is the MBB
  * join: 3-D tiling, object→cell replication, cell-local refine,
  * reference-point dedup.
  *
  * Both operators run on the 2-D engine's refine slots
  * ([[SpatialJoin.slotCogroup]]): each side is copied once as internal
  * rows (rows with a null or non-finite bound, or min > max on an axis,
  * dropped), planning runs one or two small jobs over the copies,
  * and one per-cell kernel ([[pairs]]) emits every (left, right) pair whose
  * MBB gap distance ([[gap]]) is within the left row's radius and whose
  * reference point — the nearest point of the right box to the left box,
  * for overlapping boxes the intersection's min corner — the cell owns.
  * Each pair is emitted by exactly one cell. [[joinMbb]] is that kernel at
  * radius 0; the kNN joins run it at each left row's probe radius, keep
  * each (left, cell)'s top k, and rank them in one reduce by a synthetic
  * left id.
  */
object SpatialJoin3d {

  /** Right sides past this many rows plan the kNN on the octree instead of
    * the grid: its density-sized leaves halved the join cost at 100x
    * (102.7 s grid vs 51.8 s octree, SCALE.md). */
  val BroadcastRightMax = 200000L

  /** Column bundle naming the six MBB sides of a relation. */
  final case class Mbb3Cols(xmin: String, ymin: String, zmin: String,
                            xmax: String, ymax: String, zmax: String)

  /** MBB gap distance between the boxes at offset `i` of `a` and `j` of `b`
    * (six doubles each: the mins, then the maxes); 0 when they intersect.
    * The probe radius and the kernel both measure with it, so the
    * candidate that sets a radius passes `d <= radius` exactly. */
  private[operators] def gap(a: Array[Double], i: Int, b: Array[Double], j: Int): Double = {
    val dx = math.max(math.max(a(i) - b(j + 3), b(j) - a(i + 3)), 0.0)
    val dy = math.max(math.max(a(i + 1) - b(j + 4), b(j + 1) - a(i + 4)), 0.0)
    val dz = math.max(math.max(a(i + 2) - b(j + 5), b(j + 2) - a(i + 5)), 0.0)
    math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  /** A 3-D tiling. Correctness needs: `owner(p)` is in `cellsOf(box)` for
    * every point p of the box, `ballCells(box, rad)` holds every cell
    * within Euclidean distance `rad` of the box, and `plans` turns
    * right-centre counts per cell into per-cell (radius, probe set)
    * tables ([[KnnPlanner]]). */
  private sealed trait Tiling extends Serializable {
    def owner(x: Double, y: Double, z: Double): Int
    def cellsOf(b: Array[Double]): Array[Int]
    def ballCells(b: Array[Double], rad: Double): Array[Int]
    def plans(counts: Map[Int, Long], k: Int, diag: Double): (Array[Double], Array[Array[Int]])
    /** The cell owning the centre of the box `b`. */
    def centre(b: Array[Double]): Int = owner((b(0) + b(3)) / 2, (b(1) + b(4)) / 2, (b(2) + b(5)) / 2)
  }

  /** The fg3d grid: `n` cells per axis over the space `sp`, closed on the
    * low edge, the max edge clamped into the last cell; cell id
    * ((x·n)+y)·n+z. */
  private final class Grid(sp: Array[Double], n: Int) extends Tiling {
    // span guard: a single-point axis must not divide by zero
    private val w = Array.tabulate(3)(a => math.max(sp(a + 3) - sp(a), java.lang.Double.MIN_NORMAL) / n)
    private def at(v: Double, a: Int) =
      math.max(0, math.min(n - 1, math.floor((v - sp(a)) / w(a)).toInt))
    def owner(x: Double, y: Double, z: Double): Int = (at(x, 0) * n + at(y, 1)) * n + at(z, 2)
    def cellsOf(b: Array[Double]): Array[Int] = cells(b, 0.0, ball = false)
    def ballCells(b: Array[Double], rad: Double): Array[Int] = cells(b, rad, ball = true)
    def plans(counts: Map[Int, Long], k: Int, diag: Double): (Array[Double], Array[Array[Int]]) =
      cellPlans(counts, sp, n, k, diag)

    /** The cells of the per-axis ranges the box grown by `rad` covers;
      * with `ball`, only those within `rad` (+1e-9 rounding slack) of the
      * box, walked axis-major with prefix pruning. */
    private def cells(b: Array[Double], rad: Double, ball: Boolean): Array[Int] = {
      val rr = rad + 1e-9
      val rr2 = rr * rr
      def sq(i: Int, a: Int) =
        if (!ball) 0.0
        else {
          val g = math.max(0.0, math.max(sp(a) + i * w(a) - b(a + 3), b(a) - (sp(a) + (i + 1) * w(a))))
          g * g
        }
      val lo = Array.tabulate(3)(a => at(b(a) - rad, a))
      val hi = Array.tabulate(3)(a => at(b(a + 3) + rad, a))
      val out = new mutable.ArrayBuilder.ofInt
      var ix = lo(0)
      while (ix <= hi(0)) {
        val dx2 = sq(ix, 0)
        if (dx2 <= rr2) {
          var iy = lo(1)
          while (iy <= hi(1)) {
            val dxy2 = dx2 + sq(iy, 1)
            if (dxy2 <= rr2) {
              var iz = lo(2)
              while (iz <= hi(2)) {
                if (dxy2 + sq(iz, 2) <= rr2) out += (ix * n + iy) * n + iz
                iz += 1
              }
            }
            iy += 1
          }
        }
        ix += 1
      }
      out.result()
    }
  }

  /** The octree leaves of `t` as cells ([[Octree3d]]). */
  private final class Leaves(t: Octree3d.Tree) extends Tiling {
    def owner(x: Double, y: Double, z: Double): Int = t.owner(x, y, z)
    def cellsOf(b: Array[Double]): Array[Int] = t.leavesFor(b(0), b(1), b(2), b(3), b(4), b(5))
    def ballCells(b: Array[Double], rad: Double): Array[Int] =
      t.leavesWithinBall(b(0), b(1), b(2), b(3), b(4), b(5), rad)
    // the tree-indexed planner: the quadratic prefix scan bails to
    // all-diagonal radii past its budget, which at the sf10 octree
    // replicated every probe to the whole space
    def plans(counts: Map[Int, Long], k: Int, diag: Double): (Array[Double], Array[Array[Int]]) =
      KnnPlanner.treePlans(t.boxes, t.childBase, t.leafOrd, t.leafBoxes, 3, counts, k, diag)
  }

  /** One side of an operator: its rows, copied once into an RDD-level
    * MEMORY_AND_DISK persist that [[SpatialJoinExec.release]] ends, laid
    * out as `attrs` (with `withId`, a unique synthetic `__lid` lane first,
    * [[SpatialJoinExec.withIds]]), and the ordinals of its six bounds. */
  private final case class Side(rows: RDD[InternalRow], attrs: Seq[Attribute], bounds: Array[Int])

  /** The six bounds at ordinals `b` (each plus `off`) of `row`. */
  private def box(row: InternalRow, b: Array[Int], off: Int = 0): Array[Double] = {
    val a = new Array[Double](6)
    var i = 0
    while (i < 6) { a(i) = row.getDouble(b(i) + off); i += 1 }
    a
  }

  private def side(df: DataFrame, c: Mbb3Cols, withId: Boolean): Side = {
    val cols = df.schema.fields.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val attrs = (if (withId) Seq(AttributeReference("__lid", LongType, nullable = false)()) else Nil) ++ cols
    val b = Seq(c.xmin, c.ymin, c.zmin, c.xmax, c.ymax, c.zmax).map { name =>
      val i = df.columns.indexOf(name)
      require(i >= 0, s"no column $name among ${df.columns.mkString(", ")}")
      require(df.schema(i).dataType == DoubleType, s"MBB column $name must be a double")
      i
    }.toArray
    // a null or non-finite bound, or min > max on an axis: the row is dropped
    val rows = df.queryExecution.toRdd.filter { row =>
      b.forall(i => !row.isNullAt(i) && !row.getDouble(i).isNaN && !row.getDouble(i).isInfinite) &&
        (0 until 3).forall(a => row.getDouble(b(a)) <= row.getDouble(b(a + 3)))
    }
    val copied = (if (withId) SpatialJoinExec.withIds(rows) else rows).mapPartitions[InternalRow] { it =>
      val proj = UnsafeProjection.create(attrs, attrs)
      it.map(proj(_).copy())
    }.persist(StorageLevel.MEMORY_AND_DISK)
    Side(copied, attrs, if (withId) b.map(_ + 1) else b)
  }

  /** get_space_dimension_3d: the joint envelope of both sides, six doubles
    * (no rows: +max mins, -max maxes), and the right side's row count, in
    * one job over the copies. */
  private def space(l: Side, r: Side): (Array[Double], Long) = {
    def union(a: Array[Double], b: Array[Double]) =
      Array.tabulate(6)(i => if (i < 3) math.min(a(i), b(i)) else math.max(a(i), b(i)))
    def boxes(s: Side, right: Long) = { val b = s.bounds; s.rows.map(row => (box(row, b), right)) }
    boxes(l, 0L).union(boxes(r, 1L)).fold((Array.fill(3)(Double.MaxValue) ++ Array.fill(3)(Double.MinValue), 0L)) {
      case ((a, n), (b, m)) => (union(a, b), n + m)
    }
  }

  private def requireDisjoint(left: DataFrame, right: DataFrame): Unit = {
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column name collision between join sides: $dup")
  }

  /** Per-cell kNN search plans from a right-center-per-cell count table.
    * For each of the n³ cells: a search RADIUS upper-bounding the k-th-NN
    * gap distance of any left row whose envelope center falls in the cell,
    * and (when cheap to compute) a PROBE SET — the smallest set of cells,
    * in increasing max box-to-box distance from the owner, holding ≥ k
    * right centers ([[KnnPlanner.prefixPlans]] over the materialized grid
    * cell boxes — the one shared planner). A left row probing exactly
    * those cells is guaranteed k real candidates, and its k-th probe
    * distance is a per-row radius far tighter than any cell-granular
    * bound. Falls back to the prefix-sum / Chebyshev-window radius (no
    * probe sets) when occupied-cells × cells would make the exact sort
    * quadratic-expensive. Cells whose full-grid window never reaches k
    * (right side smaller than k) get `diag`. */
  private[operators] def cellPlans(counts: Map[Int, Long], sp: Array[Double],
                                   n: Int, k: Int, diag: Double,
                                   probeCap: Int = 64): (Array[Double], Array[Array[Int]]) = {
    val cells = n * n * n
    val noProbes = Array.fill(cells)(Array.empty[Int])
    if (counts.isEmpty) return (Array.fill(cells)(diag), noProbes)
    val w = Array(
      math.max(sp(3) - sp(0), java.lang.Double.MIN_NORMAL) / n,
      math.max(sp(4) - sp(1), java.lang.Double.MIN_NORMAL) / n,
      math.max(sp(5) - sp(2), java.lang.Double.MIN_NORMAL) / n)
    if (counts.size.toLong * cells <= 4L * 1000 * 1000) {
      val boxes = Array.tabulate(cells) { c =>
        val cx = c / (n * n); val cy = (c / n) % n; val cz = c % n
        Array(sp(0) + cx * w(0), sp(1) + cy * w(1), sp(2) + cz * w(2),
              sp(0) + (cx + 1) * w(0), sp(1) + (cy + 1) * w(1),
              sp(2) + (cz + 1) * w(2))
      }
      KnnPlanner.prefixPlans(boxes, 3, counts, k, diag, probeCap)
    } else (ringRadii(counts, sp, n, k, diag), noProbes)
  }
  /** Per-cell kNN search radii from a right-center-per-cell count table:
    * for each of the n³ cells, the smallest Chebyshev cell window around it
    * holding ≥ k right centers (3-D prefix sums + binary search on the
    * window radius, O(n³ log n) total), returned as the max point-to-point
    * distance from the cell's box to that window's box — an upper bound on
    * the k-th-NN gap distance of any left row whose envelope center falls
    * in the cell. Cells whose full-grid window never reaches k (right side
    * smaller than k) get `diag`. */
  private[operators] def ringRadii(counts: Map[Int, Long], sp: Array[Double],
                                   n: Int, k: Int, diag: Double): Array[Double] = {
    // prefix(x)(y)(z) = #rights in cells [0,x) × [0,y) × [0,z)
    val pre = Array.ofDim[Long](n + 1, n + 1, n + 1)
    var x = 0
    while (x < n) {
      var y = 0
      while (y < n) {
        var z = 0
        while (z < n) {
          val c = counts.getOrElse((x * n + y) * n + z, 0L)
          pre(x + 1)(y + 1)(z + 1) = c +
            pre(x)(y + 1)(z + 1) + pre(x + 1)(y)(z + 1) + pre(x + 1)(y + 1)(z) -
            pre(x)(y)(z + 1) - pre(x)(y + 1)(z) - pre(x + 1)(y)(z) +
            pre(x)(y)(z)
          z += 1
        }
        y += 1
      }
      x += 1
    }
    def winSum(cx: Int, cy: Int, cz: Int, d: Int): Long = {
      val x0 = math.max(0, cx - d); val x1 = math.min(n - 1, cx + d)
      val y0 = math.max(0, cy - d); val y1 = math.min(n - 1, cy + d)
      val z0 = math.max(0, cz - d); val z1 = math.min(n - 1, cz + d)
      pre(x1 + 1)(y1 + 1)(z1 + 1) - pre(x0)(y1 + 1)(z1 + 1) -
        pre(x1 + 1)(y0)(z1 + 1) - pre(x1 + 1)(y1 + 1)(z0) +
        pre(x0)(y0)(z1 + 1) + pre(x0)(y1 + 1)(z0) + pre(x1 + 1)(y0)(z0) -
        pre(x0)(y0)(z0)
    }
    val w = Array(
      math.max(sp(3) - sp(0), java.lang.Double.MIN_NORMAL) / n,
      math.max(sp(4) - sp(1), java.lang.Double.MIN_NORMAL) / n,
      math.max(sp(5) - sp(2), java.lang.Double.MIN_NORMAL) / n)
    val out = new Array[Double](n * n * n)
    var cx = 0
    while (cx < n) {
      var cy = 0
      while (cy < n) {
        var cz = 0
        while (cz < n) {
          val id = (cx * n + cy) * n + cz
          if (winSum(cx, cy, cz, n - 1) < k) out(id) = diag
          else {
            // smallest d with ≥ k right centers in the window
            var lo = 0; var hi = n - 1
            while (lo < hi) {
              val mid = (lo + hi) / 2
              if (winSum(cx, cy, cz, mid) >= k) hi = mid else lo = mid + 1
            }
            // max |p−q| per axis, p ∈ cell box, q ∈ window box
            val cIdx = Array(cx, cy, cz)
            var s = 0.0
            var a = 0
            while (a < 3) {
              val w0 = math.max(0, cIdx(a) - lo)
              val w1 = math.min(n - 1, cIdx(a) + lo)
              val m = math.max((cIdx(a) + 1 - w0).toDouble,
                (w1 + 1 - cIdx(a)).toDouble) * w(a)
              s += m * m
              a += 1
            }
            out(id) = math.min(math.sqrt(s), diag)
          }
          cz += 1
        }
        cy += 1
      }
      cx += 1
    }
    out
  }

  /** 3-D MBB intersects join (closed envelopes, the reference's R-tree
    * `Region` overlap semantics). Output: all left columns ++ all right
    * columns for every intersecting pair, each pair exactly once. Its
    * jobs: the space, then the cells both sides touch with their replica
    * counts — the refine keys, weighed by their pair counts.
    *
    * @param cellsPerAxis fg3d grid resolution per axis (cellsPerAxis³
    *        cells, of which only those holding rows of both sides become
    *        refine keys); size so expected rows per cell fit a task.
    */
  def joinMbb(left: DataFrame, lc: Mbb3Cols,
              right: DataFrame, rc: Mbb3Cols,
              cellsPerAxis: Int = 16): DataFrame = {
    require(cellsPerAxis >= 1 && cellsPerAxis <= 1290,
      "cellsPerAxis^3 must fit an Int cell id")
    requireDisjoint(left, right)
    val spark = left.sparkSession
    val (l, r) = (side(left, lc, withId = false), side(right, rc, withId = false))
    val grid = spark.sparkContext.broadcast[Tiling](new Grid(space(l, r)._1, cellsPerAxis))
    def replicas(s: Side, one: (Long, Long)) = {
      val b = s.bounds
      s.rows.flatMap(row => grid.value.cellsOf(box(row, b)).iterator.map(_ -> one))
    }
    val keys = replicas(l, (1L, 0L)).union(replicas(r, (0L, 1L)))
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .collect().toSeq.collect { case (c, (nl, nr)) if nl > 0 && nr > 0 => (c.toLong, nl.toDouble * nr) }
    SpatialJoinExec.release(l.rows, r.rows)
    val lb = l.bounds
    val out = l.attrs ++ r.attrs
    frame(spark, pairs(spark, grid, keys, l, row => grid.value.cellsOf(box(row, lb)), None, r, Int.MaxValue, Nil,
      AttributeReference("__d", DoubleType, nullable = false)(), out), out)
  }

  /** Exact 3-D kNN join over MBBs (the 3-D analog of the reference's
    * st_nearest; the shipped 3-D surface is MBB-level R-tree traversal,
    * extensions/rtree3d/rtree_traversal3d.h:54-214) on a uniform grid of
    * `cellsPerAxis`³ cells. For each left row, its `k` nearest right rows
    * by MBB gap distance, ranked 1..k by (distance, `rightId`); fewer when
    * the right side holds fewer than k rows. Output = left cols ++ right
    * cols ++ `knn_dist` ++ `knn_rank`; left rows are answered each on
    * their own, duplicates included.
    *
    * Probe-then-bound, the 3-D analog of the reference's kNN search-radius
    * protocol (knn_2d.hpp:86-93 estimates `sqrt(area·k/n)` and grows it ×√2
    * under a hard cap rather than ever searching the full space), made
    * deterministic:
    *
    *   1. PLAN — one job over the right copy counts right rows by the cell
    *      owning their envelope centre and collects the cells some right
    *      envelope touches; per cell, the smallest set of cells in
    *      increasing max box-to-box distance holding ≥ k right centres
    *      ([[cellPlans]]).
    *   2. PROBE — each left row meets the capped candidates of its owner
    *      cell's probe set: ≥ k real rights, so its k-th gap distance
    *      upper-bounds its k-th-NN gap ([[knn]]).
    *   3. BOUND — the per-cell kernel pairs each left row with every right
    *      row within that radius, keeping each (left, cell)'s top k, and
    *      one reduce by left id ranks them.
    *
    * Rights concentrated in one cell (> 3/4 of more than 64·k rows), or
    * more than [[BroadcastRightMax]] of them, re-plan on the octree
    * ([[knnJoinMbbOc]]): same answer, density-sized cells.
    *
    * `rightId` orders distance ties (it must be unique). */
  def knnJoinMbb(left: DataFrame, lc: Mbb3Cols,
                 right: DataFrame, rc: Mbb3Cols, rightId: String, k: Int,
                 cellsPerAxis: Int = 8,
                 probeCollectMax: Long = 1000000L): DataFrame = {
    // 64³ = 262k cells bounds the planner's count and plan tables
    require(cellsPerAxis >= 1 && cellsPerAxis <= 64,
      "cellsPerAxis must be in [1,64]: the cell-plan table is cells^3")
    val (l, r, sp, nR) = prepare(left, lc, right, rc, rightId, k)
    val grid = left.sparkSession.sparkContext.broadcast[Tiling](new Grid(sp, cellsPerAxis))
    val st = stats(r, grid)
    // fixed-size cells starve when the rights concentrate in a few of them
    // (a cluster filling 1e-6 of the space puts every right in one cell),
    // and past BroadcastRightMax the octree's cells win: both decided from
    // the counts in hand
    val total = st._1.valuesIterator.sum
    val maxCell = if (st._1.isEmpty) 0L else st._1.valuesIterator.max
    if ((total > 64L * k && maxCell * 4 > total * 3) || total > BroadcastRightMax)
      onOctree(left.sparkSession, l, r, sp, nR, rightId, k, 512, 20000, 42L, probeCollectMax)
    else knn(left.sparkSession, l, r, sp, grid, st, rightId, k, probeCollectMax)
  }

  /** [[knnJoinMbb]] over an OCTREE tiling instead of the uniform grid —
    * the reconstructed `oc` 3-D partitioner (reference ships it only as a
    * prebuilt binary, src/README.md:5-15; rebuilt as the quadtree's 8-way
    * analog, QuadtreeNode.hpp:46-133 — see [[Octree3d]]). The tree is
    * planned on a seeded sample of about `sampleTarget` RIGHT
    * envelope centres, with `leafCap` scaled by the sample rate, so leaf
    * sizes track the right-side density: every occupied region splits to
    * ~`leafCap` rights per leaf and empty regions stay coarse, which keeps
    * probe sets near-singleton and search radii tight everywhere. */
  def knnJoinMbbOc(left: DataFrame, lc: Mbb3Cols,
                   right: DataFrame, rc: Mbb3Cols, rightId: String, k: Int,
                   leafCap: Int = 512, sampleTarget: Int = 20000,
                   seed: Long = 42L,
                   probeCollectMax: Long = 1000000L): DataFrame = {
    val (l, r, sp, nR) = prepare(left, lc, right, rc, rightId, k)
    onOctree(left.sparkSession, l, r, sp, nR, rightId, k, leafCap, sampleTarget, seed, probeCollectMax)
  }

  /** The kNN joins' checks, both copies (the left with its id lane), and
    * the space job: the space and the right row count. */
  private def prepare(left: DataFrame, lc: Mbb3Cols, right: DataFrame, rc: Mbb3Cols,
                      rightId: String, k: Int): (Side, Side, Array[Double], Long) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(right.columns.contains(rightId), s"no column $rightId among ${right.columns.mkString(", ")}")
    requireDisjoint(left, right)
    val (l, r) = (side(left, lc, withId = true), side(right, rc, withId = false))
    val (sp, nR) = space(l, r)
    (l, r, sp, nR)
  }

  /** The kNN on an octree planned from a seeded sample of the right
    * centres, the leaf capacity scaled by the sample rate (the
    * bucket-scaling rule of the 2-D planners, queryprocessor_2d.cpp:280). */
  private def onOctree(spark: SparkSession, l: Side, r: Side, sp: Array[Double], nR: Long,
                       rightId: String, k: Int, leafCap: Int, sampleTarget: Int, seed: Long,
                       probeCollectMax: Long): DataFrame = {
    val fraction = if (nR == 0) 1.0 else math.min(1.0, sampleTarget.toDouble / nR)
    val rb = r.bounds
    val pts = r.rows.sample(withReplacement = false, fraction, seed).map { row =>
      val b = box(row, rb)
      Array((b(0) + b(3)) / 2, (b(1) + b(4)) / 2, (b(2) + b(5)) / 2)
    }.collect().take(sampleTarget * 2)
    val tree = Octree3d.build(pts, sp.clone(), math.max(1, math.floor(leafCap * fraction).toInt))
    val leaves = spark.sparkContext.broadcast[Tiling](new Leaves(tree))
    knn(spark, l, r, sp, leaves, stats(r, leaves), rightId, k, probeCollectMax)
  }

  /** The kNN's planning job over the right copy: the right rows per cell
    * of their envelope centre, and the cells some right envelope touches. */
  private def stats(r: Side, tiling: Broadcast[Tiling]): (Map[Int, Long], Set[Int]) = {
    val rb = r.bounds
    r.rows.mapPartitions { it =>
      val counts = mutable.HashMap.empty[Int, Long]
      val occupied = mutable.HashSet.empty[Int]
      it.foreach { row =>
        val b = box(row, rb)
        val c = tiling.value.centre(b)
        counts(c) = counts.getOrElse(c, 0L) + 1
        occupied ++= tiling.value.cellsOf(b)
      }
      Iterator.single((counts.toMap, occupied.toSet))
    }.fold((Map.empty[Int, Long], Set.empty[Int])) { case ((c1, o1), (c2, o2)) =>
      (c2.foldLeft(c1) { case (m, (c, n)) => m.updated(c, m.getOrElse(c, 0L) + n) }, o1 ++ o2)
    }
  }

  /** Probe and bound on `tiling`, whose right-centre counts and occupied
    * cells are `stats`. Each left row's radius is the k-th gap distance
    * to the capped candidates ([[candidates]]) of its owner cell's probe
    * set, capped by the cell's plan radius, which alone holds when the cell
    * has no probe set (fewer than k rights, or a set past its cap). Up to
    * `probeCollectMax` candidates, one job collects them and every task
    * meets them as one broadcast map; past that they stay distributed and
    * meet the left rows on the refine slots, keyed by owner cell. The
    * bound keys are the occupied cells, weighed by their right counts. */
  private def knn(spark: SparkSession, l: Side, r: Side, sp: Array[Double], tiling: Broadcast[Tiling],
                  stats: (Map[Int, Long], Set[Int]), rightId: String, k: Int,
                  probeCollectMax: Long): DataFrame = {
    val sc = spark.sparkContext
    val (counts, occupied) = stats
    val diag = math.sqrt((0 until 3).map(a => (sp(a + 3) - sp(a)) * (sp(a + 3) - sp(a))).sum)
    val plan = sc.broadcast(tiling.value.plans(counts, k, diag))
    val probeCells = plan.value._2.iterator.flatten.toSet
    val cap = math.max(k, 64)
    val cands = candidates(r, tiling, probeCells, cap)
    val lb = l.bounds
    val owner = (a: Array[Double]) => tiling.value.centre(a)
    // the radius of the left box `a` owned by cell `o`, given candidates `cs`
    def radius(o: Int, a: Array[Double], cs: Iterator[Array[Double]]): Double = {
      val heap = new KthHeap(k)
      cs.foreach { c =>
        var i = 0
        while (i < c.length) { heap.insert(gap(a, 0, c, i)); i += 6 }
      }
      if (heap.n < k) plan.value._1(o) else math.min(heap.arr(0), plan.value._1(o))
    }
    val radA = AttributeReference("__rad", DoubleType, nullable = false)()
    val lIn = l.attrs :+ radA
    def withRad(in: Seq[Attribute]) = {
      val proj = UnsafeProjection.create(lIn, in :+ radA)
      val rad = new GenericInternalRow(1)
      val joined = new JoinedRow
      (row: InternalRow, v: Double) => { rad.setDouble(0, v); proj(joined(row, rad)).copy() }
    }
    val radii: RDD[InternalRow] = if (probeCells.size.toLong * cap <= probeCollectMax) {
      val candBc = sc.broadcast(cands.collect().toMap)
      l.rows.mapPartitions { it =>
        val out = withRad(l.attrs)
        it.map { row =>
          val a = box(row, lb)
          val o = owner(a)
          out(row, radius(o, a, plan.value._2(o).iterator.flatMap(candBc.value.get)))
        }
      }
    } else {
      // one row per cell's candidates, keyed by every owner cell whose
      // probe set holds that cell; rows of cells without a set skip it
      val holders = sc.broadcast(plan.value._2.zipWithIndex
        .flatMap { case (cs, o) => cs.map(_ -> o.toLong) }.groupMap(_._1)(_._2))
      val candIn = Seq(AttributeReference("__c", IntegerType, nullable = false)(),
        AttributeReference("__cands", ArrayType(DoubleType, containsNull = false), nullable = false)())
      val keys = plan.value._2.indices.filter(plan.value._2(_).nonEmpty).map(o => (o.toLong, 0.0))
      val probed = SpatialJoin.slotCogroup(spark, keys,
          l.rows, l.attrs, row => Iterator.single(owner(box(row, lb)).toLong),
          cands.map { case (c, a) => InternalRow(c, new GenericArrayData(a)) }, candIn,
          row => holders.value.getOrElse(row.getInt(0), Array.empty[Long]).iterator) {
        build => build.flatMap(_.getArray(3).toDoubleArray()).toArray
      } { () =>
        val out = withRad(SpatialJoin.keyed(l.attrs))
        (cs: Array[Double], row: InternalRow) =>
          Iterator.single[InternalRow](out(row, radius(row.getLong(1).toInt, box(row, lb, 2), Iterator.single(cs))))
      }
      probed.union(l.rows.mapPartitions { it =>
        val out = withRad(l.attrs)
        it.flatMap { row =>
          val a = box(row, lb)
          val o = owner(a)
          if (plan.value._2(o).nonEmpty) None else Some(out(row, radius(o, a, Iterator.empty)))
        }
      })
    }
    SpatialJoinExec.release(l.rows, r.rows)

    val radO = lIn.length - 1
    val keys = occupied.toSeq.map(c => (c.toLong, counts.getOrElse(c, 0L).toDouble))
    val dist = AttributeReference("knn_dist", DoubleType, nullable = false)()
    val rank = AttributeReference("knn_rank", IntegerType, nullable = false)()
    val ties = Seq(SortOrder(r.attrs.find(_.name == rightId).get, Ascending))
    val cIn = l.attrs ++ r.attrs :+ dist
    val cands2 = pairs(spark, tiling, keys, Side(radii, lIn, lb),
      row => tiling.value.ballCells(box(row, lb), row.getDouble(radO)), Some(radO), r, k, ties, dist, cIn)
    val out = l.attrs.tail ++ r.attrs ++ Seq(dist, rank)
    frame(spark, SpatialJoin.ranked(spark, cands2, cIn, ties, k, Double.PositiveInfinity, out, rank), out)
  }

  /** Per probe cell of `cells`, up to `cap` right boxes centred in it,
    * packed six doubles each: those with the smallest content hash, so the
    * choice depends on neither scan order nor partitioning. Any ≥
    * min(cap, count) rights of each cell of a probe set hold ≥ k
    * candidates when the set does (cap ≥ k), so the k-th probe distance
    * stays an upper bound, and the candidates stay bounded by the tiling
    * (cells × cap), not the data. The merge combines map-side, so one
    * record per (partition, cell) crosses its shuffle. */
  private def candidates(r: Side, tiling: Broadcast[Tiling], cells: Set[Int],
                         cap: Int): RDD[(Int, Array[Double])] = {
    // by content hash, then the bounds: a total order on distinct boxes
    val byHash: Ordering[(Int, Array[Double])] = (a, b) =>
      if (a._1 != b._1) Integer.compare(a._1, b._1) else java.util.Arrays.compare(a._2, b._2)
    def top(cs: Vector[(Int, Array[Double])]) = if (cs.length <= cap) cs else cs.sorted(byHash).take(cap)
    val rb = r.bounds
    val cellsBc = r.rows.sparkContext.broadcast(cells)
    r.rows.flatMap { row =>
      val b = box(row, rb)
      val c = tiling.value.centre(b)
      if (cellsBc.value(c)) Some(c -> (java.util.Arrays.hashCode(b), b)) else None
    }.aggregateByKey(Vector.empty[(Int, Array[Double])])((v, c) => if (v.length < 2 * cap) v :+ c else top(v :+ c),
      (a, b) => top(a ++ b))
      .mapValues(top(_).flatMap(_._2).toArray)
  }

  /** The refine stage of both operators, on `keys` (cells, with their
    * weights) of `tiling`: per cell, the right rows whose box touches it
    * meet the left rows `lKeys` sends there, and each (left, right) pair
    * whose [[gap]] is within the left row's radius (at ordinal `radius`
    * of `l`, or 0) and whose reference point — the nearest point of the
    * right box to the left box — the cell owns is a candidate: every pair
    * within radius is a candidate of exactly one cell. Each (left, cell)
    * keeps its first `top` candidates by (distance, `order` over the right
    * rows), laid out as `out` over the left row, the right row and `dist`. */
  private def pairs(spark: SparkSession, tiling: Broadcast[Tiling], keys: Seq[(Long, Double)],
                    l: Side, lKeys: InternalRow => Array[Int], radius: Option[Int],
                    r: Side, top: Int, order: Seq[SortOrder], dist: Attribute,
                    out: Seq[Attribute]): RDD[InternalRow] = {
    val (lb, rb) = (l.bounds, r.bounds)
    val (lK, rK) = (SpatialJoin.keyed(l.attrs), SpatialJoin.keyed(r.attrs))
    SpatialJoin.slotCogroup(spark, keys, l.rows, l.attrs, row => lKeys(row).iterator.map(_.toLong),
        r.rows, r.attrs, row => tiling.value.cellsOf(box(row, rb)).iterator.map(_.toLong)) { build =>
      val rows = build.map(_.copy()).toArray
      (rows.flatMap(box(_, rb, 2)), rows)
    } { () =>
      val emit = UnsafeProjection.create(out, lK ++ rK :+ dist)
      val d = new GenericInternalRow(1)
      val (lr, lrd) = (new JoinedRow, new JoinedRow)
      val byDist = Ordering.by[(Double, InternalRow), Double](_._1)(Ordering.Double.TotalOrdering)
        .orElse(Ordering.by[(Double, InternalRow), InternalRow](_._2)(new InterpretedOrdering(order, rK)))
      (cell: (Array[Double], Array[InternalRow]), lrow: InternalRow) => {
        val (boxes, rows) = cell
        val a = box(lrow, lb, 2)
        val rad = radius.fold(0.0)(i => lrow.getDouble(i + 2))
        val key = lrow.getLong(1).toInt
        // per axis, the reference point's coordinate for the right box at j
        def ref(j: Int, ax: Int) =
          if (boxes(j + ax) > a(ax + 3)) boxes(j + ax)
          else if (boxes(j + ax + 3) < a(ax)) boxes(j + ax + 3)
          else math.max(a(ax), boxes(j + ax))
        val hits = mutable.ArrayBuffer.empty[(Double, InternalRow)]
        var i = 0
        while (i < rows.length) {
          val j = 6 * i
          val g = gap(a, 0, boxes, j)
          if (g <= rad && tiling.value.owner(ref(j, 0), ref(j, 1), ref(j, 2)) == key) hits += ((g, rows(i)))
          i += 1
        }
        val kept = if (hits.length <= top) hits else hits.sorted(byDist).take(top)
        kept.iterator.map { case (g, rrow) => d.setDouble(0, g); emit(lrd(lr(lrow, rrow), d)) }
      }
    }
  }

  /** `rows` laid out as `attrs` as a DataFrame. */
  private def frame(spark: SparkSession, rows: RDD[InternalRow], attrs: Seq[Attribute]): DataFrame =
    Bridge.ofRows(spark, rows, StructType(attrs.map(a => StructField(a.name, a.dataType, a.nullable))))

  /** mbb_normalizer_3d: affine map of an MBB into the unit cube of the
    * space of `df` (reference mbb_normalizer_3d, src/README.md:9). */
  def normalized(df: DataFrame, c: Mbb3Cols, out: String => String): DataFrame = {
    val a = df.agg(min(col(c.xmin)), min(col(c.ymin)), min(col(c.zmin)),
      max(col(c.xmax)), max(col(c.ymax)), max(col(c.zmax))).head()
    val sp = Array.tabulate(6)(i =>
      if (!a.isNullAt(i)) a.getDouble(i) else if (i < 3) Double.MaxValue else Double.MinValue)
    def nx(v: Column, lo: Double, hi: Double) =
      if (hi > lo) (v - lit(lo)) / lit(hi - lo) else lit(0.0)
    df.withColumn(out("xmin"), nx(col(c.xmin), sp(0), sp(3)))
      .withColumn(out("ymin"), nx(col(c.ymin), sp(1), sp(4)))
      .withColumn(out("zmin"), nx(col(c.zmin), sp(2), sp(5)))
      .withColumn(out("xmax"), nx(col(c.xmax), sp(0), sp(3)))
      .withColumn(out("ymax"), nx(col(c.ymax), sp(1), sp(4)))
      .withColumn(out("zmax"), nx(col(c.zmax), sp(2), sp(5)))
  }
}
