package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 3-D MBB spatial join — the Spark counterpart of the reference's 3-D
  * lifecycle (`queryproc3d` / `resque3d` / `map_obj_to_tile_3d` /
  * `get_space_dimension_3d` / `fg3d`, /root/reference/src/README.md:5-15).
  * The reference's shipped 3-D sources are MBB-level (`mbb_3d` R-tree
  * streams, extensions/rtree3d/rtree_traversal3d.h:54-117; the mesh refine
  * stage ships only as prebuilt binaries), so the Spark surface is the MBB
  * join: fixed 3-D grid tiling, object→tile replication, tile-local
  * envelope-intersects refine, reference-point dedup.
  *
  * Everything is COLUMN ARITHMETIC — tiling uses `sequence` + `explode`
  * over per-axis integer cell ranges (whole-stage codegen, no UDF, no
  * broadcast index), the refine is six comparisons, and refpoint dedup is
  * "emit in the cell that owns the intersection's min corner". One shuffle
  * per side (the tile exchange), then a shuffle-hash join per tile — the
  * same plan shape that survives 100 TB in the 2-D engine, minus the JTS
  * stage 3-D never needs.
  */
object SpatialJoin3d {

  /** Right sides at or under this many rows broadcast in the kNN joins
    * (exact count from the planning aggregate, not an estimate). Each row
    * is six doubles + an id; with ≤ 27-cell envelope replication the
    * broadcast stays well under Spark's 8 GB relation cap at this bound. */
  val BroadcastRightMax = 200000L

  /** Column bundle naming the six MBB sides of a relation. */
  final case class Mbb3Cols(xmin: String, ymin: String, zmin: String,
                            xmax: String, ymax: String, zmax: String) {
    def cols: Seq[Column] = Seq(col(xmin), col(ymin), col(zmin),
      col(xmax), col(ymax), col(zmax))
  }

  /** get_space_dimension_3d: global envelope of both sides — ONE tiny agg
    * over the union of both sides' six envelope columns (a second scan per
    * side costs a whole driver job on the query's critical path). */
  private def space(l: DataFrame, lc: Mbb3Cols, r: DataFrame, rc: Mbb3Cols): Array[Double] = {
    def six(df: DataFrame, c: Mbb3Cols) = df.select(
      col(c.xmin).as("_a"), col(c.ymin).as("_b"), col(c.zmin).as("_c"),
      col(c.xmax).as("_d"), col(c.ymax).as("_e"), col(c.zmax).as("_f"))
    val a = six(l, lc).unionByName(six(r, rc)).agg(
      min(col("_a")), min(col("_b")), min(col("_c")),
      max(col("_d")), max(col("_e")), max(col("_f"))).head()
    def mn(i: Int) = if (a.isNullAt(i)) Double.MaxValue else a.getDouble(i)
    def mx(i: Int) = if (a.isNullAt(i)) Double.MinValue else a.getDouble(i)
    Array(mn(0), mn(1), mn(2), mx(3), mx(4), mx(5))
  }

  /** fg3d cell id stream for an MBB given as six Column expressions:
    * per-axis inclusive cell ranges, cross-producted via nested
    * sequence/explode-free arithmetic — we explode ONE flattened sequence
    * of composite ids. Cells are closed on the low edge; max-edge objects
    * clamp into the last cell. */
  private def cellIdsExpr(lox: Column, loy: Column, loz: Column,
                          hix: Column, hiy: Column, hiz: Column,
                          sp: Array[Double], n: Int): Column = {
    def axis(lo: Column, hi: Column, smin: Double, smax: Double): (Column, Column) = {
      // span guard: a degenerate (single-point) axis must not divide by
      // zero — ANSI mode would throw casting the resulting Infinity
      val w = lit(math.max(smax - smin, java.lang.Double.MIN_NORMAL) / n)
      val i0 = greatest(lit(0), least(lit(n - 1),
        floor((lo - lit(smin)) / w).cast("int")))
      val i1 = greatest(lit(0), least(lit(n - 1),
        floor((hi - lit(smin)) / w).cast("int")))
      (i0, i1)
    }
    val (x0, x1) = axis(lox, hix, sp(0), sp(3))
    val (y0, y1) = axis(loy, hiy, sp(1), sp(4))
    val (z0, z1) = axis(loz, hiz, sp(2), sp(5))
    // flatten the 3-D cell range into composite ids: ((x*n)+y)*n+z
    flatten(transform(sequence(x0, x1), ix =>
      flatten(transform(sequence(y0, y1), iy =>
        transform(sequence(z0, z1), iz =>
          (ix * n + iy) * n + iz)))))
  }

  private def cellIds(c: Mbb3Cols, sp: Array[Double], n: Int): Column =
    cellIdsExpr(col(c.xmin), col(c.ymin), col(c.zmin),
      col(c.xmax), col(c.ymax), col(c.zmax), sp, n)

  /** The cell owning a point (for reference-point dedup). */
  private def cellOf(x: Column, y: Column, z: Column,
                     sp: Array[Double], n: Int): Column = {
    def ax(v: Column, smin: Double, smax: Double): Column = {
      val w = lit(math.max(smax - smin, java.lang.Double.MIN_NORMAL) / n)
      greatest(lit(0), least(lit(n - 1), floor((v - lit(smin)) / w).cast("int")))
    }
    (ax(x, sp(0), sp(3)) * n + ax(y, sp(1), sp(4))) * n + ax(z, sp(2), sp(5))
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
    * columns for every intersecting pair, each pair exactly once.
    *
    * @param cellsPerAxis fg3d grid resolution per axis (total tiles =
    *        cellsPerAxis³); size so expected rows/tile fits a task.
    */
  def joinMbb(left: DataFrame, lc: Mbb3Cols,
              right: DataFrame, rc: Mbb3Cols,
              cellsPerAxis: Int = 16): DataFrame = {
    require(cellsPerAxis >= 1 && cellsPerAxis <= 1290,
      "cellsPerAxis^3 must fit an Int tile id")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column name collision between join sides: $dup")
    val n = cellsPerAxis
    // malformed tolerance (2-D P4 parity): min>max, null, or non-finite
    // rows are dropped here rather than blowing up sequence() mid-tiling —
    // and BEFORE the space aggregate, where one NaN/Inf bound would
    // otherwise ride min/max into every cell boundary
    def wellFormed(c: Mbb3Cols) =
      Seq(c.xmin, c.ymin, c.zmin, c.xmax, c.ymax, c.zmax).map { f =>
        !isnan(col(f)) && col(f) > lit(Double.NegativeInfinity) &&
          col(f) < lit(Double.PositiveInfinity)
      }.reduce(_ && _) &&
        col(c.xmin) <= col(c.xmax) && col(c.ymin) <= col(c.ymax) &&
        col(c.zmin) <= col(c.zmax)
    val lf = left.where(wellFormed(lc))
    val rf = right.where(wellFormed(rc))
    val sp = space(lf, lc, rf, rc)
    val lt = lf.withColumn("__cell3", explode(cellIds(lc, sp, n)))
    val rt = rf.withColumn("__cell3", explode(cellIds(rc, sp, n)))
    // refine: closed-interval overlap on all three axes; dedup: the pair is
    // emitted only where the intersection's min corner lives — exactly one
    // cell, columns only (the 2-D engine's TileIndex.refTile, relationally)
    lt.join(rt.hint("shuffle_hash"), Seq("__cell3"))
      .where(col(lc.xmin) <= col(rc.xmax) && col(rc.xmin) <= col(lc.xmax) &&
             col(lc.ymin) <= col(rc.ymax) && col(rc.ymin) <= col(lc.ymax) &&
             col(lc.zmin) <= col(rc.zmax) && col(rc.zmin) <= col(lc.zmax))
      .where(col("__cell3") === cellOf(
        greatest(col(lc.xmin), col(rc.xmin)),
        greatest(col(lc.ymin), col(rc.ymin)),
        greatest(col(lc.zmin), col(rc.zmin)), sp, n))
      .drop("__cell3")
  }

  /** Per-cell kNN search plans for ARBITRARY cell boxes (octree leaves):
    * [[KnnPlanner.prefixPlans]] directly. Falls back to `diag` everywhere
    * (no probes) if occupied-cells × cells exceeds the quadratic budget —
    * octree leaf counts are build-bounded (~8·samples/leafCap), so in
    * practice the exact plan always runs. */
  private[operators] def boxPlans(cellBoxes: Array[Array[Double]],
                                  counts: Map[Int, Long], k: Int, diag: Double,
                                  probeCap: Int = 64): (Array[Double], Array[Array[Int]]) =
    KnnPlanner.prefixPlans(cellBoxes, 3, counts, k, diag, probeCap)

  private def wellFormed3(c: Mbb3Cols): Column =
    col(c.xmin) <= col(c.xmax) && col(c.ymin) <= col(c.ymax) &&
      col(c.zmin) <= col(c.zmax)

  /** Broadcast nested-loop exact kNN for tiny right sides: every left
    * ranks the whole (broadcast) right relation; the rank filter compiles
    * to WindowGroupLimit so the only exchange carries lefts × k rows.
    * Emits the same schema, distances, ranks and tie order as [[knnCore]]
    * (MBB gap distance, `rightId` tie-break), including the fewer-than-k
    * behavior when the right side is smaller than k. */
  private def bruteKnn(left: DataFrame, lc: Mbb3Cols, leftId: String,
                       right: DataFrame, rc: Mbb3Cols, rightId: String,
                       k: Int): DataFrame = {
    def gap(lo1: String, hi1: String, lo2: String, hi2: String): Column =
      greatest(col(lo1) - col(hi2), col(lo2) - col(hi1), lit(0.0))
    val dx = gap(lc.xmin, lc.xmax, rc.xmin, rc.xmax)
    val dy = gap(lc.ymin, lc.ymax, rc.ymin, rc.ymax)
    val dz = gap(lc.zmin, lc.zmax, rc.zmin, rc.zmax)
    val dist = sqrt(dx * dx + dy * dy + dz * dz)
    val wRank = Window.partitionBy(col(leftId))
      .orderBy(col("__d").asc, col(rightId).asc)
    val outCols = (left.columns ++ right.columns).map(col).toIndexedSeq
    left.where(wellFormed3(lc))
      .crossJoin(broadcast(right.where(wellFormed3(rc))))
      .withColumn("__d", dist)
      .withColumn("__rk", row_number().over(wRank))
      .where(col("__rk") <= k)
      .select(outCols :+ col("__d").as("knn_dist") :+ col("__rk").as("knn_rank"): _*)
  }

  /** The probe-then-bound kNN engine behind [[knnJoinMbb]] (uniform grid)
    * and [[knnJoinMbbOc]] (octree), parameterized over the tiling:
    * `ownerOf` maps a point to its owning cell, `cellsOf` maps a box to
    * every cell it replicates to, `ballCellsOf` maps a box plus a radius
    * to every cell within EUCLIDEAN distance rad of the box (a subset of
    * `cellsOf` over the rad-expanded box; MAY over-include cells at gap ∈
    * (rad, rad+ε] — extra replicas only cost, never change, the result),
    * `plans` turns exact right-center-per-cell counts into per-cell
    * (fallback radius, probe set) tables.
    * Correctness needs only: cells partition ownership deterministically,
    * `ownerOf(p)` ∈ `cellsOf(box)` for every p ∈ box, `ballCellsOf`
    * includes every cell within rad of the box, and probe sets hold
    * ≥ k right centers per the same counts. */
  private def knnCore(left: DataFrame, lc: Mbb3Cols, leftId: String,
                      right: DataFrame, rc: Mbb3Cols, rightId: String, k: Int,
                      ownerOf: (Column, Column, Column) => Column,
                      cellsOf: (Column, Column, Column, Column, Column, Column) => Column,
                      ballCellsOf: (Column, Column, Column, Column, Column, Column, Column) => Column,
                      plans: Map[Int, Long] => (Array[Double], Array[Array[Int]]),
                      diag: Double,
                      delegate: Map[Int, Long] => Option[DataFrame] = _ => None,
                      broadcastRightMax: Long = BroadcastRightMax,
                      cellBoxes: Option[(Array[Array[Double]], Array[Double])] = None,
                      probeCollectMax: Long = 1000000L,
                      dupCollapseMin: Long = BroadcastRightMax): DataFrame = {
    val spark = left.sparkSession

    // MBB gap distance (0 when intersecting) — column arithmetic
    def gap(lo1: String, hi1: String, lo2: String, hi2: String): Column =
      greatest(col(lo1) - col(hi2), col(lo2) - col(hi1), lit(0.0))
    val dx = gap(lc.xmin, lc.xmax, rc.xmin, rc.xmax)
    val dy = gap(lc.ymin, lc.ymax, rc.ymin, rc.ymax)
    val dz = gap(lc.zmin, lc.zmax, rc.zmin, rc.zmax)
    val dist = sqrt(dx * dx + dy * dy + dz * dz)

    val lBase = left.where(wellFormed3(lc))
    val rBase = right.where(wellFormed3(rc))
    val rt = rBase.withColumn("__cell3", explode(cellsOf(
      col(rc.xmin), col(rc.ymin), col(rc.zmin),
      col(rc.xmax), col(rc.ymax), col(rc.zmax))))
    // single-replica center-cell relation: the probe MUST join this, not
    // rt — envelope replicas would rank the same right once per touched
    // probe cell and shrink the radius below the true k-th distance
    val rtc = rBase.withColumn("__cell3", ownerOf(
      (col(rc.xmin) + col(rc.xmax)) / 2,
      (col(rc.ymin) + col(rc.ymax)) / 2,
      (col(rc.zmin) + col(rc.zmax)) / 2))

    val cellCounts = rtc.groupBy(col("__cell3"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    delegate(cellCounts).foreach(df => return df)
    val (ringRad, probeSets) = plans(cellCounts)
    // the exact counts just collected also decide the join strategy: a
    // right side this small broadcasts (no shuffle barrier on either
    // probe or bound join — at gate SFs that is 2 of the plan's 5
    // exchanges); past the threshold the cell-partitioned shuffle-hash
    // path carries the 100 TB case. Same size-based split as the 2-D
    // small-side kNN (SpatialJoin.knnJoinExact's broadcast path).
    val rightRows = cellCounts.valuesIterator.sum
    def rside(df: DataFrame): DataFrame =
      if (rightRows <= broadcastRightMax) broadcast(df) else df.hint("shuffle_hash")
    // ---------------- multiplicity collapse (stacked-duplicate guard).
    // Byte-identical right GEOMETRIES (identical envelopes — the MBB gap
    // distance cannot tell them apart) make the exact-rank pair relation
    // grow ∝ (copies per position)²: at the sf10 stacked lattice (~250
    // identical cubes per position) the bound join disk-filled. The fix:
    // mine the bound join over DISTINCT envelopes carrying a multiplicity
    // column, cut to the groups that can still reach rank ≤ k (weighted
    // rank arithmetic below), then re-expand ONLY those groups to right
    // rows and apply the exact (__d asc, rightId asc) window — output is
    // bit-identical to the uncollapsed plan, the pair relation shrinks by
    // the duplication factor, and a 250×-stacked right side often drops
    // back under broadcast scale. The decision costs one agg+count over
    // right envelopes, paid only past `dupCollapseMin` rows (default:
    // broadcast scale, where the bound join shuffles anyway and one more
    // bounded agg is marginal); collapse engages at duplication ≥ 2×.
    // .distinct: a point-typed side may name min == max (one column)
    val env6 = Seq(rc.xmin, rc.ymin, rc.zmin, rc.xmax, rc.ymax, rc.zmax).distinct
    val rDistinct = rBase.groupBy(env6.map(col): _*)
      .agg(count(lit(1)).as("__mult"))
    val distinctRights =
      if (rightRows > dupCollapseMin) rDistinct.count() else rightRows
    val collapse = distinctRights > 0 && rightRows >= 2L * distinctRights
    val rtB = if (!collapse) rt else rDistinct.withColumn("__cell3",
      explode(cellsOf(col(rc.xmin), col(rc.ymin), col(rc.zmin),
        col(rc.xmax), col(rc.ymax), col(rc.zmax))))
    val boundRows = if (collapse) distinctRights else rightRows
    def rsideB(df: DataFrame): DataFrame =
      if (boundRows <= broadcastRightMax) broadcast(df) else df.hint("shuffle_hash")
    import spark.implicits._
    // one broadcast plan row per cell: its fallback radius and whether a
    // probe set exists (false only when rights < k or the set out-grew
    // its cap) — the split between the probe path and the fallback path
    // is a broadcast join, not a shuffle
    val planDf = ringRad.zipWithIndex
      .map { case (r, i) => (i, r, probeSets(i).nonEmpty) }.toSeq
      .toDF("__own", "__ringrad", "__hasprobe")
    val probeDf = probeSets.zipWithIndex
      .flatMap { case (cs, i) => cs.map(pc => (i, pc)) }.toSeq
      .toDF("__own", "__pcell")
    // Probe candidates are CAPPED at max(k, 64) rights per probe cell:
    // Σ min(cap, cᵢ) ≥ min(cap, Σ cᵢ) ≥ k
    // over any planned set (cap ≥ k; the plan guarantees Σ cᵢ ≥ k), so the
    // k-th probe distance stays a valid per-row upper bound. Rank order is
    // CONTENT-HASHED (envelope + id), not by rightId: any ≥ k subset is
    // valid, but the subset's spatial spread decides how tight the probe
    // radius is — under the area lane's block-translated keys the 64
    // smallest ids of a big cell clustered in one corner, inflating radii
    // ~3.6× and ball-explode volume ~47× (the 2-D twin hashes for the
    // same reason; the id tie-break keeps the order total). This bounds
    // the probe relation by cells × cap — tiling-, not data-sized — so
    // past BroadcastRightMax it still broadcasts and the probe join never
    // repartitions the lefts by cell; without it, every left in a sparse
    // region probes the same few cluster cells and the shuffle-hash probe
    // join collapses into one hot-cell straggler task (measured in the 2-D
    // form, SCALE.md knn2d rehearsal — same fix as SpatialJoin's
    // probeTileCap). The bound join below keeps the full rtc/rt relations.
    val probeCells = probeSets.iterator.flatten.toSet
    val probeCellCap = math.max(k, 64)
    val cappedProbe = rtc
      .where(col("__cell3").isInCollection(probeCells))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("__cell3")).orderBy(
          xxhash64(col(rc.xmin), col(rc.ymin), col(rc.zmin),
            col(rc.xmax), col(rc.ymax), col(rc.zmax), col(rightId)).asc,
          col(rightId).asc)))
      .where(col("__pr") <= probeCellCap).drop("__pr")

    val wRank = Window.partitionBy(col(leftId))
      .orderBy(col("__d").asc, col(rightId).asc)
    val leftCols = left.columns.map(col).toIndexedSeq
    val ownCol = ownerOf(
      (col(lc.xmin) + col(lc.xmax)) / 2,
      (col(lc.ymin) + col(lc.ymax)) / 2,
      (col(lc.zmin) + col(lc.zmax)) / 2)

    // ---------------- probe: per-row radius from the planned cells.
    // The capped probe relation is TILING-sized (≤ cells × cap rows), so
    // up to 1M candidates it is collected once and the whole probe phase
    // becomes a single map over the lefts: a k-bounded heap over the
    // broadcast candidates of the row's planned cells. Zero probe-side
    // exchanges — the plan join, probe join, radius aggregation and
    // probed∪fallback union all collapse into one UDF column (this was
    // the oc gate's extra barrier; the k-th smallest of ANY ≥ k candidate
    // subset upper-bounds the true k-th-NN gap, so no sort or tie-break
    // is needed for a valid radius). Past 1M candidates, the relational
    // form with the same algebra carries the giant-tiling case.
    val l2 = if (probeCells.size.toLong * probeCellCap <= probeCollectMax) {
      val packed = cappedProbe.select(col("__cell3"),
          col(rc.xmin), col(rc.ymin), col(rc.zmin),
          col(rc.xmax), col(rc.ymax), col(rc.zmax))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rs) =>
          val a = new Array[Double](rs.length * 6)
          var i = 0
          rs.foreach { r =>
            var j = 0
            while (j < 6) { a(i + j) = r.getDouble(1 + j); j += 1 }
            i += 6
          }
          c -> a
        }
      val ringBc = spark.sparkContext.broadcast(ringRad)
      val setsBc = spark.sparkContext.broadcast(probeSets)
      val candBc = spark.sparkContext.broadcast(packed)
      val dg = diag; val kk = k
      val radUdf = udf { (own: Int, x0: Double, y0: Double, z0: Double,
                          x1: Double, y1: Double, z1: Double) =>
        val inRange = own >= 0 && own < ringBc.value.length
        val ring = if (inRange) ringBc.value(own) else dg
        val cells = if (inRange) setsBc.value(own) else Array.empty[Int]
        if (cells.isEmpty) ring
        else {
          val heap = new graft.functions.KthHeap(kk)
          var ci = 0
          while (ci < cells.length) {
            candBc.value.get(cells(ci)) match {
              case Some(a) =>
                var i = 0
                while (i < a.length) {
                  // same gap arithmetic as `dist` (0 when intersecting)
                  val dx = math.max(math.max(a(i) - x1, x0 - a(i + 3)), 0.0)
                  val dy = math.max(math.max(a(i + 1) - y1, y0 - a(i + 4)), 0.0)
                  val dz = math.max(math.max(a(i + 2) - z1, z0 - a(i + 5)), 0.0)
                  heap.insert(math.sqrt(dx * dx + dy * dy + dz * dz))
                  i += 6
                }
              case None => ()
            }
            ci += 1
          }
          if (heap.n < kk) ring else math.min(heap.arr(0), ring)
        }
      }
      lBase.select(leftCols :+ radUdf(ownCol,
        col(lc.xmin), col(lc.ymin), col(lc.zmin),
        col(lc.xmax), col(lc.ymax), col(lc.zmax)).as("__rad"): _*)
    } else {
      val lOwn = lBase.withColumn("__own", ownCol)
        .join(broadcast(planDf), Seq("__own"), "left")
      val ringCol = coalesce(col("__ringrad"), lit(diag))
      // radius via the k-bounded-heap aggregate rather than a window
      // rank: partial-aggregates map-side (≤ k doubles per left cross
      // the wire), no per-left sort anywhere
      val probed = lOwn.where(col("__hasprobe") === true)
        .join(broadcast(probeDf), Seq("__own"))
        .withColumn("__cell3", col("__pcell"))
        .join(rside(cappedProbe), Seq("__cell3"))
        .withColumn("__d", dist)
        .groupBy(leftCols :+ col("__ringrad"): _*)
        .agg(graft.functions.kth_smallest(col("__d"), k).as("__kd"))
        .select(leftCols :+ least(col("__kd"), ringCol).as("__rad"): _*)
      val fallback = lOwn.where(col("__hasprobe").isNull || !col("__hasprobe"))
        .select(leftCols :+ ringCol.as("__rad"): _*)
      probed.unionByName(fallback)
    }

    // ---------------- bound: radius join, refpoint dedup, exact rank
    // ball-pruned replication in ONE enumeration: the tiling enumerates
    // only cells within EUCLIDEAN distance rad of the row's ORIGINAL
    // envelope — not every cell of the rad-expanded Chebyshev box (whose
    // corners reach rad·√3 and, for a left far from a clustered right
    // region, cover the whole cluster while the k-ball grazes only its
    // near face; before the fusion each excess cell also paid its own
    // per-replica filter call). Loss-free with the nearest-point refpoint
    // below (2-D derivation at SpatialJoin's ballTiles; here dist IS the
    // envelope gap, so dist(ref, lEnv) = gap(lEnv, rEnv) = __d ≤ __rad
    // exactly). The enumerators pad rad by 1e-9 to absorb float rounding,
    // which only ever ADDS cells.
    // The bound join's pair work all happens in the lefts' map stage (the
    // rt side is a broadcast at gate scale) — a left side narrower than
    // the cluster serializes it (a small parquet reads as ONE split: the
    // whole ~10⁷-pair eval ran on 1 of 32 threads, the oc gate's dominant
    // stage). UNCONDITIONAL round-robin: the earlier `left.rdd
    // .getNumPartitions < par` guard compared the RDD conversion's
    // per-file partitioning, while the executed DataFrame scan bin-packs
    // small files by maxPartitionBytes — at sf10 the guard saw 32
    // "partitions" and skipped, and the whole ball-explode stage ran as
    // 4 tasks (r16 measurement). The rows are one slim tuple per left
    // (id + coords + __rad), so the exchange is negligible against the
    // CPU-bound explode it parallelizes.
    val par = spark.sparkContext.defaultParallelism
    val l2p = l2.repartition(par)
    val lt2 = l2p.withColumn("__cell3", explode(ballCellsOf(
      col(lc.xmin), col(lc.ymin), col(lc.zmin),
      col(lc.xmax), col(lc.ymax), col(lc.zmax), col("__rad"))))
    // past broadcast scale, also drop replicas into right-empty cells
    // before they shuffle (ENVELOPE-occupied cells, one bounded distinct ≤
    // cells; the broadcast branch skips the extra job — empty-cell lookups
    // there are free hash misses, and lefts never repartition)
    val lt2p =
      if (boundRows <= broadcastRightMax) lt2
      else {
        val occ = rtB.select(col("__cell3")).distinct()
          .collect().map(_.getInt(0)).toSet
        val occBc = spark.sparkContext.broadcast(occ)
        val occUdf = udf { (c: Int) => occBc.value.contains(c) }
        lt2.where(occUdf(col("__cell3")))
      }
    val outCols = (left.columns ++ right.columns).map(col).toIndexedSeq
    // refpoint = nearest point of the RIGHT envelope to the row's ORIGINAL
    // left envelope (overlap → its low edge): lies in the right envelope,
    // at gap(lEnv, rEnv) = __d ≤ __rad from the left envelope, so its
    // owner cell carries BOTH replicas under the ball prune — each
    // qualifying pair is emitted exactly once, by that cell
    def refAxis(o0: String, o1: String, r0: String, r1: String): Column =
      when(col(r0) > col(o1), col(r0))
        .when(col(r1) < col(o0), col(r1))
        .otherwise(greatest(col(o0), col(r0)))
    val refX = refAxis(lc.xmin, lc.xmax, rc.xmin, rc.xmax)
    val refY = refAxis(lc.ymin, lc.ymax, rc.ymin, rc.ymax)
    val refZ = refAxis(lc.zmin, lc.zmax, rc.zmin, rc.zmax)
    // The owner-of-refpoint check runs once per CANDIDATE PAIR — with a
    // tree tiling, that made the hot filter a non-codegen per-pair tree
    // walk (the oc gate's dominant stage). When the caller supplies its
    // cell boxes, the check becomes pure column arithmetic instead: leaf
    // ownership under `>= mid` midpoint descent is exactly p ∈ [lo, hi)
    // per axis, except axes where the leaf edge IS the space edge (the
    // descent clamps implicitly, so the constraint vanishes there). The
    // 7-column box relation broadcast-joins AFTER the distance filter —
    // same stage as the shuffle-hash rt join, so the box columns never
    // ride an exchange — keeping the pair-level predicate codegen'd.
    val paired = lt2p.join(rsideB(rtB), Seq("__cell3"))
      .withColumn("__d", dist)
      .where(col("__d") <= col("__rad"))
    val dedupCandidates = cellBoxes match {
      case Some((bxs, sp)) =>
        val boxDf = bxs.zipWithIndex.map { case (b, i) =>
          (i, b(0), b(1), b(2), b(3), b(4), b(5)) }.toSeq
          .toDF("__cell3", "__bx0", "__by0", "__bz0", "__bx1", "__by1", "__bz1")
        def ownsAxis(p: Column, lo: Column, hi: Column, slo: Double, shi: Double) =
          (p >= lo || lo <= lit(slo)) && (p < hi || hi >= lit(shi))
        paired.join(broadcast(boxDf), Seq("__cell3"))
          .where(ownsAxis(refX, col("__bx0"), col("__bx1"), sp(0), sp(3)) &&
                 ownsAxis(refY, col("__by0"), col("__by1"), sp(1), sp(4)) &&
                 ownsAxis(refZ, col("__bz0"), col("__bz1"), sp(2), sp(5)))
          .drop("__bx0", "__by0", "__bz0", "__bx1", "__by1", "__bz1")
      case None =>
        paired.where(col("__cell3") === ownerOf(refX, refY, refZ))
    }
    // collapsed mode: weighted rank cut, then re-expand. A distinct-
    // envelope group can put a member into the top-k iff the total
    // multiplicity of STRICTLY closer groups is < k; groups tied at __d
    // interleave by rightId, so every tied group at the boundary stays.
    // The surviving (left, envelope) pairs — Σ multiplicity ≥ k but
    // bounded by k + the boundary tie set per left — re-expand to right
    // rows on envelope equality, and the ORIGINAL window (__d asc,
    // rightId asc) ranks the re-expanded rows: bit-identical output,
    // with the pair-scale work all done on distinct envelopes.
    //
    // The re-expansion joins the PER-ENVELOPE TOP-k (by rightId), not the
    // full right relation: a group member's global rank is at least its
    // position among its own group's ids (same __d — smaller ids of the
    // same envelope always sort first), so only an envelope's k smallest
    // ids can ever reach rank ≤ k, for ANY left. That caps the rank
    // window's input at groups×k per left instead of groups×multiplicity
    // — at the sf10 stacked lattice (~250 copies per position) the full
    // re-expansion was a couple-hundred-GB window shuffle that
    // disk-filled the first post-collapse bench; the top-k relation is
    // ≤ distinctRights·k rows and usually re-crosses the broadcast bar
    // the full right side lost.
    val rankInput =
      if (!collapse) dedupCandidates
      else {
        val wCum = Window.partitionBy(col(leftId)).orderBy(col("__d").asc)
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val wTie = Window.partitionBy(col(leftId), col("__d"))
        val wEnv = Window.partitionBy(env6.map(col): _*)
          .orderBy(col(rightId).asc)
        // compiles to WindowGroupLimit: map-side partial top-k per
        // envelope, so the full right side never shuffles whole
        val rTopK = rBase.withColumn("__er", row_number().over(wEnv))
          .where(col("__er") <= k).drop("__er")
        def rsideE(df: DataFrame): DataFrame =
          if (distinctRights * k <= broadcastRightMax) broadcast(df)
          else df.hint("shuffle_hash")
        dedupCandidates
          .withColumn("__before",
            sum(col("__mult")).over(wCum) - sum(col("__mult")).over(wTie))
          .where(col("__before") < k)
          .select(leftCols ++ env6.map(col) :+ col("__d"): _*)
          .join(rsideE(rTopK), env6)
      }
    rankInput
      .withColumn("__rk", row_number().over(wRank))
      .where(col("__rk") <= k)
      .select(outCols :+ col("__d").as("knn_dist") :+ col("__rk").as("knn_rank"): _*)
  }

  /** Exact 3-D kNN join over MBBs (the 3-D analog of the reference's
    * st_nearest; the shipped 3-D surface is MBB-level R-tree traversal,
    * extensions/rtree3d/rtree_traversal3d.h:54-214). Like [[joinMbb]],
    * fully relational: MBB gap distance, cell ownership and refpoint dedup
    * are all column arithmetic (whole-stage codegen; no JTS, no broadcast
    * index, no cogroup).
    *
    * Probe-then-bound architecture, the 3-D analog of the reference's kNN
    * search-radius protocol (knn_2d.hpp:86-93 estimates `sqrt(area·k/n)`
    * and grows it ×√2 under a hard cap rather than ever searching the full
    * space), made deterministic in exactly two distributed joins:
    *
    *   1. PROBE — the driver counts right rows by the cell owning their
    *      envelope center (one bounded agg, ≤ n³ rows) and plans, per
    *      cell, the smallest set of cells — in increasing max box-to-box
    *      distance — holding ≥ k right centers ([[cellPlans]]). Every left
    *      row joins the single-replica center-cell relation on exactly its
    *      owner cell's planned cells: ≥ k real candidates are guaranteed
    *      there, so its k-th probe distance is a per-row upper bound on
    *      the true k-th-NN gap (gap(lEnv,rEnv) ≤ |lCenter−rCenter|).
    *   2. BOUND — each left expands its envelope by that radius (bounded
    *      further by the plan's cell-granular radius), replicates to the
    *      covered cells, joins the envelope-replicated right side,
    *      refpoint-dedups on the intersection min-corner cell, and a
    *      window ranks the exact top-k.
    *
    * The space diagonal survives only when the right side holds fewer than
    * k rows in total (or a probe set would exceed its size cap) — so no
    * left row ever replicates beyond the cells its k nearest can actually
    * occupy, where a diagonal fallback would degenerate to a
    * near-cartesian join for every left row in a right-empty region. Total
    * candidate volume ≈ Σ per-row k-th-NN balls, the radius-join optimum.
    *
    * `leftId` must uniquely key left rows; `rightId` orders distance ties
    * deterministically (must be unique — it is the tie-break that makes
    * probe ranks valid bounds). Output = left cols ++ right cols ++
    * `knn_dist` ++ `knn_rank`. */
  def knnJoinMbb(left: DataFrame, lc: Mbb3Cols, leftId: String,
                 right: DataFrame, rc: Mbb3Cols, rightId: String, k: Int,
                 cellsPerAxis: Int = 8,
                 broadcastRightMax: Long = BroadcastRightMax,
                 bruteRightMax: Int = 1024,
                 probeCollectMax: Long = 1000000L,
                 dupCollapseMin: Long = BroadcastRightMax): DataFrame = {
    // 64³ = 262k cells bounds the driver-side count table and the
    // broadcast plan relation (~4 MB) — the same bounded-collect
    // discipline as the partitioners' driver samples
    require(cellsPerAxis >= 1 && cellsPerAxis <= 64,
      "cellsPerAxis must be in [1,64]: the cell-plan table is cells^3")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column name collision between join sides: $dup")
    // Tiny right sides skip the cell machinery entirely: a broadcast
    // nested-loop with a per-left rank IS the optimal plan when every
    // left would probe most of the right anyway — one broadcast, one
    // O(lefts × k) rank exchange, no planning agg, no probe/bound joins
    // (the 2-D knnJoinExact makes the same size-based split via
    // knnBroadcastThreshold). Detection is a limit-probe scan, not a
    // count — O(bruteRightMax) rows from one input split.
    if (bruteRightMax > 0 &&
        right.select(rightId).limit(bruteRightMax + 1).count() <= bruteRightMax)
      return bruteKnn(left, lc, leftId, right, rc, rightId, k)
    val n = cellsPerAxis
    val sp = space(left, lc, right, rc)
    val spans = Array(sp(3) - sp(0), sp(4) - sp(1), sp(5) - sp(2))
    val diag = math.sqrt(spans.map(s => s * s).sum)
    // cell box from the composite id ((ix*n)+iy)*n+iz — same width
    // arithmetic (MIN_NORMAL span guard) as cellOf/cellIdsExpr
    val wx = math.max(spans(0), java.lang.Double.MIN_NORMAL) / n
    val wy = math.max(spans(1), java.lang.Double.MIN_NORMAL) / n
    val wz = math.max(spans(2), java.lang.Double.MIN_NORMAL) / n
    val s0 = sp(0); val s1 = sp(1); val s2 = sp(2)
    // ball-bounded cell enumeration: walk the clamped per-axis cell ranges
    // of the rad-expanded box, emitting only cells whose Euclidean gap to
    // the ORIGINAL box is ≤ rad (+1e-9 rounding slack) — axis-major with
    // early prefix pruning, one UDF call per row instead of
    // explode-all-box-cells + a per-replica ball filter
    val ballCellsUdf = udf { (x0: Double, y0: Double, z0: Double,
                              x1: Double, y1: Double, z1: Double, rad: Double) =>
      val rr = rad + 1e-9; val rr2 = rr * rr
      def lo(v: Double, smin: Double, w: Double) =
        math.max(0, math.min(n - 1, math.floor((v - smin) / w).toInt))
      val ix0 = lo(x0 - rad, s0, wx); val ix1 = lo(x1 + rad, s0, wx)
      val iy0 = lo(y0 - rad, s1, wy); val iy1 = lo(y1 + rad, s1, wy)
      val iz0 = lo(z0 - rad, s2, wz); val iz1 = lo(z1 + rad, s2, wz)
      val out = new scala.collection.mutable.ArrayBuilder.ofInt
      var ix = ix0
      while (ix <= ix1) {
        val dx = math.max(0.0, math.max(s0 + ix * wx - x1, x0 - (s0 + (ix + 1) * wx)))
        val dx2 = dx * dx
        if (dx2 <= rr2) {
          var iy = iy0
          while (iy <= iy1) {
            val dy = math.max(0.0, math.max(s1 + iy * wy - y1, y0 - (s1 + (iy + 1) * wy)))
            val dxy2 = dx2 + dy * dy
            if (dxy2 <= rr2) {
              var iz = iz0
              while (iz <= iz1) {
                val dz = math.max(0.0, math.max(s2 + iz * wz - z1, z0 - (s2 + (iz + 1) * wz)))
                if (dxy2 + dz * dz <= rr2) out += (ix * n + iy) * n + iz
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
    knnCore(left, lc, leftId, right, rc, rightId, k,
      ownerOf = (x, y, z) => cellOf(x, y, z, sp, n),
      cellsOf = (x0, y0, z0, x1, y1, z1) =>
        cellIdsExpr(x0, y0, z0, x1, y1, z1, sp, n),
      ballCellsOf = (x0, y0, z0, x1, y1, z1, rad) =>
        ballCellsUdf(x0, y0, z0, x1, y1, z1, rad),
      plans = counts => cellPlans(counts, sp, n, k, diag),
      diag = diag,
      // grid cells are fixed-size, so when the right side concentrates in
      // few cells the probe phase degenerates to a near-full scan per
      // starved left (measured: a cluster filling 1e-6 of the space puts
      // all rights in one cell). Detect that from the counts already in
      // hand and re-plan on the density-adaptive octree instead — same
      // exact answer, leaf-bounded probes.
      delegate = counts => {
        val total = counts.valuesIterator.sum
        val maxCell = if (counts.isEmpty) 0L else counts.valuesIterator.max
        val concentrated = total > 64L * k && maxCell * 4 > total * 3
        // beyond broadcast scale the octree's density-sized leaves halve
        // the join cost (measured at 100x: 102.7 s grid vs 51.8 s octree,
        // SCALE.md); below it the grid's closed-form arithmetic wins.
        // Intentionally compares the CONSTANT, not the broadcastRightMax
        // override — the override tunes join strategy, not tiling choice
        val large = total > BroadcastRightMax
        if (concentrated || large)
          Some(knnJoinMbbOc(left, lc, leftId, right, rc, rightId, k,
            broadcastRightMax = broadcastRightMax,
            probeCollectMax = probeCollectMax,
            dupCollapseMin = dupCollapseMin))
        else None
      }, broadcastRightMax = broadcastRightMax,
      probeCollectMax = probeCollectMax,
      dupCollapseMin = dupCollapseMin)
  }

  /** [[knnJoinMbb]] over an OCTREE tiling instead of the uniform grid —
    * the reconstructed `oc` 3-D partitioner (reference ships it only as a
    * prebuilt binary, src/README.md:5-15; rebuilt as the quadtree's 8-way
    * analog, QuadtreeNode.hpp:46-133 — see [[Octree3d]]). The tree is
    * planned on a bounded driver sample of RIGHT envelope centers, so leaf
    * sizes track the right-side density: every occupied region splits to
    * ~`leafCap` rights per leaf and empty regions stay coarse, which keeps
    * probe sets near-singleton and search radii tight everywhere — the
    * empty-cell starvation class a uniform grid suffers under skew doesn't
    * exist by construction. Tiling lookups are broadcast tree walks (UDFs)
    * rather than the grid's closed-form arithmetic: the price is one
    * non-codegen expression per side, the return is density adaptivity. */
  def knnJoinMbbOc(left: DataFrame, lc: Mbb3Cols, leftId: String,
                   right: DataFrame, rc: Mbb3Cols, rightId: String, k: Int,
                   leafCap: Int = 512, sampleTarget: Int = 20000,
                   seed: Long = 42L,
                   broadcastRightMax: Long = BroadcastRightMax,
                   probeCollectMax: Long = 1000000L,
                   dupCollapseMin: Long = BroadcastRightMax): DataFrame = {
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column name collision between join sides: $dup")
    val spark = left.sparkSession
    // one planning agg: joint envelope of both sides AND the right-side
    // row count the sample fraction needs — a separate count() would put
    // a whole extra job on the critical path
    def six(df: DataFrame, c: Mbb3Cols, isRight: Int) = df.select(
      col(c.xmin).as("_a"), col(c.ymin).as("_b"), col(c.zmin).as("_c"),
      col(c.xmax).as("_d"), col(c.ymax).as("_e"), col(c.zmax).as("_f"),
      lit(isRight).as("_r"))
    val rBase = right.where(wellFormed3(rc))
    val row = six(left, lc, 0).unionByName(six(rBase, rc, 1)).agg(
      min(col("_a")), min(col("_b")), min(col("_c")),
      max(col("_d")), max(col("_e")), max(col("_f")),
      sum(col("_r")), count(lit(1))).head()
    def mn(i: Int) = if (row.isNullAt(i)) Double.MaxValue else row.getDouble(i)
    def mx(i: Int) = if (row.isNullAt(i)) Double.MinValue else row.getDouble(i)
    val sp = Array(mn(0), mn(1), mn(2), mx(3), mx(4), mx(5))
    val spans = Array(sp(3) - sp(0), sp(4) - sp(1), sp(5) - sp(2))
    val diag = math.sqrt(spans.map(s => s * s).sum)
    val nR = if (row.isNullAt(6)) 0L else row.getLong(6)
    val nL = row.getLong(7) - nR // probe-side rows, from the same agg
    // The caller's leafCap is honored as-is: leaf size tracks data
    // density (~leafCap rows per leaf), never probe count — the per-cell
    // probe cap bounds the probe relation regardless of leaf occupancy.
    val fraction = if (nR == 0) 1.0 else math.min(1.0, sampleTarget.toDouble / nR)
    val pts = rBase.select(
        ((col(rc.xmin) + col(rc.xmax)) / 2).as("x"),
        ((col(rc.ymin) + col(rc.ymax)) / 2).as("y"),
        ((col(rc.zmin) + col(rc.zmax)) / 2).as("z"))
      .sample(withReplacement = false, fraction, seed)
      .limit(sampleTarget * 2)
      .collect()
      .map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // scale the leaf capacity by the sample rate (the bucket-scaling rule
    // of the 2-D planners, queryprocessor_2d.cpp:280)
    val scaledCap = math.max(1, math.floor(leafCap * fraction).toInt)
    val tree = Octree3d.build(pts, Array(sp(0), sp(1), sp(2), sp(3), sp(4), sp(5)),
      scaledCap)
    val bc = spark.sparkContext.broadcast(tree)
    val ownerUdf = udf { (x: Double, y: Double, z: Double) => bc.value.owner(x, y, z) }
    val cellsUdf = udf { (x0: Double, y0: Double, z0: Double,
                          x1: Double, y1: Double, z1: Double) =>
      bc.value.leavesFor(x0, y0, z0, x1, y1, z1)
    }
    val ballCellsUdf = udf { (x0: Double, y0: Double, z0: Double,
                              x1: Double, y1: Double, z1: Double, rad: Double) =>
      bc.value.leavesWithinBall(x0, y0, z0, x1, y1, z1, rad)
    }
    knnCore(left, lc, leftId, right, rc, rightId, k,
      ownerOf = (x, y, z) => ownerUdf(x, y, z),
      cellsOf = (x0, y0, z0, x1, y1, z1) => cellsUdf(x0, y0, z0, x1, y1, z1),
      ballCellsOf = (x0, y0, z0, x1, y1, z1, rad) =>
        ballCellsUdf(x0, y0, z0, x1, y1, z1, rad),
      // tree-indexed planner, NOT the quadratic prefix scan: an octree
      // leaf count past ~quadBudget/occupied made prefixPlans bail to
      // all-diagonal radii — every probe then replicated to the whole
      // space and the sf10 bound join disk-filled (r16 root cause; the
      // planner doc always required the indexed variant at this scale)
      plans = counts => KnnPlanner.treePlans(tree.boxes, tree.childBase,
        tree.leafOrd, tree.leafBoxes, 3, counts, k, diag),
      diag = diag,
      broadcastRightMax = broadcastRightMax,
      cellBoxes = Some((tree.leafBoxes, sp)),
      probeCollectMax = probeCollectMax,
      dupCollapseMin = dupCollapseMin)
  }

  /** mbb_normalizer_3d: affine map of an MBB into the unit cube of `sp`
    * (reference mbb_normalizer_3d, src/README.md:9). */
  def normalized(df: DataFrame, c: Mbb3Cols, out: String => String): DataFrame = {
    val sp = space(df, c, df.limit(0), c)
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
