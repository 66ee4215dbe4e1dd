package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.index.strtree.{AbstractNode, Boundable, ItemBoundable, STRtree}

import graft.core.GeometryCodec
import graft.functions.KthHeap
import graft.operators.{SpatialJoin, TileIndex}
import graft.operators.SpatialJoin.{keyed, KnnTile}

/** The logical kNN join [[graft.operators.SpatialJoin.knnJoin]],
  * `knnJoinExact` and `knnJoinBounded` build over their two inputs: for
  * each left row, its `k` nearest right rows by the geometry columns
  * `leftGeom` and `rightGeom`; `knn` holds the produced `knn_dist` (and,
  * unless `tileLocal`, `knn_rank`) attributes. [[SpatialJoinStrategy]]
  * plans it as [[KnnJoinExec]]. */
case class KnnJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftGeom: Attribute, rightGeom: Attribute,
    k: Int, maxDistance: Double, tieBreak: Seq[Attribute],
    cfg: SpatialJoin.Config, tileLocal: Boolean, knn: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output ++ knn

  override def producedAttributes: AttributeSet = AttributeSet(knn)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical kNN join: for each left (probe) row, its `k` nearest right
  * (index) rows by geometry distance, strictly below `maxDistance` — the
  * operator [[KnnJoinNode]] and the SQL joins
  * `a JOIN b ON st_nearest(a.g, b.g, k[, d])` and
  * `ON st_nearest2(a.g, b.g, k)` plan into, the reference CLI's
  * `-p st_nearest`/`st_nearest2` (knn_2d.hpp:22-233).
  *
  * `doExecute` runs the whole pipeline on its children's rows, in the
  * caller's SQL execution. Rows whose geometry is null, invalid or has no
  * located envelope ([[graft.functions.GeomKernels.located]]) are skipped:
  * such left rows match nothing and such right rows are never neighbours.
  *   - A right side of at most `knnBroadcastThreshold` rows (its first
  *     `threshold + 1` raw rows tell, skipped ones included) is broadcast as
  *     one [[KnnTile]], and one map over the left rows answers every row:
  *     no tiling, no shuffle, no envelope. Both paths are exact, so where
  *     the threshold falls changes no result.
  *   - Otherwise each side is copied once with its envelope
  *     ([[SpatialJoinExec.copied]]; the left after the id lane of
  *     [[SpatialJoinExec.withIds]]) and tiles are planned from the copies
  *     ([[graft.operators.SpatialJoin.planTiles]]). Tile-local mode
  *     (st_nearest2) then ranks each left row within its owner tile
  *     ([[ownerTileKnn]]); the exact mode runs [[tiled]].
  *
  * Distance ties rank by the right rows' `tieBreak` columns under Spark's
  * ascending, nulls-last ordering, on both paths; rows tied on those too
  * rank in no particular order. Tile-local mode ranks ties in arrival
  * order, as the reference does. The residual `extraCond` filters the
  * ranked pairs (SQL conjunction: the pair is among the k nearest AND
  * satisfies it). `output` lays the left and right columns out in any
  * order, then `knn_dist` and `knn_rank` if asked for. */
case class KnnJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftGeom: Attribute, rightGeom: Attribute,
    k: Int, maxDistance: Double,
    tieBreak: Seq[Attribute],
    extraCond: Option[Expression],
    cfg: SpatialJoin.Config,
    tileLocal: Boolean,
    output: Seq[Attribute]) extends BinaryExecNode {
  // tile-local (st_nearest2) is the reference's k-only surface: a distance
  // bound would silently change which tile-local neighbors survive
  require(!tileLocal || maxDistance.isPosInfinity,
    "st_nearest2 (tile-local) takes no distance bound")

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  import SpatialJoinExec.{copied, envelope, located, mbbs, ords, release}

  // the envelope columns the copies append, and the right copy's layout
  private lazy val (leftEnv, rightEnv) = (envelope(nullable = false), envelope(nullable = false))
  private lazy val rIn = right.output ++ rightEnv

  private def lGeom(in: Seq[Attribute]) = ords(in, Seq(leftGeom)).head
  private def rGeom(in: Seq[Attribute]) = ords(in, Seq(rightGeom)).head
  // the produced attributes, made up when `output` leaves them out
  private def produced(name: String, dt: org.apache.spark.sql.types.DataType) =
    output.find(a => a.name == name && !(left.output ++ right.output).contains(a))
      .getOrElse(AttributeReference(name, dt, nullable = false)())
  private lazy val distA = produced("knn_dist", DoubleType)
  private lazy val rankA = produced("knn_rank", IntegerType)
  /** The left and right columns of `output`. */
  private lazy val pairCols = output.filterNot(a => a == distA || a == rankA)

  /** Distance ties: the right rows' `tieBreak` columns in the layout `in`. */
  private def tieOrder(in: Seq[Attribute]): Seq[SortOrder] =
    tieBreak.map(a => SortOrder(in(ords(in, Seq(a)).head), Ascending, NullsLast, Seq.empty))

  /** Per task: the row laid out as `out` (by default `output`) of a left
    * row laid out as `lIn`, a right row laid out as `rIn`, their distance
    * and rank. */
  private def emitter(lIn: Seq[Attribute], rIn: Seq[Attribute],
                      out: Seq[Attribute] = output): (InternalRow, InternalRow, Double, Int) => InternalRow = {
    val proj = UnsafeProjection.create(out, lIn ++ rIn ++ Seq(distA, rankA))
    val last = new GenericInternalRow(2)
    val (lr, lrd) = (new JoinedRow, new JoinedRow)
    (l, r, d, rank) => {
      last.setDouble(0, d); last.setInt(1, rank)
      proj(lrd(lr(l, r), last))
    }
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val t = cfg.knnBroadcastThreshold
    val small = if (tileLocal || t <= 0) None else Some(right.executeTake(t + 1)).filter(_.length <= t)
    val out = small match {
      case Some(rs) => broadcast(rs)
      case None =>
        val rRows = copied(right, rightGeom, rightEnv, withId = false)
        if (tileLocal) tileLocalKnn(rRows) else tiled(rRows)
    }
    extraCond.fold(out) { c =>
      out.mapPartitionsWithIndex { (i, rows) =>
        val p = Predicate.create(c, output); p.initialize(i)
        rows.filter(p.eval)
      }
    }
  }

  /** The exact kNN over a small right side, whose raw rows `rs` ship to
    * every task as one [[KnnTile]]: each left row takes every right row
    * within its k-th distance (ties at the boundary included) and ranks
    * them. */
  private def broadcast(rs: Array[InternalRow]): RDD[InternalRow] = {
    if (rs.isEmpty) return sparkContext.emptyRDD
    val bc = sparkContext.broadcast(rs)
    val (lIn, rIn) = (left.output, right.output)
    val (lg, rg) = (lGeom(lIn), rGeom(rIn))
    val ties = tieOrder(rIn)
    val (kk, maxD) = (k, maxDistance)
    left.execute().mapPartitions { rows =>
      // one KnnTile per partition: O(L log R) instead of the O(L x R) scan
      // that cost 17.6x wall for 10x data at the threshold's 300k x 10k
      // shape (SCALE.md sf1 step)
      val items = bc.value.flatMap(r => located(r, rg).map((_, r)))
      val tile = new KnnTile(items.map(_._1))
      val byDistTie = Ordering.by[(Double, InternalRow), Double](_._1)(Ordering.Double.TotalOrdering)
        .orElse(Ordering.by[(Double, InternalRow), InternalRow](_._2)(new InterpretedOrdering(ties, rIn)))
      val emit = emitter(lIn, rIn)
      if (items.isEmpty) Iterator.empty
      else rows.flatMap { lrow =>
        located(lrow, lg).iterator.flatMap { g1 =>
          val near = tile.nearest(g1, kk)
          val dk = near(math.min(kk, near.length) - 1)._1
          near.iterator.takeWhile(_._1 <= dk).map { case (d, p) => (d, items(p)._2) }
            .toSeq.sorted(byDistTie).iterator.take(kk).zipWithIndex
            .collect { case ((d, r), i) if d < maxD => emit(lrow, r, d, i + 1) }
        }
      }
    }
  }

  /** The tiles for the copies `lRows` (laid out as `lIn`) and `rRows`. */
  private def planTiles(lRows: RDD[InternalRow], lIn: Seq[Attribute], rRows: RDD[InternalRow]) =
    SpatialJoin.planTiles(session,
      mbbs(lRows, ords(lIn, leftEnv)).union(mbbs(rRows, ords(rIn, rightEnv))), cfg)

  /** Owner-tile kNN, shared by tile-local mode and pass 1 of [[tiled]]:
    * every left row of `lRows` (laid out as `lIn`) goes to exactly ONE tile
    * of `index`, the owner of its envelope center, and right rows
    * replicate to every tile their envelope touches. Each tile's right
    * rows become one [[KnnTile]] on the refine slots
    * ([[graft.operators.SpatialJoin.slotCogroup]]), and each left row is
    * answered by its `m` nearest: the per-task `emit` turns the left row
    * (laid out as [[keyed]] `lIn`), its owner tile and those (distance,
    * right row) candidates into rows. Left rows whose tile holds no right
    * row meet an empty candidate list. */
  private def ownerTileKnn(index: TileIndex, lRows: RDD[InternalRow], lIn: Seq[Attribute],
                           rRows: RDD[InternalRow], m: Int)(
      emit: () => (InternalRow, Int, Array[(Double, InternalRow)]) => Iterator[InternalRow]
  ): RDD[InternalRow] = {
    // one key per tile: owner tiles take no hot-tile shards
    val owners = index.withCounts(Map.empty, index.tileWeights)
    val bc = sparkContext.broadcast(owners)
    val Seq(lx1, ly1, lx2, ly2) = ords(lIn, leftEnv)
    val rEnv = ords(rIn, rightEnv)
    val ownerKey = (row: InternalRow) => Iterator.single(bc.value.refTile(
      (row.getDouble(lx1) + row.getDouble(lx2)) / 2,
      (row.getDouble(ly1) + row.getDouble(ly2)) / 2).toLong * TileIndex.MaxShards)
    val tileKeys = (row: InternalRow) => bc.value.buildKeys(row.getDouble(rEnv(0)),
      row.getDouble(rEnv(1)), row.getDouble(rEnv(2)), row.getDouble(rEnv(3))).iterator
    val (lg, rg) = (lGeom(lIn) + 2, rGeom(rIn) + 2)
    SpatialJoin.slotCogroup(session, owners.refineKeys, lRows, lIn, ownerKey, rRows, rIn, tileKeys) { build =>
      val items = build.map(row => (GeometryCodec.fromWkb(row.getBinary(rg)), row.copy())).toArray
      (new KnnTile(items.map(_._1)), items.map(_._2))
    } { () =>
      val out = emit()
      (tileRows, lrow) => {
        val (tile, rows) = tileRows
        val near = tile.nearest(GeometryCodec.fromWkb(lrow.getBinary(lg)), m)
        out(lrow, (lrow.getLong(1) / TileIndex.MaxShards).toInt, near.map { case (d, p) => (d, rows(p)) })
      }
    }
  }

  /** Tile-local kNN (the reference's st_nearest2): each left row's k
    * nearest right rows within its owner tile, equal distances in arrival
    * order. */
  private def tileLocalKnn(rRows: RDD[InternalRow]): RDD[InternalRow] = {
    val lRows = copied(left, leftGeom, leftEnv, withId = false)
    val lIn = left.output ++ leftEnv
    val index = planTiles(lRows, lIn, rRows)
    release(lRows, rRows)
    val kk = k
    ownerTileKnn(index, lRows, lIn, rRows, k) { () =>
      val out = emitter(keyed(lIn), keyed(rIn))
      (lrow, _, near) =>
        near.iterator.take(kk).zipWithIndex.map { case ((d, r), i) => out(lrow, r, d, i + 1) }
    }
  }

  /** EXACT (global) kNN on the tiles — the improvement over the reference's
    * tile-local st_nearest2. Its jobs: the tile planning, one stats job
    * over the right copy ([[KnnStats]]), the map probe's candidate job
    * ([[probe]]), the job that prices pass 2's tiles, and the caller's.
    *
    *   1. Pass 1 is owner-tile kNN asked for k + 1 neighbours, so a tie at
    *      the k boundary shows. A left row is SAFE — its local top-k is
    *      provably the global top-k — when its k-th local distance is
    *      smaller than the distance from its envelope to the owner tile's
    *      boundary (every unseen right row is farther) and no distance tie
    *      makes ranks ambiguous. Safe rows are emitted final from pass 1.
    *   2. Each unsafe row (boundary-adjacent, tied, or in a tile with < k
    *      right rows) gets a search radius: its k-th local distance,
    *      tightened by its owner tile's ring plan
    *      ([[graft.operators.SpatialJoin.tileRingPlans]]) and by the k-th
    *      of its probe candidates ([[probe]]), capped at the space diagonal
    *      and `maxDistance`.
    *   3. Pass 2 pairs each unsafe row with every right row within its
    *      radius, each pair emitted once by the tile owning its reference
    *      point; one reduce by left id ranks each row's candidates. */
  private def tiled(rRows: RDD[InternalRow]): RDD[InternalRow] = {
    val sc = sparkContext
    val lRows = copied(left, leftGeom, leftEnv, withId = true)
    val id = AttributeReference("__lid", LongType, nullable = false)()
    val lIn = (id +: left.output) ++ leftEnv
    val index = planTiles(lRows, lIn, rRows)
    val diag = math.sqrt(index.space.width * index.space.width +
                         index.space.height * index.space.height)
    val bc = sc.broadcast(index)
    val Seq(lx1, ly1, lx2, ly2) = ords(lIn, leftEnv)
    val rEnv = ords(rIn, rightEnv)
    val (kk, maxD) = (k, maxDistance)

    val stats = KnnStats.of(rRows, rEnv, index)
    val (ringSets, ringMhds) = SpatialJoin.tileRingPlans(index.tiles, stats.centres, k)

    // ---------------- pass 1: owner-tile kNN + safety classification,
    // laid out as p1In: unsafe rows carry a null right row, rank -1 and the
    // k-th local distance (-1 when the owner tile holds fewer than k rights)
    val p1In = lIn ++ rIn.map(_.withNullability(true)) ++ Seq(distA, rankA)
    val p1 = ownerTileKnn(index, lRows, lIn, rRows, k + 1) { () =>
      val row = emitter(keyed(lIn), keyed(rIn).map(_.withNullability(true)), p1In)
      val nulls = new GenericInternalRow(rIn.length + 2)
      def out(l: InternalRow, r: InternalRow, d: Double, rank: Int) =
        row(l, if (r == null) nulls else r, d, rank).copy()
      (lrow, owner, near) =>
        if (near.length < kk) Iterator.single(out(lrow, null, -1.0, -1))
        else {
          val tb = bc.value.tileById(owner).mbb
          val dk = near(kk - 1)._1
          // envelope gap to the owner tile's boundary (conservative)
          val edge = math.min(
            math.min(lrow.getDouble(lx1 + 2) - tb.xmin, tb.xmax - lrow.getDouble(lx2 + 2)),
            math.min(lrow.getDouble(ly1 + 2) - tb.ymin, tb.ymax - lrow.getDouble(ly2 + 2)))
          val tieAtBoundary = near.length > kk && near(kk)._1 == dk
          val internalTie = (1 until kk).exists(i => near(i)._1 == near(i - 1)._1)
          if (dk < edge && !tieAtBoundary && !internalTie)
            near.iterator.take(kk).zipWithIndex.map { case ((d, r), i) => out(lrow, r, d, i + 1) }
          else Iterator.single(out(lrow, null, dk, -1))
        }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val (p1Dist, p1Rank) = (p1In.length - 2, p1In.length - 1)
    val safe = p1.mapPartitions[InternalRow] { rows =>
      val proj = UnsafeProjection.create(output, p1In)
      rows.filter(r => r.getInt(p1Rank) > 0 && r.getDouble(p1Dist) < maxD).map(proj)
    }

    // each unsafe row's search radius: its k-th local distance, or the
    // space diagonal when the owner tile was starved — clamped to
    // maxDistance for bounded kNN (a starved tile would otherwise replicate
    // its probes to EVERY tile; with a bound, neighbors beyond d are
    // dropped anyway) — then tightened by the row's ring bound and its k-th
    // probe distance (pd, NaN when fewer than k candidates): per ROW, from
    // its own envelope center c1 to its owner tile's ring set,
    //   g1.distance(g2) ≤ hd1 + |c1 − c2| + hd2 ≤ hd1 + maxDist(c1, U.box) + mhd
    // for every right centered in ring tile U — ≥ k such rights exist, so
    // the max over the set bounds the row's k-th NN. Measuring from c1 (not
    // the owner tile's far corner) keeps the radius tight when the owner
    // tile is large and right-empty, the shape where a per-tile radius
    // degenerated pass 2 to a near-cartesian re-pair (SCALE.md knn2d).
    val cap = math.min(diag, maxDistance)
    val planBc = sc.broadcast((ringSets, ringMhds))
    val (pdA, radA) = (AttributeReference("__pd", DoubleType, nullable = false)(),
      AttributeReference("__rad", DoubleType, nullable = false)())
    val unsafe = p1.filter(_.getInt(p1Rank) == -1)
    val l2 = probe(unsafe, p1In, pdA, index, ringSets, rRows, rEnv).mapPartitions[InternalRow] { rows =>
      val proj = UnsafeProjection.create(lIn :+ radA, p1In :+ pdA :+ radA)
      val rad = new GenericInternalRow(1)
      val joined = new JoinedRow
      rows.map { row =>
        val (x1, y1) = (row.getDouble(lx1), row.getDouble(ly1))
        val (x2, y2) = (row.getDouble(lx2), row.getDouble(ly2))
        val (cx, cy) = ((x1 + x2) / 2, (y1 + y2) / 2)
        val (sets, mhds) = planBc.value
        val ot = bc.value.refTile(cx, cy)
        val dk = row.getDouble(p1Dist)
        var r = if (dk < 0) cap else math.min(dk, cap)
        if (ot >= 0 && ot < sets.length && sets(ot).nonEmpty) {
          var m = 0.0
          sets(ot).foreach { t =>
            val b = bc.value.tiles(t).mbb
            val dx = math.max(math.abs(cx - b.xmin), math.abs(cx - b.xmax))
            val dy = math.max(math.abs(cy - b.ymin), math.abs(cy - b.ymax))
            m = math.max(m, math.sqrt(dx * dx + dy * dy))
          }
          r = math.min(r, m + mhds(ot) + math.sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) / 2)
        }
        val pd = row.getDouble(p1In.length)
        if (!pd.isNaN) r = math.min(r, pd)
        // relative float slack: the probe radius is sqrt(dx²+dy²) but
        // pass-2 distances come from JTS (Math.hypot internally), which can
        // land one ulp HIGHER for the very candidate that defined the
        // radius — without the pad, that row's k-th neighbor fails d ≤ rad
        // by 1 ulp and silently vanishes (caught by the sparse-region
        // spec). Padding only ever ADMITS extra candidates; the exact rank
        // drops them
        rad.setDouble(0, r + 1e-9 * (1.0 + math.abs(r)))
        proj(joined(row, rad)).copy()
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val uIn = lIn :+ radA
    val radO = uIn.length - 1

    // ---------------- pass 2: radius-bounded candidate pairs. Replicas go
    // only to tiles some right ENVELOPE touches (a pair's refpoint lies in
    // the right's envelope) and lie within EUCLIDEAN distance rad of the
    // row's envelope, not just inside the expanded box, whose corners
    // reach rad·√2 and, for a left far from a clustered right region,
    // cover the whole cluster while its k-ball grazes only the near edge.
    // An STRtree over the occupied tiles is walked with that bound, one
    // call per left row (measured in the knn2d 100× rehearsal: pass-2
    // shuffle 23 GB spill → bounded). Loss-free because the emitting
    // refpoint below is the nearest point of the right envelope to the
    // left envelope: dist(ref, lEnv) = minDist(lEnv, rEnv) ≤ d(g1,g2) ≤
    // rad, so its owner tile always survives (1e-9 slack absorbs rounding).
    val occTreeBc = sc.broadcast {
      val t = new STRtree()
      stats.occupied.foreach { id =>
        val m = index.tileById(id).mbb
        t.insert(new Envelope(m.xmin, m.xmax, m.ymin, m.ymax), Integer.valueOf(id))
      }
      t.build()
      t
    }
    val occEmpty = stats.occupied.isEmpty
    def ballTiles(row: InternalRow): Array[Int] = {
      val out = new scala.collection.mutable.ArrayBuilder.ofInt
      if (!occEmpty) ballWalk(occTreeBc.value.getRoot, row.getDouble(lx1), row.getDouble(ly1),
          row.getDouble(lx2), row.getDouble(ly2), row.getDouble(radO)) {
        it => out += it.getItem.asInstanceOf[Integer].intValue
      }
      out.result()
    }
    // pass-2 hot-key sharding: under clustered rights, ~every starved left
    // replicates to the same few cluster-edge tiles (the knn2d 100×
    // rehearsal: 872 s of pass-2 CPU, one task holding 570 s of it).
    // Composite (tile, shard) keys spread it: each left picks one shard by
    // content hash, rights replicate to every shard of each tile. Shard
    // counts come from one job over the radius-resolved lefts, pricing
    // each tile at ceil(load / target), where the target is one refine
    // slot's share of the load: uniform data keeps 1 shard everywhere.
    // The loads also weigh the refine slots.
    val loads = l2.mapPartitions { rows =>
      val c = scala.collection.mutable.HashMap.empty[Int, Long]
      rows.foreach(r => ballTiles(r).foreach(t => c(t) = c.getOrElse(t, 0L) + 1))
      Iterator.single(c.toMap)
    }.fold(Map.empty[Int, Long])((a, b) => b.foldLeft(a) { case (m, (t, n)) => m.updated(t, m.getOrElse(t, 0L) + n) })
    release(lRows, rRows, p1, l2)
    val target = math.max(20000L, loads.valuesIterator.sum /
      (SpatialJoin.TasksPerCore.toLong * sc.defaultParallelism))
    val sharded = index.withCounts(loads.collect { case (t, c) if c > target =>
      t -> math.min(TileIndex.MaxShards.toLong, (c + target - 1) / target).toInt
    }, loads)
    val shardBc = sc.broadcast(sharded)
    val l2Keys = (row: InternalRow) => {
      val h = row.hashCode.toLong
      ballTiles(row).iterator.map(shardBc.value.probeKey(_, h))
    }
    val r2Keys = (row: InternalRow) => shardBc.value.buildKeys(row.getDouble(rEnv(0)),
      row.getDouble(rEnv(1)), row.getDouble(rEnv(2)), row.getDouble(rEnv(3))).iterator
    // candidate pairs, laid out as cIn: the left id, the output's columns
    // and the distance
    val cIn = (id +: pairCols) :+ distA
    val (lK, rK) = (keyed(uIn), keyed(rIn))
    val (lg, rEnvK) = (lGeom(uIn) + 2, rEnv.map(_ + 2))
    val cands = SpatialJoin.slotCogroup(session, sharded.refineKeys, l2, uIn, l2Keys, rRows, rIn, r2Keys)(
        SpatialJoin.rowTree(rGeom(rIn) + 2, rEnvK)) { () =>
      val proj = UnsafeProjection.create(cIn, lK ++ rK :+ distA)
      val dist = new GenericInternalRow(1)
      val (lr, lrd) = (new JoinedRow, new JoinedRow)
      (tree, lrow) => {
        val g1 = if (tree.isEmpty) null else GeometryCodec.fromWkb(lrow.getBinary(lg))
        if (g1 == null) Iterator.empty
        else {
          val tile = (lrow.getLong(1) / TileIndex.MaxShards).toInt
          val rad = lrow.getDouble(radO + 2)
          val (ox1, oy1) = (lrow.getDouble(lx1 + 2), lrow.getDouble(ly1 + 2))
          val (ox2, oy2) = (lrow.getDouble(lx2 + 2), lrow.getDouble(ly2 + 2))
          val out = Vector.newBuilder[InternalRow]
          // the same ball bound over the tile's tree: whole subtrees prune,
          // and each rejected item saves a ~100× costlier DistanceOp
          ballWalk(tree.getRoot, ox1, oy1, ox2, oy2, rad) { item =>
            val (g2, rrow) = item.getItem.asInstanceOf[(Geometry, InternalRow)]
            val d = g1.distance(g2)
            if (d <= rad) {
              // refpoint = nearest point of the RIGHT envelope to the row's
              // envelope (overlap → its low edge, a deterministic pair
              // function): it lies in the right envelope at dist
              // minDist(lEnv, rEnv) ≤ d ≤ rad from the left envelope, so
              // its owner tile carries BOTH replicas — each qualifying pair
              // is emitted exactly once, by that tile
              val (rx0, ry0) = (rrow.getDouble(rEnvK(0)), rrow.getDouble(rEnvK(1)))
              val (rx1, ry1) = (rrow.getDouble(rEnvK(2)), rrow.getDouble(rEnvK(3)))
              val refx = if (rx0 > ox2) rx0 else if (rx1 < ox1) rx1 else math.max(ox1, rx0)
              val refy = if (ry0 > oy2) ry0 else if (ry1 < oy1) ry1 else math.max(oy1, ry0)
              if (bc.value.refTile(refx, refy) == tile) {
                dist.setDouble(0, d)
                out += proj(lrd(lr(lrow, rrow), dist)).copy()
              }
            }
          }
          out.result().iterator
        }
      }
    }
    // one reduce by left id ranks each row's candidates by (distance,
    // tie-break), the order the broadcast path ranks by
    val ranked = SpatialJoin.ranked(session, cands, cIn, tieOrder(cIn), k, maxDistance, output, rankA)
    safe.union(ranked)
  }

  /** `rows` (laid out as `in`) with `pd` appended: each row's k-th probe
    * distance, which bounds its k-th NN (NaN when it met fewer than k
    * candidates). Each row meets the capped candidates
    * ([[KnnStats.candidates]]) the right rows `rRows` (envelopes at `rEnv`)
    * give its owner tile's ring set (3-D knnCore's probe, 2-D form), and
    * the k-th smallest envelope MAX distance (far corners) over them
    * upper-bounds its k-th NN: the set holds ≥ k real rights, and the k-th
    * smallest of any ≥ k of them is a valid bound, so no sort or
    * tie-break is needed.
    *
    * Up to `probeCollectMax` candidates over the probe tiles, one job
    * collects them, they ship to every task as one broadcast map and each
    * row takes a k-bounded heap over its ring. Past that (the
    * giant-tiling case) they stay distributed and meet the rows on the
    * refine slots, keyed by owner tile: one task holds a tile's rows and
    * its ring's candidates, so only the rows and the capped candidates
    * cross a shuffle, never a row per (left, candidate) pair. */
  private def probe(rows: RDD[InternalRow], in: Seq[Attribute], pd: Attribute, index: TileIndex,
                    ringSets: Array[Array[Int]], rRows: RDD[InternalRow], rEnv: Seq[Int]): RDD[InternalRow] = {
    val sc = sparkContext
    val kk = k
    val Seq(x1, y1, x2, y2) = ords(in, leftEnv)
    // the k-th max distance from the envelope at offset o of `row` to the
    // packed (xmin, ymin, xmax, ymax) candidates
    def kth(row: InternalRow, o: Int, cands: Iterator[Array[Double]]): Double = {
      val (a1, b1) = (row.getDouble(x1 + o), row.getDouble(y1 + o))
      val (a2, b2) = (row.getDouble(x2 + o), row.getDouble(y2 + o))
      val heap = new KthHeap(kk)
      cands.foreach { a =>
        var i = 0
        while (i < a.length) {
          val dx = math.max(a2 - a(i), a(i + 2) - a1)
          val dy = math.max(b2 - a(i + 1), a(i + 3) - b1)
          heap.insert(math.sqrt(dx * dx + dy * dy))
          i += 4
        }
      }
      if (heap.n < kk) Double.NaN else heap.arr(0)
    }
    val bc = sc.broadcast(index)
    def owner(row: InternalRow) = bc.value.refTile(
      (row.getDouble(x1) + row.getDouble(x2)) / 2, (row.getDouble(y1) + row.getDouble(y2)) / 2)
    def withPd(rowIn: Seq[Attribute]) = {
      val proj = UnsafeProjection.create(in :+ pd, rowIn :+ pd)
      val d = new GenericInternalRow(1)
      val joined = new JoinedRow
      (row: InternalRow, v: Double) => { d.setDouble(0, v); proj(joined(row, d)) }
    }
    val probeTiles = ringSets.iterator.flatten.toSet
    val cap = math.max(k, 64)
    val candidates = KnnStats.candidates(rRows, rEnv, index, probeTiles, cap)
    if (probeTiles.size.toLong * cap <= cfg.probeCollectMax) {
      val plan = sc.broadcast((ringSets, candidates.collect().toMap))
      rows.mapPartitions[InternalRow] { it =>
        val ((sets, cands), out) = (plan.value, withPd(in))
        it.map(row => out(row, kth(row, 0, sets.lift(owner(row)).iterator.flatten.flatMap(cands.get))))
      }
    } else {
      // one row per tile's candidates, keyed by every owner tile whose ring
      // holds that tile
      val ringOf = sc.broadcast(ringSets.zipWithIndex
        .flatMap { case (ts, o) => ts.map(_ -> o.toLong * TileIndex.MaxShards) }.groupMap(_._1)(_._2))
      val candIn = Seq(AttributeReference("__t", IntegerType, nullable = false)(),
        AttributeReference("__cands", ArrayType(DoubleType, containsNull = false), nullable = false)())
      SpatialJoin.slotCogroup(session, index.withCounts(Map.empty, index.tileWeights).refineKeys,
          rows, in, row => Iterator.single(owner(row).toLong * TileIndex.MaxShards),
          candidates.map { case (t, a) => InternalRow(t, new GenericArrayData(a)) }, candIn,
          row => ringOf.value.getOrElse(row.getInt(0), Array.empty[Long]).iterator) {
        build => build.flatMap(_.getArray(3).toDoubleArray()).toArray
      } { () =>
        val out = withPd(keyed(in))
        (cands: Array[Double], row: InternalRow) =>
          Iterator.single[InternalRow](out(row, kth(row, 2, Iterator.single(cands))))
      }
    }
  }

  /** Visits each item under `node` whose envelope lies within EUCLIDEAN
    * distance `rad` (+1e-9) of the envelope (x1, y1, x2, y2), descending
    * only into nodes within it. */
  private def ballWalk(node: Boundable, x1: Double, y1: Double, x2: Double, y2: Double,
                       rad: Double)(visit: ItemBoundable => Unit): Unit = {
    val rr = rad + 1e-9
    def walk(b: Boundable): Unit = {
      val e = b.getBounds.asInstanceOf[Envelope]
      val dx = math.max(0.0, math.max(e.getMinX - x2, x1 - e.getMaxX))
      val dy = math.max(0.0, math.max(e.getMinY - y2, y1 - e.getMaxY))
      if (dx * dx + dy * dy <= rr * rr) b match {
        case n: AbstractNode =>
          val cs = n.getChildBoundables
          var j = 0
          while (j < cs.size()) { walk(cs.get(j).asInstanceOf[Boundable]); j += 1 }
        case it: ItemBoundable => visit(it)
      }
    }
    walk(node)
  }
}

/** What the exact kNN plans from its right rows, in one job: per tile (by
  * envelope center) the right count and largest half-diagonal, and the
  * tiles some right envelope touches. */
private[graft] final case class KnnStats(centres: Map[Int, (Long, Double)], occupied: Set[Int])

private[graft] object KnnStats {
  import Ordering.Double.TotalOrdering
  private type Cand = (Int, Double, Double, Double, Double)

  /** The stats of `rows`, whose envelopes are at ordinals `env`, on
    * `index`'s tiles. */
  def of(rows: RDD[InternalRow], env: Seq[Int], index: TileIndex): KnnStats = {
    val bc = rows.sparkContext.broadcast(index)
    rows.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[Int, (Long, Double)]
      val occ = scala.collection.mutable.HashSet.empty[Int]
      it.foreach { row =>
        val (x1, y1) = (row.getDouble(env(0)), row.getDouble(env(1)))
        val (x2, y2) = (row.getDouble(env(2)), row.getDouble(env(3)))
        val t = bc.value.refTile((x1 + x2) / 2, (y1 + y2) / 2)
        val hd = math.sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) / 2
        val (c, h) = counts.getOrElse(t, (0L, 0.0))
        counts(t) = (c + 1, math.max(h, hd))
        bc.value.tilesFor(x1, y1, x2, y2).foreach(occ += _)
      }
      Iterator.single(KnnStats(counts.toMap, occ.toSet))
    }.fold(KnnStats(Map.empty, Set.empty)) { (a, b) =>
      KnnStats(b.centres.foldLeft(a.centres) { case (m, (t, (c, h))) =>
        m.updated(t, m.get(t).fold((c, h)) { case (c0, h0) => (c0 + c, math.max(h0, h)) })
      }, a.occupied ++ b.occupied)
    }
  }

  /** Per tile of `tiles`, up to `cap` probe candidates: the envelopes of
    * `rows` (at ordinals `env`) centred in it, as packed (xmin, ymin,
    * xmax, ymax) runs — the ones with the smallest content hash, so the
    * choice depends on neither scan order nor partitioning. Any ≥
    * min(cap, count) rights of each ring tile hold ≥ k candidates when the
    * ring does (cap ≥ k), so the k-th probe distance stays a true upper
    * bound, and the candidates stay bounded by the tiling (tiles × cap),
    * not the data. The merge combines map-side, so one record per
    * (partition, tile) crosses its shuffle. */
  def candidates(rows: RDD[InternalRow], env: Seq[Int], index: TileIndex, tiles: Set[Int],
                 cap: Int): RDD[(Int, Array[Double])] = {
    val bc = rows.sparkContext.broadcast((index, tiles))
    def top(cs: Vector[Cand]) = if (cs.length <= cap) cs else cs.sorted.take(cap)
    rows.flatMap { row =>
      val (x1, y1) = (row.getDouble(env(0)), row.getDouble(env(1)))
      val (x2, y2) = (row.getDouble(env(2)), row.getDouble(env(3)))
      val t = bc.value._1.refTile((x1 + x2) / 2, (y1 + y2) / 2)
      if (bc.value._2(t)) Some(t -> (((x1, y1, x2, y2).##, x1, y1, x2, y2))) else None
    }.aggregateByKey(Vector.empty[Cand])((v, c) => if (v.length < 2 * cap) v :+ c else top(v :+ c),
      (a, b) => top(a ++ b))
      .mapValues(top(_).flatMap(c => Seq(c._2, c._3, c._4, c._5)).toArray)
  }
}
