package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{BinaryExecNode, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.{Envelope, Geometry}

import graft.core.{CacheHygiene, Geo, GeometryCodec, GeomPredicates, Mbb}
import graft.functions.{GeomKernels, StDWithin, StEnvelope, StPredicate}
import graft.operators.{SpatialJoin, TileIndex}

/** Planner integration: [[SpatialJoinNode]], the logical join
  * [[graft.operators.SpatialJoin.join]] builds, and the SQL inner joins
  * whose condition carries an ST predicate between the two sides, both plan
  * into [[SpatialJoinExec]], the tiled filter-refine engine, instead of
  * Catalyst's fallback BroadcastNestedLoopJoin. This makes
  * `SELECT ... FROM a JOIN b ON st_intersects(a.g, b.g)` scale the same as
  * the programmatic API, because it is the same operator. In the same way
  * [[KnnJoinNode]], the logical kNN join `knnJoin`, `knnJoinExact` and
  * `knnJoinBounded` build, and the SQL inner joins on `st_nearest` or
  * `st_nearest2` both plan into [[KnnJoinExec]].
  *
  * st_disjoint is deliberately NOT matched: the tiled engine only tests
  * envelope-overlapping candidates within shared tiles (the reference's
  * tile-local J8 semantics), which would silently change the result of a
  * previously-correct all-pairs SQL join. Catalyst keeps planning disjoint
  * joins (BroadcastNestedLoopJoin); the tile-local variant stays available
  * behind the explicitly-documented programmatic API only.
  *
  * The GLOBAL-disjoint SQL form scales through LEFT SEMI/ANTI instead:
  * `WHERE [NOT] EXISTS (SELECT .. WHERE st_intersects(a.g, b.g))` arrives
  * here as a LeftSemi/LeftAnti join after RewritePredicateSubquery, and is
  * planned as the same exec in its semi/anti mode.
  *
  * st_equals plans, from both frontends (`SpatialJoin.join` builds a plain
  * st_equals join), as a hash equi-join on the envelope (equal geometries
  * have equal envelopes). The other joins plan over the raw children: the
  * execs' one copy step ([[SpatialJoinExec.copied]]) decodes each row's
  * geometry and computes its envelope.
  *
  * Tuning is read here, once per planning, into the exec nodes'
  * [[graft.operators.SpatialJoin.Config]]: `graft.join.partitioner`
  * (fg|bsp|qt|str|hc|slc|bos), `graft.join.bucket`,
  * `graft.join.sampleTarget` and `graft.knn.broadcastThreshold`. Earth
  * mode is never set from SQL.
  */
object SpatialJoinStrategy extends SparkStrategy with PredicateHelper {

  private val Symmetric =
    Set("intersects", "touches", "overlaps", "equals", "adjacent")

  /** predicate name when geometry args arrive (right, left). */
  private def swap(p: String): Option[String] = p match {
    case s if Symmetric(s) => Some(s)
    case "contains" => Some("within")
    case "within"   => Some("contains")
    case _ => None // crosses/disjoint/dwithin: keep original orientation only
  }

  /** The session's `graft.*` tuning confs, with the engine's defaults. */
  private def tuning(): SpatialJoin.Config = {
    val conf = SQLConf.get
    val d = SpatialJoin.Config()
    def int(key: String, default: Int) = conf.getConfString(key, default.toString).toInt
    d.copy(
      partitioner = conf.getConfString("graft.join.partitioner", d.partitioner),
      bucket = int("graft.join.bucket", d.bucket),
      sampleTarget = int("graft.join.sampleTarget", d.sampleTarget),
      knnBroadcastThreshold = int("graft.knn.broadcastThreshold", d.knnBroadcastThreshold))
  }

  /** Adds this strategy to `spark`'s planner, once. A session that builds
    * a [[SpatialJoinNode]] must be able to plan it; it then plans its SQL
    * spatial joins as the same operator. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: KnnJoinNode =>
      KnnJoinExec(planLater(n.left), planLater(n.right), n.leftGeom, n.rightGeom, n.k,
        n.maxDistance, n.tieBreak, None, n.cfg, n.tileLocal, n.output) :: Nil
    case n: SpatialJoinNode =>
      SpatialJoinExec(planLater(n.left), planLater(n.right), n.leftGeom, n.rightGeom,
        n.cfg, None, Inner, n.output) :: Nil
    case j @ Join(l, r, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), _) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hit = conjuncts.iterator.map {
        case e @ StPredicate(a, b, p) if p != "disjoint" => (e, a, b, p, 0.0)
        case e @ StDWithin(a, b, Literal(d: Double, _)) => (e, a, b, "dwithin", d)
        case e => (e, null, null, "", 0.0)
      }.collectFirst {
        case (e, a, b, p, d) if a != null &&
            a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
          (e, a, b, p, d)
        case (e, a, b, p, d) if a != null && swap(p).isDefined &&
            a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet) =>
          (e, b, a, swap(p).get, d)
      }
      hit match {
        // joins with equi-join keys stay Catalyst's hash join, the ST predicate
        // a residual: the st_equals plan below must not plan back into it
        case Some((matched, lg, rg, pred, dist)) if ExtractEquiJoinKeys.unapply(j).isEmpty =>
          val cfg = tuning().copy(predicate = pred, distance = dist)
          SpatialJoin.validate(cfg)
          if (pred == "equals") {
            // equal geometries have equal envelopes: the envelope is a hash
            // key. Rows without one have a null key and match nothing, so
            // ANTI emits them
            def keyed(p: LogicalPlan, g: Expression) = {
              val key = Alias(StEnvelope(g), "__env")()
              (Project(p.output :+ key, p), key.toAttribute)
            }
            val ((le, lk), (re, rk)) = (keyed(l, lg), keyed(r, rg))
            // planned after the optimizer ran: normalize -0.0 as it would
            val key = EqualTo(NormalizeFloatingNumbers.normalize(lk), NormalizeFloatingNumbers.normalize(rk))
            ProjectExec(j.output, planLater(Join(le, re, jt, Some(And(key, cond)), j.hint))) :: Nil
          } else {
            val ((le, lgA), (re, rgA)) = (withGeom(l, lg), withGeom(r, rg))
            val rest = conjuncts.filterNot(_ fastEquals matched).reduceOption(And)
            SpatialJoinExec(planLater(le), planLater(re), lgA, rgA, cfg, rest, jt, j.output) :: Nil
          }
        case None if jt == Inner => planKnn(l, r, conjuncts)
        case _ => Nil
      }
    case _ => Nil
  }

  /** `plan` and its geometry `geom` as a column: an attribute as it is,
    * any other expression appended once, so each row evaluates it once. */
  private def withGeom(plan: LogicalPlan, geom: Expression): (LogicalPlan, Attribute) = geom match {
    case a: Attribute => (plan, a)
    case e =>
      val a = Alias(e, "__g")()
      (Project(plan.output :+ a, plan), a.toAttribute)
  }

  /** `a JOIN b ON st_nearest(a.g, b.g, k[, d])` (or `st_nearest2`) →
    * [[KnnJoinExec]]. The first geometry arg names the probe side, the
    * second the index side, whichever SQL side each comes from; the rest of
    * the condition filters the ranked pairs (SQL conjunction semantics: the
    * pair must be in the kNN relation AND satisfy it). Distance ties rank by
    * the index side's orderable columns, in their order. st_nearest is
    * unevaluable row-at-a-time, so this strategy is the only way such a
    * join can run — an unmatched orientation (both geometry args on one
    * side) falls through to Catalyst and fails at runtime with the
    * expression's targeted error. */
  private def planKnn(l: LogicalPlan, r: LogicalPlan,
                      conjuncts: Seq[Expression]): Seq[SparkPlan] = {
    import graft.functions.{StNearest, StNearest2}
    // (marker, probeGeom, indexGeom, k, maxDist, tileLocal)
    val hit = conjuncts.collectFirst {
      case e @ StNearest(a, b, k, d) => (e, a, b, k, d, false)
      case e @ StNearest2(a, b, k) => (e, a, b, k, Double.PositiveInfinity, true)
    }.flatMap { case (e, a, b, k, d, tileLocal) =>
      def on(p: LogicalPlan, g: Expression) = g.references.subsetOf(p.outputSet)
      if (on(l, a) && on(r, b)) Some((e, l, a, r, b, k, d, tileLocal))
      else if (on(r, a) && on(l, b)) Some((e, r, a, l, b, k, d, tileLocal))
      else None
    }
    hit match {
      case Some((matched, probe, pg, index, ig, k, d, tileLocal)) =>
        val cfg = tuning()
        SpatialJoin.validate(cfg)
        val ((pe, pgA), (ie, igA)) = (withGeom(probe, pg), withGeom(index, ig))
        val tie = if (tileLocal) Nil else index.output.filter(a => RowOrdering.isOrderable(a.dataType))
        KnnJoinExec(planLater(pe), planLater(ie), pgA, igA, k, d, tie,
          conjuncts.filterNot(_ fastEquals matched).reduceOption(And), cfg, tileLocal,
          l.output ++ r.output) :: Nil
      case None => Nil
    }
  }
}

/** The logical spatial join [[graft.operators.SpatialJoin.join]] builds
  * over its two inputs, joined on the geometry columns `leftGeom` and
  * `rightGeom`; `tileId`, with `keepTile`, is the emitting tile.
  * [[SpatialJoinStrategy]] plans it. */
case class SpatialJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftGeom: Attribute, rightGeom: Attribute,
    cfg: SpatialJoin.Config, tileId: Option[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output ++ tileId

  override def producedAttributes: AttributeSet = AttributeSet(tileId.toSeq)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SpatialJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical spatial join: the whole tiled pipeline of
  * [[graft.operators.SpatialJoin]] on its children's rows, in the caller's
  * SQL execution. `doExecute` copies each side once ([[SpatialJoinExec.copied]]:
  * each row's geometry decoded once, its envelope appended, the left with a
  * synthetic id in semi/anti mode), plans tiles from the copies' envelopes
  * ([[graft.operators.SpatialJoin.planTiles]]), tags each row with its
  * (tile, shard) keys, and runs the refine stage
  * ([[graft.operators.SpatialJoin.slotCogroup]]): per key an STRtree over
  * the right rows, probed by each left row, refined exactly. The left
  * envelope of a dwithin join is the probe window: grown by the distance,
  * or in earth mode by its conservative degree window.
  *
  * INNER: a pair is emitted by the owner tile of its refpoint (unless
  * `dedup = none`) when it satisfies the predicate and the residual
  * `extraCond`, laid out as `output`. Rows whose geometry is null, invalid
  * or has no located envelope match nothing.
  *
  * LEFT SEMI/ANTI: a left row stops probing a tile at its first hit that
  * satisfies the predicate and the residual. Each tile reports a hit, and
  * the tile owning the row's envelope corner reports the row whatever it
  * found; one reduce by the left id resolves the verdict: SEMI emits a row
  * once if some tile hit, ANTI if none did. Left rows without a located
  * envelope are copied with a null one and never enter a tile, so they
  * match nothing: ANTI emits them, SEMI drops them — SQL's null-predicate
  * semantics. */
case class SpatialJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftGeom: Attribute, rightGeom: Attribute,
    cfg: SpatialJoin.Config,
    extraCond: Option[Expression],
    joinType: JoinType,
    output: Seq[Attribute]) extends BinaryExecNode {

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    import SpatialJoinExec.{copied, envelope, mbbs, ords, release}
    val sc = sparkContext
    val semi = joinType != Inner
    val id = AttributeReference("__lid", LongType, nullable = false)()
    // the copies' layouts; semi/anti keep left rows without an envelope
    val (leftEnv, rightEnv) = (envelope(nullable = semi), envelope(nullable = false))
    val lIn = (if (semi) Seq(id) else Nil) ++ left.output ++ leftEnv
    val rIn = right.output ++ rightEnv
    val dwithin = cfg.predicate == "dwithin"
    val lRows = copied(left, leftGeom, leftEnv, withId = semi,
      grow = if (dwithin) cfg.distance else 0.0, earth = dwithin && cfg.earth)
    val rRows = copied(right, rightGeom, rightEnv, withId = false)
    val Seq(lx1, ly1, lx2, ly2) = ords(lIn, leftEnv)
    val rEnv = ords(rIn, rightEnv)
    val index = SpatialJoin.planTiles(session, mbbs(lRows, Seq(lx1, ly1, lx2, ly2)).union(mbbs(rRows, rEnv)), cfg)
    release(lRows, rRows)
    val bc = sc.broadcast(index)

    // composite (tile, shard) keys: probe rows land on one shard per tile,
    // salted by the row's content (deterministic under stage re-execution),
    // build rows replicate to every shard of a hot tile
    val probeKeys = (row: InternalRow) =>
      if (row.isNullAt(lx1)) Iterator.empty
      else bc.value.probeKeys(row.getDouble(lx1), row.getDouble(ly1), row.getDouble(lx2),
        row.getDouble(ly2), row.hashCode.toLong).iterator
    val buildKeys = (row: InternalRow) => bc.value.buildKeys(row.getDouble(rEnv(0)),
      row.getDouble(rEnv(1)), row.getDouble(rEnv(2)), row.getDouble(rEnv(3))).iterator

    // the refine stage's row layouts: slot, key, then the copy's columns
    val lK = SpatialJoin.keyed(lIn); val rK = SpatialJoin.keyed(rIn)
    val lg = lK.indexWhere(_.exprId == leftGeom.exprId)
    val Seq(px1, py1, px2, py2) = ords(lK, leftEnv)
    val rg = rK.indexWhere(_.exprId == rightGeom.exprId)
    val Seq(rx1, ry1) = ords(rK, rightEnv.take(2))
    val predicate = cfg.predicate; val earth = cfg.earth
    val refineDist = if (predicate == "dwithin") cfg.distance else 0.0
    val refPoint = cfg.dedup == "refpoint"
    val cond = extraCond
    // semi/anti: a tile's report on a left row, its hit flag then the row;
    // inner: the output, whose keepTile column is the key's tile
    val hitA = AttributeReference("__hit", BooleanType, nullable = false)()
    val (outExprs, outIn) =
      if (semi) (hitA +: lIn, hitA +: lK)
      else (output.map { a =>
        if ((lK ++ rK).exists(_.exprId == a.exprId)) a
        else Cast(IntegralDivide(lK(1), Literal(TileIndex.MaxShards.toLong)), IntegerType)
      }, lK ++ rK)

    val refined = SpatialJoin.slotCogroup(session, index.refineKeys, lRows, lIn, probeKeys, rRows, rIn, buildKeys)(
        SpatialJoin.rowTree(rg, ords(rK, rightEnv))) { () =>
      val residual = cond.map { c =>
        val p = Predicate.create(c, lK ++ rK); p.initialize(0); p
      }
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outExprs, outIn)
      val hitRow = new GenericInternalRow(1)
      (tree, lrow) => {
        val g1 = if (tree.isEmpty) null else GeometryCodec.fromWkb(lrow.getBinary(lg))
        val tile = (lrow.getLong(1) / TileIndex.MaxShards).toInt
        val idx = bc.value
        val candidates =
          if (g1 == null) Iterator.empty
          else tree.query(new Envelope(lrow.getDouble(px1), lrow.getDouble(px2),
              lrow.getDouble(py1), lrow.getDouble(py2))).iterator.asScala
            .map(_.asInstanceOf[(Geometry, InternalRow)])
        // refpoint first: a pair another tile emits is never refined here
        def owned(rrow: InternalRow) = !refPoint || idx.refTile(
          math.max(lrow.getDouble(px1), rrow.getDouble(rx1)),
          math.max(lrow.getDouble(py1), rrow.getDouble(ry1))) == tile
        def matches(g2: Geometry, rrow: InternalRow) =
          GeomPredicates.eval(predicate, g1, g2, refineDist, earth) &&
            residual.forall(_.eval(joined(lrow, rrow)))
        if (!semi)
          candidates.collect { case (g2, rrow) if owned(rrow) && matches(g2, rrow) =>
            proj(joined(lrow, rrow)) }
        else {
          val hit = candidates.exists { case (g2, rrow) => matches(g2, rrow) }
          if (hit || idx.refTile(lrow.getDouble(px1), lrow.getDouble(py1)) == tile) {
            hitRow.setBoolean(0, hit)
            Iterator.single(proj(joined(hitRow, lrow)))
          } else Iterator.empty
        }
      }
    }
    if (!semi) refined
    else {
      // one reduce by left id: a row's reports arrive together, a hit first
      val anti = joinType == LeftAnti
      val reports = hitA +: lIn
      val verdicts = SpatialJoin.clustered(session, refined, reports,
          HashPartitioning(Seq(id), sc.defaultParallelism),
          Seq(SortOrder(id, Ascending), SortOrder(hitA, Descending)))
        .mapPartitions[InternalRow] { rows =>
          val proj = UnsafeProjection.create(output, reports)
          var last = -1L
          rows.filter { row =>
            val first = row.getLong(1) != last
            last = row.getLong(1)
            first && row.getBoolean(0) != anti
          }.map(proj)
        }
      if (!anti) verdicts
      else verdicts.union(lRows.mapPartitions[InternalRow] { rows =>
        val proj = UnsafeProjection.create(output, lIn)
        rows.filter(_.isNullAt(lx1)).map(proj)
      })
    }
  }
}

/** The row plumbing [[SpatialJoinExec]] and [[KnnJoinExec]] share. */
object SpatialJoinExec {
  /** The ordinals of `as` in the layout `in`. */
  def ords(in: Seq[Attribute], as: Seq[Attribute]): Seq[Int] =
    as.map(a => in.indexWhere(_.exprId == a.exprId))

  /** The envelopes at ordinals `e` of `rows`, skipping rows without one. */
  def mbbs(rows: RDD[InternalRow], e: Seq[Int]): RDD[Mbb] = rows.flatMap { row =>
    if (row.isNullAt(e(0))) None
    else Some(Mbb(row.getDouble(e(0)), row.getDouble(e(1)), row.getDouble(e(2)), row.getDouble(e(3))))
  }

  /** Four fresh envelope columns (xmin, ymin, xmax, ymax) for [[copied]]. */
  def envelope(nullable: Boolean): Seq[Attribute] =
    Seq("__xmin", "__ymin", "__xmax", "__ymax").map(AttributeReference(_, DoubleType, nullable)())

  /** `plan`'s rows, copied once into an RDD-level MEMORY_AND_DISK persist,
    * which [[release]] ends (nothing registers in the session's
    * CacheManager, which concurrent sibling queries share), laid out as an
    * id lane ([[withIds]], with `withId`), `plan.output`, then `env`: the
    * envelope of the row's WKB geometry `geom`, decoded once here. A row
    * whose geometry is null, invalid or has no located envelope
    * ([[GeomKernels.located]]) is dropped, or kept with a null envelope when
    * `env` is nullable.
    *
    * The stored envelope is the row's probe window: grown by `grow` on every
    * side, or with `earth`, by the conservative DEGREE window of `grow`
    * meters ([[Geo.latDegrees]], and [[Geo.lonDegrees]] at the envelope's
    * largest |latitude|, the full 360° near the poles). The reference grows
    * by meters-as-degrees, so every earth probe covers the planet and the
    * tiled join degenerates to all-pairs (sf0.1: 20.6 s of refine CPU for
    * 30 pairs); the exact haversine refine decides membership, so the
    * tighter window changes no result. An earth window that crosses ±180°
    * widens to every longitude, so pairs across the antimeridian stay
    * candidates. */
  def copied(plan: SparkPlan, geom: Attribute, env: Seq[Attribute], withId: Boolean,
             grow: Double = 0.0, earth: Boolean = false): RDD[InternalRow] = {
    val in = (if (withId) Seq(AttributeReference("__lid", LongType)()) else Nil) ++ plan.output
    val g = in.indexWhere(_.exprId == geom.exprId)
    val out = in ++ env
    val keep = env.head.nullable
    (if (withId) withIds(plan.execute()) else plan.execute())
      .mapPartitions[InternalRow] { rows =>
        val bounds = new GenericInternalRow(4)
        val joined = new JoinedRow(null, bounds)
        val proj = UnsafeProjection.create(out, out)
        rows.flatMap { row =>
          val shape = located(row, g)
          if (shape.isEmpty && !keep) None
          else {
            shape match {
              case Some(s) => window(s.getEnvelopeInternal, grow, earth, bounds)
              case None => (0 until 4).foreach(bounds.setNullAt)
            }
            Some(proj(joined.withLeft(row)).copy())
          }
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The WKB geometry at ordinal `g` of `row`, if it decodes and has a
    * located envelope. */
  def located(row: InternalRow, g: Int): Option[Geometry] =
    Option(GeometryCodec.fromWkb(if (row.isNullAt(g)) null else row.getBinary(g)))
      .filter(s => GeomKernels.located(s.getEnvelopeInternal))

  /** Sets `out` to the window of envelope `e` that [[copied]] stores. */
  private def window(e: Envelope, grow: Double, earth: Boolean, out: InternalRow): Unit =
    if (!earth) {
      out.setDouble(0, e.getMinX - grow); out.setDouble(1, e.getMinY - grow)
      out.setDouble(2, e.getMaxX + grow); out.setDouble(3, e.getMaxY + grow)
    } else {
      val dLat = Geo.latDegrees(grow)
      val dLon = Geo.lonDegrees(grow, math.max(math.abs(e.getMinY), math.abs(e.getMaxY)))
      val (x1, x2) = (e.getMinX - dLon, e.getMaxX + dLon)
      val wrap = x1 < -180.0 || x2 > 180.0
      out.setDouble(0, if (wrap) math.min(-180.0, x1) else x1); out.setDouble(1, e.getMinY - dLat)
      out.setDouble(2, if (wrap) math.max(180.0, x2) else x2); out.setDouble(3, e.getMaxY + dLat)
    }

  /** Unpersists each of `rdds` once the SQL execution (or job) that next
    * reads it ends. Call after the operator's own eager jobs, which would
    * otherwise count as that consumer outside a SQL execution. */
  def release(rdds: RDD[_]*): Unit = rdds.foreach(c =>
    CacheHygiene.releaseAfterFirstJob(c.sparkContext, c)(c.unpersist(blocking = false)))

  /** `rows` after a unique LongType id, (partition index << 36 | local
    * sequence): no counting job, and stable only while the input replays
    * its partitions in order, so a caller reading the ids twice persists
    * them. The returned rows are views, valid until the next row. */
  def withIds(rows: RDD[InternalRow]): RDD[InternalRow] = rows.mapPartitionsWithIndex { (pi, it) =>
    val idRow = new GenericInternalRow(1)
    val joined = new JoinedRow(idRow, null)
    var seq = 0L
    it.map { row =>
      require(seq < (1L << 36), s"partition $pi exceeds 2^36 rows; repartition the probe side")
      idRow.setLong(0, (pi.toLong << 36) | seq)
      seq += 1
      joined.withRight(row)
    }
  }
}
