package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{BinaryExecNode, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.{Envelope, Geometry}

import graft.core.{CacheHygiene, GeometryCodec, GeomPredicates, Mbb}
import graft.functions.{StDWithin, StEnvelope, StPredicate}
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
  * st_equals plans, from both frontends, as a hash equi-join on the four
  * envelope coordinates (equal geometries have equal envelopes).
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
      KnnJoinExec(planLater(n.left), planLater(n.right), n.leftGeom, n.rightGeom, n.leftEnv,
        n.rightEnv, n.k, n.maxDistance, n.tieBreak, None, n.cfg, n.tileLocal, n.output) :: Nil
    case n: SpatialJoinNode =>
      SpatialJoinExec(planLater(n.left), planLater(n.right), n.leftGeom, n.rightGeom,
        n.leftEnv, n.rightEnv, n.cfg, None, Inner, n.output) :: Nil
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
          // semi/anti keep left rows without an envelope: they match
          // nothing, so ANTI emits them
          val (le, lgA, lEnv) =
            enveloped(l, lg, if (pred == "dwithin") dist else 0.0, dropNull = jt == Inner)
          val (re, rgA, rEnv) = enveloped(r, rg, 0.0, dropNull = true)
          if (pred == "equals")
            ProjectExec(j.output, planLater(Join(le, re, jt,
              Some(lEnv.zip(rEnv).map { case (a, b) => EqualTo(a, b) }.foldLeft(cond)(And)),
              j.hint))) :: Nil
          else {
            val rest = conjuncts.filterNot(_ fastEquals matched).reduceOption(And)
            SpatialJoinExec(planLater(le), planLater(re), lgA, rgA, lEnv, rEnv, cfg, rest,
              jt, j.output) :: Nil
          }
        case None if jt == Inner => planKnn(l, r, conjuncts)
        case _ => Nil
      }
    case _ => Nil
  }

  /** `plan` with the engine's envelope columns appended, as
    * [[graft.operators.SpatialJoin.join]]'s enveloped inputs carry them
    * (planar): the geometry as a column, its envelope expanded by `expand`,
    * and, with `dropNull`, no row without one. Returns the plan, the
    * geometry column and the four envelope columns. */
  private def enveloped(plan: LogicalPlan, geom: Expression, expand: Double,
                        dropNull: Boolean): (LogicalPlan, Attribute, Seq[Attribute]) = {
    val (input, g) = geom match {
      case a: Attribute => (plan, a)
      case e =>
        val a = Alias(e, "__g")()
        (Project(plan.output :+ a, plan), a.toAttribute)
    }
    val env = Alias(StEnvelope(g), "__env")()
    val withEnv = Project(input.output :+ env, input)
    val d = Literal(expand)
    val bounds = Seq("__xmin", "__ymin", "__xmax", "__ymax").zipWithIndex.map { case (n, i) =>
      val b = GetStructField(env.toAttribute, i)
      Alias(if (i < 2) Subtract(b, d) else Add(b, d), n)()
    }
    (Project(input.output ++ bounds,
        if (dropNull) Filter(IsNotNull(env.toAttribute), withEnv) else withEnv),
      g, bounds.map(_.toAttribute))
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
        val (pe, pgA, pEnv) = enveloped(probe, pg, 0.0, dropNull = true)
        val (ie, igA, iEnv) = enveloped(index, ig, 0.0, dropNull = true)
        val tie = if (tileLocal) Nil else index.output.filter(a => RowOrdering.isOrderable(a.dataType))
        KnnJoinExec(planLater(pe), planLater(ie), pgA, igA, pEnv, iEnv, k, d, tie,
          conjuncts.filterNot(_ fastEquals matched).reduceOption(And), cfg, tileLocal,
          l.output ++ r.output) :: Nil
      case None => Nil
    }
  }
}

/** The logical spatial join [[graft.operators.SpatialJoin.join]] builds.
  * Its children are the two sides with the engine's envelope columns
  * (`leftEnv`/`rightEnv`, dropped from the node's output); `tileId`, with
  * `keepTile`, is the emitting tile. [[SpatialJoinStrategy]] plans it. */
case class SpatialJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftGeom: Attribute, rightGeom: Attribute,
    leftEnv: Seq[Attribute], rightEnv: Seq[Attribute],
    cfg: SpatialJoin.Config, tileId: Option[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = {
    val env = AttributeSet(leftEnv ++ rightEnv)
    (left.output ++ right.output).filterNot(env.contains) ++ tileId
  }

  override def producedAttributes: AttributeSet = AttributeSet(tileId.toSeq)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SpatialJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical spatial join: the whole tiled pipeline of
  * [[graft.operators.SpatialJoin]] on its children's rows, in the caller's
  * SQL execution. `doExecute` copies each side once (the left with a
  * synthetic id in semi/anti mode), plans tiles from the copies'
  * envelopes ([[graft.operators.SpatialJoin.planTiles]]), tags each row
  * with its (tile, shard) keys, and runs the refine stage
  * ([[graft.operators.SpatialJoin.slotCogroup]]): per key an STRtree over
  * the right rows, probed by each left row, refined exactly.
  *
  * INNER: a pair is emitted by the owner tile of its refpoint (unless
  * `dedup = none`) when it satisfies the predicate and the residual
  * `extraCond`, laid out as `output`.
  *
  * LEFT SEMI/ANTI: a left row stops probing a tile at its first hit that
  * satisfies the predicate and the residual. Each tile reports a hit, and
  * the tile owning the row's envelope corner reports the row whatever it
  * found; one reduce by the left id resolves the verdict: SEMI emits a row
  * once if some tile hit, ANTI if none did. Left rows with a null or
  * invalid geometry never enter a tile, so they match nothing: ANTI emits
  * them, SEMI drops them — SQL's null-predicate semantics. */
case class SpatialJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftGeom: Attribute, rightGeom: Attribute,
    leftEnv: Seq[Attribute], rightEnv: Seq[Attribute],
    cfg: SpatialJoin.Config,
    extraCond: Option[Expression],
    joinType: JoinType,
    output: Seq[Attribute]) extends BinaryExecNode {

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    import SpatialJoinExec.{copied, mbbs, ords, release}
    val sc = sparkContext
    val semi = joinType != Inner
    val id = AttributeReference("__lid", LongType, nullable = false)()
    // the copies' layouts
    val lIn = (if (semi) Seq(id) else Nil) ++ left.output
    val rIn = right.output
    val lRows = copied(left, withId = semi)
    val rRows = copied(right, withId = false)
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

    val refined = SpatialJoin.slotCogroup(session, index, lRows, lIn, probeKeys, rRows, rIn, buildKeys)(
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

  /** `plan`'s rows, copied once into an RDD-level MEMORY_AND_DISK persist,
    * which [[release]] ends (nothing registers in the session's
    * CacheManager, which concurrent sibling queries share); with `withId`,
    * after an id lane ([[withIds]]). */
  def copied(plan: SparkPlan, withId: Boolean): RDD[InternalRow] = {
    val in = (if (withId) Seq(AttributeReference("__lid", LongType)()) else Nil) ++ plan.output
    (if (withId) withIds(plan.execute()) else plan.execute())
      .mapPartitions[InternalRow] { rows =>
        val proj = UnsafeProjection.create(in, in)
        rows.map(proj(_).copy())
      }.persist(StorageLevel.MEMORY_AND_DISK)
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
