package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

import graft.core.CacheHygiene
import graft.functions.{StDWithin, StPredicate}
import graft.operators.SpatialJoin

/** Planner integration: inner joins whose condition carries an ST predicate
  * between the two sides are planned as [[SpatialJoinExec]], which runs the
  * tiled filter-refine engine [[graft.operators.SpatialJoin.join]], instead
  * of Catalyst's fallback BroadcastNestedLoopJoin. This makes
  * `SELECT ... FROM a JOIN b ON st_intersects(a.g, b.g)` scale the same as
  * the programmatic API, because it is the same engine.
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
  * planned as the same tiled engine over a synthetic left id, resolved by
  * an id (anti-)join — the q_disjoint_global programmatic plan, reachable
  * from plain SQL.
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

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
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
        // a residual: the engine's own st_equals plan must not plan back into it
        case Some((matched, lg, rg, pred, dist)) if ExtractEquiJoinKeys.unapply(j).isEmpty =>
          val rest = conjuncts.filterNot(_ fastEquals matched).reduceOption(And)
          val cfg = tuning().copy(predicate = pred, distance = dist)
          SpatialJoinExec(planLater(l), planLater(r), lg, rg, cfg, rest, jt) :: Nil
        case None if jt == Inner => planKnn(l, r, conjuncts)
        case _ => Nil
      }
    case _ => Nil
  }

  /** `a JOIN b ON st_nearest(a.g, b.g, k[, d])` → [[KnnJoinExec]]. The
    * first geometry arg names the probe side, the second the index side;
    * remaining conjuncts apply as a post-join filter (SQL conjunction
    * semantics: the pair must be in the kNN relation AND satisfy them).
    * st_nearest is unevaluable row-at-a-time, so this strategy is the only
    * way such a join can run — an unmatched orientation (both geometry
    * args on one side) falls through to Catalyst and fails at runtime with
    * the expression's targeted error. */
  private def planKnn(l: LogicalPlan, r: LogicalPlan,
                      conjuncts: Seq[Expression]): Seq[SparkPlan] = {
    import graft.functions.{StNearest, StNearest2}
    // (marker, probeGeom, indexGeom, k, maxDist, swapped, tileLocal)
    val hit = conjuncts.collectFirst {
      case e @ StNearest(a, b, k, d)
          if a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
        (e, a, b, k, d, false, false)
      case e @ StNearest(a, b, k, d)
          if a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet) =>
        (e, a, b, k, d, true, false)
      case e @ StNearest2(a, b, k)
          if a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
        (e, a, b, k, Double.PositiveInfinity, false, true)
      case e @ StNearest2(a, b, k)
          if a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet) =>
        (e, a, b, k, Double.PositiveInfinity, true, true)
    }
    hit match {
      case Some((matched, lg, rg, k, d, swapped, tileLocal)) =>
        val rest = conjuncts.filterNot(_ fastEquals matched).reduceOption(And)
        val cfg = tuning()
        if (!swapped)
          KnnJoinExec(planLater(l), planLater(r), lg, rg, k, d, rest, cfg, tileLocal) :: Nil
        else {
          // probe side is the SQL-right child: run the exec with the sides
          // exchanged, then project back to the join's l ++ r output order
          val exec = KnnJoinExec(planLater(r), planLater(l), lg, rg, k, d, rest, cfg, tileLocal)
          org.apache.spark.sql.execution.ProjectExec(
            l.output ++ r.output, exec) :: Nil
        }
      case None => Nil
    }
  }
}

/** Physical spatial join: a bridge into [[graft.operators.SpatialJoin.join]]
  * (see [[ExecFrames]]), which owns tiling, hot-tile salting, refine and
  * refpoint dedup. Inner joins apply the residual conjunct to the engine's
  * pairs and project back to `left.output ++ right.output`.
  *
  * LEFT SEMI/ANTI: the left side, with a synthetic id, is persisted once so
  * its ids are fixed; the engine joins it, the residual filters the pairs,
  * and an id (anti-)join against the distinct matched ids resolves the
  * verdict. Left rows whose geometry is null/invalid never enter the tiled
  * pass, so they match nothing: ANTI emits them, SEMI drops them — SQL's
  * null-predicate semantics. */
case class SpatialJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftGeom: Expression, rightGeom: Expression,
    cfg: SpatialJoin.Config,
    extraCond: Option[Expression],
    joinType: JoinType = Inner) extends BinaryExecNode {

  override def output: Seq[Attribute] = joinType match {
    case LeftSemi | LeftAnti => left.output
    case _ => left.output ++ right.output
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lNames = ExecFrames.names(left, "__l")
    val names = lNames ++ ExecFrames.names(right, "__r")
    val attrs = left.output ++ right.output
    val (l, lg) = ExecFrames.of(left, "__l", leftGeom, id = joinType != Inner)
    val (r, rg) = ExecFrames.of(right, "__r", rightGeom)
    if (joinType == Inner)
      ExecFrames.rows(
        ExecFrames.where(SpatialJoin.join(l, lg, r, rg, cfg), extraCond, attrs, names), names)
    else {
      val (lc, lCopy) = Bridge.persisted(l)
      // the tiled pass reads only the id, the geometry and the residual's columns
      val read = extraCond.fold(Set.empty[ExprId])(_.references.map(_.exprId).toSet)
      val lCols = (ExecFrames.Id +: lg +: left.output.zip(lNames).collect {
        case (a, n) if read(a.exprId) => n }).distinct
      val pairs = SpatialJoin.join(lc.select(lCols.map(col): _*), lg, r, rg, cfg)
      val matched = ExecFrames.where(pairs, extraCond, attrs, names)
        .select(ExecFrames.Id).distinct()
      val verdict = lc.join(matched, Seq(ExecFrames.Id),
        if (joinType == LeftAnti) "left_anti" else "left_semi")
      CacheHygiene.releaseAfterFirstJob(sparkContext, ExecFrames.rows(verdict, lNames))(
        lCopy.unpersist(blocking = false))
    }
  }
}
