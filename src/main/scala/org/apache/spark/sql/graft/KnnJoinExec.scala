package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types._

import graft.operators.SpatialJoin

/** Physical kNN join: for each left (probe) row, its k nearest right
  * (index) rows by geometry distance — the SQL plan for
  * `a JOIN b ON st_nearest(a.g, b.g, k[, d])`, the reference CLI's
  * `-p st_nearest` (/root/reference/src/resque/knn_2d.hpp:113-217) made
  * reachable from plain SQL, with the globally-exact semantics of
  * [[graft.operators.SpatialJoin.knnJoinExact]] rather than the
  * reference's tile-local approximation.
  *
  * Execution bridges the children into the DataFrame-level kNN engine
  * ([[ExecFrames]]), which owns the tiling, ring radii, the broadcast
  * small-index fast path and the WindowGroupLimit probe.
  *
  * Distance ties at the k-boundary are broken deterministically by the
  * right row's values: atomic orderable columns compare directly (in output
  * order), binary columns through order-preserving hex; columns of complex
  * type don't participate (two right rows equal on all participating
  * columns are interchangeable only if they differ solely in complex
  * columns — document, don't guess). Exception: tile-local mode
  * (st_nearest2) ships the engine's arbitrary k-boundary tie choice — the
  * tie-break lanes are skipped there (see the inline note at the tie-lane
  * skip), matching the reference's own unordered tile-local emission.
  * Left rows with null/invalid geometry
  * match nothing (SQL null-predicate semantics); right rows with
  * null/invalid geometry are never neighbors.
  *
  * Tuning comes from the `graft.*` confs read at planning into `cfg` (see
  * [[SpatialJoinStrategy]]); `knnBroadcastThreshold` caps the right side
  * for the zero-shuffle broadcast fast path (0 forces the tiled engine).
  */
case class KnnJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftGeom: Expression, rightGeom: Expression,
    k: Int, maxDistance: Double,
    extraCond: Option[Expression],
    cfg: SpatialJoin.Config,
    tileLocal: Boolean = false) extends BinaryExecNode {
  // tile-local (st_nearest2) is the reference's k-only surface: a distance
  // bound would silently change which tile-local neighbors survive
  require(!tileLocal || maxDistance.isPosInfinity,
    "st_nearest2 (tile-local) takes no distance bound")

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lNames = ExecFrames.names(left, "__l")
    val rNames = ExecFrames.names(right, "__r")
    // left: synthetic unique id (the probe key) + all columns + geometry
    val (ldf, lg) = ExecFrames.of(left, "__l", leftGeom, id = true)

    // right: all columns + geometry + tie-break lanes. Binary columns get an
    // order-preserving hex lane (unsigned-byte lexicographic == hex-string
    // lexicographic); atomic orderable columns tie-break on themselves;
    // complex-typed columns are skipped.
    def atomicOrderable(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    // tile-local mode ranks per owner tile with engine ties (the reference's
    // arbitrary order) — don't pay the per-row hex lanes it never reads
    val tie: Seq[(String, Option[Expression])] =
      if (tileLocal) Nil
      else right.output.zip(rNames).zipWithIndex.flatMap { case ((a, n), i) =>
        a.dataType match {
          case BinaryType => Some((s"__tb$i", Some(Hex(a))))
          case dt if atomicOrderable(dt) => Some((n, None))
          case _ => None
        }
      }
    val (rdf, rg) = ExecFrames.of(right, "__r", rightGeom,
      extra = tie.collect { case (n, Some(e)) => n -> e })
    val tieBreak = tie.map(_._1)

    val joinedDf =
      if (tileLocal)
        // reference st_nearest2 semantics: owner-tile-local top-k, no
        // boundary re-join pass (and no tie-break lanes — the reference's
        // tie order is engine-arbitrary)
        SpatialJoin.knnJoin(ldf, lg, rdf, rg, k, cfg = cfg)
      else if (maxDistance.isPosInfinity)
        SpatialJoin.knnJoinExact(ldf, lg, ExecFrames.Id, rdf, rg, k,
          tieBreak = tieBreak, cfg = cfg)
      else
        SpatialJoin.knnJoinBounded(ldf, lg, ExecFrames.Id, rdf, rg, k,
          maxDistance = maxDistance, tieBreak = tieBreak, cfg = cfg)

    ExecFrames.rows(ExecFrames.where(joinedDf, extraCond, output, lNames ++ rNames),
      lNames ++ rNames)
  }
}
