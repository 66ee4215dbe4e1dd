package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** How [[KnnJoinExec]] runs its children through the DataFrame kNN engine
  * ([[graft.operators.SpatialJoin.knnJoinExact]] and kin): each child's
  * rows become a DataFrame with positional column names, one narrow map
  * per side, and the engine's result comes back as the exec's output rows.
  * ([[SpatialJoinExec]] runs its engine on the rows themselves.) */
private[graft] object ExecFrames {

  val Id = "__lid"

  /** Positional names standing for `plan`'s output attributes. */
  def names(plan: SparkPlan, prefix: String): Seq[String] =
    plan.output.indices.map(i => s"$prefix$i")

  /** `plan`'s rows as a DataFrame: its attributes under [[names]], then the
    * geometry `geom` (unless it is a plain child attribute) and `extra`.
    * Returns the frame and the geometry column's name. With `id`, an [[Id]]
    * lane comes first ([[SpatialJoinExec.withIds]]), so a caller reading
    * the frame twice persists it. */
  def of(plan: SparkPlan, prefix: String, geom: Expression,
         id: Boolean = false,
         extra: Seq[(String, Expression)] = Nil): (DataFrame, String) = {
    val attrs = plan.output
    val cols = names(plan, prefix)
    val g = attrs.indexWhere(_.semanticEquals(geom))
    val (geomName, lanes) =
      if (g >= 0) (cols(g), extra)
      else (s"${prefix}g", (s"${prefix}g" -> geom) +: extra)
    val idAttr = AttributeReference(Id, LongType, nullable = false)()
    val input = if (id) idAttr +: attrs else attrs
    val named = (if (id) Seq(Id -> idAttr) else Nil) ++ cols.zip(attrs) ++ lanes
    val schema = StructType(named.map { case (n, e) => StructField(n, e.dataType, e.nullable) })
    val rows = (if (id) SpatialJoinExec.withIds(plan.execute()) else plan.execute())
      .mapPartitions[InternalRow] { iter =>
        val proj = UnsafeProjection.create(named.map(_._2), input)
        iter.map(row => proj(row).copy())
      }
    (Bridge.frame(plan.session, rows, schema), geomName)
  }

  /** `df` filtered by the residual `cond`, which is written over `attrs`
    * and evaluated over the positional `cols` standing for them. */
  def where(df: DataFrame, cond: Option[Expression],
            attrs: Seq[Attribute], cols: Seq[String]): DataFrame =
    cond.fold(df) { c =>
      val byId = attrs.map(_.exprId).zip(cols).toMap
      df.where(Bridge.column(c.transform {
        case a: AttributeReference if byId.contains(a.exprId) =>
          UnresolvedAttribute.quoted(byId(a.exprId))
      }))
    }

  /** `df`'s `cols` as the exec's output rows. */
  def rows(df: DataFrame, cols: Seq[String]): RDD[InternalRow] =
    df.select(cols.map(col): _*).queryExecution.toRdd
}
