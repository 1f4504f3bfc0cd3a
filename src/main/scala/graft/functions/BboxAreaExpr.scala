package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.{ColumnBridge => ExpressionUtils, DoubleInputs}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the equal-area bbox size
  * (reference `README.md:77`: `ST_Area(ST_Transform(geom, 3410))`):
  *
  *   area = R² · (λ₂−λ₁)·π/180 · (sin(φ₂·π/180) − sin(φ₁·π/180))
  *
  * on the authalic sphere (R = 6 371 007 m) — the closed form of the
  * EPSG:3410 equal-area projection applied to an axis-aligned
  * envelope. Implemented with `doGenCode` so the whole predicate
  * stays inside whole-stage codegen: one fused arithmetic block, no
  * virtual calls per row (the PostGIS path is a geometry-object
  * round-trip per row).
  *
  * Null semantics: NULL if any corner is NULL (null-intolerant),
  * matching SQL arithmetic. Numeric corners of any type (e.g. the
  * replicated table's decimal(10,7)) are cast to double by the
  * analyzer, for the Column and the SQL forms alike.
  */
case class BboxArea(minLon: Expression, minLat: Expression,
    maxLon: Expression, maxLat: Expression)
  extends QuaternaryExpression with DoubleInputs {

  private val R = 6371007.0

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    minLon.nullable || minLat.nullable || maxLon.nullable || maxLat.nullable

  override def first: Expression = minLon
  override def second: Expression = minLat
  override def third: Expression = maxLon
  override def fourth: Expression = maxLat

  @inline private def area(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    R * R * (lon2 * math.Pi / 180.0 - lon1 * math.Pi / 180.0) *
      (math.sin(lat2 * math.Pi / 180.0) - math.sin(lat1 * math.Pi / 180.0))

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    area(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon1, lat1, lon2, lat2) =>
      s"""
         |final double gr = $R * $R;
         |${ev.value} = gr * ($lon2 * Math.PI / 180.0 - $lon1 * Math.PI / 180.0)
         |  * (Math.sin($lat2 * Math.PI / 180.0) - Math.sin($lat1 * Math.PI / 180.0));
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(minLon = newFirst, minLat = newSecond, maxLon = newThird, maxLat = newFourth)

  override def prettyName: String = "bbox_area"
}

object BboxArea {
  /** Column-API entry point. */
  def bboxArea(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column): Column =
    ExpressionUtils.column(BboxArea(
      ExpressionUtils.expression(minLon), ExpressionUtils.expression(minLat),
      ExpressionUtils.expression(maxLon), ExpressionUtils.expression(maxLat)))
}
