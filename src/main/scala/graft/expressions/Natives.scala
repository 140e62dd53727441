package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression => e}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** The eight native Catalyst expressions as typed Columns, built straight
  * from their nodes. No function registry is involved, so they run on
  * whichever session analyzes the plan. Their SQL names are [[sqlNames]],
  * which [[graft.GraftExtensions]] injects. */
object Natives {

  def vecDot(a: Column, b: Column): Column = column(FloatVecDot(e(a), e(b)))

  def maskAndCount(a: Column, b: Column): Column =
    column(MaskAndCount(e(a), e(b)))

  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(e(a), e(b)))

  def cdcBounds(text: Column): Column = column(CdcBoundaries(e(text)))

  def hash60All(arr: Column): Column = column(Hash60All(e(arr)))

  def slidingWindows(text: Column, width: Int, stride: Int): Column =
    column(SlidingWindows(e(text), Literal(width), Literal(stride)))

  def simhash60(tokens: Column): Column = column(Simhash60(e(tokens)))

  def winnowFps(text: Column, width: Int, w: Int): Column =
    column(WinnowFps(e(text), Literal(width), Literal(w)))

  /** SQL name, class, arity and constructor of each native expression:
    * the one map from names to nodes. */
  val sqlNames: Seq[(String, Class[_ <: Expression], Int,
                     Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[FloatVecDot], 2, c => FloatVecDot(c(0), c(1))),
    ("mask_and_count", classOf[MaskAndCount], 2,
      c => MaskAndCount(c(0), c(1))),
    ("sorted_intersect_count", classOf[SortedIntersectCount], 2,
      c => SortedIntersectCount(c(0), c(1))),
    ("cdc_bounds", classOf[CdcBoundaries], 1, c => CdcBoundaries(c(0))),
    ("hash60_all", classOf[Hash60All], 1, c => Hash60All(c(0))),
    ("sliding_windows", classOf[SlidingWindows], 3,
      c => SlidingWindows(c(0), c(1), c(2))),
    ("simhash60", classOf[Simhash60], 1, c => Simhash60(c(0))),
    ("winnow_fps", classOf[WinnowFps], 3, c => WinnowFps(c(0), c(1), c(2))))
}
