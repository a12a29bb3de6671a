package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Rank of a double against sorted quantile bounds: the number of
  * bounds `b` with `v >= b` under Spark's double ordering
  * (`SQLOrderingUtil.compareDoubles`: -0.0 equals 0.0, NaN above
  * +Infinity), found by binary search; a null input ranks 0. It is
  * the Z-order quantizer of [[graft.sources.Layout.zorderBy]], and
  * equals the interpreted `size(filter(array(bounds), b => v >= b))`
  * it replaces, at O(log n) per row and with generated code (which
  * calls the same kernel, [[ZRankExpr.rank]]).
  *
  * `bounds` must be non-decreasing under that ordering (quantiles
  * are); that is checked when the expression is built. `child` must
  * be a double: [[ZRankExpr.zrank]] casts.
  */
case class ZRankExpr(child: Expression, bounds: Seq[Double])
  extends UnaryExpression {

  private val sorted = bounds.toArray
  require(sorted.indices.drop(1).forall(i =>
    SQLOrderingUtil.compareDoubles(sorted(i - 1), sorted(i)) <= 0),
    "Z-rank bounds must be non-decreasing")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_zrank"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else ZRankExpr.rank(sorted, v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val b = ctx.addReferenceObj("bounds", sorted, "double[]")
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = 0L;
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.ZRankExpr.rank($b, ${c.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ZRankExpr =
    copy(child = newChild)
}

object ZRankExpr {
  /** The kernel both eval paths call: the first index whose bound
    * exceeds `v`, by binary search. */
  def rank(bounds: Array[Double], v: Double): Long = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SQLOrderingUtil.compareDoubles(bounds(mid), v) <= 0) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  /** Rank of `c` (cast to double) among `bounds`. */
  def zrank(c: Column, bounds: Seq[Double]): Column =
    ColumnBridge.column(ZRankExpr(ColumnBridge.expression(c.cast(DoubleType)), bounds))
}
