package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The slice id of a numeric key: the number of `cuts` at or below it,
  * by one binary search over the sorted cuts; a NULL key gets 0. It
  * compares as Spark's own `key >= cut` does: integral keys as longs,
  * float and double keys against the cut widened to double (NaN above
  * every cut, -0.0 equal to 0), decimal keys exactly. The cuts ride
  * into codegen as a reference object (the [[BloomMightContain]]
  * pattern), so a row costs log2(cuts) comparisons, not one CASE term
  * per cut. */
case class SliceId(child: Expression, cuts: IndexedSeq[Long]) extends UnaryExpression {
  require(cuts.zip(cuts.drop(1)).forall { case (a, b) => a < b }, "cuts must be sorted and distinct")

  private lazy val search = new SliceId.Search(cuts.toArray)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a numeric key, got $other")
  }

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null       => 0
    case d: Decimal => search.ofDecimal(d)
    case v          => child.dataType match {
      case FloatType  => search.ofDouble(v.asInstanceOf[Float].toDouble)
      case DoubleType => search.ofDouble(v.asInstanceOf[Double])
      case _          => search.ofLong(v.asInstanceOf[Number].longValue)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cuts", search, classOf[SliceId.Search].getName)
    val k = child.genCode(ctx)
    val call = child.dataType match {
      case _: DecimalType          => s"$ref.ofDecimal(${k.value})"
      case FloatType | DoubleType  => s"$ref.ofDouble((double) ${k.value})"
      case _                       => s"$ref.ofLong((long) ${k.value})"
    }
    ev.copy(code = code"""
      ${k.code}
      int ${ev.value} = ${k.isNull} ? 0 : $call;""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): SliceId = copy(child = c)

  override def prettyName: String = "slice_id"
}

object SliceId {
  def apply(k: Column, cuts: IndexedSeq[Long]): Column =
    ColumnBridge.column(SliceId(ColumnBridge.expression(k), cuts))

  /** The count of cuts at or below a key, by upper-bound binary search,
    * one per comparison domain. */
  final class Search(cuts: Array[Long]) extends Serializable {
    private val doubles = cuts.map(_.toDouble)
    private val decimals = cuts.map(c => Decimal(c))

    def ofLong(k: Long): Int = {
      var lo = 0
      var hi = cuts.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (cuts(m) <= k) lo = m + 1 else hi = m
      }
      lo
    }

    def ofDouble(k: Double): Int = {
      var lo = 0
      var hi = doubles.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (SQLOrderingUtil.compareDoubles(doubles(m), k) <= 0) lo = m + 1 else hi = m
      }
      lo
    }

    def ofDecimal(k: Decimal): Int = {
      var lo = 0
      var hi = decimals.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (decimals(m).compare(k) <= 0) lo = m + 1 else hi = m
      }
      lo
    }
  }
}
