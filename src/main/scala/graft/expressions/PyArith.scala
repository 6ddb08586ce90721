package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Python's `//` and `%` as type-adaptive Catalyst expressions — the
  * arithmetic kernels behind [[graft.types.PredicateParser]]'s
  * `df.query` grammar (reference types/PredicateParser lineage;
  * pandas evaluates these with numpy's C semantics, which follow
  * Python's).
  *
  * The parser runs before resolution, so it cannot know operand
  * types; these expressions decide AFTER analysis, where each is
  * replaced by a `StaticInvoke` of one of [[PyArith]]'s overloads over
  * its operands cast to the chosen domain:
  *
  *  - both operands integral → EXACT int64 `Math.floorDiv` /
  *    `Math.floorMod` — closing the documented >2^53 deviation where
  *    the old `floor(a / b)`-in-double compilation loses ulps against
  *    pandas' exact int64 floor division (and matching Python's
  *    divisor-sign `%` without the overflow hazard of the
  *    `((a % b) + b) % b` composition near Long.MaxValue);
  *  - anything else → the same double-domain forms as before
  *    (`floor(a/b)` → int64; `((a fmod b) + b) fmod b` → double),
  *    value-identical to the Column composition they replace.
  *
  * A zero divisor THROWS (ArithmeticException) on every path —
  * PINNED semantics, independent of the session's ANSI flag: Python
  * raises ZeroDivisionError for both int and float operands, and the
  * old compilation threw the same way under the ANSI sessions this
  * library runs in. */
abstract class PyBinaryArith extends Expression with RuntimeReplaceable
    with BinaryLike[Expression] {

  /** The [[PyArith]] method. */
  protected def method: String

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt.isInstanceOf[NumericType]
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires numeric operands, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  /** The (long, long) overload when both operands are integral, else
    * the (double, double) one; `//` yields int64 either way. */
  override lazy val replacement: Expression = {
    val domain =
      if (isIntegral(left.dataType) && isIntegral(right.dataType)) LongType else DoubleType
    val result = if (method == "floorDiv") LongType else domain
    StaticInvoke(PyArith.getClass, result, method,
      Seq(Cast(left, domain), Cast(right, domain)), returnNullable = false)
  }
}

/** Python floor division. Output is int64 on every path (Python's
  * float-in float-out `//` typing remains the documented deviation —
  * the double path floors to int64 like the composition it
  * replaces). */
case class PyFloorDiv(left: Expression, right: Expression) extends PyBinaryArith {
  override protected def method: String = "floorDiv"
  override def prettyName: String = "graft_py_floordiv"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PyFloorDiv = copy(left = newLeft, right = newRight)
}

/** Python modulo (result takes the divisor's sign). Int64 exact when
  * both operands are integral, else the double fmod composition. */
case class PyMod(left: Expression, right: Expression) extends PyBinaryArith {
  override protected def method: String = "floorMod"
  override def prettyName: String = "graft_py_mod"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PyMod = copy(left = newLeft, right = newRight)
}

/** The kernels [[PyFloorDiv]] and [[PyMod]] call: one overload per
  * operand domain, each throwing ArithmeticException on a zero
  * divisor. */
object PyArith {
  private def zeroDiv(op: String): Nothing =
    throw new ArithmeticException(s"$op: division by zero (Python raises ZeroDivisionError)")

  def floorDiv(a: Long, b: Long): Long =
    if (b == 0L) zeroDiv("graft_py_floordiv") else Math.floorDiv(a, b)

  def floorDiv(a: Double, b: Double): Long =
    if (b == 0.0) zeroDiv("graft_py_floordiv") else math.floor(a / b).toLong

  def floorMod(a: Long, b: Long): Long =
    if (b == 0L) zeroDiv("graft_py_mod") else Math.floorMod(a, b)

  def floorMod(a: Double, b: Double): Double =
    if (b == 0.0) zeroDiv("graft_py_mod") else ((a % b) + b) % b
}
