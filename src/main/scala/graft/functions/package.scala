package graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

package object functions {

  /** Java source of `kernel.compute(args)`, the whole of every
    * kernel's generated code: generated code calls the same static
    * method the interpreted `nullSafeEval` runs, so each kernel's
    * arithmetic exists once. */
  private[graft] def computeCall(kernel: AnyRef, args: Any*): String =
    s"${kernel.getClass.getName.stripSuffix("$")}.compute(${args.mkString(", ")})"

  /** Whether a checked float-or-double vector input holds doubles; the
    * vector kernels take the answer as an argument of `compute`. */
  private[graft] def isDouble(e: Expression): Boolean =
    e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }

  /** Element `i` of a float or double array, widened to double; a
    * null element reads as 0.0 (the slot's bytes are not defined for
    * every array implementation, a column vector's may be stale). */
  private[graft] def elem(a: ArrayData, isDouble: Boolean, i: Int): Double =
    if (a.isNullAt(i)) 0.0
    else if (isDouble) a.getDouble(i)
    else a.getFloat(i).toDouble
}
