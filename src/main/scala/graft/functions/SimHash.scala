package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a token array, returned as 16 lowercase hex
  * chars. Algorithm (deliberately md5-based so a SQL oracle can
  * reproduce it digit-by-digit):
  *
  *   - per token: md5 hex, first 16 chars = 64 bits (digit p=1..16
  *     left-to-right, bit k=3..0 with bit3 the digit's MSB)
  *   - vote s[p][k] += (bit ? +1 : -1) per token
  *   - output bit = s[p][k] > 0; digit = 8*b3+4*b2+2*b1+b0 → hex char
  *
  * One pass per row, no explode: at scale this replaces a
  * tokens × 64 row blow-up with a scalar projection. Tokens should be
  * pre-deduplicated (array_distinct) by the caller — set semantics,
  * matching the reference's dedupe-before-aggregate idiom.
  *
  * Codegen emits a call to the static [[SimHash64.compute]] kernel so
  * the surrounding stage stays inside whole-stage codegen (a
  * CodegenFallback would interpret the whole expression subtree).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => computeCall(SimHash64, c))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** MessageDigest.getInstance is surprisingly expensive per call;
    * one instance per executor thread, reset per token. */
  private val localMd5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val hexChars = "0123456789abcdef".toCharArray

  /** Static kernel shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): UTF8String = {
    val votes = new Array[Int](64)
    val md = localMd5.get()
    var t = 0
    while (t < arr.numElements()) {
      if (!arr.isNullAt(t)) {
        md.reset()
        val digest = md.digest(arr.getUTF8String(t).getBytes)
        // first 8 bytes = first 16 hex digits = 64 bits, MSB first
        var bit = 0
        while (bit < 64) {
          val byte = digest(bit / 8) & 0xff
          val b = (byte >> (7 - (bit % 8))) & 1
          votes(bit) += (if (b == 1) 1 else -1)
          bit += 1
        }
      }
      t += 1
    }
    val out = new Array[Char](16)
    var p = 0
    while (p < 16) {
      var d = 0
      var k = 0
      while (k < 4) {
        if (votes(p * 4 + k) > 0) d |= (8 >> k)
        k += 1
      }
      out(p) = hexChars(d)
      p += 1
    }
    UTF8String.fromString(new String(out))
  }
}

object SimHash {
  import org.apache.spark.sql.graft.ColumnBridge
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))
}
