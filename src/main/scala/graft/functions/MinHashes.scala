package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All [[MinHashes.Seeds]] seeded MinHash components of a distinct
  * shingle array in ONE scalar pass — returns
  * array(min_sh md5("0|"+sh), …, min_sh md5("7|"+sh)) as lowercase
  * hex, bit-identical to the builtin composition
  * `min(md5(concat('j|', sh)))` the DuckDB oracles replay.
  *
  * This is the guide-§2.4 shuffle removal for the signature kernel:
  * the previous plan exploded every (doc, shingle) pair and recovered
  * the per-doc minima + the distinct-shingle set through a
  * corpus-wide ObjectHashAggregate shuffle — but the shingle array is
  * already distinct per row ([[ShinglesW]]), so the whole signature
  * is a per-row projection. Same md5 count, zero exchange, and the
  * stage stays in whole-stage codegen (the kernel is a static call,
  * the SimHash64 pattern).
  *
  * Minima are taken over digest BYTES compared unsigned — identical
  * to lexicographic order of the lowercase-hex strings (each hex
  * digit maps monotonically to its nibble), i.e. exactly Spark's
  * UTF8String `min` on the md5 column the exploded plan aggregated.
  */
case class MinHash8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash8"

  // r15 (ADVICE): compute returns a top-level null for an EMPTY
  // shingle array (no shingles → no signature). The expression must
  // declare that, and codegen must surface it through ev.isNull —
  // with the default defineCodeGen the null landed in ev.value while
  // ev.isNull stayed child-derived, an NPE for any caller without
  // Dedup.signaturesOf's size>0 pre-filter.
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashes.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${computeCall(MinHashes, c)}; ${ev.isNull} = ${ev.value} == null;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashes {
  /** Must equal Dedup.MinhashSeeds — the band layout (4 bands × 2
    * rows) and every oracle's unrolled minhash SQL depend on it. */
  val Seeds = 8

  private val seedPrefixes: Array[Array[Byte]] =
    (0 until Seeds).map(j => s"$j|".getBytes("UTF-8")).toArray

  private val localMd5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val hexChars = "0123456789abcdef".toCharArray

  /** a < b over md5 digests, unsigned bytewise (== hex-string order). */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val v = d(i) & 0xff
      out(2 * i) = hexChars(v >>> 4)
      out(2 * i + 1) = hexChars(v & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Static kernel shared by interpreted eval and generated code.
    * Null elements are skipped, as `min` skips the null md5 of a null
    * shingle. Returns null when no shingle is left (no shingles → no
    * signature; callers filter those docs out exactly as the exploded
    * plan dropped them). */
  def compute(shingles: ArrayData): GenericArrayData = {
    val n = shingles.numElements()
    val md = localMd5.get()
    val mins = new Array[Array[Byte]](Seeds)
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val sh = shingles.getUTF8String(i).getBytes
        var j = 0
        while (j < Seeds) {
          md.reset()
          md.update(seedPrefixes(j))
          md.update(sh)
          val digest = md.digest()
          if (mins(j) == null || lessThan(digest, mins(j))) mins(j) = digest
          j += 1
        }
      }
      i += 1
    }
    if (mins(0) == null) return null
    val out = new Array[Any](Seeds)
    var j = 0
    while (j < Seeds) { out(j) = hex(mins(j)); j += 1 }
    new GenericArrayData(out)
  }

  def minhash8(shingles: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(MinHash8(ColumnBridge.expression(shingles)))
  }
}
