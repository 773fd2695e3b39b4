package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Static kernel for [[SimHash64]] (plain object → JVM static forwarder
  * for codegen). Digests each token's UTF8String bytes directly — the old
  * UDF decoded every token to java.lang.String and re-encoded to UTF-8. */
object SimHashKernel {
  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** 64-bit SimHash fingerprint: token bits 0..31 from md5 bytes 0-3,
    * 32..63 from bytes 4-7 of the same digest; fingerprint bit i is 1 iff
    * the ±1 vote sum at bit i is positive. Bit-identical to the former UDF
    * (graft.dedup.SimHash scaladoc carries the cross-engine contract).
    * Caller guarantees a non-empty array. */
  def compute(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val md = md5Local.get()
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val d = md.digest(tokens.getUTF8String(t).getBytes)
      val lo = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val hi = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var i = 0
      while (i < 32) {
        if (((lo >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        if (((hi >>> i) & 1L) == 1L) acc(i + 32) += 1 else acc(i + 32) -= 1
        i += 1
      }
      t += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) fp |= (1L << i); i += 1 }
    fp
  }
}

/** Native Catalyst expression for the 64-bit SimHash fingerprint — the
  * per-document hot loop of `dedup_simhash` (one md5 per token + 64 vote
  * updates). Replaces a Scala UDF; same deterministic arithmetic, so the
  * DuckDB oracle replay is unchanged. Null/empty token arrays fingerprint
  * to null (mirrors the UDF's Option.empty).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else SimHashKernel.compute(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |if ($in.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SimHashKernel.compute($in);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** Column API: builds the expression directly (SQL text reaches it
    * through [[graft.GraftExtensions]]). */
  def fingerprint(tokens: Column): Column = GraftColumn(SimHash64(GraftColumn.expr(tokens)))
}
