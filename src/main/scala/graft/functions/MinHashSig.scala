package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Static kernel for [[MinHashSig]] — a plain object (no companion class)
  * so codegen can call it through the JVM static forwarder. Digests the
  * UTF8String's underlying UTF-8 bytes directly: the old UDF paid
  * UTF8String → java.lang.String → getBytes(UTF_8) per shingle, a full
  * decode/re-encode round-trip that produced byte-identical input to md5.
  */
object MinHashKernel {
  /** One MD5 instance per executor thread (getInstance() per shingle was
    * the original hot-loop cost; digest() resets it, so reuse is
    * value-identical). */
  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** k-value MinHash signature of a shingle array: base hash = unsigned
    * 32-bit value of the first four md5 bytes, permutations
    * h_i(x) = (a_i·x + b_i) mod prime. Bit-identical to the former UDF
    * (graft.dedup.MinHashLSH scaladoc carries the cross-engine contract).
    * Returns null for an empty array (mirrors the UDF's null). */
  def compute(shingles: ArrayData, a: Array[Long], b: Array[Long], prime: Long): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val md = md5Local.get()
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      val d = md.digest(shingles.getUTF8String(i).getBytes)
      hashes(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    val k = a.length
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val aj = a(j); val bj = b(j)
      var m = Long.MaxValue
      var t = 0
      while (t < n) { val h = (aj * hashes(t) + bj) % prime; if (h < m) m = h; t += 1 }
      out(j) = m
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Native Catalyst expression for the MinHash signature — the per-document
  * hot loop of `dedup_minhash` / `decontaminate_fuzzy` (one md5 per
  * shingle × the k-permutation min scan). Replaces a Scala UDF: stays
  * inside whole-stage codegen, reads shingles as raw UTF-8 bytes (no
  * String boxing/decoding), and writes the signature as a primitive
  * UnsafeArrayData. Same deterministic md5/affine arithmetic — the DuckDB
  * oracle replay is unchanged.
  */
case class MinHashSig(child: Expression, a: Array[Long], b: Array[Long], prime: Long)
    extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.compute(input.asInstanceOf[ArrayData], a, b, prime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val aRef = ctx.addReferenceObj("mhA", a, "long[]")
      val bRef = ctx.addReferenceObj("mhB", b, "long[]")
      s"""
         |${ev.value} = graft.functions.MinHashKernel.compute($in, $aRef, $bRef, ${prime}L);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Column API: builds the expression directly with the caller's
    * permutation parameters (SQL text reaches it through
    * [[graft.GraftExtensions]], bound to the library's LSH constants). */
  def sig(shingles: Column, a: Array[Long], b: Array[Long], prime: Long): Column =
    GraftColumn(MinHashSig(GraftColumn.expr(shingles), a, b, prime))
}
