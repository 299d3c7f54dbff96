package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the k-component portable-md5 MinHash
  * signature of a token array, in ONE pass.
  *
  * Value-identical to the declarative chain Dedup uses everywhere else
  * (reference semantics: the dedup/sketch family of SURVEY §2.3):
  * 3-token shingles `tk[i] ⧺ " " ⧺ tk[i+1] ⧺ " " ⧺ tk[i+2]`, per
  * shingle two 60-bit md5 parses h1 = md5hash60(sh ⧺ "#a"),
  * h2 = md5hash60(sh ⧺ "#b"), Kirsch–Mitzenmacher h_j = h1 +
  * j·(h2 >> 4), and m_j = min over shingles — duplicates included.
  * Fewer than 3 tokens → empty array (the caller filters, exactly as
  * the `size(hs) > 0` guard did).
  *
  * Why native: the per-event map-side form (`transform` + 16 ×
  * `array_min(transform(...))`) evaluates its higher-order lambdas
  * INTERPRETED — one boxed expression eval per shingle per component —
  * and profiled 2.4× slower than the exploded codegen'd batch chain
  * (6.4 s of s_neardup_gate's 10 s was probe hashing
  * at sf0.1). Here the shingle bytes stream straight into the digest
  * (`update(tok₀) update(' ') … update("#a")` ≡ md5 of the
  * concatenation — no shingle string is ever materialized) and all k
  * minima update in one loop; `doGenCode` emits a direct static call
  * so the enclosing whole-stage codegen stays intact. The same
  * expression also replaces the batch sketch's explode + groupBy-min
  * — at 100 TB that deletes the shuffle of every (doc, shingle) row,
  * the sketch build's dominant movement.
  *
  * Tokens are assumed non-null (they come from `split`, which never
  * yields null elements); the md5 arithmetic replays in DuckDB, which
  * is what keeps the whole *_md5 family oracle-checkable.
  */
case class MinhashSig60(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinhashSig60.evalArray(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinhashSig60$$.MODULE$$.evalArray($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig60 =
    copy(child = newChild)
}

object MinhashSig60 {
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private val Space = Array(' '.toByte)
  private val SufA = Array('#'.toByte, 'a'.toByte)
  private val SufB = Array('#'.toByte, 'b'.toByte)

  private def first60(h: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (h(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  def evalArray(tk: ArrayData, k: Int): ArrayData = {
    val n = tk.numElements()
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val mins = Array.fill(k)(Long.MaxValue)
    val d = digests.get()
    var i = 0
    while (i <= n - 3) {
      val t0 = tk.getUTF8String(i).getBytes
      val t1 = tk.getUTF8String(i + 1).getBytes
      val t2 = tk.getUTF8String(i + 2).getBytes
      d.reset()
      d.update(t0); d.update(Space); d.update(t1); d.update(Space); d.update(t2)
      d.update(SufA)
      val h1 = first60(d.digest())
      d.reset()
      d.update(t0); d.update(Space); d.update(t1); d.update(Space); d.update(t2)
      d.update(SufB)
      val h2s = first60(d.digest()) >> 4
      var j = 0
      while (j < k) {
        val v = h1 + j.toLong * h2s
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
