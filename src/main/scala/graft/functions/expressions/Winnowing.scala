package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
  * w-gram window over the hash sequence, and select each window's
  * minimal hash (rightmost occurrence on ties). Guarantees: any shared
  * token run long enough to cover a full window (≥ w+k−1 tokens) yields
  * at least one SHARED selected fingerprint between the two documents,
  * and expected density is 2/(w+1) — position-robust overlap evidence
  * at a fraction of the full gram set's size.
  *
  * Everything is engine-independent integer arithmetic so a SQL oracle
  * reproduces the selection bit-for-bit:
  *
  *   h_p  = int64(first 15 md5 hex chars of "g:" ++ gram_p) mod 2^40
  *   window s selects  min over p ∈ [s, min(s+w, G)−1] of
  *                     h_p·1024 + (w−1−(p−s))
  *
  * (the additive tie rank makes the min the RIGHTMOST minimal hash —
  * the paper's rule — while staying one integer min; h < 2^40 keeps
  * the packed key < 2^50). Grams are space-joined token runs, exactly
  * [[Shingles]]' construction. Returns the selected hashes as a sorted
  * distinct array<long>; documents with fewer than k tokens (no grams)
  * return an empty array, and G ≤ w degrades to one whole-sequence
  * window so any document with a gram has a fingerprint.
  *
  * Scale shape: one pass per row, map-side only — the 100 TB dedup
  * pre-filter builds (doc, fp) pairs with ZERO shuffle before the
  * fp-keyed candidate join.
  */
case class WinnowFp(child: Expression, k: Int, w: Int) extends UnaryExpression {

  require(k > 0, "gram size must be positive")
  require(w > 0 && w <= 1024, "window size must be in [1,1024]")

  // compute() reads the child as array<string> tokens: reject a mistyped
  // column at analysis time, not ClassCastException at execution
  // (ExpectsInputTypes would be idiomatic but AbstractDataType is
  // private[sql]; this hook is the public equivalent)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow_fp requires an array<string> token column, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // MODULUS, not a bitmask: hashes reduce into [0, 2^40) via `% HashMod`
  private val HashMod = 1L << 40

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    if (m < k) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    val g = m - k + 1
    val h = new Array[Long](g)
    val md = SimHash.digest.get()
    var p = 0
    while (p < g) {
      val sb = new java.lang.StringBuilder(toks(p))
      var j = 1
      while (j < k) { sb.append(' ').append(toks(p + j)); j += 1 }
      h(p) = MinHashFamily.hash60(md, WinnowFp.Prefix, sb.toString) % HashMod
      p += 1
    }
    // sliding-window minimum via monotone deque — O(g) total instead of
    // O(g·w): the deque holds gram indices with strictly increasing hash
    // front→back; popping `>=` from the back on insert makes the front
    // the RIGHTMOST minimal hash of its window, the same selection as
    // min over h·1024 + (w−1−offset) packed keys (the SQL oracle's form)
    val selected = new java.util.TreeSet[java.lang.Long]()
    val dq = new Array[Int](g)
    var head = 0
    var tail = 0 // exclusive
    var q = 0
    while (q < g) {
      while (tail > head && h(dq(tail - 1)) >= h(q)) tail -= 1
      dq(tail) = q
      tail += 1
      val s = q - w + 1
      if (s >= 0) {
        while (dq(head) < s) head += 1
        selected.add(h(dq(head)))
      }
      q += 1
    }
    // fewer grams than a window: one clamped window over all of them
    if (g < w) selected.add(h(dq(head)))
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("winnowFpExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow_fp"
}

object WinnowFp {
  private[expressions] val Prefix: Array[Byte] = "g:".getBytes("UTF-8")
}
