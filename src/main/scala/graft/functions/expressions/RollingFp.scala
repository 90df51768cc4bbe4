package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Rolling (Rabin-Karp) fingerprints over an array<string> token column,
  * computed in one pass: struct(fp_roll, min_shingle) where
  *
  *   fp_roll     = fold (h·65599 + t16) mod 2³¹-1 over all tokens
  *   min_shingle = min over the max(n-w+1, 1) w-token shingles of the
  *                 same fold (clamped at the end; w = shingle width)
  *
  * t16 is the first 16 md5 bits of the token. Exactly the arithmetic of
  * `TextFunctions.rollingFingerprintFold` / `minShingleFingerprintFold`
  * (and the DuckDB oracle) but ONE md5 per token and primitive loops —
  * the column-algebra version re-hashes every token once for the doc fold
  * and once per covering shingle through interpreted lambdas.
  */
case class RollingFp(child: Expression, w: Int) extends UnaryExpression {

  require(w > 0, "shingle width must be positive")

  override def dataType: DataType = StructType(Seq(
    StructField("fp_roll", LongType, nullable = false),
    StructField("min_shingle", LongType, nullable = false)))

  private val B = 65599L
  private val M = 2147483647L

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): InternalRow = {
    val n   = arr.numElements()
    val t16 = new Array[Long](n)
    val md  = RollingFp.digest.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val bytes = md.digest(arr.getUTF8String(i).getBytes)
        t16(i) = ((bytes(0) & 0xffL) << 8) | (bytes(1) & 0xffL)
      }
      i += 1
    }
    var fp = 0L
    i = 0
    while (i < n) { fp = (fp * B + t16(i)) % M; i += 1 }
    val nShingles = math.max(n - (w - 1), 1)
    var minShingle = Long.MaxValue
    var s = 0
    while (s < nShingles) {
      val end = math.min(s + w, n)
      var h = 0L
      var j = s
      while (j < end) { h = (h * B + t16(j)) % M; j += 1 }
      if (h < minShingle) minShingle = h
      s += 1
    }
    InternalRow(fp, minShingle)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("rollingFpExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_rolling_fp"
}

object RollingFp {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
