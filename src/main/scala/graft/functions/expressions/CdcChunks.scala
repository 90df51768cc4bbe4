package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking of a text column (LBFS/Venti-style Rabin
  * chunking): one O(len) pass per row splitting the text at every
  * position where a rolling hash of the trailing window is ≡ 0 mod
  * 2^`maskBits`, so boundaries move WITH the content — an insertion
  * re-chunks only its own neighborhood and every later chunk re-aligns
  * and still dedups.
  *
  * Engine-independent arithmetic (the DuckDB oracle reproduces the
  * boundaries bit-for-bit with lag windows):
  *
  *   g(c)  = (codepoint(c) · 2654435761) mod 256      (Knuth hash)
  *   h(i)  = (Σ_{k=0..maskBits−1} 2^k · g(c_{i−k})) mod 2^maskBits
  *   boundary after position i  ⇔  h(i) = 0  or  i = len
  *
  * A low-bit mask sees only the trailing `maskBits` characters (older
  * terms are ≡ 0), which is what makes the classic sequential Gear scan
  * equal this stateless sliding-window form. Positions are CODE POINTS
  * (DuckDB's character semantics), not UTF-16 units.
  *
  * Scale shape: map-side only — chunking shuffles nothing; the chunk
  * array concatenates back to exactly the input (spec-pinned).
  */
case class CdcChunks(child: Expression, maskBits: Int) extends UnaryExpression {

  require(maskBits > 0 && maskBits <= 20, "maskBits must be in [1,20]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_cdc_chunks requires a string column, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  /** Shared by interpreted eval and generated code. */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    if (s.isEmpty) return new GenericArrayData(new Array[Any](0))
    val mask = (1 << maskBits) - 1
    val chunks = new java.util.ArrayList[Any]()
    val sb = new java.lang.StringBuilder()
    // rolling h over the last maskBits code points: h = 2h + g(c), the
    // 2^maskBits overflow vanishes under the mask — the sequential scan
    // and the stateless window form are the same value
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      sb.appendCodePoint(cp)
      val g = (cp.toLong * 2654435761L) % 256L
      h = ((h << 1) + g) & mask
      if (h == 0 || i >= s.length) {
        chunks.add(UTF8String.fromString(sb.toString))
        sb.setLength(0)
      }
    }
    new GenericArrayData(chunks.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("cdcChunksExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_cdc_chunks"
}
