package graft.functions.expressions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern counter (Aho & Corasick, CACM'75) — the
  * blocklist step of C4-style corpus filtering (Raffel et al. JMLR'20
  * drop any page containing a "bad word"; the reference corpus filters
  * in `k8s/spark-apps/kafka-spark-configmap.yaml` are single-pattern
  * `rlike`s — this is the many-patterns generalization): given K fixed
  * phrases, ONE left-to-right pass over each document counts every
  * occurrence of every phrase (overlapping included — each end
  * position fires), O(len + matches) regardless of K. The naive
  * alternative — K `instr`/`rlike` passes — re-reads every document K
  * times; at 100 TB and production blocklists (hundreds of phrases)
  * the automaton is the difference between one corpus scan and
  * hundreds.
  *
  * Returns `array<bigint>` of per-phrase occurrence counts aligned
  * with the constructor's phrase list — per-phrase observability first
  * (which rule fired), the drop verdict is then `aggregate(...) = 0`
  * column algebra. Matching is raw codepoint-wise substring equality
  * (no case folding, no word boundaries — callers lower() / tokenize
  * upstream), so a SQL oracle can mirror a phrase's count exactly as
  * "number of start positions i with substr(text, i, len(p)) = p".
  *
  * The automaton (goto trie + BFS failure links + fail-closure output
  * lists) is built once per executor from the literal phrase list
  * (@transient lazy), never per row; codegen references the expression
  * object directly ([[HtmlUnescape]]'s pattern), keeping the operator
  * inside whole-stage codegen.
  */
case class MultiMatch(child: Expression, phrases: Seq[String])
  extends UnaryExpression {

  require(phrases.nonEmpty, "graft_multi_match needs at least one phrase")
  require(phrases.forall(_.nonEmpty), "empty phrases never match — reject loudly")
  require(phrases.distinct.size == phrases.size,
    "duplicate phrases would double-count — reject loudly")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_multi_match requires a string column, got ${other.catalogString}")
    }

  @transient private lazy val automaton = new MultiMatch.Automaton(phrases)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  /** One automaton pass; also the codegen entry point. */
  def compute(text: UTF8String): ArrayData =
    new GenericArrayData(automaton.countAll(text.toString).map(x => (x: Any)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("multiMatchExpr", this)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_multi_match"
}

object MultiMatch {

  /** Classic array-trie Aho–Corasick with per-node fail-closure output
    * index lists (each node's list = its own terminal phrases plus its
    * whole failure chain's, precomputed in BFS order) so the scan does
    * O(1) amortized work per character plus O(1) per reported match.
    */
  final class Automaton(phrases: Seq[String]) extends Serializable {
    // goto trie over chars; growable parallel arrays
    private val children = mutable.ArrayBuffer(mutable.Map.empty[Char, Int])
    private val terminal = mutable.ArrayBuffer(List.empty[Int])

    phrases.zipWithIndex.foreach { case (p, idx) =>
      var s = 0
      p.foreach { ch =>
        s = children(s).getOrElseUpdate(ch, {
          children += mutable.Map.empty[Char, Int]
          terminal += Nil
          children.size - 1
        })
      }
      terminal(s) = idx :: terminal(s)
    }

    private val fail = new Array[Int](children.size)
    // out(s) = phrase indices ending at s INCLUDING via failure chain
    private val out  = new Array[Array[Int]](children.size)
    locally {
      val queue = mutable.Queue.empty[Int]
      out(0) = terminal(0).toArray
      children(0).values.foreach { c => fail(c) = 0; queue += c }
      while (queue.nonEmpty) {
        val s = queue.dequeue()
        out(s) = (terminal(s) ++ out(fail(s))).toArray
        children(s).foreach { case (ch, c) =>
          // goto(fail(s), ch): nodes reached here are strictly
          // shallower than c (fail(s) is shallower than s), so this
          // can never self-link
          var f = fail(s)
          while (f != 0 && !children(f).contains(ch)) f = fail(f)
          fail(c) = children(f).getOrElse(ch, 0)
          queue += c
        }
      }
    }

    /** Per-phrase occurrence counts over one text (every end position
      * fires, so overlapping occurrences all count).
      */
    def countAll(text: String): Array[Long] = {
      val counts = new Array[Long](phrases.size)
      var s = 0
      var i = 0
      val n = text.length
      while (i < n) {
        val ch = text.charAt(i)
        while (s != 0 && !children(s).contains(ch)) s = fail(s)
        s = children(s).getOrElse(ch, 0)
        val hits = out(s)
        var j = 0
        while (j < hits.length) { counts(hits(j)) += 1L; j += 1 }
        i += 1
      }
      counts
    }
  }
}
