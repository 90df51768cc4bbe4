package graft.functions.expressions

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM Viterbi segmentation (Kudo, ACL'18 §3; the SentencePiece
  * unigram tokenizer) of one word as ONE native expression: the whole
  * backward DP + forward walk runs inside the row against a scored
  * piece vocabulary built once per executor — no candidate-grid
  * explode, no broadcast join, no collect_list shuffle, no O(L²)
  * array-concat fold. This is the scalar-expression rung of the
  * catalog's custom-operator ladder (same pattern as [[MultiMatch]]:
  * `@transient lazy` model state referenced directly from generated
  * code, so the projection stays inside whole-stage codegen).
  *
  * The model ships as a [[Broadcast]] handle, NOT as constructor data:
  * the expression object rides every task binary and is hashed/printed
  * during plan canonicalization, so embedding a vocab-sized `Seq` in it
  * would serialize the whole model per task and bloat every plan
  * string. The broadcast handle is a few bytes; executors fetch the
  * model once from the block manager and the per-executor trie
  * (`@transient lazy`) is a flat sorted-array structure — three
  * primitive arrays, binary-search child lookup — with none of the
  * per-node boxed-map overhead a pointer trie pays. Validation of the
  * vocab happens at construction time in
  * [[NativeExpressions.unigramSegment]] (before broadcasting), where
  * the data is still on the driver.
  *
  * Semantics are EXACTLY [[graft.functions.Unigram]]'s DataFrame fold
  * (spec-pinned A/B):
  *
  *   - packed costs: each vocab entry carries `surp·1024 + 1`, the DP
  *     minimizes the packed sum, so `best = surp_bits·1024 + n_pieces`
  *     with no carry while `n_pieces < 1024` — guaranteed by the same
  *     loud <1024 token-length guard as the plan form.
  *   - the backward DP at position p considers every vocab gram
  *     starting at p (a trie walk bounds the probe at the longest
  *     gram); candidates whose suffix state is unreachable are skipped
  *     (the `array_min`-skips-nulls rule of the fold); no usable
  *     candidate ⇒ p is unreachable; an unreachable word (possible
  *     only if the vocab misses one of its single chars) returns NULL,
  *     as the fold's null propagation does.
  *   - the forward walk emits, at each position, the LONGEST
  *     optimum-achieving candidate — the fold's `array_max` tie rule —
  *     so both forms reconstruct the identical segmentation.
  *
  * Character positions are Unicode codepoints, matching Spark's
  * `length`/`substring` semantics that the plan form (and the DuckDB
  * oracle) index with.
  *
  * Returns `struct<pieces: array<string>, surp_bits: bigint,
  * n_pieces: bigint>`.
  *
  * Scale shape (100 TB): the model is TRAINED state bounded by the
  * vocab-size parameter (top-k selection upstream), i.e. the
  * trained-index idiom — one broadcast fetch per executor; per row the
  * DP is O(len · maxGramLen) trie steps with zero shuffles, so corpus
  * segmentation is a pure map over the distinct word table.
  */
case class UnigramViterbi(
    child: Expression,
    model: Broadcast[Array[(String, Long)]],
    modelId: String)
  extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("pieces", ArrayType(StringType, containsNull = false),
      nullable = false),
    StructField("surp_bits", LongType, nullable = false),
    StructField("n_pieces", LongType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_unigram_viterbi requires a string column, got ${other.catalogString}")
    }

  // the expression object deserializes once per TASK (it rides the
  // codegen references array), so the trie is cached per executor —
  // 32 tasks on one executor build it once. The cache key is the
  // driver-generated modelId, NOT the broadcast id: broadcast ids
  // restart from 0 for every new SparkContext, so a same-JVM context
  // restart could otherwise be served a stale trie from a different
  // vocabulary.
  @transient private lazy val trie = UnigramViterbi.trieFor(modelId, model)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  /** Whole DP for one word; also the codegen entry point. Returns null
    * iff some position is unreachable under the vocab.
    */
  def compute(word: UTF8String): InternalRow = {
    val s = word.toString
    // codepoint array + the char offset of each codepoint (so pieces
    // slice the original string exactly where Spark's substring would)
    val n = s.codePointCount(0, s.length)
    if (n >= 1024)
      throw new IllegalArgumentException(
        s"unigram viterbi: token of length $n >= 1024 — packed " +
          "(surprisal, pieces) cost would overflow")
    val cps = new Array[Int](n)
    val off = new Array[Int](n + 1)
    var i = 0; var ci = 0
    while (i < n) {
      cps(i) = s.codePointAt(ci)
      off(i) = ci
      ci += Character.charCount(cps(i))
      i += 1
    }
    off(n) = ci
    // best(p): minimal packed cost of segmenting cps[p-1 ..], 1-based;
    // -1 = unreachable
    val best = new Array[Long](n + 2)
    best(n + 1) = 0L
    var p = n
    while (p >= 1) {
      var m = -1L
      var node = 0
      var len = 1
      var cont = true
      while (cont && len <= n - p + 1) {
        node = trie.step(node, cps(p + len - 2))
        if (node < 0) cont = false
        else {
          val c = trie.cost(node)
          if (c >= 0L) {
            val nb = best(p + len)
            if (nb >= 0L) {
              val v = c + nb
              if (m < 0L || v < m) m = v
            }
          }
          len += 1
        }
      }
      best(p) = m
      p -= 1
    }
    if (best(1) < 0L) return null
    // forward walk: longest optimum-achieving candidate at each step
    val pieces = mutable.ArrayBuffer.empty[UTF8String]
    p = 1
    while (p <= n) {
      val bp = best(p)
      var chosen = -1
      var node = 0
      var len = 1
      var cont = true
      while (cont && len <= n - p + 1) {
        node = trie.step(node, cps(p + len - 2))
        if (node < 0) cont = false
        else {
          val c = trie.cost(node)
          if (c >= 0L && best(p + len) >= 0L && c + best(p + len) == bp)
            chosen = len
          len += 1
        }
      }
      if (chosen < 0) // cannot happen: best(p) >= 0 certifies a candidate
        throw new IllegalStateException(
          s"unigram viterbi: no optimum-achieving candidate at position $p")
      pieces += UTF8String.fromString(
        s.substring(off(p - 1), off(p - 1 + chosen)))
      p += chosen
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(pieces.toArray[Any]),
      best(1) / 1024L,
      best(1) % 1024L))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramViterbiExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_unigram_viterbi"
}

object UnigramViterbi {

  /** Per-executor trie cache keyed by the driver-generated model UUID:
    * every task holds its own deserialized expression object, but the
    * model (hence the trie) is identical for one construction — build
    * once per executor, not once per task. Bounded LRU (a session
    * segments under a handful of models at a time) so memory stays a
    * small constant multiple of one trie.
    */
  private val tries =
    new java.util.LinkedHashMap[String, Trie](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Trie]): Boolean = size > 4
    }

  private[expressions] def trieFor(
      modelId: String,
      model: Broadcast[Array[(String, Long)]]): Trie =
    tries.synchronized {
      var t = tries.get(modelId)
      if (t == null) { t = Trie.build(model.value); tries.put(modelId, t) }
      t
    }

  /** Flat codepoint trie over the vocabulary: three primitive arrays —
    * per-node child-block offsets into a global (sorted codepoint,
    * child id) edge table, plus the packed terminal cost per node (-1
    * elsewhere). Child lookup is a binary search inside the node's
    * block; probe depth is naturally bounded by the longest gram, so
    * the DP never scans past it. Built once per executor (`@transient
    * lazy` in the expression) from the broadcast vocab — no per-node
    * boxed maps, memory is ~20 bytes per trie node regardless of
    * branching factor.
    */
  final class Trie private (
      childStart: Array[Int], // node -> first edge index; n_nodes+1 entries
      childCp: Array[Int],    // edge -> codepoint, sorted within a node block
      childNode: Array[Int],  // edge -> child node id
      costs: Array[Long]) {   // node -> packed cost, -1 if non-terminal

    /** Child of `node` along codepoint `cp`, or -1. */
    def step(node: Int, cp: Int): Int = {
      var lo = childStart(node)
      var hi = childStart(node + 1) - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = childCp(mid)
        if (c == cp) return childNode(mid)
        else if (c < cp) lo = mid + 1
        else hi = mid - 1
      }
      -1
    }

    /** Packed cost if `node` is terminal, else -1. */
    def cost(node: Int): Long = costs(node)
  }

  object Trie {

    private def lexCompare(x: Array[Int], y: Array[Int]): Int = {
      val m = math.min(x.length, y.length)
      var k = 0
      while (k < m) {
        if (x(k) != y(k)) return if (x(k) < y(k)) -1 else 1
        k += 1
      }
      x.length - y.length
    }

    /** BFS construction over the lexicographically sorted gram set:
      * children of a node occupy one contiguous, codepoint-sorted edge
      * block, and node ids are assigned in BFS order so the offset
      * array fills front to back. O(total codepoints + n log n) build,
      * all primitive buffers.
      */
    def build(vocab: Array[(String, Long)]): Trie = {
      val n = vocab.length
      val grams = new Array[(Array[Int], Long)](n)
      var i = 0
      while (i < n) {
        grams(i) = (vocab(i)._1.codePoints().toArray, vocab(i)._2)
        i += 1
      }
      java.util.Arrays.sort(grams,
        (a: (Array[Int], Long), b: (Array[Int], Long)) =>
          lexCompare(a._1, b._1))
      // BFS over (lo, hi, depth) gram ranges; node id = dequeue order
      val ranges = new IntBuf   // flattened (lo, hi, depth) triples
      val starts = new IntBuf   // per-node first edge index
      val edgeCp = new IntBuf
      val edgeNode = new IntBuf
      val costB = new LongBuf
      ranges += 0; ranges += n; ranges += 0
      var id = 0
      while (id * 3 < ranges.size) {
        var lo = ranges(id * 3)
        val hi = ranges(id * 3 + 1)
        val d  = ranges(id * 3 + 2)
        starts += edgeCp.size
        // duplicates are rejected at construction (unigramSegment), but
        // guard defensively: a second identical gram would otherwise
        // walk off the end of its codepoint array below
        if (lo < hi && grams(lo)._1.length == d) {
          costB += grams(lo)._2
          lo += 1
          if (lo < hi && grams(lo)._1.length == d)
            throw new IllegalArgumentException(
              "unigram trie: duplicate gram in vocabulary — the DP would " +
                "be ambiguous; construct via NativeExpressions.unigramSegment")
        } else costB += -1L
        var j = lo
        while (j < hi) {
          val cp = grams(j)._1(d)
          var k = j + 1
          while (k < hi && grams(k)._1(d) == cp) k += 1
          edgeCp += cp
          edgeNode += ranges.size / 3
          ranges += j; ranges += k; ranges += d + 1
          j = k
        }
        id += 1
      }
      starts += edgeCp.size // sentinel: childStart(n_nodes) = n_edges
      new Trie(starts.toArray, edgeCp.toArray, edgeNode.toArray,
        costB.toArray)
    }
  }

  /** Minimal growable primitive int buffer (build-time only). */
  private final class IntBuf {
    private var a = new Array[Int](1024)
    private var n = 0
    def size: Int = n
    def apply(i: Int): Int = a(i)
    def +=(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def toArray: Array[Int] = java.util.Arrays.copyOf(a, n)
  }

  /** Minimal growable primitive long buffer (build-time only). */
  private final class LongBuf {
    private var a = new Array[Long](1024)
    private var n = 0
    def +=(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
  }
}
