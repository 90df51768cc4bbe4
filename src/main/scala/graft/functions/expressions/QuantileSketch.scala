package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** GK-style (Greenwald-Khanna) quantile sketch over a LongType column as
  * a Catalyst `TypedImperativeAggregate` — one-pass, mergeable,
  * bounded-memory rank queries for 100 TB value distributions (quality
  * scores, token counts, prices) without a global sort.
  *
  * Buffer: sorted entries `(value, g, delta)` where `g` counts collapsed
  * inputs ≤ value since the previous entry and `delta` is the rank
  * slack; rmin(i) = Σ_{j≤i} g_j, rmax(i) = rmin(i) + delta_i. Inserts
  * append `(v, 1, 0)` to a pending batch that is sort-merged in bulk
  * (O(log) amortized); compression collapses the adjacent pair with the
  * smallest combined footprint `g_i + g_{i+1} + delta_{i+1}` into
  * `(v_{i+1}, g_i + g_{i+1}, delta_{i+1})` until the entry count is back
  * under `capacity`. Merge (partial aggregation) merge-sorts the two
  * entry lists unchanged, then compresses — rank slack grows only
  * through compression, never through the merge-sort itself.
  *
  * EXACT below capacity: while no compression has fired anywhere (total
  * values per group ≤ capacity), every entry is `(v, 1, 0)` under any
  * partitioning/merge order, and quantiles are exact rank selections —
  * the regime the catalog query oracles against a spelled-out SQL rank
  * selection. Above capacity the rank error of a reported quantile is
  * bounded by `max(g + delta) / 2` ranks (property-tested at 50×
  * overflow with forced partition merges).
  *
  * eval returns `array<long>`: for each requested probability q the
  * value whose rank interval covers `floor((n-1)·q) + 1` (the "disc"
  * lower-value convention, matching `ORDER BY … OFFSET floor((n-1)·q)`);
  * NULL for a group whose inputs were all NULL (percentile semantics).
  */
case class QuantileSketch(
    child: Expression,
    probs: Seq[Double],
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch.Buf] {

  require(capacity >= 8, "quantile_sketch capacity must be >= 8")
  require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))

  override def children: Seq[Expression] = Seq(child)
  // a group whose inputs are all NULL has no rank distribution — report
  // NULL like percentile/approx_percentile, not a fabricated 0
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): QuantileSketch.Buf =
    new QuantileSketch.Buf(capacity)

  override def update(buf: QuantileSketch.Buf, input: InternalRow): QuantileSketch.Buf = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: QuantileSketch.Buf, other: QuantileSketch.Buf): QuantileSketch.Buf = {
    buf.mergeWith(other)
    buf
  }

  override def eval(buf: QuantileSketch.Buf): Any =
    if (buf.isEmpty) null
    else new GenericArrayData(probs.map(buf.query).toArray)

  override def serialize(buf: QuantileSketch.Buf): Array[Byte] = buf.serialize()

  override def deserialize(bytes: Array[Byte]): QuantileSketch.Buf =
    QuantileSketch.Buf.deserialize(bytes, capacity)

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_quantile_sketch"
}

object QuantileSketch {

  /** Sketch buffer: sorted (value, g, delta) entries + an unsorted
    * pending batch of fresh values, bulk-flushed before any read.
    */
  final class Buf(capacity: Int) {
    private[QuantileSketch] var values = new Array[Long](0) // sorted entry values
    private[QuantileSketch] var gs     = new Array[Long](0)
    private[QuantileSketch] var deltas = new Array[Long](0)
    private[QuantileSketch] val pending = new ArrayBuffer[Long]()
    private[QuantileSketch] var n: Long = 0L

    def insert(v: Long): Unit = {
      pending += v
      n += 1
      if (pending.length >= math.max(capacity, 1024)) flush()
    }

    /** Sort-merge pending singletons into the entry arrays. */
    private[QuantileSketch] def flush(): Unit = {
      if (pending.isEmpty) return
      val fresh = pending.toArray
      java.util.Arrays.sort(fresh)
      pending.clear()
      val nv = new Array[Long](values.length + fresh.length)
      val ng = new Array[Long](nv.length)
      val nd = new Array[Long](nv.length)
      var i = 0; var j = 0; var o = 0
      while (i < values.length || j < fresh.length) {
        if (j >= fresh.length || (i < values.length && values(i) <= fresh(j))) {
          nv(o) = values(i); ng(o) = gs(i); nd(o) = deltas(i); i += 1
        } else {
          nv(o) = fresh(j); ng(o) = 1L; nd(o) = 0L; j += 1
        }
        o += 1
      }
      values = nv; gs = ng; deltas = nd
      compress()
    }

    /** Collapse smallest-footprint adjacent pairs until within capacity. */
    private def compress(): Unit = {
      if (values.length <= capacity) return
      // repeatedly merge pair minimizing g_i + g_{i+1} + delta_{i+1};
      // one left-to-right pass per shrink round is enough in practice
      while (values.length > capacity) {
        val target = values.length - capacity
        val keep = new ArrayBuffer[Int](values.length)
        var merged = 0
        var i = 0
        // threshold: collapse pairs whose footprint is at most twice the
        // current average spacing — cheap single-pass heuristic that
        // keeps slack growth near the GK bound
        val budget = math.max(2L * n / capacity, 2L)
        while (i < values.length) {
          // never collapse the first entry: the minimum must stay exact
          // (the last entry is always a merge TARGET, so the max is safe)
          if (i > 0 && merged < target && i + 1 < values.length &&
              gs(i) + gs(i + 1) + deltas(i + 1) <= budget) {
            gs(i + 1) += gs(i)
            merged += 1
            // entry i dropped (its count absorbed by i+1)
          } else keep += i
          i += 1
        }
        if (merged == 0) return // nothing under budget; stop rather than spin
        val k = keep.length
        val nv = new Array[Long](k); val ng = new Array[Long](k); val nd = new Array[Long](k)
        var o = 0
        keep.foreach { idx => nv(o) = values(idx); ng(o) = gs(idx); nd(o) = deltas(idx); o += 1 }
        values = nv; gs = ng; deltas = nd
      }
    }

    def mergeWith(other: Buf): Unit = {
      other.flush()
      flush()
      val nv = new Array[Long](values.length + other.values.length)
      val ng = new Array[Long](nv.length)
      val nd = new Array[Long](nv.length)
      var i = 0; var j = 0; var o = 0
      // combine rule of Agarwal et al., "Mergeable Summaries": an entry's
      // rank slack grows by the footprint of the OTHER sketch's bucket
      // that straddles it (that bucket's members may sit on either side
      // of this value). Exact regime: straddling buckets are singletons
      // (g=1, delta=0) → inflation 0 → still exact.
      while (i < values.length || j < other.values.length) {
        if (j >= other.values.length ||
            (i < values.length && values(i) <= other.values(j))) {
          val straddle =
            if (j < other.values.length) other.gs(j) + other.deltas(j) - 1 else 0L
          nv(o) = values(i); ng(o) = gs(i); nd(o) = deltas(i) + straddle; i += 1
        } else {
          val straddle = if (i < values.length) gs(i) + deltas(i) - 1 else 0L
          nv(o) = other.values(j); ng(o) = other.gs(j)
          nd(o) = other.deltas(j) + straddle; j += 1
        }
        o += 1
      }
      values = nv; gs = ng; deltas = nd
      n += other.n
      compress()
    }

    /** True iff no value was ever inserted (the all-NULL-group case). */
    def isEmpty: Boolean = n == 0L

    /** Value whose rank interval covers floor((n-1)·q) + 1. */
    def query(q: Double): Long = {
      flush()
      if (values.isEmpty) return 0L
      val target = math.floor((n - 1) * q).toLong + 1
      var rmin = 0L
      var i = 0
      while (i < values.length) {
        rmin += gs(i)
        if (rmin + deltas(i) >= target) return values(i)
        i += 1
      }
      values(values.length - 1)
    }

    def serialize(): Array[Byte] = {
      flush()
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeLong(n)
      out.writeInt(values.length)
      var i = 0
      while (i < values.length) {
        out.writeLong(values(i)); out.writeLong(gs(i)); out.writeLong(deltas(i))
        i += 1
      }
      out.flush()
      bos.toByteArray
    }
  }

  object Buf {
    def deserialize(bytes: Array[Byte], capacity: Int): Buf = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val buf = new Buf(capacity)
      buf.n = in.readLong()
      val k = in.readInt()
      buf.values = new Array[Long](k)
      buf.gs = new Array[Long](k)
      buf.deltas = new Array[Long](k)
      var i = 0
      while (i < k) {
        buf.values(i) = in.readLong(); buf.gs(i) = in.readLong(); buf.deltas(i) = in.readLong()
        i += 1
      }
      buf
    }
  }
}
