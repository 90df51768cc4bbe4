package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expressions for the per-row hot paths where Spark's
  * built-in higher-order functions (`zip_with`/`aggregate`/`transform`)
  * fall out of whole-stage codegen into interpreted lambda evaluation.
  *
  * Both expressions preserve the exact arithmetic of the column-algebra
  * versions they replace (sequential left-to-right summation), so DuckDB
  * oracle hashes are unchanged — they are drop-in performance upgrades,
  * not semantic changes.
  */
object NativeExpressions {

  /** Codegen'd sequential-fold dot product of two array<double> columns.
    * Same summation order as `aggregate(zip_with(a, b, _*_), 0.0, _+_)`.
    */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** `bits`-wide (32 or 64) SimHash of an array<string> token column;
    * replaces a bits-way interpreted bit-vote with one pass over the
    * tokens per row.
    */
  def simhash(tokens: Column, bits: Int = 32): Column =
    GraftBridge.column(SimHash(GraftBridge.expression(tokens), bits))

  /** `bits`-wide SimHash over the DISTINCT n-gram shingles of an ordered
    * token array, with the shingle strings built inside the expression —
    * the column-algebra equivalent (`transform(sequence…)` +
    * `concat_ws` + `array_distinct` + simhash) materializes every
    * shingle through interpreted higher-order functions at ~30× the
    * cost of the hashing itself.
    */
  def shingleSimhash(tokens: Column, n: Int, bits: Int): Column =
    GraftBridge.column(ShingleSimHash(GraftBridge.expression(tokens), n, bits))

  /** Ordered n-gram shingle strings (tokens joined by one space) of an
    * array<string> token column, optionally first-occurrence-distinct —
    * the native form of `transform(sequence(0, size-n), i =>
    * concat_ws(" ", …))` (+ `array_distinct`), whose interpreted
    * higher-order evaluation costs ~30× the string work itself. Texts
    * with fewer than `n` tokens yield an empty array.
    */
  def shingles(tokens: Column, n: Int, distinct: Boolean): Column =
    GraftBridge.column(Shingles(GraftBridge.expression(tokens), n, distinct))

  /** Every subspace's PQ code assignment in one pass: array of
    * (d = exact int64 squared-L2 to the nearest codebook centroid,
    * c = that centroid's code, ties to the lowest code) per subspace,
    * over an array<long> quantized vector. The native form of
    * `numSub × codesPerSub × subDims` literal subtract-square terms,
    * whose expression tree blows past the codegen method-size limit and
    * falls back to interpreted eval (~40× slower than the arithmetic).
    */
  def pqAssignAll(qv: Column, books: Seq[Seq[(Long, Seq[Long])]], sub: Int): Column =
    GraftBridge.column(PqAssignAll(GraftBridge.expression(qv), books, sub))

  /** Whole SRP plane bank in one pass: `numBands` sign-random-projection
    * codes of `bitsPerBand` bits each, over an array<double> vector —
    * replaces numBands×bitsPerBand separate dot-product expressions
    * (whose combined codegen tree dwarfs the actual work) with a single
    * primitive loop. Bit-identical to chaining
    * [[graft.functions.Similarity.srpCode]] per band.
    */
  def srpBank(v: Column, dims: Int, bitsPerBand: Int, numBands: Int): Column =
    GraftBridge.column(SrpBank(GraftBridge.expression(v), dims, bitsPerBand, numBands))

  /** Argmax-cosine cell assignment against a driver-held centroid table
    * in one primitive loop per row — the native form of the broadcast
    * join × `max_by(struct(carry, cell), struct(csim, -cell))` plan,
    * whose joined-row fan-out (|corpus| × numCells rows, each paying a
    * full carry-struct copy through the aggregate) dominates semantic
    * dedup once numCells auto-sizes to √N. Bit-identical semantics:
    * csim = round(dot(qv, cv)/sqrt(qn2·cn2), 4) with Spark's exact
    * `round` (BigDecimal HALF_UP), ties to the LOWEST cell label, NaN
    * ordered above every number (Spark's total order).
    */
  def cellArgmax(
      qv: Column, qn2: Column,
      cells: Seq[Long], cvs: Seq[Seq[Double]], cn2s: Seq[Double]): Column =
    GraftBridge.column(CellArgmax(
      GraftBridge.expression(qv), GraftBridge.expression(qn2),
      cells, cvs, cn2s))

  /** All `numHashes` MinHash components of an array<string> token column
    * in one pass (one md5 per distinct token + k affine mixes — see
    * [[MinHashFamily]]); array<long>, NULL when the row has no tokens.
    */
  def minhashSig(tokens: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(tokens), numHashes))

  /** Unicode NFC normalization of a string column (UAX #15 canonical
    * composition; ASCII/already-normalized fast path never copies).
    */
  def nfcNormalize(c: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))

  /** Codegen'd CHARACTER-level common-prefix length of two string
    * columns (byte compare + UTF-8 lead-byte char count — exact on
    * multi-byte text; see [[CommonPrefixChars]]).
    */
  def commonPrefixChars(a: Column, b: Column): Column =
    GraftBridge.column(CommonPrefixChars(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Misra-Gries heavy-hitters aggregate over a string column: at most
    * `k` (item, cnt) counters, mergeable across partitions; exact when
    * the column has ≤ k distinct values (see [[HeavyHitters]]).
    */
  def heavyHitters(c: Column, k: Int): Column =
    GraftBridge.column(
      HeavyHitters(GraftBridge.expression(c), k).toAggregateExpression())

  /** GK-style mergeable quantile sketch over a long column: returns
    * `array<long>` of the values at the requested probabilities (disc
    * convention); exact while per-group counts stay ≤ capacity (see
    * [[QuantileSketch]]).
    */
  def quantileSketch(c: Column, probs: Seq[Double], capacity: Int): Column =
    GraftBridge.column(
      QuantileSketch(GraftBridge.expression(c), probs, capacity)
        .toAggregateExpression())

  /** Count-Min sketch aggregate over a string column: `depth × width`
    * counter matrix as a flat array<long>, mergeable by element-wise
    * addition; point estimates via [[CountMin.estimate]] (see
    * [[CountMin]]).
    */
  def countMin(c: Column, depth: Int, width: Int): Column =
    GraftBridge.column(
      CountMin(GraftBridge.expression(c), depth, width).toAggregateExpression())

  /** HyperLogLog distinct-count sketch aggregate over a string column:
    * `2^p` max-rank registers as array<int>, mergeable by element-wise
    * max; raw-regime estimates via [[HyperLogLog.estimate]] (see
    * [[HyperLogLog]]).
    */
  def hll(c: Column, p: Int): Column =
    GraftBridge.column(
      HyperLogLog(GraftBridge.expression(c), p).toAggregateExpression())

  /** Winnowing (MOSS) fingerprints of an array<string> token column:
    * sorted distinct selected k-gram hashes, one per w-window of the
    * gram hash sequence, rightmost-min tie rule (see [[WinnowFp]]).
    */
  def winnowFp(tokens: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowFp(GraftBridge.expression(tokens), k, w))

  /** Content-defined (Rabin-style) chunk list of a string column: one
    * O(len) pass, boundaries where the trailing-window rolling hash ≡ 0
    * mod 2^maskBits (see [[CdcChunks]]).
    */
  def cdcChunks(text: Column, maskBits: Int): Column =
    GraftBridge.column(CdcChunks(GraftBridge.expression(text), maskBits))

  /** Aho–Corasick multi-pattern counter over a string column: per-phrase
    * occurrence counts (overlapping included) as array<bigint> aligned
    * with `phrases`, one O(len + matches) pass per row regardless of the
    * phrase count (see [[MultiMatch]]).
    */
  def multiMatch(text: Column, phrases: Seq[String]): Column =
    GraftBridge.column(MultiMatch(GraftBridge.expression(text), phrases))

  /** Unigram-LM Viterbi segmentation of a word column against a scored
    * piece vocabulary (bounded trained state): the whole backward DP +
    * forward walk inside the row, `struct<pieces, surp_bits, n_pieces>`
    * per word, one O(len · maxGramLen) trie pass (see
    * [[UnigramViterbi]]). The vocab is validated here on the driver and
    * shipped as a BROADCAST — the expression carries only the handle,
    * so tasks and plan strings never serialize the model.
    */
  def unigramSegment(
      word: Column,
      vocab: Seq[(String, Long)],
      spark: org.apache.spark.sql.SparkSession): Column = {
    require(vocab.nonEmpty, "graft_unigram_viterbi needs a non-empty vocabulary")
    require(vocab.forall(_._1.nonEmpty),
      "empty grams can never segment — reject loudly")
    require(vocab.forall(_._2 >= 0L),
      "packed piece costs are non-negative by construction — reject loudly")
    require(vocab.map(_._1).distinct.size == vocab.size,
      "duplicate grams would make the DP ambiguous — reject loudly")
    val bc = spark.sparkContext.broadcast(vocab.toArray)
    // fresh UUID per construction: the executor-side trie cache keys on
    // it (broadcast ids restart per SparkContext, so they can collide
    // across a same-JVM context restart). Broadcast lifetime note: the
    // handle lives inside the returned plan and is reclaimed by the
    // ContextCleaner once the plan is collected — the standard Spark
    // broadcast lifecycle for trained-state expressions.
    GraftBridge.column(UnigramViterbi(GraftBridge.expression(word), bc,
      java.util.UUID.randomUUID().toString))
  }
}

/** dot(a, b) = Σ a(i)·b(i), sequential order, over array<double>.
  * Whole-stage-codegen'd: the generated code is a primitive loop over the
  * two `ArrayData` backing arrays — no per-element boxing, no lambda
  * dispatch. Arrays are assumed element-non-null (embeddings); lengths are
  * clamped to the shorter input like `zip_with`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are pre-cast to array<double> by the caller (Similarity.toDouble)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** `bits`-wide SimHash over an array<string> of tokens (32 or 64; 64 uses
  * the first 16 hex nibbles of the md5).
  *
  * Bit j is set iff Σ over tokens of (+1 if bit j of the token's md5 is
  * set else -1) is positive, where bit j lives in hex-nibble j/4
  * (0-indexed from the left of the 32-char md5 hex string), mask
  * 1<<(j%4) — byte-for-byte the same definition as the column-algebra
  * version and the DuckDB oracle.
  *
  * One md5 per token per row (the column-algebra version recomputed the
  * token hash array for each of the 32 bits).
  */
case class SimHash(child: Expression, bits: Int = 32) extends UnaryExpression {
  require(bits > 0 && bits <= 64, "SimHash width must be in (0, 64]")

  // input is an array<string> token column (TextFunctions.tokens)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public entry point shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](bits)
    val md = SimHash.digest.get()
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      if (!arr.isNullAt(t)) {
        md.reset()
        val bytes = md.digest(arr.getUTF8String(t).getBytes)
        var j = 0
        while (j < bits) {
          // hex nibble j/4: even index → high nibble of byte (j/4)/2
          val k   = j / 4
          val b   = bytes(k / 2) & 0xff
          val nib = if (k % 2 == 0) b >>> 4 else b & 0xf
          if ((nib & (1 << (j % 4))) != 0) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      t += 1
    }
    var sh = 0L
    var j  = 0
    while (j < bits) {
      if (counts(j) > 0) sh |= (1L << j)
      j += 1
    }
    sh
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("simhashExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}

object SimHash {
  private[expressions] val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/** `bits`-wide SimHash over the DISTINCT n-gram shingles of an ordered
  * token array. A shingle is `tok(i) + " " + … + tok(i+n-1)`; texts with
  * fewer than n tokens hash to 0 (no shingle evidence). Identical votes
  * and bit layout to [[SimHash]] applied to
  * `array_distinct(<shingle strings>)` — only the shingle construction
  * moves into the per-row loop.
  */
case class ShingleSimHash(child: Expression, n: Int, bits: Int)
    extends UnaryExpression {
  require(n > 0 && bits > 0 && bits <= 64)

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public entry point shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val m = arr.numElements()
    if (m < n) return 0L
    val toks = new Array[String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Int](bits)
    val md = SimHash.digest.get()
    i = 0
    while (i <= m - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
      val shingle = sb.toString
      if (seen.add(shingle)) {
        md.reset()
        val bytes = md.digest(shingle.getBytes("UTF-8"))
        var j = 0
        while (j < bits) {
          val kk  = j / 4
          val b   = bytes(kk / 2) & 0xff
          val nib = if (kk % 2 == 0) b >>> 4 else b & 0xf
          if ((nib & (1 << (j % 4))) != 0) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sh = 0L
    var j  = 0
    while (j < bits) {
      if (counts(j) > 0) sh |= (1L << j)
      j += 1
    }
    sh
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("shingleSimhashExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_shingle_simhash"
}

/** Ordered n-gram shingles of a token array as an array<string>, each
  * shingle `tok(i) + " " + … + tok(i+n-1)`; `distinct = true` keeps the
  * first occurrence of each shingle (the `array_distinct` order), so the
  * output is element-for-element identical to the column-algebra
  * `array_distinct(transform(sequence…, concat_ws(" ", …)))` it
  * replaces — only the construction moves out of interpreted lambda
  * evaluation into one per-row loop. Null elements are skipped when
  * joining (the `concat_ws` rule), not rendered as empty strings;
  * [[graft.functions.TextFunctions.tokens]] output never contains them,
  * but the expression stays faithful for arbitrary containsNull inputs.
  */
case class Shingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n > 0)

  // input is an array<string> token column (TextFunctions.tokens)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public entry point shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val toks = new Array[String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      i += 1
    }
    val out  = new java.util.ArrayList[Any](m - n + 1)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    i = 0
    while (i <= m - n) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (toks(i + k) != null) {
          if (sb.length > 0) sb.append(' ')
          sb.append(toks(i + k))
        }
        k += 1
      }
      val s = sb.toString
      if (seen == null || seen.add(s))
        out.add(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("shinglesExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_shingles"
}

/** All `numBands` SRP band codes of a vector in one pass.
  *
  * Band j's code packs bits i = 0..bitsPerBand-1, where bit i is set iff
  * dot(v, plane(j·bitsPerBand + i)) > 0 with the planes of
  * [[graft.functions.Similarity.srpPlanes]] (md5-derived, engine-
  * independent) and the dot evaluated as the same sequential
  * left-to-right fold as [[DotProduct]] — so the codes are bit-identical
  * to the srpCode column-algebra formulation, at a fraction of its plan
  * size: one expression instead of numBands×bitsPerBand dot products
  * (256 for the near-dup defaults), whose combined codegen tree costs
  * more to compile and evaluate than the arithmetic itself.
  */
case class SrpBank(child: Expression, dims: Int, bitsPerBand: Int, numBands: Int)
    extends UnaryExpression {

  // input is an array<double> vector column
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(numBands * bitsPerBand)(p =>
      Array.tabulate(dims)(d => graft.functions.Similarity.planeComponent(p, d)))

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public entry point shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val out = new Array[Long](numBands)
    val n = math.min(arr.numElements(), dims)
    var band = 0
    while (band < numBands) {
      var code = 0L
      var i = 0
      while (i < bitsPerBand) {
        val plane = planes(band * bitsPerBand + i)
        var s = 0.0
        var d = 0
        while (d < n) {
          s += arr.getDouble(d) * plane(d)
          d += 1
        }
        if (s > 0) code |= (1L << i)
        i += 1
      }
      out(band) = code
      band += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("srpBankExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_srp_bank"
}

/** Per-subspace PQ code assignment of a quantized int64 vector against
  * driver-trained codebooks ([[graft.functions.Similarity.pqTrain]]):
  * element m of the result is the struct (d, c) where c is the code of
  * the subspace-m centroid minimizing the EXACT int64 squared-L2
  * distance to the vector's m-th `sub`-dim slice, ties to the lowest
  * code, and d is that distance. One tight loop instead of a
  * codes×dims-term literal expression tree (which exceeds the codegen
  * method-size budget and drops the whole projection to interpreted
  * eval).
  */
case class PqAssignAll(
    child: Expression,
    books: Seq[Seq[(Long, Seq[Long])]],
    sub: Int)
    extends UnaryExpression {

  // input is an array<long> quantized vector column
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("c", LongType, nullable = false))),
      containsNull = false)

  @transient private lazy val codeArr: Array[Array[Long]] =
    books.map(_.map(_._1).toArray).toArray
  @transient private lazy val centArr: Array[Array[Array[Long]]] =
    books.map(_.map(_._2.toArray).toArray).toArray

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public entry point shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val numSub = codeArr.length
    val out = new Array[Any](numSub)
    var mm = 0
    while (mm < numSub) {
      val codes = codeArr(mm)
      val cents = centArr(mm)
      var bestD = Long.MaxValue
      var bestC = Long.MaxValue
      var c = 0
      while (c < codes.length) {
        val cv = cents(c)
        var d = 0L
        var i = 0
        while (i < sub) {
          val df = arr.getLong(mm * sub + i) - cv(i)
          d += df * df
          i += 1
        }
        if (d < bestD || (d == bestD && codes(c) < bestC)) {
          bestD = d; bestC = codes(c)
        }
        c += 1
      }
      out(mm) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bestD, bestC))
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("pqAssignExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_pq_assign"
}

/** The MinHash hash family shared by the Spark-side [[MinHashSig]]
  * expression and the DuckDB oracle SQL (Queries.sqlMinhashSigs): one
  * engine-independent md5 per DISTINCT token anchors the family, then
  * each of the k components is a cheap affine mix modulo the Mersenne
  * prime P = 2^31 − 1.
  *
  * Component i of token t:
  *   h  = int64 of the first 15 hex chars of md5("t:" ++ t)   (60 bits)
  *   s_i = (A(i) · (h mod P) + B(i)) mod P
  * and the per-document signature is the component-wise min over the
  * document's tokens. All intermediates stay < 2^62, so the arithmetic
  * is exact int64 on any engine — in SQL the same value is
  * `(A*(CAST('0x'||substr(md5('t:'||tok),1,15) AS BIGINT) % P)+B) % P`.
  *
  * Versus the previous family (min over full md5 hex strings, one md5
  * per component per token — reference semantics: the k independent
  * permutations of Broder's minwise scheme), this computes ONE md5 per
  * token instead of k, and the mins are 8-byte longs instead of 32-char
  * strings. A ≠ 0 mod P keeps each mix a bijection of Z_P, but note the
  * weaker independence guarantee of the shared-base-hash construction:
  * all k components are affine mixes of the SAME 60-bit base hash, so
  * two tokens that collide in the base hash collapse in every component
  * simultaneously (probability ~n²/2^61 per document pair of seeing any
  * such collision — negligible in practice, and the standard caveat of
  * datasketch-style 2-wise families, but strictly weaker than k
  * independent permutations).
  */
object MinHashFamily {
  val P: Long = 2147483647L // 2^31 − 1

  /** Multiplier for component i — Knuth's multiplicative constant scaled
    * by (i+1), reduced mod P; never 0 for any realistic i.
    */
  def a(i: Int): Long = ((i + 1L) * 2654435761L) % P

  /** Offset for component i (murmur3's C2 scaled, reduced mod P). */
  def b(i: Int): Long = ((i + 1L) * 2246822507L) % P

  /** The engine-independent 60-bit base hash every md5-anchored family in
    * this package uses: int64 of the first 15 hex chars of
    * md5(prefix ++ body) — in SQL,
    * `CAST('0x' || substr(md5(prefix || body), 1, 15) AS BIGINT)`.
    * The ONE place the byte extraction lives; `md` is the caller's
    * thread-local digest, `prefix` a precomputed byte array (no per-row
    * string concatenation).
    */
  def hash60(md: java.security.MessageDigest,
      prefix: Array[Byte], body: String): Long = {
    md.reset()
    md.update(prefix)
    val bytes = md.digest(body.getBytes("UTF-8"))
    var h = 0L
    var k = 0
    while (k < 7) { h = (h << 8) | (bytes(k) & 0xffL); k += 1 }
    (h << 4) | ((bytes(7) & 0xffL) >>> 4)
  }
}

/** All `numHashes` MinHash components of an array<string> token column in
  * one pass over the row (family: [[MinHashFamily]]). Returns
  * array<long> of the component-wise mins over the row's DISTINCT
  * tokens, or NULL when the array has no non-null tokens — the same
  * absent-row semantics as the explode → groupBy(id) → k×min
  * aggregation this replaces, but with zero shuffle: the signature is a
  * map-side projection, so LSH banding starts from a narrow (id, sig)
  * table instead of shuffling every exploded token.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0 && numHashes <= 256)

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  // empty token arrays yield NULL even when the child is non-nullable
  override def nullable: Boolean = true

  @transient private lazy val as: Array[Long] =
    Array.tabulate(numHashes)(MinHashFamily.a)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(numHashes)(MinHashFamily.b)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Public entry point shared by interpreted eval and generated code;
    * null when the array holds no non-null token.
    */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md   = SimHash.digest.get()
    val seen = new java.util.HashSet[String]()
    var any  = false
    var t    = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val tok = arr.getUTF8String(t).toString
        // min is duplicate-insensitive; the set only saves repeat md5s
        if (seen.add(tok)) {
          any = true
          val hp = MinHashFamily.hash60(md, MinHashSig.Prefix, tok) %
            MinHashFamily.P
          var i = 0
          while (i < numHashes) {
            val s = (as(i) * hp + bs(i)) % MinHashFamily.P
            if (s < mins(i)) mins(i) = s
            i += 1
          }
        }
      }
      t += 1
    }
    if (!any) null else ArrayData.toArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("minhashSigExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $expr.compute($c);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

object MinHashSig {
  private[expressions] val Prefix: Array[Byte] =
    "t:".getBytes("UTF-8")
}

/** Unicode NFC normalization (canonical composition) of a string column —
  * `java.text.Normalizer.normalize(s, NFC)`, the same UAX #15 algorithm
  * ICU and DuckDB's `nfc_normalize` implement, so results are
  * byte-identical across engines. ASCII fast path: NFC cannot change a
  * pure-ASCII string, and `Normalizer.isNormalized` is O(n) without
  * allocation, so the common corpus case never copies.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Public entry point shared by interpreted eval and generated code. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else
      org.apache.spark.unsafe.types.UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("nfcExpr", this)
    defineCodeGen(ctx, ev, c => s"$expr.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_nfc"
}

/** CHARACTER-level common-prefix length of two strings — the direct
  * capped-LCP comparator of `Suffix.dupSpans` (adjacent-rank suffix
  * slices, each pre-truncated to the cap, compared once; replaces the
  * log₂(cap)-round LCP walk whose per-level joins re-shuffled the whole
  * pair state).
  *
  * Bytes are compared first (UTF-8 is prefix-monotone: equal chars ⇔
  * equal byte runs), then the matched byte run is converted to a
  * character count by walking UTF-8 lead bytes — a char straddling the
  * first mismatching byte is NOT counted, so multi-byte text is exact.
  */
case class CommonPrefixChars(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    CommonPrefixChars.compute(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.CommonPrefixChars.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_common_prefix_chars"
}

object CommonPrefixChars {
  /** Shared by interpreted eval and generated code (static forwarder). */
  def compute(
      a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = math.min(a.numBytes(), b.numBytes())
    var k = 0
    while (k < n && a.getByte(k) == b.getByte(k)) k += 1
    var i = 0
    var chars = 0L
    while (i < k) {
      val w = org.apache.spark.unsafe.types.UTF8String
        .numBytesForFirstByte(a.getByte(i))
      if (i + w <= k) { chars += 1; i += w }
      else i = k // char straddles the mismatch boundary: not common
    }
    chars
  }
}

/** Argmax-cosine cell assignment of an array<double> quantized vector
  * against a driver-held centroid table — the trained-model fast path of
  * `Similarity.assignToCells`.
  *
  * Semantics are bit-identical to the broadcast-join formulation it
  * replaces (`join(broadcast(cents))` + `round(dot/sqrt(qn2·cn2), 4)` +
  * `max_by(struct(carry, cell), struct(csim, -cell))`):
  *
  *  - the per-cell dot is the same sequential left-to-right fold as
  *    [[DotProduct]] (lengths clamped to the shorter input);
  *  - the similarity is rounded with Spark's exact `round(_, 4)` rule —
  *    `BigDecimal.valueOf(x).setScale(4, HALF_UP)` with NaN/Infinity
  *    passed through (`java.math.BigDecimal.valueOf` and Scala's
  *    `BigDecimal(Double)` both go through `Double.toString`, so the
  *    interpreted and codegen paths of Spark's Round agree with this);
  *  - the winner is the LOWEST cell label among cells with the maximum
  *    rounded similarity, under Spark's total order (NaN above every
  *    number, NaN == NaN, -0.0 == 0.0 — primitive `>` plus explicit NaN
  *    arms reproduce it exactly).
  *
  * One DELIBERATE divergence, outside the parity claim: a NULL input
  * (null vector or null n2) yields cell = NULL via the standard
  * `nullSafeEval` contract, whereas the join formulation would still
  * emit a winning cell (the null-csim struct falls through max_by's
  * comparison to the -cell tie-break — an accident of struct ordering,
  * not a semantic anyone relies on). Null-in → null-out is the sane
  * rule; all current callers feed non-null vectors (assignment inputs
  * are filtered upstream), and the spec pins this arm explicitly.
  *
  * Why it exists: with numCells = √N (semantic dedup's auto-sizing) the
  * join form fans every corpus row out to √N joined rows, each paying a
  * codegen'd struct copy through the max_by aggregate — measured as THE
  * dominant term of q_semantic_dedup at sf10. This expression does the
  * same numCells×dims multiply-adds in a tight primitive loop with zero
  * row fan-out, no aggregate, and no shuffle.
  *
  * Rounding cost containment: `BigDecimal.valueOf` goes through
  * `Double.toString` (~100 ns) — per cell per row that would dominate
  * the arithmetic, so the loop first finds the maximum RAW similarity
  * and only rounds cells within 1.25e-4 of it (rounding to 4 dp moves a
  * value by at most 5e-5 + ulp slack, so no cell below that band can
  * reach the rounded maximum); typically exactly one candidate rounds.
  */
case class CellArgmax(
    vec: Expression,
    n2: Expression,
    cells: Seq[Long],
    cvs: Seq[Seq[Double]],
    cn2s: Seq[Double])
    extends BinaryExpression {
  require(cells.nonEmpty && cells.length == cvs.length &&
    cells.length == cn2s.length,
    "CellArgmax needs one (cv, cn2) per non-empty cell list")

  override def left: Expression = vec
  override def right: Expression = n2
  override def dataType: DataType = LongType

  // centroids iterated in ascending cell-label order so "first wins"
  // below IS the lowest-label tie-break
  @transient private lazy val order: Array[Int] =
    cells.indices.sortBy(cells).toArray
  @transient private lazy val cellArr: Array[Long] = cells.toArray
  @transient private lazy val cvArr: Array[Array[Double]] =
    cvs.map(_.toArray).toArray
  @transient private lazy val cn2Arr: Array[Double] = cn2s.toArray
  @transient private lazy val rawBuf =
    new ThreadLocal[Array[Double]] {
      override def initialValue(): Array[Double] = new Array[Double](cells.length)
    }

  private def round4(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  /** Public entry point shared by interpreted eval and generated code. */
  def compute(qv: ArrayData, qn2: Double): Long = {
    val raws = rawBuf.get()
    val m = order.length
    // pass 1: raw similarities; track the raw max and whether any NaN
    var rawMax = Double.NegativeInfinity
    var nanAt = -1
    var oi = 0
    while (oi < m) {
      val ci = order(oi)
      val cv = cvArr(ci)
      val n = math.min(qv.numElements(), cv.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += qv.getDouble(i) * cv(i); i += 1 }
      val raw = s / math.sqrt(qn2 * cn2Arr(ci))
      raws(oi) = raw
      if (java.lang.Double.isNaN(raw)) { if (nanAt < 0) nanAt = oi }
      else if (raw > rawMax) rawMax = raw
      oi += 1
    }
    // NaN sorts above every number in Spark's total order and
    // round(NaN) = NaN, so the first (lowest-label) NaN cell wins
    if (nanAt >= 0) return cellArr(order(nanAt))
    // pass 2: only cells whose raw similarity is within the rounding
    // band of the raw max can have the maximum ROUNDED similarity;
    // first (lowest label) strict-greater scan reproduces max_by's
    // (csim desc, cell asc) order
    val band = rawMax - 1.25e-4
    var bestCell = 0L
    var best = 0.0
    var first = true
    oi = 0
    while (oi < m) {
      val raw = raws(oi)
      if (raw >= band) {
        val csim = round4(raw)
        if (first || csim > best) { best = csim; bestCell = cellArr(order(oi)); first = false }
      }
      oi += 1
    }
    bestCell
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("cellArgmaxExpr", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $expr.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, n2 = newRight)

  override def prettyName: String = "graft_cell_argmax"
}
