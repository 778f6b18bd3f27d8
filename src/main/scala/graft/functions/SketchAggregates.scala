package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types._

/** Native sketch AGGREGATES — the step past the per-row expressions:
  * a sketch is an aggregation whose state is the sketch itself, so the
  * fastest plan accumulates the dense cell table directly in the
  * aggregation buffer (one compiled update per DOCUMENT, map-side
  * combined per partition, merged cell-wise) instead of exploding
  * per-document cell rows through a hash aggregate. On a stream the
  * serialized buffer IS the state-store value: constant rows×width
  * int64 cells at any ingest volume.
  */
object SketchAggregates {

  /** Count-min sketch of a token-array column as ONE typed imperative
    * aggregate: `update` runs [[TextHashFunctions.cmsAccumulate]] over
    * the row's tokens (hash60 once per occurrence, all `rows` affine
    * cells bumped), `merge` adds cell tables — the mergeability that
    * makes the sketch a per-partition/per-hour summary. Result is the
    * dense rows×width cell array in row-major order; consumers
    * posexplode + drop zero cells to recover the sparse (r, b, c)
    * frame ([[graft.operators.Sketch.cmsSketch]]), bit-identical to
    * the composable per-token explode form (spec-pinned). */
  case class CmsSketchAgg(
      child: Expression,
      rows: Int,
      width: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

    require(rows >= 1 && rows <= 16, s"cms rows must be in [1,16], got $rows")
    require(width >= 1, s"cms width must be positive, got $width")

    override def children: Seq[Expression] = child :: Nil
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cms_sketch_agg"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${t.sql}")
    }

    override def createAggregationBuffer(): Array[Long] =
      new Array[Long](rows * width)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null)
        TextHashFunctions.cmsAccumulate(buf, v.asInstanceOf[ArrayData],
          rows, width)
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(buf.length * 8)
      bb.asLongBuffer().put(buf)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      // fail-loud doctrine: a truncated/foreign state-store row must not
      // become a short buffer that merge() then over-indexes (or a long
      // one that silently carries extra cells)
      require(bytes.length == rows * width * 8,
        s"cms state geometry mismatch: got ${bytes.length} bytes, " +
          s"expected rows=$rows x width=$width x 8 = ${rows * width * 8}")
      val out = new Array[Long](bytes.length / 8)
      ByteBuffer.wrap(bytes).asLongBuffer().get(out)
      out
    }

    override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): CmsSketchAgg = copy(child = c.head)
  }

  /** [[CmsSketchAgg]] as an aggregate Column over a token-array column. */
  def cmsSketchAgg(tokens: Column, rows: Int, width: Int): Column =
    CatalystBridge.column(
      CmsSketchAgg(CatalystBridge.expression(tokens), rows, width)
        .toAggregateExpression())

  /** HyperLogLog register table of a token-array column as ONE typed
    * imperative aggregate — the CARDINALITY member of the sketch family
    * next to [[CmsSketchAgg]]'s frequencies and the quantile histogram:
    * `update` hashes each occurrence once
    * ([[TextHashFunctions.hash60]] — the engine-portable MD5 family,
    * so the register table replays bit-for-bit in the DuckDB oracle),
    * routes it to register `h & (m-1)` and keeps the MAX first-set-bit
    * rank of the remaining bits; `merge` is register-wise max — the
    * max-merge law (vs the CMS's sum-merge) that makes the sketch a
    * per-partition/per-hour summary. Result: the dense m-register long
    * array (0 = never touched). On a stream the serialized buffer IS
    * the state-store value — constant m cells at any ingest volume.
    *
    * Geometry: m must be a power of two in [16, 65536]; with the
    * 60-bit hash the rank field has 60-log2(m) bits, so registers lie
    * in [1, 61-log2(m)]. Duplicates are free by construction (max is
    * idempotent) — cardinality needs no distinct shuffle anywhere.
    */
  case class HllSketchAgg(
      child: Expression,
      m: Int,
      gramN: Int = 0,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

    require(m >= 16 && m <= 65536 && (m & (m - 1)) == 0,
      s"hll m must be a power of two in [16, 65536], got $m")

    private val bucketBits = java.lang.Integer.numberOfTrailingZeros(m)
    private val maxRho = 60 - bucketBits + 1

    override def children: Seq[Expression] = child :: Nil
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "hll_sketch_agg"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${t.sql}")
    }

    override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

    private def offer(buf: Array[Long], h: Long): Unit = {
      val b = (h & (m - 1)).toInt
      val w = h >>> bucketBits
      // bit-length of w is 64 - nlz; w == 0 (all rank bits zero)
      // maps to the field-width rank maxRho
      val rho = maxRho - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(b)) buf(b) = rho
    }

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val toks = v.asInstanceOf[ArrayData]
        if (gramN > 0) {
          // fused word-n-gram mode (r17): hash the grams straight off
          // the token bytes instead of materializing distinct shingle
          // strings first — registers are max-merged, so per-occurrence
          // (vs per-distinct-gram) offers change nothing
          TextHashFunctions.foreachShingleHash60(toks, gramN)(offer(buf, _))
        } else {
          val n = toks.numElements()
          var i = 0
          while (i < n) {
            offer(buf, TextHashFunctions.hash60(toks.getUTF8String(i)))
            i += 1
          }
        }
      }
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < b1.length) { if (b2(i) > b1(i)) b1(i) = b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(buf.length * 8)
      bb.asLongBuffer().put(buf)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      // same fail-loud geometry check as the CMS aggregate
      require(bytes.length == m * 8,
        s"hll state geometry mismatch: got ${bytes.length} bytes, " +
          s"expected m=$m x 8 = ${m * 8}")
      val out = new Array[Long](bytes.length / 8)
      ByteBuffer.wrap(bytes).asLongBuffer().get(out)
      out
    }

    override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): HllSketchAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): HllSketchAgg = copy(child = c.head)
  }

  /** [[HllSketchAgg]] in fused word-n-gram mode: registers over the
    * n-gram shingle space of a TOKEN array, without the per-document
    * shingle-string materialization. TextHashFunctionsSpec pins
    * `Sketch.hllRegisters` (this aggregate) equal to the explode/groupBy
    * register table over the shingle strings. */
  def hllShingleSketchAgg(tokens: Column, n: Int, m: Int): Column =
    CatalystBridge.column(
      HllSketchAgg(CatalystBridge.expression(tokens), m, gramN = n)
        .toAggregateExpression())

  /** K-minimum-values sketch of a token-array column as ONE typed
    * imperative aggregate — the SECOND cardinality sketch beside
    * [[HllSketchAgg]], kept because its state is a SAMPLE of the
    * distinct hash space, not a lossy projection of it: the k smallest
    * distinct [[TextHashFunctions.hash60]] values. That buys what
    * registers cannot — direct set-overlap estimation (the fraction of
    * the merged sketch present in both operand sketches IS a Jaccard
    * estimator, all-integer — where HLL intersection needs
    * inclusion–exclusion whose error is relative to the UNION), plus
    * an order-statistic estimate (k−1)·2⁶⁰/h₍ₖ₎ graded by
    * `corpus_kmv_estimate`. Duplicates are free (set semantics — the
    * TreeSet ignores re-inserts), so at-least-once delivery needs no
    * dedup pass; merge = union-then-trim, the min-k mergeability that
    * makes it a per-partition/per-cohort summary. Result: the ≤ k
    * minima as an ASCENDING long array. On a stream the serialized
    * buffer IS the state-store value — ≤ k·8 bytes at any ingest
    * volume. Deterministic (portable MD5, integer order), so the full
    * value list replays bit-for-bit in the DuckDB oracle. */
  /** The KMV buffer: the ≤ k smallest DISTINCT values as an ASCENDING
    * primitive long array (r17 — replaces the boxed TreeSet: every
    * offer paid a right-spine walk for `last()` plus Long boxing; here
    * the steady-state reject is ONE primitive compare against the
    * current maximum, membership is a binary search, and the rare
    * accept is an 8·k-byte memmove). */
  final class KmvBuf(val k: Int) {
    var arr = new Array[Long](math.min(k, 256))
    var size = 0

    def offer(h: Long): Unit = {
      // full-buffer O(1) reject: h above (or equal to — equality means
      // h is already the k-th value) the current max changes nothing
      if (size == k && h >= arr(size - 1)) return
      val idx = java.util.Arrays.binarySearch(arr, 0, size, h)
      if (idx >= 0) return // already present (set semantics)
      val ins = -idx - 1
      if (size < k) {
        if (size == arr.length)
          arr = java.util.Arrays.copyOf(arr, math.min(k, arr.length * 2))
        System.arraycopy(arr, ins, arr, ins + 1, size - ins)
        arr(ins) = h
        size += 1
      } else {
        // drop the current max, insert h in place
        System.arraycopy(arr, ins, arr, ins + 1, k - 1 - ins)
        arr(ins) = h
      }
    }
  }

  case class KmvSketchAgg(
      child: Expression,
      k: Int,
      gramN: Int = 0,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvBuf] {

    require(k >= 2 && k <= 65536, s"kmv k must be in [2, 65536], got $k")

    override def children: Seq[Expression] = child :: Nil
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "kmv_sketch_agg"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${t.sql}")
    }

    override def createAggregationBuffer(): KmvBuf = new KmvBuf(k)

    override def update(buf: KmvBuf, input: InternalRow): KmvBuf = {
      val v = child.eval(input)
      if (v != null) {
        val toks = v.asInstanceOf[ArrayData]
        if (gramN > 0) {
          // fused word-n-gram mode (r17): hash grams straight off the
          // token bytes — the value SET is unchanged vs hashing the
          // distinct shingle strings (duplicate offers are no-ops)
          TextHashFunctions.foreachShingleHash60(toks, gramN)(buf.offer)
        } else {
          val n = toks.numElements()
          var i = 0
          while (i < n) {
            buf.offer(TextHashFunctions.hash60(toks.getUTF8String(i)))
            i += 1
          }
        }
      }
      buf
    }

    override def merge(b1: KmvBuf, b2: KmvBuf): KmvBuf = {
      var i = 0
      while (i < b2.size) { b1.offer(b2.arr(i)); i += 1 }
      b1
    }

    override def eval(buf: KmvBuf): Any =
      new GenericArrayData(java.util.Arrays.copyOf(buf.arr, buf.size))

    override def serialize(buf: KmvBuf): Array[Byte] = {
      val bb = ByteBuffer.allocate(buf.size * 8)
      val lb = bb.asLongBuffer()
      var i = 0
      while (i < buf.size) { lb.put(buf.arr(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): KmvBuf = {
      // fail-loud doctrine: a truncated/foreign state-store row must
      // not silently become a smaller-or-larger sketch
      require(bytes.length % 8 == 0 && bytes.length / 8 <= k,
        s"kmv state geometry mismatch: got ${bytes.length} bytes, " +
          s"expected a multiple of 8 holding at most k=$k values")
      val buf = new KmvBuf(k)
      val n = bytes.length / 8
      buf.arr = new Array[Long](math.max(n, 1))
      val lb = ByteBuffer.wrap(bytes).asLongBuffer()
      var i = 0
      // serialized form is ascending and distinct; bulk-restore
      while (i < n) { buf.arr(i) = lb.get(); i += 1 }
      buf.size = n
      buf
    }

    override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): KmvSketchAgg = copy(child = c.head)
  }

  /** [[KmvSketchAgg]] in fused word-n-gram mode: the k smallest
    * distinct gram hashes of a TOKEN array, without the per-document
    * shingle-string materialization. TextHashFunctionsSpec pins
    * `Sketch.kmvMins` (this aggregate) equal to the distinct/sort/take-k
    * minima over the shingle strings. */
  def kmvShingleSketchAgg(tokens: Column, n: Int, k: Int): Column =
    CatalystBridge.column(
      KmvSketchAgg(CatalystBridge.expression(tokens), k, gramN = n)
        .toAggregateExpression())
}
