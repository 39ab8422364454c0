package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native Catalyst aggregate functions for signature sketches.
  *
  * MinHash and SimHash signatures need 64 parallel lanes folded over every
  * token/shingle hash. Expressing that as 64 separate `min()`/`sum(when())`
  * aggregate columns blows up the generated code (past Janino limits —
  * falling back to interpreted evaluation) and makes a 64-field aggregation
  * row. A single [[TypedImperativeAggregate]] with a primitive-array buffer
  * does the same work in one tight loop per input row, keeps map-side
  * partial aggregation (buffers merge), and shrinks the shuffled state to
  * one binary blob per group.
  */
object SignatureAggs {
  val Lanes = 64
  val MersennePrime = 2147483647L // 2^31 - 1

  /** Deterministic LCG-derived permutation coefficients (shared with the
    * Dedup operator docs). */
  def permA(i: Int): Long = (1103515245L * (i + 1) + 12345L) % MersennePrime match {
    case 0 => 1L; case a => a
  }
  def permB(i: Int): Long = (69069L * (i + 7) + 362437L) % MersennePrime

  private val as: Array[Long] = Array.tabulate(Lanes)(permA)
  private val bs: Array[Long] = Array.tabulate(Lanes)(permB)

  /** MinHash signature: per lane i, min over inputs of (a_i*h + b_i) mod P.
    * Input: a base hash in [0, P) (e.g. pmod(xxhash64(shingle), P)).
    * Output: array<long> of 64 lane minima.
    */
  case class MinHashSig(
      child: Expression,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

    override def createAggregationBuffer(): Array[Long] = Array.fill(Lanes)(Long.MaxValue)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val h = v.asInstanceOf[Long]
        var i = 0
        while (i < Lanes) {
          val x = (as(i) * h + bs(i)) % MersennePrime
          if (x < buf(i)) buf(i) = x
          i += 1
        }
      }
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < Lanes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(Lanes * 8)
      buf.foreach(bb.putLong)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = ByteBuffer.wrap(bytes)
      Array.fill(Lanes)(bb.getLong)
    }

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(n: Int): MinHashSig = copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): MinHashSig = copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
    override def prettyName: String = "minhash_sig"
  }

  /** SimHash signature: per bit b, sign of sum over inputs of ±1 depending
    * on bit b of the input hash. Input: any 64-bit hash (e.g. xxhash64 of a
    * token). Output: the 64-bit signature as a long.
    */
  case class SimHashSig(
      child: Expression,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Int]] with UnaryLike[Expression] {

    override def createAggregationBuffer(): Array[Int] = new Array[Int](Lanes)

    override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
      val v = child.eval(input)
      if (v != null) {
        val h = v.asInstanceOf[Long]
        var b = 0
        while (b < Lanes) {
          buf(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      buf
    }

    override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
      var i = 0
      while (i < Lanes) { b1(i) += b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Int]): Any = {
      var sig = 0L
      var b = 0
      while (b < Lanes) { if (buf(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }

    override def serialize(buf: Array[Int]): Array[Byte] = {
      val bb = ByteBuffer.allocate(Lanes * 4)
      buf.foreach(bb.putInt)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Int] = {
      val bb = ByteBuffer.wrap(bytes)
      Array.fill(Lanes)(bb.getInt)
    }

    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(n: Int): SimHashSig = copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): SimHashSig = copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(c: Expression): SimHashSig = copy(child = c)
    override def prettyName: String = "simhash_sig"
  }

  /** Bounded min-k id collector: the k smallest input longs, sorted
    * ascending — `collect_list` with a hard memory ceiling. Built for LSH
    * band-bucket candidate generation ([[graft.operators.Dedup
    * .BandBucketCap]]): a bucket's members are aggregated into ONE array,
    * and the bound makes a corpus-hot bucket (millions of byte-identical
    * boilerplate docs banding together) cost `limit` longs of buffer
    * instead of an unbounded list — the aggregate itself is the cap's
    * skew armor. A group with MORE than `limit − 1` members evaluates to
    * a `limit`-sized array, which the caller's `size(ids) <= cap` filter
    * (with limit = cap + 1) drops; a sub-cap group keeps ALL its ids, so
    * the retained output is exact, deterministic (smallest ids win —
    * independent of partitioning/merge order), and pre-sorted for
    * ordered pair expansion. Map-side partial aggregation applies:
    * buffers merge by insert-and-trim.
    *
    * Buffer = one primitive long[limit + 1] (slot 0 holds the size, the
    * sorted ids follow) — a group's entire aggregation state is ~one
    * cache line with ZERO boxing; duplicate inserts (merge replay) are
    * dropped, a full buffer rejects a candidate ≥ its max in one
    * compare (the overwhelmingly common path on hot buckets), and an
    * admitted candidate costs one binary search + one bounded
    * arraycopy. */
  case class BoundedMinIds(
      child: Expression,
      limit: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]]
      with UnaryLike[Expression] {
    require(limit > 0, s"bounded_min_ids: limit must be positive, got $limit")

    override def createAggregationBuffer(): Array[Long] = new Array[Long](limit + 1)

    private def add(buf: Array[Long], h: Long): Unit = {
      val n = buf(0).toInt
      if (n == limit && h >= buf(n)) return
      var lo = 1; var hi = n // insertion point in buf[1..n], ascending
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (buf(mid) < h) lo = mid + 1
        else if (buf(mid) > h) hi = mid - 1
        else return // already present (ids are distinct per group; merge replays aren't)
      }
      val keep = if (n == limit) n - 1 else n
      if (keep + 1 - lo > 0) System.arraycopy(buf, lo, buf, lo + 1, keep + 1 - lo)
      buf(lo) = h
      if (n < limit) buf(0) = n + 1
    }

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) add(buf, v.asInstanceOf[Long])
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      val n2 = b2(0).toInt
      var i = 1
      while (i <= n2) { add(b1, b2(i)); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any =
      new GenericArrayData(java.util.Arrays.copyOfRange(buf, 1, buf(0).toInt + 1))

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val n = buf(0).toInt
      val bb = ByteBuffer.allocate(4 + n * 8)
      bb.putInt(n)
      var i = 1
      while (i <= n) { bb.putLong(buf(i)); i += 1 }
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new Array[Long](limit + 1)
      buf(0) = n
      var i = 1
      while (i <= n) { buf(i) = bb.getLong; i += 1 }
      buf
    }

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(n: Int): BoundedMinIds = copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): BoundedMinIds = copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(c: Expression): BoundedMinIds = copy(child = c)
    override def prettyName: String = "bounded_min_ids"
  }

  /** Bounded top-k (score, id) collector: the k best pairs under
    * (score DESC, id ASC) — exactly the ordering of the ANN family's
    * `row_number() OVER (PARTITION BY query ORDER BY c DESC, neighbor)`
    * close, as a HEAP-BOUNDED aggregate instead of a per-group sort. The
    * window form sorts each query's entire candidate set (corpus-sized
    * for the exact/brute-force ground truth — the one remaining
    * super-linear-memory shape in the similarity family); this buffer
    * holds k entries per group, merges map-side, and evaluates to the
    * rank-ordered array<struct<id, score>> the caller posexplodes into
    * (neighbor_id, rank) rows. Same total order as the window (Java's
    * Double.compare places NaN largest, matching Spark's DESC ordering),
    * ids unique within a group by construction, so the emitted top-k set
    * AND order are value-identical to the window form.
    *
    * Buffer = two parallel primitive arrays in rank order (best first)
    * behind one size field — no boxing, no tree nodes. A full buffer
    * rejects a candidate at-or-below its worst entry in ONE compare (the
    * overwhelmingly common path once the heap warms: most of a corpus
    * scan loses to the running top-k); an admitted candidate costs one
    * binary search + two bounded arraycopies. */
  final class TopKBuf(val scores: Array[Double], val ids: Array[Long]) {
    var n: Int = 0
  }

  case class TopKPairs(
      score: Expression,
      id: Expression,
      k: Int,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[TopKBuf] {
    require(k > 0, s"top_k_pairs: k must be positive, got $k")

    override def createAggregationBuffer(): TopKBuf =
      new TopKBuf(new Array[Double](k), new Array[Long](k))

    // (score DESC, id ASC): negative = a ranks before b. `+ 0.0`
    // normalizes -0.0 to +0.0 so the order matches the row_number
    // window (and DuckDB), which treat them as equal and tie-break by
    // id — Double.compare alone would rank -0.0 below +0.0.
    private def cmp(aS: Double, aI: Long, bS: Double, bI: Long): Int = {
      val c = java.lang.Double.compare(bS + 0.0, aS + 0.0)
      if (c != 0) c else java.lang.Long.compare(aI, bI)
    }

    private def add(buf: TopKBuf, s: Double, i: Long): Unit = {
      val n = buf.n
      if (n == k && cmp(s, i, buf.scores(n - 1), buf.ids(n - 1)) >= 0) return
      var lo = 0; var hi = n - 1 // insertion point in rank order
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = cmp(buf.scores(mid), buf.ids(mid), s, i)
        if (c < 0) lo = mid + 1
        else if (c > 0) hi = mid - 1
        else return // identical (score, id): merge replay duplicate
      }
      val keep = if (n == k) n - 1 else n
      if (keep - lo > 0) {
        System.arraycopy(buf.scores, lo, buf.scores, lo + 1, keep - lo)
        System.arraycopy(buf.ids, lo, buf.ids, lo + 1, keep - lo)
      }
      buf.scores(lo) = s
      buf.ids(lo) = i
      if (n < k) buf.n = n + 1
    }

    override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
      val s = score.eval(input)
      val i = id.eval(input)
      if (s != null && i != null)
        add(buf, s.asInstanceOf[Double], i.asInstanceOf[Long])
      buf
    }

    override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = {
      var i = 0
      while (i < b2.n) { add(b1, b2.scores(i), b2.ids(i)); i += 1 }
      b1
    }

    override def eval(buf: TopKBuf): Any = {
      val out = new Array[Any](buf.n)
      var i = 0
      while (i < buf.n) { out(i) = InternalRow(buf.ids(i), buf.scores(i)); i += 1 }
      new GenericArrayData(out)
    }

    override def serialize(buf: TopKBuf): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + buf.n * 16)
      bb.putInt(buf.n)
      var i = 0
      while (i < buf.n) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): TopKBuf = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = new TopKBuf(new Array[Double](k), new Array[Long](k))
      buf.n = n
      var i = 0
      while (i < n) { buf.scores(i) = bb.getDouble; buf.ids(i) = bb.getLong; i += 1 }
      buf
    }

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))), containsNull = false)
    override def nullable: Boolean = false
    override def children: Seq[Expression] = Seq(score, id)
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): TopKPairs = copy(score = cs(0), id = cs(1))
    override def withNewMutableAggBufferOffset(n: Int): TopKPairs = copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): TopKPairs = copy(inputAggBufferOffset = n)
    override def prettyName: String = "top_k_pairs"
  }

  /** Elementwise sum of long-array columns — the Lloyd loop's centroid
    * accumulator. The posexplode formulation shuffles corpus × dim rows
    * per iteration to sum per (cell, pos); this aggregate folds each
    * vector into one dim-sized buffer per cell (lazily sized from the
    * first input), merges map-side, and ships k × dim longs total.
    * Exact integer sums, order-independent — value-identical to the
    * exploded groupBy. */
  case class LongVecSum(
      child: Expression,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

    override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v == null) return buf
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val b = if (buf.isEmpty) new Array[Long](arr.numElements()) else buf
      require(arr.numElements() == b.length,
        s"long_vec_sum: ragged input — vector of ${arr.numElements()} elements " +
          s"after buffer sized ${b.length}; all vectors in a group must share one length")
      var i = 0
      while (i < b.length) { b(i) += arr.getLong(i); i += 1 }
      b
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      if (b1.isEmpty) return b2
      if (b2.isEmpty) return b1
      require(b1.length == b2.length,
        s"long_vec_sum: merging buffers of unequal length ${b1.length} vs ${b2.length}")
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + buf.length * 8)
      bb.putInt(buf.length)
      buf.foreach(bb.putLong)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      Array.fill(n)(bb.getLong)
    }

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(n: Int): LongVecSum = copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): LongVecSum = copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(c: Expression): LongVecSum = copy(child = c)
    override def prettyName: String = "long_vec_sum"
  }
}
