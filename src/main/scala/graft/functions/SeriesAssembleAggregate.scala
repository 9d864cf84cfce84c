package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Growable parallel primitive buffers: the per-group state of the series
  * assembly is the (t_idx, value) pairs seen so far — two packed arrays, no
  * per-sample objects. */
final class PairBuf(var ts: Array[Long], var vs: Array[Double], var n: Int) {
  def add(t: Long, v: Double): Unit = {
    if (n == ts.length) {
      val cap = math.max(16, ts.length * 2)
      ts = java.util.Arrays.copyOf(ts, cap)
      vs = java.util.Arrays.copyOf(vs, cap)
    }
    ts(n) = t
    vs(n) = v
    n += 1
  }
}

/** Native series assembly: collects (t_idx, value) pairs into packed
  * primitive buffers and emits the values ordered by t_idx — the
  * scale-ingest replacement for `collect_list(struct(t_idx, value))` +
  * a placement UDF over the collected struct array. Semantics are identical:
  * dense pair sets (max - min + 1 == n, the declared LongFrame layout)
  * place each value at `t - min` in O(n); gappy sets fall back to a sort
  * by t_idx.
  *
  * Why native instead of collect_list: the generic aggregate boxes every
  * sample into an InternalRow copy inside an ArrayBuffer and serializes
  * partial buffers as struct arrays (~40 B/sample plus per-sample
  * allocation); this buffer appends two primitives (16 B/sample packed on
  * the shuffle wire, zero allocation per sample). Same one-shuffle plan
  * shape — ObjectHashAggregate with map-side partials — just a cheaper
  * payload, which is what the ingest assembly is bound by at soak scale. */
case class AssembleSeries(tIdx: Expression, value: Expression,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PairBuf] with BinaryLike[Expression] {

  override def left: Expression = tIdx
  override def right: Expression = value
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "assemble_series"

  override def checkInputDataTypes(): TypeCheckResult =
    if (tIdx.dataType == LongType && value.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (bigint, double), got " +
        s"(${tIdx.dataType.simpleString}, ${value.dataType.simpleString})")

  override def createAggregationBuffer(): PairBuf =
    new PairBuf(new Array[Long](16), new Array[Double](16), 0)

  override def update(buf: PairBuf, input: InternalRow): PairBuf = {
    val t = tIdx.eval(input)
    val v = value.eval(input)
    // null t_idx = no slot: skip. null VALUE at a real slot = missing
    // sample: keep the position as NaN (dropping it would silently shift
    // every later sample; a left join legitimately yields nulls for
    // absent rows, and NaN is the reference's missing-sample encoding)
    if (t != null)
      buf.add(t.asInstanceOf[Long],
        if (v == null) Double.NaN else v.asInstanceOf[Double])
    buf
  }

  override def merge(a: PairBuf, b: PairBuf): PairBuf = {
    var i = 0
    while (i < b.n) { a.add(b.ts(i), b.vs(i)); i += 1 }
    a
  }

  override def eval(buf: PairBuf): Any = {
    val n = buf.n
    if (n == 0) return null
    var minT = Long.MaxValue
    var maxT = Long.MinValue
    var i = 0
    while (i < n) {
      val t = buf.ts(i)
      if (t < minT) minT = t
      if (t > maxT) maxT = t
      i += 1
    }
    val out = new Array[Double](n)
    var placed = maxT - minT + 1 == n
    if (placed) {
      // guard against duplicate t_idx masquerading as dense (range == n but
      // a slot written twice): detected -> sort fallback, like any gap
      val seen = new Array[Boolean](n)
      i = 0
      while (placed && i < n) {
        val idx = (buf.ts(i) - minT).toInt
        if (seen(idx)) placed = false
        else { seen(idx) = true; out(idx) = buf.vs(i) }
        i += 1
      }
    }
    if (!placed) {
      val order = Array.range(0, n).sortBy(buf.ts(_))
      i = 0
      while (i < n) { out(i) = buf.vs(order(i)); i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def serialize(buf: PairBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.ts(i)); i += 1 }
    i = 0
    while (i < buf.n) { bb.putDouble(buf.vs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PairBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val ts = new Array[Long](math.max(n, 16))
    val vs = new Array[Double](math.max(n, 16))
    var i = 0
    while (i < n) { ts(i) = bb.getLong; i += 1 }
    i = 0
    while (i < n) { vs(i) = bb.getDouble; i += 1 }
    new PairBuf(ts, vs, n)
  }

  override def withNewMutableAggBufferOffset(offset: Int): AssembleSeries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): AssembleSeries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AssembleSeries =
    copy(tIdx = newLeft, value = newRight)
}

/** Growable parallel primitive buffers for (ts, event_id, value) triples. */
final class TripleBuf(var ts: Array[Long], var ids: Array[Long],
                      var vs: Array[Double], var n: Int) {
  def add(t: Long, id: Long, v: Double): Unit = {
    if (n == ts.length) {
      val cap = math.max(16, ts.length * 2)
      ts = java.util.Arrays.copyOf(ts, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
      vs = java.util.Arrays.copyOf(vs, cap)
    }
    ts(n) = t
    ids(n) = id
    vs(n) = v
    n += 1
  }
}

/** Native timed assembly: collects (ts, event_id, value) triples into packed
  * primitive buffers and emits `struct(values, ts)` ordered by
  * (ts, event_id, value) — the replacement for
  * `array_sort(collect_list(struct(ts, event_id, value)))`, whose struct
  * comparator runs INTERPRETED per element pair (measured 50x the blocked
  * CAR on the same data at the 640M-point soak for the t_idx variant), on
  * the event-time paths that need the per-sample timestamps kept alongside
  * (streaming crossfade windows) or a total order over raw event triples
  * (the events->segments adapter). Same tie-breaking as array_sort's
  * lexicographic struct order. */
case class AssembleTimed(tsExpr: Expression, idExpr: Expression, valueExpr: Expression,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TripleBuf]
  with org.apache.spark.sql.catalyst.trees.TernaryLike[Expression] {

  override def first: Expression = tsExpr
  override def second: Expression = idExpr
  override def third: Expression = valueExpr
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("values",
      ArrayType(DoubleType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("ts",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "assemble_timed"

  override def checkInputDataTypes(): TypeCheckResult =
    if (tsExpr.dataType == LongType && idExpr.dataType == LongType &&
        valueExpr.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (bigint, bigint, double), got " +
        s"(${tsExpr.dataType.simpleString}, ${idExpr.dataType.simpleString}, " +
        s"${valueExpr.dataType.simpleString})")

  override def createAggregationBuffer(): TripleBuf =
    new TripleBuf(new Array[Long](16), new Array[Long](16), new Array[Double](16), 0)

  override def update(buf: TripleBuf, input: InternalRow): TripleBuf = {
    val t = tsExpr.eval(input)
    val id = idExpr.eval(input)
    val v = valueExpr.eval(input)
    // null key = no slot: skip; null VALUE at a real slot stays as NaN so
    // later samples keep their positions (same policy as assemble_series)
    if (t != null && id != null)
      buf.add(t.asInstanceOf[Long], id.asInstanceOf[Long],
        if (v == null) Double.NaN else v.asInstanceOf[Double])
    buf
  }

  override def merge(a: TripleBuf, b: TripleBuf): TripleBuf = {
    var i = 0
    while (i < b.n) { a.add(b.ts(i), b.ids(i), b.vs(i)); i += 1 }
    a
  }

  override def eval(buf: TripleBuf): Any = {
    val n = buf.n
    if (n == 0) return null
    // primitive index sort (no Array[Integer], no comparator object): this
    // runs per group EVAL on the streaming state path of every windowed
    // query, where a group is a whole (channel, window) — boxing n Integers
    // per eval was measurable there
    val order = new Array[Int](n)
    var i = 0
    while (i < n) { order(i) = i; i += 1 }
    AssembleTimed.sortIndices(buf, order, 0, n - 1)
    val vs = new Array[Double](n)
    val ts = new Array[Long](n)
    i = 0
    while (i < n) { vs(i) = buf.vs(order(i)); ts(i) = buf.ts(order(i)); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UnsafeArrayData.fromPrimitiveArray(vs),
        UnsafeArrayData.fromPrimitiveArray(ts)))
  }

  override def serialize(buf: TripleBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 24 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.ts(i)); i += 1 }
    i = 0
    while (i < buf.n) { bb.putLong(buf.ids(i)); i += 1 }
    i = 0
    while (i < buf.n) { bb.putDouble(buf.vs(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TripleBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val ts = new Array[Long](math.max(n, 16))
    val ids = new Array[Long](math.max(n, 16))
    val vs = new Array[Double](math.max(n, 16))
    var i = 0
    while (i < n) { ts(i) = bb.getLong; i += 1 }
    i = 0
    while (i < n) { ids(i) = bb.getLong; i += 1 }
    i = 0
    while (i < n) { vs(i) = bb.getDouble; i += 1 }
    new TripleBuf(ts, ids, vs, n)
  }

  override def withNewMutableAggBufferOffset(offset: Int): AssembleTimed =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): AssembleTimed =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AssembleTimed =
    copy(tsExpr = newFirst, idExpr = newSecond, valueExpr = newThird)
}

object AssembleTimed {

  /** (ts, id, value) lexicographic — array_sort's struct order on
    * (ts, event_id, value). Streaming ts are epoch NANOS (~2^61), so the
    * pack-into-one-long trick is off the table; an index quicksort with the
    * comparison inlined sorts primitives end to end instead. */
  private def cmp(buf: TripleBuf, a: Int, b: Int): Int = {
    val c1 = java.lang.Long.compare(buf.ts(a), buf.ts(b))
    if (c1 != 0) c1
    else {
      val c2 = java.lang.Long.compare(buf.ids(a), buf.ids(b))
      if (c2 != 0) c2 else java.lang.Double.compare(buf.vs(a), buf.vs(b))
    }
  }

  /** Median-of-3 quicksort over the index array `idx(lo..hi)`, insertion
    * sort below 32 elements, smaller partition recursed / larger looped so
    * stack depth stays O(log n) even on adversarial input. Sorting indices
    * (not the buffers) keeps the eval-side copy-out a single ordered pass. */
  private[functions] def sortIndices(buf: TripleBuf, idx: Array[Int],
                                     lo0: Int, hi0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    while (hi - lo >= 32) {
      // median-of-3 pivot from lo/mid/hi values
      val mid = lo + (hi - lo) / 2
      if (cmp(buf, idx(mid), idx(lo)) < 0) swap(idx, mid, lo)
      if (cmp(buf, idx(hi), idx(lo)) < 0) swap(idx, hi, lo)
      if (cmp(buf, idx(hi), idx(mid)) < 0) swap(idx, hi, mid)
      val pivot = idx(mid)
      // Hoare partition
      var i = lo - 1
      var j = hi + 1
      var done = false
      var split = lo
      while (!done) {
        do i += 1 while (cmp(buf, idx(i), pivot) < 0)
        do j -= 1 while (cmp(buf, idx(j), pivot) > 0)
        if (i >= j) { split = j; done = true }
        else swap(idx, i, j)
      }
      if (split - lo < hi - split) {
        sortIndices(buf, idx, lo, split)
        lo = split + 1
      } else {
        sortIndices(buf, idx, split + 1, hi)
        hi = split
      }
    }
    // insertion sort for the base case
    var i = lo + 1
    while (i <= hi) {
      val v = idx(i)
      var j = i - 1
      while (j >= lo && cmp(buf, idx(j), v) > 0) { idx(j + 1) = idx(j); j -= 1 }
      idx(j + 1) = v
      i += 1
    }
  }

  @inline private def swap(a: Array[Int], i: Int, j: Int): Unit = {
    val t = a(i); a(i) = a(j); a(j) = t
  }
}

/** Growable parallel buffers for (offset, value-run) pairs. */
final class BlockBuf(var idx: Array[Long], var blocks: Array[Array[Double]],
                     var n: Int) {
  def add(i: Long, b: Array[Double]): Unit = {
    if (n == idx.length) {
      val cap = math.max(16, idx.length * 2)
      idx = java.util.Arrays.copyOf(idx, cap)
      blocks = java.util.Arrays.copyOf(blocks, cap)
    }
    idx(n) = i
    blocks(n) = b
    n += 1
  }
}

object BlockBuf {
  /** Packed wire format of the fragment buffer:
    * n, then n x (idx: Long, len: Int, len doubles). */
  def write(buf: BlockBuf): Array[Byte] = {
    var bytes = 4 + 12 * buf.n
    var i = 0
    while (i < buf.n) { bytes += 8 * buf.blocks(i).length; i += 1 }
    val bb = java.nio.ByteBuffer.allocate(bytes)
    bb.putInt(buf.n)
    i = 0
    while (i < buf.n) {
      bb.putLong(buf.idx(i))
      val b = buf.blocks(i)
      bb.putInt(b.length)
      var k = 0
      while (k < b.length) { bb.putDouble(b(k)); k += 1 }
      i += 1
    }
    bb.array()
  }

  def read(bytes: Array[Byte]): BlockBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val idx = new Array[Long](math.max(n, 16))
    val blocks = new Array[Array[Double]](math.max(n, 16))
    var i = 0
    while (i < n) {
      idx(i) = bb.getLong
      val len = bb.getInt
      val b = new Array[Double](len)
      var k = 0
      while (k < len) { b(k) = bb.getDouble; k += 1 }
      blocks(i) = b
      i += 1
    }
    new BlockBuf(idx, blocks, n)
  }
}

/** Native fragment assembly: inputs are (sample offset, packed value-run)
  * pairs where each run covers offsets [off, off+len); eval emits the
  * samples ordered by offset. Two callers: the reduce side of the two-level
  * chunked ingest (`Windowing.windowLong`), and blocked-CAR segment
  * reassembly, whose `blockSize`-sample blocks sit at offset
  * `block_idx * blockSize`. Exactly `assemble_series`' semantics lifted
  * from single samples to runs: a perfectly dense offset set (every slot in
  * [minOff, maxEnd) written exactly once) places each run in O(len); gaps,
  * overlaps, or duplicates fall back to a sort of the runs by (offset,
  * insertion order) — for disjoint runs that is the same
  * samples-sorted-by-t compaction assemble_series produces. Null policy
  * like collect_list: a null offset or null run is no slot; null ELEMENTS
  * become NaN, the missing-sample encoding. */
case class AssembleFragments(off: Expression, vals: Expression,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BlockBuf] with BinaryLike[Expression] {

  override def left: Expression = off
  override def right: Expression = vals
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "assemble_fragments"

  override def checkInputDataTypes(): TypeCheckResult = vals.dataType match {
    case ArrayType(DoubleType, _) if off.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (bigint, array<double>), got " +
        s"(${off.dataType.simpleString}, ${vals.dataType.simpleString})")
  }

  override def createAggregationBuffer(): BlockBuf =
    new BlockBuf(new Array[Long](16), new Array[Array[Double]](16), 0)

  override def update(buf: BlockBuf, input: InternalRow): BlockBuf = {
    val i = off.eval(input)
    val v = vals.eval(input)
    if (i != null && v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val out = new Array[Double](arr.numElements())
      var k = 0
      while (k < out.length) {
        out(k) = if (arr.isNullAt(k)) Double.NaN else arr.getDouble(k)
        k += 1
      }
      buf.add(i.asInstanceOf[Long], out)
    }
    buf
  }

  override def merge(a: BlockBuf, b: BlockBuf): BlockBuf = {
    var i = 0
    while (i < b.n) { a.add(b.idx(i), b.blocks(i)); i += 1 }
    a
  }

  override def serialize(buf: BlockBuf): Array[Byte] = BlockBuf.write(buf)
  override def deserialize(bytes: Array[Byte]): BlockBuf = BlockBuf.read(bytes)

  override def eval(buf: BlockBuf): Any = {
    val n = buf.n
    if (n == 0) return null
    var minOff = Long.MaxValue
    var maxEnd = Long.MinValue
    var total = 0L
    var i = 0
    while (i < n) {
      val o = buf.idx(i)
      val e = o + buf.blocks(i).length
      if (o < minOff) minOff = o
      if (e > maxEnd) maxEnd = e
      total += buf.blocks(i).length
      i += 1
    }
    if (total == 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Double](0))
    var out: Array[Double] = null
    if (total == maxEnd - minOff && total <= Int.MaxValue) {
      // dense candidate: sum(len) == covered range rules out gap-free
      // overlap, but an overlap balanced by an equal-size gap still passes —
      // the per-slot seen bitmap catches that and demotes to the fallback
      val len = total.toInt
      val placed = new Array[Double](len)
      val seen = new Array[Boolean](len)
      var ok = true
      i = 0
      while (ok && i < n) {
        val base = (buf.idx(i) - minOff).toInt
        val run = buf.blocks(i)
        var k = 0
        while (ok && k < run.length) {
          val s = base + k
          if (seen(s)) ok = false
          else { seen(s) = true; placed(s) = run(k) }
          k += 1
        }
        i += 1
      }
      if (ok) out = placed
    }
    if (out == null) {
      // gappy/overlapping runs: cold path, runs sorted by (offset,
      // insertion order). CONTRACT: overlap input (duplicate t_idx upstream)
      // is malformed; the fallback orders at RUN granularity only — whole
      // runs concatenate in (offset, arrival) order, samples are not
      // re-sorted individually (a per-sample sort would legitimize duplicate
      // slots a dense series cannot have). Gap-only input still assembles in
      // exact t order.
      out = sortedConcat(buf, total)
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Runs sorted by (offset, insertion order) — boxed, but never taken by
    * well-formed callers — then concatenated. */
  private def sortedConcat(buf: BlockBuf, total: Long): Array[Double] = {
    if (total > Int.MaxValue) throw new IllegalArgumentException(
      s"$prettyName group holds $total samples; arrays cap at ${Int.MaxValue}")
    val order = Array.range(0, buf.n).sortBy(i => (buf.idx(i), i))
    val out = new Array[Double](total.toInt)
    var pos = 0
    var i = 0
    while (i < buf.n) {
      val b = buf.blocks(order(i))
      System.arraycopy(b, 0, out, pos, b.length)
      pos += b.length
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): AssembleFragments =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): AssembleFragments =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AssembleFragments =
    copy(off = newLeft, vals = newRight)
}

/** Column API + SQL registration, same pattern as ComplexArrayFunctions:
  * each name is registered once per session ([[registerIfAbsent]]). */
object SeriesAssembleFunctions {

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    registerIfAbsent(spark, "assemble_series")(exprs => AssembleSeries(exprs(0), exprs(1)))
    registerIfAbsent(spark, "assemble_timed")(
      exprs => AssembleTimed(exprs(0), exprs(1), exprs(2)))
    registerIfAbsent(spark, "assemble_fragments")(
      exprs => AssembleFragments(exprs(0), exprs(1)))
  }

  /** values ordered by tIdx (O(n) placement when tIdx is dense). */
  def assembleSeries(spark: org.apache.spark.sql.SparkSession,
                     tIdx: Column, value: Column): Column = {
    register(spark)
    call_function("assemble_series", tIdx, value)
  }

  /** struct(values, ts) ordered by (ts, eventId, value). */
  def assembleTimed(spark: org.apache.spark.sql.SparkSession,
                    ts: Column, eventId: Column, value: Column): Column = {
    register(spark)
    call_function("assemble_timed", ts, eventId, value)
  }

  /** value-runs placed by sample offset (O(n) when offsets tile densely). */
  def assembleFragments(spark: org.apache.spark.sql.SparkSession,
                        off: Column, vals: Column): Column = {
    register(spark)
    call_function("assemble_fragments", off, vals)
  }
}
