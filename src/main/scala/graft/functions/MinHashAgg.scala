package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash sketch as a single-pass typed aggregate — for signatures
  * that are a real aggregate over many documents (`SketchRollup`'s
  * per-group sketch). A per-DOCUMENT signature is row-local and runs
  * the [[MinHashMinima]] kernel instead (`Dedup.minHashSignatures`).
  *
  * Semantics are IDENTICAL to the column formulation
  * `min(md5(concat_ws("|", lit(j), value)))` per seed j — the
  * lexicographic minimum of `md5hex("{j}|{value}")` over the group
  * (the MinHashAggSpec reference) — but all `numHashes` minima live
  * in ONE fixed-size buffer updated in one pass. Planner-wise that means a single ObjectHashAggregate instead
  * of `numHashes` variable-width string-min buffers, which Spark's
  * HashAggregate cannot hold (it falls back to SortAggregate — a sort
  * per grouping on both the partial and final sides).
  *
  * The buffer is `numHashes` 16-byte digests; partial aggregation and
  * merge are elementwise unsigned-byte minima (associative +
  * commutative → safe under any partitioning, map-side combinable).
  * Hex-string comparison and unsigned byte comparison order md5 values
  * identically, so `eval` re-hexes the digests and matches the column
  * formulation (and the DuckDB oracle) byte for byte.
  *
  * Returns ARRAY<STRING> of length `numHashes` (null-input groups
  * yield null elements — they cannot occur for non-null children).
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int = 8,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Array[Byte]]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  override def createAggregationBuffer(): Array[Array[Byte]] =
    Array.fill[Array[Byte]](numHashes)(null)

  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  // Hot-path allocations hoisted out of update(): the JCA provider
  // lookup (MessageDigest.getInstance) and the per-seed prefix bytes
  // would otherwise run once per input ROW (× numHashes for the
  // prefixes). Thread-local digest: one Expression instance can serve
  // concurrent tasks in the same executor JVM.
  @transient private lazy val localMd: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  @transient private lazy val seedPrefix: Array[Array[Byte]] =
    Array.tabulate(numHashes)(j => s"$j|".getBytes("UTF-8"))

  override def update(buf: Array[Array[Byte]], input: InternalRow): Array[Array[Byte]] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].getBytes
      val md = localMd.get()
      var j = 0
      while (j < numHashes) {
        md.reset()
        md.update(seedPrefix(j))
        md.update(s)
        val h = md.digest()
        if (buf(j) == null || less(h, buf(j))) buf(j) = h
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Array[Byte]], other: Array[Array[Byte]]): Array[Array[Byte]] = {
    var j = 0
    while (j < numHashes) {
      if (buf(j) == null || (other(j) != null && less(other(j), buf(j))))
        buf(j) = other(j)
      j += 1
    }
    buf
  }

  override def eval(buf: Array[Array[Byte]]): Any = {
    val hex = "0123456789abcdef"
    new GenericArrayData(buf.map { d =>
      if (d == null) null
      else {
        val sb = new java.lang.StringBuilder(32)
        d.foreach { b => sb.append(hex((b >> 4) & 0xf)).append(hex(b & 0xf)) }
        UTF8String.fromString(sb.toString)
      }
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: Array[Array[Byte]]): Array[Byte] = {
    val out = new Array[Byte](numHashes * 17)
    var j = 0
    while (j < numHashes) {
      if (buf(j) != null) {
        out(j * 17) = 1
        System.arraycopy(buf(j), 0, out, j * 17 + 1, 16)
      }
      j += 1
    }
    out
  }

  override def deserialize(bytes: Array[Byte]): Array[Array[Byte]] = {
    val buf = createAggregationBuffer()
    var j = 0
    while (j < numHashes) {
      if (bytes(j * 17) == 1) {
        val d = new Array[Byte](16)
        System.arraycopy(bytes, j * 17 + 1, d, 0, 16)
        buf(j) = d
      }
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MinHashAgg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column API: ARRAY<STRING> of `numHashes` minhash hex minima. */
  def minhash(value: Column, numHashes: Int = 8): Column =
    ColumnBridge.column(
      MinHashAgg(ColumnBridge.expression(value), numHashes).toAggregateExpression())
}
