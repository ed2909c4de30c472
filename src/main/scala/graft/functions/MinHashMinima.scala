package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass MinHash minima over a shingle array: the
  * `numHashes`-element array whose j-th entry is
  * `min(md5Hex("{j}|" + shingle))` — byte-identical to the column
  * formulation `min(md5(concat_ws("|", lit(j), s)))` per permutation
  * over the exploded shingles (lowercase-hex md5 strings compare
  * lexicographically exactly as their digest bytes compare unsigned,
  * so tracking the 16-byte digests and hex-encoding the winners at the
  * end is the same minimum).
  *
  * Why a kernel: the row-local (stateless, stream-safe) MinHash path
  * ran `numHashes` separate interpreted HOF transforms per document,
  * each re-walking the shingle array through per-element lambda
  * dispatch and allocating an intermediate md5-string array — the
  * same CodegenFallback tax [[SimHashSign]] retired for SimHash. One
  * pass here: per shingle, `numHashes` digest updates over a reused
  * MessageDigest, minima tracked as raw digest bytes, zero
  * intermediate arrays. The md5 arithmetic itself is unchanged (it is
  * the signature contract), so the win is the dispatch and
  * allocation, not the hashing.
  *
  * Null array → null; a null element → null (the HOF form's null
  * element poisons `array_min` to null silently for that permutation
  * — null is the loud, row-uniform version). This kernel is the one
  * per-document MinHash path: `Dedup.minHashSignatures`,
  * `Dedup.lshBandKeys` and CorpusClean's near-dup step all run it,
  * batch and stream alike. [[MinHashAgg]] is for signatures that are
  * a real aggregate over MANY documents (`SketchRollup`'s per-group
  * sketch).
  */
case class MinHashMinima(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes >= 1 && numHashes <= 64,
    s"numHashes must be in [1,64], got $numHashes")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_minhash_minima"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
  }

  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any): Any =
    MinHashMinima.minima(a.asInstanceOf[ArrayData], numHashes)

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the whole pass lives in one compiled static helper — the codegen
    // body is a single call, so the surrounding stage stays inside
    // whole-stage codegen and the per-row work is JIT-compiled Scala,
    // not interpreted expression-tree walking
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.GenericArrayData)
         |  graft.functions.MinHashMinima.minima($a, $numHashes);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashMinima {
  private val hexChars = "0123456789abcdef".toCharArray

  /** One pass over the shingle array; null on a null element. Public
    * static so generated code can call it. */
  def minima(arr: ArrayData, numHashes: Int): GenericArrayData = {
    val n = arr.numElements()
    // empty shingle array: every per-permutation array_min would be
    // null — the whole result is null here (observably identical
    // through getItem, and it keeps the element type non-nullable);
    // callers filter empty docs first (lshBandKeys does)
    if (n == 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    // per-permutation seed prefix bytes: "0|", "1|", ...
    val prefixes = Array.tabulate(numHashes)(j =>
      (j.toString + "|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mins = new Array[Array[Byte]](numHashes)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val sb = arr.getUTF8String(i).getBytes
      var j = 0
      while (j < numHashes) {
        md.reset()
        md.update(prefixes(j))
        md.update(sb)
        val d = md.digest()
        if (mins(j) == null || unsignedLess(d, mins(j))) mins(j) = d
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](numHashes)
    var j = 0
    while (j < numHashes) {
      out(j) = UTF8String.fromString(hex(mins(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  private def hex(d: Array[Byte]): String = {
    val c = new Array[Char](32)
    var i = 0
    while (i < 16) {
      c(i * 2) = hexChars((d(i) >> 4) & 0xf)
      c(i * 2 + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(c)
  }

  /** SQL builder: `graft_minhash_minima(shingles, numHashes)`,
    * literal numHashes. */
  private[graft] def build(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"graft_minhash_minima requires (shingles, numHashes), got ${children.length} arguments")
    MinHashMinima(children.head, TopKAgg.foldableInt(children(1), "numHashes"))
  }
}
