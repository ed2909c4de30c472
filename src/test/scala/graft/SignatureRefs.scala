package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The definitional formulations of the two per-document signatures,
  * spelled out as explode → aggregate plans. The library computes each
  * signature by one row-local kernel only (`Dedup.minHashSignatures`,
  * `Dedup.simHashSignatures`); the specs hold it to these references,
  * which share no code with the kernels. */
private[graft] object SignatureRefs {

  /** MinHash (id, m0 … m{k−1}) over an (id, s) shingle-occurrence
    * table: m_j = min over the doc's shingles of md5("{j}|" + s). */
  def minHash(sh: DataFrame, numHashes: Int = 8): DataFrame = {
    val mins = (0 until numHashes).map(j =>
      min(md5(concat_ws("|", lit(j.toString), col("s")).cast("binary"))).as(s"m$j"))
    sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** SimHash (id, simhash) in the DuckDB oracle's arithmetic: per
    * (doc, token) occurrence counts, bit j's ±1 vote from bit j%4 of
    * hex nibble j/4 of the token's md5, one sum per bit, '1' where the
    * sum is positive. Docs with no non-empty token have no row. */
  def simHash(docs: DataFrame, textCol: String, idCol: String,
      nBits: Int): DataFrame = {
    val nHex = nBits / 4
    val tokc = docs.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", substring(md5(col("tok").cast("binary")), 1, nHex))
    val withNibs = (0 until nHex).foldLeft(tokc) { (df, k) =>
      df.withColumn(s"n$k",
        expr(s"instr('0123456789abcdef', substring(h, ${k + 1}, 1)) - 1"))
    }
    val bitSums = (0 until nBits).map { j =>
      val p = 1 << (j % 4)
      sum(col("cnt") * ((col(s"n${j / 4}").divide(p).cast("int") % 2) * 2 - 1)).as(s"b$j")
    }
    val sig = concat((0 until nBits).map(j =>
      when(col(s"b$j") > 0, "1").otherwise("0")): _*)
    withNibs.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sig.as("simhash"))
  }
}
