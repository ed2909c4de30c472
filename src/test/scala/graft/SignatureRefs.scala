package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The definitional formulations of the two per-document signatures
  * and of the pairwise shingle Jaccard, spelled out as explode →
  * aggregate plans. The library computes each by one row-local kernel
  * only (`Dedup.minHashSignatures`, `Dedup.simHashSignatures`,
  * `Dedup.jaccardPairs`); the specs hold it to these references,
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

  /** Jaccard (id1, id2, inter, jac) of the given (id1, id2) pairs over
    * an (id, s) shingle-occurrence table, in the DuckDB oracle's
    * formulation (q_dedup_ngram_jaccard): distinct (id, s), per-doc
    * set sizes, an inner join on s, a group-by count. Pairs sharing no
    * shingle have no row; a duplicated input pair double-counts, so
    * pass a set. */
  def jaccard(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val shd = sh.select(col("id"), col("s")).distinct()
    val sizes = shd.groupBy(col("id")).agg(count(lit(1)).as("n"))
    pairs.select(col("id1"), col("id2"))
      .join(shd.toDF("id1", "s"), "id1")
      .join(shd.toDF("id2", "s"), Seq("id2", "s"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("id1", "n1"), "id1")
      .join(sizes.toDF("id2", "n2"), "id2")
      .select(col("id1"), col("id2"), col("inter"),
        (col("inter") / (col("n1") + col("n2") - col("inter"))).as("jac"))
  }
}
