package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MinHashAgg

/** graft.functions.MinHashAgg — the one-pass typed aggregate must be
  * byte-identical to the 8-column min(md5) formulation, and must plan
  * as ObjectHashAggregate (the point of its existence). */
class MinHashAggSpec extends AnyFunSuite {
  import TestSpark._

  private def docShingles = {
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
    ops.Dedup.shingles(docs, col("text"), col("doc_id"))
  }

  /** (id, m0..m7) from one MinHashAgg per group of shingle rows. */
  private def viaAgg(sh: DataFrame): DataFrame =
    sh.groupBy(col("id")).agg(MinHashAgg.minhash(col("s"), 8).as("mh"))
      .select(col("id") +: (0 until 8).map(j => col("mh").getItem(j).as(s"m$j")): _*)

  test("one-pass sketch equals the column formulation exactly") {
    val slow = SignatureRefs.minHash(docShingles, 8)
    val fast = viaAgg(docShingles)
    assert(slow.schema.fieldNames.toSeq == fast.schema.fieldNames.toSeq)
    assert(slow.exceptAll(fast).isEmpty && fast.exceptAll(slow).isEmpty)
    assert(slow.count() == fast.count())
  }

  test("plans as ObjectHashAggregate, not SortAggregate") {
    val p = viaAgg(docShingles).queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("merge across partitions: repartitioned input gives same result") {
    val sh = docShingles
    val a = viaAgg(sh.repartition(13))
    val b = viaAgg(sh.coalesce(1))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
