package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** IVF-PQ composition (Similarity.ivfPqIndex / ivfPqTopK): the coarse
  * probe must prune which lists are READ (partition pruning on a
  * cid-partitioned index), an exhaustive probe must equal the plain
  * PQ scan (same codes, same ADC), and the probed search must hold a
  * measured recall floor. */
class IvfPqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01" // 500 vectors
  private lazy val emb = graft.queries.t(spark, sf, "embeddings")
  private lazy val centroids =
    Similarity.ivfCentroids(emb, col("vec_id"), col("embedding"))
  private lazy val model =
    Similarity.pqTrain(emb, col("vec_id"), col("embedding"))
  private lazy val index = Similarity
    .ivfPqIndex(emb, col("vec_id"), col("embedding"), centroids, model)

  private lazy val q = emb.filter(col("vec_id") === 7L)
    .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)

  test("index is (id, cid, codes) with coarse ids and byte codes in shape") {
    val rows = index.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < centroids.size)
      assert(r.getAs[Array[Byte]](2).length == model.m)
    }
  }

  test("exhaustive probe (nprobe = nClusters) equals the plain PQ scan") {
    val viaIvf = Similarity.ivfPqTopK(index, q, 20, centroids, model,
        nprobe = centroids.size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaPq = Similarity.pqTopK(
        Similarity.pqEncodeCorpus(emb, col("vec_id"), col("embedding"), model),
        col("id"), col("codes"), q, 20, model)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIvf == viaPq)
  }

  test("a cid-partitioned index gives the probe PARTITION PRUNING") {
    val dir = graft.etl.Scratch.dir("graft_ivfpq_idx")
    index.write.mode("overwrite").partitionBy("cid").parquet(dir)
    val persisted = spark.read.parquet(dir)
    val probed = Similarity.ivfPqTopK(persisted, q, 10, centroids, model,
      nprobe = 2)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    // the cid IN (...) probe filter must reach the scan's partition
    // filters — reading nprobe directories, not the corpus
    assert(scanLine.contains("PartitionFilters: [cid"), plan.take(4000))
    assert(!scanLine.contains("PartitionFilters: []"), scanLine)
  }

  test("the DECLARED q_ivfpq_probe partition-prunes its persisted index") {
    // same assertion as above, but on the exact declared code path the
    // oracle hashes (ExtendedQueries.ivfPqIndexPath + the cid filter)
    val probed = SparkEntry.queries("q_ivfpq_probe")(spark, sf)
    val rows = probed.collect()
    assert(rows.length == 10 && rows.map(_.getLong(0)).distinct.length == 10)
    // only the 2 probed lists' cids appear
    assert(rows.map(_.getInt(1)).toSet.subsetOf(
      graft.queries.ExtendedQueries.ivfOracleProbe.toSet))
    val plan = probed.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [cid"), plan.take(4000))
    assert(!scanLine.contains("PartitionFilters: []"), scanLine)
  }

  test("ivfPqAdvance: folds converge to the one-shot index, replay is a marker no-op, pruning survives the swap") {
    val dir = graft.etl.Scratch.dir("graft_ivfpq_adv")
    val idx = s"$dir/index"
    val enc = index.select(col("id").as("vec_id"), col("cid"), col("codes"))
    val n0 = Similarity.ivfPqAdvance(spark, idx,
      enc.filter(col("vec_id") % 2 === 0), "t", 0L)
    val n1 = Similarity.ivfPqAdvance(spark, idx,
      enc.filter(col("vec_id") % 2 =!= 0), "t", 1L)
    assert(n0 == 250 && n1 == 500, s"$n0 / $n1")
    // at-least-once redelivery: the marker makes the replay a no-op
    assert(Similarity.ivfPqAdvance(spark, idx,
      enc.filter(col("vec_id") % 2 =!= 0), "t", 1L) == -1L)
    // and so is a LOWER batch id (monotone marker contract)
    assert(Similarity.ivfPqAdvance(spark, idx,
      enc.filter(col("vec_id") % 2 === 0), "t", 0L) == -1L)
    // the advanced index equals the one-shot build row-for-row
    val adv = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"),
        hex(col("codes"))).collect().toSet
    val oneShot = enc
      .select(col("vec_id"), col("cid").cast("int"),
        hex(col("codes"))).collect().toSet
    assert(adv == oneShot)
    // cid partition dirs survive the leaf swaps → pruning still real
    val probed = spark.read.parquet(idx).filter(col("cid").isin(0, 1))
    probed.collect()
    val scanLine = probed.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [cid"), scanLine)
  }

  test("ivfPqAdvance: an interrupted publish (live gone, complete tmp) recovers on the next fold") {
    // the fold's crash windows: a first fold that crashed before its
    // first leaf swap leaves NO live index, only the complete tmp; a
    // later fold that crashed mid-loop leaves some lists new, some old
    // and a complete tmp holding the unswapped suffix. The next call
    // must recover either BEFORE reading — otherwise it would fold
    // into an empty index, or lose the unswapped lists' non-batch rows
    val dir = graft.etl.Scratch.dir("graft_ivfpq_crash")
    val idx = s"$dir/index"
    val enc = index.select(col("id").as("vec_id"), col("cid"), col("codes"))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpDone = new org.apache.hadoop.fs.Path(idx + "_tmp_leaf/_SUCCESS")
    val evens = enc.filter(col("vec_id") % 2 === 0)
    intercept[IllegalStateException] {
      Similarity.ivfPqAdvance(spark, idx, evens, "t", 0L, failAfterSwaps = 0)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx)) && fs.exists(tmpDone))
    // the redelivered batch 0 lands on the RECOVERED lists (the
    // per-cid upsert makes the re-fold a content no-op)
    assert(Similarity.ivfPqAdvance(spark, idx, evens, "t", 0L) == 250L)
    // batch 1 touches every cid; inject a crash after ONE list swapped
    val odds = enc.filter(col("vec_id") % 2 =!= 0)
    intercept[IllegalStateException] {
      Similarity.ivfPqAdvance(spark, idx, odds, "t", 1L, failAfterSwaps = 1)
    }
    assert(fs.exists(tmpDone), "crash simulation must leave the complete tmp behind")
    // the next call resumes the interrupted swap loop, then re-folds
    assert(Similarity.ivfPqAdvance(spark, idx, odds, "t", 1L) == 500L)
    assert(spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet == enc
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet)
    // batch 0's marker survived (root markers are never swapped away)
    assert(Similarity.ivfPqAdvance(spark, idx, evens, "t", 0L) == -1L,
      "batch 0's applied marker must survive the recovery")
  }

  test("ivfPqRemove: tombstones drop, adds interleave, a replayed remove is a monotone no-op") {
    val dir = graft.etl.Scratch.dir("graft_ivfpq_rm")
    val idx = s"$dir/index"
    val enc = index.select(col("id").as("vec_id"), col("cid"), col("codes"))
    // add(evens) → remove(multiples of 4) → add(odds), one marker line
    assert(Similarity.ivfPqAdvance(spark, idx,
      enc.filter(col("vec_id") % 2 === 0), "t", 0L) == 250L)
    val afterRm = Similarity.ivfPqRemove(spark, idx,
      enc.filter(col("vec_id") % 4 === 0).select(col("vec_id")), "t", 1L)
    assert(afterRm == 125L, s"survivors after remove: $afterRm")
    assert(Similarity.ivfPqAdvance(spark, idx,
      enc.filter(col("vec_id") % 2 =!= 0), "t", 2L) == 375L)
    // the replayed REMOVE lands after the later add: the monotone
    // marker (1 ≤ 2) must no-op it — re-applying the delete here
    // would be wrong even though its target rows no longer exist in
    // the same form (delete-ness is a point in the fold sequence)
    assert(Similarity.ivfPqRemove(spark, idx,
      enc.filter(col("vec_id") % 4 === 0).select(col("vec_id")), "t", 1L)
      == -1L)
    // converges to the one-shot build over the surviving set
    val got = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"),
        hex(col("codes"))).collect().toSet
    val want = enc.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), col("cid").cast("int"),
        hex(col("codes"))).collect().toSet
    assert(got == want)
    // cid partition dirs survive the remove's leaf swaps
    val probed = spark.read.parquet(idx).filter(col("cid").isin(0, 1))
    probed.collect()
    val scanLine = probed.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [cid"), scanLine)
  }

  test("ivfPqRemove: recovers an interrupted publish; removing from a missing index raises") {
    val dir = graft.etl.Scratch.dir("graft_ivfpq_rmcrash")
    val idx = s"$dir/index"
    val enc = index.select(col("id").as("vec_id"), col("cid"), col("codes"))
    // a remove with NO index at all is a caller bug, not a no-op
    intercept[IllegalArgumentException] {
      Similarity.ivfPqRemove(spark, idx,
        enc.select(col("vec_id")).limit(1), "t", 0L)
    }
    assert(Similarity.ivfPqAdvance(spark, idx, enc, "t", 0L) == 500L)
    // tombstones touch every list; crash after ONE list swapped
    val tomb = enc.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
    intercept[IllegalStateException] {
      Similarity.ivfPqRemove(spark, idx, tomb, "t", 1L, failAfterSwaps = 1)
    }
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx + "_tmp_leaf/_SUCCESS")))
    // the replayed remove resumes the loop, then re-folds (idempotent)
    assert(Similarity.ivfPqRemove(spark, idx, tomb, "t", 1L) >= 0L)
    val got = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet
    val want = enc.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet
    assert(got == want)
    assert(Similarity.ivfPqAdvance(spark, idx, enc, "t", 0L) == -1L,
      "batch 0's marker must survive the crash + resume")
  }

  test("ivfPqAdvance: only touched lists rewrite; upsert replay converges") {
    val dir = graft.etl.Scratch.dir("graft_ivfpq_leaf")
    val idx = s"$dir/index"
    val enc = index.select(col("id").as("vec_id"), col("cid"), col("codes"))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafFiles(cid: Int): Seq[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(s"$idx/cid=$cid")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).map(s => (s.getPath.getName, s.getModificationTime))
        .toSeq.sortBy(_._1)
    }
    val n0 = Similarity.ivfPqAdvance(spark, idx,
      enc.filter(col("vec_id") % 2 === 0), "t", 0L)
    assert(n0 == 250L)
    val untouchedBefore = (1 to 3).map(leafFiles)
    // second fold touches ONLY cid 0 — the O(touched lists) claim is
    // that the other lists' files are not rewritten (same names and
    // mtimes)
    val batch1 = enc.filter(col("vec_id") % 2 =!= 0 && col("cid") === 0)
    val n1 = Similarity.ivfPqAdvance(spark, idx, batch1, "t", 1L)
    assert(n1 > 0L)
    assert((1 to 3).map(leafFiles) == untouchedBefore,
      "an untouched cid list was rewritten by a fold")
    // content = evens ∪ (odds assigned to cid 0), exactly once each
    val got = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet
    val want = enc.filter(col("vec_id") % 2 === 0 ||
        (col("vec_id") % 2 =!= 0 && col("cid") === 0))
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet
    assert(got == want)
    // marker pruning with tmp == live (r17 ADVICE): the root must not
    // accumulate one `_applied_` file per batch — only the highest id
    // per tag survives each fold
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).filter(_.startsWith("_applied_")).toSeq
    assert(markers == Seq("_applied_t_1"), markers.toString)
    // marker no-op on clean replay...
    assert(Similarity.ivfPqAdvance(spark, idx, batch1, "t", 1L) == -1L)
    // ...and CONVERGENCE when the marker is gone (the fold's
    // correctness story: the per-cid upsert, not the marker — a
    // blind union fold would duplicate every batch row here)
    fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .filter(_.getPath.getName.startsWith("_applied_"))
      .foreach(m => fs.delete(m.getPath, false))
    assert(Similarity.ivfPqAdvance(spark, idx, batch1, "t", 1L) == n1)
    assert(spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet == want)
  }

  test("ivfPqRemove: only tombstoned lists rewrite; an emptied list's dir is deleted") {
    val dir = graft.etl.Scratch.dir("graft_ivfpq_rmleaf")
    val idx = s"$dir/index"
    val enc = index.select(col("id").as("vec_id"), col("cid"), col("codes"))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafFiles(cid: Int): Seq[(String, Long)] = {
      val p = new org.apache.hadoop.fs.Path(s"$idx/cid=$cid")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).map(s => (s.getPath.getName, s.getModificationTime))
        .toSeq.sortBy(_._1)
    }
    assert(Similarity.ivfPqAdvance(spark, idx, enc, "t", 0L) == 500L)
    val untouchedBefore = (2 to 3).map(leafFiles)
    // tombstones: every cid-1 row (empties the list) + the even ids of
    // cid 0 (partial) — cids 2,3 are untouched and must not rewrite
    val tomb = enc.filter(col("cid") === 1 ||
        (col("cid") === 0 && col("vec_id") % 2 === 0))
      .select(col("vec_id"))
    val n1 = Similarity.ivfPqRemove(spark, idx, tomb, "t", 1L)
    val wantSurvivors = enc.filter(col("cid") === 0 && col("vec_id") % 2 =!= 0)
      .count()
    assert(n1 == wantSurvivors, s"touched-list survivors: $n1")
    assert((2 to 3).map(leafFiles) == untouchedBefore,
      "an untombstoned cid list was rewritten by a remove")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/cid=1")),
      "a fully-emptied list's live dir must be deleted")
    val got = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet
    val want = enc.filter(col("cid") >= 2 ||
        (col("cid") === 0 && col("vec_id") % 2 =!= 0))
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet
    assert(got == want)
    // replay: marker no-op, then marker-less convergence (row-level
    // idempotence of removal — the fold's correctness story)
    assert(Similarity.ivfPqRemove(spark, idx, tomb, "t", 1L) == -1L)
    fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .filter(_.getPath.getName.startsWith("_applied_"))
      .foreach(m => fs.delete(m.getPath, false))
    Similarity.ivfPqRemove(spark, idx, tomb, "t", 1L)
    assert(spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet == want)
  }

  test("ivfPqRemove: caller-provided cid column skips the index scan; unknown tombstones are a marked no-op") {
    val dir = graft.etl.Scratch.dir("graft_ivfpq_rmleafcid")
    val idx = s"$dir/index"
    val enc = index.select(col("id").as("vec_id"), col("cid"), col("codes"))
    assert(Similarity.ivfPqAdvance(spark, idx, enc, "t", 0L) == 500L)
    // tombstones WITH their cid assignment (the production reverse-
    // lookup shape): only cid 2's evens go
    val tomb = enc.filter(col("cid") === 2 && col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("cid"))
    val n1 = Similarity.ivfPqRemove(spark, idx, tomb, "t", 1L)
    assert(n1 == enc.filter(col("cid") === 2 && col("vec_id") % 2 =!= 0).count())
    val got = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet
    val want = enc.filter(col("cid") =!= 2 ||
        (col("cid") === 2 && col("vec_id") % 2 =!= 0))
      .select(col("vec_id"), col("cid").cast("int"), hex(col("codes")))
      .collect().toSet
    assert(got == want)
    // tombstones that live in NO list: content no-op, but the batch
    // still marks (redelivery must not rescan the index)
    import spark.implicits._
    val ghost = Seq(100000L, 100001L).toDF("vec_id")
    assert(Similarity.ivfPqRemove(spark, idx, ghost, "t", 2L) == 0L)
    assert(Similarity.ivfPqRemove(spark, idx, ghost, "t", 2L) == -1L)
  }

  test("the DECLARED q_ivfpq_remove probes the surviving set and partition-prunes") {
    val rm = SparkEntry.queries("q_ivfpq_remove")(spark, sf)
    val rows = rm.collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // no tombstoned id may surface
    assert(rows.forall(_.getLong(0) % 4 != 0))
    assert(rows.map(_.getInt(1)).toSet.subsetOf(
      graft.queries.ExtendedQueries.ivfOracleProbe.toSet))
    val plan = rm.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [cid"), plan.take(4000))
    assert(!scanLine.contains("PartitionFilters: []"), scanLine)
  }

  test("the DECLARED q_ivfpq_leafwise equals q_ivfpq_remove and partition-prunes") {
    // the crash-and-resume build converges to the same surviving set,
    // so its index must reproduce the q_ivfpq_remove lifecycle's probe
    // row for row
    val lw = SparkEntry.queries("q_ivfpq_leafwise")(spark, sf)
    val rm = SparkEntry.queries("q_ivfpq_remove")(spark, sf)
    assert(lw.collect().toSeq == rm.collect().toSeq)
    val plan = lw.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [cid"), plan.take(4000))
    assert(!scanLine.contains("PartitionFilters: []"), scanLine)
  }

  test("the DECLARED q_ivfpq_advance equals q_ivfpq_probe and partition-prunes") {
    val adv = SparkEntry.queries("q_ivfpq_advance")(spark, sf)
    val probe = SparkEntry.queries("q_ivfpq_probe")(spark, sf)
    assert(adv.collect().toSeq == probe.collect().toSeq)
    val plan = adv.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("PartitionFilters: [cid"), plan.take(4000))
    assert(!scanLine.contains("PartitionFilters: []"), scanLine)
  }

  test("probed search holds a measured recall floor; rerank never hurts") {
    val qRow = emb.filter(col("vec_id") === 7L)
    val rest = emb.filter(col("vec_id") =!= 7L)
    val restIdx = index.filter(col("id") =!= 7L)
    val exact = Similarity.bruteForceTopK(rest, col("vec_id"),
        col("embedding"), qRow, col("embedding"), 10)
      .collect().map(_.getLong(0)).toSet
    def recall(nprobe: Int, depth: Int): Double = {
      val got = Similarity.ivfPqTopK(restIdx, q, 10, centroids, model,
          nprobe = nprobe,
          rerank = rest, rerankIdCol = col("vec_id"),
          rerankVecCol = col("embedding"), rerankDepth = depth)
        .collect().map(_.getLong(0)).toSet
      (exact & got).size / 10.0
    }
    val r4 = recall(4, 50)
    val rFull = recall(centroids.size, 50)
    info(s"recall@10: nprobe=4+rr50=$r4 nprobe=16+rr50=$rFull")
    // nprobe=16 reads every list = plain PQ rerank recall (0.8 on this
    // fixture); nprobe=4 reads a quarter of the lists and loses only
    // what the coarse quantizer misranks
    assert(rFull >= 0.7, s"exhaustive-probe recall = $rFull")
    assert(r4 >= 0.3, s"nprobe=4 recall = $r4")
  }
}
