package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{IncrementalAgg, Layout, SketchRollup}
import graft.ops.{BloomPrune, Similarity, SubstrDedup, TrainPrep}
import graft.sources.CorpusIO

/** graft.etl.Swap's one crash window, store by store: a crash between
  * a publish's delete and its rename leaves the complete state only
  * under the tmp name. For every store below, the next entry point must
  * promote it: the state equals a run without the crash, the tmp dir is
  * gone, and a markered store still treats a replay of its last batch
  * as a no-op. (IVF-PQ, the band registry, Skipping, ChangeApply and
  * Scd2 carry their own crash tests.) */
class SwapCrashSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** One store. `publish` writes its first state under a base dir,
    * `live` names the dir a crash strands under `live + tmpName`,
    * `next` is the store's next entry point after the crash, `state`
    * reads its canonical content, and `replay` (markered stores)
    * re-runs the last batch. */
  private case class Store(name: String, live: String => String,
      tmpName: String, publish: String => Unit, next: String => Unit,
      state: String => Seq[String], replay: Option[String => Unit] = None)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---- fold inputs: two disjoint batches per store ----

  private lazy val orders = queries.t(spark, sfTiny, "orders")
    .select("o_orderstatus", "o_totalprice", "o_orderkey")
  private def orderBatch(i: Int) = orders.filter(col("o_orderkey") % 2 === i)

  private val sketchKeys = Seq("lang")
  private val sketchCols = SketchRollup.Columns(
    distinctCol = "doc_id", quantileCol = "n_chars", textCol = "text")
  private lazy val docs = queries.t(spark, sfTiny, "documents")
    .select("lang", "doc_id", "n_chars", "text")
  private def docBatch(i: Int) = docs.filter(col("doc_id") % 2 === i)
  /** The deterministic sketch fields (KLL quantiles are left out). */
  private def sketchState(p: String) = rows(SketchRollup.finalizeState(
    spark.read.parquet(p), sketchKeys).drop("q_0", "q_1"))

  private val boiler = "this text is provided as is without any warranty of any kind"
  private lazy val spreadDocs = Seq(
    (1L, s"a1 a2 a3 $boiler a4"), (2L, s"$boiler b1 b2 b3 b4 b5 b6 b7 b8"),
    (3L, s"c1 c2 $boiler"), (4L, s"d1 d2 d3 d4 d5 d6 d7 d8 d9 $boiler")
  ).toDF("doc_id", "text")
  private def spreadBatch(i: Int) = spreadDocs.filter(col("doc_id") % 2 === i)
  private def advanceSpread(p: String, i: Int) = SubstrDedup.advanceSpreadBatch(
    spark, p, spreadBatch(i), col("text"), col("doc_id"), 4, i.toLong)

  private def evalBatch(i: Int) = Seq(
    Seq(("taskA", "alpha beta gamma delta epsilon zeta")),
    Seq(("taskB", "one two three four five six seven"))
  )(i).toDF("task", "text")

  private def intake(p: String, i: Int) = CorpusIO.advanceIntake(
    spark, p, "doc_id",
    Seq(Seq((1L, "one"), (2L, "two")), Seq((2L, "two-v2"), (3L, "three")))(i)
      .toDF("doc_id", "text"),
    Seq(Seq(("{bad1", "f0")), Seq(("{bad2", "f1"), ("{bad1", "f0")))(i)
      .toDF("raw_line", "file"))
  private def intakeState(p: String) =
    rows(spark.read.parquet(s"$p/clean")) ++ rows(spark.read.parquet(s"$p/quarantine"))

  // ---- model stores: the load must return what was saved ----

  private val ivf = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
  private val pq = Similarity.PqModel(2, 2, 1, IndexedSeq(0.5, -0.5, 1.0, -1.0))
  private lazy val bloom = BloomPrune.buildFilter(
    orders.select(col("o_orderkey")), col("o_orderkey"),
    expectedItems = 1000L, numBits = 1L << 12)

  private def model(name: String, save: String => Unit,
      load: String => Any, saved: => Any): Store =
    Store(name, _ + "/model", "__advancing", save,
      p => assert(load(p) == saved), p => Seq(load(p).toString))

  private val stores = Seq(
    Store("IncrementalAgg.advance", _ + "/state", "__advancing",
      p => IncrementalAgg.advance(spark, p + "/state", orderBatch(0),
        Seq("o_orderstatus"), "o_totalprice"),
      p => IncrementalAgg.advance(spark, p + "/state", orderBatch(1),
        Seq("o_orderstatus"), "o_totalprice"),
      p => rows(spark.read.parquet(p + "/state"))),
    Store("IncrementalAgg.advanceBatch", _ + "/state", "__advancing",
      p => IncrementalAgg.advanceBatch(spark, p + "/state", orderBatch(0),
        Seq("o_orderstatus"), "o_totalprice", 0L),
      p => IncrementalAgg.advanceBatch(spark, p + "/state", orderBatch(1),
        Seq("o_orderstatus"), "o_totalprice", 1L),
      p => rows(spark.read.parquet(p + "/state")),
      replay = Some(p => IncrementalAgg.advanceBatch(spark, p + "/state",
        orderBatch(1), Seq("o_orderstatus"), "o_totalprice", 1L))),
    Store("SketchRollup.advance", _ + "/state", "__advancing",
      p => SketchRollup.advance(spark, p + "/state", docBatch(0),
        sketchKeys, sketchCols),
      p => SketchRollup.advance(spark, p + "/state", docBatch(1),
        sketchKeys, sketchCols),
      p => sketchState(p + "/state")),
    Store("SketchRollup.advanceBatch", _ + "/state", "__advancing",
      p => SketchRollup.advanceBatch(spark, p + "/state", docBatch(0),
        sketchKeys, sketchCols, 0L),
      p => SketchRollup.advanceBatch(spark, p + "/state", docBatch(1),
        sketchKeys, sketchCols, 1L),
      p => sketchState(p + "/state"),
      replay = Some(p => SketchRollup.advanceBatch(spark, p + "/state",
        docBatch(1), sketchKeys, sketchCols, 1L))),
    Store("SubstrDedup.advanceSpreadBatch", _ + "/reg", "__advancing",
      p => advanceSpread(p + "/reg", 0), p => advanceSpread(p + "/reg", 1),
      p => rows(spark.read.parquet(p + "/reg")),
      replay = Some(p => advanceSpread(p + "/reg", 1))),
    Store("SubstrDedup.pruneRegistry", _ + "/reg", "__advancing",
      p => { advanceSpread(p + "/reg", 0); advanceSpread(p + "/reg", 1) },
      p => SubstrDedup.pruneRegistry(spark, p + "/reg"),
      p => rows(spark.read.parquet(p + "/reg"))),
    Store("SubstrDedup.loadRegistry", _ + "/reg", "__advancing",
      p => advanceSpread(p + "/reg", 0),
      p => SubstrDedup.loadRegistry(spark, p + "/reg").count(),
      p => rows(SubstrDedup.loadRegistry(spark, p + "/reg"))),
    Store("TrainPrep.advanceEvalRegistry", _ + "/reg", "__advancing",
      p => TrainPrep.advanceEvalRegistry(spark, p + "/reg", evalBatch(0),
        col("text"), col("task")),
      p => TrainPrep.advanceEvalRegistry(spark, p + "/reg", evalBatch(1),
        col("text"), col("task")),
      p => rows(spark.read.parquet(p + "/reg"))),
    Store("CorpusIO.advanceIntake (clean)", _ + "/clean", "__advancing",
      intake(_, 0), intake(_, 1), intakeState),
    Store("CorpusIO.advanceIntake (quarantine)", _ + "/quarantine",
      "__advancing", intake(_, 0), intake(_, 1), intakeState),
    Store("Layout.compact", _ + "/layout", "__compacting",
      p => {
        orders.repartition(8).write.parquet(p + "/layout")
        assert(Layout.compact(spark, p + "/layout")._2 == 1)
      },
      p => assert(Layout.compact(spark, p + "/layout") == ((1, 1))),
      p => rows(spark.read.parquet(p + "/layout"))),
    model("Similarity.saveIvfModel / loadIvfModel",
      p => Similarity.saveIvfModel(spark, p + "/model", ivf),
      p => Similarity.loadIvfModel(spark, p + "/model"), ivf),
    model("Similarity.savePqModel / loadPqModel",
      p => Similarity.savePqModel(spark, p + "/model", pq),
      p => Similarity.loadPqModel(spark, p + "/model"), pq),
    model("BloomPrune.saveFilter / loadFilter",
      p => BloomPrune.saveFilter(spark, p + "/model", bloom),
      p => BloomPrune.loadFilter(spark, p + "/model").toSeq, bloom.toSeq))

  for (s <- stores)
    test(s"${s.name}: the next entry point recovers a crash in the publish gap") {
      val (crashed, clean) = (graft.etl.Scratch.dir("graft_swap_crash"),
        graft.etl.Scratch.dir("graft_swap_clean"))
      try {
        s.publish(crashed)
        s.publish(clean)
        // the gap: live deleted, the complete state (with its _SUCCESS,
        // markers and stamps) only under the tmp name
        val (live, tmp) = (Paths.get(s.live(crashed)), Paths.get(s.live(crashed) + s.tmpName))
        Files.move(live, tmp)
        s.next(crashed)
        s.next(clean)
        assert(s.state(crashed) == s.state(clean))
        assert(Files.exists(live) && !Files.exists(tmp), "tmp must be promoted, not left")
        s.replay.foreach { replay =>
          replay(crashed)
          assert(s.state(crashed) == s.state(clean), "a replayed batch must stay a no-op")
        }
      } finally Seq(crashed, clean).foreach(d => FileUtils.deleteQuietly(new java.io.File(d)))
    }
}
