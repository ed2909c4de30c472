package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.ChangeApply

/** graft.etl.ChangeApply — CDC MERGE semantics: latest-wins with a
  * stored version, tombstoned deletes, idempotent re-application,
  * batch-slicing invariance, and the documented expiry trade. */
class ChangeApplySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val key = "k"
  private val attrs = Seq("v")

  private def snap0: DataFrame =
    Seq.empty[(String, String, Long, Boolean)]
      .toDF("k", "v", "__ts", "__deleted")

  private def changes(rows: (String, String, String, Long)*): DataFrame =
    rows.toDF("k", "v", "op", "ts")

  private def state(df: DataFrame): Map[String, (String, Long, Boolean)] =
    df.collect().map(r => r.getString(0) ->
      ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap

  private def live(df: DataFrame): Map[String, String] =
    ChangeApply.current(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("insert, update, delete; within-batch latest wins") {
    val b = changes(("a", "a1", "I", 1), ("a", "a2", "U", 5), ("a", "aX", "U", 3),
      ("b", "b1", "I", 2), ("c", "c1", "I", 1), ("c", null, "D", 9))
    val s = ChangeApply.merge(snap0, b, key, attrs)
    assert(live(s) == Map("a" -> "a2", "b" -> "b1"))
    // c survives as a tombstone, not a live row
    assert(state(s)("c") == ((null, 9L, true)))
  }

  test("re-applying the same batch is a no-op; stale changes are dropped") {
    val b1 = changes(("a", "new", "U", 10), ("d", null, "D", 10))
    val applied = ChangeApply.merge(
      ChangeApply.merge(snap0, changes(("a", "old", "I", 1), ("d", "d1", "I", 1)),
        key, attrs), b1, key, attrs)
    val again = ChangeApply.merge(applied, b1, key, attrs)
    assert(state(again) == state(applied))
    // late update older than the applied one: dropped
    val late = ChangeApply.merge(applied, changes(("a", "stale", "U", 5)), key, attrs)
    assert(live(late)("a") == "new")
    // late pre-delete change cannot resurrect the tombstoned key
    val res = ChangeApply.merge(applied, changes(("d", "zombie", "U", 5)), key, attrs)
    assert(!live(res).contains("d"))
  }

  test("applying batches sequentially equals applying their union at once") {
    // deliberately OUT-OF-ORDER slicing: batch 2 carries older ts than
    // batch 1 for the same keys
    val b1 = changes(("a", "a-late", "U", 9), ("b", null, "D", 8), ("c", "c1", "I", 3))
    val b2 = changes(("a", "a-early", "I", 2), ("b", "b-early", "I", 2),
      ("c", "c2", "U", 7))
    val seq12 = ChangeApply.merge(ChangeApply.merge(snap0, b1, key, attrs), b2, key, attrs)
    val seq21 = ChangeApply.merge(ChangeApply.merge(snap0, b2, key, attrs), b1, key, attrs)
    val union = ChangeApply.merge(snap0, b1.unionByName(b2), key, attrs)
    assert(state(seq12) == state(union) && state(seq21) == state(union))
    assert(live(union) == Map("a" -> "a-late", "c" -> "c2"))
  }

  test("expire reclaims old tombstones and only then can late data resurrect") {
    val applied = ChangeApply.merge(snap0,
      changes(("d", "d1", "I", 1), ("d", null, "D", 5)), key, attrs)
    val kept = ChangeApply.expire(applied, lit(5L))     // horizon at the delete
    assert(state(kept).contains("d"))
    val gone = ChangeApply.expire(applied, lit(6L))     // horizon past it
    assert(!state(gone).contains("d"))
    // the documented trade: after expiry a pre-delete change returns
    val z = ChangeApply.merge(gone, changes(("d", "zombie", "U", 3)), key, attrs)
    assert(live(z).get("d").contains("zombie"))
  }

  test("null key or ts in changes raises instead of corrupting the snapshot") {
    val base = ChangeApply.merge(snap0, changes(("a", "a1", "I", 1)), key, attrs)
    // null key: unguarded, an all-null junk row entered the snapshot
    // and was rewritten into every later version forever
    val nullKey = Seq((null.asInstanceOf[String], "x", "I", 2L))
      .toDF("k", "v", "op", "ts")
    val ex = intercept[Exception] {
      ChangeApply.merge(base, nullKey, key, attrs).collect()
    }
    assert(ex.getMessage.contains("null 'k'") ||
      Option(ex.getCause).exists(_.getMessage.contains("null 'k'")), ex.getMessage)
    // null ts on a fresh insert: unguarded, the key froze forever
    // (no later change's ts > null ever evaluates true)
    val nullTs = Seq(("b", "b1", "I", null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v", "op", "ts")
    val ex2 = intercept[Exception] {
      ChangeApply.merge(base, nullTs, key, attrs).collect()
    }
    assert(ex2.getMessage.contains("null 'ts'") ||
      Option(ex2.getCause).exists(_.getMessage.contains("null 'ts'")), ex2.getMessage)
  }

  test("persisted advance bootstraps, folds order-events, and reports live count") {
    val path = graft.etl.Scratch.dir("graft_cdc") + "/snap"
    val o = queries.t(spark, sfTiny, "orders")
      .select(col("o_orderkey").cast("string").as("k"),
        col("o_orderstatus").as("v"))
    val inserts = o.withColumn("op", lit("I")).withColumn("ts", lit(1L))
    val n1 = ChangeApply.advance(spark, path, inserts, key, attrs)
    assert(n1 == o.count())
    // second batch: delete every 'F' order, update every 'O' to 'X'
    val dels = o.filter(col("v") === "F")
      .withColumn("op", lit("D")).withColumn("ts", lit(2L))
    val upds = o.filter(col("v") === "O").withColumn("v", lit("X"))
      .withColumn("op", lit("U")).withColumn("ts", lit(2L))
    val n2 = ChangeApply.advance(spark, path, dels.unionByName(upds), key, attrs)
    assert(n2 == o.count() - o.filter(col("v") === "F").count())
    val liveNow = ChangeApply.current(spark.read.parquet(path))
    assert(liveNow.filter(col("v") === "F").count() == 0)
    assert(liveNow.filter(col("v") === "X").count() ==
      o.filter(col("v") === "O").count())
  }

  test("advance recovers a publish interrupted between delete and rename") {
    val path = graft.etl.Scratch.dir("graft_cdc_crash") + "/snap"
    ChangeApply.advance(spark, path, changes(("a", "a1", "I", 1)), key, attrs)
    // simulate a crash inside the swap window: the live dir is gone,
    // the fully-written next version sits under the tmp name
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "__applying")
    require(fs.rename(dir, tmp))
    val n = ChangeApply.advance(spark, path, changes(("b", "b1", "I", 2)), key, attrs)
    assert(n == 2)
    assert(live(spark.read.parquet(path)) == Map("a" -> "a1", "b" -> "b1"))
  }

  test("merge over a bucketed snapshot keeps the snapshot side exchange-free") {
    // the recurring-apply claim in SCALE.md: a snapshot written with
    // Layout.writeBucketed on the merge key joins WITHOUT its own
    // exchange — only the (much smaller) change batch shuffles. The
    // broadcast threshold is forced off so the tiny test changes take
    // the same shuffled-join path a production batch would.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    spark.sql("DROP TABLE IF EXISTS graft_b_snap")
    val loc = new java.io.File("spark-warehouse/graft_b_snap")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(loc)
    }
    val snap = queries.t(spark, sfTiny, "orders")
      .select(col("o_orderkey").cast("string").as("k"),
        col("o_orderstatus").as("v"), lit(1L).as("__ts"),
        lit(false).as("__deleted"))
    etl.Layout.writeBucketed(snap, "graft_b_snap", "k", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val merged = ChangeApply.merge(spark.table("graft_b_snap"),
        changes(("1", "x", "U", 2), ("7", "y", "D", 2)), key, attrs)
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
        case q: QueryStageExec => q +: walk(q.plan)
        case o => o +: o.children.flatMap(walk)
      }
      val all = walk(merged.queryExecution.executedPlan)
      val smj = all.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, all.head.toString)
      val Seq(l, r) = Seq(smj.get.left, smj.get.right)
      def scansSnap(s: SparkPlan): Boolean =
        walk(s).exists(_.toString.contains("graft_b_snap"))
      val (snapSide, changeSide) =
        if (scansSnap(l)) (l, r) else { assert(scansSnap(r)); (r, l) }
      assert(!walk(snapSide).exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"bucketed snapshot side must not shuffle:\n$snapSide")
      assert(walk(changeSide).exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"expected the change batch to shuffle to the bucket layout:\n$changeSide")
      // and the result is still the right merge
      assert(live(merged).get("1").contains("x") && !live(merged).contains("7"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      10L * 1024 * 1024)
  }

  test("merge plan: window exchange on changes only, no sort on the snapshot side") {
    val big = queries.t(spark, sfTiny, "orders")
      .select(col("o_orderkey").cast("string").as("k"),
        col("o_orderstatus").as("v"), lit(1L).as("__ts"),
        lit(false).as("__deleted"))
    val delta = changes(("1", "x", "U", 2))
    val plan = ChangeApply.merge(big, delta, key, attrs)
      .queryExecution.executedPlan.toString
    // exactly one window (the per-key latest collapse)
    assert("(?s)Window".r.findAllIn(plan).length == 1, plan)
    // the snapshot side must not be globally sorted
    assert(!plan.contains("rangepartitioning"), plan)
  }
}
