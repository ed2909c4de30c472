package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5.2 item 3) over generated
  * inputs — scalacheck generators sampled with fixed seeds so runs are
  * reproducible.
  *
  *  - pct_change identity: folding (1 + r_i) over the lag-returns of a
  *    positive series recovers last/first
  *  - distinct is idempotent; union-distinct is commutative
  *  - 20-row rolling stddev of a constant series is 0 (post-guard)
  *  - sessionization: 1 ≤ #sessions ≤ #events, session ids contiguous
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val priceGen: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.choose(1.0, 1000.0)).map(_.take(200))

  test("pct_change identity: prod(1+r) == last/first (per series)") {
    for (seed <- 1L to 10L) {
      val prices = sample(priceGen, seed)
      val df = prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("i", "close")
      val w = Window.partitionBy(lit(1)).orderBy(col("i"))
      val rets = df.select((col("close") / lag(col("close"), 1).over(w) - 1.0).as("r"))
        .filter(col("r").isNotNull).collect().map(_.getDouble(0))
      val prod = rets.foldLeft(1.0)((acc, r) => acc * (1.0 + r))
      val expected = prices.last / prices.head
      assert(math.abs(prod - expected) <= 1e-9 * math.abs(expected),
        s"seed=$seed prod=$prod expected=$expected")
    }
  }

  test("distinct is idempotent; union-distinct commutes") {
    val gen = Gen.listOfN(300, Gen.choose(0, 40))
    for (seed <- 1L to 5L) {
      val xs = sample(gen, seed).map(_.toLong)
      val ys = sample(gen, seed + 100).map(_.toLong)
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      val d1 = a.distinct()
      assert(d1.distinct().exceptAll(d1).isEmpty && d1.count() == xs.distinct.size)
      val ab = a.union(b).distinct().orderBy("v").collect().map(_.getLong(0)).toSeq
      val ba = b.union(a).distinct().orderBy("v").collect().map(_.getLong(0)).toSeq
      assert(ab == ba)
    }
  }

  test("20-row rolling stddev of a constant series is 0 after warm-up") {
    for (seed <- 1L to 5L) {
      val c = sample(Gen.choose(-100.0, 100.0), seed)
      val n = 60
      val df = (0 until n).map(i => (i.toLong, c)).toDF("i", "v")
      val w = Window.partitionBy(lit(1)).orderBy(col("i")).rowsBetween(-19, 0)
      val out = df.select(
        when(count(col("v")).over(w) >= 20, stddev_samp(col("v")).over(w)).as("s"))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      assert(out.take(19).forall(_.isEmpty), "first 19 rows must be null (min_periods)")
      assert(out.drop(19).forall(_.exists(_ == 0.0)), s"constant series stddev must be 0: ${out.drop(19).take(3).toSeq}")
    }
  }

  test("sessionize: 1 <= #sessions <= #events; ids contiguous from 1") {
    val gapGen = Gen.listOfN(50, Gen.oneOf(60L, 600L, 1900L, 7200L)) // seconds
    for (seed <- 1L to 5L) {
      val gaps = sample(gapGen, seed)
      val ts = gaps.scanLeft(0L)(_ + _)
      val df = ts.zipWithIndex
        .map { case (t, i) => (i.toLong, 1L, new java.sql.Timestamp(1700000000000L + t * 1000)) }
        .toDF("event_id", "user_id", "ts")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts"))
      val isNew = when(lag(us, 1).over(w).isNull || (us - lag(us, 1).over(w)) > 1800L * 1000000, 1L).otherwise(0L)
      val sess = df.select(col("event_id"),
          sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("session_id"))
        .collect().map(_.getLong(1))
      val nSessions = sess.max
      // scanLeft yields |gaps|+1 events; every gap separates a
      // consecutive pair, so each gap > threshold opens a session.
      val expectedSessions = 1 + gaps.count(_ > 1800L)
      assert(nSessions >= 1 && nSessions <= sess.length)
      assert(sess.distinct.sorted.toSeq == (1L to nSessions).toSeq, "session ids contiguous")
      assert(nSessions == expectedSessions, s"seed=$seed got=$nSessions want=$expectedSessions")
    }
  }

  test("jaccard: scores in (0,1]; candidate-restricted ⊆ all-pairs; dup pairs harmless") {
    // random docs built from a tiny vocabulary → plenty of shared
    // shingles across docs
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val docGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))
    for (seed <- 1L to 3L) {
      // doc 12 shares no word with the vocabulary: zero overlap
      val docs = ((0 until 12).map { i =>
        (i.toLong, sample(docGen, seed * 100 + i)) } :+ ((12L, "x y z w"))).toDF("doc_id", "text")
      val pairs = (for (a <- 0L to 12L; b <- a + 1 to 12L) yield (a, b)).toDF("id1", "id2")
      def verify(d: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame) =
        graft.ops.Dedup.jaccardPairs(
            graft.ops.Dedup.shingleSets(d, col("text"), col("doc_id")), p)
          .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Double]("jac"))
      val all = verify(docs, pairs).toMap
      assert(all.values.forall(j => j > 0.0 && j <= 1.0), s"seed=$seed $all")
      // the oracle-form reference scores the same pairs identically
      val ref = SignatureRefs.jaccard(
          graft.ops.Dedup.shingles(docs, col("text"), col("doc_id")), pairs)
        .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Double]("jac")).toMap
      assert(all == ref, s"seed=$seed")
      // a pair with zero overlap has no row
      assert(!all.keySet.exists(_._2 == 12L), s"seed=$seed")
      // exact duplicate docs must score exactly 1.0
      val dup = verify(Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text"),
        Seq((1L, 2L)).toDF("id1", "id2"))
      assert(dup.toSeq == Seq((1L, 2L) -> 1.0))
      // candidate restriction selects exactly those pairs, same scores;
      // a duplicated input pair keeps its score, one row per input row
      val somePairs = all.keys.take(3).toSeq
      if (somePairs.nonEmpty) {
        val cands = (somePairs ++ somePairs).toDF("id1", "id2") // dups on purpose
        val restricted = verify(docs, cands)
        assert(restricted.length == 2 * somePairs.length, s"seed=$seed")
        assert(restricted.map(_._1).toSet == somePairs.toSet, s"seed=$seed")
        restricted.foreach { case (k, j) => assert(j == all(k), s"seed=$seed pair=$k") }
      }
    }
  }

  test("packBins: bin ids match a sequential per-shard fold on random token counts") {
    val tokGen = Gen.listOfN(80, Gen.choose(1, 700))
    for (seed <- 1L to 5L) {
      val toks = sample(tokGen, seed).zipWithIndex
        .map { case (n, i) => (i.toLong, (i % 3).toLong, n.toLong) }
      val df = toks.toDF("doc_id", "sh", "n_tok")
      val budget = 1000L
      val got = graft.ops.TrainPrep
        .packBins(df, col("sh"), col("doc_id"), col("n_tok"), budget)
        .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
      // sequential reference: running cumsum per shard, bin = before/budget
      toks.groupBy(_._2).foreach { case (_, rows) =>
        var cum = 0L
        rows.sortBy(_._1).foreach { case (id, _, n) =>
          assert(got(id) == cum / budget, s"seed=$seed doc=$id")
          cum += n
        }
      }
      // every doc is assigned exactly one bin; bins are non-negative
      assert(got.size == toks.size && got.values.forall(_ >= 0L))
    }
  }

  test("splitLabel: total, deterministic, and invariant to row co-location") {
    val textGen = Gen.listOfN(6, Gen.alphaLowerStr.map(_.take(8))).map(_.mkString(" "))
    for (seed <- 1L to 3L) {
      val texts = (0 until 100).map(i => (i.toLong, sample(textGen, seed * 1000 + i)))
      val one = texts.toDF("id", "text")
        .select(col("id"), graft.ops.TrainPrep.splitLabel(col("text")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // same rows, different partitioning → identical labels
      val shuffled = scala.util.Random.javaRandomToRandom(
        new java.util.Random(seed)).shuffle(texts).toDF("id", "text")
        .repartition(7)
        .select(col("id"), graft.ops.TrainPrep.splitLabel(col("text")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(one == shuffled, s"seed=$seed")
      assert(one.values.toSet.subsetOf(Set("train", "test", "val")))
    }
  }

  test("cdc merge: any slicing applied in any order equals the one-shot apply") {
    // the documented slicing invariance (ChangeApply scaladoc) as a
    // randomized law: for feeds with unique (key, ts), the stored
    // version's strict latest-wins guard makes batch boundaries AND
    // batch application order irrelevant — late batches are dropped
    // as stale, newer ones replace. Random feeds, random 3-way
    // slicing, random order vs the union in one call.
    import graft.etl.ChangeApply
    val opsGen = Seq(ChangeApply.Insert, ChangeApply.Update, ChangeApply.Delete)
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val feed = (1 to 40).map { ts =>
        (s"k${rnd.nextInt(6)}", s"v${rnd.nextInt(100)}",
          opsGen(rnd.nextInt(3)), ts.toLong)
      }
      def df(rows: Seq[(String, String, String, Long)]) =
        rows.toDF("k", "v", "op", "ts")
      val empty = df(feed).select(col("k"), col("v"),
        col("ts").as("__ts"), lit(false).as("__deleted")).limit(0)
      def snapState(s: org.apache.spark.sql.DataFrame) =
        s.collect().map(r => r.getString(0) ->
          ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
      val oneShot = snapState(ChangeApply.merge(empty, df(feed), "k", Seq("v")))
      val sliced = feed.map(r => (r, rnd.nextInt(3)))
      val order = rnd.shuffle(List(0, 1, 2))
      var snap = empty
      for (b <- order) {
        val rows = sliced.filter(_._2 == b).map(_._1)
        if (rows.nonEmpty) snap = ChangeApply.merge(snap, df(rows), "k", Seq("v"))
      }
      assert(snapState(snap) == oneShot, s"seed=$seed order=$order")
    }
  }

  test("scd2 chains: one open row per key, contiguous intervals, idempotent tail") {
    // batching-independent invariants of the versioned dimension:
    // whatever the (forward-ordered) batch boundaries, every key ends
    // with exactly one open row, its closed intervals tile
    // [first valid_from, open valid_from) with no gaps or overlaps,
    // consecutive rows always differ in the tracked attribute (no-op
    // updates never open rows), and re-merging the final batch is a
    // no-op (idempotent re-application).
    import graft.etl.Scd2
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val updates = (1 to 45).map { ts =>
        (s"k${rnd.nextInt(5)}", s"v${rnd.nextInt(4)}", ts.toLong)
      }
      def df(rows: Seq[(String, String, Long)]) =
        rows.toDF("k", "v", "t")
          .select(col("k"), col("v"), col("t").cast("timestamp").as("ts"))
      val empty = df(updates).select(col("k"), col("v"),
        col("ts").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to")).limit(0)
      // forward-only merge: batches split at ts 15/30, applied in order
      val batches = Seq(updates.filter(_._3 <= 15),
        updates.filter(r => r._3 > 15 && r._3 <= 30),
        updates.filter(_._3 > 30)).filter(_.nonEmpty)
      val versioned = batches.foldLeft(empty) { (cur, b) =>
        Scd2.merge(cur, df(b), "k", "ts", Seq("v"))
      }
      val rows = versioned.collect().map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)))).toSeq
      for ((k, chain) <- rows.groupBy(_._1)) {
        val sorted = chain.sortBy(_._3.getTime)
        assert(sorted.count(_._4.isEmpty) == 1 && sorted.last._4.isEmpty,
          s"seed=$seed key=$k: exactly one open row, at the end")
        sorted.sliding(2).foreach {
          case Seq(a, b) =>
            assert(a._4.contains(b._3), s"seed=$seed key=$k: contiguous")
            assert(a._2 != b._2, s"seed=$seed key=$k: consecutive rows differ")
          case _ => ()
        }
      }
      // idempotent tail: re-merging the last batch changes nothing
      val again = Scd2.merge(versioned, df(batches.last), "k", "ts", Seq("v"))
      assert(again.exceptAll(versioned).isEmpty &&
        versioned.exceptAll(again).isEmpty, s"seed=$seed")
    }
  }
}
