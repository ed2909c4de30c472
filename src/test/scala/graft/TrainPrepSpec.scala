package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TrainPrep

/** graft.ops.TrainPrep — deterministic splits and sequence packing. */
class TrainPrepSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = spark.read.parquet(s"$sfTiny/documents.parquet")

  test("split is deterministic, total, and stable under corpus growth") {
    val labeled = docs.select(col("doc_id"),
      TrainPrep.splitLabel(col("text")).as("split"))
    val a = labeled.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = labeled.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a.values.toSet.subsetOf(Set("train", "test", "val")))
    // stability: the label of a doc must not depend on which other
    // docs are present (hash is row-local) — recompute on a half corpus
    val half = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"),
        TrainPrep.splitLabel(col("text")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    half.foreach { case (id, s) => assert(a(id) == s) }
    // all three splits occur and train dominates on any real corpus
    val byLabel = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet == Set("train", "test", "val"))
    assert(byLabel("train") > byLabel("test") && byLabel("test") > byLabel("val"))
  }

  test("splitLabel rejects misordered cuts") {
    intercept[IllegalArgumentException] {
      TrainPrep.splitLabel(col("text"), valCut = "29", testCut = "0d")
    }
  }

  test("splitLabel: malformed cuts rejected, null keys raise instead of landing in train") {
    import spark.implicits._
    // uppercase hex compares below every lowercase hash — would
    // silently empty the val split; non-hex is equally malformed
    intercept[IllegalArgumentException] {
      TrainPrep.splitLabel(col("text"), valCut = "0D", testCut = "29")
    }
    intercept[IllegalArgumentException] {
      TrainPrep.splitLabel(col("text"), valCut = "0d", testCut = "zz")
    }
    // a null key must FAIL, not silently join 'train' (the same doc
    // backfilled with a real key later could land in val/test — the
    // exact leakage the hash split exists to prevent)
    val withNull = Seq(Some("doc a"), None).toDF("text")
    val ex = intercept[Exception] {
      withNull.select(TrainPrep.splitLabel(col("text")).as("s")).collect()
    }
    assert(ex.getMessage.contains("null split key") ||
      Option(ex.getCause).exists(_.getMessage.contains("null split key")),
      ex.getMessage)
  }

  test("temperatureWeights clamps to the mixer's replication bound") {
    import spark.implicits._
    // one huge head + a 2-row tail under a large budget: unclamped,
    // the tail's copy factor would exceed mixCorpus's 1000 limit and
    // throw at plan build in the composed pipeline
    val df = (Seq.fill(10000)("head") ++ Seq("tail", "tail")).toDF("s")
    val w = TrainPrep.temperatureWeights(df, col("s"), alpha = 0.1,
      budgetRows = 100000000L)
    assert(w("tail") == 1000.0, s"tail weight must clamp: ${w("tail")}")
    assert(w.values.forall(_ <= 1000.0))
    // the clamp is a parameter, not a constant
    val w2 = TrainPrep.temperatureWeights(df, col("s"), alpha = 0.1,
      budgetRows = 100000000L, maxWeight = 5000.0)
    assert(w2("tail") == 5000.0 || w2("tail") < 5000.0)
    assert(w2("tail") > w("tail"))
  }

  test("packBins: bins fill in order and overflow only at a boundary doc") {
    val toks = docs.select(col("doc_id"), (col("doc_id") % 4).as("sh"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val budget = 512L
    val packed = TrainPrep.packBins(toks, col("sh"), col("doc_id"),
      col("n_tok"), budget).collect()
    // reference packing computed sequentially per shard on the driver
    packed.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(4) == cum / budget, s"doc ${r.getLong(0)}")
        cum += r.getLong(2)
      }
    }
    // bin ids are dense from 0 within each shard
    packed.groupBy(_.getLong(1)).foreach { case (sh, rows) =>
      val bins = rows.map(_.getLong(4)).distinct.sorted.toSeq
      assert(bins == (0L until bins.length.toLong).toSeq,
        s"shard $sh bins not dense: ${bins.mkString(",")}")
    }
  }

  test("stratifiedSample: deterministic, per-stratum rates, absent strata dropped") {
    val labeled = docs.select(col("doc_id"), col("text"), col("lang"))
    val fractions = Map("en" -> 0.5, "de" -> 1.0)
    def run() = graft.ops.TrainPrep.stratifiedSample(
        labeled, col("lang"), col("text"), fractions)
      .collect().map(_.getLong(0)).toSet
    val a = run()
    assert(a == run(), "sample must be identical across runs")
    // partitioning must not change the sample (content-hash decision)
    val b = graft.ops.TrainPrep.stratifiedSample(
        labeled.repartition(13), col("lang"), col("text"), fractions)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    val langOf = labeled.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val total = langOf.groupBy(_._2).view.mapValues(_.size).toMap
    val kept = a.groupBy(langOf).view.mapValues(_.size).toMap
    // f=1.0 stratum keeps everything; unlisted strata keep nothing
    assert(kept.getOrElse("de", 0) == total.getOrElse("de", 0))
    assert(a.forall(id => fractions.contains(langOf(id))))
    // f=0.5 stratum keeps roughly half (hash-uniform; generous bounds)
    val en = kept.getOrElse("en", 0).toDouble / total("en")
    assert(en > 0.3 && en < 0.7, s"en keep rate $en")
  }

  test("decontaminate flags exactly the docs sharing enough distinct shingles") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // 4 shingles, all shared
      (2L, "one two three four five six seven"),   // disjoint from eval
      (3L, "alpha beta gamma nine ten"),           // 1 shared shingle
      (4L, "alpha beta gamma delta epsilon nope")  // 3 shared
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    def run(min: Long) = graft.ops.TrainPrep.decontaminate(
        train, eval_, col("text"), col("doc_id"), shingleLen = 3, minOverlap = min)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(4L) == Map(1L -> 4L))
    assert(run(3L) == Map(1L -> 4L, 4L -> 3L))
    assert(run(1L) == Map(1L -> 4L, 3L -> 1L, 4L -> 3L))
  }

  test("decontaminate dedups both sides below the join (distinct shingle sets)") {
    import spark.implicits._
    // repetition inside a doc must not inflate the overlap count
    val train = Seq((1L, "x y z x y z x y z")).toDF("doc_id", "text")
    val eval_ = Seq((9L, "x y z x y z")).toDF("doc_id", "text")
    val out = graft.ops.TrainPrep.decontaminate(
        train, eval_, col("text"), col("doc_id"), shingleLen = 3, minOverlap = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // distinct shingles of "x y z x y z x y z": {x y z, y z x, z x y}
    assert(out == Map(1L -> 3L))
  }

  test("chunkTokens: stride coverage, short tail kept, zero-overlap reconstruction") {
    import spark.implicits._
    val text = (1 to 50).map(i => s"w$i").mkString(" ")
    val one = Seq((7L, text)).toDF("doc_id", "text")
    val chunks = TrainPrep.chunkTokens(one, col("text"), col("doc_id"),
        chunkSize = 16, overlap = 4)
      .orderBy(col("chunk_start")).collect()
    // starts every stride=12 while < 50 tokens: 0,12,24,36,48
    assert(chunks.map(_.getLong(1)).toSeq == Seq(0L, 12L, 24L, 36L, 48L))
    // all full except the tail windows that run off the end
    assert(chunks.map(_.getLong(2)).toSeq == Seq(16L, 16L, 16L, 14L, 2L))
    assert(chunks.head.getString(3) == (1 to 16).map(i => s"w$i").mkString(" "))
    assert(chunks.last.getString(3) == "w49 w50")
    // overlap=0: chunks partition the token stream exactly
    val flat = TrainPrep.chunkTokens(one, col("text"), col("doc_id"),
        chunkSize = 16, overlap = 0)
      .orderBy(col("chunk_start")).collect().map(_.getString(3)).mkString(" ")
    assert(flat == text)
    intercept[IllegalArgumentException] {
      TrainPrep.chunkTokens(one, col("text"), col("doc_id"), 16, 16)
    }
  }

  test("mixCorpus: whole weights replicate exactly; fraction matches stratifiedSample") {
    val base = docs.select(col("doc_id"), col("text"), col("lang"))
    val mixed = TrainPrep.mixCorpus(base, col("lang"), col("text"),
      Map("en" -> 1.5, "de" -> 2.0))
    val rows = mixed.select(col("doc_id"), col("lang"), col("epoch")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // absent strata emit nothing
    assert(rows.forall(r => r._2 == "en" || r._2 == "de"))
    // de 2.0: every de doc exactly twice, epochs 0 and 1
    val deTotal = base.filter(col("lang") === "de").count()
    val deEpochs = rows.filter(_._2 == "de").groupBy(_._1).view.mapValues(
      _.map(_._3).sorted.toSeq).toMap
    assert(deEpochs.size == deTotal)
    assert(deEpochs.values.forall(_ == Seq(0L, 1L)))
    // en 1.5: everyone at epoch 0; the epoch-1 extras are EXACTLY the
    // docs a 0.5 stratified sample keeps (same hash threshold)
    val enIds = base.filter(col("lang") === "en")
      .collect().map(_.getLong(0)).toSet
    val epoch0 = rows.filter(r => r._2 == "en" && r._3 == 0L).map(_._1).toSet
    val epoch1 = rows.filter(r => r._2 == "en" && r._3 == 1L).map(_._1).toSet
    assert(epoch0 == enIds)
    val sampled = TrainPrep.stratifiedSample(base, col("lang"), col("text"),
      Map("en" -> 0.5)).collect().map(_.getLong(0)).toSet
    assert(epoch1 == sampled)
    // deterministic under repartitioning
    val again = TrainPrep.mixCorpus(base.repartition(13), col("lang"),
        col("text"), Map("en" -> 1.5, "de" -> 2.0))
      .select(col("doc_id"), col("epoch")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(again == rows.map(r => (r._1, r._3)).sorted.toSeq)
  }

  test("temperatureWeights: α=1 natural, α=0 equalized, α=0.5 damps the head") {
    val base = docs.select(col("doc_id"), col("text"), col("lang"))
    val sizes = base.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum
    val budget = 1000L
    // α=1: expected contribution proportional to size → every weight
    // is the same budget/total factor
    val w1 = TrainPrep.temperatureWeights(base, col("lang"), 1.0, budget)
    assert(w1.keySet == sizes.keySet)
    for ((_, w) <- w1)
      assert(math.abs(w - budget.toDouble / total) < 1e-9)
    // α=0: expected contribution equal per stratum → weight_i ∝ 1/n_i
    val w0 = TrainPrep.temperatureWeights(base, col("lang"), 0.0, budget)
    val perStratum = budget.toDouble / sizes.size
    for ((s, w) <- w0)
      assert(math.abs(w * sizes(s) - perStratum) < 1e-6, s"$s: $w")
    // α=0.5: head damped, tail boosted — the smallest stratum's
    // expected share strictly grows vs natural, the largest shrinks
    val w5 = TrainPrep.temperatureWeights(base, col("lang"), 0.5, budget)
    val (smallest, largest) = (sizes.minBy(_._2)._1, sizes.maxBy(_._2)._1)
    assert(w5(smallest) * sizes(smallest) > w1(smallest) * sizes(smallest))
    assert(w5(largest) * sizes(largest) < w1(largest) * sizes(largest))
    // every α keeps the total budget: Σ w_i·n_i == budget
    for (w <- Seq(w1, w0, w5))
      assert(math.abs(w.map { case (s, x) => x * sizes(s) }.sum - budget) < 1e-6)
    // and the weights feed mixCorpus directly: realized row count
    // tracks the budget within fractional-hash quantization
    val mixed = TrainPrep.mixCorpus(base, col("lang"), col("text"), w5)
    val got = mixed.count().toDouble
    assert(math.abs(got - budget) / budget < 0.15, s"got $got for budget $budget")
  }

  test("temperatureWeights: non-string strata cast cleanly, null strata rejected") {
    import spark.implicits._
    // int domain ids must not ClassCastException at collect (round-7 ADVICE)
    val intStrata = Seq((1L, 7), (2L, 7), (3L, 9)).toDF("doc_id", "domain")
    val w = TrainPrep.temperatureWeights(intStrata, col("domain"), 1.0, 300L)
    assert(w.keySet == Set("7", "9"))
    assert(math.abs(w("7") * 2 + w("9") - 300.0) < 1e-9)
    // a null stratum would become a map key no mixCorpus lookup matches
    val withNull = Seq((1L, Some("en")), (2L, None))
      .toDF("doc_id", "lang")
    val e = intercept[IllegalArgumentException] {
      TrainPrep.temperatureWeights(withNull, col("lang"), 1.0, 100L)
    }
    assert(e.getMessage.contains("null"))
  }

  test("contaminationReport: per-task flags, zero-filled clean tasks, surface counts") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally unrelated training words here nine ten")
    ).toDF("doc_id", "text")
    val eval = Seq(
      // taskA leaks doc 1 wholesale (6 shared 3-gram shingles)
      ("taskA", "alpha beta gamma delta epsilon zeta eta theta"),
      // taskB shares a sub-threshold sliver with doc 2 (1 shingle)
      ("taskB", "one two three unrelated eval tail words"),
      // taskC shares nothing
      ("taskC", "completely disjoint benchmark content")
    ).toDF("task", "text")
    val rep = TrainPrep.contaminationReport(train, eval,
        col("text"), col("doc_id"), col("task"), shingleLen = 3,
        minOverlap = 3L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rep.keySet == Set("taskA", "taskB", "taskC"))
    val a = rep("taskA")
    assert(a.getLong(1) == 1L)                  // one doc flagged
    assert(a.getLong(2) == 6L)                  // all 6 shingles shared
    assert(a.getLong(4) == 6L && a.getLong(5) == 6L) // whole surface hit
    val b = rep("taskB")
    assert(b.getLong(1) == 0L)                  // below threshold
    assert(b.getLong(5) == 1L, b.toString)      // but surface shows the sliver
    val c = rep("taskC")
    assert(c.getLong(1) == 0L && c.getLong(5) == 0L)
    assert(c.getLong(4) > 0L)                   // totals still reported
  }

  test("eval registry: repeated audits read the registry only, never eval text") {
    import spark.implicits._
    import graft.ops.Dedup
    val regPath = graft.etl.Scratch.dir("evalreg") + "/registry"
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally unrelated training words here nine ten")
    ).toDF("doc_id", "text")
    val evalA = Seq(("taskA", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("task", "text")
    val evalB = Seq(("taskB", "one two three unrelated eval tail words"))
      .toDF("task", "text")
    // two benchmarks folded in independently (the suite grows over time)
    TrainPrep.advanceEvalRegistry(spark, regPath, evalA, col("text"), col("task"))
    val n = TrainPrep.advanceEvalRegistry(spark, regPath, evalB, col("text"), col("task"))
    // idempotent: a re-fed benchmark changes nothing (distinct-set state)
    assert(TrainPrep.advanceEvalRegistry(spark, regPath, evalB,
      col("text"), col("task")) == n)

    val tsh = Dedup.shingles(train, col("text"), col("doc_id"), 3)
      .select(col("id"), col("s")).distinct()
    val audit = TrainPrep.contaminationReportFromShingles(
      tsh, spark.read.parquet(regPath), minOverlap = 3L)
    // the audit's scan set: the registry parquet and nothing else
    // file-backed — eval corpora are never re-shingled
    val scans = audit.queryExecution.optimizedPlan.collectLeaves()
      .collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains("registry")),
      s"audit must scan only the registry: $scans")
    // and the registry audit agrees with the direct (rescan) report
    val direct = TrainPrep.contaminationReport(train, evalA.unionByName(evalB),
        col("text"), col("doc_id"), col("task"), shingleLen = 3, minOverlap = 3L)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val viaReg = audit.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(viaReg == direct, s"registry audit diverged:\n$viaReg\nvs\n$direct")
  }

  test("splitLabel accepts a numeric key and matches its string render") {
    // Spark only casts STRING→BINARY, so the key goes through a string
    // cast first; a numeric durable id must analyze AND agree with the
    // same id pre-rendered as a string
    val byNum = docs.select(col("doc_id"),
        TrainPrep.splitLabel(col("doc_id")).as("s")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val byStr = docs.select(col("doc_id"),
        TrainPrep.splitLabel(col("doc_id").cast("string")).as("s")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(byNum == byStr)
    assert(byNum.map(_._2).distinct.sorted == Seq("test", "train", "val"))
  }

  test("packBins rejects inputs that already use its output names") {
    val clash = docs.select(col("doc_id"), lit(1L).as("bin"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val e = intercept[IllegalArgumentException] {
      TrainPrep.packBins(clash, col("doc_id") % 4, col("doc_id"),
        col("n_tok"), 512L)
    }
    assert(e.getMessage.contains("bin"))
  }

  test("exportShards: key locality, within-file order, no global sort in the plan") {
    val dir = graft.etl.Scratch.dir("graft_shards")
    val docs = queries.t(spark, sfTiny, "documents")
      .select(col("doc_id"), col("lang"), length(col("text")).as("len"))
    TrainPrep.exportShards(docs, dir, col("lang"), col("doc_id"), 4)

    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.toString).sorted
    assert(files.length >= 2, s"expected multiple shard files, got ${files.length}")
    // total preserved
    assert(spark.read.parquet(dir).count() == docs.count())
    // every lang appears in exactly one shard file; rows inside each
    // file are stored sorted by (lang, doc_id)
    val perFile = files.map { f =>
      val rows = spark.read.parquet(f).select("lang", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)), s"unsorted shard $f")
      rows.map(_._1).toSet
    }
    val langCount = perFile.map(_.size).sum
    assert(langCount == perFile.reduce(_ ++ _).size,
      s"a key spans multiple shards: ${perFile.mkString(", ")}")
    // plan: one hash repartition, local sort only (global=false)
    val plan = docs.repartition(4, col("lang"))
      .sortWithinPartitions(col("lang"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Sort [") && plan.contains("false, 0"),
      s"expected a local (non-global) sort:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"global range sort must not appear:\n$plan")
  }

  test("packBins window shuffles once on the shard key") {
    val toks = docs.select(col("doc_id"), (col("doc_id") % 4).as("sh"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val plan = TrainPrep.packBins(toks, col("sh"), col("doc_id"),
      col("n_tok"), 512L).queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected one shard exchange, got $exchanges:\n${plan.take(3000)}")
  }
}
