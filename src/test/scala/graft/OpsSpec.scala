package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Unit tests for the reusable dedup / similarity / text operators. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),          // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),        // near dup of 1
    (4L, "completely different words about spark query engines here"),
  ).toDF("doc_id", "text")

  test("exactDupGroups finds the exact pair only") {
    val groups = Dedup.exactDupGroups(docs, col("text"), col("doc_id")).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_dups") == 2)
    assert(groups.head.getAs[Long]("keep_id") == 1L)
  }

  test("dedupExact keeps the min-id row per content group") {
    val kept = Dedup.dedupExact(docs, col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("identical docs get identical MinHash signatures; different docs differ") {
    val mh = Dedup.minHashSignatures(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString).mkString).toMap
    assert(mh(1L) == mh(2L))
    assert(mh(1L) != mh(4L))
  }

  /** sf0.001 corpus docs plus the edge inputs: a null text, empty and
    * all-space texts (empty tokens only), doubled spaces (empty tokens
    * inside a shingle), and docs shorter than a 3-shingle. */
  private def edgeCorpus(n: Int) =
    graft.queries.t(spark, TestSpark.sfTiny, "documents").limit(n)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq[(Long, String)](
        (-1L, null), (-2L, ""), (-3L, "   "), (-4L, "a  b c"),
        (-5L, "one two"), (-6L, "solo"), (-7L, "  x  ")).toDF("doc_id", "text"))

  /** The executed plan of a per-document signature over a parquet
    * scan: row-local, so no exchange and no aggregate of any kind.
    * `joins` admits the exchanges of a join (a per-pair operator reads
    * two rows per output row), never an aggregate. */
  private def assertRowLocal(sigs: org.apache.spark.sql.DataFrame,
      joins: Boolean = false): Unit = {
    val p = sigs.queryExecution.executedPlan.toString
    assert((joins || !p.contains("Exchange")) && !p.contains("Aggregate"), p)
  }

  test("row-local MinHash columns are byte-identical to the aggregate form") {
    // the one path (MinHashMinima kernel) against the column-form
    // reference over the exploded shingles, incl. the edge inputs
    val corpus = edgeCorpus(200)
    def sigMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString).mkString("|")).toMap
    val local = sigMap(Dedup.minHashSignatures(corpus, col("text"), col("doc_id")))
    val ref = sigMap(SignatureRefs.minHash(
      Dedup.shingles(corpus, col("text"), col("doc_id"))))
    assert(local == ref)
    // null, empty and too-short docs have no shingles and no row;
    // empty tokens count as tokens, so space runs still shingle
    assert(Seq(-1L, -2L, -5L, -6L).forall(id => !local.contains(id)))
    assert(Seq(-3L, -4L, -7L).forall(local.contains))
    // band keys agree as a set with the reference signature banding
    val fromRef = Dedup.lshBands(SignatureRefs.minHash(
        Dedup.shingles(corpus, col("text"), col("doc_id"))), 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val rowLocal = Dedup.lshBandKeys(corpus, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rowLocal == fromRef)
    assertRowLocal(Dedup.minHashSignatures(
      spark.read.parquet(s"${TestSpark.sfTiny}/documents.parquet"),
      col("text"), col("doc_id")))
  }

  test("LSH candidates include exact and near dups, not unrelated docs") {
    val cand = Dedup.minHashLshCandidates(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.exists { case (a, b) => a == 4L || b == 4L })
  }

  /** Every (id1 < id2) pair of the four test docs. */
  private def allPairs = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)).toDF("id1", "id2")

  private def jacMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
      (r.getAs[Long]("inter"), r.getAs[Double]("jac"))).toMap

  private def verify(pairs: org.apache.spark.sql.DataFrame) =
    jacMap(Dedup.jaccardPairs(Dedup.shingleSets(docs, col("text"), col("doc_id")), pairs))

  test("ngram Jaccard: identity pair = 1.0; near pair in (0.5, 1)") {
    val jac = verify(allPairs)
    assert(jac((1L, 2L))._2 == 1.0)
    assert(jac((1L, 3L))._2 > 0.5 && jac((1L, 3L))._2 < 1.0)
    // the oracle-form reference over the exploded shingles: same pairs,
    // same intersections, same scores; doc 4 shares no shingle (no row)
    assert(jac == jacMap(SignatureRefs.jaccard(
      Dedup.shingles(docs, col("text"), col("doc_id")), allPairs)))
    assert(!jac.keySet.exists(_._2 == 4L))
  }

  test("ngram Jaccard with candidates restricts pairs and keeps exact scores") {
    val jac = verify(Seq((1L, 2L)).toDF("id1", "id2"))
    // only the candidate pair survives, with the same score as the
    // all-pairs run (sizes computed on FULL shingle sets)
    assert(jac.keySet == Set((1L, 2L)))
    assert(jac((1L, 2L)) == verify(allPairs)((1L, 2L)))
    assert(jac((1L, 2L))._2 == 1.0)
    // per pair in its own row: no aggregate in the plan over a scan
    // (sets and pairs both read it: a local pair frame's distinct would
    // be optimized away and prove nothing)
    val scan = spark.read.parquet(s"${TestSpark.sfTiny}/documents.parquet")
    assertRowLocal(Dedup.jaccardPairs(
        Dedup.shingleSets(scan, col("text"), col("doc_id")),
        scan.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))),
      joins = true)
  }

  test("simhash: exact dups share signatures; library default is 64 bits") {
    val sig = Dedup.simHashSignatures(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    // near-dup within small Hamming distance, unrelated doc far
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sig(1L), sig(3L)) < ham(sig(1L), sig(4L)))
  }

  test("simhash band-blocked pairs equal all-pairs Hamming filter (exact recall)") {
    // real corpus slice: blocked result must equal the quadratic scan
    val sigs = Dedup.simHashSignatures(
      graft.queries.t(spark, TestSpark.sfTiny, "documents").limit(120),
      col("text"), col("doc_id"))
    val blockedRows = Dedup.simHashNearDupPairs(sigs, maxHamming = 3, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val blocked = blockedRows.toSet
    assert(blockedRows.length == blocked.size, "a pair left the band join twice")
    def ham(a: String, b: String): Long = a.zip(b).count { case (x, y) => x != y }.toLong
    val all = sigs.collect().map(r => r.getLong(0) -> r.getString(1))
    val brute = (for {
      (i1, s1) <- all; (i2, s2) <- all
      if i1 < i2 && ham(s1, s2) <= 3
    } yield (i1, i2, ham(s1, s2))).toSet
    assert(blocked == brute)
    // pigeonhole bound is tight: maxHamming >= nBands must be rejected
    intercept[IllegalArgumentException] {
      Dedup.simHashNearDupPairs(sigs, maxHamming = 4, nBands = 4)
    }
  }

  test("wide simhash: 64-bit blocked pairs equal all-pairs Hamming (exact recall)") {
    val corpus = graft.queries.t(spark, TestSpark.sfTiny, "documents").limit(120)
    val sigs = Dedup.simHashSignatures(corpus, col("text"), col("doc_id"))
    val collected = sigs.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(collected.forall(_._2.length == 64))
    // the 32-bit signature is the exact prefix of the 64-bit one
    // (same nibble arithmetic, wider hash slice)
    val sig32 = Dedup.simHashSignatures(corpus, col("text"), col("doc_id"), 32)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(collected.forall { case (id, s) => s.take(32) == sig32(id) })
    val blockedRows = Dedup.simHashNearDupPairs(sigs, maxHamming = 3, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val blocked = blockedRows.toSet
    assert(blockedRows.length == blocked.size, "a pair left the band join twice")
    def ham(a: String, b: String): Long = a.zip(b).count { case (x, y) => x != y }.toLong
    val brute = (for {
      (i1, s1) <- collected; (i2, s2) <- collected
      if i1 < i2 && ham(s1, s2) <= 3
    } yield (i1, i2, ham(s1, s2))).toSet
    assert(blocked == brute)
    // band VALUE space: 16-bit bands cannot saturate at corpus scale
    // the way 8-bit bands do — spot-check the occupancy bound here
    // (ScaleProbe risk mode carries the measured ×32 curves)
    val occ = Dedup.simHashSignatures(
        graft.queries.t(spark, TestSpark.sfTiny, "documents"),
        col("text"), col("doc_id"))
      .select(explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), substring(col("simhash"), 1 + b * 16, 16).as("bh"))): _*)).as("x"))
      .groupBy(col("x.band"), col("x.bh")).count()
      .agg(max(col("count"))).head.getLong(0)
    val occ32 = Dedup.simHashSignatures(
        graft.queries.t(spark, TestSpark.sfTiny, "documents"),
        col("text"), col("doc_id"), 32)
      .select(explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), substring(col("simhash"), 1 + b * 8, 8).as("bh"))): _*)).as("x"))
      .groupBy(col("x.band"), col("x.bh")).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(occ <= occ32,
      s"wider bands must not concentrate harder: 64-bit max=$occ vs 32-bit max=$occ32")
  }

  test("row-local simhash is byte-identical to the aggregate signature (32 and 64)") {
    // the one path (SimHashSign kernel) against the oracle's
    // explode/aggregate arithmetic, incl. the edge inputs
    val corpus = edgeCorpus(100)
    for (bits <- Seq(32, 64)) {
      val ref = SignatureRefs.simHash(corpus, "text", "doc_id", bits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val row = Dedup.simHashSignatures(corpus, col("text"), col("doc_id"), bits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(row == ref, s"row-local diverged from the reference at $bits bits")
      // no non-empty token → no row; every short doc still signs
      assert(Seq(-1L, -2L, -3L).forall(id => !row.contains(id)))
      assert(Seq(-4L, -5L, -6L, -7L).forall(row.contains))
    }
    // band keys equal the banding of the reference signatures
    val fromRowLocal = Dedup.simHashBandKeys(corpus, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val fromRef = SignatureRefs.simHash(corpus, "text", "doc_id", 64)
      .select(col("id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), substring(col("simhash"), 1 + b * 16, 16).as("bh"))): _*)).as("x"))
      .select(col("id"), col("x.band"), col("x.bh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(fromRowLocal == fromRef)
    assertRowLocal(Dedup.simHashSignatures(
      spark.read.parquet(s"${TestSpark.sfTiny}/documents.parquet"),
      col("text"), col("doc_id"), 32))
  }

  test("cosine: self-similarity = 1.0; brute-force top-k ordered") {
    val emb = graft.queries.t(spark, TestSpark.sfTiny, "embeddings")
    val self = emb.limit(1)
      .select(Similarity.cosine(
        col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("c"))
      .head.getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
    val q = emb.filter(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
      q, col("embedding"), 5).collect()
    assert(top.length == 5)
    val cs = top.map(_.getDouble(1))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
  }

  test("LSH top-k returns a subset consistent with brute force cosines") {
    val emb = graft.queries.t(spark, TestSpark.sfTiny, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val approx = Similarity.lshTopK(corpus, col("vec_id"), col("embedding"),
      q, col("embedding"), 5, nBits = 4).collect()
    // bucket join can return fewer than k; each hit's cosine must match
    // the exact cosine for that id
    val exact = Similarity.bruteForceTopK(corpus, col("vec_id"), col("embedding"),
      q, col("embedding"), 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(approx.forall(r => exact(r.getLong(0)) == r.getDouble(1)))
  }

  test("auto-width rules size the band/bucket space past the corpus (r8 saturation fix)") {
    // sign-LSH: nBits ~ log2(n) + margin, clamped [8, 30]
    assert(Similarity.autoBits(100L) == 11)            // ceil(log2 100)=7 + 4
    assert(Similarity.autoBits(1L) == 8)               // floor clamp
    assert(Similarity.autoBits(1L << 40) == 30)        // cap clamp
    // the 16-bit library default is the rule at the test-corpus scale
    assert(Similarity.autoBits(4000L) == 16)
    // monotone non-decreasing in corpus size
    val sizes = Seq(10L, 1000L, 100000L, 10000000L).map(Similarity.autoBits(_))
    assert(sizes == sizes.sorted)
    // SimHash: per-band width obeys the same rule; result is a
    // multiple of 4 in [8, 128]
    assert(Dedup.autoSimHashWidth(100L) == 44)         // (7+4)*4
    assert(Dedup.autoSimHashWidth(1L << 60, nBands = 4) == 128) // cap
    assert(Dedup.autoSimHashWidth(1L, nBands = 1) == 8) // floor
    assert(Dedup.autoSimHashWidth(4000L) % 4 == 0)
    // the returned width must feed the banding functions directly:
    // divisible by BOTH 4 (hex signature) and nBands — including
    // non-power-of-two band counts, where naive round-to-4 breaks
    for (nb <- Seq(1, 2, 3, 4, 5, 8); n <- Seq(100L, 100000L, 1L << 40)) {
      val wd = Dedup.autoSimHashWidth(n, nBands = nb)
      assert(wd % nb == 0 && wd % 4 == 0 && wd >= 8 && wd <= 128,
        s"autoSimHashWidth($n, $nb) = $wd violates its own contract")
    }
    // a band count whose lcm with 4 exceeds the md5 budget is rejected
    intercept[IllegalArgumentException] {
      Dedup.autoSimHashWidth(100L, nBands = 33)
    }
    // pair-space sanity at the width the rule picks: the per-band
    // value space must exceed the corpus (the anti-saturation property)
    val n = 100000L
    val w = Dedup.autoSimHashWidth(n) / 4
    assert(math.pow(2, w.toDouble) > n)
  }

  test("lshBucketsAuto sizes the width from the corpus and matches the pinned form") {
    // the r16 default-path wiring: auto = the width-pinned call at
    // autoBits(count), buckets byte-identical, width returned so the
    // caller can persist it and guard probes (checkedBucket)
    val e = spark.read.parquet(TestSpark.sfTiny + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val expectBits = Similarity.autoBits(e.count())
    val (auto, bits) = Similarity.lshBucketsAuto(e, col("vec_id"), col("v"))
    assert(bits == expectBits)
    val pinned = Similarity.lshBuckets(e, col("vec_id"), col("v"), nBits = bits)
    assert(auto.select("id", "bucket").collect().toSet ==
      pinned.select("id", "bucket").collect().toSet)
    val (bcol, qbits) = Similarity.lshBucketQuantizedAuto(e, col("v"))
    assert(qbits == expectBits)
    val widths = e.select(length(bcol).as("l")).distinct().collect().map(_.getInt(0))
    assert(widths.sameElements(Array(qbits)), widths.mkString(","))
  }

  test("similarity guards: zero vectors never rank, dims mismatch raises, 1-row query enforced") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq.fill(64)(1.0)),
      (2L, Seq.fill(64)(0.0)),          // zero-norm: cosine undefined
      (3L, Seq.tabulate(64)(i => if (i < 32) 1.0 else -1.0))
    ).toDF("vec_id", "embedding")
    val q = Seq((0L, Seq.fill(64)(1.0))).toDF("vec_id", "embedding")
    // without the guard, NaN (0/0) sorts ABOVE every real cosine and
    // the zero vector would take rank 1
    val top = Similarity.bruteForceTopK(corpus, col("vec_id"), col("embedding"),
      q, col("embedding"), 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 3L),
      s"zero-norm row must be excluded, got ${top.mkString(",")}")
    assert(top.forall(r => !r.getDouble(1).isNaN))
    // zero-norm QUERY: defined result is empty, not k arbitrary NaNs
    val zq = Seq((0L, Seq.fill(64)(0.0))).toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(corpus, col("vec_id"), col("embedding"),
      zq, col("embedding"), 3).count() == 0)
    // multi-row query frames pooled into one unlabeled ranking: refuse.
    // The arity check lives INSIDE the plan (raise_error over a
    // collect_list size) so building the frame is lazy — no extra
    // Spark job per call — and the refusal fires on execution
    val multiEx = intercept[Exception] {
      Similarity.bruteForceTopK(corpus, col("vec_id"), col("embedding"),
        corpus, col("embedding"), 3).collect()
    }
    // the guard packs limit(2), so it can only ever observe "2 or
    // more" for a multi-row frame — the message must say so rather
    // than imply the real count was 2 (r11 ADVICE)
    assert(exMsg(multiEx).contains("expects exactly 1 query row, got 2 or more"),
      multiEx.getMessage)
    // zero-row query frames fail the same way (not silently empty),
    // and zero IS exactly observable
    val emptyEx = intercept[Exception] {
      Similarity.lshTopK(corpus, col("vec_id"), col("embedding"),
        corpus.filter(lit(false)), col("embedding"), 3).collect()
    }
    assert(exMsg(emptyEx).contains("expects exactly 1 query row, got 0"),
      emptyEx.getMessage)
    // dims mismatch: every bit would silently read '0' (null dot) and
    // the whole corpus would collapse into one bucket — must raise
    val short = Seq((1L, Seq.fill(16)(1.0))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {   // SparkRuntimeException (raise_error)
      short.select(Similarity.lshBucketQuantized(col("embedding")).as("b")).collect()
    }
    assert(ex.getMessage.contains("length != dims") ||
      Option(ex.getCause).exists(_.getMessage.contains("length != dims")), ex.getMessage)
    val ex2 = intercept[Exception] {
      Similarity.lshBuckets(short, col("vec_id"), col("embedding")).collect()
    }
    assert(ex2.getMessage.contains("length != dims") ||
      Option(ex2.getCause).exists(_.getMessage.contains("length != dims")), ex2.getMessage)
  }

  test("quantized LSH buckets: well-formed, deterministic, scale-invariant, near-identical vectors collide") {
    val emb = graft.queries.t(spark, TestSpark.sfTiny, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val b = emb.withColumn("bucket", Similarity.lshBucketQuantized(col("v")))
    val rows = b.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.values.forall(s => s.length == 16 && s.forall(c => c == '0' || c == '1')))
    // sign-LSH is direction-only: a positively scaled copy of a vector
    // lands in the same bucket (quantization changes magnitude by the
    // scale factor, signs of the plane dots do not move)
    val scaled = emb.withColumn("v", transform(col("v"), x => x * lit(3.0)))
      .withColumn("bucket", Similarity.lshBucketQuantized(col("v")))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(scaled == rows)
    // deterministic across recomputation
    val again = b.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == rows)
    // buckets actually partition the space (more than one bucket used)
    assert(rows.values.toSet.size > 1)
  }

  test("int8 quantization: codes bounded, round-trip error within scale/2 per dim, zero vector safe") {
    val emb = graft.queries.t(spark, TestSpark.sfTiny, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", Similarity.int8Scale(col("v")))
      .withColumn("q", Similarity.int8Quantize(col("v"), col("scale")))
      .withColumn("r", Similarity.int8Dequantize(col("q"), col("scale")))
    val rows = emb.limit(100).collect()
    rows.foreach { row =>
      val scale = row.getDouble(2)
      val q = row.getSeq[Long](3)
      val v = row.getSeq[Double](1)
      val r = row.getSeq[Double](4)
      assert(q.forall(c => c >= -127 && c <= 127), s"codes out of range: $q")
      // symmetric rounding: each dim reconstructs within half a step
      v.zip(r).foreach { case (x, y) =>
        assert(math.abs(x - y) <= scale / 2 + 1e-12, s"dim err ${math.abs(x - y)} > ${scale / 2}")
      }
    }
    // zero vector: scale 0, zero codes, exact reconstruction
    val z = Seq((0L, Seq.fill(4)(0.0))).toDF("vec_id", "v")
      .withColumn("scale", Similarity.int8Scale(col("v")))
      .withColumn("q", Similarity.int8Quantize(col("v"), col("scale")))
      .withColumn("r", Similarity.int8Dequantize(col("q"), col("scale")))
      .head
    assert(z.getDouble(2) == 0.0)
    assert(z.getSeq[Long](3).forall(_ == 0L))
    assert(z.getSeq[Double](4).forall(_ == 0.0))
  }

  test("text analysis columns: counts, ttr, quality, langid") {
    val d = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = d.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.typeTokenRatio(col("text")).as("ttr"),
      TextAnalysis.avgWordLen(col("text")).as("awl"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp")).head
    assert(r.getAs[Long]("n") == 6)
    assert(math.abs(r.getAs[Double]("ttr") - 5.0 / 6.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("awl") - 17.0 / 6.0) < 1e-12)
    assert(r.getAs[String]("lang") == "en")
    assert(r.getAs[String]("fp").matches("[0-9a-f]{32}"))
  }

  test("langIdMulti scores every dictionary language, ties lexicographically, thresholds to und") {
    val dict = Seq(
      "the" -> "en", "of" -> "en",
      "le" -> "fr", "est" -> "fr",
      "el" -> "es", "que" -> "es",
      "der" -> "de", "und" -> "de")
    val d = Seq(
      (1L, "the cat sat of the mat"),          // en, 3/6 hits
      (2L, "le chat est sur le tapis"),        // fr, 3/6
      (3L, "el gato que duerme bien hoy"),     // es, 2/6
      (4L, "der hund und der mann hier"),      // de, 3/6
      (5L, "the le chien cat walks on"),       // TIE en=fr=1 → 'en' (lex)
      (6L, "nothing matches anything here at all x y z a b c d e f g h i j k")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langIdMulti(d, Seq("doc_id"), col("text"), dict)
      .orderBy(col("doc_id")).collect()
    assert(out.map(_.getAs[String]("pred_lang")).toSeq ==
      Seq("en", "fr", "es", "de", "en", "und"))
    // per-language hit columns are real scores, not just the argmax
    val r2 = out(1)
    assert(r2.getAs[Long]("hits_fr") == 3 && r2.getAs[Long]("hits_en") == 0
      && r2.getAs[Long]("n_tok") == 6)
    // n_tok counts ALL tokens exactly once despite the dictionary join
    assert(out.map(_.getAs[Long]("n_tok")).toSeq ==
      Seq(6L, 6L, 6L, 6L, 6L, 20L))
    // a word shared across languages would corrupt n_tok — refused
    val shared = dict :+ ("the" -> "fr")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.langIdMulti(d, Seq("doc_id"), col("text"), shared)
    }
    assert(e.getMessage.contains("unique across languages"))
  }

  test("scrubPii redacts urls-then-emails, counts matches, and is idempotent") {
    val d = Seq(
      (1L, "mail a@b.org and c.d+x@e-f.co.uk now"),
      (2L, "see https://ex.org/p?q=1&r=2#z and http://a.b/c-d_e"),
      (3L, "userinfo https://u@host.org/p stays one URL"),
      (4L, "no pii here")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
      TextAnalysis.countMatches(col("text"), TextAnalysis.EmailRe).as("ne"),
      TextAnalysis.countMatches(col("text"), TextAnalysis.UrlRe).as("nu"),
      TextAnalysis.scrubPii(col("text")).as("s"))
      .orderBy(col("doc_id")).collect()
    assert(out(0).getAs[String]("s") == "mail <EMAIL> and <EMAIL> now")
    assert(out(0).getAs[Long]("ne") == 2 && out(0).getAs[Long]("nu") == 0)
    assert(out(1).getAs[String]("s") == "see <URL> and <URL>")
    assert(out(1).getAs[Long]("nu") == 2)
    // the URL pass consumes userinfo; no stray email redaction follows
    assert(out(2).getAs[String]("s") == "userinfo <URL>@host.org/p stays one URL"
      || out(2).getAs[String]("s") == "userinfo <URL> stays one URL")
    assert(out(3).getAs[String]("s") == "no pii here")
    // idempotent: placeholders carry no @ or ://
    val twice = d.select(TextAnalysis.scrubPii(
      TextAnalysis.scrubPii(col("text"))).as("s2"), col("doc_id"))
      .orderBy(col("doc_id")).collect().map(_.getString(0))
    assert(twice.toSeq == out.map(_.getAs[String]("s")).toSeq)
  }

  test("QuantizedDot kernel equals the aggregate(zip_with) HOF fold exactly") {
    import spark.implicits._
    // random vectors spanning signs, magnitudes and near-tie values;
    // plane-like integer coefficients. The kernel's contract is EXACT
    // integer arithmetic parity with the interpreted HOF chain it
    // replaced (and with the DuckDB oracle via the 3-SF burnin).
    val rnd = new scala.util.Random(42)
    val planeVals = Seq.tabulate(64)(i =>
      (if (i % 2 == 0) 1 else -1) * (rnd.nextInt(1 << 23)).toDouble)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(64) { _ =>
        rnd.nextInt(7) match {
          case 0 => rnd.nextDouble() * 2 - 1
          case 1 => (rnd.nextInt(2000001) - 1000000) / 1000000.0 // exact micro-units
          case 2 => (rnd.nextInt(4001) - 2000 + 0.5) / 1000000.0 // near .5 ties
          case 3 => rnd.nextGaussian() * 100
          case _ => rnd.nextDouble()
        }
      })
    }
    val df = rows.toDF("id", "v")
    val pl = array(planeVals.map(lit): _*)
    val hof = aggregate(
      zip_with(col("v"), array(planeVals.map(x => lit(x.toLong)): _*),
        (x, y) => round(x * lit(1000000.0d)).cast("long") * y),
      lit(0L), (acc, t) => acc + t)
    val cmp = df.select(col("id"),
        graft.functions.GraftFunctions.quantizedDot(col("v"), pl).as("k"),
        hof.as("h"))
      .filter(col("k") =!= col("h") || col("k").isNull =!= col("h").isNull)
      .collect()
    assert(cmp.isEmpty, s"kernel/HOF divergence: ${cmp.take(3).mkString(",")}")
    // null-out contract: null array, length mismatch, null element,
    // non-finite element
    val edge = Seq(
      (1L, null.asInstanceOf[Seq[java.lang.Double]]),
      (2L, Seq.fill(16)(java.lang.Double.valueOf(1.0))),
      (3L, Seq.tabulate(64)(i => if (i == 7) null
        else java.lang.Double.valueOf(1.0))),
      (4L, Seq.tabulate(64)(i => java.lang.Double.valueOf(
        if (i == 3) Double.NaN else 1.0)))
    ).toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
    val nulls = edge.select(col("id"),
        graft.functions.GraftFunctions.quantizedDot(col("v"), pl).as("k"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(nulls == Map(1L -> true, 2L -> true, 3L -> true, 4L -> true), nulls)
  }

  test("persisted-probe width guards raise on stale widths instead of empty joins") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    // an index persisted under the pre-r9 32-bit default, probed at 64:
    // band keys are 8 chars, not 16 — without the guard the equi-join
    // silently returns zero candidates
    val staleIdx = Dedup.simHashBandKeys(docs, col("text"), col("doc_id"),
      nBits = 32, nBands = 4)
    val ex = intercept[Exception] {
      Dedup.checkedBandIndex(staleIdx, nBits = 64, nBands = 4).collect()
    }
    assert(exMsg(ex).contains("band index width mismatch"), ex.getMessage)
    // an index built under a different nBands: ordinals out of range
    val staleBands = Dedup.simHashBandKeys(docs, col("text"), col("doc_id"),
      nBits = 64, nBands = 8)
    val ex2 = intercept[Exception] {
      Dedup.checkedBandIndex(staleBands, nBits = 64, nBands = 4).collect()
    }
    // 16-band index at nBits=64 has 8-char bands (width ok at nBands=8?
    // 64/8=8 vs expected 64/4=16 — width fires first); force an
    // ordinal-only mismatch via a hand-built row
    assert(exMsg(ex2).contains("mismatch"), ex2.getMessage)
    val ordIdx = Seq((1L, 7, "0" * 16)).toDF("id", "band", "bh")
    val ex3 = intercept[Exception] {
      Dedup.checkedBandIndex(ordIdx, nBits = 64, nBands = 4).collect()
    }
    assert(exMsg(ex3).contains("nBands mismatch"), ex3.getMessage)
    // matching params pass through byte-identical
    val okIdx = Dedup.simHashBandKeys(docs, col("text"), col("doc_id"),
      nBits = 64, nBands = 4)
    assert(Dedup.checkedBandIndex(okIdx, 64, 4).collect().toSet ==
      okIdx.collect().toSet)
    // quantized-LSH bucket guard: stale 8-bit buckets probed at 16
    val b8 = Seq("01010101").toDF("bucket")
    val ex4 = intercept[Exception] {
      b8.select(Similarity.checkedBucket(col("bucket"), 16)).collect()
    }
    assert(exMsg(ex4).contains("bucket width mismatch"), ex4.getMessage)
    assert(b8.select(Similarity.checkedBucket(col("bucket"), 8))
      .head.getString(0) == "01010101")
  }

  private def exMsg(ex: Throwable): String =
    (Option(ex.getMessage) ++ Option(ex.getCause).flatMap(c =>
      Option(c.getMessage))).mkString(" | ")
}
