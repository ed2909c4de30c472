package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.StarSchemaBuilder
import graft.ops.{Dedup, Multimodal, Similarity}

/** End-to-end demo of the non-oracle library surface: ingest through
  * the injectable-fetch adapters + landing CSV sink, star-schema ETL,
  * the serving layer, near-dup detection, ANN search, multimodal
  * plumbing, and the streaming tumbling aggregation — one run, real
  * outputs, printed summaries. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"

    // --- ingest: injectable-fetch adapters (S5/S6) + landing sink (S8) ---
    val landing = Files.createTempDirectory("demo_landing").toString
    val tickers = Seq("^GSPC", "^DJI", "^NDX")
    val dates = Iterator.iterate(java.time.LocalDate.parse("2024-01-01"))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse("2024-02-15"))).toSeq
    // canned "yfinance" payload: wide (ticker, field) columns per date
    val fields = Seq("Open", "High", "Low", "Close", "Adj Close", "Volume")
    val wideCols = Seq("Date") ++ (for (t <- tickers; f <- fields) yield s"$t:$f")
    val wide = dates.zipWithIndex.map { case (d, i) =>
        (d.toString +: tickers.flatMap { t =>
          val close = 100.0 + i + (if (t == "^DJI") 50 else 0)
          Seq("100.0", "110.0", "90.0", f"$close%.2f", "100.0", s"${1000L + i}")
        }).mkString("|")
      }.toDF("raw").select(split(col("raw"), "\\|").as("p"))
      .select(wideCols.zipWithIndex.map { case (c, i) => col("p").getItem(i).as(c) }: _*)
    // the reference DAG (fetch stocks >> fetch world bank >> build
    // star), driven by the orchestration shim: one logical daily run
    val starOut = Files.createTempDirectory("demo_star").toString
    var star: Map[String, org.apache.spark.sql.DataFrame] = Map.empty
    val dag = graft.etl.Scheduler.referenceDag(
      fetchStocks = rd => {
        val landed = graft.sources.ExternalAdapters.fetchStocksIncrement(
          spark, landing, (_, _, _) => wide,
          today = rd.toLocalDate, tickers = tickers)
        println(s"[demo] landed stocks increment = $landed")
      },
      fetchWorldBank = rd => graft.sources.ExternalAdapters.fetchWorldBank(
        spark, landing,
        () => Seq(("2024-01-01", 2.5, 3.1))
          .toDF("Date", "GDP Growth", "Inflation, Consumer Prices"),
        rd.toLocalDate),
      buildStar = _ => star = StarSchemaBuilder.build(spark, landing, starOut))
    val runs = dag.catchUpTo(
      now = java.time.LocalDateTime.parse("2024-02-15T06:00"),
      lastRun = Some(java.time.LocalDateTime.parse("2024-02-14T00:00")))
    runs.foreach { case (rd, states) =>
      println(s"[demo] dag run $rd: " + dag.topo.map(t =>
        s"${t.id}=${states(t.id)}").mkString(", ")) }
    println(s"[demo] watermark = ${StarSchemaBuilder.lastSavedDate(spark, landing, "stocks")}")
    star.foreach { case (n, _) =>
      println(s"[demo] $n rows = ${spark.read.parquet(s"$starOut/$n.parquet").count()}") }

    // --- data-quality gate on the fresh star build ---
    import graft.etl.Expectations
    val factDf = spark.read.parquet(s"$starOut/fact_table.parquet")
    val dimIdx = spark.read.parquet(s"$starOut/dim_stock_index.parquet")
    val report = Expectations.check(factDf,
      Seq(Expectations.notNull("DateKey"),
        Expectations.inRange("Close", 0.0, 1e6),
        Expectations.satisfies("high_ge_low", col("High") >= col("Low"))),
      uniqueKey = Seq("DateKey", "IndexKey"),
      foreignKeys = Map("fk(IndexKey)" -> (("IndexKey", dimIdx, "IndexKey"))))
    report.foreach(v => println(s"[demo] expectation ${v.rule}: " +
      (if (v.passed) "pass" else s"${v.violations} violations")))
    require(report.forall(_.passed), "star build failed its quality gate")

    // --- serving layer: filter-below-sort slice from the cached star ---
    val serve = new graft.serve.StarServe(spark, starOut)
    println("[demo] serve chartSeries ^DJI 2024-01-10..2024-01-14:")
    serve.chartSeries("^DJI", "2024-01-10", "2024-01-14").show()
    val svg = serve.chartSvg("^DJI", "2024-01-10", "2024-01-14")
    println(s"[demo] chartSvg bytes = ${svg.length}, " +
      s"series = ${"<polyline".r.findAllIn(svg).length}")
    // the dashboard's HTTP boundary: same slice over the wire
    val http = graft.serve.StarServeHttp.serve(serve)
    try {
      val c = java.net.http.HttpClient.newHttpClient()
      val body = c.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"${http.url}/series?index=%5EDJI&start=2024-01-10&end=2024-01-14"))
        .GET().build(), java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      println(s"[demo] GET /series over ${http.url} -> ${body.take(80)}…")
    } finally http.stop(0)
    serve.release()

    // --- near-dup detection on the documents corpus ---
    val docs = queries.t(spark, sf, "documents")
    val cand = Dedup.minHashLshCandidates(docs, col("text"), col("doc_id")).cache()
    println(s"[demo] minhash-lsh candidate pairs = ${cand.count()}")
    val verified = Dedup.jaccardPairs(
      Dedup.shingleSets(docs, col("text"), col("doc_id")), cand)
    println(s"[demo] verified near-dups (jac>=0.8) = ${verified.filter(col("jac") >= 0.8).count()}")

    // --- tokenizer induction over the corpus vocabulary ---
    val merges = graft.ops.Bpe.learnFromCorpus(spark, docs, col("text"), nMerges = 6)
    println(s"[demo] bpe merges = ${merges.map { case (a, b) => s"$a+$b" }.mkString(", ")}")
    val sampleToks = docs.limit(1)
      .select(graft.ops.Bpe.encode(col("text"), merges).as("t"))
      .head.getSeq[String](0)
    println(s"[demo] bpe-encoded doc 0 head = ${sampleToks.take(12).mkString("|")}")

    // --- similarity search ---
    val emb = queries.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    println("[demo] exact top-5:")
    Similarity.bruteForceTopK(corpus, col("vec_id"), col("embedding"), q, col("embedding"), 5).show()
    println("[demo] lsh top-5 (8-bit buckets):")
    Similarity.lshTopK(corpus, col("vec_id"), col("embedding"), q, col("embedding"), 5, nBits = 4).show()

    // --- multimodal plumbing ---
    val media = Multimodal.syntheticMedia(spark, 50)
    val decoded = Multimodal.decode(media)
    println(s"[demo] media decoded = ${decoded.count()}; " +
      s"frames sampled = ${Multimodal.sampleFrames(decoded, 5000).count()}")

    // --- corpus interchange: JSONL in with quarantine ---
    val jsonlDir = Files.createTempDirectory("demo_jsonl").resolve("in").toString
    graft.sources.CorpusIO.writeJsonl(
      docs.select("doc_id", "text", "lang"), jsonlDir, shards = 2)
    val (ingested, deadLetter) = graft.sources.CorpusIO.readJsonl(
      spark, jsonlDir, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType))))
    println(s"[demo] jsonl intake: ${ingested.count()} clean, " +
      s"${deadLetter.count()} quarantined")

    // --- training-set prep: clean (+ boilerplate scrub) →
    // --- decontaminate (+ per-task audit) → mix → split → pack ---
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val trainRaw = docs.filter(col("doc_id") % 97 =!= 0)
    val cleaned = graft.ops.CorpusClean.clean(
      trainRaw, col("text"), col("doc_id"),
      graft.ops.CorpusClean.Config(scrubBoilerplate = true),
      evalCorpus = Some(evalDocs))
    println("[demo] corpus-clean stage stats (incl. decontamination):")
    cleaned.stageStats().show()
    println("[demo] per-task contamination audit:")
    graft.ops.TrainPrep.contaminationReport(trainRaw, evalDocs,
      col("text"), col("doc_id"),
      concat(lit("task"), (col("doc_id") % 3).cast("string"))).show()
    val mixWeights = graft.ops.TrainPrep.temperatureWeights(
      cleaned.docs, col("lang"), alpha = 0.5,
      budgetRows = cleaned.docs.count())
    val mixed = graft.ops.TrainPrep.mixCorpus(
      cleaned.docs, col("lang"), col("text"), mixWeights)
    println(s"[demo] temperature-mixed corpus (α=0.5): ${mixed.count()} rows")
    val labeled = mixed.withColumn("split",
      graft.ops.TrainPrep.splitLabel(col("text")))
    val packed = graft.ops.TrainPrep.packBins(
      labeled.filter(col("split") === "train")
        .select(col("doc_id"), (col("doc_id") % 4).as("shard_key"),
          size(split(col("text"), " ")).cast("long").as("n_tok")),
      col("shard_key"), col("doc_id"), col("n_tok"), budget = 2048L)
    println(s"[demo] train docs packed into " +
      s"${packed.select(col("shard"), col("bin")).distinct().count()} bins")
    cleaned.release()

    // --- incremental corpus statistics (sketch rollup) ---
    val sketchPath = Files.createTempDirectory("demo_sketch")
      .resolve("state").toString
    val scCols = graft.etl.SketchRollup.Columns("doc_id", "n_chars", "text")
    for (i <- 0 until 3)
      graft.etl.SketchRollup.advance(spark, sketchPath,
        docs.filter(col("doc_id") % 3 === i)
          .select("lang", "doc_id", "n_chars", "text"),
        Seq("lang"), scCols)
    println("[demo] incrementally folded corpus sketch state:")
    graft.etl.SketchRollup.finalizeState(
      spark.read.parquet(sketchPath), Seq("lang")).drop("sig").show()

    // --- approximate distinct (HLL++) vs exact ---
    val li = queries.t(spark, sf, "lineitem")
    val approx = graft.ops.Sketches.approxCountDistinct(li, col("l_partkey")).head.getLong(0)
    val exact = li.select(col("l_partkey")).distinct().count()
    println(s"[demo] approx distinct parts = $approx (exact $exact)")

    // --- streaming tumbling agg over an event stream ---
    val streamDir = Files.createTempDirectory("demo_stream").toString
    queries.t(spark, sf, "events").withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(streamDir)
    val sq = graft.streaming.StreamingPipeline
      .tumblingHourly(graft.streaming.StreamingPipeline.readEventStream(spark, streamDir))
      .writeStream.outputMode("complete").format("memory").queryName("demo_tumbling").start()
    sq.processAllAvailable()
    println(s"[demo] streaming tumbling rows = ${spark.table("demo_tumbling").count()}")
    sq.stop()

    spark.stop()
  }
}
