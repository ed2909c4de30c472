package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.Bench
import graft.queries._

/** The two query sweeps: one closed-loop client runs declared queries
  * of a set of query modules one at a time, in an order the seed
  * permutes, each through `Bench.benchAction(fn(spark, sf))`.
  *
  * `cold` releases the shared memo stores before every query
  * (`ExtendedQueries.releaseCaches`), so each query pays its own memo
  * builds and layout writes. Otherwise the set-up runs `warm`, the
  * queries that build the memos the others read, and they stay warm.
  * `keep` picks, from each module's queries in name order, those a run
  * executes; every query of the modules has its expected result
  * recorded. */
final class Sweep(modules: Seq[(String, Map[String, QFn])], cold: Boolean,
    keep: Seq[String] => Seq[String], warm: Seq[String]) {
  private val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  private val fns: Map[String, QFn] = modules.flatMap(_._2).toMap
  private val all: Seq[String] = fns.keys.toSeq.sorted
  val names: Seq[String] = modules.flatMap { case (_, qs) => keep(qs.keys.toSeq.sorted) }.sorted

  /** Row count and an order-independent content hash. Doubles are
    * compared to nine significant digits, so a sum whose order depends
    * on partitioning cannot flip the hash. */
  def contentHash(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val norm = d.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", col(f.name).cast("double"))
        case _ => col(f.name).cast("string")
      }
    }
    val h = if (norm.isEmpty) lit(0L) else xxhash64(norm.toIndexedSeq: _*)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  private def expected(path: String): Map[String, (Long, String)] = {
    val root = Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")).get("queries")
    names.flatMap(n => Option(root.get(n)).map(v => n -> (v.get("rows").asLong, v.get("hash").asText))).toMap
  }

  /** Write the expected row counts and hashes of every query. */
  def record(a: Args): Unit = {
    val spark = Harness.session(a.work)
    val rows = all.map { n =>
      val (c, h) = contentHash(fns(n)(spark, a.data))
      n -> Json.obj("rows" -> c, "hash" -> h)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(a.expected),
      (Json.obj("queries" -> Json.obj(rows: _*)).text + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  def run(a: Args): Unit = {
    val expect = expected(a.expected)
    val missing = names.filterNot(expect.contains)
    require(missing.isEmpty, s"no expected result for ${missing.mkString(", ")}")
    // Set-up: session start, JIT warm-up and (warm sweep) the memos.
    // The first set-up pays the JVM's cold start, so the median is a
    // warm one; five when set-up is light, three when it builds memos.
    val (spark, setupTimes) = Harness.repeatSetup(if (warm.isEmpty) 5 else 3) { () =>
      val s = Harness.session(a.work)
      Harness.warmUp(s, a.data)
      warm.foreach(n => Bench.benchAction(fns(n)(s, a.data)))
      s
    } { s => ExtendedQueries.releaseCaches(s, a.data); s.stop() }
    val sc = spark.sparkContext
    val tracer = new Tracer(a.trace)
    val ledger = new Ledger

    // Check pass, before timing: each query once, in name order, its row
    // count and content hash against the recorded ones. It also compiles
    // the queries' code paths, so the timed pass measures the engine
    // rather than the JIT. Its time is reported as check_s.
    val failures = mutable.ArrayBuffer[Failure]()
    val c0 = Harness.nowMs()
    names.foreach { name =>
      val (want, wantHash) = expect(name)
      Harness.guarded(0, name)(contentHash(fns(name)(spark, a.data))) match {
        case Left(f) => failures += f
        case Right((n, h)) => if (n != want || h != wantHash) failures +=
          Failure(0, name, "WrongResult", s"content hash $h of $n rows, expected $wantHash of $want")
      }
    }
    val checkS = (Harness.nowMs() - c0) / 1000.0
    if (a.trace) sc.addSparkListener(new LedgerListener(ledger))

    val rng = new scala.util.Random(a.seed)
    val latMs = mutable.ArrayBuffer[Double]()
    val byQuery = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passMs = mutable.ArrayBuffer[Double]()
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    var counters = Counters()
    var cachedPeak = 0.0
    var op = 0L
    Harness.resetHeapPeak()
    val gc0 = Harness.gcMs()
    val t0 = Harness.nowMs()
    var passes = 0
    while (passes < 1 || Harness.nowMs() - t0 < a.seconds * 1000.0) {
      var pass = 0.0
      rng.shuffle(names).foreach { name =>
        op += 1
        val group = s"pb-op-$op"
        if (cold) tracer.span(op, "release", "") { ExtendedQueries.releaseCaches(spark, a.data) }
        sc.setJobGroup(group, name)
        var buildEndMs = Long.MaxValue
        var df: DataFrame = null
        val s0 = Harness.nowMs()
        val result = Harness.guarded(op, name) {
          tracer.span(op, "op", "") {
            df = tracer.span(op, "build") { fns(name)(spark, a.data) }
            buildEndMs = System.currentTimeMillis()
            if (a.trace) tracer.span(op, "plan") { df.queryExecution.executedPlan }
            tracer.span(op, "exec") { Bench.benchAction(df) }
          }
        }
        val ms = Harness.nowMs() - s0
        latMs += ms
        byQuery.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms
        pass += ms
        result.left.foreach(failures += _)
        result.foreach { rows =>
          if (rows != expect(name)._1)
            failures += Failure(op, name, "WrongResult", s"$rows rows, expected ${expect(name)._1}")
        }
        if (a.trace) {
          settle(spark, ledger, op, group)
          val (c, buildJobs) = ledger.take(group, buildEndMs)
          counters += c
          tracer.record(op, c)
          layer("queries.build_jobs") += buildJobs
          if (df != null) {
            val ph = df.queryExecution.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { p =>
              layer(s"plan.${p}_ms") += ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
            }
          }
          val exec = tracer.all.filter(s => s.op == op && s.name == "exec").map(_.durNs / 1e6).sum
          layer(s"module.${moduleOf(name)}.ms") += exec
          cachedPeak = math.max(cachedPeak, Harness.cachedMb(spark))
        }
        sc.clearJobGroup()
      }
      passMs += pass
      passes += 1
    }
    val gcMs = Harness.gcMs() - gc0
    val wallMs = latMs.sum
    val lat = latMs.toSeq
    val tailPct = Stats.highestSupported(lat.size)

    val metrics: Seq[(String, Harness.Metric)] =
      if (!a.trace) Seq(
        "setup_s" -> Harness.Metric(Stats.median(setupTimes), "s"),
        "wall_s" -> Harness.Metric(Stats.median(passMs.toSeq) / 1000.0, "s"),
        "op_p50_ms" -> Harness.Metric(Stats.median(lat), "ms"),
        "rss_peak_mb" -> Harness.Metric(Harness.rssPeakMb(), "MB"))
      else {
        val spans = tracer.all
        def spanMs(n: String) = spans.filter(_.name == n).map(_.durNs / 1e6).sum
        val self = tracer.selfMsByName
        val values = layer.toMap ++ Layers.fromCounters(counters, wallMs, Harness.cores) ++ Map(
          "queries.build_ms" -> spanMs("build"),
          "exec.ms" -> spanMs("exec"),
          "memo.cached_mb" -> cachedPeak,
          "jvm.gc_ms" -> gcMs.toDouble,
          "jvm.heap_peak_mb" -> Harness.heapPeakMb(),
          "trace.wall_s" -> wallMs / 1000.0 / passes,
          "trace.op_self_ms" -> self.getOrElse("op", 0.0))
        Layers.metrics(values, passes)
      }
    if (a.trace) tracer.write(java.nio.file.Paths.get(a.spans))
    Harness.emit(a, names.size + lat.size, failures.toSeq, failures.isEmpty, metrics, Map(
      "env" -> Harness.env(a, spark),
      "samples" -> lat.size, "passes" -> passes, "queries" -> names.size,
      "setup_s_each" -> setupTimes, "check_s" -> checkS,
      "op_tail_percentile" -> tailPct,
      "op_tail_ms" -> tailPct.map(Stats.percentile(lat, _)),
      "pass_s" -> passMs.map(_ / 1000.0).toSeq,
      "query_median_ms" -> byQuery.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap))
    ExtendedQueries.releaseCaches(spark, a.data)
    spark.stop()
  }

  /** Wait until every event of operation `group` has reached the
    * ledger: run a one-task marker job, whose job-end the bus delivers
    * after everything the operation posted. */
  private def settle(spark: SparkSession, ledger: Ledger, op: Long, group: String): Unit = {
    val marker = s"pb-marker-$op"
    spark.sparkContext.setJobGroup(marker, "settle")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 10000000000L
    while (!(ledger.ended(marker) && ledger.settled(group)) && System.nanoTime() < deadline)
      Thread.sleep(1)
    ledger.take(marker)
  }
}

object Sweep {
  /** The ETL lifecycle queries whose build-once state `graft.Bench`
    * prebuilds before timing (streamed publishes, compactions, SCD2,
    * sketch roll-up, skipping and bucket layouts). Building that state
    * costs about 30 s of one-shot jobs at sf0.01 on four cores, more
    * than a run's budget, so the warm sweep leaves these out. */
  val lifecycle: Set[String] = Set("q_skipping_prune", "q_bucket_join", "q_compact_scan",
    "q_compact_partitioned", "q_scd2_advance", "q_sketch_rollup_band", "q_stream_cdc_publish",
    "q_stream_scd2_publish", "q_stream_agg_publish", "q_stream_band_publish",
    "q_stream_jsonl_publish")

  val sqlWarm = new Sweep(Seq(
    "CoreQueries" -> CoreQueries.queries, "JoinQueries" -> JoinQueries.queries,
    "AggQueries" -> AggQueries.queries, "WindowQueries" -> WindowQueries.queries,
    "ScalarQueries" -> ScalarQueries.queries, "SqlSurfaceQueries" -> SqlSurfaceQueries.queries,
    "IndicatorQueries" -> IndicatorQueries.queries, "BehaviorQueries" -> BehaviorQueries.queries,
    "EtlQueries" -> EtlQueries.queries, "StarPipelineQueries" -> StarPipelineQueries.queries),
    cold = false, keep = _.filterNot(lifecycle),
    // builds the event-profile memo most event queries read
    warm = Seq("q_funnel"))

  val corpusCold = new Sweep(Seq(
    "NorthStarQueries" -> NorthStarQueries.queries, "ExtendedQueries" -> ExtendedQueries.queries,
    "TrainPrepQueries" -> TrainPrepQueries.queries, "CorpusStatsQueries" -> CorpusStatsQueries.queries,
    "CorpusCleanQueries" -> CorpusCleanQueries.queries),
    // every fourth query of each module, by name: 15 of the 55, so a run
    // (check pass plus timed pass) fits the benchmark's time budget
    // while every module stays measured
    cold = true, keep = _.zipWithIndex.collect { case (n, i) if i % 4 == 0 => n }, warm = Nil)
}
