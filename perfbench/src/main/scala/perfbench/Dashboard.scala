package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.time.{DayOfWeek, LocalDate}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.etl.StarSchemaBuilder
import graft.serve.{ChartRender, StarServe, StarServeHttp}
import graft.sources.ExternalAdapters
import graft.streaming.StreamingPipeline

/** A seeded stock universe: every ticker's bar on every trading day,
  * the first `history` days landed in set-up, the rest landed one day
  * at a time by the writer. The truth the responses are checked
  * against. */
final class Universe(seed: Long, val history: Int, extra: Int) {
  private val rng = new scala.util.Random(seed)
  val tickers: Seq[String] = Seq("^GSPC", "^DJI", "^NDX", "^RUT", "^FTSE", "^N225")
  val days: IndexedSeq[LocalDate] =
    Iterator.iterate(LocalDate.of(2021, 1, 4))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(history + extra).toIndexedSeq
  private def cents(x: Double) = math.round(x * 100) / 100.0
  /** (open, high, low, close, volume) per ticker per day index. */
  val bars: Map[String, IndexedSeq[(Double, Double, Double, Double, Long)]] =
    tickers.map { t =>
      var close = 1000.0 + rng.nextInt(30000)
      t -> days.indices.map { _ =>
        val open = cents(close * (1 + rng.nextGaussian() * 0.002))
        close = cents(math.max(10.0, close * (1 + rng.nextGaussian() * 0.01)))
        val hi = cents(math.max(open, close) * (1 + rng.nextDouble() * 0.005))
        val lo = cents(math.min(open, close) * (1 - rng.nextDouble() * 0.005))
        (open, hi, lo, close, 1000000L + rng.nextInt(9000000))
      }
    }.toMap
  val gdp: Map[Int, Double] = (2020 to 2030).map(y => y -> cents(rng.nextGaussian() * 2 + 2)).toMap

  def close(t: String, i: Int): Double = bars(t)(i)._4

  /** The fetch client `ExternalAdapters.fetchStocksIncrement` calls:
    * yfinance's wide frame for trading days in [start, end). */
  def fetch(spark: SparkSession)(ts: Seq[String], start: LocalDate, end: LocalDate): DataFrame = {
    val fields = Seq("Open", "High", "Low", "Close", "Adj Close", "Volume")
    val schema = StructType(StructField("Date", StringType) +:
      ts.flatMap(t => fields.map(f => StructField(s"$t:$f", DoubleType))))
    val rows = days.indices.filter { i => !days(i).isBefore(start) && days(i).isBefore(end) }
      .map { i =>
        Row.fromSeq(days(i).toString +: ts.flatMap { t =>
          val (o, h, l, c, v) = bars(t)(i)
          Seq(o, h, l, c, c, v.toDouble)
        })
      }
    spark.createDataFrame(rows.asJava, schema)
  }

  def econ(spark: SparkSession): DataFrame = {
    import spark.implicits._
    gdp.toSeq.sortBy(_._1).map { case (y, g) => (s"$y-01-01", g, 2.0) }
      .toDF("Date", "GDP Growth", "Inflation, Consumer Prices")
  }
}

/** `dashboard_refresh`: the reference's daily DAG feeding its
  * dashboard. Set-up lands a seeded universe through
  * `ExternalAdapters.fetchStocksIncrement`, builds the star with
  * `StarSchemaBuilder.build`, publishes the fact as an upsert snapshot
  * (`StreamingPipeline.upsertSink`) and serves it with `StarServeHttp`
  * in snapshot mode. Then nproc-1 closed-loop readers issue a seeded
  * mix of requests while one writer, after every K-th completed read,
  * lands the next trading day, publishes it and POSTs /refresh. */
object Dashboard {
  val Reads = 160
  val WarmReads = 24
  val WriterDays = 8
  val History = 500
  val MaxSliceRows = 10000

  private final class Env(val spark: SparkSession, val root: Path, val u: Universe,
      val http: StarServeHttp, val serve: StarServe, val starBuildMs: Double) {
    val landing: String = root.resolve("landing").toString
    val snaps: String = root.resolve("snapshots").toString
    val ckpt: String = root.resolve("checkpoint").toString
  }

  /** Publish every landed day not yet in the snapshot: one
    * available-now run of the upsert stream over the landing files.
    * Returns the run's id, which is the job group of every job the
    * stream runs (its thread sets it). */
  private def publish(spark: SparkSession, landing: String, snaps: String, ckpt: String): String = {
    val econ = StarSchemaBuilder.readLanding(spark, landing, "world_bank", StarSchemaBuilder.econSchema)
      .select(year(col("date")).as("y"), col("GDPGrowthRate"))
    val bars = spark.readStream.schema(StarSchemaBuilder.stocksSchema)
      .option("header", "true").csv(s"$landing/stocks_*.csv/*.csv")
    val fact = bars.select(md5(col("Ticker").cast("binary")).as("IndexKey"),
        col("Date").as("DateKey"), col("Open"), col("High"), col("Low"), col("Close"),
        col("Volume"), year(col("Date")).as("y"))
      .join(econ, Seq("y"), "left").drop("y")
    val q = StreamingPipeline.upsertSink(fact, Seq("IndexKey", "DateKey"), snaps, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.runId.toString
  }

  private def setUp(a: Args, rep: Int): Env = {
    val spark = Harness.session(a.work)
    val root = Paths.get(a.work, s"dashboard-$rep")
    val u = new Universe(a.seed, History, WriterDays + 1)
    val landing = root.resolve("landing").toString
    ExternalAdapters.fetchStocksIncrement(spark, landing, u.fetch(spark), u.days(History - 1).plusDays(1),
      tickers = u.tickers)
    ExternalAdapters.fetchWorldBank(spark, landing, () => u.econ(spark), u.days(History - 1))
    val star = root.resolve("star").toString
    val b0 = Harness.nowMs()
    StarSchemaBuilder.build(spark, landing, star)
    val starMs = Harness.nowMs() - b0
    publish(spark, landing, root.resolve("snapshots").toString, root.resolve("checkpoint").toString)
    val serve = StarServe.fromStreamingSnapshots(spark, star, root.resolve("snapshots").toString)
    spark.sparkContext.clearJobGroup()
    val http = new StarServeHttp(serve, 0, threads = Harness.cores, maxSliceRows = MaxSliceRows).start()
    serve.fact.count()
    new Env(spark, root, u, http, serve, starMs)
  }

  private def tearDown(e: Env): Unit = {
    e.http.stop(0)
    e.serve.release()
    e.spark.stop()
    deleteTree(e.root)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))

  /** One reader request: the URL path and what it asks for (day
    * indices into the universe). */
  private final case class Req(path: String, kind: String, ticker: String, from: Int, to: Int, k: Int)

  /** The request mix, in the order each reader cycles through it (each
    * from its own offset). The first five are one view of the
    * dashboard page `StarServeHttp.IndexHtml` in the order it issues
    * them: /indexes, /bounds, /chart over the whole bounds range, then
    * two redraws over a narrower range (the redraw count is assumed).
    * The other five stand for API clients of /series and /latest,
    * which the page never calls; their half share is assumed, and two
    * of them read the most recent days so new days show. Fixed shares
    * keep a run's mix the same for every seed. */
  private val Mix = Seq("indexes", "bounds", "page", "chart", "chart",
    "recent", "series", "latest", "recent", "series")

  /** A request of kind `kind`, its ticker, range and k drawn from `rng`.
    * Slices stay far under the row cap. */
  private def draw(rng: scala.util.Random, u: Universe, newest: Int, kind: String): Req = {
    val t = u.tickers(rng.nextInt(u.tickers.size))
    val len = 5 + rng.nextInt(56)
    def range(path: String, recent: Boolean) = {
      val to = if (recent) u.days.size - 1 else len + rng.nextInt(math.max(1, newest - len))
      val from = if (recent) math.max(0, newest - len) else to - len
      Req(s"/$path?index=${enc(t)}&start=${u.days(from)}&end=${u.days(to)}", path, t, from, to, 0)
    }
    kind match {
      case "recent" => range("series", recent = true)
      case "series" | "chart" => range(kind, recent = false)
      case "page" =>
        Req(s"/chart?index=${enc(t)}&start=${u.days(0)}&end=${u.days(newest)}", "chart", t, 0, newest, 0)
      case "indexes" => Req("/indexes", "indexes", t, 0, 0, 0)
      case "latest" =>
        val k = 1 + rng.nextInt(20)
        Req(s"/latest?index=${enc(t)}&k=$k", "latest", t, 0, 0, k)
      case _ => Req("/bounds", "bounds", t, 0, 0, 0)
    }
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  /** Why `body` is wrong for `q`, if it is, when the snapshot it was
    * read from may hold any newest day in [lo, hi]. */
  private def verify(u: Universe, q: Req, status: Int, body: String, lo: Int, hi: Int): Option[String] = {
    if (status != 200) return Some(s"status $status: ${body.take(200)}")
    def rows(expectIdx: Seq[Int], got: Seq[(String, Double)]): Boolean =
      got.size == expectIdx.size && got.zip(expectIdx).forall { case ((d, c), i) =>
        d == u.days(i).toString && math.abs(c - u.close(q.ticker, i)) < 1e-9 }
    def parsed: Seq[(String, Double)] = Json.parse(body).elements().asScala.toSeq
      .map(n => (n.get("DateKey").asText, n.get("Close").asDouble))
    q.kind match {
      case "series" =>
        val got = parsed
        val ok = (lo to hi).exists(n => rows((q.from to math.min(q.to, n)), got))
        if (ok) None else Some(s"series ${q.path}: ${got.size} rows, not the truth for days ${lo}..$hi")
      case "latest" =>
        val got = parsed
        val ok = (lo to hi).exists(n => rows((math.max(0, n - q.k + 1) to n).reverse, got))
        if (ok) None else Some(s"latest ${q.path}: ${got.size} rows, not the truth")
      case "indexes" =>
        val codes = Json.parse(body).elements().asScala.map(_.get("IndexCode").asText).toSet
        if (codes == u.tickers.toSet) None else Some(s"indexes: $body")
      case "chart" =>
        if (body.startsWith("<svg") && body.contains("</svg>")) None else Some("chart: not an SVG")
      case "bounds" =>
        val n = Json.parse(body)
        val end = n.get("end").asText
        if (n.get("start").asText == u.days(0).toString && (lo to hi).exists(i => u.days(i).toString == end)) None
        else Some(s"bounds: $body")
    }
  }

  private def lastDay(body: String): Option[String] = {
    val els = Json.parse(body).elements().asScala.toSeq
    if (els.isEmpty) None else Some(els.map(_.get("DateKey").asText).max)
  }

  def run(a: Args): Unit = {
    var rep = 0
    val (e, setupTimes) = Harness.repeatSetup(3) { () => rep += 1; setUp(a, rep) } (tearDown)
    val spark = e.spark
    val sc = spark.sparkContext
    val u = e.u
    val traced = new Tracer(a.trace)
    val untraced = new Tracer(false)
    val ledger = new Ledger

    // newest day whose /refresh has returned, and newest day landed: a
    // response may reflect any snapshot between the two
    val visible = new AtomicInteger(History - 1)
    val landed = new AtomicInteger(History - 1)
    val landedAt = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val firstSeen = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val completed = new AtomicInteger(0)
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Failure]()
    val status4xx = new AtomicInteger(0)
    val status5xx = new AtomicInteger(0)
    val fatal = new AtomicReference[Throwable](null)
    val perDay = WriterDays + 1
    val readsPerDay = Reads / perDay
    val w = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def note(k: String, v: Double): Unit = w.synchronized { w.getOrElseUpdate(k, mutable.ArrayBuffer()) += v }

    def client() = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def get(c: HttpClient, path: String) =
      c.send(HttpRequest.newBuilder(URI.create(e.http.url + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    def seen(q: Req, body: String, at: Double): Unit =
      if (q.kind == "series") lastDay(body).foreach { d =>
        val newest = u.days.indexWhere(_.toString == d)
        (math.max(History + 1, q.from) to newest).foreach(i => firstSeen.merge(i, at, (x, y) => math.min(x, y)))
      }
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case x: Throwable => fatal.compareAndSet(null, x) }, name)
      t.setDaemon(true)
      t
    }

    val readerCount = math.max(1, Harness.cores - 1)
    /** Reader threads issuing exactly `n` checked requests between them;
      * a timed phase records their latencies. */
    def readPhase(n: Int, timed: Boolean): Seq[Thread] = {
      val tracer = if (timed) traced else untraced
      val issued = new AtomicInteger(0)
      val opBase = if (timed) 0L else 2000000L
      (0 until readerCount).map { r =>
        thread(s"reader-$r") {
          val c = client()
          val rng = new scala.util.Random(a.seed * 1000 + r + (if (timed) 0 else 500))
          var i = r * 3
          var op = issued.getAndIncrement().toLong
          while (op < n) {
            val q = draw(rng, u, visible.get, Mix(i % Mix.size))
            i += 1
            val lo = visible.get
            val s0 = Harness.nowMs()
            val resp = tracer.span(opBase + op, "request", "") {
              Harness.guarded(opBase + op, q.path)(get(c, q.path))
            }
            val s1 = Harness.nowMs()
            resp match {
              case Left(f) => failures.add(f)
              case Right(r) =>
                if (r.statusCode >= 500) status5xx.incrementAndGet()
                else if (r.statusCode >= 400) status4xx.incrementAndGet()
                verify(u, q, r.statusCode, r.body, lo, landed.get) match {
                  case Some(msg) => failures.add(Failure(opBase + op, q.path, "WrongResult", msg))
                  case None => seen(q, r.body, s1)
                }
            }
            if (timed) {
              latencies.add(s1 - s0)
              completed.incrementAndGet()
            }
            op = issued.getAndIncrement().toLong
          }
        }
      }
    }
    // the upsert stream runs of the timed days, whose jobs carry the
    // run's id as their group
    val publishRuns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    /** Writer day `d`: land trading day History-1+d, publish it, POST
      * /refresh and read it back, which must show it. */
    def day(d: Int, c: HttpClient, timed: Boolean): Unit = {
      val tracer = if (timed) traced else untraced
      val idx = History - 1 + d
      val op = 1000000L + d
      def noteT(k: String, v: Double): Unit = if (timed) note(k, v)
      sc.setJobGroup(s"pb-writer-$d", "writer")
      val res = tracer.span(op, "day", "") {
        Harness.guarded(op, s"day ${u.days(idx)}") {
          val l0 = Harness.nowMs()
          val path = tracer.span(op, "land", "day") {
            ExternalAdapters.fetchStocksIncrement(spark, e.landing, u.fetch(spark),
              u.days(idx).plusDays(1), tickers = u.tickers)
          }
          val at = Harness.nowMs()
          noteT("land_ms", at - l0)
          landedAt.put(idx, at)
          landed.set(idx)
          val p0 = Harness.nowMs()
          val run = tracer.span(op, "publish", "day") { publish(spark, e.landing, e.snaps, e.ckpt) }
          if (timed) publishRuns.add(run)
          noteT("publish_ms", Harness.nowMs() - p0)
          // the upsert rewrites the whole merged snapshot
          noteT("snapshot_bytes", StreamingPipeline.latestSnapshotName(spark, e.snaps)
            .map(n => treeBytes(Paths.get(e.snaps, n))).getOrElse(0L).toDouble)
          noteT("landed_bytes", path.map(p => treeBytes(Paths.get(p))).getOrElse(0L).toDouble)
          val r0 = Harness.nowMs()
          val refreshed = tracer.span(op, "refresh", "day") {
            c.send(HttpRequest.newBuilder(URI.create(e.http.url + "/refresh"))
              .POST(HttpRequest.BodyPublishers.noBody()).build(), HttpResponse.BodyHandlers.ofString())
          }
          noteT("refresh_ms", Harness.nowMs() - r0)
          noteT("swapped", if (refreshed.body.contains("\"swapped\":true")) 1.0 else 0.0)
          visible.set(idx)
          val t = u.tickers(d % u.tickers.size)
          val q = Req(s"/series?index=${enc(t)}&start=${u.days(idx - 5)}&end=${u.days(idx)}",
            "series", t, idx - 5, idx, 0)
          val g0 = Harness.nowMs()
          val r = tracer.span(op, "reload", "day") { get(c, q.path) }
          val g1 = Harness.nowMs()
          noteT("reload_ms", g1 - g0)
          verify(u, q, r.statusCode, r.body, idx, idx) match {
            case Some(msg) => throw new IllegalStateException(s"day ${u.days(idx)} not visible after /refresh: $msg")
            case None => seen(q, r.body, g1)
          }
        }
      }
      res.left.foreach(failures.add)
      sc.clearJobGroup()
    }

    // Warm-up before timing, checked like the rest: reads, then one
    // writer day. The JIT's first compile of the serve and publish paths
    // is set-up, not latency.
    val w0 = Harness.nowMs()
    val warmers = readPhase(WarmReads, timed = false)
    warmers.foreach(_.start())
    warmers.foreach(_.join())
    Option(fatal.get).foreach(x => throw x)
    day(1, client(), timed = false)
    val warmS = (Harness.nowMs() - w0) / 1000.0
    if (a.trace) sc.addSparkListener(new LedgerListener(ledger))
    val readers = readPhase(Reads, timed = true)
    val writer = thread("writer") {
      val c = client()
      (1 to WriterDays).foreach { d =>
        while (completed.get < d * readsPerDay && fatal.get == null) Thread.sleep(1)
        day(d + 1, c, timed = true)
      }
    }
    Harness.resetHeapPeak()
    val gc0 = Harness.gcMs()
    val t0 = Harness.nowMs()
    (readers :+ writer).foreach(_.start())
    while ((completed.get < Reads || writer.isAlive) && fatal.get == null) Thread.sleep(1)
    val wallMs = Harness.nowMs() - t0
    (readers :+ writer).foreach(_.join())
    val gcMs = Harness.gcMs() - gc0
    Option(fatal.get).foreach(x => throw x)

    val lat = latencies.asScala.toSeq
    val fresh = (History + 1 to History + WriterDays).flatMap { i =>
      Option(firstSeen.get(i)).map(s => (s - landedAt.get(i)) / 1000.0)
    }
    val metrics: Seq[(String, Harness.Metric)] =
      if (!a.trace) Seq(
        "setup_s" -> Harness.Metric(Stats.median(setupTimes), "s"),
        "wall_s" -> Harness.Metric(wallMs / 1000.0, "s"),
        "op_p50_ms" -> Harness.Metric(Stats.median(lat), "ms"),
        "rss_peak_mb" -> Harness.Metric(Harness.rssPeakMb(), "MB"))
      else {
        settle(spark, ledger)
        val httpReqs = latencies.size + 2 * WriterDays
        val srv = ledger.takeAll(Ledger.NoGroup)
        // writer work: landing under the day's group, publishing under
        // the stream run's group
        val c = srv + ledger.takeAll("pb-writer-") +
          publishRuns.asScala.map(ledger.take(_)._1).foldLeft(Counters())(_ + _)
        val (inproc, render) = inProcess(e, a.seed)
        def med(k: String) = w.get(k).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
        def tot(k: String) = w.get(k).map(_.sum).getOrElse(0.0)
        Layers.metrics(Layers.fromCounters(c, wallMs, Harness.cores) ++ Map(
          "exec.ms" -> wallMs,
          "sources.land_ms" -> med("land_ms"),
          "serve.inproc_ms" -> inproc, "serve.render_ms" -> render,
          "serve.jobs_per_req" -> srv.jobs.toDouble / httpReqs,
          "serve.tasks_per_req" -> srv.tasks.toDouble / httpReqs,
          "serve.input_mb_per_req" -> srv.inputBytes / 1048576.0 / httpReqs,
          "serve.refresh_ms" -> med("refresh_ms"), "serve.reload_ms" -> med("reload_ms"),
          "serve.refresh_swap_frac" -> tot("swapped") / WriterDays,
          "serve.status_4xx" -> status4xx.get.toDouble, "serve.status_5xx" -> status5xx.get.toDouble,
          "streaming.publish_ms" -> med("publish_ms"),
          "streaming.write_mb" -> tot("snapshot_bytes") / 1048576.0,
          "streaming.write_amp" -> tot("snapshot_bytes") / math.max(1.0, tot("landed_bytes")),
          "etl.star_build_ms" -> e.starBuildMs,
          "memo.cached_mb" -> Harness.cachedMb(spark),
          "jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_peak_mb" -> Harness.heapPeakMb(),
          "trace.wall_s" -> wallMs / 1000.0,
          "trace.op_self_ms" -> traced.selfMsByName.getOrElse("day", 0.0)), passes = 1)
      }
    if (a.trace) traced.write(java.nio.file.Paths.get(a.spans))
    val fails = failures.asScala.toSeq
    Harness.emit(a, WarmReads + lat.size + WriterDays + 1, fails, fails.isEmpty,
      metrics, Map(
        "env" -> Harness.env(a, spark),
        "samples" -> lat.size, "readers" -> math.max(1, Harness.cores - 1),
        "writer_days" -> WriterDays, "reads_per_day" -> readsPerDay,
        "setup_s_each" -> setupTimes, "warm_reads_s" -> warmS,
        "op_tail_percentile" -> Stats.highestSupported(lat.size),
        "op_tail_ms" -> Stats.highestSupported(lat.size).map(Stats.percentile(lat, _)),
        "op_p99_ms" -> Stats.tail(lat, 99),
        "freshness_s" -> (if (fresh.isEmpty) None else Some(Stats.median(fresh))),
        "freshness_samples" -> fresh.size,
        "landed_days_unseen" -> (WriterDays - fresh.size)))
    tearDown(e)
  }

  /** Settle the listener: a marker job's end arrives after every event
    * posted before it. */
  private def settle(spark: SparkSession, ledger: Ledger): Unit = {
    spark.sparkContext.setJobGroup("pb-marker", "settle")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!ledger.ended("pb-marker") && System.nanoTime() < deadline) Thread.sleep(1)
    ledger.take("pb-marker")
  }

  /** The reader mix called on `StarServe` directly (no HTTP): median
    * request ms and median `ChartRender.dualAxis` ms. */
  private def inProcess(e: Env, seed: Long): (Double, Double) = {
    val rng = new scala.util.Random(seed * 1000 + 999)
    val newest = e.u.days.size - 1
    val req = mutable.ArrayBuffer[Double]()
    val render = mutable.ArrayBuffer[Double]()
    (0 until 30).foreach { i =>
      val q = draw(rng, e.u, newest, Mix(i % Mix.size))
      val (s, t) = (e.u.days(q.from).toString, e.u.days(q.to).toString)
      val t0 = Harness.nowMs()
      q.kind match {
        case "series" => e.serve.chartSeries(q.ticker, s, t).toJSON.collect()
        case "chart" =>
          val rows = e.serve.chartSeries(q.ticker, s, t).collect().toSeq.map { r =>
            (r.getDate(0).toLocalDate.toEpochDay,
              if (r.isNullAt(1)) None else Some(r.getDouble(1)),
              if (r.isNullAt(2)) None else Some(r.getDouble(2)))
          }
          val r0 = Harness.nowMs()
          ChartRender.dualAxis(q.ticker, rows)
          render += Harness.nowMs() - r0
        case "latest" => e.serve.latest(q.ticker, q.k).toJSON.collect()
        case "indexes" => e.serve.dimStockIndex.toJSON.collect()
        case _ => e.serve.factDateBounds()
      }
      req += Harness.nowMs() - t0
    }
    (Stats.median(req.toSeq), if (render.isEmpty) 0.0 else Stats.median(render.toSeq))
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

}
