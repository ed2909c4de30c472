package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, expected: String, work: String, spans: String, record: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("expected"), need("work"),
      m.getOrElse("spans", ""), m.get("record").contains("1"))
  }
}

/** Why an operation failed: the exception class and message, or
  * "WrongResult" when it returned something other than expected. */
final case class Failure(op: Long, what: String, kind: String, message: String) {
  def json: Json.Raw = Json.obj("op" -> op, "what" -> what, "class" -> kind,
    "message" -> message.take(400))
}

object Failure {
  def of(op: Long, what: String, e: Throwable): Failure =
    Failure(op, what, e.getClass.getName, Option(e.getMessage).getOrElse(""))
}

/** What every workload shares: the Spark session, the process's own
  * resource readings, the environment record and the result line. */
object Harness {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The engine's driver configuration (as `graft.Bench` sets it), on
    * all local cores, with the engine's Catalyst extensions installed
    * and every directory Spark writes inside `work`. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Exercise codegen, shuffle, join, window and the parquet reader on
    * two small tables so the first operation does not absorb the JIT's
    * first compile (the warm-up `graft.Bench` runs). */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.range(1000000).selectExpr("sum(id)").collect()
    val r = spark.read.parquet(s"$dir/region.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).agg(count(lit(1)).as("c"), sum(col("n_nationkey")).as("s"))
      .withColumn("rk", rank().over(Window.partitionBy(col("r_name")).orderBy(col("c"))))
      .orderBy(col("r_name")).collect()
  }

  def nowMs(): Double = System.nanoTime() / 1e6

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Bytes held by cached frames (memory and disk). */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Seconds of each of `reps` set-ups; all but the last are torn down
    * by `teardown`. Reported as their median, so one slow start does
    * not move the figure. */
  def repeatSetup[T](reps: Int)(setup: () => T)(teardown: T => Unit): (T, Seq[Double]) = {
    var times = Vector.empty[Double]
    var last: Option[T] = None
    (1 to reps).foreach { i =>
      val t0 = nowMs()
      val v = setup()
      times :+= (nowMs() - t0) / 1000.0
      if (i < reps) teardown(v) else last = Some(v)
    }
    (last.get, times)
  }

  def env(a: Args, spark: SparkSession): Map[String, Any] = Map(
    "workload" -> a.workload, "seed" -> a.seed, "nproc" -> cores,
    "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
    "spark" -> spark.version, "sf_dir" -> a.data,
    "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)

  final case class Metric(value: Double, unit: String)

  /** The result: a detail line (environment, sample counts, failure
    * reasons, metrics not in the contract), then the contract line. */
  def emit(a: Args, attempted: Int, failures: Seq[Failure], correct: Boolean,
      metrics: Seq[(String, Metric)], detail: Map[String, Any]): Unit = {
    val d = Json.obj((detail ++ Map(
      "failed_frac" -> failures.size.toDouble / math.max(1, attempted),
      "failures" -> failures.map(_.json))).toSeq: _*)
    println(Json.obj("detail" -> d).text)
    println(Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> Json.obj(metrics.map { case (k, m) =>
        k -> Json.obj("value" -> m.value, "unit" -> m.unit) }: _*)).text)
  }

  /** Run `body`, turning a non-fatal exception into a [[Failure]]. */
  def guarded[T](op: Long, what: String)(body: => T): Either[Failure, T] =
    try Right(body) catch { case NonFatal(e) => Left(Failure.of(op, what, e)) }
}
