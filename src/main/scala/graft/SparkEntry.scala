package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps each declared operator of SURVEY.md §2.11 to a Spark
  * DataFrame plan; `oracleSql` carries the equivalent DuckDB SQL
  * (bare table names, one view per `{sfDir}/<table>.parquet`, per the
  * driver's contract example: `"q1_agg" -> "SELECT ... FROM lineitem"`).
  */
object SparkEntry {

  /** The engine's one session policy, for every main, demo and suite
    * that runs declared queries: `local[cpus]` with one shuffle
    * partition per core, UTC, and no UI. Callers add only what is their
    * own (a write option, a log level, an app name) and call
    * `getOrCreate()`. AQE and the shuffle codec are left at Spark's
    * defaults (on, lz4), so an A/B of either is Spark's own conf, e.g.
    * `-Dspark.io.compression.codec=zstd`: `SparkConf` loads `spark.*`
    * system properties, and a setting made here would override them. */
  def session(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS): read as long, converted
      // to micro timestamps in graft.queries.t()
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Always use the sort-based shuffle writer (1 data file + index
      // per map task). The default bypass-merge path (kicks in ≤200
      // reduce partitions) creates one file PER REDUCER per map task —
      // 32×32 tiny file creates per shuffle, ~0.35 s/stage of pure
      // filesystem metadata on a 32-core container; measured 3.5×
      // faster per shuffle stage with the sort writer. Real clusters
      // run >200 reduce partitions and take this path anyway.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")

  /** `SPARK_GRAFT_CPUS` (default 32): the core count Bench, Verify and
    * Profile run with. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference's fact-build shape (fetch_stocks.py:221-241)
    * re-expressed Spark-first: scan lineitem⋈orders⋈customer (dims
    * broadcast), per-part daily return via lag (pandas pct_change,
    * :213) and 20-row rolling volatility with min_periods semantics
    * (:216) — one lazy Catalyst plan, no intermediate materialization.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = t(spark, d, "lineitem")
    val o = t(spark, d, "orders")
    val c = t(spark, d, "customer")
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val frame = w.rowsBetween(-19, 0)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(li("l_partkey"), li("l_orderkey"), li("l_linenumber"),
        li("l_shipdate"), li("l_extendedprice"), c("c_mktsegment"))
      .withColumn("daily_return",
        col("l_extendedprice") / lag(col("l_extendedprice"), 1).over(w) - lit(1.0))
      .withColumn("volatility",
        when(count(col("daily_return")).over(frame) >= 20,
          stddev_samp(col("daily_return")).over(frame)))
  }

  /** One entry per implemented operator from SURVEY.md §2.11. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ JoinQueries.queries ++ AggQueries.queries ++
      WindowQueries.queries ++ ScalarQueries.queries ++ NorthStarQueries.queries ++
      ExtendedQueries.queries ++ TrainPrepQueries.queries ++
      CorpusStatsQueries.queries ++ IndicatorQueries.queries ++
      BehaviorQueries.queries ++ SqlSurfaceQueries.queries ++
      EtlQueries.queries ++ StarPipelineQueries.queries ++
      CorpusCleanQueries.queries

  /** For each key in `queries`, equivalent DuckDB SQL on the same tables. */
  val oracleSql: Map[String, String] =
    CoreQueries.sql ++ JoinQueries.sql ++ AggQueries.sql ++
      WindowQueries.sql ++ ScalarQueries.sql ++ NorthStarQueries.sql ++
      ExtendedQueries.sql ++ TrainPrepQueries.sql ++
      CorpusStatsQueries.sql ++ IndicatorQueries.sql ++
      BehaviorQueries.sql ++ SqlSurfaceQueries.sql ++
      EtlQueries.sql ++ StarPipelineQueries.sql ++
      CorpusCleanQueries.sql

  require(queries.keySet == oracleSql.keySet,
    s"queries/oracleSql key mismatch: ${(queries.keySet diff oracleSql.keySet) ++ (oracleSql.keySet diff queries.keySet)}")
}
