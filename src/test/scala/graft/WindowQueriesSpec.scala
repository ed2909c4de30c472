package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Window semantics: first-row-NULL lag, min_periods stddev guard,
  * rank bound, sessionization gap invariants (SURVEY §5.2 item 2). */
class WindowQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sfTiny

  test("lag return is NULL exactly once per partition (first row)") {
    val df = SparkEntry.queries("q_window_lag_return")(spark, sf)
    val nullsPerPart = df.groupBy(col("l_partkey"))
      .agg(sum(when(col("ret").isNull, 1).otherwise(0)).as("n_null"))
    assert(nullsPerPart.filter(col("n_null") =!= 1).count() == 0)
  }

  test("rolling std is NULL until 20 rows per user (pandas min_periods)") {
    val df = SparkEntry.queries("q_window_rolling_std")(spark, sf)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withRn = df.withColumn("rn", row_number().over(w))
    assert(withRn.filter(col("rn") < 20 && col("roll_std").isNotNull).count() == 0)
    assert(withRn.filter(col("rn") >= 20 && col("roll_std").isNull).count() == 0)
  }

  test("rolling std of constant series is 0 (scalacheck-style invariant)") {
    import spark.implicits._
    val const = (1 to 30).map(i => (1L, i.toLong, f"2024-01-01 00:$i%02d:00", 5.0))
      .toDF("user_id", "event_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    const.createOrReplaceTempView("events_const")
    // reuse the decimal-Σ formulation through a temp parquet round-trip
    val dir = graft.etl.Scratch.dir("graft_const")
    const.select("event_id", "ts", "user_id", "value").write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_window_rolling_std")(spark, dir)
    val vals = out.filter(col("roll_std").isNotNull).select("roll_std")
      .collect().map(_.getDouble(0))
    assert(vals.length == 11 && vals.forall(_ == 0.0))
  }

  test("rank topk keeps at most 3 per priority, ranks within 1..3") {
    val df = SparkEntry.queries("q_window_rank_topk")(spark, sf)
    val per = df.groupBy("o_orderpriority").count().collect()
    assert(per.forall(_.getLong(1) <= 3))
    assert(df.filter(col("rnk") < 1 || col("rnk") > 3).count() == 0)
  }

  test("sessionize: session count ≤ events; gaps within session ≤ 30 min") {
    val sess = SparkEntry.queries("q_sessionize")(spark, sf)
    val nEvents = graft.queries.t(spark, sf, "events").count()
    assert(sess.agg(sum("n_events")).head.getLong(0) == nEvents)
    assert(sess.count() <= nEvents)
    // t_end - t_start of a session with n events ≤ (n-1) * gap
    val bad = sess.filter(
      unix_micros(col("t_end").cast("timestamp")) - unix_micros(col("t_start").cast("timestamp"))
        > (col("n_events") - 1) * lit(1800000000L))
    assert(bad.count() == 0)
  }
}
