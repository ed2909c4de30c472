package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregations: groupBy, exact distinct count, min/max, rollup, cube —
  * SURVEY.md §2.4. All double sums go through DECIMAL(18,4) (exact in
  * this data: ≤2 dp) so partial/final aggregation order cannot perturb
  * the result — the property that makes these hash-match DuckDB AND
  * stay deterministic across 1000 executors at 100 TB.
  */
object AggQueries {

  private val dec = DecimalType(18, 4)

  val queries: Map[String, QFn] = Map(
    // TPC-H-Q1-shaped groupBy (readme.md:45-51 intent). r15: the sums
    // run as exact native-long CENTS (2-dp inputs; Σqty·100 ≤ 3·10⁹,
    // Σprice·100 ≤ 6·10¹² — far inside int64) instead of
    // DECIMAL(18,4), whose sum buffers at DECIMAL(28,4) = BigDecimal
    // per update (~0.25 s / 600 k rows / expr — the q_agg_corr class;
    // 0.81 → 0.35 s). The /100.0 decode is an exact-integer double op
    // mirrored verbatim in the oracle.
    "q_agg_group" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity") * 100.0 + 0.5).cast("long")).as("__q"),
          sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")).as("__p"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("__q").cast("double") / 100.0).as("sum_qty"),
          (col("__p").cast("double") / 100.0).as("sum_price"),
          col("n"),
          (col("__q").cast("double") / 100.0 / col("n").cast("double")).as("avg_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // Exact count(DISTINCT) per group.
    "q_agg_distinct_count" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // A1: global min/max (the dashboard's date-picker bounds,
    // streamlit/app.py:101-102).
    "q_agg_minmax" -> { (s, d) =>
      t(s, d, "orders")
        .agg(min(col("o_orderdate")).as("min_d"), max(col("o_orderdate")).as("max_d"))
    },

    // Table profile, per column: rows, nulls, EXACT distinct, min/max
    // as the long report. r15 re-plan (the honest-bench finding): the
    // one-scan multi-distinct form measured 9.0 s at sf0.1 — its
    // Expand multiplies every row ×(|cols|+1) through the first
    // aggregate — while on a COLUMNAR source "one scan" never saved
    // I/O (parquet prunes each branch to its one column). The
    // declared plan is now one single-column one-distinct aggregate
    // per column, unioned: same bytes read, each exchange carries
    // |distinct| not |rows|×7, 0.45 s measured (20×). PlanSpec gates
    // the shape (per-branch single-column ReadSchema, no Expand).
    // Integer/string columns only (float→string formatting is
    // engine-specific).
    "q_profile" -> { (s, d) =>
      graft.ops.TableProfile.profileFrameColumnar(t(s, d, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_returnflag", "l_linestatus"))
        .orderBy(col("col_name"))
    },

    // Fixed-width 10-bucket histogram of order totals — the data-
    // profiling pass. The (min, max) bounds come from one 1-row
    // aggregate broadcast under the bucketing scan (no driver action,
    // no second shuffle); bucket math is shared IEEE arithmetic, the
    // max row clamps into the last bucket. Two map-side-combinable
    // aggregates total.
    "q_hist" -> { (s, d) =>
      val o = t(s, d, "orders")
      val m = o.agg(min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      o.crossJoin(broadcast(m))
        .select(least(floor((col("o_totalprice") - col("mn")) /
            ((col("mx") - col("mn")) / 10)), lit(9)).cast("long").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("bucket"))
    },

    // Hierarchy totals region→nation. Grouping-null rows sort NULLS
    // FIRST explicitly on both engines (Spark's ASC default vs DuckDB's
    // NULLS LAST default — SURVEY §7.3 rule 2).
    "q_rollup" -> { (s, d) =>
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val r = t(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("sum_bal"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    },

    // Two-level cube (helper scaladoc has the additive-aggregate
    // correctness argument): the Expand multiplies 6 pre-aggregated
    // rows instead of the fact ×4. Sums in exact native-long cents
    // (r15 — see q_agg_group), decoded /100.0 at the boundary.
    "q_cube" -> { (s, d) =>
      twoLevelCube(t(s, d, "lineitem"),
          Seq(col("l_returnflag"), col("l_linestatus")))(
          inner = Seq(count(lit(1)).as("__n"),
            sum(floor(col("l_quantity") * 100.0 + 0.5).cast("long")).as("__q")),
          outer = Seq(sum(col("__n")).as("n"),
            (sum(col("__q")).cast("double") / 100.0).as("sum_qty")))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // Pivot: wide revenue-by-priority table. Spark pivot() = groupBy +
    // one filtered aggregate per pinned value (no data-dependent
    // schema); the oracle spells the same thing with FILTER clauses.
    // Sums in exact native-long cents (r15 — five pivot branches each
    // paid a BigDecimal buffer), decoded /100.0 at the boundary.
    "q_pivot" -> { (s, d) =>
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val names = Seq("urgent", "high", "medium", "notspec", "low")
      val wide = t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .pivot("o_orderpriority", priorities)
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .cast("double") / 100.0)
      priorities.zip(names).foldLeft(wide) { case (df, (p, n)) =>
        df.withColumnRenamed(p, n)
      }.orderBy(col("yr"))
    },

    // GROUPING SETS through the spark.sql entry path (SURVEY §2.1 S4:
    // the reference's replacement scan ⟺ createOrReplaceTempView +
    // SQL text) — the one grouping form rollup()/cube() don't cover,
    // and the only declared query exercising the SQL-string surface.
    // r15: the sum runs in exact native-BIGINT cents (the grouping
    // sets' Expand doubles every row, so the old DECIMAL(18,4) sum
    // paid 1.2 M BigDecimal buffer updates — 0.67 → ~0.3 s), decoded
    // /100.0, mirrored verbatim in the oracle.
    "q_sql_grouping_sets" -> { (s, d) =>
      t(s, d, "lineitem").createOrReplaceTempView("graft_lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
          |FROM graft_lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    },

    // PERCENTILE_DISC semantics — the discrete quantile returns an
    // ACTUAL data value, so cross-engine equality is value identity.
    // r15 re-plan (honest-bench finding): three percentile_disc
    // WITHIN GROUP aggregates were 0.94 s of interpreted
    // ObjectHashAggregate maps; `Quantiles.exactByGroup` computes all
    // three from ONE codegen rank window (0.94 → ~0.3 s), with the
    // identical cume_dist >= p double comparison — BehaviorSpec pins
    // the window form against the literal WITHIN GROUP SQL surface.
    "q_percentile_disc" -> { (s, d) =>
      graft.ops.Quantiles.exactByGroup(t(s, d, "orders"),
          col("o_orderpriority"), col("o_totalprice"),
          disc = Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
        .select(col("o_orderpriority"), col("p25"), col("p50"), col("p75"))
        .orderBy(col("o_orderpriority"))
    },

    // Sketch quantiles as a property query (the q_approx_distinct
    // pattern): approx_percentile's VALUE is engine-specific, its
    // rank-error bound (≈1/accuracy = 0.01 here) is the contract —
    // pin the estimate inside the exact [p44, p56] element band
    // (6× margin) and hash the exact median alongside. The sketch is
    // the per-group quantile scale path (`Sketches.approxQuantilesBy`)
    // when exact percentiles' full-sort-per-group won't fly.
    "q_quantile_sketch_band" -> { (s, d) =>
      // r15: the three exact band bounds come from one rank window
      // (Quantiles.exactByGroup) instead of three interpreted
      // percentile_disc aggregates; the approx_percentile SKETCH —
      // the query's declared property — stays, joined on the group.
      val o = t(s, d, "orders")
      val exact = graft.ops.Quantiles.exactByGroup(o,
        col("o_orderpriority"), col("o_totalprice"),
        disc = Seq(("p44", 0.44), ("p50", 0.5), ("p56", 0.56)))
      val approx = o.groupBy(col("o_orderpriority"))
        .agg(approx_percentile(col("o_totalprice"), lit(0.5), lit(100)).as("ap"))
      exact.join(approx, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("p50"),
          (col("ap") >= col("p44") && col("ap") <= col("p56")).as("within_band"))
        .orderBy(col("o_orderpriority"))
    },

    // max_by/min_by (⟺ DuckDB arg_max/arg_min): which-row aggregates.
    // The ordering key is a UNIQUE scalar (price-cents · 10¹¹ + order
    // key — exact in BIGINT) because both engines' arg extremes are
    // nondeterministic under ties and DuckDB's arg_max cannot take a
    // composite key. Injectivity bound: requires o_orderkey < 10¹¹
    // (≈ sf 15 000; TPC-H orderkey ≈ 6·10⁶·sf) and price-cents ·
    // 10¹¹ < 2⁶³ (price < ~$920 M — TPC-H max is ~$600 K). Beyond
    // that scale, switch the ukey to DECIMAL(38,0) on both engines.
    "q_arg_extrema" -> { (s, d) =>
      val ukey = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") *
        lit(100000000000L) + col("o_orderkey")
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          max_by(col("o_orderkey"), ukey).as("max_order"),
          min_by(col("o_orderkey"), ukey).as("min_order"),
          // exact decimal max, DOUBLE at the boundary (§7.3: no
          // DECIMAL finals — see q_unpivot)
          max(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("max_price"))
        .orderBy(col("o_orderpriority"))
    },

    // HLL++ approximate distinct as a DECLARED property query: the
    // exact count hash-matches the oracle outright, and the sketch
    // estimate is pinned to a 3·rsd relative-error band (rsd 0.05 →
    // 15%; worst observed across scales is 9.7%). The estimate itself
    // is partition-order independent (register merge = elementwise
    // max, commutative+associative — DeterminismSpec covers it), but
    // its VALUE is Spark-specific, so the band — the documented HLL
    // guarantee — is what the oracle asserts, disclosed as such.
    "q_approx_distinct" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact"),
          approx_count_distinct(col("o_custkey"), 0.05).as("approx"))
        .select(col("o_orderpriority"), col("exact"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.15)
            .as("within_band"))
        .orderBy(col("o_orderpriority"))
    },

    // try_-prefixed error semantics: failed casts and guarded
    // divisions yield NULL instead of runtime errors — the dialect
    // corner that decides whether dirty data kills a 100 TB job.
    // r15 re-plan (honest-bench flag, 30× DuckDB): TRY-mode string→int
    // on an all-failing column pays a CONSTRUCTED SparkNumberFormat-
    // Exception per row (~8 µs — 1.33 s of the query's 1.43 s,
    // `TimeProbe` of commit d8ec3f6, since deleted); `graft_try_to_int`
    // is the exception-free kernel with
    // spec-pinned per-value parity against try_cast. The always-
    // castable substr branch and try_divide keep the literal try_
    // surface (their failure paths are exception-free already).
    "q_try_semantics" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)"))
            .cast("long").as("sum_pri"),
          count(graft.functions.GraftFunctions.tryToInt(col("o_orderpriority")))
            .as("n_badcast"),
          count(expr("try_divide(1.0, o_totalprice - o_totalprice)")).as("n_div0"))
        .orderBy(col("o_orderstatus"))
    },

    // Bitwise aggregates (bit_or / bit_and / bit_xor) — commutative
    // and associative, so partition-order independent by construction.
    "q_bitwise_agg" -> { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(bit_or(col("o_orderkey")).as("or_k"),
          bit_and(col("o_orderkey")).as("and_k"),
          bit_xor(col("o_orderkey")).as("xor_k"))
        .orderBy(col("o_orderpriority"))
    },

    // Higher moments (variance / skewness) from EXACT integer power
    // sums — same motive as q_agg_corr: Spark's skewness() accumulates
    // doubles in partition order and cannot hash-match anything.
    // l_quantity is integer-valued ≤ 50, so Σq, Σq², Σq³ all fit
    // BIGINT exactly on both engines; the closed-form moment
    // expressions then run in double, written IDENTICALLY in the
    // oracle so every IEEE operation matches.
    "q_agg_moments" -> { (s, d) =>
      val q = col("l_quantity").cast("long")
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(q).as("s1"),
          sum(q * q).as("s2"), sum(q * q * q).as("s3"))
        .select(col("l_returnflag"), col("n"),
          round((col("s1").cast("double") / col("n")), 4).as("mean_q"),
          round((col("s2").cast("double") / col("n")) -
            (col("s1").cast("double") / col("n")) *
            (col("s1").cast("double") / col("n")), 4).as("var_q"))
        .orderBy(col("l_returnflag"))
    },

    // Correlation + regression slope per group, computed from EXACT
    // integer moment sums with one final double expression — Spark's
    // corr()/regr_slope() accumulate doubles in partition order and
    // would not hash-match DuckDB (nor themselves across
    // partitionings). r15 re-plan (honest-bench finding): the r3-r14
    // form summed DECIMAL(38,6) products, and precision > 18 decimals
    // are BigDecimal-backed in Spark's aggregate buffers (~0.25 s per
    // expr per 600 k rows — 1.8 s measured); the same moments in
    // native-long CENTS (q ≤ 50, p_cents ≤ 10⁸ ⇒ Σq·p ≤ 3·10¹⁵ and
    // Σq² trivially fit; Σp² alone would overflow, so p splits at 10⁴
    // into hi/lo and Σp² = 10⁸·Σhi² + 2·10⁴·Σhi·lo + Σlo², each term
    // ≤ 6·10¹³) run fully codegen'd: 0.30 s, 6×. Correlation is
    // scale-invariant so the cents-based value equals the dollar one;
    // the slope is de-scaled by 100 at the end. Every double op is
    // mirrored verbatim in the oracle.
    "q_agg_corr" -> { (s, d) =>
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double")
      val syD = col("sy").cast("double")
      val sxyD = col("sxy").cast("double")
      val sxxD = col("sxx").cast("double")
      val syyD = col("sa").cast("double") * lit(100000000.0) +
        col("sb").cast("double") * lit(20000.0) + col("sc").cast("double")
      val cov = nD * sxyD - sxD * syD
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("q"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("p"))
        .withColumn("hi", expr("p div 10000"))
        .withColumn("lo", col("p") - col("hi") * 10000)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("q")).as("sx"), sum(col("p")).as("sy"),
          sum(col("q") * col("p")).as("sxy"),
          sum(col("q") * col("q")).as("sxx"),
          sum(col("hi") * col("hi")).as("sa"),
          sum(col("hi") * col("lo")).as("sb"),
          sum(col("lo") * col("lo")).as("sc"))
        .select(col("l_returnflag"), col("n"),
          round(cov / (sqrt(nD * sxxD - sxD * sxD) *
            sqrt(nD * syyD - syD * syD)), 4).as("corr_qp"),
          round(cov / (nD * sxxD - sxD * sxD) / 100.0, 4).as("slope_qp"))
        .orderBy(col("l_returnflag"))
    },

    // Exact interpolated median per group (p*(n-1) interpolation ≡
    // DuckDB quantile_cont), rounded 4 dp. r15: computed by the
    // rank-window form (Quantiles.exactByGroup) instead of the
    // interpreted percentile aggregate.
    "q_agg_median" -> { (s, d) =>
      graft.ops.Quantiles.exactByGroup(t(s, d, "orders"),
          col("o_orderpriority"), col("o_totalprice"),
          cont = Seq(("m", 0.5)))
        .select(col("o_orderpriority"),
          round(col("m"), 4).as("median_price"),
          col("__n_rows").as("n"))
        .orderBy(col("o_orderpriority"))
    },
  )

  val sql: Map[String, String] = Map(
    // exact native-BIGINT cents sums; every double op mirrors the
    // Spark expression verbatim (sums fit int64, so DuckDB's
    // HUGEINT->DOUBLE cast rounds to the same value)
    "q_agg_group" ->
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) AS q,
        |         CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) AS p,
        |         count(*) AS n
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT l_returnflag, l_linestatus,
        |       q / 100.0 AS sum_qty, p / 100.0 AS sum_price, n,
        |       q / 100.0 / CAST(n AS DOUBLE) AS avg_qty
        |FROM g ORDER BY 1, 2""".stripMargin,

    "q_agg_distinct_count" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey) AS n_cust,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_minmax" ->
      """SELECT min(o_orderdate) AS min_d, max(o_orderdate) AS max_d FROM orders""",

    "q_profile" ->
      """WITH s AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d0,
        |  CAST(min(l_orderkey) AS VARCHAR) AS lo0, CAST(max(l_orderkey) AS VARCHAR) AS hi0,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS d1,
        |  CAST(min(l_partkey) AS VARCHAR) AS lo1, CAST(max(l_partkey) AS VARCHAR) AS hi1,
        |  CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d2,
        |  CAST(min(l_suppkey) AS VARCHAR) AS lo2, CAST(max(l_suppkey) AS VARCHAR) AS hi2,
        |  CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(count(DISTINCT l_linenumber) AS BIGINT) AS d3,
        |  CAST(min(l_linenumber) AS VARCHAR) AS lo3, CAST(max(l_linenumber) AS VARCHAR) AS hi3,
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS d4,
        |  CAST(min(l_returnflag) AS VARCHAR) AS lo4, CAST(max(l_returnflag) AS VARCHAR) AS hi4,
        |  CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n5,
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS d5,
        |  CAST(min(l_linestatus) AS VARCHAR) AS lo5, CAST(max(l_linestatus) AS VARCHAR) AS hi5
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, n_rows, n0 AS n_null, d0 AS n_distinct, lo0 AS min_s, hi0 AS max_s FROM s
        |  UNION ALL
        |  SELECT 'l_partkey', n_rows, n1, d1, lo1, hi1 FROM s
        |  UNION ALL
        |  SELECT 'l_suppkey', n_rows, n2, d2, lo2, hi2 FROM s
        |  UNION ALL
        |  SELECT 'l_linenumber', n_rows, n3, d3, lo3, hi3 FROM s
        |  UNION ALL
        |  SELECT 'l_returnflag', n_rows, n4, d4, lo4, hi4 FROM s
        |  UNION ALL
        |  SELECT 'l_linestatus', n_rows, n5, d5, lo5, hi5 FROM s)
        |ORDER BY col_name""".stripMargin,

    "q_hist" ->
      """WITH m AS (
        |  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
        |)
        |SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 10)), 9) AS BIGINT) AS bucket,
        |       count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders, m
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_pivot" ->
      """WITH o AS (
        |  SELECT year(o_orderdate) AS yr, o_orderpriority,
        |         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS pc
        |  FROM orders
        |)
        |SELECT yr,
        |  CAST(sum(pc) FILTER (o_orderpriority = '1-URGENT') AS DOUBLE) / 100.0 AS urgent,
        |  CAST(sum(pc) FILTER (o_orderpriority = '2-HIGH') AS DOUBLE) / 100.0 AS high,
        |  CAST(sum(pc) FILTER (o_orderpriority = '3-MEDIUM') AS DOUBLE) / 100.0 AS medium,
        |  CAST(sum(pc) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE) / 100.0 AS notspec,
        |  CAST(sum(pc) FILTER (o_orderpriority = '5-LOW') AS DOUBLE) / 100.0 AS low
        |FROM o GROUP BY 1 ORDER BY yr""".stripMargin,

    "q_approx_distinct" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_custkey) AS exact,
        |       true AS within_band
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_try_semantics" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT)) AS BIGINT) AS sum_pri,
        |       count(TRY_CAST(o_orderpriority AS INT)) AS n_badcast,
        |       count(1.0 / nullif(o_totalprice - o_totalprice, 0.0)) AS n_div0
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_bitwise_agg" ->
      """SELECT o_orderpriority,
        |       bit_or(o_orderkey) AS or_k,
        |       bit_and(o_orderkey) AS and_k,
        |       bit_xor(o_orderkey) AS xor_k
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_agg_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
        |         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |       round(CAST(s1 AS DOUBLE) / n, 4) AS mean_q,
        |       round(CAST(s2 AS DOUBLE) / n -
        |             (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 4) AS var_q
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q_percentile_disc" ->
      """SELECT o_orderpriority,
        |       quantile_disc(o_totalprice, 0.25) AS p25,
        |       quantile_disc(o_totalprice, 0.5)  AS p50,
        |       quantile_disc(o_totalprice, 0.75) AS p75
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_quantile_sketch_band" ->
      """SELECT o_orderpriority,
        |       quantile_disc(o_totalprice, 0.5) AS p50,
        |       true AS within_band
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_arg_extrema" ->
      """SELECT o_orderpriority,
        |       arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |               * 100000000000 + o_orderkey) AS max_order,
        |       arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |               * 100000000000 + o_orderkey) AS min_order,
        |       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_sql_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // exact native-BIGINT moment sums in cents, p split at 10^4 so
    // sum(p^2) = 1e8*sa + 2e4*sb + sc stays in int64 terms; every
    // double op below mirrors the Spark expression verbatim (the
    // sums fit int64, so DuckDB's HUGEINT->DOUBLE cast rounds to the
    // same value as Spark's BIGINT->DOUBLE)
    "q_agg_corr" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |         CAST(l_quantity AS BIGINT) AS q,
        |         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS p
        |  FROM lineitem
        |), h AS (
        |  SELECT l_returnflag, q, p, p // 10000 AS hi, p - (p // 10000) * 10000 AS lo FROM g
        |), s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(q) AS sx, sum(p) AS sy, sum(q * p) AS sxy, sum(q * q) AS sxx,
        |         sum(hi * hi) AS sa, sum(hi * lo) AS sb, sum(lo * lo) AS sc
        |  FROM h GROUP BY 1
        |), f AS (
        |  SELECT l_returnflag, n,
        |         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |         CAST(sxx AS DOUBLE) AS sxxd,
        |         CAST(sa AS DOUBLE) * 100000000.0 + CAST(sb AS DOUBLE) * 20000.0 + CAST(sc AS DOUBLE) AS syyd
        |  FROM s
        |)
        |SELECT l_returnflag, n,
        |       round((nd*sxyd - sxd*syd) / (sqrt(nd*sxxd - sxd*sxd) * sqrt(nd*syyd - syd*syd)), 4) AS corr_qp,
        |       round((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) / 100.0, 4) AS slope_qp
        |FROM f ORDER BY l_returnflag""".stripMargin,

    "q_agg_median" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
