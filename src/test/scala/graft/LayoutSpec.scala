package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.etl.Layout — the write-time layouts must produce the plan
  * effects that justify them: bucketed joins with NO Exchange, and
  * date filters that prune partitions at the scan. */
class LayoutSpec extends AnyFunSuite {
  import TestSpark._

  test("bucketed join on the bucket key plans without any Exchange") {
    // clean slate: drop catalog entries AND their warehouse locations
    for (t <- Seq("graft_b_orders", "graft_b_customer")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val o = queries.t(spark, sfTiny, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val c = queries.t(spark, sfTiny, "customer").select("c_custkey", "c_name")
    etl.Layout.writeBucketed(o.withColumnRenamed("o_custkey", "k"), "graft_b_orders", "k", 8)
    etl.Layout.writeBucketed(c.withColumnRenamed("c_custkey", "k"), "graft_b_customer", "k", 8)
    // disable broadcast so the join would otherwise have to shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = etl.Layout.bucketedJoin(spark, "graft_b_orders", "graft_b_customer", "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == queries.t(spark, sfTiny, "orders")
        .join(queries.t(spark, sfTiny, "customer"),
          col("o_custkey") === col("c_custkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
  }

  test("date-partitioned layout prunes partitions for a date filter") {
    val dir = graft.etl.Scratch.dir("graft_part")
    val ev = queries.t(spark, sfTiny, "events")
      .withColumn("d", to_date(col("ts")))
    etl.Layout.writePartitioned(ev, dir, "d")
    val someDay = ev.select(min(col("d"))).head().getDate(0).toString
    val q = spark.read.parquet(dir).filter(col("d") === lit(someDay))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("d#"), p)
    // pruned scan reads only the one partition's rows
    val expected = ev.filter(col("d") === lit(someDay)).count()
    assert(q.count() == expected && expected > 0)
  }

  test("compact rewrites a small-file directory to the target count, byte-identically") {
    val dir = graft.etl.Scratch.dir("graft_compact")
    val ev = queries.t(spark, sfTiny, "events")
    ev.repartition(32).write.mode("overwrite").parquet(dir)
    val checksum = spark.read.parquet(dir)
      .agg(sum(hash(col("event_id"), col("user_id"), col("value")).cast("long")),
        count(lit(1))).head
    val (before, after) = etl.Layout.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(before == 32 && after == 1, s"$before -> $after")
    val re = spark.read.parquet(dir)
      .agg(sum(hash(col("event_id"), col("user_id"), col("value")).cast("long")),
        count(lit(1))).head
    assert(re == checksum, "compaction must not change the data")
    // already compact → no-op, no rewrite
    assert(etl.Layout.compact(spark, dir, 1L << 30) == ((1, 1)))
  }

  test("compactPartitioned compacts each leaf partition independently") {
    val dir = graft.etl.Scratch.dir("graft_compact_part")
    val ev = queries.t(spark, sfTiny, "events")
      .withColumn("d", to_date(col("ts")))
    // simulate many tiny incremental loads per partition
    ev.repartition(8).write.partitionBy("d").mode("overwrite").parquet(dir)
    val total = ev.count()
    val report = etl.Layout.compactPartitioned(spark, dir, 1L << 30)
    assert(report.nonEmpty && report.values.forall { case (b, a) => a <= b && a == 1 })
    assert(spark.read.parquet(dir).count() == total)
  }

  test("compactPartitioned reaches the leaves of a MULTI-column partitionBy layout") {
    val dir = graft.etl.Scratch.dir("graft_compact_multi")
    val ev = queries.t(spark, sfTiny, "events").limit(2000)
      .withColumn("d", to_date(col("ts")))
      .withColumn("g", (col("user_id") % 2).cast("int"))
    ev.repartition(4).write.partitionBy("g", "d").mode("overwrite").parquet(dir)
    val total = ev.count()
    // the first-level-only listing found zero part files under g=…
    // and silently compacted nothing
    val report = etl.Layout.compactPartitioned(spark, dir, 1L << 30)
    assert(report.nonEmpty, "multi-level layout must report its leaves")
    assert(report.keys.forall(k => k.contains("g=") && k.contains("d=")),
      s"keys must be root-relative LEAF paths: ${report.keys.take(3)}")
    assert(report.values.forall { case (b, a) => a <= b && a == 1 }, report.toString)
    assert(spark.read.parquet(dir).count() == total)
  }

  test("compactPartitioned keys stay root-relative for a RELATIVE root path") {
    // listStatus returns fully-qualified absolute paths; an unqualified
    // root never prefix-matched them and the keys silently came back
    // absolute instead of "d=…"
    val dir = "target/graft_compact_rel_" + System.nanoTime()
    try {
      val ev = queries.t(spark, sfTiny, "events").limit(500)
        .withColumn("d", to_date(col("ts")))
      ev.repartition(2).write.partitionBy("d").mode("overwrite").parquet(dir)
      val report = etl.Layout.compactPartitioned(spark, dir, 1L << 30)
      assert(report.nonEmpty)
      assert(report.keys.forall(k => k.startsWith("d=") && !k.startsWith("/")),
        s"keys must be root-relative even for a relative root: ${report.keys.take(3)}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("zorderWrite survives NaN data under ANSI (clamp before the cast)") {
    import spark.implicits._
    val dir = graft.etl.Scratch.dir("graft_z_nan")
    val df = Seq((1L, 1.0, 2.0), (2L, Double.NaN, 3.0), (3L, 5.0, Double.NaN))
      .toDF("id", "x", "y")
    // NaN propagates into the max() bounds AND appears per row; the
    // clamp-after-cast formulation threw SparkArithmeticException and
    // failed the whole write
    etl.Layout.zorderWrite(df, dir, Seq("x", "y"))
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("z-order layout prunes row groups on BOTH range columns") {
    val lin = graft.etl.Scratch.dir("graft_lin")
    val zo = graft.etl.Scratch.dir("graft_zo")
    // sf0.01: 10k events, user_id 0..149, value 0..~490 — enough rows
    // for many row groups at a small block size
    val ev = queries.t(spark, "/root/testdata/sf0.01", "events")
      .select("event_id", "user_id", "value")
    // tiny row groups so the file holds many; one output file each so
    // the comparison is purely row-group pruning, not file layout
    val opts = Map("parquet.block.size" -> (16 * 1024).toString,
      "parquet.page.size" -> (4 * 1024).toString)
    ev.coalesce(1).sortWithinPartitions("user_id")
      .write.mode("overwrite").options(opts).parquet(lin)
    etl.Layout.zorderWrite(ev.coalesce(1), zo, Seq("user_id", "value"), options = opts)

    def scanned(path: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(path).filter(pred)
      // execute THIS QueryExecution (count() would build another one
      // whose metrics we'd never see), then read the scan's metric
      val n = df.collect().length.toLong
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scans = plan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      (scans.map(_.metrics("numOutputRows").value).sum, n)
    }
    // THE z-order claim: a range filter on the column the linear sort
    // does NOT order by. Linear row groups all span value's full
    // range (no pruning — every row surfaces); z-ordered groups have
    // tight value bounds and skip.
    val predV = col("value").between(50, 100)
    val (linRowsV, linCountV) = scanned(lin, predV)
    val (zoRowsV, zoCountV) = scanned(zo, predV)
    assert(linCountV == zoCountV && zoCountV == ev.filter(predV).count()
      && zoCountV > 0, "same query, same answer")
    assert(zoRowsV < linRowsV,
      s"z-order must prune on the non-sort column: zo=$zoRowsV lin=$linRowsV")
    // and the trade documented: on the linear layout's OWN sort
    // column, linear pruning is optimal and z-order is only partial —
    // but still strictly better than no pruning
    val predU = col("user_id").between(10, 20)
    val (linRowsU, _) = scanned(lin, predU)
    val (zoRowsU, zoCountU) = scanned(zo, predU)
    val total = ev.count()
    assert(linRowsU <= zoRowsU, "linear is optimal on its own sort column")
    assert(zoRowsU < total,
      s"z-order must still prune the first dimension: zo=$zoRowsU total=$total")
    assert(zoCountU == ev.filter(predU).count())
  }

  test("zorderWrite: 3-column layout prunes row groups on every dimension") {
    val zo = graft.etl.Scratch.dir("graft_zo3")
    val ev = queries.t(spark, "/root/testdata/sf0.01", "events")
      .select("event_id", "user_id", "value")
    val opts = Map("parquet.block.size" -> (16 * 1024).toString,
      "parquet.page.size" -> (4 * 1024).toString)
    etl.Layout.zorderWrite(ev.coalesce(1), zo,
      Seq("event_id", "user_id", "value"), options = opts)
    def scanned(pred: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(zo).filter(pred)
      val n = df.collect().length.toLong
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scans = plan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      (scans.map(_.metrics("numOutputRows").value).sum, n)
    }
    val total = ev.count()
    // value is dense near 0 (every curve chunk holds low values), so
    // the value probe targets the sparse high tail — the selectivity
    // where stats pruning can actually act on a skewed column
    for (pred <- Seq(
        col("event_id").between(1000, 1400),
        col("user_id").between(10, 25),
        col("value").between(250, 490))) {
      val (surfaced, exact) = scanned(pred)
      assert(exact == ev.filter(pred).count())
      assert(surfaced < total,
        s"no pruning for $pred: $surfaced of $total rows surfaced")
    }
  }

  test("writeBloom rejects columns absent from the schema (case-sensitive)") {
    val dir = graft.etl.Scratch.dir("graft_bloom")
    val ev = queries.t(spark, sfTiny, "events").select("event_id", "user_id")
    // parquet matches the '#<col>' option suffix case-sensitively, so a
    // wrong-case name would silently write no filter — must be refused
    val e = intercept[IllegalArgumentException] {
      etl.Layout.writeBloom(ev, dir, Map("EVENT_ID" -> 1000L))
    }
    assert(e.getMessage.contains("EVENT_ID"))
    // exact-case names pass and the write succeeds
    etl.Layout.writeBloom(ev, dir, Map("event_id" -> 1000L))
    assert(spark.read.parquet(dir).count() == ev.count())
    // dotted paths resolve nested struct fields (valid parquet option
    // keys), while a dotted path with a bad leaf is still refused
    val nested = ev.select(struct(col("event_id"), col("user_id")).as("meta"))
    val dir2 = graft.etl.Scratch.dir("graft_bloom2")
    etl.Layout.writeBloom(nested, dir2, Map("meta.user_id" -> 1000L))
    assert(spark.read.parquet(dir2).count() == nested.count())
    val e2 = intercept[IllegalArgumentException] {
      etl.Layout.writeBloom(nested, dir2, Map("meta.nope" -> 1000L))
    }
    assert(e2.getMessage.contains("meta.nope"))
  }

  test("zvalue matches an independent per-bit Morton reference") {
    import spark.implicits._
    // independent reference: same bucket arithmetic, naive bit loop —
    // bit j of column i at key position j*n + i
    def bucketRef(v: Double, hi: Double, bits: Int): Long =
      math.min((1L << bits) - 1, math.max(0L,
        ((v - 0.0) / hi * ((1L << bits) - 1)).toLong))
    def zRef(vs: Seq[Double], hi: Double, bits: Int): Long =
      (for (i <- vs.indices; j <- 0 until bits) yield
        ((bucketRef(vs(i), hi, bits) >>> j) & 1L) << (j * vs.length + i)).sum
    // n = 2 over an integer grid, 10 bits per column
    val bounds2 = Seq.fill(2)((0.0, 1023.0))
    val grid = for (a <- 0L to 1023L by 89L; b <- 0L to 1023L by 97L) yield (a, b)
    val got = grid.toDF("a", "b")
      .select(etl.Layout.zvalue(Seq(col("a"), col("b")), bounds2, bits = 10).as("z"))
      .collect().map(_.getLong(0))
    grid.zip(got).foreach { case ((a, b), z) =>
      assert(z == zRef(Seq(a.toDouble, b.toDouble), 1023.0, 10), s"($a,$b)")
    }
    // exact corners: (0,0) -> 0; (max,0) -> even bits; (0,max) -> odd
    // bits; (max,max) -> all 20 bits
    val corners = Seq((0L, 0L), (1023L, 0L), (0L, 1023L), (1023L, 1023L))
      .toDF("a", "b")
      .select(etl.Layout.zvalue(Seq(col("a"), col("b")), bounds2, bits = 10).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(corners == Seq(0L, 0x55555L, 0xAAAAAL, 0xFFFFFL))
    // n = 3 over random doubles at the default 20 bits
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map(_ =>
      (rnd.nextDouble() * 1000, rnd.nextDouble() * 1000, rnd.nextDouble() * 1000))
    val z3 = rows.toDF("a", "b", "c")
      .select(etl.Layout.zvalue(Seq(col("a"), col("b"), col("c")),
        Seq.fill(3)((0.0, 1000.0))).as("z"))
      .collect().map(_.getLong(0))
    z3.zip(rows).foreach { case (z, (a, b, c)) =>
      assert(z == zRef(Seq(a, b, c), 1000.0, 20), s"($a,$b,$c)")
    }
    // budget guard: n·bits must fit a signed long
    intercept[IllegalArgumentException] {
      etl.Layout.zvalue(Seq(col("a"), col("b"), col("c")),
        Seq.fill(3)((0.0, 1.0)), bits = 22)
    }
  }

  test("q_compact_scan's declared layout genuinely compacted (fewer files, swap clean)") {
    // drive the DECLARED query first (builds the memo), then inspect
    // the exact directory it scans: the 24-shard write must have been
    // rewritten to fewer part files, and the __compacting temp of the
    // swap must be gone (publish completed)
    assert(SparkEntry.queries("q_compact_scan")(spark, sfTiny).count() > 0)
    val dir = queries.ExtendedQueries.compactLayout(spark, sfTiny)
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(parts >= 1 && parts < 24, s"expected a compacted layout, found $parts part files")
    assert(!new java.io.File(dir + "__compacting").exists(),
      "swap temp dir must not survive publish")
  }

  test("q_compact_partitioned's leaves genuinely compacted (fewer files per leaf)") {
    // drive the DECLARED query (builds the memo: 6-way round-robin
    // write under partitionBy(mth) -> compactPartitioned), then
    // inspect the exact leaves it scans: every mth= leaf holds ONE
    // part file (the per-leaf rewrite target), none holds a
    // __compacting temp
    assert(SparkEntry.queries("q_compact_partitioned")(spark, sfTiny).count() > 0)
    val root = new java.io.File(
      queries.ExtendedQueries.compactPartitionedLayout(spark, sfTiny))
    val leaves = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("mth="))
    assert(leaves.nonEmpty)
    leaves.foreach { leaf =>
      val parts = leaf.listFiles().count(f =>
        f.isFile && f.getName.startsWith("part-"))
      assert(parts == 1, s"${leaf.getName}: expected 1 compacted file, found $parts")
    }
    assert(!root.listFiles().exists(_.getName.endsWith("__compacting")))
  }
}
