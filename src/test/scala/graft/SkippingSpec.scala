package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Skipping
import graft.etl.Skipping.ColRange

/** graft.etl.Skipping — file-level min/max pruning over a z-ordered
  * layout must (a) return exactly the full-scan answer, (b) actually
  * skip files on range filters over EITHER clustered column (the 2-D
  * payoff a linear sort cannot give), and (c) never lose rows to a
  * stale manifest. */
class SkippingSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val dir: String = {
    val d = graft.etl.Scratch.dir("graft_skip")
    val li = queries.t(spark, sfTiny, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    // 16 output files so pruning has granularity to show (AQE would
    // coalesce this tiny sort shuffle back to one partition)
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try etl.Layout.zorderWrite(li, d, Seq("l_quantity", "l_extendedprice"))
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
    Skipping.writeManifest(spark, d, Seq("l_quantity", "l_extendedprice"))
    d
  }

  private def fullFilter(preds: Seq[ColRange]): Long =
    spark.read.parquet(dir).filter(preds.map(_.exact).reduce(_ && _)).count()

  test("pruned scan equals the full scan and skips files on the FIRST z column") {
    val preds = Seq(ColRange("l_quantity", Some(1.0), Some(5.0)))
    val (df, stats) = Skipping.prunedScan(spark, dir, preds)
    assert(df.count() == fullFilter(preds) && df.count() > 0)
    assert(stats.uncovered == 0)
    assert(stats.skipped > 0,
      s"selective range on l_quantity should drop files: $stats")
  }

  test("pruned scan equals the full scan and skips files on the SECOND z column") {
    val r = spark.read.parquet(dir)
      .agg(min("l_extendedprice"), max("l_extendedprice")).head()
    val lo = r.getDouble(0)
    val hi = lo + (r.getDouble(1) - lo) * 0.1
    val preds = Seq(ColRange("l_extendedprice", Some(lo), Some(hi)))
    val (df, stats) = Skipping.prunedScan(spark, dir, preds)
    assert(df.count() == fullFilter(preds) && df.count() > 0)
    assert(stats.skipped > 0,
      s"selective range on l_extendedprice should drop files: $stats")
  }

  test("conjunction over both columns prunes at least as hard as either alone") {
    val qa = Seq(ColRange("l_quantity", Some(1.0), Some(5.0)))
    val r = spark.read.parquet(dir)
      .agg(min("l_extendedprice"), max("l_extendedprice")).head()
    val lo = r.getDouble(0)
    val hi = lo + (r.getDouble(1) - lo) * 0.1
    val qb = Seq(ColRange("l_extendedprice", Some(lo), Some(hi)))
    val (dfBoth, sBoth) = Skipping.prunedScan(spark, dir, qa ++ qb)
    val (_, sA) = Skipping.prunedScan(spark, dir, qa)
    val (_, sB) = Skipping.prunedScan(spark, dir, qb)
    assert(dfBoth.count() == fullFilter(qa ++ qb))
    assert(sBoth.readFiles <= math.min(sA.readFiles, sB.readFiles), s"$sBoth vs $sA / $sB")
  }

  test("range outside the data reads zero files and returns zero rows") {
    val preds = Seq(ColRange("l_quantity", Some(1e9), None))
    val (df, stats) = Skipping.prunedScan(spark, dir, preds)
    assert(stats.readFiles == 0 && df.count() == 0)
  }

  test("pruned scan works over a partitionBy layout (recursive listing + basePath)") {
    val d = graft.etl.Scratch.dir("graft_skip_part")
    val ev = queries.t(spark, sfTiny, "events")
      .select(col("event_id"), col("value"), col("ts"))
      .withColumn("d", to_date(col("ts"))).drop("ts")
    etl.Layout.writePartitioned(ev, d, "d")
    Skipping.writeManifest(spark, d, Seq("value"))
    val mx = ev.agg(max("value")).head().getDouble(0)
    val preds = Seq(ColRange("value", Some(mx * 0.9), None))
    val (df, stats) = Skipping.prunedScan(spark, d, preds)
    val expected = spark.read.parquet(d).filter(preds.head.exact)
    assert(stats.uncovered == 0 && stats.liveFiles > 1)
    assert(df.count() == expected.count() && df.count() > 0)
    // partition column survives the leaf-file read
    assert(df.columns.contains("d"))
    assert(df.select("d").distinct().count() ==
      expected.select("d").distinct().count())
  }

  test("date/timestamp columns index as epoch days/micros (ANSI rejects blanket double casts)") {
    val d = graft.etl.Scratch.dir("graft_skip_date")
    val ev = queries.t(spark, sfTiny, "events")
      .select(to_date(col("ts")).as("d"), col("ts"), col("event_id"))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try ev.repartitionByRange(8, col("d")).write.mode("overwrite").parquet(d)
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
    // the old blanket cast("double") threw AnalysisException here
    Skipping.writeManifest(spark, d, Seq("d", "ts"))
    // bounds are epoch DAYS for the date column: prune to one week
    val lo = ev.agg(min(col("d"))).head.getDate(0).toLocalDate
    val r = ColRange("d", Some(lo.toEpochDay.toDouble), Some(lo.toEpochDay + 6.0))
    val (df, stats) = Skipping.prunedScan(spark, d, Seq(r))
    val expected = ev.filter(col("d") <= java.sql.Date.valueOf(lo.plusDays(6)))
      .count()
    assert(df.count() == expected, s"pruned scan lost rows: $stats")
    assert(stats.readFiles < stats.liveFiles,
      s"a one-week range over a range-partitioned year must skip files: $stats")
  }

  test("manifest reads recover an interrupted publish (no FileNotFound, no full rebuild)") {
    val manPath = Skipping.manifestPath(dir)
    val live = java.nio.file.Paths.get(new java.net.URI("file:" + manPath).getPath)
    val tmp = java.nio.file.Paths.get(live.toString + "__refreshing")
    // simulate the crash window: live manifest gone, complete tmp left
    java.nio.file.Files.move(live, tmp)
    val (df, stats) = Skipping.prunedScan(spark, dir,
      Seq(ColRange("l_quantity", Some(0.0), Some(1e9))))
    assert(df.count() == spark.read.parquet(dir).count(), stats.toString)
    assert(java.nio.file.Files.exists(live) && !java.nio.file.Files.exists(tmp),
      "prunedScan must promote the orphaned tmp manifest")
    // refreshManifest after the same crash must be incremental (0
    // statted — nothing new), not a full rebuild
    java.nio.file.Files.move(live, tmp)
    val (statted, dropped) = Skipping.refreshManifest(spark, dir,
      Seq("l_quantity", "l_extendedprice"))
    assert(statted == 0 && dropped == 0, s"($statted, $dropped)")
  }

  test("refreshManifest stats only new files, drops dead entries, equals a full rebuild") {
    val d = graft.etl.Scratch.dir("graft_skip_refresh")
    val li = queries.t(spark, sfTiny, "lineitem")
      .select("l_orderkey", "l_quantity")
    li.filter(col("l_quantity") > 10).repartition(3)
      .write.mode("overwrite").parquet(d)
    Skipping.writeManifest(spark, d, Seq("l_quantity"))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(d),
      spark.sparkContext.hadoopConfiguration)
    // snapshot the ORIGINAL files before appending: part names are
    // UUIDs, so a listing taken after the append orders randomly and
    // picking its head sometimes deleted the appended file itself —
    // (statted, dropped) = (0, 0) and an intermittent red suite
    val originals = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .filter(_.getPath.getName.startsWith("part-")).map(_.getPath)
    // append one file, delete one ORIGINAL
    li.filter(col("l_quantity") <= 10).coalesce(1)
      .write.mode("append").parquet(d)
    fs.delete(originals.head, false)
    val (statted, dropped) = Skipping.refreshManifest(spark, d, Seq("l_quantity"))
    assert(statted == 1 && dropped == 1, s"($statted, $dropped)")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Skipping.manifestKeyForTest(r.getString(0)),
        r.getLong(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
    assert(canon(spark.read.parquet(Skipping.manifestPath(d))) ==
      canon(Skipping.buildManifest(spark, d, Seq("l_quantity"))))
    // and the refreshed manifest covers everything live
    val (_, stats) = Skipping.prunedScan(spark, d,
      Seq(Skipping.ColRange("l_quantity", Some(1.0), Some(5.0))))
    assert(stats.uncovered == 0)
  }

  test("files appended after the manifest are always read (stale index loses speed, never rows)") {
    val d = graft.etl.Scratch.dir("graft_skip_stale")
    val li = queries.t(spark, sfTiny, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    etl.Layout.zorderWrite(li.filter(col("l_quantity") > 5), d,
      Seq("l_quantity", "l_extendedprice"))
    Skipping.writeManifest(spark, d, Seq("l_quantity"))
    // append rows INSIDE the query range with no manifest rebuild
    li.filter(col("l_quantity") <= 5).coalesce(1)
      .write.mode("append").parquet(d)
    val preds = Seq(ColRange("l_quantity", Some(1.0), Some(5.0)))
    val (df, stats) = Skipping.prunedScan(spark, d, preds)
    assert(stats.uncovered > 0, s"appended file must be uncovered: $stats")
    assert(df.count() ==
      spark.read.parquet(d).filter(preds.head.exact).count() && df.count() > 0)
  }

  test("a manifest without the encoding stamp is never pruned against (pre-v2 manifests)") {
    // simulate a manifest persisted by pre-stamp code (whose NTZ stats
    // were session-zone epoch micros): delete the version stamp. The
    // stats MIGHT be in a different double domain, so prunedScan must
    // not prune against them (read everything — speed, never rows) and
    // refreshManifest must force a FULL rebuild, not union against
    // incomparable stats.
    val d = graft.etl.Scratch.dir("graft_skip_enc")
    val li = queries.t(spark, sfTiny, "lineitem")
      .select("l_orderkey", "l_quantity")
    li.repartition(4).write.mode("overwrite").parquet(d)
    Skipping.writeManifest(spark, d, Seq("l_quantity"))
    val manPath = Skipping.manifestPath(d)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(d),
      spark.sparkContext.hadoopConfiguration)
    val stampFile = new org.apache.hadoop.fs.Path(manPath, Skipping.encodingStamp)
    assert(fs.exists(stampFile), "writeManifest must stamp the encoding version")
    fs.delete(stampFile, false)
    val preds = Seq(ColRange("l_quantity", Some(1.0), Some(5.0)))
    val (df, stats) = Skipping.prunedScan(spark, d, preds)
    assert(stats.readFiles == stats.liveFiles && stats.uncovered == stats.liveFiles,
      s"unstamped manifest must disable pruning: $stats")
    assert(df.count() ==
      spark.read.parquet(d).filter(preds.head.exact).count() && df.count() > 0)
    // refresh = full rebuild (every live file re-statted), stamp restored
    val (statted, dropped) = Skipping.refreshManifest(spark, d, Seq("l_quantity"))
    assert(statted == stats.liveFiles && dropped == 0, s"($statted, $dropped)")
    assert(fs.exists(stampFile), "rebuild must restore the stamp")
    val (_, after) = Skipping.prunedScan(spark, d, preds)
    assert(after.uncovered == 0)
  }

  test("declared q_skipping_prune prunes files at sf0.1 on its exact code path") {
    // the declared query's own scan (layout memo + fixed predicate):
    // correctness is the oracle's job (pruned result ≡ plain DuckDB
    // filter); THIS asserts the prune is real — fewer files read than
    // live at bench scale — and that the manifest covers the layout.
    val (df, stats) = queries.EtlQueries.skippingPruneScan(
      spark, "/root/testdata/sf0.1")
    assert(stats.uncovered == 0, stats.toString)
    assert(stats.readFiles < stats.liveFiles,
      s"the declared range must drop files: $stats")
    assert(stats.readFiles > 0 && df.count() > 0, stats.toString)
    // and the pruned scan agrees with the unpruned filter on the same
    // layout (the local twin of the oracle equivalence)
    val layout = queries.ExtendedQueries.skipLayout(spark, "/root/testdata/sf0.1")
    val full = spark.read.parquet(layout)
      .filter(queries.EtlQueries.skipPreds.map(_.exact).reduce(_ && _))
    assert(df.count() == full.count())
  }

  test("TimestampNTZ stats are session-timezone-free (build and probe zones may differ)") {
    // NTZ is a wall clock; encoding it via cast("timestamp") would put
    // a manifest built under one session zone and a probe run under
    // another in DIFFERENT epoch domains — min/max drift by the zone
    // offset and files that match can be silently skipped. The
    // encoding must be a pure function of the wall-clock value.
    import spark.implicits._
    val d = graft.etl.Scratch.dir("graft_skip_ntz")
    val rows = (0 until 64).map { i =>
      (i.toLong, java.time.LocalDateTime.of(2024, 1, 1 + i % 28, i % 24, 30,
        15, 123456000))
    }
    val df = rows.toDF("id", "ts")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val origTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      df.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(d)
      Skipping.writeManifest(spark, d, Seq("ts"))
      val utcStats = spark.read.parquet(Skipping.manifestPath(d))
        .orderBy("file").collect().map(r =>
          (r.getAs[Double]("min_ts"), r.getAs[Double]("max_ts"))).toSeq
      // rebuild the SAME stats under a +14h session zone: must be
      // byte-identical, not shifted by the offset
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      val shifted = Skipping.buildManifest(spark, d, Seq("ts"))
        .orderBy("file").collect().map(r =>
          (r.getAs[Double]("min_ts"), r.getAs[Double]("max_ts"))).toSeq
      assert(shifted == utcStats, "NTZ stats moved with the session zone")
      // and a probe under the foreign zone against the UTC-built
      // manifest prunes without losing rows
      val lo = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(
        java.time.ZoneOffset.UTC) * 1e6
      val hi = java.time.LocalDateTime.of(2024, 1, 7, 23, 59).toEpochSecond(
        java.time.ZoneOffset.UTC) * 1e6
      val preds = Seq(ColRange("ts", Some(lo), Some(hi)))
      val (pruned, stats) = Skipping.prunedScan(spark, d, preds)
      val expected = rows.count { case (_, t) =>
        val m = t.toEpochSecond(java.time.ZoneOffset.UTC) * 1e6 +
          t.getNano / 1000.0
        m >= lo && m <= hi
      }
      assert(pruned.count() == expected && expected > 0, stats.toString)
      assert(stats.readFiles < stats.liveFiles,
        s"a one-week range over a range-partitioned month must skip: $stats")
    } finally spark.conf.set("spark.sql.session.timeZone", origTz)
  }
}
