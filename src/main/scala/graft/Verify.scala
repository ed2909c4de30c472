package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [onlyCsv] — the optional third arg
    // restricts the dump to named queries for fast local iteration;
    // the driver always passes exactly two.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    // A typo'd name would otherwise match nothing and dump zero queries
    // with exit 0 — the same silent-failure class the writeBloom schema
    // guard exists to prevent.
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = SparkEntry.session(SparkEntry.envCpus)
      // Write micros (not INT96) so the driver's parquet reader sees the
      // same physical timestamp type DuckDB produces.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // one retry: the queries are deterministic, so a second failure
      // is a real bug, but a transient executor/broadcast hiccup (this
      // VM shows them) must not zero the query's correctness record
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      // NonFatal only: re-running an identical plan on an OOM'd/
      // corrupted JVM doubles the damage — fatal errors propagate
      import scala.util.control.NonFatal
      try attempt()
      catch { case NonFatal(e1) =>
        System.err.println(s"[verify] $name attempt 1 failed: " +
          s"${e1.getClass.getName}: ${e1.getMessage} — retrying")
        try attempt()
        catch { case NonFatal(e2) =>
          System.err.println(s"[verify] $name failed: " +
            s"${e2.getClass.getName}: ${e2.getMessage}")
        }
      }
    }
    // Keep the manifest consistent with the dumped parquet set: a
    // filtered run must not emit a full manifest whose unlisted entries
    // read as missing results to the oracle compare.
    val json = Bench.json(
      SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
