package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSONL corpus interchange — the de-facto wire format of large text
  * corpora (one JSON document per line, typically gzip/zstd shards).
  * Spark's json reader covers the mechanics; what this wrapper pins
  * down is the CONTRACT a 100 TB ingest needs and the defaults hide:
  *
  *  - EXPLICIT schema, never inference: schema inference is a full
  *    extra pass over the data, and a schema drifting silently with
  *    the input is the same corruption class the CSV landing path
  *    guards against.
  *  - Malformed lines are QUARANTINED, not dropped: PERMISSIVE mode
  *    with a corrupt-record column splits the read into (clean,
  *    quarantine) like `Expectations.split` — Spark's default
  *    otherwise nulls the fields and the bad line vanishes into the
  *    corpus as an empty document.
  *  - Compression is transparent on read (codec by file extension);
  *    writes default to gzip shards (interchange-safe everywhere).
  *
  * Scale shape: a line-delimited read is splittable per file (and
  * within a file for uncompressed/bzip2), parses in the scan stage,
  * and carries no shuffle; `readJsonl` is exactly one pass. */
object CorpusIO {

  private val Corrupt = "__corrupt"

  /** Register [[ZstdJniCodec]] with the session's Hadoop conf so
    * `.zst` shards resolve by extension — Hadoop's own zstd codec
    * needs native libhadoop support most images lack; ours rides the
    * zstd-jni Spark already ships. `io.compression.codecs` is ADDITIVE
    * to the service-loaded defaults (gzip et al. keep resolving), and
    * the mixed-codec spec pins that. Idempotent; called by every
    * CorpusIO read/write so users never have to. */
  private[graft] def ensureZstd(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cls = classOf[ZstdJniCodec].getName
    val cur = conf.get("io.compression.codecs", "")
    if (!cur.split(",").map(_.trim).contains(cls))
      conf.set("io.compression.codecs",
        if (cur.isEmpty) cls else s"$cur,$cls")
  }

  /** Read JSONL shards under `path` with the given schema. Returns
    * (clean rows, quarantined raw lines): a malformed line appears in
    * the second frame as its raw text + source file, never as a
    * silently-nulled row in the first.
    *
    * Implementation: `text` source + `from_json`, NOT the json
    * source — the json reader forbids plans that reference only its
    * corrupt-record column (SPARK-21610 suggests caching the whole
    * parse as the workaround, which is exactly what a 100 TB ingest
    * can't do). The text route parses in the same scan stage with no
    * such restriction, and both returned frames are independent
    * one-pass plans. Blank lines are skipped (matching the json
    * reader), not quarantined. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType)
      : (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains(Corrupt),
      s"schema must not contain the reserved column $Corrupt")
    ensureZstd(spark)
    val withCorrupt = StructType(
      schema.fields :+ StructField(Corrupt, StringType))
    val raw = spark.read.text(path)
      .filter(trim(col("value")) =!= "")
      .select(col("value"), input_file_name().as("__file"),
        from_json(col("value"), withCorrupt, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> Corrupt)).as("__j"))
    (cleanRows(raw, schema), quarantinedLines(raw))
  }

  /** Streaming twin of [[readJsonl]]: a file-source text stream over
    * arriving JSONL shards, parsed with the same quarantine contract.
    * Returns ONE stream carrying both verdicts (a streaming source
    * can't fork into two queries without reading the input twice);
    * split it with [[cleanRows]] / [[quarantinedLines]] — inside a
    * `foreachBatch` both sides come from the single micro-batch read.
    * Compose with the maintenance sinks: cleanRows →
    * `sketchRollupSink` / `boilerplateRegistrySink` /
    * `CorpusClean`-in-foreachBatch; quarantinedLines → a dead-letter
    * sink. */
  def readJsonlStream(spark: SparkSession, path: String,
      schema: StructType, maxFilesPerTrigger: Int = 16): DataFrame = {
    require(!schema.fieldNames.contains(Corrupt),
      s"schema must not contain the reserved column $Corrupt")
    ensureZstd(spark)
    val withCorrupt = StructType(
      schema.fields :+ StructField(Corrupt, StringType))
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(path)
      .filter(trim(col("value")) =!= "")
      .select(col("value"), input_file_name().as("__file"),
        from_json(col("value"), withCorrupt, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> Corrupt)).as("__j"))
  }

  /** The clean side of a [[readJsonlStream]] (or any frame with its
    * shape): schema columns only. A line holding the VALID JSON
    * literal `null` parses to a null STRUCT (not a corrupt record) —
    * without the isNotNull guard it would pass the corrupt filter and
    * materialize as an all-null "clean" row, the silent-empty-document
    * corruption this module's quarantine contract exists to prevent. */
  def cleanRows(parsed: DataFrame, schema: StructType): DataFrame =
    parsed.filter(col("__j").isNotNull && col(s"__j.$Corrupt").isNull)
      .select(schema.fieldNames.map(n => col(s"__j.`$n`").as(n)): _*)

  /** The quarantine side: (raw_line, file) — corrupt records AND
    * null-struct lines (the JSON literal `null`; see [[cleanRows]]). */
  def quarantinedLines(parsed: DataFrame): DataFrame =
    parsed.filter(col("__j").isNull || col(s"__j.$Corrupt").isNotNull)
      .select(col("value").as("raw_line"), col("__file").as("file"))

  /** Fold one intake micro-batch into the published corpus state —
    * the persisted-registry advance for JSONL ingest, composing BOTH
    * proven idempotence classes so at-least-once redelivery is a
    * content no-op with NO applied-batch marker:
    *
    *  - `<destDir>/clean`: keyed UPSERT on `keyCol` (the incoming
    *    batch wins a collision) — redelivering a batch re-upserts its
    *    own identical rows (content no-op), and a checkpointed feed
    *    only ever redelivers its LAST uncommitted batch, which is
    *    what makes the marker-free discipline sound (an OLD batch
    *    replayed after a newer re-crawl of the same key would win —
    *    that ordering hazard is the cdc sink's version-guard problem,
    *    and a feed that re-crawls keys across batches wants
    *    `cdcApplySink` instead); a re-crawled document's newer parse
    *    replaces the old row;
    *  - `<destDir>/quarantine`: distinct-union SET-FOLD of
    *    (raw_line, file) — the band-registry class; a dead letter is
    *    a fact, re-observing it changes nothing.
    *
    * Both sides go through `Swap.open` (recover → fold →
    * atomic swap), so each is complete-or-absent under crashes; the
    * two publishes are NOT mutually atomic — a crash between them
    * redelivers the batch and both folds converge (the no-marker
    * discipline is what makes that safe). Returns (clean rows,
    * quarantine lines) published. */
  def advanceIntake(spark: SparkSession, destDir: String, keyCol: String,
      clean: DataFrame, quarLines: DataFrame): (Long, Long) = {
    def open(side: String) = graft.etl.Swap.open(spark,
      new org.apache.hadoop.fs.Path(destDir, side).toString)
    val cleanDir = open("clean")
    val nClean = cleanDir.publish(cleanDir.live.fold(clean)(
      _.join(clean.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(clean)))(_.count())
    val quarDir = open("quarantine")
    val nQuar = quarDir.publish(quarDir.live.fold(quarLines.distinct())(
      _.unionByName(quarLines).distinct()))(_.count())
    (nClean, nQuar)
  }

  /** Write a corpus as compressed JSONL shards — the interchange
    * export (`TrainPrep.exportShards` covers the key-clustered
    * parquet form; this is the cross-tool one). `shards` bounds the
    * file count; zstd by default (the de-facto corpus interchange
    * codec — better ratio AND faster decode than gzip, written
    * natively by Spark 4); pass "gzip" where legacy tooling can't
    * read zstd, or "none" for splittable uncompressed output. Reads
    * pick the codec per FILE from its extension, so a directory can
    * mix codecs across shards (e.g. a crawl re-exported
    * incrementally) and [[readJsonl]] consumes it in one pass. */
  def writeJsonl(df: DataFrame, path: String, shards: Int,
      codec: String = "zstd"): Unit = {
    require(shards > 0, s"shards must be positive, got $shards")
    ensureZstd(df.sparkSession)
    // Spark's text-source codec shortnames have no zstd entry; the
    // option also accepts a codec CLASS, which is how ours rides in
    val codecName =
      if (codec.equalsIgnoreCase("zstd")) classOf[ZstdJniCodec].getName
      else codec
    df.repartition(shards)
      .write.mode("overwrite")
      .option("compression", codecName)
      .json(path)
  }
}
