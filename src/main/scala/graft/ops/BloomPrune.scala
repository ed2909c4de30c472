package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter join pruning — drop big-side rows that cannot match
  * BEFORE their shuffle, the standard row-level runtime filter for
  * selective large×medium joins.
  *
  * Spark's optimizer injects this automatically inside a single query
  * when `spark.sql.optimizer.runtime.bloomFilter.enabled` fires; this
  * operator makes the same machinery EXPLICIT so the sketch can be
  * (a) built once and reused across many queries against the same
  * medium side, and (b) applied to scans the optimizer cannot see
  * through (a pre-filter before a `mapPartitions` codec stage, a
  * hand-built stream-static join). Uses Spark's own
  * `BloomFilterAggregate` / `BloomFilterMightContain` expressions via
  * the namespace bridge — no new sketch implementation, identical
  * hashing (XxHash64) on both sides.
  *
  * 100 TB shape: the sketch is built with one partial+final aggregate
  * over the SMALL side's keys and collected to the driver — model-like
  * state, `numBits/8` bytes by construction (1 MiB default), the same
  * argument as the IVF centroid collect. It re-enters the plan as a
  * literal, so the big side's probe is a row-local codegen'd filter
  * below its exchange: rows that cannot join are dropped before they
  * are hashed, serialized, or shuffled. False positives only (never
  * drops a matching row); the join itself stays exact.
  *
  * Build-once / probe-many (the reason this exists vs the optimizer's
  * per-query injection — BloomPruneSpec plan-gates that the probing
  * queries re-aggregate NOTHING):
  * {{{
  * val bf = BloomPrune.buildFilter(activeParts, col("p_partkey"))  // one agg job
  * BloomPrune.saveFilter(spark, "/models/active_parts.bloom", bf)  // optional: cross-session
  * // ... any number of queries, each probing the same literal sketch:
  * val detail = lineitem.filter(BloomPrune.mightContain(bf, col("l_partkey")))
  *   .join(activeParts, col("l_partkey") === col("p_partkey"))
  * val rollup = lineitem.filter(BloomPrune.mightContain(bf, col("l_partkey")))
  *   .join(activeParts, col("l_partkey") === col("p_partkey"))
  *   .groupBy(col("p_partkey")).agg(sum(col("l_quantity")))
  * }}}
  */
object BloomPrune {

  /** Serialized bloom filter over `key` of `df` (XxHash64 domain).
    * `numBits` defaults to 8M bits = 1 MiB ≈ 1% fpp at 1M items.
    *
    * TYPE CONTRACT: the probe key later passed to [[mightContain]]
    * must have the SAME data type as `key` — XxHash64 hashes the same
    * numeric value differently per width (int vs long), so a type
    * mismatch silently fails membership for true matches.
    * [[prunedJoin]] normalizes both sides automatically. */
  def buildFilter(df: DataFrame, key: Column,
      expectedItems: Long = 1000000L, numBits: Long = 8L * 1024 * 1024): Array[Byte] = {
    val hashed = new XxHash64(Seq(ColumnBridge.expression(key)))
    val agg = new BloomFilterAggregate(hashed,
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    df.select(ColumnBridge.column(agg)).head.getAs[Array[Byte]](0)
  }

  /** Persist a built filter (the cross-SESSION half of build-once/
    * probe-many — same lifecycle as `Similarity.saveIvfModel`;
    * cross-store contract: REGISTRIES.md): one
    * binary row, swap-published so a rebuild never exposes a
    * half-written sketch to a concurrent reader. */
  def saveFilter(spark: org.apache.spark.sql.SparkSession, path: String,
      filter: Array[Byte]): Unit = {
    import spark.implicits._
    graft.etl.Swap.open(spark, path)
      .publish(Seq(Tuple1(filter)).toDF("bf"), coalesce = Some(1))()
  }

  /** Load a filter written by [[saveFilter]] (recovering an
    * interrupted save first). The bytes are the whole
    * model — callers hold them driver-side and probe via
    * [[mightContain]], exactly as with a freshly built filter. */
  def loadFilter(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Byte] =
    graft.etl.Swap.open(spark, path).read().head.getAs[Array[Byte]](0)

  /** Membership-test Column for a previously built filter: true when
    * `key` MIGHT be in the sketch (false ⇒ definitely absent). */
  def mightContain(filter: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(filter, BinaryType),
      new XxHash64(Seq(ColumnBridge.expression(key)))))

  /** Inner equi-join with the big side bloom-pruned below its shuffle.
    * Semantically identical to `big.join(small, bigKey === smallKey)`
    * — the bloom filter admits false positives only, and the join
    * removes those. */
  def prunedJoin(big: DataFrame, bigKey: Column,
      small: DataFrame, smallKey: Column,
      expectedItems: Long = 1000000L,
      numBits: Long = 8L * 1024 * 1024): DataFrame = {
    // normalize the hash domain: XxHash64 hashes int(5) and long(5)
    // differently, so mismatched key widths (a common parquet-writer
    // artifact) would silently drop true matches. Integral widths
    // widen losslessly to long; for any OTHER type mismatch there is
    // no cast guaranteed to agree with the join's own coercion
    // (long 5 vs decimal 5.00 render differently as strings), so the
    // bloom step is SKIPPED — pruning is an optimization, and the
    // plain join is always correct.
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    val bigT = big.select(bigKey).schema.head.dataType
    val smallT = small.select(smallKey).schema.head.dataType
    val keys: Option[(Column, Column)] =
      if (bigT == smallT) Some((bigKey, smallKey))
      else if (integral(bigT) && integral(smallT))
        Some((bigKey.cast("long"), smallKey.cast("long")))
      else None
    keys match {
      case Some((bk, sk)) =>
        val bf = buildFilter(small, sk, expectedItems, numBits)
        big.filter(mightContain(bf, bk)).join(small, bigKey === smallKey)
      case None =>
        big.join(small, bigKey === smallKey)
    }
  }
}
