package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

import graft.functions.FreqItemsAgg

/** One-pass table profiling — the discovery step before writing
  * `Expectations` rules or choosing a layout: per column, null rate,
  * approximate distinct count (HLL++), min/max, and (strings) the
  * Misra-Gries heavy hitters, ALL computed in a single partial+final
  * aggregate over one scan. Profiling 100 TB is itself a 100 TB scan;
  * what must NOT happen is one scan per column or per metric — the
  * whole profile is one job whose result is a single row, exploded
  * driver-side into the long (column, metric) report.
  *
  * Reuses the library's native kernels: `approx_count_distinct`
  * (HLL++) and `FreqItemsAgg` (bounded-memory heavy hitters), so the
  * per-column state is O(sketch), never O(distinct values).
  */
object TableProfile {

  final case class ColumnProfile(column: String, rows: Long, nulls: Long,
      approxDistinct: Long, min: Option[String], max: Option[String],
      topItems: Seq[(String, Long)]) {
    def nullRate: Double = if (rows == 0) 0.0 else nulls.toDouble / rows
  }

  /** DataFrame form for the declared/oracle path (`q_profile`): per
    * column — row count, null count, EXACT distinct count, min/max as
    * strings — as a long (col_name, n_rows, n_null, n_distinct,
    * min_s, max_s) report ([[profile]] keeps the HLL sketch for the
    * 100 TB discovery path where estimates suffice). Restrict
    * `columns` to integer / string columns when oracle-comparing:
    * float→string formatting is engine-specific.
    *
    * One SINGLE-COLUMN one-distinct aggregate per column, unioned —
    * the COLUMNAR-source shape, and the declared q_profile plan since
    * r15. Measured at sf0.1 (600 k rows × 6 columns, idle, min-of-9):
    * the one-scan multi-distinct form costs 9.0 s — its Expand
    * multiplies every row ×(|columns|+1) through the first aggregate,
    * and the mixed-type grouping row defeats partial aggregation —
    * while this form reads the SAME bytes (parquet prunes each branch
    * to its one column, so "one scan" never saved I/O on a columnar
    * source) and each branch plans as the classic two-phase
    * one-distinct aggregate: partial hash by value (map-side
    * combine ⇒ the exchange carries |distinct|, not |rows|), then the
    * 1-row fold. All branches execute inside ONE union job.
    *
    * SETTLED r18 (do not re-attempt): folding the branches into one
    * grouped aggregate — stack the columns into (col_name, value)
    * rows via a 6-way generate, then groupBy(col_name) with a single
    * shared count_distinct — was measured 13× WORSE (7.08 s vs
    * 0.52 s, isolated min-of-9, sf0.1): the union's 31 stages are
    * scheduling floor (wall 0.52 ≤ 31 × floor — it contributes zero
    * floorline excess), while the fold trades them for REAL per-row
    * work (|rows|×|columns| generate rows, every integer stringified
    * for the shared distinct slot, string min/max state per group)
    * that no stage-count saving repays. Stage count is the wrong
    * objective when the wall is under the floorline. */
  def profileFrameColumnar(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profileFrameColumnar requires explicit columns")
    columns.map { name =>
      df.select(df(name).as("__v"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_null"),
          count_distinct(col("__v")).as("n_distinct"),
          min(col("__v")).cast("string").as("min_s"),
          max(col("__v")).cast("string").as("max_s"))
        .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ union _)
  }

  /** Profile the given columns (default: all non-complex columns).
    * `topKCapacity` bounds the heavy-hitter sketch for string
    * columns; numeric/date/timestamp columns report min/max instead. */
  def profile(df: DataFrame, columns: Seq[String] = Nil,
      topKCapacity: Int = 16): Seq[ColumnProfile] = {
    val fields = df.schema.fields
      .filter(f => columns.isEmpty || columns.contains(f.name))
      .filter(f => f.dataType.isInstanceOf[NumericType] ||
        f.dataType == StringType ||
        f.dataType.typeName.startsWith("date") ||
        f.dataType.typeName.startsWith("timestamp"))
    require(fields.nonEmpty, "no profilable columns selected")

    def isString(f: org.apache.spark.sql.types.StructField) =
      f.dataType == StringType

    val aggs: Seq[Column] = count(lit(1)).as("__rows") +: fields.flatMap { f =>
      // df(name), not col(name): col() re-parses a dotted column name
      // as struct-field access
      val c = df(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nulls_${f.name}"),
        approx_count_distinct(c).as(s"__dist_${f.name}"),
        min(c).cast("string").as(s"__min_${f.name}"),
        max(c).cast("string").as(s"__max_${f.name}")) ++
      (if (isString(f))
        Seq(FreqItemsAgg.freqItems(c, topKCapacity).as(s"__top_${f.name}"))
      else Nil)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = row.getAs[Long]("__rows")
    fields.map { f =>
      val top: Seq[(String, Long)] =
        if (isString(f))
          row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](s"__top_${f.name}")
            .map(r => (Option(r.get(0)).map(_.toString).orNull, r.getLong(1))).toSeq
        else Nil
      ColumnProfile(f.name, rows,
        row.getAs[Long](s"__nulls_${f.name}"),
        row.getAs[Long](s"__dist_${f.name}"),
        Option(row.getAs[String](s"__min_${f.name}")),
        Option(row.getAs[String](s"__max_${f.name}")),
        top)
    }.toSeq
  }
}
