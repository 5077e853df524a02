package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scale-safe global ordering primitives.
  *
  * `Window.orderBy(...)` with no partition moves EVERY row through ONE task —
  * fine on a 60k-row test table, a guaranteed straggler on the vocabulary of
  * a 100 TB corpus (distinct-token count grows with corpus size, Heaps' law).
  * `globalRank` computes the same values in one sorted pass: a global sort
  * (range-partitioned shuffle); one job collecting each partition's row count
  * and value sum (one entry per partition, as in `RDD.zipWithIndex`); then
  * each partition numbers its rows from the offsets before it. Both reads of
  * the sorted RDD, and the result's consumers, read the same materialized
  * sort shuffle, so the row numbers are a permutation on any input leaf, a
  * cached one included. Like `RDD.zipWithIndex`, a call runs its jobs when it
  * is made. Results are deterministic iff `order` is a total order (callers
  * must include a unique tie-break column — the same requirement oracle hash
  * parity already imposes).
  */
object Ranks {

  /** `df` in `order` with three long columns appended: `rn`, the 1-based row
    * number; `cum`, the inclusive running sum of `value` (a non-null
    * integral column); `total`, the sum of `value` over all rows. Equivalent
    * to `row_number()` and `sum(value)` over `Window.orderBy(order)` and
    * `sum(value)` over `Window.partitionBy()`, without the funnel.
    */
  def globalRank(df: DataFrame, order: Seq[Column], value: Column,
                 rn: String, cum: String, total: String): DataFrame = {
    val v = df.columns.length
    // `value` is evaluated after the sort, so the shuffle carries no extra column
    val sorted = df.orderBy(order: _*).withColumn("__v", value.cast(LongType)).rdd
    val parts = sorted.mapPartitions { it =>
      var rows, sum = 0L
      it.foreach { r => rows += 1; sum += r.getLong(v) }
      Iterator((rows, sum))
    }.collect()
    val rowOffsets = parts.scanLeft(0L)(_ + _._1)
    val sumOffsets = parts.scanLeft(0L)(_ + _._2)
    val grand = sumOffsets.last
    val schema = Seq(rn, cum, total).foldLeft(df.schema)(_.add(_, LongType, nullable = false))
    df.sparkSession.createDataFrame(sorted.mapPartitionsWithIndex { (p, it) =>
      var n = rowOffsets(p)
      var s = sumOffsets(p)
      it.map { r =>
        n += 1; s += r.getLong(v)
        Row.fromSeq(r.toSeq.take(v) ++ Seq(n, s, grand))
      }
    }, schema)
  }

  /** Global 1-based row number in `order`, as column `out` (long). Equivalent
    * to `row_number().over(Window.orderBy(order))` without the funnel.
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], out: String): DataFrame =
    globalRank(df, order, lit(1L), out, "__cum", "__total").drop("__cum", "__total")

  /** Scalar aggregate of the whole input joined onto every row as `out` — the
    * replacement for `agg.over(Window.partitionBy())`, which is the same
    * single-partition funnel. The broadcast side is one row.
    */
  def withTotal(df: DataFrame, agg: Column, out: String): DataFrame =
    df.crossJoin(broadcast(df.agg(agg.as(out))))
}
