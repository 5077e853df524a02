package graft.sample

import graft.functions.Portable._
import graft.functions.Ranks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O1: seeded global shuffle (shuffle_wiki.py:14-20, data_handler.py:32-34).
  *
  * The reference shuffles the corpus once with a fixed RNG seed and then
  * takes positional splits. `orderBy(rand(seed))` is NOT partition-stable in
  * Spark (rand is seeded per-partition), so the portable restatement orders
  * by a keyed hash: md5("<seed>:<key>"). Same seed ⇒ same permutation on any
  * cluster layout, any engine — and the rank itself is the scale-safe
  * sorted pass of `Ranks.globalRank`, not a single-task sort.
  */
object Shuffles {

  /** `df` with `pos`, its 1-based position in the seeded permutation, and
    * `__total`, the row count. */
  private def ranked(df: DataFrame, keyCol: String, seed: Long): DataFrame =
    Ranks.globalRank(
      df.withColumn("__h", md5num(concat(lit(s"$seed:"), col(keyCol).cast("string")))),
      Seq(col("__h").asc, col(keyCol).asc), lit(1L), "pos", "__cum", "__total")
      ._1.drop("__h", "__cum")

  /** Adds `pos` (1-based position in the seeded permutation) to `df`.
    * `keyCol` must be unique per row.
    */
  def seededShuffle(df: DataFrame, keyCol: String, seed: Long): DataFrame =
    ranked(df, keyCol, seed).drop("__total")

  /** Positional train/valid split after the seeded shuffle: the first
    * ⌊trainPct%⌋ of positions train, the rest valid (data_handler.py:36-41's
    * slice-by-index split, made size-exact with integer arithmetic).
    */
  def seededSplit(df: DataFrame, keyCol: String, seed: Long,
                  trainPct: Int = 80): DataFrame =
    ranked(df, keyCol, seed)
      .withColumn("fold",
        when(col("pos") * 100 <= col("__total") * trainPct, lit("train"))
          .otherwise(lit("valid")))
      .drop("__total")
}
