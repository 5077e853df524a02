package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-free multiset fingerprint of a table: the row count plus two sums of
  * per-row hashes over ALL columns. Because every column feeds the hashes,
  * Catalyst cannot prune the work that produces any of them (as it does under
  * `count()`), and computing the fingerprint is what materializes the output.
  *
  * Overflow-safe under ANSI arithmetic: each summand is below 2^32 in
  * magnitude, so the long sums cannot overflow before 2^31 rows. A duplicated
  * row adds its hashes again, so the fingerprint tells multisets apart, not
  * just sets.
  */
final case class Fingerprint(rows: Long, h32: Long, h64hi: Long) {
  override def toString: String = s"rows=$rows h32=$h32 h64hi=$h64hi"
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(hash(cols: _*).cast("long")), lit(0L)),
      coalesce(sum(shiftrightunsigned(xxhash64(cols: _*), 33)), lit(0L))).first()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
