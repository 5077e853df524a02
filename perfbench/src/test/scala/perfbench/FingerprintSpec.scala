package perfbench

class FingerprintSpec extends BenchSuite {

  private def table(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("id", "s", "x")
  }

  test("fingerprint is partition-invariant (1 vs 13 partitions)") {
    val df = table(500)
    assert(Fingerprint.of(df.repartition(1)) == Fingerprint.of(df.repartition(13)))
  }

  test("fingerprint is a multiset: duplicating one row changes it") {
    val df = table(500)
    val dup = df.union(df.limit(1))
    val (a, b) = (Fingerprint.of(df), Fingerprint.of(dup))
    assert(b.rows == a.rows + 1)
    assert(a.h32 != b.h32 && a.h64hi != b.h64hi)
  }

  test("fingerprint depends on every column") {
    import org.apache.spark.sql.functions._
    val df = table(500)
    assert(Fingerprint.of(df) != Fingerprint.of(df.withColumn("x", col("x") + 1)))
  }
}
