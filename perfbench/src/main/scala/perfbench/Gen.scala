package perfbench

import graft.annotate.Annotator
import java.util.SplittableRandom
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded workload generator. Every document is a pure function of
  * (seed, doc id), so a table is the same on any partitioning, and the engine
  * receives only the generated tables.
  *
  * The base corpus has the shape of the engine's reference `documents.parquet`
  * (pre-tokenized word salad: 10 to 99 tokens drawn uniformly from a
  * 30-word vocabulary). It is synthesized rather than read, so a run needs
  * nothing outside its checkout.
  */
object Gen {

  val baseVocab: IndexedSeq[String] = IndexedSeq(
    "scan", "column", "window", "order", "sort", "part", "agg", "value", "line", "key",
    "join", "merge", "group", "query", "a", "vector", "hash", "slow", "stream", "filter",
    "fast", "the", "batch", "spark", "table", "small", "data", "big", "customer", "row")

  /** splitmix64 finalizer: decorrelates (seed, id) pairs into RNG seeds. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(seed: Long, salt: Long, id: Long) =
    new SplittableRandom(mix(mix(seed * 31 + salt) + id))

  /** One reference-shaped document. */
  def baseText(seed: Long, id: Long): String = {
    val r = rng(seed, 1, id)
    val n = 10 + r.nextInt(90)
    Array.fill(n)(baseVocab(r.nextInt(baseVocab.length))).mkString(" ")
  }

  /** Heaps-style vocabulary growth for copy `c` of a replicated document:
    * each copy renames "spark" and "table" (as a singular/plural pair), so the
    * alias dictionary and the canonicalization graph grow with the copy count
    * instead of staying at the 30-word vocabulary.
    */
  def heapsText(base: String, c: Int): String =
    base.split(" ").map {
      case "spark" => s"spark$c"
      case "table" => s"table${c / 2}" + (if (c % 2 == 0) "s" else "")
      case w => w
    }.mkString(" ")

  /** Doc `id` of the Heaps corpus: base doc id / repl, copy id % repl. */
  def heapsDoc(seed: Long, repl: Int, id: Long): String =
    heapsText(baseText(seed, id / repl), (id % repl).toInt)

  /** Doc `id` of the plainly replicated corpus (identical copies). */
  def replicatedDoc(seed: Long, repl: Int, id: Long): String = baseText(seed, id / repl)

  /** Zipf-head corpus parameters. Filler tokens are the base words the
    * annotator does not tag NOUN, so every mention is a generated surface.
    */
  final case class Zipf(surfaces: Array[String], cdf: Array[Double], filler: Array[String],
                        headShare: Double, nounRate: Double, pluralRate: Double)

  private val letters = "bcdfghjklmnpqrtvwxz" + "aeiou"

  /** `n` distinct surfaces that the annotator tags NOUN in both the singular
    * and the plural ("+s") form, so plural variants give canonicalization
    * real edges. Ranks 1.. follow Zipf(1); rank 0 carries `headShare` of all
    * surface draws.
    */
  def zipf(seed: Long, n: Int, headShare: Double = 0.2, nounRate: Double = 0.35,
           pluralRate: Double = 0.3): Zipf = {
    val r = rng(seed, 2, 0)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 4 + r.nextInt(4)
      val w = Array.fill(len)(letters.charAt(r.nextInt(letters.length))).mkString
      if (!w.endsWith("s") && Annotator.posOf(w) == "NOUN" && Annotator.posOf(w + "s") == "NOUN")
        seen += w
    }
    val weights = Array.tabulate(n - 1)(k => 1.0 / (k + 1))
    val total = weights.sum
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / total)
    Zipf(seen.toArray, cdf, baseVocab.filter(Annotator.posOf(_) != "NOUN").toArray,
      headShare, nounRate, pluralRate)
  }

  /** Doc `id` of the Zipf corpus. Every third surface rank also appears in
    * its plural form.
    */
  def zipfDoc(seed: Long, z: Zipf, id: Long): String = {
    val r = rng(seed, 3, id)
    val n = 10 + r.nextInt(90)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (r.nextDouble() >= z.nounRate) z.filler(r.nextInt(z.filler.length))
        else {
          val rank =
            if (r.nextDouble() < z.headShare) 0
            else {
              val k = java.util.Arrays.binarySearch(z.cdf, r.nextDouble())
              1 + (if (k >= 0) k else -k - 1).min(z.cdf.length - 1)
            }
          val w = z.surfaces(rank)
          if (rank % 3 == 0 && r.nextDouble() < z.pluralRate) w + "s" else w
        }
      i += 1
    }
    out.mkString(" ")
  }

  /** A generated (doc_id, text) table of `n` documents in `parts` partitions. */
  def table(spark: SparkSession, n: Long, parts: Int)(text: Long => String): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map(id => (id, text(id))).toDF("doc_id", "text")
      .as[(Long, String)]
  }
}
