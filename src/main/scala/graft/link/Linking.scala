package graft.link

import graft.model.AliasEntry
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Entity linking: alias dictionary build + dictionary join.
  *
  * Reference semantics: vocab built by frequency with specials appended
  * (semeval2sdp.py:188-234), lookups via vocab2idx with `<OOV>` fallback
  * (semeval2sdp.py:264-271, data_handler.py:318-324) — relationally a left
  * outer equi-join (SURVEY.md J1/P10). `lookup` leaves a miss null; the
  * caller decides what a miss means (an `OovEntityId` coalesce, a filter, or
  * nothing where no endpoint can miss).
  *
  * Scale design (north rule): the dictionary is orders of magnitude smaller
  * than the mention stream, so the join is a broadcast hash join — zero
  * shuffle of the big side. Zipfian alias frequencies make the *output* of a
  * shuffle join skewed; broadcasting sidesteps reduce-side skew entirely. For
  * dictionaries too big to broadcast, `lookup` degrades to `saltedLeftJoin`,
  * which spreads hot keys over `buckets` replicas: big side gets a
  * deterministic salt from hash(doc_id), dictionary rows are exploded
  * ×buckets, and the join key becomes (alias, salt) — an explicit skew-aware
  * repartition join.
  */
object Linking {

  val OovEntityId: Long = -1L

  /** Hash-bucket count for the entity table's partition layout (the Iceberg
    * `bucket(N, entity_id)` transform analog) and the salt width of the
    * salted entity joins. 16 at test scale; a config knob — at 10¹²-doc
    * scale this is sized to target file counts.
    */
  val entityBuckets = 16

  /** Frequency-ranked alias dictionary from a pre-aggregated `(alias, freq)`
    * frame, with deterministic tie-break (freq desc, alias asc — the
    * reference's Counter.most_common order made partition-invariant,
    * SURVEY.md W2 note): `entity_id` is the 0-based rank and `prob` is
    * `freq` over the sum of all `freq`.
    *
    * One sorted pass, not a single-partition window (alias count grows with
    * the corpus, Heaps' law): the global sort range-partitions the rows, one
    * job collects each partition's row count and `freq` sum (a list with one
    * entry per partition, as in `RDD.zipWithIndex`), and each partition then
    * numbers its rows from its offset. Both reads of the sorted RDD read the
    * same materialized sort shuffle, and so do the returned Dataset's
    * consumers: `counts` is read once, and nothing is checkpointed.
    */
  def buildAliasDict(counts: DataFrame): Dataset[AliasEntry] = {
    val spark = counts.sparkSession
    import spark.implicits._
    val sorted = counts.select("alias", "freq").orderBy(col("freq").desc, col("alias").asc)
      .as[(String, Long)].rdd
    val parts = sorted.mapPartitions { it =>
      var rows, freq = 0L
      it.foreach { case (_, f) => rows += 1; freq += f }
      Iterator((rows, freq))
    }.collect()
    val offsets = parts.scanLeft(0L)(_ + _._1)
    val total = parts.map(_._2).sum.toDouble
    spark.createDataset(sorted.mapPartitionsWithIndex { (p, it) =>
      var id = offsets(p) - 1
      it.map { case (alias, freq) => id += 1; AliasEntry(alias, id, freq, freq.toDouble / total) }
    })
  }

  /** Every entity join: left-joins `stream` to the two-column (key, value)
    * `table` on `stream(key)`, adding the value as column `as` (null on a
    * miss; the caller decides what a miss means). The join strategy is one
    * decision, made here: `small` broadcasts the table (one hash build per
    * executor, no stream shuffle); otherwise the join degrades to
    * `saltedLeftJoin` on the stream's `doc_id`, `span_idx`, which spreads
    * each key over `entityBuckets` reducers so the stream's hot surfaces
    * (Zipf head) cannot swamp one. A hard `broadcast()` hint on a
    * Heaps-large table would force it through the driver regardless of
    * `autoBroadcastJoinThreshold`, so the caller sizes `small`.
    */
  def lookup(stream: DataFrame, key: String, table: DataFrame, as: String,
             small: Boolean): DataFrame = {
    val t = table.toDF(s"__$as", as)
    val joined =
      if (small) stream.join(broadcast(t), col(key) === col(s"__$as"), "left")
      else saltedLeftJoin(stream, t, key, s"__$as", Seq("doc_id", "span_idx"), entityBuckets)
    joined.drop(s"__$as")
  }

  /** Skew-aware salted repartition join for dictionaries beyond broadcast
    * size: each big-side row picks a deterministic salt in [0, buckets) from a
    * hash of `saltCols`; the dictionary side is exploded ×buckets so every
    * (key, salt) bucket joins locally and a single hot key spreads over
    * `buckets` reducers. Result is row-identical to the plain left join —
    * verified by LinkCanonEvalSpec and the q11 oracle.
    */
  def saltedLeftJoin(
      big: DataFrame,
      dict: DataFrame,
      bigKey: String,
      dictKey: String,
      saltCols: Seq[String],
      buckets: Int): DataFrame = {
    val salted = big.withColumn(
      "__salt", pmod(hash(saltCols.map(col): _*), lit(buckets)))
    val explodedDict = dict
      .withColumn("__salt", explode(sequence(lit(0), lit(buckets - 1))))
    salted
      .join(explodedDict,
        salted(bigKey) === explodedDict(dictKey) && salted("__salt") === explodedDict("__salt"),
        "left")
      .drop(salted("__salt")).drop(explodedDict("__salt"))
  }
}
