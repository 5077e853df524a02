package graft.link

import graft.functions.Ranks
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
  * Scale design (north rule): the dictionary is ranked in the one sorted
  * pass every global rank uses (`Ranks.globalRank`). It is orders of
  * magnitude smaller than the mention stream, so the join is a broadcast
  * hash join — zero shuffle of the big side. Zipfian alias frequencies make
  * the *output* of a shuffle join skewed; broadcasting sidesteps reduce-side
  * skew entirely. The caller sizes that decision from one bound,
  * `KgPipeline`'s `broadcastMaxDictRows`, which also puts canonicalization's
  * CC on the driver at or below it (the broadcast entity table passes
  * through the driver anyway). For
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
    * One sorted pass (`Ranks.globalRank`), not a single-partition window
    * (alias count grows with the corpus, Heaps' law): `entity_id` is the
    * pass's row number less one, and `prob` divides by the `freq` total that
    * the same pass returns, so nothing is checkpointed. The rank's jobs run
    * when this is called.
    */
  def buildAliasDict(counts: DataFrame): Dataset[AliasEntry] = {
    val spark = counts.sparkSession
    import spark.implicits._
    Ranks.globalRank(counts.select("alias", "freq"), Seq(col("freq").desc, col("alias").asc),
        col("freq"), "__rn", "__cum", "__total")._1
      .select(col("alias"), (col("__rn") - 1).as("entity_id"), col("freq"),
        (col("freq").cast("double") / col("__total").cast("double")).as("prob"))
      .as[AliasEntry]
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
