package graft.pipeline

import graft.canon.ConnectedComponents
import graft.ckpt.StageLog
import graft.corpus.Corpus
import graft.extract.Extract
import graft.link.Linking
import graft.link.Linking.lookup
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The docs→canonical-triples job, in two entry points that share one
  * extraction kernel (`Extract.triplesFused`), one whitelist gate
  * (`Extract.whitelisted`), one dictionary side (`endpointCounts` feeds the
  * vocabulary gate and the alias dictionary, `canonicalize` gives every
  * entity its canonical id) and one entity-join helper (`Linking.lookup`,
  * broadcast or salted by one `broadcastMaxDictRows` bound):
  *
  *   docs → fused extraction (candidates with their path signature `sig`)
  *        → triples (whitelist + vocabulary gates)
  *        → alias dictionary → entity linking (OOV default)
  *        → canonicalization (CC over alias-variant edges)
  *        → canonical triple + entity tables (partitioned by predicate)
  *
  * `run` is the shipped job: every stage materializes via TableIO (atomic
  * snapshot whose manifest carries the per-partition lineage), so a killed
  * run resumes after its last committed stage with byte-identical results.
  * `canonicalTriplesInMemory` is the scaling-benchmark job: the same
  * dataflow without durable commits and without the whitelist gate. The two
  * keep different pass economies on purpose, so they do not share a stage
  * graph; ResumeSpec pins `run(whitelistMinCount = 1)` row-equal (as a
  * multiset) to `canonicalTriplesInMemory`.
  */
object KgPipeline {

  val stages: Seq[String] = Seq(
    "candidates", "triples", "alias_dict", "linked_triples", "entity_canon", "canonical_triples")

  /** is_ok_sdp rule 1 (semeval2sdp.py:245-262): a surface is in-vocabulary
    * when it is a triple endpoint at least this often corpus-wide.
    */
  val vocabMinCount = 2L

  /** Both jobs' default dictionary-side row bound for the entity joins: at or
    * below it the dictionary broadcasts, above it the joins are salted
    * (`Linking.lookup`). ~5M rows ≈ low hundreds of MB broadcast; a config
    * knob at scale.
    */
  val defaultBroadcastMaxDictRows = 5000000L

  /** Plural/variant stem for canonicalization edges: aliases whose stem
    * matches collapse into one entity (e.g. "tables" ↔ "table"). A stand-in
    * for the reference's trained-similarity canonicalization, fully
    * deterministic.
    */
  def stem(c: Column) =
    when(length(c) > 3 && c.endsWith("s"), c.substr(lit(1), length(c) - 1)).otherwise(c)

  /** Stem-variant edges of an alias dictionary (alias, entity_id):
    * entity ↔ entity of its stemmed alias when both exist, SELF-MATCHES
    * EXCLUDED — stem(a) == a for every non-plural alias, so without the
    * filter the edge set carries a self-edge per dictionary entry and CC's
    * vertex set becomes the whole Heaps-large dictionary instead of the
    * much smaller variant subgraph (review finding; `canonicalize` restores
    * singletons with a left-join coalesce). The stem self-join stays a
    * shuffle join deliberately: at 100 TB the dictionary is Heaps-large on
    * BOTH sides.
    */
  private def variantEdges(d: DataFrame): DataFrame = {
    val stemmed = d.select(col("entity_id").as("src_id"), stem(col("alias")).as("stem"))
    val byStem = d.select(col("alias").as("stem_alias"), col("entity_id").as("dst_id"))
    stemmed
      .join(byStem, col("stem") === col("stem_alias"))
      .filter(col("src_id") =!= col("dst_id"))
      .select(col("src_id").as("src"), col("dst_id").as("dst"))
  }

  /** The canonical id of every entity of an alias dictionary, as
    * (alias, entity_id, canonical_id): CC runs on the stem-variant edges
    * only, and every entity outside them keeps its own id through one
    * left-join coalesce. `ckptDir` makes CC's rounds durable
    * (`ConnectedComponents.run`).
    */
  private def canonicalize(dict: DataFrame, ckptDir: Option[String]): DataFrame = {
    val d = dict.select(col("alias"), col("entity_id"))
    val cc = ConnectedComponents.run(variantEdges(d), ckptDir = ckptDir)
    d.join(cc, d("entity_id") === cc("id"), "left")
      .select(d("alias"), d("entity_id"), coalesce(cc("component"), d("entity_id")).as("canonical_id"))
  }

  /** Endpoint frequencies `(alias, freq)` of a (subj, obj) frame, each row
    * weighted by `weight` (1 per triple, or a pair table's count `n`). Each
    * row is EXPLODED into its two endpoints, so a triple with subj == obj
    * counts that surface twice. The union of two projections would scan the
    * leaf twice and plan two aggregation arms — and exchange reuse did not
    * dedupe across checkpoint leaves (measured: every broadcast subtree built
    * per-reference), so single-reference plans are the reliable form.
    */
  private def endpointCounts(pairs: DataFrame, weight: Column): DataFrame =
    pairs.select(explode(array(col("subj"), col("obj"))).as("alias"), weight.as("w"))
      .groupBy("alias").agg(sum("w").as("freq"))

  /** The surfaces of `pairs` that pass is_ok_sdp rule 1, as column `__vs`. */
  private def vocabulary(pairs: DataFrame, weight: Column): DataFrame =
    endpointCounts(pairs, weight).filter(col("freq") >= vocabMinCount).select(col("alias").as("__vs"))

  /** The rows of `df` whose subj and obj are both in `vocab`. By-name: each
    * semi-join side gets a FRESH structurally-identical plan instance — fresh
    * instances canonicalize equal and ReuseExchange collapses them to one
    * build, while referencing the same val twice defeats the reuse
    * (measured on the dictionary-broadcast pair of the in-memory job).
    */
  private def inVocab(df: DataFrame, vocab: => DataFrame): DataFrame =
    df.join(vocab, col("subj") === col("__vs"), "left_semi")
      .join(vocab, col("obj") === col("__vs"), "left_semi")

  /** @param broadcastMaxDictRows dictionary-side row bound for the entity
    *   joins, compared against the committed alias dictionary's row count
    *   (see `defaultBroadcastMaxDictRows`).
    */
  def run(spark: SparkSession, sfDir: String, runDir: String,
          whitelistMinCount: Long = 3,
          broadcastMaxDictRows: Long = defaultBroadcastMaxDictRows): DataFrame = {
    val log = new StageLog(spark, runDir)

    // every candidate triple of the corpus, with its path signature
    val candidates = log.runStage("candidates") {
      Extract.triplesFused(Corpus.rawDocuments(spark, sfDir)).toDF()
    }
    // a candidates table committed before the kernel emitted `sig` would
    // resume into an analysis error deep inside `triples`; the manifest
    // alone (no Spark job) tells
    if (!log.snapshot("candidates").schema.fieldNames.contains("sig"))
      sys.error(s"stage candidates in run directory $runDir has no sig column: it was " +
        "committed by an older extraction; delete the run directory and rerun")

    val triples = log.runStage("triples") {
      // whitelist + vocab gates stay DataFrames end-to-end: no corpus-derived
      // dictionary is ever collected to the driver (its size grows with the
      // corpus — the classic driver-heap bottleneck at 100×). AQE turns these
      // semi-joins into broadcast joins while the dictionaries are small.
      inVocab(Extract.whitelisted(candidates, whitelistMinCount), vocabulary(candidates, lit(1)))
        .drop("sig")
    }

    val aliasDict = log.runStage("alias_dict") {
      Linking.buildAliasDict(endpointCounts(triples, lit(1))).toDF()
    }

    // the dictionary's committed row count (from its snapshot manifest, no
    // job) decides all four entity joins below (canon is row-for-row the
    // dictionary, so the one count covers it too)
    val dictIsSmall = log.snapshot("alias_dict").rows <= broadcastMaxDictRows

    val linked = log.runStage("linked_triples") {
      val dict = aliasDict.select(col("alias"), col("entity_id"))
      lookup(lookup(triples, "subj", dict, "subj_id", dictIsSmall), "obj", dict, "obj_id", dictIsSmall)
        .select(col("doc_id"), col("span_idx"), col("pred"), col("score"),
          col("subj"), coalesce(col("subj_id"), lit(Linking.OovEntityId)).as("subj_id"),
          col("obj"), coalesce(col("obj_id"), lit(Linking.OovEntityId)).as("obj_id"))
    }

    // the ENTITY table partitions by an entity-id hash bucket (the Iceberg
    // `bucket(N, entity_id)` transform restated as a partition column) —
    // point lookups and canonical-id joins prune to one bucket directory
    // instead of scanning the table, and the hash spreads write volume
    // evenly where raw entity_id would make one directory per entity
    val canon = log.runStage("entity_canon", partitionBy = Seq("entity_bucket")) {
      // CC rounds checkpoint durably inside the run dir: a mid-CC kill
      // resumes from the last committed labels instead of restarting
      canonicalize(aliasDict, Some(s"$runDir/cc"))
        .select(col("entity_id"), col("canonical_id"),
          pmod(hash(col("entity_id")), lit(Linking.entityBuckets)).as("entity_bucket"))
    }

    log.runStage("canonical_triples", partitionBy = Seq("pred")) {
      // entity_bucket is a partition-layout column: projected away before
      // the joins, it is neither dead broadcast payload nor an ambiguous
      // duplicate in the joined frame
      val c = canon.select(col("entity_id"), col("canonical_id"))
      lookup(lookup(linked, "subj_id", c, "subj_canon", dictIsSmall), "obj_id", c, "obj_canon", dictIsSmall)
        .select(
          coalesce(col("subj_canon"), col("subj_id")).as("subj_id"),
          col("pred"),
          coalesce(col("obj_canon"), col("obj_id")).as("obj_id"),
          col("subj"), col("obj"), col("doc_id"), col("span_idx"), col("score"))
    }
  }

  /** The docs→canonical-triples dataflow WITHOUT durable stage commits —
    * the scaling-benchmark job (BENCH.md "pipeline pair"). Same kernel, the
    * same dictionary side and the same entity joins as `run`: fused
    * extraction → corpus-derived vocabulary gate (shuffle agg + semi-joins)
    * → alias dictionary (shuffle agg + range-partitioned rank) →
    * connected-components canonicalization (iterative shuffle) → entity-link
    * + canonical join. TableIO is deliberately absent so the measurement
    * scales the ENGINE's shuffle-bearing stages, not the local filesystem.
    * It applies no signature whitelist, so it equals
    * `run(whitelistMinCount = 1)` row for row (ResumeSpec).
    *
    * @param broadcastMaxDictRows `run`'s bound, compared against the
    *   vocabulary's row count (the gated dictionary is a subset of the
    *   vocabulary, so this bounds it from above): at or below it the
    *   vocabulary semi-joins and both entity joins broadcast; above it the
    *   entity joins are salted and the semi-joins left to AQE. The benchmark
    *   keeps the broadcast form — its dictionary is bounded by the synthetic
    *   vocabulary.
    */
  def canonicalTriplesInMemory(docs: Dataset[(Long, String)],
                               broadcastMaxDictRows: Long = defaultBroadcastMaxDictRows): DataFrame = {
    // Pass economy at 10^12 rows — two corpus-scale passes, NOTHING
    // corpus-scale is materialized:
    //   pass 1: fused extraction → (subj, obj) PAIR aggregation. Map-side
    //           partial aggregation means the shuffle carries per-task
    //           distinct pairs, and the result is Heaps-bounded (distinct
    //           surface pairs), not corpus-sized. Every dictionary stage
    //           below derives from this small table.
    //   pass 2: fused extraction again → two broadcast joins → output.
    // An earlier revision cached the full triple stream and scanned it three
    // times; measured on this machine the columnar cache round-trip
    // (compress + decompress + string materialization) costs MORE memory
    // bandwidth than re-running the allocation-lean kernel, and its CPU
    // inflates 2-2.7× with core count while the kernel's stays flat
    // (BENCH.md). Recompute-over-cache is also the 100 TB-honest choice: the
    // production `run` gets pass economy from durable TableIO parquet
    // commits instead.
    // localCheckpoint (not persist): the pair table is the lineage boundary
    // between the corpus-scale pass and a dozen dictionary-sized actions —
    // as a LogicalRDD leaf each of those actions analyzes/optimizes a
    // few-node plan, while behind a persist every action re-plans the whole
    // corpus subtree (~1-1.5 s of driver time per rep, measured; a pure
    // serial cost the scaling pair would mis-attribute to the engine)
    val pairCounts = Extract.triplesFused(docs).toDF()
      .groupBy("subj", "obj").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true)

    // (B) is_ok_sdp rule 1 input: corpus-wide endpoint frequencies —
    // dictionary-sized rollup of the pair table, weighted by n (a triple
    // with subj==obj still counts that surface twice, as in `run`). The
    // vocabulary is referenced by two broadcast builds (one per semi-join
    // side); checkpointed once so each build scans the tiny leaf instead of
    // re-aggregating the pair table. The checkpoint is LAZY and the job
    // that materializes it also counts its rows: the bound's one row count,
    // at no job of its own (`Dataset.count()` would plan an aggregate with a
    // shuffle of its own over the leaf: one more job per call).
    val vocab = vocabulary(pairCounts, col("n")).localCheckpoint(eager = false)
    val small = vocab.queryExecution.toRdd.count() <= broadcastMaxDictRows

    // (C) alias frequency over the GATED stream (matches `run`: the
    // dictionary ranks what survives the vocab gate), computed from gated
    // PAIRS weighted by n — identical multiset to re-scanning the stream.
    // Explicit broadcast: vocab sits behind the checkpoint boundary, so the
    // planner has no stats; unhinted this degrades to shuffle joins — which
    // is exactly the right plan beyond the bound (both join sides are
    // dictionary-sized there, and AQE picks the strategy from runtime stats)
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val gatedCounts = endpointCounts(inVocab(pairCounts, hinted(vocab.select(col("__vs")))), col("n"))
      .localCheckpoint(eager = true)
    val aliasDict = Linking.buildAliasDict(gatedCounts).toDF()
      .localCheckpoint(eager = true)

    // Compose canonicalization INTO the dictionary (dictionary-sized join)
    // instead of joining it onto the linked triple stream: the 10^12-row
    // stream is probed TWICE total (subj leg, obj leg) rather than four
    // times. Row-equal to the staged gate→link→canon composition of `run`:
    // subj_id = canon[dict[subj]] (dict hits never need the OOV fallback
    // after the gate), and the vocab gate itself is equivalent to inner-join
    // membership in the gated dictionary — an alias is in that dictionary
    // iff it survives the gate in some triple, and a triple survives iff
    // BOTH its endpoints are in-vocab.
    val dictCanon = canonicalize(aliasDict, None).select(col("alias"), col("canonical_id"))

    // (D) output pass: re-extract, then gate + link + canonicalize in one
    // narrow stage. Default: two broadcast hash joins. The per-side form pays
    // two broadcast builds of the dictionary-sized table; a shared-subtree
    // form that reuses one build was MEASURED SLOWER overall (pass-2 task CPU
    // +30% — the extra mid-join projection and relation dedup outweigh one
    // small build), so two builds it is. The vocab gate is the not-null
    // filter (a surface is in the gated dictionary iff the lookup found it);
    // Catalyst turns each left join back into an inner one.
    lookup(lookup(Extract.triplesFused(docs).toDF(), "subj", dictCanon, "subj_id", small),
      "obj", dictCanon, "obj_id", small)
      .filter(col("subj_id").isNotNull && col("obj_id").isNotNull)
      .select(col("subj_id"), col("pred"), col("obj_id"),
        col("subj"), col("obj"), col("doc_id"), col("span_idx"), col("score"))
  }

  /** Entity table for the emitted graph: canonical id per alias. */
  def entityTable(spark: SparkSession, runDir: String): DataFrame = {
    val log = new StageLog(spark, runDir)
    val dict = log.runStage("alias_dict")(sys.error("alias_dict must be committed"))
    val canon = log.runStage("entity_canon")(sys.error("entity_canon must be committed"))
    dict.join(canon, Seq("entity_id"), "left")
      .select(col("alias"), col("entity_id"),
        coalesce(col("canonical_id"), col("entity_id")).as("canonical_id"),
        col("freq"))
  }
}
