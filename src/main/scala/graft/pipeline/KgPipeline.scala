package graft.pipeline

import graft.canon.ConnectedComponents
import graft.ckpt.StageLog
import graft.corpus.Corpus
import graft.extract.Extract
import graft.link.Linking
import graft.link.Linking.lookup
import graft.tableio.TableIO
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The docs→canonical-triples job, in two entry points that share one
  * extraction kernel (`Extract.triplesFused`), one whitelist gate
  * (`Extract.whitelisted`), one dictionary side (`endpointCounts` feeds the
  * vocabulary gate and the alias dictionary, `canonicalize` gives every
  * alias its entity id and canonical id) and one link pass (`link`: one
  * `Linking.lookup` per endpoint). One `broadcastMaxDictRows` bound decides
  * both sides: at or below it the entity joins broadcast and CC runs on the
  * driver (`ConnectedComponents.onDriver`), above it the joins are salted
  * and CC is the iterative DataFrame job (`ConnectedComponents.run`):
  *
  *   docs → fused extraction (candidates with their path signature `sig`)
  *        → triples (whitelist + vocabulary gates)
  *        → alias dictionary
  *        → entity table (alias, entity_id, canonical_id; CC over
  *          alias-variant edges, on the driver at or below the bound)
  *        → link pass (each endpoint looked up once: entity + canonical id;
  *          the triple table, partitioned by predicate)
  *        → canonical triples (a projection of the link pass, no join)
  *
  * `run` is the shipped job: each of its five stages materializes via
  * TableIO (atomic snapshot whose manifest carries the per-partition
  * lineage and the stage's inputs), so a killed run resumes after its last
  * committed stage with byte-identical results, and a run directory
  * committed from other inputs fails before any job. Its result, the
  * canonical triples, is a projection of the committed `linked_triples`
  * scan, not a table of its own.
  * `canonicalTriplesInMemory` is the scaling-benchmark job: the same
  * dataflow without durable commits and without the whitelist gate, in a
  * different pass economy on purpose, so the two share no stage graph.
  */
object KgPipeline {

  val stages: Seq[String] = Seq(
    "candidates", "triples", "alias_dict", "entity_canon", "linked_triples")

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
    * left-join coalesce. `small` is the caller's `broadcastMaxDictRows`
    * decision: the edges are at most the dictionary's rows, so at or below
    * the bound CC runs on the driver (`ConnectedComponents.onDriver`) and
    * its labels, at most the dictionary's rows, join as a broadcast rather
    * than inside every task binary; above it CC is the iterative DataFrame
    * job, whose rounds `ckptDir` makes durable (`ConnectedComponents.run`).
    */
  private[graft] def canonicalize(dict: DataFrame, ckptDir: Option[String], small: Boolean): DataFrame = {
    val d = dict.select(col("alias"), col("entity_id"))
    val edges = variantEdges(d)
    val cc = if (small) broadcast(ConnectedComponents.onDriver(edges)) else ConnectedComponents.run(edges, ckptDir = ckptDir)
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

  /** The link pass of both jobs: looks `subj` and `obj` of `stream` up once
    * each in the entity table `entities` (alias, entity_id, canonical_id),
    * keyed on the alias with the struct (entity_id, canonical_id) as payload,
    * and adds `subj_id`, `subj_canon`, `obj_id`, `obj_canon` — all four null
    * for an endpoint the table misses.
    */
  private def link(stream: DataFrame, entities: DataFrame, small: Boolean): DataFrame = {
    val e = entities.select(col("alias"), struct(col("entity_id"), col("canonical_id")))
    lookup(lookup(stream, "subj", e, "__subj", small), "obj", e, "__obj", small)
      .select(stream.columns.map(col).toSeq ++ Seq(
        col("__subj.entity_id").as("subj_id"), col("__subj.canonical_id").as("subj_canon"),
        col("__obj.entity_id").as("obj_id"), col("__obj.canonical_id").as("obj_canon")): _*)
  }

  /** The canonical triples of a linked frame: endpoints as canonical ids. */
  private def canonicalTriples(linked: DataFrame): DataFrame =
    linked.select(col("subj_canon").as("subj_id"), col("pred"), col("obj_canon").as("obj_id"),
      col("subj"), col("obj"), col("doc_id"), col("span_idx"), col("score"))

  /** The stage format: bump it when a stage's columns or layout change. */
  private val format = "2"

  /** Each stage's inputs: its parameters and its upstream stages' fingerprints,
    * rooted at the format and the corpus listing, all known before any job.
    */
  private def stageInputs(sfDir: String, whitelistMinCount: Long): Map[String, Map[String, String]] = {
    def on(stage: String, inputs: Map[String, String]) = stage -> TableIO.fingerprint(inputs)
    val candidates = Map("format" -> format, "corpus" -> TableIO.listingFingerprint(s"$sfDir/documents.parquet"))
    val triples = Map(on("candidates", candidates), "whitelistMinCount" -> whitelistMinCount.toString)
    val aliasDict = Map(on("triples", triples))
    val entityCanon = Map(on("alias_dict", aliasDict))
    val linked = Map(on("triples", triples), on("entity_canon", entityCanon))
    Map("candidates" -> candidates, "triples" -> triples, "alias_dict" -> aliasDict,
      "entity_canon" -> entityCanon, "linked_triples" -> linked)
  }

  /** @param broadcastMaxDictRows dictionary-side row bound for CC's path
    *   and the entity joins, compared against the committed alias
    *   dictionary's row count (see `defaultBroadcastMaxDictRows`). It picks
    *   the plan, not the rows, so it is not a stage input.
    */
  def run(spark: SparkSession, sfDir: String, runDir: String,
          whitelistMinCount: Long = 3,
          broadcastMaxDictRows: Long = defaultBroadcastMaxDictRows): DataFrame = {
    val log = new StageLog(spark, runDir)
    val inputs = stageInputs(sfDir, whitelistMinCount)
    // from the manifests, before any job: a stage committed from another
    // corpus, parameter or format fails instead of resuming into wrong rows
    for (s <- stages) TableIO.resumable(log.stagePath(s), inputs(s), s"stage $s in run directory $runDir")
    def stage(name: String, partitionBy: Seq[String] = Nil)(compute: => DataFrame) =
      log.runStage(name, partitionBy, inputs(name))(compute)

    // every candidate triple of the corpus, with its path signature
    val candidates = stage("candidates") {
      Extract.triplesFused(Corpus.rawDocuments(spark, sfDir)).toDF()
    }

    val triples = stage("triples") {
      // whitelist + vocab gates stay DataFrames end-to-end: no corpus-derived
      // dictionary is ever collected to the driver (its size grows with the
      // corpus — the classic driver-heap bottleneck at 100×). AQE turns these
      // semi-joins into broadcast joins while the dictionaries are small.
      inVocab(Extract.whitelisted(candidates, whitelistMinCount), vocabulary(candidates, lit(1)))
        .drop("sig")
    }

    val aliasDict = stage("alias_dict") {
      Linking.buildAliasDict(endpointCounts(triples, lit(1))).toDF()
    }

    // the dictionary's committed row count (manifest, no job) decides CC's
    // path and both entity joins. The entity table is row-for-row the
    // dictionary, and the resume check guarantees both come from these
    // `triples`, so every endpoint is in it and no OOV default is needed.
    val dictIsSmall = log.snapshot("alias_dict").rows <= broadcastMaxDictRows

    // the ENTITY table (alias, entity_id, canonical_id), partitioned by an
    // entity-id hash bucket (the Iceberg `bucket(N, entity_id)` transform
    // restated as a partition column) — point lookups prune to one bucket
    // directory instead of scanning the table, and the hash spreads write
    // volume evenly where raw entity_id would make one directory per entity
    val entities = stage("entity_canon", partitionBy = Seq("entity_bucket")) {
      // above the bound CC rounds checkpoint durably inside the run dir: a
      // mid-CC kill resumes from the last committed labels instead of
      // restarting. Below it CC is one driver-side action with nothing to resume
      canonicalize(aliasDict, Some(s"$runDir/cc"), dictIsSmall)
        .withColumn("entity_bucket", pmod(hash(col("entity_id")), lit(Linking.entityBuckets)))
    }

    // the lookup reads the committed scan: built as alias_dict ⋈
    // entity_canon, Spark stopped broadcasting the salted table
    // (durable-zipf shuffle 0.38 → 1.6 MB). The TRIPLE table, partitioned by
    // predicate: a one-predicate read prunes to its directory
    val linked = stage("linked_triples", partitionBy = Seq("pred")) {
      link(triples, entities, dictIsSmall)
        .select(Seq("doc_id", "span_idx", "pred", "score", "subj", "subj_id", "obj", "obj_id",
          "subj_canon", "obj_canon").map(col): _*)
    }

    canonicalTriples(linked)
  }

  /** The docs→canonical-triples dataflow WITHOUT durable stage commits —
    * the scaling-benchmark job (BENCH.md "pipeline pair"). Same kernel, the
    * same dictionary side and the same entity joins as `run`: fused
    * extraction → corpus-derived vocabulary gate (shuffle agg + semi-joins)
    * → alias dictionary (shuffle agg + one sorted pass) →
    * connected-components canonicalization (one edge collect and a
    * union-find on the driver at or below the bound, the iterative shuffle
    * job above it) → link pass (one entity lookup per endpoint). TableIO is deliberately absent so the
    * measurement scales the ENGINE's shuffle-bearing stages, not the local
    * filesystem. It applies no signature whitelist, so it equals
    * `run(whitelistMinCount = 1)` row for row (ResumeSpec).
    *
    * @param broadcastMaxDictRows `run`'s bound, compared against the
    *   vocabulary's row count (the gated dictionary is a subset of the
    *   vocabulary, so this bounds it from above): at or below it the
    *   vocabulary semi-joins and both entity joins broadcast and CC runs on
    *   the driver; above it the entity joins are salted, the semi-joins left
    *   to AQE and CC is the iterative DataFrame job. The benchmark keeps the
    *   broadcast form — its dictionary is bounded by the synthetic
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
    // Recompute over cache, and a localCheckpoint rather than a persist for
    // the pair table (the dictionary side's actions then plan a few-node
    // tree, not the corpus subtree): both measured, BENCH.md "The job" and
    // "Serial floor".
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
    // shuffle of its own over the leaf: one more job per call). `small`
    // picks CC's path and the entity joins, as `run`'s `dictIsSmall` does.
    val vocab = vocabulary(pairCounts, col("n")).localCheckpoint(eager = false)
    val small = vocab.queryExecution.toRdd.count() <= broadcastMaxDictRows

    // (C) alias frequency over the GATED stream (matches `run`: the
    // dictionary ranks what survives the vocab gate), computed from gated
    // PAIRS weighted by n — identical multiset to re-scanning the stream.
    // Explicit broadcast: vocab sits behind the checkpoint boundary, so the
    // planner has no stats; unhinted this degrades to shuffle joins — which
    // is exactly the right plan beyond the bound (both join sides are
    // dictionary-sized there, and AQE picks the strategy from runtime stats).
    // No checkpoint on either: the dictionary's sorted pass reads the gated
    // counts once, and its RDD lineage starts at that pass's materialized
    // sort shuffle, so `canonicalize`'s three references to the dictionary
    // re-read shuffle blocks and recompute nothing upstream of them
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val gatedCounts = endpointCounts(inVocab(pairCounts, hinted(vocab.select(col("__vs")))), col("n"))
    val aliasDict = Linking.buildAliasDict(gatedCounts).toDF()

    // Compose canonicalization INTO the dictionary (dictionary-sized join)
    // instead of joining it onto the linked triple stream: the 10^12-row
    // stream is probed TWICE total (subj leg, obj leg) rather than four
    // times — the link pass `run` shares. The vocab gate itself is
    // equivalent to inner-join membership in the gated dictionary — an alias
    // is in that dictionary iff it survives the gate in some triple, and a
    // triple survives iff BOTH its endpoints are in-vocab. Below the bound
    // CC is one edge collect and a union-find on the driver: at the
    // benchmark's size that replaces ~15 round jobs over a handful of edges
    val entities = canonicalize(aliasDict, None, small)

    // (D) output pass: re-extract, then gate + link + canonicalize in one
    // narrow stage. Default: two broadcast hash joins. The per-side form pays
    // two broadcast builds of the dictionary-sized table; a shared-subtree
    // form that reuses one build was MEASURED SLOWER overall (pass-2 task CPU
    // +30% — the extra mid-join projection and relation dedup outweigh one
    // small build), so two builds it is. The vocab gate is the not-null
    // filter (a surface is in the gated dictionary iff the lookup found it);
    // Catalyst turns each left join back into an inner one.
    canonicalTriples(link(Extract.triplesFused(docs).toDF(), entities, small)
      .filter(col("subj_id").isNotNull && col("obj_id").isNotNull))
  }
}
