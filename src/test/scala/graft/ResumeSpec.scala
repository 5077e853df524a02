package graft

import graft.ckpt.StageLog
import graft.pipeline.KgPipeline
import graft.tableio.TableIO
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** TableIO snapshot semantics + checkpointed resumability (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  */
class ResumeSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** A default run over the plural-variant fixture (`pluralSfDir`):
    * its run directory and its sorted output.
    */
  private lazy val pluralRun: (String, Seq[org.apache.spark.sql.Row]) = {
    val runDir = tmpDir("graft-canon")
    (runDir, sortedRows(KgPipeline.run(spark, pluralSfDir, runDir)))
  }

  test("TableIO: atomic snapshot commit, read-back, versioning, time travel") {
    val table = tmpDir("graft-table")
    val s0 = TableIO.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)
    assert(s0.version == 0 && s0.rows == 2)
    val s1 = TableIO.commit(Seq((3L, "c")).toDF("id", "v"), table)
    assert(s1.version == 1 && TableIO.currentVersion(table).contains(1L))
    assert(TableIO.read(spark, table).collect().map(_.getLong(0)).toSet == Set(3L))
    assert(TableIO.readVersion(spark, table, 0).count() == 2)
    assert(TableIO.versions(table) == Seq(0L, 1L))
  }

  test("TableIO: partitioned commit prunes partitions at scan") {
    val table = tmpDir("graft-part")
    val df = Seq(("p1", 1L), ("p1", 2L), ("p2", 3L)).toDF("pred", "x")
    TableIO.commit(df, table, partitionBy = Seq("pred"))
    val scan = TableIO.read(spark, table).filter($"pred" === "p1")
    assert(scan.count() == 2)
    // partition pruning visible in the physical plan
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || scan.inputFiles.forall(_.contains("pred=p1")),
      s"expected pruned scan, got:\n$plan")
  }

  test("StageLog: stage skips recomputation once committed") {
    val runDir = tmpDir("graft-run")
    val log = new StageLog(spark, runDir)
    var computeCount = 0
    def runOnce() = log.runStage("s1") {
      computeCount += 1
      Seq((1L, "x")).toDF("id", "v")
    }
    runOnce(); runOnce(); runOnce()
    assert(computeCount == 1, "committed stage must not recompute")
    // lineage + metrics exist
    assert(log.lineage(Seq("s1")).agg(sum("rows")).first().getLong(0) == 1L)
    assert(log.metrics(Seq("s1")).select("rows").first().getLong(0) == 1L)
  }

  test("StageLog: lineage, metrics and reads come from manifests without a Spark job") {
    val runDir = tmpDir("graft-nojob")
    val log = new StageLog(spark, runDir)
    log.runStage("one")(spark.range(0, 100).toDF("id").repartition(1))
    log.runStage("thirteen")(spark.range(0, 1000).toDF("id").repartition(13))
    val stages = Seq("one", "thirteen")
    val ((reads, lineage, metrics), jobs) = jobsDuring {
      (stages.map(s => TableIO.read(spark, log.stagePath(s))), log.lineage(stages), log.metrics(stages))
    }
    assert(jobs.isEmpty, "manifest-backed reads and audit tables must not start a job")
    assert(reads.map(_.count()) == Seq(100L, 1000L))
    assert(lineage.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("stage" -> "string", "part_id" -> "int", "rows" -> "bigint"))
    val byStage = lineage.collect().groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    assert(byStage("one") == Map(0 -> 100L))
    assert(byStage("thirteen").keySet == (0 until 13).toSet)
    assert(byStage("thirteen").values.sum == 1000L)
    assert(metrics.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("stage" -> "string", "rows" -> "bigint", "version" -> "bigint"))
    assert(metrics.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("one", 100L, 0L), ("thirteen", 1000L, 0L)))
  }

  test("TableIO: manifest round-trips its fields, and the manifest schema equals the inferred read") {
    val table = tmpDir("graft-schema")
    // pred sits mid-row in the frame; both partition columns read back last
    val df = Seq((1L, "p1", 0.5, 3), (2L, "p2", 0.25, 3), (3L, "p1", 1.0, 7))
      .toDF("id", "pred", "score", "entity_bucket")
    val snap = TableIO.commit(df.repartition(2), table, partitionBy = Seq("entity_bucket", "pred"))
    assert(TableIO.readSnapshot(table, snap.version) == snap)
    assert(snap.rows == 3 && snap.taskRows.values.sum == 3L)
    // a zero-row commit with no inputs still writes both objects
    val emptyTable = tmpDir("graft-empty-manifest")
    val empty = TableIO.commit(df.limit(0), emptyTable)
    assert(TableIO.readSnapshot(emptyTable, 0) == empty && empty.rows == 0 && empty.inputs.isEmpty)
    // a manifest in the layout of the hand-written writer (spaced
    // separators, escaped quotes) reads back unchanged, so run directories
    // committed by it stay resumable
    val legacy = tmpDir("graft-legacy-manifest")
    val schema = StructType(Seq(StructField("id", LongType))).json
    Files.createDirectories(Paths.get(legacy, "snapshots"))
    Files.writeString(Paths.get(legacy, "snapshots", "v4.json"),
      s"""{"version": 4, "dataDir": "$legacy/data/snap-4", "rows": 5, "taskRows": {"0": 2, "3": 3}, """ +
        s""""schema": "${schema.replace("\"", "\\\"")}", "inputs": {"corpus": "a\\"b\\\\c", "format": "2"}}""")
    assert(TableIO.readSnapshot(legacy, 4) == TableIO.Snapshot(4, s"$legacy/data/snap-4", 5, schema,
      Map(0 -> 2L, 3 -> 3L), Map("corpus" -> "a\"b\\c", "format" -> "2")))
    val viaManifest = TableIO.read(spark, table)
    val inferred = spark.read.parquet(snap.dataDir)
    assert(snap.schema == inferred.schema && viaManifest.schema == inferred.schema)
    assert(viaManifest.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "score" -> "double", "entity_bucket" -> "int", "pred" -> "string"))
    assert(sortedRows(viaManifest) == sortedRows(inferred))
  }

  test("a manifest without taskRows fails its read, naming the manifest and the field") {
    val runDir = tmpDir("graft-oldmanifest")
    val log = new StageLog(spark, runDir)
    log.runStage("legacy_stage")(Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    // rewrite the manifest in the format that predates taskRows
    val manifest = Paths.get(log.stagePath("legacy_stage"), "snapshots", "v0.json")
    val old = Files.readString(manifest).replaceFirst(""""taskRows"\s*:\s*\{[^}]*\},\s*""", "")
    assert(!old.contains("taskRows"))
    Files.writeString(manifest, old)
    for (read <- Seq[() => Any](() => TableIO.readSnapshot(log.stagePath("legacy_stage"), 0),
      () => log.lineage(Seq("legacy_stage")), () => log.metrics(Seq("legacy_stage")),
      () => TableIO.read(spark, log.stagePath("legacy_stage")))) {
      val err = intercept[RuntimeException](read())
      assert(err.getMessage.contains(manifest.toString) && err.getMessage.contains("taskRows"), err.getMessage)
    }
  }

  test("connected components: mid-run kill resumes from durable labels exactly") {
    import graft.canon.ConnectedComponents
    // a 64-node path needs 7 rounds to converge, so a run cut at maxIter = 5
    // commits its durable labels at round 5 (the commit cadence) before they
    // have converged
    val n = 64L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val clean = ConnectedComponents.run(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(clean.forall(_._2 == 0L), "path graph collapses to component 0")

    // "kill" after 5 rounds, then resume with the same ckptDir
    val ckpt = tmpDir("graft-cc")
    ConnectedComponents.run(edges, maxIter = 5, ckptDir = Some(ckpt))
    assert(TableIO.currentVersion(s"$ckpt/cc_labels").isDefined,
      "durable label snapshot must exist after the partial run")
    val partial = TableIO.read(spark, s"$ckpt/cc_labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(partial.exists(_._2 != 0L), "partial run must not be converged yet")
    // labels committed over one graph never resume another with the same
    // vertex count: the path with its vertex ids permuted (37 is prime to 64)
    val permuted = (0L until n - 1).map(i => (i * 37 % n, (i + 1) * 37 % n)).toDF("src", "dst")
    val err = intercept[IllegalArgumentException](ConnectedComponents.run(permuted, ckptDir = Some(ckpt)))
    assert(err.getMessage.contains(s"$ckpt/cc_labels"), err.getMessage)
    val (resumed, jobs) = jobsDuring(ConnectedComponents.run(edges, ckptDir = Some(ckpt)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    assert(resumed == clean, "resumed CC must equal the clean run")
    // the resume check compares the fingerprint taken by the job that
    // materializes the edge checkpoint: it counts nothing of its own
    val counts = jobs.filter(_.stageInfos.exists(_.details.contains("count at ConnectedComponents.scala")))
    assert(counts.isEmpty, s"${counts.size} count jobs on the resume path")
  }

  test("pipeline: kill-and-resume reproduces the fresh-run result exactly") {
    val freshDir = tmpDir("graft-fresh")
    val resumeDir = tmpDir("graft-resume")

    val fresh = sortedRows(KgPipeline.run(spark, sfDir, freshDir))

    // simulate a kill after the 2nd stage: run only candidates+triples by
    // running the full pipeline into resumeDir, then deleting the downstream
    // stage commits (as if the job died before committing them)
    KgPipeline.run(spark, sfDir, resumeDir)
    import scala.reflect.io.Directory
    for (stage <- Seq("alias_dict", "linked_triples", "entity_canon")) {
      new Directory(new java.io.File(s"$resumeDir/$stage")).deleteRecursively()
    }
    val resumed = sortedRows(KgPipeline.run(spark, sfDir, resumeDir))
    assert(resumed == fresh, "resumed run must equal fresh run (as a multiset)")

    // all stages recorded lineage + metrics
    val log = new StageLog(spark, resumeDir)
    assert(KgPipeline.stages.forall(log.isCommitted))
    assert(log.metrics(KgPipeline.stages).count() == KgPipeline.stages.size)
    assert(log.lineage(KgPipeline.stages).count() >= KgPipeline.stages.size)
  }

  test("staged pipeline: salted-join degradation is row-equal to broadcast") {
    // forcing broadcastMaxDictRows = 0 sends BOTH entity joins (the subj and
    // the obj lookup) down the Linking.saltedLeftJoin path — the committed
    // canonical triples must equal the broadcast configuration's exactly
    val bDir = tmpDir("graft-salt-b")
    val sDir = tmpDir("graft-salt-s")
    val viaBroadcast = sortedRows(KgPipeline.run(spark, sfDir, bDir))
    val viaSalted = sortedRows(KgPipeline.run(spark, sfDir, sDir, broadcastMaxDictRows = 0L))
    assert(viaSalted == viaBroadcast)
    assert(viaBroadcast.nonEmpty)
    // and with CC edges present (canonical ids differ from entity ids)
    assert(sortedRows(KgPipeline.run(spark, pluralSfDir, tmpDir("graft-salt-plural"),
      broadcastMaxDictRows = 0L)) == pluralRun._2)

    // every stage's audit agrees with its data, and reading the audit or the
    // data starts no job
    val log = new StageLog(spark, sDir)
    val stages = KgPipeline.stages
    val ((reads, lineage, metrics), jobs) = jobsDuring {
      (stages.map(s => TableIO.read(spark, log.stagePath(s))), log.lineage(stages), log.metrics(stages))
    }
    assert(jobs.isEmpty, "manifest-backed reads and audit tables must not start a job")
    val lineageRows = lineage.groupBy("stage").agg(sum("rows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val metricRows = metrics.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((stage, data) <- stages.zip(reads)) {
      val n = data.count()
      assert(lineageRows(stage) == n && metricRows(stage) == n, s"row figures disagree for $stage")
      assert(data.schema == spark.read.parquet(log.snapshot(stage).dataDir).schema,
        s"manifest schema differs from the inferred one for $stage")
    }
  }

  /** The two sides of the dictionary bound: CC on the driver, CC as DataFrame rounds. */
  private val bounds = Seq(KgPipeline.defaultBroadcastMaxDictRows, 0L)

  test("pipeline: run(whitelistMinCount = 1) equals canonicalTriplesInMemory (as a multiset)") {
    // the benchmarked in-memory job applies no signature whitelist; with the
    // gate opened, the shipped durable job must emit exactly its rows — on
    // sf0.001 and on the plural-variant fixture, where CC has edges, on
    // both sides of the bound
    val cols = Seq("subj_id", "pred", "obj_id", "subj", "obj", "doc_id", "span_idx", "score").map(col)
    for (dir <- Seq(sfDir, pluralSfDir); bound <- bounds) {
      val durable = sortedRows(KgPipeline.run(spark, dir, tmpDir("graft-wl1"), whitelistMinCount = 1,
        broadcastMaxDictRows = bound).select(cols: _*))
      val inMemory = sortedRows(KgPipeline.canonicalTriplesInMemory(rawDocs(dir), bound).select(cols: _*))
      assert(durable.nonEmpty, s"$dir at bound $bound")
      assert(durable == inMemory, s"$dir at bound $bound")
    }
  }

  test("pipeline: a stage committed in an older format fails the resume before any job, naming stage and run dir") {
    import graft.model.{PathStep, SdpCandidate}
    // each stage as committed before it gained its newer columns: candidates
    // without `sig`, entity_canon without `alias`, linked_triples without
    // the canonical ids
    val stale = Seq(
      "candidates" -> Seq(
        SdpCandidate("d000000001", 0, "cat", "mat", Array(PathStep("<X>", "nsubj", "NOUN")), "WIKI"))
        .toDS().toDF(),
      "entity_canon" -> Seq((0L, 0L, 3)).toDF("entity_id", "canonical_id", "entity_bucket"),
      "linked_triples" -> Seq(("d000000001", 0, "rel", 0.5, "cat", 0L, "mat", 1L))
        .toDF("doc_id", "span_idx", "pred", "score", "subj", "subj_id", "obj", "obj_id"))
    for ((stage, old) <- stale) {
      val runDir = tmpDir("graft-stale")
      new StageLog(spark, runDir).runStage(stage)(old)
      val (err, jobs) = jobsDuring(intercept[RuntimeException](KgPipeline.run(spark, sfDir, runDir)))
      assert(err.getMessage.contains(s"stage $stage ") && err.getMessage.contains(runDir), err.getMessage)
      assert(jobs.isEmpty, s"the format check reads the $stage manifest and starts no job")
      assert(KgPipeline.stages.filter(new StageLog(spark, runDir).isCommitted) == Seq(stage))
    }
  }

  test("pipeline: a run directory from another whitelistMinCount or corpus fails the resume before any job") {
    val runDir = tmpDir("graft-stale-inputs")
    val log = new StageLog(spark, runDir)
    KgPipeline.run(spark, sfDir, runDir) // whitelistMinCount = 3
    val versions = KgPipeline.stages.map(s => TableIO.versions(log.stagePath(s)))
    // the same directory rerun with another parameter: `triples` was gated
    // at another count, so every stage from it on would be stale
    val (err1, jobs1) = jobsDuring(intercept[IllegalArgumentException](
      KgPipeline.run(spark, sfDir, runDir, whitelistMinCount = 1)))
    assert(err1.getMessage.contains("stage triples ") && err1.getMessage.contains("whitelistMinCount"),
      err1.getMessage)
    assert(jobs1.isEmpty, "the inputs check reads the manifests and starts no job")
    assert(KgPipeline.stages.map(s => TableIO.versions(log.stagePath(s))) == versions, "nothing recommitted")
    // a half-deleted directory rerun over another corpus: the kept
    // dictionary side does not know the plural surfaces, so resuming it
    // would link them to null ids
    import scala.reflect.io.Directory
    for (stage <- Seq("candidates", "triples", "linked_triples"))
      new Directory(new java.io.File(log.stagePath(stage))).deleteRecursively()
    val (err2, jobs2) = jobsDuring(intercept[IllegalArgumentException](KgPipeline.run(spark, pluralSfDir, runDir)))
    assert(err2.getMessage.contains("stage alias_dict ") && err2.getMessage.contains(": triples is") &&
      err2.getMessage.contains(runDir), err2.getMessage)
    assert(jobs2.isEmpty, "the inputs check reads the manifests and starts no job")
    assert(KgPipeline.stages.filter(log.isCommitted) == Seq("alias_dict", "entity_canon"))
    // a directory committed before the stage format changed (six stages, an
    // unpartitioned triple table): its `candidates` records format 1
    val oldDir = tmpDir("graft-stale-format")
    new StageLog(spark, oldDir).runStage("candidates", inputs = Map("format" -> "1",
      "corpus" -> TableIO.listingFingerprint(s"$sfDir/documents.parquet")))(Seq((1L, "x")).toDF("id", "v"))
    val (err3, jobs3) = jobsDuring(intercept[IllegalArgumentException](KgPipeline.run(spark, sfDir, oldDir)))
    assert(err3.getMessage.contains("stage candidates ") && err3.getMessage.contains(": format is 1"),
      err3.getMessage)
    assert(jobs3.isEmpty, "the inputs check reads the manifests and starts no job")
    assert(KgPipeline.stages.filter(new StageLog(spark, oldDir).isCommitted) == Seq("candidates"))
  }

  test("pipeline: an empty corpus and an all-gated run finish with no rows and a readable audit") {
    for ((dir, minCount) <- Seq((TestSpark.emptySfDir(sfDir), 3L), (sfDir, Long.MaxValue))) {
      val runDir = tmpDir("graft-empty")
      assert(KgPipeline.run(spark, dir, runDir, whitelistMinCount = minCount).count() == 0L, dir)
      val log = new StageLog(spark, runDir)
      val metrics = log.metrics(KgPipeline.stages).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val lineage = log.lineage(KgPipeline.stages).groupBy("stage").agg(sum("rows")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      for (stage <- KgPipeline.stages) {
        val rows = TableIO.read(spark, log.stagePath(stage)).count()
        assert(metrics(stage) == rows && lineage.getOrElse(stage, 0L) == rows, s"$stage of $dir")
        // the all-gated run extracts candidates; the whitelist drops them all
        assert((rows > 0) == (stage == "candidates" && minCount == Long.MaxValue), s"$stage of $dir")
      }
    }
  }

  test("pipeline: a run killed at sampled job starts resumes to the fresh run's rows") {
    // the kill sweep, sampled to fit the suite: a listener cancels the k-th
    // job of `run` and every later one, so the run dies at or just after its
    // k-th job; rerunning over the same directory must give the fresh rows.
    // Swept on both sides of the bound; the CC rounds to sample run at bound 0
    val dir = pluralSfDir
    val sc = spark.sparkContext
    val fresh = bounds.map { bound =>
      val freshDir = tmpDir("graft-sweep")
      val (result, starts) = jobsDuring(KgPipeline.run(spark, dir, freshDir, broadcastMaxDictRows = bound))
      val rows = sortedRows(result)
      val ccStarts = starts.indices.map(_ + 1)
        .filter(k => starts(k - 1).stageInfos.exists(_.details.contains("ConnectedComponents.scala")))
      if (bound == 0L) assert(ccStarts.nonEmpty, "no job of the run started in ConnectedComponents")
      // every ninth job start, at bound 0 CC's first and last, never the
      // run's last job (it may finish before its cancel lands)
      val ccSample = if (bound == 0L) Seq(ccStarts.head, ccStarts.last) else Nil
      val sample = ((1 until starts.size by 9) ++ ccSample).filter(_ < starts.size).distinct.sorted
      for (k <- sample) {
        val runDir = tmpDir("graft-sweep")
        val started = new AtomicInteger()
        val killer = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            if (started.incrementAndGet() >= k) sc.cancelJob(e.jobId, s"kill sweep from job start $k")
        }
        sc.addSparkListener(killer)
        val killed = try { KgPipeline.run(spark, dir, runDir, broadcastMaxDictRows = bound); false }
          catch { case _: Exception => true }
          finally sc.removeSparkListener(killer)
        assert(killed, s"the run outlived a kill from job start $k of ${starts.size} at bound $bound")
        assert(sortedRows(KgPipeline.run(spark, dir, runDir, broadcastMaxDictRows = bound)) == rows,
          s"the run killed from job start $k of ${starts.size} at bound $bound resumed to other rows")
      }
      rows
    }
    assert(fresh.distinct.size == 1, "the fresh runs at the two bounds differ")
  }

  test("pipeline: five docs over 50 shuffle partitions equal one partition, in both jobs") {
    // most of the 50 partitions of every shuffle, CC's edges and labels
    // included, are empty; AQE's coalescing is off so they stay empty
    val dir = TestSpark.firstDocsSfDir(pluralSfDir, 5)
    val cols = Seq("subj_id", "pred", "obj_id", "subj", "obj", "doc_id", "span_idx", "score").map(col)
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = conf.map(spark.conf.getOption)
    def outputs(partitions: Int, bound: Long) = {
      spark.conf.set(conf(0), partitions.toLong)
      spark.conf.set(conf(1), false)
      val runDir = tmpDir("graft-parts")
      val durable = sortedRows(KgPipeline.run(spark, dir, runDir, whitelistMinCount = 1,
        broadcastMaxDictRows = bound).select(cols: _*))
      val entities = TableIO.read(spark, s"$runDir/entity_canon")
      (durable, sortedRows(KgPipeline.canonicalTriplesInMemory(rawDocs(dir), bound).select(cols: _*)),
        entities.filter(col("canonical_id") =!= col("entity_id")).count())
    }
    for (bound <- bounds) {
      val (many, one) =
        try (outputs(50, bound), outputs(1, bound))
        finally conf.zip(saved).foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      assert(many._1.nonEmpty && many._3 > 0, s"the five docs give output rows and CC edges at bound $bound")
      assert(many._1 == many._2, s"run == in-memory at 50 partitions, bound $bound")
      assert(one._1 == one._2, s"run == in-memory at 1 partition, bound $bound")
      assert(many == one, s"50 partitions == 1 partition at bound $bound")
    }
  }

  test("pipeline emits canonicalized entities (plural variants merged)") {
    val (runDir, out) = pluralRun
    val pairs = TestSpark.pluralPairs
    // the fixture's plurals are nouns, so the extraction keeps them as endpoints
    pairs.foreach { case (_, p) => assert(graft.annotate.Annotator.posOf(p) == "NOUN", p) }
    val log = new StageLog(spark, runDir)
    val dict = TableIO.read(spark, log.stagePath("alias_dict"))
      .select("alias", "entity_id").as[(String, Long)].collect().toMap
    pairs.foreach { case (s, p) => assert(dict.contains(s) && dict.contains(p), s"$s/$p not in the dictionary") }
    // entity_canon is the entity table: exactly the dictionary's (alias,
    // entity_id) rows, each with its canonical id; each pair shares its
    // minimum entity_id, every other entity maps to itself
    val entities = TableIO.read(spark, log.stagePath("entity_canon")).cache()
    assert(entities.select("alias", "entity_id").as[(String, Long)].collect().sorted.toSeq ==
      dict.toSeq.sorted)
    val canonRows = entities.select("entity_id", "canonical_id").as[(Long, Long)].collect().toSeq
    val merged = pairs.flatMap { case (s, p) =>
      val m = math.min(dict(s), dict(p)); Seq(dict(s) -> m, dict(p) -> m)
    }.toMap
    val expected = dict.values.map(id => id -> merged.getOrElse(id, id)).toMap
    assert(canonRows.toMap == expected)
    // every linked triple carries the entity id and the canonical id of both
    // its surfaces, and every canonical triple the canonical ids
    val linked = TableIO.read(spark, log.stagePath("linked_triples"))
      .select("subj", "subj_id", "subj_canon", "obj", "obj_id", "obj_canon")
      .as[(String, Long, Long, String, Long, Long)].collect()
    assert(linked.length == out.size)
    linked.foreach { case l @ (subj, subjId, subjCanon, obj, objId, objCanon) =>
      assert(subjId == dict(subj) && subjCanon == expected(subjId), l)
      assert(objId == dict(obj) && objCanon == expected(objId), l)
    }
    assert(out.exists(r => pairs.exists(_._2 == r.getAs[String]("subj"))))
    out.foreach { r =>
      assert(r.getAs[Long]("subj_id") == expected(dict(r.getAs[String]("subj"))), r)
      assert(r.getAs[Long]("obj_id") == expected(dict(r.getAs[String]("obj"))), r)
    }

    // stems with both singular+plural present must share a canonical id
    val byStem = entities
      .withColumn("stem", KgPipeline.stem(col("alias")))
      .groupBy("stem")
      .agg(countDistinct("canonical_id").as("n_canon"), count(lit(1)).as("n"))
    assert(byStem.filter($"n" > 1).count() == pairs.size)
    val broken = byStem.filter($"n" > 1 && $"n_canon" =!= 1).count()
    assert(broken == 0, "plural/singular alias pairs must canonicalize together")

    // north-star layout: the entity table materializes partitioned by the
    // entity-id hash bucket (Iceberg bucket-transform analog) — the data
    // directory must carry entity_bucket= partition dirs, and a one-bucket
    // read must prune to that partition
    assert(entities.columns.contains("entity_bucket"))
    val bucketDirs = new java.io.File(s"$runDir/entity_canon/data")
      .listFiles().filter(_.getName.startsWith("snap-"))
      .flatMap(_.listFiles()).map(_.getName)
      .filter(_.startsWith("entity_bucket="))
    assert(bucketDirs.nonEmpty, "entity table must lay out bucket partition dirs")
    assert(entities.filter($"entity_bucket" === 0).count() < entities.count())
    // and the triple table partitioned by predicate: pred= dirs, and a
    // one-predicate read prunes to its directory
    val predDirs = new java.io.File(log.snapshot("linked_triples").dataDir).listFiles().map(_.getName)
      .filter(_.startsWith("pred="))
    assert(predDirs.length > 1, "triple table must lay out pred partition dirs")
    val triples = TableIO.read(spark, log.stagePath("linked_triples"))
    val onePred = triples.filter($"pred" === triples.select("pred").as[String].first())
    assert(onePred.collect().length < linked.length)
    val scan = onePred.queryExecution.executedPlan.collectFirst { case f: FileSourceScanExec => f }
    assert(scan.exists(s => s.partitionFilters.nonEmpty && s.metrics("numPartitions").value == 1),
      s"a one-predicate read must prune to one pred directory:\n${onePred.queryExecution.executedPlan}")
  }
}
