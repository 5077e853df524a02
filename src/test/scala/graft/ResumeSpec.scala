package graft

import graft.ckpt.StageLog
import graft.pipeline.KgPipeline
import graft.tableio.TableIO
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** TableIO snapshot semantics + checkpointed resumability (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  */
class ResumeSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** Evaluates `body` and counts the Spark jobs it started. Listener events
    * arrive asynchronously, so a tagged marker job runs after `body`: once
    * its start is seen, every earlier job start has been seen too.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime()}"
    val starts = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.marker"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.test.marker", marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!starts.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.contains(marker), "marker job start never reached the listener")
      (out, starts.size - 1)
    } finally sc.removeSparkListener(listener)
  }

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
    assert(jobs == 0, "manifest-backed reads and audit tables must not start a job")
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
    assert(snap.rows == 3 && snap.taskRows.exists(_.values.sum == 3L))
    val viaManifest = TableIO.read(spark, table)
    val inferred = spark.read.parquet(snap.dataDir)
    assert(snap.schema == inferred.schema && viaManifest.schema == inferred.schema)
    assert(viaManifest.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "score" -> "double", "entity_bucket" -> "int", "pred" -> "string"))
    assert(sortedRows(viaManifest) == sortedRows(inferred))
  }

  test("StageLog: a manifest without per-task row counts fails lineage, naming the stage") {
    val runDir = tmpDir("graft-oldmanifest")
    val log = new StageLog(spark, runDir)
    log.runStage("legacy_stage")(Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    // rewrite the manifest in the format that predates taskRows
    val manifest = Paths.get(log.stagePath("legacy_stage"), "snapshots", "v0.json")
    val old = Files.readString(manifest).replaceFirst(""""taskRows": \{[^}]*\}, """, "")
    assert(!old.contains("taskRows"))
    Files.writeString(manifest, old)
    assert(TableIO.readSnapshot(log.stagePath("legacy_stage"), 0).taskRows.isEmpty)
    val err = intercept[RuntimeException](log.lineage(Seq("legacy_stage")))
    assert(err.getMessage.contains("legacy_stage"))
    // the manifest's other fields still serve metrics and reads
    assert(log.metrics(Seq("legacy_stage")).first().getLong(1) == 2L)
    assert(TableIO.read(spark, log.stagePath("legacy_stage")).count() == 2L)
  }

  test("connected components: mid-run kill resumes from durable labels exactly") {
    import graft.canon.ConnectedComponents
    // a path graph (diameter > checkpoint interval) so convergence takes
    // several rounds and a mid-run kill leaves genuinely partial labels
    val n = 12L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val clean = ConnectedComponents.run(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(clean.forall(_._2 == 0L), "path graph collapses to component 0")

    // "kill" after 3 rounds (one durable checkpoint at round 2 with
    // checkpointEvery=2), then resume with the same ckptDir
    val ckpt = tmpDir("graft-cc")
    ConnectedComponents.run(edges, maxIter = 3, checkpointEvery = 2,
      ckptDir = Some(ckpt))
    assert(TableIO.currentVersion(s"$ckpt/cc_labels").isDefined,
      "durable label snapshot must exist after the partial run")
    val partial = TableIO.read(spark, s"$ckpt/cc_labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(partial.exists(_._2 != 0L), "partial run must not be converged yet")
    val resumed = ConnectedComponents.run(edges, checkpointEvery = 2,
      ckptDir = Some(ckpt)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(resumed == clean, "resumed CC must equal the clean run")
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
    for (stage <- Seq("alias_dict", "linked_triples", "entity_canon", "canonical_triples")) {
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
    // forcing broadcastMaxDictRows = 0 sends BOTH entity joins (link +
    // canonicalize) down the Linking.saltedLeftJoin path — the committed
    // canonical triples must equal the broadcast configuration's exactly
    val bDir = tmpDir("graft-salt-b")
    val sDir = tmpDir("graft-salt-s")
    val viaBroadcast = sortedRows(KgPipeline.run(spark, sfDir, bDir))
    val viaSalted = sortedRows(KgPipeline.run(spark, sfDir, sDir, broadcastMaxDictRows = 0L))
    assert(viaSalted == viaBroadcast)
    assert(viaBroadcast.nonEmpty)
    // and with CC edges present (the canonicalize joins salted too)
    assert(sortedRows(KgPipeline.run(spark, pluralSfDir, tmpDir("graft-salt-plural"),
      broadcastMaxDictRows = 0L)) == pluralRun._2)

    // every stage's audit agrees with its data, and reading the audit or the
    // data starts no job
    val log = new StageLog(spark, sDir)
    val stages = KgPipeline.stages
    val ((reads, lineage, metrics), jobs) = jobsDuring {
      (stages.map(s => TableIO.read(spark, log.stagePath(s))), log.lineage(stages), log.metrics(stages))
    }
    assert(jobs == 0, "manifest-backed reads and audit tables must not start a job")
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

  test("pipeline: run(whitelistMinCount = 1) equals canonicalTriplesInMemory (as a multiset)") {
    // the benchmarked in-memory job applies no signature whitelist; with the
    // gate opened, the shipped durable job must emit exactly its rows — on
    // sf0.001 and on the plural-variant fixture, where CC has edges
    val cols = Seq("subj_id", "pred", "obj_id", "subj", "obj", "doc_id", "span_idx", "score").map(col)
    for (dir <- Seq(sfDir, pluralSfDir)) {
      val durable = sortedRows(
        KgPipeline.run(spark, dir, tmpDir("graft-wl1"), whitelistMinCount = 1).select(cols: _*))
      val inMemory = sortedRows(KgPipeline.canonicalTriplesInMemory(rawDocs(dir)).select(cols: _*))
      assert(durable.nonEmpty, dir)
      assert(durable == inMemory, dir)
    }
  }

  test("pipeline: a candidates table committed without sig fails the resume, naming stage and run dir") {
    import graft.model.{PathStep, SdpCandidate}
    val runDir = tmpDir("graft-stale")
    // the candidates shape committed before the kernel emitted `sig`
    new StageLog(spark, runDir).runStage("candidates")(Seq(
      SdpCandidate("d000000001", 0, "cat", "mat", Array(PathStep("<X>", "nsubj", "NOUN")), "WIKI"))
      .toDS().toDF())
    val (err, jobs) = jobsDuring(intercept[RuntimeException](KgPipeline.run(spark, sfDir, runDir)))
    assert(err.getMessage.contains("stage candidates") && err.getMessage.contains(runDir),
      err.getMessage)
    assert(jobs == 0, "the schema check reads the manifest and starts no job")
    assert(!new StageLog(spark, runDir).isCommitted("triples"))
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
    // entity_canon: exactly one row per dictionary entity; each pair shares
    // its minimum entity_id, every other entity maps to itself
    val canonRows = TableIO.read(spark, log.stagePath("entity_canon"))
      .select("entity_id", "canonical_id").as[(Long, Long)].collect().toSeq
    assert(canonRows.map(_._1).sorted == dict.values.toSeq.sorted)
    val merged = pairs.flatMap { case (s, p) =>
      val m = math.min(dict(s), dict(p)); Seq(dict(s) -> m, dict(p) -> m)
    }.toMap
    val expected = dict.values.map(id => id -> merged.getOrElse(id, id)).toMap
    assert(canonRows.toMap == expected)
    // every canonical triple carries the canonical id of both its surfaces
    assert(out.exists(r => pairs.exists(_._2 == r.getAs[String]("subj"))))
    out.foreach { r =>
      assert(r.getAs[Long]("subj_id") == expected(dict(r.getAs[String]("subj"))), r)
      assert(r.getAs[Long]("obj_id") == expected(dict(r.getAs[String]("obj"))), r)
    }

    val entities = KgPipeline.entityTable(spark, runDir).cache()
    assert(entities.count() > 0)
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
    val canonTable = graft.tableio.TableIO.read(spark, s"$runDir/entity_canon")
    assert(canonTable.columns.contains("entity_bucket"))
    val bucketDirs = new java.io.File(s"$runDir/entity_canon/data")
      .listFiles().filter(_.getName.startsWith("snap-"))
      .flatMap(_.listFiles()).map(_.getName)
      .filter(_.startsWith("entity_bucket="))
    assert(bucketDirs.nonEmpty, "entity table must lay out bucket partition dirs")
    assert(canonTable.filter($"entity_bucket" === 0).count() < canonTable.count())
  }
}
