package graft

import graft.canon.ConnectedComponents
import graft.functions.Ranks
import graft.link.Linking
import graft.model.Triple
import graft.pipeline.KgPipeline
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, MapPartitionsExec, QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ObjectType
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Physical-plan quality gates: pushdown, pruning, join strategy, and the
  * absence of single-partition windows — asserted, not eyeballed. These are
  * the properties that decide whether a plan survives a 100× scale-up, so
  * they are pinned here the way row values are pinned by the oracle gate.
  */
class PlanQualitySpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** Plan after execution — AQE's final plan, with codegen annotations.
    * (collect(), not count(): count wraps the frame in a new query and the
    * original plan would never run.)
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filters reach the parquet scan (PushedFilters)") {
    // q07's l_quantity > 45 must be pushed into the lineitem scan
    val p = plan("q07_semi_join")
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(l_quantity"),
      s"expected pushed filter on l_quantity, got:\n$p")
  }

  test("column pruning reaches the scan (ReadSchema)") {
    // q02's aggregate needs only `text` — the scan must read exactly that
    val p = plan("q02_token_freq")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("ReadSchema: struct<text:string>"),
      s"expected text-only documents scan, got: $read")
    // q01 reads only the 5 lineitem columns it aggregates
    val p1 = plan("q01_pricing_agg")
    val read1 = p1.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
      .forall(read1.contains) && !read1.contains("l_comment"),
      s"expected 5-column lineitem scan, got: $read1")
  }

  test("dimension joins broadcast; fact side never broadcasts") {
    val p = plan("q10_join_chain")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims in q10:\n$p")
  }

  test("vocabulary ranking plans carry no single-partition window") {
    // the round-1 scale-killer: a Window with an empty partition spec funnels
    // all rows through one task. Inspect the plan TREE, not its string —
    // WindowExec prints as "Window" and omits empty partition specs from
    // argString, so string assertions are vacuous (ADVICE round 2). The
    // pre-AQE sparkPlan is the right tree: window placement is decided before
    // adaptive re-planning, and AdaptiveSparkPlanExec hides its children from
    // collect().
    for (q <- Seq("q03_vocab_rank", "q04_unigram_ppm", "q05_dict_join_oov",
      "q27_weighted_sample", "q29_power_smooth", "q30_important_vocab",
      "q37_vocab_specials", "q45_seeded_shuffle")) {
      val sp = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val windows = sp.collect { case w: WindowExec => w }
      // Ranks plans no window (its sorted pass numbers each partition's rows
      // from the partition offsets); the invariant is that EVERY window a
      // query plans is partitioned
      val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
      assert(unpartitioned.isEmpty,
        s"single-partition WindowExec in $q:\n${unpartitioned.mkString("\n")}")
    }
  }

  test("the single-partition window detector is not vacuous") {
    // negative control: a deliberate global Window.orderBy must trip it
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(10).toDF("id")
      .withColumn("rn", row_number().over(Window.orderBy("id")))
    val ws = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(ws.nonEmpty && ws.exists(_.partitionSpec.isEmpty),
      "detector failed to flag a global window")
  }

  test("whole-stage codegen covers the extraction-adjacent relational ops") {
    // codegen stages render as "*(n)" prefixes in the executed plan
    val p = finalPlan("q01_pricing_agg")
    assert(p.contains("*(1)") && p.contains("*(2)"),
      s"expected whole-stage codegen spans across scan+agg in q01:\n$p")
  }

  test("brute-force similarity broadcasts the query side") {
    val p = plan("q21_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast query side in q21:\n$p")
  }

  /** Children as executed, looking through AQE's wrapper and query stages
    * and into an executed command.
    */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  /** The fused extraction kernel: the operator that emits `Triple` objects. */
  private def isKernel(p: SparkPlan): Boolean = p match {
    case m: MapPartitionsExec => m.outputObjAttr.dataType == ObjectType(classOf[Triple])
    case _ => false
  }

  private def runsKernel(p: SparkPlan): Boolean = isKernel(p) || kids(p).exists(runsKernel)

  /** The nodes from the root down to the kernel: the path its triple stream
    * travels, without the dictionary-side subtrees.
    */
  private def streamPath(p: SparkPlan): Seq[SparkPlan] =
    if (isKernel(p)) Seq(p) else p +: kids(p).find(runsKernel).map(streamPath).getOrElse(Nil)

  /** The executed in-memory job's entity joins: the joins on the stream path. */
  private def streamJoins(broadcastMaxDictRows: Long): (Seq[SparkPlan], Seq[BaseJoinExec]) = {
    val df = KgPipeline.canonicalTriplesInMemory(rawDocs, broadcastMaxDictRows)
    df.collect()
    val path = streamPath(df.queryExecution.executedPlan)
    assert(path.exists(isKernel), s"no extraction kernel in the plan:\n${df.queryExecution.executedPlan}")
    (path, path.collect { case j: BaseJoinExec => j })
  }

  test("in-memory output pass: two broadcast joins on the unshuffled stream; salted joins key on __salt") {
    val (path, joins) = streamJoins(KgPipeline.defaultBroadcastMaxDictRows)
    assert(joins.size == 2, s"expected two entity joins on the stream:\n${path.mkString("\n")}")
    joins.foreach {
      case b: BroadcastHashJoinExec => assert(b.buildSide == BuildRight, s"stream side broadcast:\n$b")
      case j => fail(s"entity join is not a broadcast hash join:\n$j")
    }
    val shuffles = path.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.isEmpty, s"the stream side is shuffled:\n${shuffles.mkString("\n")}")

    val (saltedPath, salted) = streamJoins(broadcastMaxDictRows = 0L)
    assert(salted.size == 2, s"expected two entity joins on the stream:\n${saltedPath.mkString("\n")}")
    salted.foreach { j =>
      assert(j.leftKeys.exists(_.references.exists(_.name == "__salt")) &&
        j.rightKeys.exists(_.references.exists(_.name == "__salt")),
        s"salted entity join without __salt in its keys:\n$j")
    }
  }

  /** Every node of an executed plan, looking through AQE. */
  private def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)

  /** The executed plans of the queries `body` runs: listener events arrive
    * asynchronously, so this waits (30 s at most) until `until` holds.
    */
  private def executedPlans(body: => Unit)(until: Seq[SparkPlan] => Boolean): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30e9.toLong
      while (!until(plans.asScala.toSeq) && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("run's link pass: two entity joins write linked_triples, canonical_triples is joinless") {
    // each endpoint is looked up once, in the entity table; the canonical
    // triples only project the committed linked_triples — on the broadcast
    // and the salted path. A fresh run writes each stage once and nothing else
    for (bound <- Seq(KgPipeline.defaultBroadcastMaxDictRows, 0L)) {
      val runDir = java.nio.file.Files.createTempDirectory("graft-linkplan").toString
      def written(p: SparkPlan): Option[String] =
        all(p).collectFirst { case w: DataWritingCommandExec => w.cmd }.collect {
          case i: InsertIntoHadoopFsRelationCommand if i.outputPath.toString.contains(s"$runDir/") =>
            i.outputPath.toString.split(s"$runDir/", 2)(1).takeWhile(_ != '/')
        }
      var result: DataFrame = null
      val plans = executedPlans {
        result = KgPipeline.run(spark, sfDir, runDir, broadcastMaxDictRows = bound)
      }(ps => KgPipeline.stages.forall(s => ps.exists(written(_).contains(s))))
      val tables = plans.flatMap(written)
      assert(tables.sorted == KgPipeline.stages.sorted, s"tables written at bound $bound: $tables")
      val linked = plans.find(written(_).contains("linked_triples")).get
      val joins = all(linked).collect { case j: BaseJoinExec => j }
      assert(joins.size == 2, s"expected two entity joins at bound $bound:\n$linked")
      joins.foreach { j =>
        if (bound > 0) assert(j.isInstanceOf[BroadcastHashJoinExec] &&
          j.asInstanceOf[BroadcastHashJoinExec].buildSide == BuildRight, s"not a stream-side broadcast:\n$j")
        else assert(j.leftKeys.exists(_.references.exists(_.name == "__salt")) &&
          j.rightKeys.exists(_.references.exists(_.name == "__salt")), s"salted join without __salt:\n$j")
      }
      val canonical = result.queryExecution.executedPlan
      assert(all(canonical).collect { case j: BaseJoinExec => j }.isEmpty,
        s"run's result joins at bound $bound:\n$canonical")
      val scans = all(canonical).collect { case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString) }
      assert(scans.size == 1 && scans.head.forall(_.contains(s"$runDir/linked_triples/data/")),
        s"run's result does not scan the linked_triples snapshot at bound $bound:\n$canonical")
    }
  }

  /** A CC round's `sym ⋈ labels` join: edge `src` against label `id`. */
  private def isEdgeJoin(p: SparkPlan): Boolean = p match {
    case j: BaseJoinExec => j.leftKeys.exists(_.references.exists(_.name == "src")) &&
      j.rightKeys.exists(_.references.exists(_.name == "id"))
    case _ => false
  }

  /** The executed plans of every query `body` runs. A marker query runs
    * last: once its plan arrives, every earlier one has.
    */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    def isMarker(p: SparkPlan) = p.output.map(_.name) == Seq("__done")
    executedPlans {
      body
      spark.range(1).toDF("__done").collect()
    }(_.exists(isMarker)).filterNot(isMarker)
  }

  /** The executed plans of the in-memory job's dictionary side on the
    * plural-variant fixture, which gives CC a non-empty edge set. Bound 0
    * keeps CC on its DataFrame path, whose rounds these cases inspect.
    */
  private lazy val pluralPlans: Seq[SparkPlan] =
    plansOf(KgPipeline.canonicalTriplesInMemory(rawDocs(pluralSfDir), broadcastMaxDictRows = 0L))

  test("a CC round plans two joins; the edge checkpoint reads its input once, without a Union") {
    // a round's own label rides sym's self-loop rows, so one sym ⋈ labels
    // join gives both labels and the pointer shortcut is the only other join
    val rounds = pluralPlans.filter(all(_).exists(isEdgeJoin))
    assert(rounds.nonEmpty, "no CC round ran a sym ⋈ labels join")
    rounds.foreach { r =>
      val joins = all(r).collect { case j: BaseJoinExec => j }
      assert(joins.size == 2 && joins.count(isEdgeJoin) == 1 &&
        joins.exists(_.leftKeys.exists(_.references.exists(_.name == "m"))),
        s"expected sym ⋈ labels and the shortcut join on m, got ${joins.size} joins:\n$r")
    }
    // the symmetrized edge checkpoint: the only (src, dst) action. Its edge
    // input, the stem-variant self-join, appears once
    val sym = pluralPlans.filter(_.output.map(_.name) == Seq("src", "dst"))
    assert(sym.size == 1, s"expected one edge checkpoint, got ${sym.size}")
    val unions = all(sym.head).collect { case u: UnionExec => u }
    val edgeInputs = all(sym.head).collect { case j: BaseJoinExec => j }
    assert(unions.isEmpty && edgeInputs.size == 1,
      s"${unions.size} unions and ${edgeInputs.size} reads of the edge input:\n${sym.head}")
  }

  test("a CC round's sym ⋈ labels join reads the edge table without an Exchange") {
    // Each round joins the symmetrized edges on src, which should read the
    // edge checkpoint in place.
    // Pending: the engine fails this today — under AQE the checkpoint leaf
    // reports UnknownPartitioning, so every round re-exchanges the edge table
    // (hash shuffle, then a broadcast at this size). `pendingUntilFixed` turns
    // into a failure once the rounds stop moving the edge table; drop it then.
    val joins = pluralPlans.flatMap(all).collect { case j: BaseJoinExec if isEdgeJoin(j) => j }
    assert(joins.nonEmpty, "no CC round ran a sym ⋈ labels join")
    pendingUntilFixed {
      val moved = joins.filter(j => all(j.left).exists(_.isInstanceOf[Exchange]))
      assert(moved.isEmpty, s"${moved.size} of ${joins.size} CC rounds move the edge table:\n${moved.mkString("\n")}")
    }
  }

  test("the alias dictionary ranks in one sorted pass: no nested-loop join, no window, four jobs") {
    // the dictionary and a bare Ranks call, each on an input with no shuffle
    // of its own: the range sample, the sort shuffle, the per-partition
    // (rows, sum) job, and the read of the result, which re-reads the sort
    // shuffle
    val counts = spark.range(0, 1000, 1, 4)
      .select(concat(lit("a"), col("id")).as("alias"), (col("id") % 7).as("freq"))
    val calls = Seq[(String, () => DataFrame)](
      "the dictionary rank" -> (() => Linking.buildAliasDict(counts).toDF()),
      "Ranks.globalRowNumber" -> (() => Ranks.globalRowNumber(counts, Seq(col("alias").asc), "rn")))
    for ((name, call) <- calls) {
      var jobs = Seq.empty[SparkListenerJobStart]
      val plans = plansOf { jobs = jobsDuring(call().collect())._2 }
      val banned = plans.flatMap(all).filter {
        case _: BroadcastNestedLoopJoinExec | _: WindowExec => true
        case _ => false
      }
      assert(banned.isEmpty, s"$name plans:\n${banned.mkString("\n")}")
      assert(jobs.size <= 4, s"$name ran ${jobs.size} jobs")
    }
  }

  test("a CC round's convergence count is one job with no query plan of its own") {
    val edges = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))).toDF("src", "dst")
    var jobs = Seq.empty[SparkListenerJobStart]
    val plans = plansOf { jobs = jobsDuring(ConnectedComponents.run(edges))._2 }
    val rounds = plans.count(all(_).exists(isEdgeJoin))
    assert(rounds >= 2, s"expected at least two CC rounds, got $rounds")
    // the queries are the edge checkpoint and one labels checkpoint per
    // round: no convergence aggregate, so no Exchange of its own
    assert(plans.size == rounds + 1, s"${plans.size} queries for $rounds rounds:\n${plans.mkString("\n")}")
    // the jobs outside a query: the edge count and one convergence job per round
    val planless = jobs.filter(j => Option(j.properties).forall(_.getProperty("spark.sql.execution.id") == null))
    assert(planless.size == rounds + 1, s"${planless.size} RDD jobs for $rounds rounds")
  }

  test("the in-memory job on the plural fixture runs at most 17 jobs") {
    // the dictionary side is a fixed serial term per call, paid job by job.
    // At the default bound CC is one edge collect on the driver, and 17 is
    // the measured count. At bound 0 CC runs its DataFrame rounds and the
    // entity joins are salted: 35 is that measured count, and it reads one
    // fewer when AQE plans round 1 of CC with one job fewer
    val docs: Dataset[(Long, String)] = rawDocs(pluralSfDir)
    for ((bound, most) <- Seq(KgPipeline.defaultBroadcastMaxDictRows -> 17, 0L -> 35)) {
      val (_, jobs) = jobsDuring(KgPipeline.canonicalTriplesInMemory(docs, bound).collect())
      assert(jobs.size <= most, s"canonicalTriplesInMemory ran ${jobs.size} jobs at bound $bound")
    }
  }

  test("canonicalize below the bound broadcasts the driver-side labels with broadcasts disabled") {
    // the labels are a local frame on the driver: without the hint a
    // disabled threshold plans the entity ⋈ labels join as a sort-merge join
    // and ships the labels inside its task binaries
    val dict = spark.createDataFrame(Seq("table" -> 0L, "tables" -> 1L, "chair" -> 2L, "chairs" -> 3L,
      "lamp" -> 4L)).toDF("alias", "entity_id")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val canon = KgPipeline.canonicalize(dict, None, small = true)
      val rows = canon.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(rows == Seq(("chair", 2L, 2L), ("chairs", 3L, 2L), ("lamp", 4L, 4L), ("table", 0L, 0L),
        ("tables", 1L, 0L)))
      val plan = canon.queryExecution.executedPlan
      val labelJoins = all(plan).collect {
        case j: BaseJoinExec if j.rightKeys.exists(_.references.exists(_.name == "id")) => j
      }
      assert(labelJoins.size == 1 && labelJoins.head.isInstanceOf[BroadcastHashJoinExec],
        s"the labels join is not a broadcast:\n$plan")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
