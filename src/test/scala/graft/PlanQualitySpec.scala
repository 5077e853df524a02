package graft

import graft.model.Triple
import graft.pipeline.KgPipeline
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
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
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q03_vocab_rank", "q04_unigram_ppm", "q05_dict_join_oov",
      "q27_weighted_sample", "q29_power_smooth", "q30_important_vocab",
      "q37_vocab_specials", "q45_seeded_shuffle")) {
      val sp = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val windows = sp.collect { case w: WindowExec => w }
      // Ranks' per-partition windows (partitioned by __pid) are the intended
      // scale-safe shape — the invariant is that EVERY window is partitioned
      val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
      assert(unpartitioned.isEmpty,
        s"single-partition WindowExec in $q:\n${unpartitioned.mkString("\n")}")
    }
  }

  test("the single-partition window detector is not vacuous") {
    // negative control: a deliberate global Window.orderBy must trip it
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
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

  /** Children as executed, looking through AQE's wrapper and query stages. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
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

  test("a CC round's sym ⋈ labels join reads the edge table without an Exchange") {
    // ConnectedComponents co-partitions the symmetrized edges by `src` before
    // checkpointing them, so each round's join on src should read that leaf
    // in place. The plural-variant fixture gives CC a non-empty edge set.
    // Pending: the engine fails this today — under AQE the checkpoint leaf
    // reports UnknownPartitioning, so every round re-exchanges the edge table
    // (hash shuffle, then a broadcast at this size). `pendingUntilFixed` turns
    // into a failure once the rounds stop moving the edge table; drop it then.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
    def edgeJoins: Seq[BaseJoinExec] = plans.asScala.toSeq.flatMap(all).collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "src")) &&
        j.rightKeys.exists(_.references.exists(_.name == "id")) => j
    }
    spark.listenerManager.register(listener)
    try {
      KgPipeline.canonicalTriplesInMemory(rawDocs(pluralSfDir))
      val deadline = System.nanoTime() + 30e9.toLong
      while (edgeJoins.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val joins = edgeJoins
    assert(joins.nonEmpty, "no CC round ran a sym ⋈ labels join")
    pendingUntilFixed {
      val moved = joins.filter(j => all(j.left).exists(_.isInstanceOf[Exchange]))
      assert(moved.isEmpty, s"${moved.size} of ${joins.size} CC rounds move the edge table:\n${moved.mkString("\n")}")
    }
  }
}
