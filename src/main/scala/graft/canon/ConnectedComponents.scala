package graft.canon

import graft.tableio.TableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative connected-components canonicalizer (north rule:
  * "connected-components-style iterative DataFrame self-join with checkpointed
  * convergence"). No GraphX dependency — pure DataFrame hash-min propagation:
  *
  *   label(v) ← min(label(v), min over neighbors u of label(u))
  *
  *   label(v) ← min(label(v), label(label(v)))        (pointer shortcut)
  *
  * repeated until a fixpoint. The shortcut step doubles label-pointer depth
  * per round, so convergence is O(log diameter) rounds — entity-synonym /
  * near-dup graphs are unions of small-diameter clusters (2-3 rounds), and
  * even an adversarial multi-thousand-node chain converges in ~a dozen
  * rounds (CanonSpec) instead of silently exhausting `maxIter` at
  * Θ(diameter), which plain hash-min would.
  *
  * Round cost (round-5 final form): ONE action per round, and BOTH the
  * materialization and the lineage truncation ride on it — the round's
  * labels (plus a per-row `__chg` bit) are wrapped in a LAZY
  * `localCheckpoint(eager = false)` and materialized by the single
  * `sum(__chg)` convergence aggregation. Two designs this supersedes, both
  * measured here: `Dataset.observe` for the convergence signal (round 2 —
  * `Observation.get` stalls ~2 s per round on the listener bus); and
  * persist-per-round with truncation only every `checkpointEvery` rounds
  * (rounds 3-4 — each round's plan references the PREVIOUS round's plan
  * TWICE, hash-min push + pointer shortcut, so between truncations the
  * un-truncated logical tree DOUBLED per round and driver analysis went
  * exponential: probe-measured at 4 cores, inter-job gaps 0.1→3.8 s and job
  * times 0.3→6 s across rounds 1-5 — a ~14 s fixed SERIAL term per pipeline
  * rep, identical at every parallelism level, that the N→4N scaling pair
  * mis-attributed to the engine; removing it cut a p4 pipeline rep
  * 46.7→36.5 s). An EAGER per-round checkpoint fixes the analysis cost too
  * but pays a second labels-sized job per round (the materializing job plus
  * the convergence scan) — a pure serial add-on heaviest at 1 core; the
  * lazy form folds truncation into the round's one job.
  *
  * Lineage/storage: the edge table is truncated once at entry
  * (`localCheckpoint`), labels every round by the lazy checkpoint above, so
  * every round analyzes a constant-size three-leaf plan. A dead round's
  * checkpoint blocks are labels-sized and freed asynchronously by the
  * ContextCleaner once the loop drops the reference (RDD-level checkpoint
  * blocks live outside the SQL cache, so `Dataset.unpersist` could not free
  * them anyway); the bench harness additionally clears all persistent RDDs
  * between reps. Durability is a separate cadence: every `checkpointEvery`
  * rounds the labels also commit through TableIO when `ckptDir` is given
  * (survives process loss; a rerun with the same `ckptDir` resumes from the
  * last committed labels — hash-min is monotone and idempotent, so resuming
  * from any intermediate labeling is exact). Production callers always pass
  * a directory.
  */
object ConnectedComponents {

  /** @param edges DataFrame with two long columns `src`, `dst` (undirected).
    * @param ckptDir durable checkpoint/resume directory (TableIO table root).
    * @return DataFrame (id: long, component: long) — component = min reachable id.
    */
  def run(edges: DataFrame, maxIter: Int = 50, checkpointEvery: Int = 5,
          ckptDir: Option[String] = None): DataFrame = {
    // symmetrize once; truncate lineage so no round re-plans the upstream
    // pipeline (on failure with ckptDir set, the caller's rerun rebuilds sym
    // from its own committed stage and resumes labels from the table below).
    // Co-partition by `src` BEFORE the checkpoint, meant to let every round's
    // sym⋈labels join read the edge table in place (the EDGE table is the
    // largest thing CC touches; per-round edge reshuffle is the classic
    // iterative-join scale-killer). Measured on Spark 4.1 with AQE, it does
    // not: the checkpoint leaf reports UnknownPartitioning, so each round
    // re-exchanges the edges (PlanQualitySpec's pending CC guard).
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(eager = true)

    val table = ckptDir.map(d => s"$d/cc_labels")
    var labels = table.filter(t => TableIO.currentVersion(t).isDefined) match {
      case Some(t) =>
        // resume from the last committed round's labels — guarded: a stale
        // table from an earlier attempt over a DIFFERENT edge set would
        // silently dictate the vertex set (new vertices never enter the
        // left-join rounds; removed ones persist with bogus components).
        // The count comparison is the cheap fingerprint; callers changing
        // the upstream graph must clear ckptDir (review finding). Both
        // counts run only on the rare resume path.
        val resumed = TableIO.read(edges.sparkSession, t)
        val vertices = sym.select(col("src")).distinct().count()
        val labelled = resumed.count()
        require(labelled == vertices,
          s"CC resume: committed labels at $t cover $labelled vertices but " +
            s"the edge set has $vertices — stale checkpoint from a different " +
            "graph; delete the ckptDir (or its upstream stage) and rerun")
        resumed
      case None =>
        // left LAZY on purpose: the init plan is one distinct over the sym
        // leaf, re-derived only inside round 1's own job — an eager
        // materialization here would be a whole extra driver round-trip per
        // CC invocation (the per-job constant dominates dictionary-sized
        // stages; see BENCH.md serial-floor table)
        sym.select(col("src").as("id")).distinct()
          .withColumn("component", col("id"))
    }

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // push each vertex's current label to its neighbors, keep the min
      val pushed = sym
        .join(labels, sym("src") === labels("id"))
        .groupBy(sym("dst").as("id"))
        .agg(min("component").as("cand"))
      val stepped = labels
        .join(pushed, Seq("id"), "left")
        .select(col("id"), col("component"),
          least(col("component"), coalesce(col("cand"), col("component"))).as("m"))
      // pointer-shortcut fused into the same round plan: follow the
      // candidate label one more hop through the PREVIOUS round's labels
      // (labels are always ids of reachable nodes, so composition stays
      // reachable and monotone). Plain hash-min needs Θ(diameter) rounds —
      // a 3 000-node chain would silently exhaust maxIter; with the
      // shortcut the label pointer depth doubles per round, so rounds are
      // O(log diameter) (CanonSpec pins a 3 000-chain inside 24 rounds).
      // Cost: one extra labels-sized join per round, not edge-sized.
      val parent = labels.select(col("id").as("__pid"), col("component").as("__pcomp"))
      // LAZY checkpoint = plan truncation with NO job of its own — the
      // convergence aggregation below materializes it (see object doc)
      val next = stepped
        .join(parent, col("m") === col("__pid"), "left")
        .select(stepped("id"),
          least(col("m"), coalesce(col("__pcomp"), col("m"))).as("component"),
          (least(col("m"), coalesce(col("__pcomp"), col("m"))) < stepped("component"))
            .cast("long").as("__chg"))
        .localCheckpoint(eager = false)
      // the round's single action: materializes the checkpoint AND returns
      // the number of labels that changed
      val changed = next.agg(coalesce(sum("__chg"), lit(0L))).first().getLong(0)

      val durable = table.isDefined && (iter + 1) % checkpointEvery == 0
      labels =
        if (durable) {
          // scan of the just-materialized checkpoint; the committed snapshot
          // is durable (resume point) — the checkpoint itself stays this
          // round's in-memory working set
          TableIO.commit(next.select("id", "component"), table.get)
          TableIO.read(edges.sparkSession, table.get)
        } else next.select("id", "component")
      converged = changed == 0L
      iter += 1
    }
    // exhausting maxIter returns the labels as-is (callers like the
    // ResumeSpec kill simulation rely on that), but never silently: members
    // of one component may still carry different canonical ids
    if (!converged)
      System.err.println(s"[cc] WARNING: maxIter=$maxIter exhausted before " +
        "convergence — returned labels may split components")
    labels
  }
}
