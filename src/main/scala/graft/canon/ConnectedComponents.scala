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
  * rounds (LinkCanonEvalSpec) instead of silently exhausting `maxIter` at
  * Θ(diameter), which plain hash-min would.
  *
  * Round cost: two joins, two aggregates and ONE convergence job per round.
  * The symmetrized edge table carries a self-loop per vertex, so one
  * `sym ⋈ labels` join grouped by `dst` yields both the vertex's own label
  * (its self-loop row) and the minimum over it and its neighbours; the
  * shortcut is one inner join on the previous round's labels. The round's
  * labels (plus a per-row `__chg` bit) are wrapped in a LAZY
  * `localCheckpoint(eager = false)` and materialized by the convergence
  * count: one RDD fold of `__chg` over the checkpoint's rows, so
  * materialization, lineage truncation and the exact count of changed labels
  * are one job (an action result, exactly-once under task retry; a
  * `sum(__chg)` aggregate would plan an exchange of its own and cost a
  * second job per round). Two designs this supersedes, both
  * measured: `Dataset.observe` for the convergence signal
  * (`Observation.get` stalls ~2 s per round on the listener bus); and
  * persist-per-round with truncation only every few rounds (each round's
  * plan references the PREVIOUS round's plan twice, hash-min push +
  * pointer shortcut, so between truncations the un-truncated logical
  * tree DOUBLED per round and driver analysis went exponential:
  * probe-measured at 4 cores, inter-job gaps 0.1→3.8 s and job times 0.3→6 s
  * across rounds 1-5 — a ~14 s fixed SERIAL term per pipeline rep, identical
  * at every parallelism level, that the N→4N scaling pair mis-attributed to
  * the engine; removing it cut a p4 pipeline rep 46.7→36.5 s). An EAGER
  * per-round checkpoint fixes the analysis cost too but pays a second
  * labels-sized job per round (the materializing job plus the convergence
  * scan) — a pure serial add-on heaviest at 1 core; the lazy form folds
  * truncation into the round's one job.
  *
  * Lineage/storage: the edge table is truncated once at entry by a lazy
  * `localCheckpoint` whose materializing job also counts its rows (an empty
  * edge set returns empty labels with no round), labels every round by the
  * lazy checkpoint above, so every round analyzes a constant-size
  * three-leaf plan. A dead round's
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

  /** Rounds between durable label commits when `ckptDir` is given. */
  private val checkpointEvery = 5

  /** @param edges DataFrame with two long columns `src`, `dst` (undirected).
    * @param ckptDir durable checkpoint/resume directory (TableIO table root).
    * @return DataFrame (id: long, component: long) — component = min reachable id.
    */
  def run(edges: DataFrame, maxIter: Int = 50, ckptDir: Option[String] = None): DataFrame = {
    // symmetrize once, with a self-loop per vertex, in one projection over
    // one scan of the edges; truncate lineage so no round re-plans the
    // upstream pipeline (on failure with ckptDir set, the caller's rerun
    // rebuilds sym from its own committed stage and resumes labels below)
    def arc(from: String, to: String) = struct(col(from).as("src"), col(to).as("dst"))
    val sym = edges
      .select(explode(array(arc("src", "dst"), arc("dst", "src"), arc("src", "src"), arc("dst", "dst"))).as("arc"))
      .select(col("arc.src"), col("arc.dst"))
      .distinct()
      .localCheckpoint(eager = false)
    val selfLoops = sym.filter(col("src") === col("dst"))
    // one self-loop row per vertex. Left LAZY on purpose: re-derived inside
    // round 1's own job, where an eager materialization would be a whole
    // extra driver round-trip (the per-job constant dominates
    // dictionary-sized stages; see BENCH.md serial-floor table)
    val initial = selfLoops.select(col("src").as("id"), col("src").as("component"))
    // the job that materializes the edge checkpoint also counts its rows; no
    // edges means no vertex, so there is nothing to label and no round to run
    if (sym.queryExecution.toRdd.count() == 0L) return initial

    val table = ckptDir.map(d => s"$d/cc_labels")
    var labels = table.filter(t => TableIO.currentVersion(t).isDefined) match {
      case Some(t) =>
        // resume from the last committed round's labels — guarded: a stale
        // table from an earlier attempt over a DIFFERENT edge set would
        // silently dictate the vertex set (new vertices never enter the
        // rounds' joins; removed ones persist with bogus components).
        // The count comparison is the cheap fingerprint; callers changing
        // the upstream graph must clear ckptDir (review finding). Both
        // counts run only on the rare resume path.
        val resumed = TableIO.read(edges.sparkSession, t)
        val vertices = selfLoops.count()
        val labelled = resumed.count()
        require(labelled == vertices,
          s"CC resume: committed labels at $t cover $labelled vertices but " +
            s"the edge set has $vertices — stale checkpoint from a different " +
            "graph; delete the ckptDir (or its upstream stage) and rerun")
        resumed
      case None => initial
    }

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // push each label to the neighbours and, by the self-loop, to the
      // vertex itself: its own label and m = min(label(v), min over
      // neighbours u of label(u)) come from one join and one aggregate
      val stepped = sym
        .join(labels, col("src") === col("id"))
        .groupBy(col("dst").as("id"))
        .agg(min(when(col("src") === col("dst"), col("component"))).as("component"),
          min(col("component")).as("m"))
      // pointer shortcut in the same round plan: follow m one more hop
      // through the PREVIOUS round's labels (one labels-sized join; the
      // O(log diameter) round count rests on it, see object doc). The join
      // is INNER and takes label(m) as-is by an invariant: every label is a
      // vertex id and label(v) ≤ v after every round, resumed labels
      // included (initially label(v) = v; a round sets
      // label(v) = label(m) ≤ m ≤ label(v)). So m always has a label, and
      // label(m) = min(m, label(m)) is the new one.
      val parent = labels.select(col("id").as("__pid"), col("component").as("__pcomp"))
      // LAZY checkpoint = plan truncation with NO job of its own — the
      // convergence count below materializes it (see object doc)
      val next = stepped
        .join(parent, col("m") === col("__pid"))
        .select(col("id"), col("__pcomp").as("component"),
          (col("__pcomp") < col("component")).cast("long").as("__chg"))
        .localCheckpoint(eager = false)
      // the round's single job: materializes the checkpoint AND returns
      // the number of labels that changed
      val changed = next.queryExecution.toRdd.map(_.getLong(2)).fold(0L)(_ + _)

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
