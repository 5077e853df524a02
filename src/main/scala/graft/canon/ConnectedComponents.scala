package graft.canon

import graft.tableio.TableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Connected-components canonicalizer, in two paths split by one bound.
  * The caller picks the path from the `broadcastMaxDictRows` bound that also
  * picks the entity joins (`Linking.lookup`), and both paths return the same
  * labels: every vertex's component is the minimum id reachable from it.
  *
  * Below the bound, `onDriver`: the edges are collected by one Dataset
  * action and a union-find on the driver labels them. The entity table built
  * from these labels is broadcast at that size anyway, so it passes through
  * the driver whatever CC does, and a fixed per-job cost no longer pays for
  * every round of a handful of edges (BENCH.md "Serial floor").
  *
  * Above the bound, `run`: the iterative DataFrame CC (north rule:
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
  * second job per round). Truncating every round keeps each round's plan a
  * constant-size three-leaf tree. The measured designs this supersedes —
  * `Dataset.observe` for the signal (`Observation.get` stalls ~2 s per round
  * on the listener bus), persist with truncation every few rounds, and an
  * eager per-round checkpoint — are in BENCH.md "Serial floor".
  *
  * Storage: the edge table is truncated once at entry by a lazy
  * `localCheckpoint` whose materializing job also fingerprints it (row
  * count, wrapping sum of a 64-bit hash per row); an empty edge set returns
  * empty labels with no round. A dead round's checkpoint blocks are freed
  * asynchronously by the ContextCleaner once the loop drops the reference
  * (they live outside the SQL cache, so `Dataset.unpersist` cannot free them).
  * Durability is a separate cadence: every `checkpointEvery` rounds the
  * labels also commit through TableIO when `ckptDir` is given, recording
  * the edge fingerprint as their inputs. A rerun with the same `ckptDir`
  * resumes from the last committed labels (hash-min is monotone and
  * idempotent, so resuming from any intermediate labeling is exact), and
  * labels committed over another graph fail through `TableIO.resumable`.
  * `KgPipeline.run` passes a directory whenever it takes this path.
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
    // one self-loop row per vertex. Left LAZY on purpose: re-derived inside
    // round 1's own job, where an eager materialization would be a whole
    // extra driver round-trip (BENCH.md "Serial floor")
    val initial = sym.filter(col("src") === col("dst")).select(col("src").as("id"), col("src").as("component"))
    // the job that materializes the edge checkpoint also fingerprints it
    // (row count, wrapping sum of each row's xxhash64); no edges means no
    // vertex, so there is nothing to label and no round to run
    val (rows, hash) = sym.queryExecution.toRdd
      .map(r => (1L, XXH64.hashLong(r.getLong(1), XXH64.hashLong(r.getLong(0), 42L))))
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    if (rows == 0L) return initial

    // resume from the last committed labels only over the graph they were
    // computed on: new vertices would never enter the rounds' joins, and
    // removed ones would persist with bogus components
    val table = ckptDir.map(d => s"$d/cc_labels")
    val inputs = Map("edge_rows" -> rows.toString, "edge_hash" -> hash.toString)
    var labels = table.filter(TableIO.resumable(_, inputs, "the CC labels table"))
      .fold(initial)(TableIO.read(edges.sparkSession, _))

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
          TableIO.commit(next.select("id", "component"), table.get, inputs = inputs)
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
        "convergence; returned labels may split components")
    labels
  }

  /** `run`'s labels, computed on the driver: one Dataset action collects the
    * edges, and a union-find whose root is always the smaller id gives every
    * vertex its component's minimum id. For edge sets the caller has bounded
    * to broadcast size (the entity joins' bound); there are no rounds, so
    * nothing to checkpoint or resume.
    *
    * @param edges DataFrame with two long columns `src`, `dst` (undirected).
    * @return a local DataFrame (id: long, component: long).
    */
  def onDriver(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = new mutable.LongMap[Long](2 * pairs.length)
    // path halving: every vertex on the way points to its grandparent
    def find(v: Long): Long = {
      var x = v
      var p = parent.getOrElseUpdate(x, x)
      while (p != x) {
        val gp = parent(p)
        parent(x) = gp
        x = gp
        p = parent(x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.map(v => (v, find(v))).toSeq.toDF("id", "component")
  }
}
