package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the step a dedup pipeline runs AFTER pair generation (LSH/SimHash give
  * near-dup PAIRS; choosing one canonical document per duplicate set needs
  * the transitive closure: components of the pair graph).
  *
  * Algorithm: every edge endpoint starts labeled with its own id; each
  * round every node takes the min of its own and its neighbors' labels,
  * then follows one hop of label indirection (pointer jumping:
  * label := label(label)), so convergence is logarithmic in component
  * diameter. Each round is a fixed number of narrow shuffles — the same
  * shape at 100 TB; this is the standard scale-out CC (vs driver-side
  * union-find, which would need the whole edge set on one machine).
  *
  * Iterative-plan hygiene: every per-round result is cut off with
  * `localCheckpoint` (lazy — the round's convergence count is the
  * materializing action, so a round is one job). A plain `cache()` leaves the logical
  * plan growing by one join+agg per round, and any cache miss or AQE
  * re-plan then re-derives the ENTIRE lineage — including the (expensive)
  * edge derivation — making later rounds slower instead of constant-cost
  * (observed: 5 s → 25 s per round before the checkpoint). On a durable
  * cluster `checkpoint()` to reliable storage is the fault-tolerant
  * variant; the loop structure is identical.
  *
  * The driver only orchestrates the loop and reads one COUNT per round for
  * the convergence check — no graph data ever reaches the driver.
  */
object ConnectedComponents {

  /** Labels each node with the minimum node id of its component.
    * `nodes`: one column `id`; `edges`: columns `src`, `dst` (any
    * orientation — symmetrized here). Returns (id, label).
    *
    * Only edge ENDPOINTS iterate: in a dedup corpus the pair graph is tiny
    * relative to the corpus (most documents are singletons), so propagating
    * labels over all nodes would shuffle the whole corpus once per round
    * for no information. Singletons are attached at the end with
    * label = id via one left join. */
  def components(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .localCheckpoint(true) // materialize the edge derivation exactly once
    var labels = sym.select($"src".as("id")).distinct()
      .select($"id", $"id".as("label")).localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // neighbor min: every node offers its label to its neighbors
      val prop = sym.join(labels, $"src" === $"id")
        .select($"dst".as("id"), $"label")
      val mins = labels.select($"id", $"label").union(prop)
        .groupBy($"id").agg(min($"label").as("label"))
      // pointer jumping: follow one hop of label indirection. Round 17
      // (guide §1.2): ONE materialization job per round instead of three —
      // `mins` is no longer its own checkpoint (its two references below
      // are identical subtrees whose exchange is reused at runtime), and
      // the convergence flag rides INSIDE the materialization (one extra
      // equi-join against the previous labels) so the per-round changed
      // count is a filter over already-materialized blocks, not a separate
      // shuffle-join job. Measured: q57's three rounds drop ~0.2 s each at
      // sf0.1; the fixpoint (min label per component) is path-independent,
      // so results are identical.
      val next = mins.as("x")
        .join(mins.select($"id".as("label"), $"label".as("label2")).as("y"),
          Seq("label"), "left")
        .select($"id", coalesce($"label2", $"label").as("label"))
        .join(labels.select($"id", $"label".as("prev")), "id")
        .select($"id", $"label", ($"label" < $"prev").as("chg"))
        .localCheckpoint(false) // lazy: the convergence count below is the
                                // materializing action — one job fewer/round
      changed = next.filter($"chg").count()
      labels = next.select($"id", $"label")
      it += 1
    }
    nodes.select($"id").join(labels, Seq("id"), "left")
      .select($"id", coalesce($"label", $"id").as("label"))
  }
}
