package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the step that
  * turns pairwise near-duplicate EDGES into dedup GROUPS (pick one canonical
  * doc per component).
  *
  * Each iteration is one hash-shuffle join + partial-min aggregation, so an
  * iteration costs O(|E|/cluster) with no driver-side data movement; the
  * driver only checks the scalar convergence count. Near-dup graphs have
  * tiny diameters (clusters of copies), so plain propagation converges in a
  * few rounds; for long-chain graphs `pointerJump = true` adds a
  * label-shortcut join per round (comp(v) := comp(comp(v))), doubling the
  * propagated reach each round — O(log d) rounds instead of O(d). */
object ConnectedComponents {

  /** edges: two long columns (src, dst). Returns (id, component) where
    * component = min vertex id reachable.
    *
    * CALLER CONTRACT (there is no internal `.distinct()`): `edges` is
    * expected to be UNIQUE pairs with src < dst — every in-repo caller's
    * edge set is (a<b)-deduped by construction. Correctness survives
    * violations (min-label propagation is multiset-safe, and symmetrization
    * happens inside), but duplicated or pre-symmetrized edges multiply
    * every round's join and shuffle volume for nothing. */
  def run(edges: DataFrame, maxIter: Int = 20, pointerJump: Boolean = false): DataFrame =
    runCounted(edges, maxIter, pointerJump)._1

  /** Same as [[run]] but also returns the number of rounds executed
    * (including the final no-change round that proves convergence). */
  def runCounted(edges: DataFrame, maxIter: Int = 20, pointerJump: Boolean = false): (DataFrame, Int) = {
    // materialize the (possibly expensive) edge pipeline once — the
    // symmetrization below references it twice
    val e = edges.toDF("src", "dst").persist()
    // no distinct: every caller's edge set is (a<b)-deduped by
    // construction, and the min-label aggregation is multiset-safe anyway
    // — a distinct would pay one full exchange of the edge set per run
    // for nothing
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // seed with the 1-hop minimum (min of self and direct neighbors) — one
    // propagation round folded into initialization
    var labels = sym
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("component"))
      .persist()
    var converged = false
    var iter = 0
    // empty edge set ⇒ sum(component) is NULL — return the (empty) labels
    // rather than NPE on getLong
    val firstRow = labels.agg(sum(col("component"))).first()
    if (firstRow.isNullAt(0)) {
      sym.unpersist(blocking = false)
      e.unpersist(blocking = false)
      return (labels, iter)
    }
    var labelSum = firstRow.getLong(0)
    while (!converged && iter < maxIter) {
      val neighborLabels = sym
        .join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      val prop = labels.select(col("id"), col("component"))
        .union(neighborLabels)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"))
      // the pointer-jump join is FOLDED into the same round's plan, so
      // each round pays ONE localCheckpoint job + ONE scalar aggregate
      // (materializing prop, aggregating it, then running jump as a
      // second checkpoint + aggregate would cost 4 blocking jobs per
      // jumped round instead of 2). `prop` appears as both jump sides; the
      // two subtrees are identical, so AQE's exchange reuse computes the
      // propagation once. Convergence soundness is unchanged: labels only
      // ever DECREASE pointwise (jump(prop) ≤ prop ≤ labels), so
      // sum == previous sum ⟺ nothing moved through propagate OR jump,
      // which is exactly the propagation fixed point (a fixed point of
      // propagate is already component-constant, so the jump is identity
      // there).
      //
      // localCheckpoint (not persist): each round's plan references the
      // previous round's 2-3 times, so lineage grows exponentially across
      // rounds — checkpointing truncates the plan to a materialized leaf
      // while keeping the data distributed (blocks are freed by the
      // ContextCleaner once the old round is dereferenced)
      val next =
        if (!pointerJump) prop.localCheckpoint(true)
        else {
          // shortcut: comp(v) := comp(comp(v)). Every label IS a vertex id
          // (the min of a reachable set that contains it), so the inner
          // join always finds it; labels only decrease, so the jump stays
          // within the component. Propagate(+1 hop) then jump(×2 reach)
          // per round.
          val shortcut = prop.select(col("id").as("jid"), col("component").as("jcomp"))
          prop.join(shortcut, col("component") === col("jid"))
            .select(col("id"), col("jcomp").as("component"))
            .localCheckpoint(true)
        }
      // labels only ever decrease, so the label sum strictly decreases iff
      // anything changed — one scalar aggregate per round (previous round's
      // sum is carried, not recomputed)
      val sumNew = next.agg(sum(col("component"))).first().getLong(0)
      labels.unpersist()
      labels = next
      converged = sumNew == labelSum
      labelSum = sumNew
      iter += 1
    }
    // labels is materialized (the convergence aggregate forced it); the
    // edge frames are no longer needed — free them so repeated invocations
    // don't accumulate cached blocks
    sym.unpersist(blocking = false)
    e.unpersist(blocking = false)
    // unconverged labels are not component minima — callers (including the
    // oracle-checked dedup queries) must never consume them silently
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge in $maxIter rounds " +
          s"(pointerJump=$pointerJump); raise maxIter or enable pointerJump")
    (labels, iter)
  }
}
