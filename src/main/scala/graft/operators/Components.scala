package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Checkpoints, Fixpoint}

/** Connected components over an undirected edge list — the
  * dedup-clustering primitive: near-dup PAIRS (from
  * [[Dedup.jaccardPairs]] / [[Dedup.minHashPairs]] /
  * [[Dedup.simHashPairs]] / [[Dedup.embeddingPairsLsh]]) become
  * duplicate CLUSTERS, and a pipeline keeps one representative (the
  * min id) per component — transitive closure, where pairwise
  * keep-lowest alone over-removes on chains.
  *
  * Algorithm: min-label propagation with POINTER DOUBLING. Every node
  * starts labeled with its own id; each round every node takes the min
  * of (its label, its neighbors' labels, its label's label). The last
  * term is the pointer-doubling shortcut: the distance a min label has
  * travelled doubles each round, so a chain of diameter D converges in
  * O(log D) rounds instead of O(D) — min-label alone would silently
  * need `maxIters` ~ D (the adversarial case for dup graphs is long
  * similarity chains). Labels stay inside the component throughout
  * (initial label = own id; neighbor labels are component-internal;
  * label-of-label therefore too), and at the fixpoint labels are
  * constant along every edge, i.e. each component carries exactly its
  * min id.
  *
  * Each round is one neighbor equi-join on the dst-pinned edge list,
  * one |V|-sized pointer self-join, and ONE partial-aggregatable min
  * over their union — no driver-side graph state, no per-round edge
  * exchange. The convergence check rides the SAME job as the round's
  * materialization via `observe()` (an accumulator-backed count of
  * changed labels) — no extra per-round action. A per-round lineage
  * cut ([[graft.engine.Fixpoint]]) truncates the plan so round i does
  * not recompute rounds 1..i-1. Non-convergence within `maxIters` (only
  * possible for diameter > 2^maxIters) logs a WARNING rather than
  * returning silently-split components.
  */
object Components extends org.apache.spark.internal.Logging {

  /** Incremental connected components: fold DELTA edges into a prior
    * (id, comp) labeling without re-exploring the base graph's
    * structure — each prior component collapses to one (id — comp)
    * star, so the fixed point only walks the delta's connectivity plus
    * |V| collapsed edges, never the original |E|. Labels stay min-id
    * (prior comp ids are member ids), so the result is IDENTICAL to a
    * full recompute over base ∪ delta — the living-graph maintenance
    * loop for a continuously-ingested dedup clustering.
    */
  def incremental(prior: DataFrame, deltaEdges: DataFrame,
      aCol: String, bCol: String, maxIters: Int = 20): DataFrame =
    connectedComponents(
      prior.select(col("id").as(aCol), col("comp").as(bCol))
        .unionByName(deltaEdges.select(col(aCol), col(bCol))),
      aCol, bCol, maxIters)

  /** (id, comp) for every node incident to an edge; comp = min node id
    * reachable in the undirected closure.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame = {
    // The edge list is pinned on `dst` ONCE: every round's neighbor
    // lookup joins on dst, so without the pin each round re-exchanged
    // the full |2E| relation (the r15 plan paid one edge exchange PER
    // ROUND; the r16 same-JVM A/B reads old 2.96-3.7 s vs fused+pinned
    // 2.52-2.94 s on the isolated rounds, and the saving grows with
    // round count — guide §2.4 "establish the partitioning once").
    val sym = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .repartition(col("dst"))
      .transform(Checkpoints.cut)
    val labels0 = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .transform(Checkpoints.cut)
    val r = Fixpoint.iterate(labels0, maxIters, "components") { (labels, i) =>
      // FUSED round (r16): one union-aggregate computes
      //   comp' = min(comp, min neighbor comp, comp's own comp)
      // and the changed flag, replacing the r15 shape's two label
      // joins (left-join refresh + pointer-chase join) and their |V|
      // exchanges. The pointer chase follows the PREVIOUS round's
      // labels (label-of-OLD-label, not label-of-refreshed-label), so
      // a chain can take one extra round; the per-round recurrence is
      // still d -> 2d+1 (O(log D) total) and the FIXPOINT is
      // identical: labels only ever decrease within their component,
      // and a round that changes nothing certifies every candidate as
      // the identity. `is_old` tags the previous labels so the aggregate
      // recovers comp_old for the convergence check without a join —
      // each id contributes exactly one old row.
      val old = labels.select(col("id"), col("comp"), lit(true).as("is_old"))
      // round-1 identity shortcut: labels are the identity over the
      // node set, so the neighbor lookup IS the pinned edge list with
      // comp = dst — no |V|⋈|E| join in the first round.
      val cand =
        if (i == 1) sym.select(col("src").as("id"), col("dst").as("comp"),
          lit(false).as("is_old"))
        else sym
          .join(labels.select(col("id").as("dst"), col("comp")), "dst")
          .select(col("src").as("id"), col("comp"), lit(false).as("is_old"))
      // Round 1 skips the pointer branch: labels are the identity
      // (comp == id), so label-of-label is provably comp itself.
      // Inner join is safe: comp is always a live node id (a min over
      // node ids stays a member id), and `old` keeps every id alive
      // through the union even if a pointer row went missing.
      val ptr =
        if (i == 1) None
        else Some(labels.select(col("comp").as("jk"), col("id"))
          .join(labels.select(col("id").as("jk"), col("comp").as("pcomp")),
            Seq("jk"))
          .select(col("id"), col("pcomp").as("comp"), lit(false).as("is_old")))
      ptr.foldLeft(old.unionByName(cand))(_ unionByName _)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"),
          min(when(col("is_old"), col("comp"))).as("_old"))
        .select(col("id"), col("comp"),
          (col("comp") =!= col("_old")).as(Fixpoint.Changed))
    }
    Checkpoints.release(sym) // the final labels are cut; nothing reads sym
    if (!r.converged) logWarning(
      s"connectedComponents did not converge in $maxIters rounds " +
        "(graph diameter exceeds 2^maxIters); labels may split components")
    r.state
  }

  /** Per-component sizes (the duplicate-cluster manifest). */
  def componentSizes(components: DataFrame): DataFrame =
    components.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
}
