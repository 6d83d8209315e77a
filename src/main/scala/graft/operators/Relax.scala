package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Fixpoint

/** Shared min-relaxation rounds — BFS frontier expansion (unit steps)
  * and Bellman–Ford SSSP (weighted steps) over a pinned edge list:
  * the loop the q140/q179 family (and their sf1 twins) previously
  * inlined four times as `dist ∪ relaxed → groupBy → min`.
  *
  * Two changes over that inlined shape, both result-identical:
  *
  *  - The round is a LEFT JOIN refresh instead of a union+groupBy:
  *    relaxation candidates are min-reduced per target node first
  *    (map-side combinable, |frontier-out| rows), then joined to the
  *    |V|-row dist relation — `least(dd, min(candidates))` — so the
  *    full dist never rides a union through the aggregate exchange,
  *    and the previous round's checkpoint partitioning on `node` is
  *    reusable on the probe side. Equivalence: the relaxed node set is
  *    a subset of dist's node universe (every v appears as a u in the
  *    symmetric co-occurrence graphs these queries build), so
  *    `min over ({dd} ∪ candidates)` == `least(dd, min(candidates))`
  *    row for row, in exact BIGINT.
  *  - A changed-row count rides the SAME job as the round's lineage
  *    cut ([[graft.engine.Fixpoint]]'s `observe()` metric, no extra
  *    action): when a round improves NO distance, every
  *    later round is the identity (relaxation is a pure function of
  *    dist), so stopping early returns the declared-iteration result
  *    exactly — the [[KCore]] converged-peel contract on the
  *    distance axis.
  */
object Relax {

  /** @param edges    (u: long, v: long[, w: long]) — pinned/persisted
    *                 by the caller, hash-partitioned on `u`.
    * @param dist0    (node: long, dd: long) seed distances
    *                 (Long.MaxValue = unreached). PRECONDITION: every
    *                 edge target `v` must appear in dist0 — the round
    *                 refreshes dist via a LEFT join, so a relaxation
    *                 onto a node absent from dist0 is silently
    *                 dropped (the inlined union+groupBy shape would
    *                 have grown the node set instead). All current
    *                 call sites seed dist0 with the full node universe
    *                 of a symmetric graph, which satisfies this; an
    *                 asymmetric edge list whose targets include
    *                 non-sources does NOT.
    * @param iterations max relaxation rounds (the declared fixed
    *                 count — early exit only ever SKIPS identity
    *                 rounds).
    * @param weighted step = dd + w when true, dd + 1 when false.
    * @return (node, dd) after the rounds; rides the final round's
    *         lineage cut (caller owns the blocks — [[PageRank.run]]'s
    *         contract).
    */
  def rounds(edges: DataFrame, dist0: DataFrame, iterations: Int,
      weighted: Boolean): DataFrame =
    fixpoint(edges, dist0, iterations, weighted).state

  /** [[rounds]] with [[Fixpoint]]'s round count and convergence flag. */
  private[graft] def fixpoint(edges: DataFrame, dist0: DataFrame,
      iterations: Int, weighted: Boolean): Fixpoint.Result =
    Fixpoint.iterate(dist0, iterations) { (dist, _) =>
      val step =
        if (weighted) col("dd") + col("w") else col("dd") + lit(1L)
      val relMin = dist.join(edges, col("node") === col("u"))
        .filter(col("dd") =!= Long.MaxValue)
        .select(col("v").as("_rn"), step.as("_rd"))
        .groupBy(col("_rn")).agg(min(col("_rd")).as("_rd"))
      dist
        .join(relMin, col("node") === col("_rn"), "left")
        .select(col("node"),
          least(col("dd"), coalesce(col("_rd"), col("dd"))).as("dd"),
          (col("_rd") < col("dd")).as(Fixpoint.Changed))
    }
}
