package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Fixpoint

/** Distributed PageRank over a directed edge list, in FIXED-POINT
  * integer arithmetic (micro-units of 1e-6) so every contribution sum
  * is an exact BIGINT — bit-identical under any partitioning or
  * aggregation order, and therefore checkable against an unrolled SQL
  * oracle in another engine (the same determinism design as the
  * fixed-point moments in [[Outliers]]).
  *
  * Per iteration: each node sends `rank div outdeg` along its out
  * edges (integer division — the truncated remainder mass is dropped
  * deterministically by both engines), and every node's next rank is
  * `0.15·SCALE + (85 · Σ contribs) div 100`, all in BIGINT.
  *
  * Scale (Pregel-on-DataFrames): the edge list is the only large
  * relation; each iteration after the first is one equi-join (ranks ⋈
  * edges on src — both sides hash-partitioned on the same key, so AQE
  * reuses the exchange) plus one map-side-combinable groupBy on dst.
  * Round 1 skips the join: the initial ranks are known constants
  * (uniform, or all mass on the source for [[personalized]]), so its
  * contributions read straight off the pinned edge list. Lineage is
  * cut every iteration by [[graft.engine.Fixpoint]] —
  * `localCheckpoint` by default, or a reliable `checkpoint()` when
  * `graft.checkpoint.dir` is set (the form a long iterative job on a
  * real cluster needs to survive executor loss).
  *
  * [[run]] requires every node to have outdegree ≥ 1 (e.g. symmetrize
  * the edge list) — the classic simplification when the graph is known
  * sink-free. [[runDangling]] lifts that precondition with the standard
  * dangling-mass redistribution: each iteration the summed rank of
  * out-degree-0 nodes is shared uniformly (an integer `div N` each) by
  * all nodes, still entirely in BIGINT fixed point, so it remains
  * oracle-checkable.
  */
object PageRank {
  val Scale: Long = 1000000L

  /** @param edges (src: long, dst: long) directed edges, deduplicated.
    *              Every node must appear as a source (no sinks).
    * @return (node, rank) with rank in micro-units (BIGINT).
    */
  def run(edges: DataFrame, iterations: Int): DataFrame = {
    // unique names per relation + by-name join conditions: ranks/outdeg
    // share the edge list's lineage, so Dataset-apply column references
    // would trip the ambiguous-self-join check on every iteration
    val e = edges.select(col("src").cast("long").as("e_src"),
      col("dst").cast("long").as("e_dst"))
    // attach each edge's source outdegree ONCE as a count-over-window
    // on the SAME shuffle that pins the loop layout: one pass over the
    // edge list, one exchange — the previous aggregate-then-join shape
    // paid a second exchange for the outdeg aggregate plus the join
    // itself, and (exchange reuse aside) a second scan of the upstream
    // edge build. Every iteration's join re-uses this layout, so only
    // the |V|-row ranks side moves per round.
    val ew = e.repartition(col("e_src"))
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("e_src"))))
      .persist()
    // every node appears as a src in a symmetrized edge list.
    // Lineage is cut EVERY round: a stride-2 variant (fuse two rounds
    // per cut to halve materializations) measured ~10% SLOWER at sf0.1
    // (4.62 vs 4.19 s — the fused two-shuffle job loses more to reduced
    // pipelining than the saved block write gains).
    val ranks0 = ew.select(col("e_src").as("node")).distinct()
      .select(col("node"), lit(Scale).as("r"))
    val ranks = Fixpoint.iterate(ranks0, iterations, "pagerank") { (prev, i) =>
      // round-1 identity shortcut: the initial ranks are uniformly
      // Scale over exactly the e_src domain, so the first join with
      // them IS the pinned edge list — contribution Scale div d per
      // edge, no |V|⋈|E| join and no distinct-node materialization
      // before it.
      val contribs =
        if (i == 1)
          ew.select(col("e_dst").as("node2"),
            expr(s"CAST($Scale AS BIGINT) div d").as("c"))
        else prev
          .join(ew, col("node") === col("e_src"))
          .select(col("e_dst").as("node2"), expr("r div d").as("c"))
      contribs.groupBy(col("node2"))
        .agg(sum(col("c")).as("s"))
        .select(col("node2").as("node"),
          (lit(15L * Scale / 100) + expr("(85 * s) div 100")).as("r"))
    }.state
    ew.unpersist() // ranks is materialized by the final lineage cut
    ranks
  }

  /** Personalized PageRank (random walk with restart): the teleport
    * mass lands entirely on `source` instead of uniformly — the
    * resulting ranks ARE proximity-to-source scores, the standard
    * graph-similarity primitive (related-item ranking, cluster seeds).
    * Same fixed-point BIGINT design as [[run]]: rank is conserved in
    * micro-units, `r div d` per edge, `(85·Σ) div 100` damping, so the
    * iterations unroll to an exact CTE oracle with one CASE term.
    *
    * Requires outdegree ≥ 1 for every node (symmetrize first), like
    * [[run]]. The node universe is the out-degree node set, kept stable
    * across iterations by a left join (a rank-0 node must not drop out
    * of the relation — it may be `source`'s only path in).
    */
  def personalized(edges: DataFrame, source: Long,
      iterations: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("e_src"),
      col("dst").cast("long").as("e_dst"))
    // one-exchange outdegree attachment — see [[run]]
    val ew = e.repartition(col("e_src"))
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("e_src"))))
      .persist()
    val nodes = ew.select(col("e_src").as("node")).distinct()
      .repartition(col("node"))
      .persist()
    val base = when(col("node") === source, lit(15L * Scale / 100))
      .otherwise(lit(0L))
    val ranks0 = nodes.select(col("node"),
      when(col("node") === source, lit(Scale)).otherwise(lit(0L)).as("r"))
    val ranks = Fixpoint.iterate(ranks0, iterations, "pagerank") { (prev, i) =>
      // round-1 identity shortcut: initial rank is Scale at `source`
      // and 0 elsewhere, so the first join reduces to the source's own
      // out-edges. Later rounds drop rank-0 rows before the join — a
      // 0 div d contribution adds nothing to any sum and the refresh
      // left-join restores missing nodes via coalesce, so the result is
      // exact while early rounds join only the frontier.
      val contribs =
        if (i == 1)
          ew.filter(col("e_src") === source)
            .select(col("e_dst").as("node2"),
              expr(s"CAST($Scale AS BIGINT) div d").as("c"))
        else prev.filter(col("r") =!= 0L)
          .join(ew, col("node") === col("e_src"))
          .select(col("e_dst").as("node2"), expr("r div d").as("c"))
      val sums = contribs.groupBy(col("node2"))
        .agg(sum(col("c")).as("s"))
      nodes
        .join(sums, col("node") === col("node2"), "left")
        .select(col("node"),
          (base + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }.state
    ew.unpersist()
    nodes.unpersist()
    ranks
  }

  /** PageRank over a graph that MAY contain sinks (dangling nodes —
    * no out-edges). Standard redistribution: each iteration, the total
    * rank held by dangling nodes is divided `div N` (truncating — the
    * remainder is dropped deterministically, like every other
    * fixed-point op here) and added to every node's incoming sum. The
    * node set is src ∪ dst; nodes nobody links to still receive the
    * base 0.15 term plus the dangling share.
    *
    * Scale shape per iteration: the same single edge-join + groupBy as
    * [[run]], plus a semi-join of ranks against the PINNED dangling-node
    * set (computed once — it depends on outdegree, not rank) feeding a
    * one-row broadcast cross-join for the dangling sum (the
    * scalar-broadcast pattern used throughout — never a driver collect),
    * plus a left join of the |V|-row node list against the contribution
    * sums.
    */
  def runDangling(edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("e_src"),
      col("dst").cast("long").as("e_dst"))
    // one-exchange outdegree attachment — see [[run]]
    val ew = e.repartition(col("e_src"))
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("e_src"))))
      .persist()
    // node universe = src ∪ dst; pinned — reused |iterations| times as
    // the left side of the rank refresh AND the dangling anti-join.
    // The src side reads the PINNED ew blocks (already partitioned on
    // e_src) instead of replaying the upstream edge build.
    val nodes = ew.select(col("e_src").as("node"))
      .union(ew.select(col("e_dst").as("node")))
      .distinct()
      .repartition(col("node"))
      .persist()
    // |V| as a one-row broadcast scalar (BIGINT, engine-independent)
    val nRow = nodes.agg(count(lit(1)).as("n_nodes"))
    // the dangling-node SET is static across iterations (it depends on
    // outdegree, not rank) — derive it once and pin it; each round then
    // semi-joins ranks against this usually-tiny set instead of
    // anti-joining against the |V|-row outdeg table
    val dangNodes = nodes
      .join(ew.select(col("e_src").as("o_src")).distinct(),
        col("node") === col("o_src"), "left_anti")
      .select(col("node").as("dn"))
      .persist()
    val ranks0 = nodes.select(col("node"), lit(Scale).as("r"))
    val ranks = Fixpoint.iterate(ranks0, iterations, "pagerank") { (prev, i) =>
      // round-1 identity shortcuts: uniform initial ranks make the
      // first contribution join the pinned edge list itself, and the
      // first dangling sum |dangNodes|·Scale — no rank join either.
      val contribs =
        if (i == 1)
          ew.select(col("e_dst").as("node2"),
            expr(s"CAST($Scale AS BIGINT) div d").as("c"))
        else prev
          .join(ew, col("node") === col("e_src"))
          .select(col("e_dst").as("node2"), expr("r div d").as("c"))
      val sums = contribs.groupBy(col("node2"))
        .agg(sum(col("c")).as("s"))
      // rank parked on sinks this round, as a one-row relation
      // (coalesce: a sink-free graph has an empty sum, not a null share)
      val dangling =
        if (i == 1) dangNodes.agg((count(lit(1)) * lit(Scale)).as("dang"))
        else prev
          .join(dangNodes, col("node") === col("dn"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
      nodes
        .join(sums, col("node") === col("node2"), "left")
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(nRow))
        .select(col("node"),
          (lit(15L * Scale / 100) +
            expr("(85 * (coalesce(s, 0L) + dang div n_nodes)) div 100")
          ).as("r"))
    }.state
    ew.unpersist()
    nodes.unpersist()
    dangNodes.unpersist()
    ranks
  }
}
