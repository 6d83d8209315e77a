package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

object RelaxSpec {
  /** The previous inlined loop (union + groupBy min, fixed rounds) —
    * the reference [[Relax.rounds]] must reproduce exactly.
    */
  def reference(e0: DataFrame, dist0: DataFrame, iters: Int,
      weighted: Boolean): DataFrame = {
    var dist = dist0
    for (_ <- 1 to iters) {
      val step = if (weighted) col("dd") + col("w") else col("dd") + lit(1L)
      val relaxed = dist.join(e0, col("node") === col("u"))
        .filter(col("dd") =!= Long.MaxValue)
        .select(col("v").as("node"), step.as("dd"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dd")).as("dd"))
    }
    dist
  }
}

class RelaxSpec extends SparkSpec {
  import spark.implicits._
  import RelaxSpec.reference

  private def graph(): (DataFrame, DataFrame) = {
    // symmetric graph with a chain (convergence needs several rounds),
    // a cycle, and an unreachable island
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (6L, 7L), (7L, 1L), (10L, 11L))
    val e0 = und.flatMap { case (x, y) => Seq((x, y), (y, x)) }
      .toDF("u", "v")
      .withColumn("w", pmod(col("u") + col("v"), lit(97L)) + lit(1L))
    val dist0 = e0.select(col("u")).distinct()
      .select(col("u").as("node"),
        when(col("u") === 1L, 0L).otherwise(lit(Long.MaxValue)).as("dd"))
    (e0, dist0)
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("rounds == inlined union+groupBy reference, unit and weighted") {
    val (e0, dist0) = graph()
    for (weighted <- Seq(false, true); iters <- Seq(1, 2, 4)) {
      val got = rows(Relax.rounds(e0, dist0, iters, weighted))
      val want = rows(reference(e0, dist0, iters, weighted))
      assert(got == want, s"weighted=$weighted iters=$iters")
    }
  }

  test("early exit skips only identity rounds") {
    val (e0, dist0) = graph()
    // diameter-from-seed is 3; by round 4 everything reachable is
    // final — 20 declared rounds must equal the 20-round reference
    // (which IS the 4-round fixed point) while exiting early
    val got = rows(Relax.rounds(e0, dist0, 20, weighted = false))
    val want = rows(reference(e0, dist0, 4, weighted = false))
    assert(got == want)
    // the unreachable island stays at MaxValue
    assert(got.filter(_._1 >= 10L).forall(_._2 == Long.MaxValue))
  }

  test("PRECONDITION counter-example: a target absent from dist0 is dropped") {
    // rounds() refreshes dist via a LEFT join, so it can only ever
    // UPDATE nodes already present in dist0 — the documented 'every
    // edge target must appear in dist0' precondition. On an ASYMMETRIC
    // edge list whose target never appears as a source, the inlined
    // union+groupBy reference GROWS the node set while rounds() does
    // not: this pin makes the divergence explicit rather than silent.
    val e0 = Seq((1L, 2L)).toDF("u", "v").withColumn("w", lit(1L))
    val dist0 = Seq((1L, 0L)).toDF("node", "dd") // node 2 NOT seeded
    val got = rows(Relax.rounds(e0, dist0, 2, weighted = false))
    val want = rows(reference(e0, dist0, 2, weighted = false))
    assert(got == Seq((1L, 0L)), "relaxation onto unseeded node 2 is dropped")
    assert(want == Seq((1L, 0L), (2L, 1L)), "the reference would grow the set")
    // seeding the full node universe restores equivalence
    val distFull = Seq((1L, 0L), (2L, Long.MaxValue)).toDF("node", "dd")
    assert(rows(Relax.rounds(e0, distFull, 2, weighted = false)) ==
      rows(reference(e0, distFull, 2, weighted = false)))
  }
}
