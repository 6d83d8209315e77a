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

  test("an asymmetric edge list grows the node set as the reference does") {
    // node 2 is an edge target absent from dist0: a relaxation onto it
    // adds it to the result, unit and weighted, as the union+groupBy
    // reference does
    val e0 = Seq((1L, 2L, 5L)).toDF("u", "v", "w")
    val dist0 = Seq((1L, 0L)).toDF("node", "dd")
    for (weighted <- Seq(false, true); iters <- Seq(1, 2)) {
      val got = rows(Relax.rounds(e0, dist0, iters, weighted))
      assert(got == rows(reference(e0, dist0, iters, weighted)),
        s"weighted=$weighted iters=$iters")
      assert(got == Seq((1L, 0L), (2L, if (weighted) 5L else 1L)))
    }
  }

  test("weighted asymmetric graph == reference at every round count") {
    // a random directed graph: targets outside dist0, a duplicate seed
    // row, unreached seeds and edges out of unreached nodes
    val rnd = new scala.util.Random(7)
    val e0 = Seq.fill(160)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong,
        rnd.nextInt(20) + 1L))
      .filter(e => e._1 != e._2).toDF("u", "v", "w")
    val dist0 = (Seq((0L, 0L), (0L, 3L), (5L, 7L)) ++
        (10L to 30L by 4).map(n => (n, Long.MaxValue)))
      .toDF("node", "dd")
    for (weighted <- Seq(true, false); iters <- 1 to 6) {
      val got = rows(Relax.rounds(e0, dist0, iters, weighted))
      assert(got == rows(reference(e0, dist0, iters, weighted)),
        s"weighted=$weighted iters=$iters")
    }
  }

  test("one Spark job per relaxation round plus a fixed setup count") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.engine.{Checkpoints, Fixpoint}
    val (e0, dist0) = graph()
    val sc = spark.sparkContext
    /** The result and each job's (operator, round) tags. */
    def traced(iters: Int): (Fixpoint.Result, Seq[(String, String)]) = {
      val tags = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val p = Option(e.properties).getOrElse(new java.util.Properties)
          tags.add((p.getProperty(Fixpoint.OperatorProp),
            p.getProperty(Fixpoint.RoundProp)))
        }
      }
      sc.addSparkListener(listener)
      try {
        val r = Relax.fixpoint(e0, dist0, iters, weighted = false)
        org.apache.spark.SpecBridge.drainListeners(sc)
        Checkpoints.release(r.state)
        (r, tags.asScala.toSeq)
      } finally sc.removeSparkListener(listener)
    }
    // the seed is 3 hops from its farthest node: 2 and 3 rounds both
    // change distances in every round
    val (r2, jobs2) = traced(2)
    val (r3, jobs3) = traced(3)
    assert(r2.rounds == 2 && r3.rounds == 3 && !r2.converged && !r3.converged)
    assert(jobs3.forall(_._1 == "relax"), jobs3)
    for (i <- 1 to 3)
      assert(jobs3.count(_._2 == i.toString) == 1, s"round $i: $jobs3")
    // everything untagged by a round is setup and result: one more
    // round costs exactly one more job
    assert(jobs3.count(_._2 == "0") == jobs2.count(_._2 == "0"), s"$jobs2 vs $jobs3")
    assert(jobs3.size == jobs2.size + 1, s"$jobs2 vs $jobs3")
  }

  test("reliable checkpoint path (graft.checkpoint.dir) gives identical distances") {
    val (e0, dist0) = graph()
    val default = rows(Relax.rounds(e0, dist0, 4, weighted = true))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.engine.Checkpoints.ConfKey, dir)
    try {
      val reliable = rows(Relax.rounds(e0, dist0, 4, weighted = true))
      assert(reliable == default)
      // the reliable path must actually have checkpointed into the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
    } finally spark.conf.unset(graft.engine.Checkpoints.ConfKey)
  }
}
