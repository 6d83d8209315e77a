package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{Components, Lpa, PageRank, Relax, RelaxSpec}

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def persistent(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Symmetric edges: a chain, a cycle and an island. */
  private def undirected = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (2L, 6L), (6L, 7L), (7L, 1L), (10L, 11L))

  private def symmetric(a: String, b: String): DataFrame =
    undirected.flatMap { case (x, y) => Seq((x, y), (y, x)) }.toDF(a, b)

  /** Runs `op` and checks it leaves exactly one new persistent RDD —
    * the final cut its result is — and that releasing the result
    * frees it.
    */
  private def leavesOnlyFinalCut(op: => DataFrame): Unit = {
    val before = persistent()
    val out = op
    val finalCut = out.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case p => fail(s"result is not a bare lineage cut:\n$p")
    }
    assert(persistent() -- before == Set(finalCut))
    Checkpoints.release(out)
    assert(persistent() -- before == Set.empty[Int])
  }

  test("iterative operators leave only the caller's pins plus the final cut") {
    leavesOnlyFinalCut(PageRank.run(symmetric("src", "dst"), 4))
    leavesOnlyFinalCut(Lpa.run(symmetric("src", "dst"), 4))
    leavesOnlyFinalCut(
      Components.connectedComponents(undirected.toDF("a", "b"), "a", "b"))
    val e0 = symmetric("u", "v").repartition(col("u")).persist()
    e0.count() // the caller's pin exists before the call
    val dist0 = e0.select(col("u")).distinct()
      .select(col("u").as("node"),
        when(col("u") === 1L, 0L).otherwise(lit(Long.MaxValue)).as("dd"))
    leavesOnlyFinalCut(Relax.rounds(e0, dist0, 4, weighted = false))
    e0.unpersist()
  }

  /** A path 1-2-3 seeded at 1: distances change in rounds 1 and 2. */
  private def path(): (DataFrame, DataFrame) = {
    val e0 = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
    val dist0 = Seq((1L, 0L), (2L, Long.MaxValue), (3L, Long.MaxValue))
      .toDF("node", "dd")
    (e0, dist0)
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("Relax stops after the first round that changes nothing") {
    val (e0, dist0) = path()
    val r = Relax.fixpoint(e0, dist0, iterations = 10, weighted = false)
    assert(r.rounds == 3)
    assert(r.converged)
    assert(rows(r.state) ==
      rows(RelaxSpec.reference(e0, dist0, 10, weighted = false)))
    assert(rows(r.state) == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("maxRounds exhaustion reports converged = false") {
    val (e0, dist0) = path()
    val r = Relax.fixpoint(e0, dist0, iterations = 2, weighted = false)
    assert(r.rounds == 2 && !r.converged)
    // a round without a changed column runs every round
    val plain = Fixpoint.iterate(Seq(0L).toDF("x"), 4) { (s, _) =>
      s.select((col("x") + 1L).as("x"))
    }
    assert(plain.rounds == 4 && !plain.converged)
    assert(plain.state.as[Long].collect().toSeq == Seq(4L))
    Checkpoints.release(plain.state)
  }

  test("Components logs a WARNING when maxIters runs out") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("fixpoint-spec", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(Components.getClass.getName.stripSuffix("$"))
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      // a chain of diameter 7 needs more than one round
      val chain = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
      Components.connectedComponents(chain, "a", "b", maxIters = 1).count()
      assert(warnings.toArray.exists(_.toString.contains("did not converge")),
        s"no convergence warning among: $warnings")
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }
}
