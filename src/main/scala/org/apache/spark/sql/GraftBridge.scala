package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column <-> Expression conversion for the
  * engine's native Catalyst expressions (graft.functions.VecExpressions).
  * Lives in the org.apache.spark.sql package on purpose — the standard
  * pattern for Spark-native extension libraries.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-tag a batch plan as a streaming micro-batch (`isStreaming =
    * true`): the V1 `Source.getBatch` contract. The batch plan is
    * planned once here and its InternalRow RDD becomes the
    * micro-batch's leaf — exactly `FileStreamSource`'s shape.
    */
  def asMicroBatch(df: Dataset[Row]): Dataset[Row] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Clamp the statistics a checkpointed Dataset inherits from its
    * origin plan. Spark 4's `Dataset.(local)checkpoint` copies the
    * pre-checkpoint plan's estimated `Statistics` onto the resulting
    * `LogicalRDD` (`originStats`) so later planning keeps stats — but
    * for an ITERATIVE operator that joins a cut result with itself
    * (connected components' pointer doubling), the inherited
    * `sizeInBytes` is a PRODUCT of the previous round's estimates, so
    * it SQUARES every round: by round ~20 the estimate is a BigInt
    * with millions of digits and every broadcast-threshold check in
    * AQE's re-optimization multiplies those — observed as the driver
    * pinned for minutes per round inside `BigInteger.multiply` at the
    * 5x scale probe. Clamping to Long.MaxValue at every cut keeps
    * small estimates useful (early rounds can still static-broadcast)
    * and makes the compounding impossible; AQE's runtime sizes still
    * drive broadcast decisions at stage boundaries.
    */
  def clampCheckpointStats(df: Dataset[Row]): Dataset[Row] =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
        val max = BigInt(Long.MaxValue)
        val st = l.stats
        val clamped = catalyst.plans.logical.Statistics(
          sizeInBytes = st.sizeInBytes.min(max),
          rowCount = st.rowCount.map(_.min(max)))
        val plan = new execution.LogicalRDD(l.output, l.rdd,
          l.outputPartitioning, l.outputOrdering, l.isStreaming,
          l.getStream)(spark, Some(clamped), None)
        classic.Dataset.ofRows(spark, plan)
      case _ => df
    }

  /** A DataFrame whose whole analyzed plan is one `LogicalRDD` leaf over
    * `rows` — the shape a checkpoint leaves, so
    * [[graft.engine.Checkpoints.release]] frees `rows` when it is a
    * persisted cut. `rowCount` (known from the cut's own job) sets the
    * leaf's statistics, so later planning can still broadcast it.
    */
  def rowsFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType, rowCount: Long): Dataset[Row] = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val output = catalyst.types.DataTypeUtils.toAttributes(schema)
    val stats = catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(rowCount) *
        catalyst.plans.logical.statsEstimation.EstimationUtils.getSizePerRow(output),
      rowCount = Some(BigInt(rowCount)))
    classic.Dataset.ofRows(s, new execution.LogicalRDD(output, rows)(s, Some(stats), None))
  }
}
