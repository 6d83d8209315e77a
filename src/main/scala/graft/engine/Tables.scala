package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated parquet tables (TESTDATA.md).
  *
  * Scale-design note: these are plain parquet scans — Catalyst pushes
  * filters and prunes columns into the scan, so every query built on top
  * of [[Tables.apply]] inherits pushdown for free. On a real cluster the
  * same call reads a partitioned directory tree; nothing here assumes
  * single-file layout.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark reads as a long
    // only under spark.sql.legacy.parquet.nanosAsLong (set in Session).
    // Normalize to a µs TimestampType here (integer div — a double round
    // trip would lose precision above 2^53 ns).
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }
  }
}
