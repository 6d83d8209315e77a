package graft.queries

import graft.SparkSpec

/** SURVEY §5.3 item 4: Q23 through Structured Streaming must equal the
  * batch form exactly.
  */
class StreamingEquivalenceSpec extends SparkSpec {
  test("q23_stream == q23_hourly on sf0.001") {
    val batch = CoreQueries.queries("q23_hourly")(spark, sf).collect()
    val stream = StreamingQueries.q23Stream(spark, sf).collect()
    assert(stream.length == batch.length)
    assert(stream.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("q65 stream-stream join == the same join in batch on sf0.001") {
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("sec").as("p_sec"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user_id"),
        col("sec").as("c_sec"))
    val batch = p.join(c,
        col("user_id") === col("c_user_id") &&
          col("c_sec") >= col("p_sec") - 600 && col("c_sec") <= col("p_sec"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id").collect()
    val stream = StreamingQueries.q65StreamJoin(spark, sf).collect()
    assert(stream.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("q100 flatMapGroupsWithState sessionize == batch q25_sessionize") {
    val batch = CoreQueries.queries("q25_sessionize")(spark, sf).collect()
    val stream = StreamingQueries.q100SessionizeState(spark, sf).collect()
    assert(stream.length == batch.length)
    assert(stream.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("a drain whose batch throws rethrows, deletes its checkpoint and restores the shuffle partitions") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.DataFrame
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before != "8", "the session count must differ from the drain's")
    val tag = s"failing-drain-${System.nanoTime()}"
    def leftovers(): List[String] =
      java.nio.file.Files.list(graft.engine.Scratch.root).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(s"graft-$tag-")).toList
    val events = spark.readStream
      .schema(spark.read.parquet(s"$sf/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf)
    val inBatch = new java.util.concurrent.atomic.AtomicReference[String]()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingQueries.withCheckpoint(spark, tag) { ckpt =>
        assert(leftovers() == List(java.nio.file.Paths.get(ckpt).getFileName.toString))
        StreamingQueries.drain(ckpt)(events.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            inBatch.set(b.sparkSession.conf.get(key))
            throw new IllegalStateException("injected batch failure")
          })
      }
    }
    val causes = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(e => Option(e.getMessage).exists(_.contains("injected batch failure"))))
    assert(inBatch.get == "8")
    assert(leftovers().isEmpty)
    assert(spark.conf.get(key) == before)
  }
}
