package graft.sinks

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.MemoryBroker

/** The idempotent sink's two marker keys: graftmq batches are marked by
  * source slice (negative `part_id`), other inputs by hash bucket
  * (0–15), and a first batch that replays hash-bucket markers keeps
  * the hash path.
  */
class SliceMarkerSpec extends SparkSpec {
  private val url = "jdbc:derby:memory:slicemark;create=true"

  private def ints(sql: String): Seq[Int] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next()).map(_.getInt(1)).toVector
    } finally c.close()
  }

  private def sink(flow: String) = SqlSink.idempotentForeachBatch(url,
    "INSERT INTO sm (v) VALUES (:v)", SqlSink.Named(Seq("v" -> "v")),
    flowId = flow, jsonCol = Some("value"))

  private def partIds(flow: String, batch: Long): Seq[Int] = ints(
    s"SELECT part_id FROM ${SqlSink.MarkerTable} " +
      s"WHERE flow_id = '$flow' AND batch_id = $batch")

  test("a first batch replaying hash-bucket markers takes the hash path; later batches key by slice") {
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE sm (v VARCHAR(10))")
    c.close()
    val ex = "slicemark_ex"
    val bodies = (0 until 6).map(i => s"""{"v":"s$i"}""")
    bodies.foreach(MemoryBroker.publish(ex, _))
    // an earlier run wrote batch 0 (the first 4 messages) by hash bucket
    val s = spark
    sink("sm_flow")(s.createDataset(bodies.take(4))(
      org.apache.spark.sql.Encoders.STRING).toDF("value"), 0L)
    assert(ints("SELECT COUNT(*) FROM sm") == Seq(4))
    assert(partIds("sm_flow", 0).forall(_ >= 0))
    // the restarted run replays batch 0 from the source, then goes on
    val restarted = sink("sm_flow")
    val q = spark.readStream.format("graftmq")
      .option("exchange", ex)
      .option("maxMessagesPerTrigger", "4")
      .load()
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) => restarted(b, id); () }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("slicemark-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(ints("SELECT COUNT(*) FROM sm") == Seq(6))
    assert(ints("SELECT COUNT(DISTINCT v) FROM sm") == Seq(6))
    assert(partIds("sm_flow", 0).forall(_ >= 0))
    val slices = partIds("sm_flow", 1)
    assert(slices.nonEmpty && slices.forall(_ < 0), slices)
  }
}
