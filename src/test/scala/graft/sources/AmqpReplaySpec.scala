package graft.sources

import java.sql.DriverManager

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.sinks.SqlSink
import graft.sources.amqp.{AmqpBroker, AmqpConnection, AmqpServer}

/** Exactly-once over `amqp://` across a Spark restart. The idempotent
  * sink marks a graftmq batch by (batch, slice), which holds only if a
  * restarted consumer puts the redelivered messages on the offsets the
  * first run gave them (`AmqpConsumerLog.alignBase` renumbers from the
  * checkpoint). Each case kills the query while its batch 1 is in the
  * sink, drops the AMQP consumer as a process exit would, and restarts
  * on the same checkpoint.
  */
class AmqpReplaySpec extends SparkSpec {
  private val url = "jdbc:derby:memory:amqpreplay;create=true"

  private def ints(sql: String): Seq[Int] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next()).map(_.getInt(1)).toVector
    } finally c.close()
  }

  /** Publishes 12 messages, runs a first query through `firstRun`
    * (which must fail it), restarts, and checks that all 12 landed
    * exactly once.
    */
  private def replay(name: String)(
      firstRun: ((DataFrame, Long) => Unit) => (DataFrame, Long) => Unit): Unit = {
    val srv = new AmqpServer(0, None)
    try {
      val table = s"${name}_rows"
      val c = DriverManager.getConnection(url)
      c.createStatement().execute(s"CREATE TABLE $table (i INT)")
      c.close()
      val pub = new AmqpConnection("localhost", srv.boundPort)
      try {
        pub.declareExchange(name, "fanout", durable = true, Map.empty)
        (0 until 12).foreach(i => pub.publish(name, s"""{"i":$i}""", "application/json"))
      } finally pub.close()
      val ckpt = java.nio.file.Files.createTempDirectory(s"$name-ckpt").toString
      def run(write: ((DataFrame, Long) => Unit) => (DataFrame, Long) => Unit): StreamingQuery = {
        val sink = SqlSink.idempotentForeachBatch(url,
          s"INSERT INTO $table (i) VALUES (CAST(:i AS INT))",
          SqlSink.Identity, flowId = name, jsonCol = Some("value"))
        val f = write((b, id) => { sink(b, id); () })
        spark.readStream.format("graftmq")
          .option("exchange", name)
          .option("broker", s"amqp://localhost:${srv.boundPort}")
          .option("maxMessagesPerTrigger", "5")
          .option("rowsPerPartition", "2") // 3 slices a batch
          .load()
          .writeStream
          .foreachBatch { (b: DataFrame, id: Long) => f(b, id) }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime("200 milliseconds"))
          .start()
      }
      val q1 = run(firstRun)
      intercept[StreamingQueryException](q1.awaitTermination(90000))
      // the restarted process has a fresh consumer: the broker
      // redelivers every un-acked message, numbered from the checkpoint
      AmqpBroker.reset()
      val q2 = run(identity)
      try {
        val deadline = System.currentTimeMillis() + 90000
        while (ints(s"SELECT COUNT(*) FROM $table").head < 12 &&
            System.currentTimeMillis() < deadline) Thread.sleep(100)
        q2.processAllAvailable()
        assert(ints(s"SELECT COUNT(*) FROM $table") == Seq(12))
        assert(ints(s"SELECT i FROM $table ORDER BY i") == (0 until 12))
      } finally q2.stop()
    } finally {
      AmqpBroker.reset()
      srv.stop()
    }
  }

  test("amqp:// restart after the sink committed batch 1 but not its offsets: every message once") {
    replay("amqp_replay_whole") { write => (b, id) =>
      write(b, id)
      if (id == 1) throw new IllegalStateException("process dies before the offset commit")
    }
  }

  test("amqp:// restart after one slice of batch 1 failed: the replay writes only what is missing") {
    val failSlice1 = udf { (_: String) =>
      if (TaskContext.getPartitionId() == 1) throw new IllegalStateException("slice 1 fails")
      true
    }
    replay("amqp_replay_slice") { write => (b, id) =>
      write(if (id == 1) b.filter(failSlice1(col("value"))) else b, id)
    }
  }
}
