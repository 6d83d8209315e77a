package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.sinks.SqlSink

/** End-to-end delivery semantics across a restart: checkpointed graftmq
  * source + idempotent sink must deliver every message exactly once
  * even when the stream is killed mid-backlog and restarted from the
  * checkpoint (SURVEY §7.4's headline guarantee).
  */
class RestartExactlyOnceSpec extends SparkSpec {
  test("kill mid-backlog, restart from checkpoint: no loss, no dupes") {
    val url = "jdbc:derby:memory:restart;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE msgs (i INT)")
    c.close()
    val ex = "restart_ex"
    (1 to 10).foreach(i => MemoryBroker.publish(ex, s"""{"i":$i}"""))
    val ckpt = java.nio.file.Files.createTempDirectory("restart-ckpt").toString
    val sink = SqlSink.idempotentForeachBatch(url,
      "INSERT INTO msgs (i) VALUES (CAST(:i AS INT))",
      SqlSink.Identity, flowId = "restart", jsonCol = Some("value"))

    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graftmq")
        .option("exchange", ex)
        .option("maxMessagesPerTrigger", "3")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) => sink(b, id); () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()

    def count(): Int = {
      val cc = DriverManager.getConnection(url)
      try {
        val rs = cc.createStatement().executeQuery("SELECT COUNT(*) FROM msgs")
        rs.next(); rs.getInt(1)
      } finally cc.close()
    }

    // phase 1: process part of the backlog, then kill abruptly
    // (generous deadlines: this spec shares the box with 30+ suites)
    val q1 = run()
    val deadline1 = System.currentTimeMillis() + 90000
    while (count() < 3 && System.currentTimeMillis() < deadline1)
      Thread.sleep(100)
    q1.stop() // kill (ideally mid-backlog; timing-dependent — if the
    // stream already drained everything, phase 2 still proves no dupes)
    val afterKill = count()
    assert(afterKill >= 3, s"got $afterKill")

    // phase 2: restart from the same checkpoint; the replayed batch is
    // absorbed by the idempotent sink, the rest of the backlog drains
    val q2 = run()
    try {
      val deadline2 = System.currentTimeMillis() + 90000
      while (count() < 10 && System.currentTimeMillis() < deadline2)
        Thread.sleep(100)
      assert(count() == 10, s"expected exactly 10, got ${count()}")
      // every message exactly once
      val cc = DriverManager.getConnection(url)
      val rs = cc.createStatement().executeQuery(
        "SELECT COUNT(DISTINCT i) FROM msgs")
      rs.next(); assert(rs.getInt(1) == 10); cc.close()
    } finally q2.stop()
  }
}
