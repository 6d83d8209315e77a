package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Micro-batch semantics of the graftmq source: size-axis admission
  * control (reference size_limit), complete delivery, ack-on-commit
  * (at-least-once upgrade of reference amqp.py:116-118).
  */
class MqSourceSpec extends SparkSpec {

  private def runAvailableNow(exchange: String, maxPerTrigger: Int,
      sizes: ConcurrentLinkedQueue[Long]): Unit = {
    val q = spark.readStream
      .format("graftmq")
      .option("exchange", exchange)
      .option("maxMessagesPerTrigger", maxPerTrigger.toString)
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sizes.add(batch.count()); ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("mq-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
  }

  test("size-axis admission control caps every micro-batch at size_limit") {
    val ex = "ex_size"
    (1 to 12).foreach(i => MemoryBroker.publish(ex, s"""{"i":$i}"""))
    val sizes = new ConcurrentLinkedQueue[Long]()
    runAvailableNow(ex, 5, sizes)
    import scala.jdk.CollectionConverters._
    val s = sizes.asScala.toSeq.filter(_ > 0)
    assert(s.sum == 12, s"all messages delivered once: $s")
    assert(s.forall(_ <= 5), s"no batch exceeds size_limit: $s")
    assert(s.count(_ == 5) == 2, s"full batches flush at the cap: $s")
  }

  /** (lo, hi) of each slice `stream` plans for (start, end). */
  private def slices(stream: MqMicroBatchStream, start: Offset, end: Offset): Seq[(Long, Long)] =
    stream.planInputPartitions(start, end).toSeq.map { p =>
      val offs = p.asInstanceOf[MqInlinePartition].msgs.map(_.offset)
      (offs.head, offs.last + 1)
    }

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A stream over `ex` with `slots` task slots and no fixed width. */
  private def slotStream(ex: String, slots: Int, ckpt: String) =
    new MqMicroBatchStream(ex, None, None, None, Some(ckpt), () => slots)

  test("a range's width is recorded: a replay plans the same slices at any parallelism") {
    val ex = "ex_width"
    (0 until 20000).foreach(i => MemoryBroker.publish(ex, s"$i"))
    val ckpt = tmpDir("mq-width")
    val start = MqOffset(0)
    // unset rowsPerPartition: ceil(rows / slots), one slice a slot; the
    // offset itself stays the bare position
    val end = slotStream(ex, 3, ckpt).latestOffset(start, ReadLimit.allAvailable())
    assert(end == MqOffset(20000) && end.json == "20000")
    val cut = Seq((0L, 6667L), (6667L, 13334L), (13334L, 20000L))
    assert(slices(slotStream(ex, 3, ckpt), start, end) == cut)
    // a restart on another slot count replays the range as it was cut
    for (slots <- Seq(1, 8)) {
      val replay = slotStream(ex, slots, ckpt)
      assert(slices(replay, replay.deserializeOffset("0"), replay.deserializeOffset("20000")) == cut)
    }
    def recorded(dir: String): Seq[Long] = {
      val d = new java.io.File(s"$dir/slice-widths")
      Option(d.list()).toSeq.flatten.filter(_.forall(_.isDigit)).map(_.toLong).sorted
    }
    assert(recorded(ckpt) == Seq(20000L))
    // a range admitted by a run on 8 slots is cut no finer than 5000,
    // the floor planning falls back to: nothing is recorded
    val dir8 = tmpDir("mq-width8")
    val other = slotStream(ex, 8, dir8)
    assert(slices(other, start, other.latestOffset(start, ReadLimit.allAvailable())) ==
      Seq((0L, 5000L), (5000L, 10000L), (10000L, 15000L), (15000L, 20000L)))
    assert(recorded(dir8).isEmpty)
    // nothing admitted: start's position, and no width recorded
    val idleDir = tmpDir("mq-idle")
    assert(slotStream(ex, 3, idleDir).latestOffset(end, ReadLimit.allAvailable()) == end)
    assert(recorded(idleDir).isEmpty)
    // commit drops the widths of ranges that ended before it
    val seqDir = tmpDir("mq-purge")
    val s = slotStream(ex, 1, seqDir)
    val mid = s.latestOffset(start, ReadLimit.maxRows(10000))
    s.latestOffset(mid, ReadLimit.maxRows(10000))
    assert(recorded(seqDir) == Seq(10000L, 20000L))
    s.commit(MqOffset(20000))
    assert(recorded(seqDir) == Seq(20000L))
  }

  test("a range with no recorded width, from an old checkpoint, plans the old width") {
    val ex = "ex_legacy"
    (0 until 12000).foreach(i => MemoryBroker.publish(ex, s"$i"))
    val stream = slotStream(ex, 3, tmpDir("mq-legacy"))
    val (start, end) = (stream.deserializeOffset("0"), stream.deserializeOffset("12000"))
    assert(end == MqOffset(12000))
    assert(slices(stream, start, end) == Seq((0L, 5000L), (5000L, 10000L), (10000L, 12000L)))
    // with rowsPerPartition set, the old planner used that width
    val fixed = new MqMicroBatchStream(ex, None, None, Some(4000L), Some(tmpDir("mq-legacy4k")))
    assert(slices(fixed, start, end).size == 3)
  }

  test("commit acks the broker log (truncation after durable batch)") {
    val ex = "ex_ack"
    (1 to 7).foreach(i => MemoryBroker.publish(ex, s"""{"i":$i}"""))
    assert(MemoryBroker.exchange(ex).latest == 7L)
    // continuous trigger: the engine acks batch N while constructing
    // batch N+1, so truncation is observable shortly after the drain
    val q = spark.readStream
      .format("graftmq").option("exchange", ex).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("mq-ckpt").toString)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      // Spark acks batch N while constructing batch N+1
      // (MicroBatchExecution.cleanUpLastExecutedMicroBatch), so publish a
      // follow-up message to force construction of the next batch.
      Thread.sleep(1000)
      MemoryBroker.publish(ex, """{"i":8}""")
      val deadline = System.currentTimeMillis() + 30000
      while (MemoryBroker.exchange(ex).committed < 7L &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(MemoryBroker.exchange(ex).committed >= 7L)
      assert(MemoryBroker.exchange(ex).slice(0, 7).isEmpty)
    } finally q.stop()
  }

  test("schema carries value/exchange/content_type/offset/ts and demux column") {
    val ex = "ex_schema"
    MemoryBroker.publish(ex, """{"a":1}""")
    MemoryBroker.publish(ex, "plain body", contentType = "text/plain")
    val got = new ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("graftmq").option("exchange", ex).load()
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(
          s"${r.getAs[String]("exchange")}|${r.getAs[Long]("offset")}|" +
            s"${r.getAs[String]("content_type")}|${r.getAs[String]("value")}"))
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("mq-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted == Seq(
      s"""$ex|0|application/json|{"a":1}""",
      s"$ex|1|text/plain|plain body"))
  }
}
