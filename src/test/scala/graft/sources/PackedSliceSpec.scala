package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.amqp.{AmqpBroker, AmqpConnection, AmqpServer}

/** Slices travel to their tasks packed: one UTF-8 byte array, one end
  * index per message and a content-type dictionary. Every transport must
  * hand the Spark source back exactly what was published, and a slice's
  * serialized size must track its body bytes, not its message count.
  */
class PackedSliceSpec extends SparkSpec {

  /** Bodies that stress the packing: 2-, 3- and 4-byte UTF-8 (a
    * surrogate-pair emoji), an empty body, newlines and tabs.
    */
  private val oddBodies = Seq(
    """{"name":"café"}""", """{"city":"東京"}""", "😀 grin",
    "", "line1\nline2\tend", "\t\n", """{"mixed":"ü€😀"}""")

  /** The odd bodies, then 300 messages with 300 distinct content types
    * (more than a one-byte dictionary index holds).
    */
  private val published: Seq[(String, String)] =
    oddBodies.map(_ -> "application/json") ++
      (0 until 300).map(i => s"""{"t":$i}""" -> s"text/x-type-$i")

  /** Reads `exchange` through the graftmq source in one slice; returns
    * (offset, value, content_type) rows in offset order, having checked
    * that the bytes Spark holds for each value are its UTF-8 encoding
    * (a String read back hides malformed bytes: it decodes them).
    */
  private def readBack(exchange: String, broker: Option[String]): Seq[(Long, String, String)] = {
    val got = new ConcurrentLinkedQueue[(Long, String, String, String)]()
    val reader = spark.readStream.format("graftmq")
      .option("exchange", exchange)
      .option("rowsPerPartition", "100000")
    val q = broker.fold(reader)(reader.option("broker", _)).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.selectExpr("offset", "value", "content_type", "hex(value)").collect()
          .foreach(r => got.add((r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3))))
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("packed-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    got.asScala.toSeq.sortBy(_._1).map { case (off, v, ct, raw) =>
      assert(raw == v.getBytes(UTF_8).map("%02X".format(_)).mkString,
        s"offset $off: Spark holds bytes $raw, not the UTF-8 of its value")
      (off, v, ct)
    }
  }

  private def expected: Seq[(Long, String, String)] =
    published.zipWithIndex.map { case ((b, ct), i) => (i.toLong, b, ct) }

  test("in-JVM transport: bodies, content types and offsets round-trip") {
    val ex = "packed_mem"
    published.foreach { case (b, ct) => MemoryBroker.publish(ex, b, ct) }
    assert(readBack(ex, None) == expected)
  }

  test("tcp:// transport: bodies, content types and offsets round-trip") {
    val srv = new BrokerServer(0, None)
    try {
      val c = new BrokerClient("localhost", srv.boundPort, "packed_tcp")
      published.foreach { case (b, ct) => c.publish(b, ct) }
      assert(readBack("packed_tcp", Some(s"tcp://localhost:${srv.boundPort}")) == expected)
    } finally srv.stop()
  }

  test("amqp:// transport: bodies, content types and offsets round-trip") {
    val srv = new AmqpServer(0, None)
    try {
      val log = AmqpBroker.log("localhost", srv.boundPort, "packed_amqp")
      try {
        published.foreach { case (b, ct) => log.publish(b, ct) }
        assert(readBack("packed_amqp", Some(s"amqp://localhost:${srv.boundPort}")) == expected)
      } finally log.closeConnection()
    } finally srv.stop()
  }

  test("a body that is not valid UTF-8 reads the same over tcp:// and amqp://") {
    // a stray continuation byte, 0xFF, an encoded surrogate, an overlong
    // '/', a code point above U+10FFFF and a truncated 4-byte sequence
    val bad = Array(0x7B, 0x80, 0xFF, 0xED, 0xA0, 0x80, 0xC0, 0xAF,
      0xF4, 0x90, 0x80, 0x80, 0x7D, 0xF0, 0x9F, 0x98).map(_.toByte)
    val want = Seq((0L, new String(bad, UTF_8), "application/json"),
      (1L, "ok", "text/plain"))
    assert(want.head._2.contains('\uFFFD'))
    val tcp = new BrokerServer(0, None)
    val amqp = new AmqpServer(0, None)
    try {
      // BrokerClient publishes a String: send the raw bytes by hand
      val sock = new java.net.Socket("localhost", tcp.boundPort)
      try {
        val enc = java.util.Base64.getEncoder
        val out = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8))
        out.println(s"PUB bad_tcp ${enc.encodeToString("application/json".getBytes(UTF_8))} " +
          enc.encodeToString(bad))
        out.flush()
        assert(new java.io.BufferedReader(new java.io.InputStreamReader(
          sock.getInputStream, UTF_8)).readLine() == "OK 0")
      } finally sock.close()
      new BrokerClient("localhost", tcp.boundPort, "bad_tcp").publish("ok", "text/plain")

      val pub = new AmqpConnection("localhost", amqp.boundPort)
      try {
        pub.declareExchange("bad_amqp", "fanout", durable = true, Map.empty)
        pub.declareQueue("bad_amqp")
        pub.bind("bad_amqp", "bad_amqp")
        pub.publish("bad_amqp", bad, "application/json", mandatory = false)
        pub.publish("bad_amqp", "ok", "text/plain")
        assert(pub.queueBacklog("bad_amqp") == 2)
      } finally pub.close()

      assert(readBack("bad_tcp", Some(s"tcp://localhost:${tcp.boundPort}")) == want)
      try assert(readBack("bad_amqp", Some(s"amqp://localhost:${amqp.boundPort}")) == want)
      finally AmqpBroker.log("localhost", amqp.boundPort, "bad_amqp").closeConnection()
    } finally { amqp.stop(); tcp.stop() }
  }

  test("a serialized inline partition costs its body bytes plus at most 8 bytes a message") {
    val ex = "packed_size"
    val n = 5000
    val rnd = new scala.util.Random(7)
    // A1-shaped payloads with a long-tailed text field
    val bodies = (0 until n).map { i =>
      val text = rnd.alphanumeric.take(20 + (200 / (1 + rnd.nextInt(20)))).mkString
      s"""{"id":$i,"user":{"name":"u${rnd.nextInt(1000)}"},"text":"$text","items":[${rnd.nextInt(9)},${rnd.nextInt(9)}]}"""
    }
    bodies.foreach(MemoryBroker.publish(ex, _))
    val stream = new MqMicroBatchStream(ex, None, None, rowsPerPartition = n)
    val parts = stream.planInputPartitions(MqOffset(0), MqOffset(n.toLong))
    assert(parts.length == 1)
    spark // the closure serializer lives in the session's SparkEnv
    val size = SparkEnv.get.closureSerializer.newInstance()
      .serialize(parts(0)).remaining()
    val bodyBytes = bodies.map(_.getBytes(UTF_8).length.toLong).sum
    val bound = bodyBytes + 8L * n + 4096
    info(s"$n messages, $bodyBytes body bytes: $size bytes serialized")
    assert(size <= bound,
      s"serialized partition is $size bytes; bodies $bodyBytes, bound $bound")
  }
}
