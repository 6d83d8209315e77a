package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.amqp._

/** The engine speaking real AMQP 0-9-1 — the reference's actual wire
  * protocol (its input side is an amqp server, docs/usage.rst:8-11;
  * amqp.py:36-118 connects, declares exchange+queue, binds, consumes,
  * acks). Every interaction here crosses genuine AMQP frames: protocol
  * header, connection/channel handshake, exchange.declare kwargs,
  * queue.bind, basic.publish content frames, basic.deliver, basic.ack.
  * Covers the codec, client↔server round trips, WAL durability across
  * broker restarts, the Spark source end-to-end over `amqp://`, replay
  * after a broker death mid-stream, and a broker in its own JVM.
  */
class AmqpSpec extends SparkSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix)

  /** A free port BELOW the ephemeral range (so the kernel won't hand
    * it to an outgoing socket between probe and bind), for restart
    * tests that must rebind the same port.
    */
  private def freePort(): Int = {
    val rnd = new scala.util.Random
    val candidates = Iterator.continually(20000 + rnd.nextInt(10000))
    candidates.find { p =>
      try { new java.net.ServerSocket(p).close(); true }
      catch { case _: java.io.IOException => false }
    }.get
  }

  /** Restart-on-the-same-port with a short bind retry: the previous
    * process's sockets may take a beat to release the port.
    */
  private def bindServer(port: Int,
      wal: Option[java.nio.file.Path]): AmqpServer = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last: java.net.BindException = null
    while (System.nanoTime() < deadline) {
      try return new AmqpServer(port, wal)
      catch {
        case e: java.net.BindException => last = e; Thread.sleep(100)
      }
    }
    throw last
  }

  test("codec: method, table, header and body frames round-trip") {
    import Amqp._
    import AmqpGoldenFramesSpec.bodyFrames
    val methods: Seq[Method] = Seq(
      ConnectionStart(Map("product" -> "x", "ver" -> 42, "big" -> 7L,
        "flag" -> true, "nested" -> Map("k" -> "v")), "PLAIN", "en_US"),
      ConnectionStartOk(Map("a" -> "b"), "PLAIN",
        Array[Byte](0, 103, 0, 104), "en_US"),
      ConnectionTune(2047, 131072, 0),
      ConnectionOpen("/"),
      ChannelOpen(),
      ExchangeDeclare("logs", "fanout", passive = false, durable = true,
        autoDelete = false, internal = false, noWait = false,
        Map("alternate-exchange" -> "alt")),
      QueueDeclare("q1", passive = false, durable = true, exclusive = false,
        autoDelete = true, noWait = false, Map.empty),
      QueueDeclareOk("q1", 7, 1),
      QueueBind("q1", "logs", "rk", noWait = false, Map.empty),
      BasicQos(0, 50, global = false),
      BasicConsume("q1", "ctag", noLocal = false, noAck = true,
        exclusive = false, noWait = false, Map.empty),
      BasicPublish("logs", "rk", mandatory = true, immediate = false),
      BasicDeliver("ctag", 99L, redelivered = true, "logs", "rk"),
      BasicAck(12L, multiple = true))
    methods.foreach { m =>
      val parsed = parseMethod(m.encode)
      (m, parsed) match {
        case (a: ConnectionStartOk, b: ConnectionStartOk) =>
          // Array equality is referential; compare fields explicitly
          assert(a.clientProps == b.clientProps && a.mechanism == b.mechanism)
          assert(a.response.toSeq == b.response.toSeq && a.locale == b.locale)
        case _ => assert(parsed == m, s"round-trip mismatch for $m")
      }
    }
    // content header: flags drive which properties are present
    val h = parseHeader(
      headerFrame(1, ContentHeader(1234L, Some("text/plain"), Some(2))).payload)
    assert(h == ContentHeader(1234L, Some("text/plain"), Some(2)))
    val h2 = parseHeader(headerFrame(1, ContentHeader(0L, None, None)).payload)
    assert(h2 == ContentHeader(0L, None, None))
    // body fragmentation at frame-max reassembles exactly
    val body = Array.tabulate[Byte](300000)(i => (i % 251).toByte)
    val frames = bodyFrames(1, body, frameMax = 4096)
    assert(frames.forall(_.payload.length <= 4096 - 8))
    assert(frames.flatMap(_.payload).toSeq == body.toSeq)
  }

  test("publish/consume/ack round-trips over real AMQP frames") {
    val srv = new AmqpServer(0, None)
    try {
      val log = new AmqpConsumerLog("localhost", srv.boundPort, "amqp_rt")
      log.publish("""{"a":1}""")
      log.publish("line1\nline2\tand a tab", "text/plain")
      // a body larger than frame-max exercises fragmentation both ways
      val big = "x" * 200000
      log.publish(big, "text/plain")
      assert(log.latest == 3L)
      val msgs = log.slice(0, 10)
      assert(msgs.map(_.offset).toSeq == Seq(0L, 1L, 2L))
      assert(msgs(0).contentType == "application/json")
      assert(msgs(1).contentType == "text/plain")
      assert(msgs(1).body == "line1\nline2\tand a tab")
      assert(msgs(2).body == big)
      log.ack(2)
      assert(log.committed == 2L)
      assert(log.slice(0, 10).map(_.offset).toSeq == Seq(2L))
      log.closeConnection()
    } finally srv.stop()
  }

  test("latest waits for the backlog queued before subscribe, by count") {
    val srv = new AmqpServer(0, None)
    try {
      val pub = new AmqpConnection("localhost", srv.boundPort)
      try {
        pub.declareExchange("owed_backlog", "fanout", durable = true, Map.empty)
        pub.declareQueue("owed_backlog")
        pub.bind("owed_backlog", "owed_backlog")
        (0 until 20000).foreach(i =>
          pub.publish("owed_backlog", s"""{"i":$i}""", "application/json"))
        // the broker answers this RPC after every publish sent before it
        assert(pub.queueBacklog("owed_backlog") == 20000)
      } finally pub.close()
      val log = new AmqpConsumerLog("localhost", srv.boundPort, "owed_backlog")
      try {
        // queue.declare-ok said 20000: the first latest is all of it
        assert(log.latest == 20000L)
        assert(log.slice(19999, 20000).map(_.body).toSeq ==
          Seq("""{"i":19999}"""))
      } finally log.closeConnection()
    } finally srv.stop()
  }

  test("latest on a never-published queue is 0, without waiting out the cap") {
    val srv = new AmqpServer(0, None)
    try {
      val log = new AmqpConsumerLog("localhost", srv.boundPort, "owed_empty")
      try {
        val t0 = System.nanoTime()
        assert(log.latest == 0L)
        val secs = (System.nanoTime() - t0) / 1e9
        assert(secs < 2.0, s"latest on an empty queue took $secs s")
      } finally log.closeConnection()
    } finally srv.stop()
  }

  test("slice past the owed deliveries returns what there is, not at a deadline") {
    val srv = new AmqpServer(0, None)
    try {
      val log = new AmqpConsumerLog("localhost", srv.boundPort, "owed_short")
      try {
        (0 until 3).foreach(i => log.publish(s"""{"i":$i}"""))
        val t0 = System.nanoTime()
        val msgs = log.slice(0, 10)
        val secs = (System.nanoTime() - t0) / 1e9
        assert(msgs.map(_.offset).toSeq == Seq(0L, 1L, 2L))
        assert(secs < 10.0, s"slice(0, 10) over 3 messages took $secs s")
      } finally log.closeConnection()
    } finally srv.stop()
  }

  test("a size-capped batch waits only for the rows it admits; the report and the AvailableNow pin count the whole backlog") {
    val srv = new AmqpServer(0, None)
    val ex = "admitted_wait"
    try {
      val pub = new AmqpConnection("localhost", srv.boundPort)
      try {
        pub.declareExchange(ex, "fanout", durable = true, Map.empty)
        pub.declareQueue(ex)
        pub.bind(ex, ex)
        (0 until 40000).foreach(i =>
          pub.publish(ex, s"""{"i":$i}""", "application/json"))
        assert(pub.queueBacklog(ex) == 40000)
      } finally pub.close()
      val url = s"amqp://localhost:${srv.boundPort}"
      val stream = new MqMicroBatchStream(ex, Some(20000L), Some(url), 5000)
      try {
        assert(stream.latestOffset(MqOffset(0), ReadLimit.maxRows(20000)) ==
          MqOffset(20000))
        // buffered plus owed, without waiting
        assert(stream.reportLatestOffset() == MqOffset(40000))
        stream.prepareForTriggerAvailableNow()
        // a publish after the pin is a later drain's
        AmqpBroker.log("localhost", srv.boundPort, ex).publish("""{"late":1}""")
        assert(stream.latestOffset(MqOffset(0), ReadLimit.allAvailable()) ==
          MqOffset(40000))
      } finally AmqpBroker.log("localhost", srv.boundPort, ex).closeConnection()
    } finally srv.stop()
  }

  /** A relay to the broker at `port` that passes the broker's frames on
    * until `bodies` body frames have gone through, then holds the rest
    * back: a broker whose deliveries stall mid-backlog. Returns the
    * relay's port and a function that closes it.
    */
  private def stallingRelay(port: Int, bodies: Int): (Int, () => Unit) = {
    val ss = new java.net.ServerSocket(0)
    val socks = new ConcurrentLinkedQueue[java.net.Socket]()
    val t = new Thread(() =>
      try {
        val client = ss.accept(); socks.add(client)
        val broker = new java.net.Socket("localhost", port); socks.add(broker)
        val up = new Thread(() =>
          try client.getInputStream.transferTo(broker.getOutputStream)
          catch { case _: java.io.IOException => () })
        up.setDaemon(true); up.start()
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(broker.getInputStream))
        val out = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(client.getOutputStream))
        var n = 0
        while (n < bodies) {
          val f = Amqp.readFrame(in)
          Amqp.writeFrame(out, f)
          if (f.tpe == Amqp.FrameBody) n += 1
          if (in.available() == 0) out.flush()
        }
        out.flush()
      } catch { case _: java.io.IOException => () })
    t.setDaemon(true); t.start()
    (ss.getLocalPort, () => { ss.close(); socks.forEach(_.close()) })
  }

  test("a size-capped batch returns once its rows arrive, while the rest of the backlog is still owed") {
    val srv = new AmqpServer(0, None)
    val ex = "admitted_stall"
    try {
      val pub = new AmqpConnection("localhost", srv.boundPort)
      try {
        pub.declareExchange(ex, "fanout", durable = true, Map.empty)
        pub.declareQueue(ex)
        pub.bind(ex, ex)
        (0 until 40000).foreach(i =>
          pub.publish(ex, s"""{"i":$i}""", "application/json"))
        assert(pub.queueBacklog(ex) == 40000)
      } finally pub.close()
      // the consumer receives 30000 of the 40000 it is owed
      val (port, closeRelay) = stallingRelay(srv.boundPort, 30000)
      val stream = new MqMicroBatchStream(ex, Some(20000L),
        Some(s"amqp://localhost:$port"), 5000)
      try {
        assert(stream.latestOffset(MqOffset(0), ReadLimit.maxRows(20000)) ==
          MqOffset(20000))
        // the 10000 held back are still owed: a wait for the whole
        // backlog would have run out its cap and given them up
        assert(stream.reportLatestOffset() == MqOffset(40000))
      } finally {
        closeRelay()
        AmqpBroker.log("localhost", port, ex).closeConnection()
      }
    } finally srv.stop()
  }

  test("a message published to an idle consumer arrives in under 1 s") {
    val srv = new AmqpServer(0, None)
    try {
      val got = new java.util.concurrent.LinkedBlockingQueue[String]()
      val sub = new AmqpConnection("localhost", srv.boundPort)
      val pub = new AmqpConnection("localhost", srv.boundPort)
      try {
        sub.onDeliver = (_, _, body, _) => got.put(new String(body, "UTF-8"))
        sub.declareExchange("idle_flush", "fanout", durable = false, Map.empty)
        sub.declareQueue("idle_flush")
        sub.bind("idle_flush", "idle_flush")
        sub.consume("idle_flush")
        Thread.sleep(200) // the pump idles on an empty log
        val t0 = System.nanoTime()
        pub.publish("idle_flush", """{"one":1}""", "application/json")
        val body = got.poll(5, java.util.concurrent.TimeUnit.SECONDS)
        val secs = (System.nanoTime() - t0) / 1e9
        assert(body == """{"one":1}""")
        assert(secs < 1.0, s"the delivery took $secs s")
      } finally { pub.close(); sub.close() }
    } finally srv.stop()
  }

  test("exchange.declare kwargs pass through; durable=false skips the WAL") {
    val wal = tmp("amqp-decl-wal")
    val port = freePort()
    val srv1 = new AmqpServer(port, Some(wal))
    // kwargs ride the real protocol: durable bit + arguments table
    Broker.declare("amqp_durable", Some(s"amqp://localhost:$port"),
      Map("exchange_type" -> "fanout", "x-custom" -> "v1"))
    Broker.declare("amqp_transient", Some(s"amqp://localhost:$port"),
      Map("durable" -> "false", "exchange_type" -> "topic"))
    assert(srv1.declared("amqp_durable") ==
      Map("durable" -> "true", "exchange_type" -> "fanout", "x-custom" -> "v1"))
    assert(srv1.declared("amqp_transient")("durable") == "false")
    assert(srv1.declared("amqp_transient")("exchange_type") == "topic")
    val d = new AmqpConsumerLog("localhost", port, "amqp_durable")
    val t = new AmqpConsumerLog("localhost", port, "amqp_transient")
    d.publish("""{"keep":1}""")
    t.publish("""{"gone":1}""")
    assert(d.latest == 1L && t.latest == 1L)
    d.closeConnection(); t.closeConnection()
    srv1.stop()
    val srv2 = bindServer(port, Some(wal))
    try {
      val d2 = new AmqpConsumerLog("localhost", port, "amqp_durable")
      val t2 = new AmqpConsumerLog("localhost", port, "amqp_transient")
      assert(d2.latest == 1L) // durable exchange survived the restart
      assert(t2.latest == 0L) // transient one did not
      assert(d2.slice(0, 10).map(_.body).toSeq == Seq("""{"keep":1}"""))
      d2.closeConnection(); t2.closeConnection()
    } finally srv2.stop()
  }

  private def eventually[T](what: String)(f: => Option[T]): T = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var r = f
    while (r.isEmpty && System.nanoTime() < deadline) { Thread.sleep(20); r = f }
    r.getOrElse(fail(s"timed out waiting for $what"))
  }

  test("exchange.declare kwargs: passive checks existence, 404s when missing") {
    val port = freePort()
    val srv = new AmqpServer(port, None)
    try {
      val url = Some(s"amqp://localhost:$port")
      // passive declare of an unknown exchange: broker answers a 404
      // channel close, surfaced promptly as the rpc error
      val e = intercept[java.io.IOException] {
        Broker.declare("kw_missing", url, Map("passive" -> "true"))
      }
      assert(e.getMessage.contains("404"), e.getMessage)
      assert(srv.declared("kw_missing").isEmpty,
        "passive declare must not create the exchange")
      // declare (with an arguments-table entry), then passive re-check
      Broker.declare("kw_ex", url,
        Map("exchange_type" -> "fanout", "durable" -> "false",
          "arguments.x-message-ttl" -> "60000"))
      Broker.declare("kw_ex", url, Map("passive" -> "true"))
      assert(srv.declared("kw_ex")("x-message-ttl") == "60000")
    } finally srv.stop()
  }

  test("exchange.declare kwargs: internal exchanges refuse direct publishes") {
    val port = freePort()
    val srv = new AmqpServer(port, None)
    try {
      val url = Some(s"amqp://localhost:$port")
      Broker.declare("kw_internal", url,
        Map("internal" -> "true", "durable" -> "false"))
      assert(srv.declared("kw_internal")("internal") == "true")
      val raw = new AmqpConnection("localhost", port)
      raw.publish("kw_internal", """{"refused":1}""", "application/json")
      // the broker answers basic.publish with a 403 channel close
      eventually("publisher channel death") {
        if (raw.isDead) Some(()) else None
      }
      // and the message never landed: passive queue introspection via a
      // fresh connection reports an empty backlog
      val check = new AmqpConnection("localhost", port)
      try {
        check.declareQueue("kw_internal")
        check.bind("kw_internal", "kw_internal")
        assert(check.queueBacklog("kw_internal") == 0)
      } finally check.close()
    } finally srv.stop()
  }

  test("basic.return: mandatory publish to an unbound exchange comes back NO_ROUTE") {
    val port = freePort()
    val srv = new AmqpServer(port, None)
    try {
      val raw = new AmqpConnection("localhost", port)
      val returned = new java.util.concurrent.LinkedBlockingQueue[
        (Int, String, String, String)]()
      raw.onReturn = (code, text, ex, body) =>
        { returned.put((code, text, ex, body)); () }
      try {
        // no queue bound to ret_ex: the mandatory publish must come
        // straight back as basic.return(312 NO_ROUTE) + content
        raw.publish("ret_ex", """{"boomerang":1}""", "application/json",
          mandatory = true)
        val r = returned.poll(5, java.util.concurrent.TimeUnit.SECONDS)
        assert(r != null, "no basic.return arrived")
        assert(r._1 == 312 && r._2 == "NO_ROUTE" && r._3 == "ret_ex")
        assert(r._4 == """{"boomerang":1}""")
        // and the message was never enqueued
        raw.declareQueue("ret_ex")
        raw.bind("ret_ex", "ret_ex")
        assert(raw.queueBacklog("ret_ex") == 0)
        // with a binding in place the same publish routes silently
        raw.publish("ret_ex", """{"kept":1}""", "application/json",
          mandatory = true)
        eventually("routed mandatory publish lands") {
          if (raw.queueBacklog("ret_ex") == 1) Some(()) else None
        }
        assert(returned.isEmpty, "routed publish must not return")
        // non-mandatory to an unbound exchange still just enqueues
        raw.publish("ret_ex2", """{"fire":1}""", "application/json")
        assert(returned.isEmpty)
      } finally raw.close()
    } finally srv.stop()
  }

  test("basic.nack: requeue=false discards like an ack; requeue=true is a 540 channel error") {
    val port = freePort()
    val srv = new AmqpServer(port, None)
    try {
      val log = new AmqpConsumerLog("localhost", port, "nack_ex")
      (0 until 3).foreach(i => log.publish(s"""{"i":$i}"""))
      assert(log.slice(0, 3).length == 3) // subscribes + drains
      // reach under the log for the raw connection to emit the frame
      val raw = new AmqpConnection("localhost", port)
      try {
        raw.declareQueue("nack_ex"); raw.bind("nack_ex", "nack_ex")
        assert(raw.queueBacklog("nack_ex") == 3)
        // the consumer's channel owns the delivery tags: nack through
        // a fresh consuming connection
        val c2 = new AmqpConnection("localhost", port)
        try {
          c2.declareQueue("nack_ex"); c2.bind("nack_ex", "nack_ex")
          c2.consume("nack_ex")
          c2.nackWire(1L, requeue = false) // discard msg offset 0
          eventually("nack(requeue=false) advances the watermark") {
            if (raw.queueBacklog("nack_ex") == 2) Some(()) else None
          }
          // requeue=true cannot be honored by a log broker: channel
          // exception 540, surfaced as connection death client-side
          c2.nackWire(2L, requeue = true)
          eventually("nack(requeue=true) raises the 540") {
            if (c2.isDead) Some(()) else None
          }
        } finally if (!c2.isDead) c2.close()
      } finally raw.close()
      log.closeConnection()
    } finally srv.stop()
  }

  test("exchange.declare kwargs: auto_delete destroys on last consumer exit") {
    val wal = tmp("amqp-autodel-wal")
    val port = freePort()
    val srv = new AmqpServer(port, Some(wal))
    try {
      val url = Some(s"amqp://localhost:$port")
      Broker.declare("kw_auto", url, Map("auto_delete" -> "true"))
      assert(srv.declared("kw_auto")("auto_delete") == "true")
      val c1 = new AmqpConsumerLog("localhost", port, "kw_auto")
      c1.publish("""{"a":1}""")
      assert(c1.latest == 1L)
      c1.closeConnection() // the exchange's LAST consumer goes away
      eventually("auto_delete teardown") {
        if (srv.declared("kw_auto").isEmpty) Some(()) else None
      }
      // destroyed means destroyed: a passive declare now 404s, and a
      // fresh consumer starts from an EMPTY log (the WAL is gone too,
      // despite the exchange having defaulted to durable)
      val e = intercept[java.io.IOException] {
        Broker.declare("kw_auto", url, Map("passive" -> "true"))
      }
      assert(e.getMessage.contains("404"), e.getMessage)
      val c2 = new AmqpConsumerLog("localhost", port, "kw_auto")
      try assert(c2.latest == 0L) finally c2.closeConnection()
    } finally srv.stop()
  }

  test("exchange.declare kwargs: unknown names are rejected, pika-parity") {
    // `exclusive` belongs to queue_declare; pika's exchange_declare
    // raises TypeError on it — the engine refuses the same set at the
    // same moment (bind time), on EVERY transport
    val e = intercept[IllegalArgumentException] {
      Broker.declare("kw_bad", None, Map("exclusive" -> "true"))
    }
    assert(e.getMessage.contains("exclusive"))
    val e2 = intercept[IllegalArgumentException] {
      Broker.declare("kw_bad2", Some("tcp://localhost:1"),
        Map("durrable" -> "true")) // typo must not silently no-op
    }
    assert(e2.getMessage.contains("durrable"))
  }

  test("broker restart: un-acked suffix is redelivered on the new session") {
    val wal = tmp("amqp-redeliver-wal")
    val port = freePort()
    val srv1 = new AmqpServer(port, Some(wal))
    val log = new AmqpConsumerLog("localhost", port, "amqp_restart")
    (0 until 5).foreach(i => log.publish(s"""{"i":$i}"""))
    assert(log.slice(0, 5).length == 5)
    log.ack(2) // basic.ack multiple=true over the wire
    // basic.ack is fire-and-forget (protocol property): wait until the
    // broker's backlog reflects it before killing the process, so the
    // redelivery assertion below is deterministic
    val probe = new AmqpConnection("localhost", port)
    val deadline = System.nanoTime() + 5L * 1000000000L
    while (probe.queueBacklog("amqp_restart") != 3 &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(probe.queueBacklog("amqp_restart") == 3)
    probe.close()
    srv1.stop()
    // the same consumer instance reconnects to the restarted broker;
    // its un-acked buffer is voided and the broker redelivers 2..4
    val srv2 = bindServer(port, Some(wal))
    try {
      val msgs = log.slice(2, 10)
      assert(msgs.map(_.offset).toSeq == Seq(2L, 3L, 4L))
      assert(msgs.map(_.body).toSeq ==
        (2 until 5).map(i => s"""{"i":$i}"""))
      log.ack(5)
      assert(log.committed == 5L)
      log.closeConnection()
    } finally srv2.stop()
  }

  test("broker restart: a publish racing the dead session goes out on a new one") {
    // the consumer's reader thread notices the dead socket at some point
    // during the next publish; each round lands that publish wherever
    // the race falls
    val port = freePort()
    (0 until 50).foreach { i =>
      val srv1 = bindServer(port, None)
      val log = new AmqpConsumerLog("localhost", port, s"race_$i")
      log.publish("""{"before":1}""")
      assert(log.latest == 1L)
      srv1.stop()
      val srv2 = bindServer(port, None)
      try {
        log.publish("""{"after":1}""")
        assert(log.slice(0, 1).map(_.body).toSeq == Seq("""{"after":1}"""))
        log.closeConnection()
      } finally srv2.stop()
    }
  }

  test("streaming query drains an AMQP broker end-to-end") {
    val srv = new AmqpServer(0, None)
    try {
      val url = s"amqp://localhost:${srv.boundPort}"
      val pub = AmqpBroker.log("localhost", srv.boundPort, "amqp_stream")
      (1 to 12).foreach(i => pub.publish(s"""{"i":$i}"""))
      val got = new ConcurrentLinkedQueue[(Long, String)]()
      val q = spark.readStream.format("graftmq")
        .option("exchange", "amqp_stream")
        .option("broker", url)
        .option("maxMessagesPerTrigger", "5")
        .option("rowsPerPartition", "2")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r =>
            got.add((r.getAs[Long]("offset"), r.getAs[String]("value"))))
        }
        .option("checkpointLocation", tmp("amqp-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      import scala.jdk.CollectionConverters._
      assert(got.asScala.map(_._1).toSeq.sorted == (0L until 12L))
      assert(got.asScala.map(_._2).toSet ==
        (1 to 12).map(i => s"""{"i":$i}""").toSet)
    } finally srv.stop()
  }

  test("no loss across a broker restart mid-stream (at-least-once)") {
    val wal = tmp("amqp-eo-wal")
    val port = freePort()
    val table = new ConcurrentLinkedQueue[String]()
    def drain(): Unit = {
      val q = spark.readStream.format("graftmq")
        .option("exchange", "amqp_eo")
        .option("broker", s"amqp://localhost:$port")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => table.add(r.getAs[String]("value")))
        }
        .option("checkpointLocation", wal.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    val srv1 = new AmqpServer(port, Some(wal))
    val pub1 = AmqpBroker.log("localhost", port, "amqp_eo")
    (0 until 6).foreach(i => pub1.publish(s"""{"i":$i}"""))
    drain()
    srv1.stop() // broker dies; Spark checkpoint + broker WAL survive
    val srv2 = bindServer(port, Some(wal))
    try {
      val pub2 = AmqpBroker.log("localhost", port, "amqp_eo")
      (6 until 9).foreach(i => pub2.publish(s"""{"i":$i}"""))
      drain()
      import scala.jdk.CollectionConverters._
      // AMQP redelivery is at-least-once: the broker may redeliver the
      // tail whose ack raced the shutdown, so assert no loss + set
      // equality (the documented contract: exactly-once only with an
      // idempotent sink — which a keyed upsert provides)
      val vals = table.asScala.toSeq
      assert(vals.toSet == (0 until 9).map(i => s"""{"i":$i}""").toSet,
        s"lost or alien values: $vals")
    } finally srv2.stop()
  }

  test("AMQP broker runs as a separate OS process (own JVM, no Spark)") {
    val scalaLib = new java.io.File("/opt/spark/jars").listFiles()
      .filter(_.getName.startsWith("scala-library")).head.getPath
    val cp = s"target/scala-2.13/classes:$scalaLib"
    val wal = tmp("amqp-proc-wal")
    val proc = new ProcessBuilder(
      "java", "-cp", cp, "graft.sources.amqp.AmqpServerMain", "0", wal.toString)
      .redirectErrorStream(true).start()
    try {
      val out = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val ready = out.readLine()
      assert(ready != null && ready.startsWith("READY "), s"got: $ready")
      val port = ready.split(" ")(1).toInt
      val pub = AmqpBroker.log("localhost", port, "amqp_proc")
      (1 to 4).foreach(i => pub.publish(s"""{"i":$i}"""))
      val got = new ConcurrentLinkedQueue[String]()
      val q = spark.readStream.format("graftmq")
        .option("exchange", "amqp_proc")
        .option("broker", s"amqp://localhost:$port")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => got.add(r.getAs[String]("value")))
        }
        .option("checkpointLocation", tmp("amqp-proc-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq.sorted ==
        (1 to 4).map(i => s"""{"i":$i}""").sorted)
    } finally proc.destroyForcibly()
  }
}
