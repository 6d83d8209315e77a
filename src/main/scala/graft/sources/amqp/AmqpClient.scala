package graft.sources.amqp

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import graft.sources.{BrokerLog, PackedSlice}

import Amqp._

/** One AMQP 0-9-1 client connection (pure JDK): protocol handshake,
  * channel 1, synchronous RPCs for declare/bind/consume, asynchronous
  * delivery assembly on a reader thread, frame-max-fragmented publish.
  * Works against [[AmqpServer]] and, by construction, any broker
  * speaking AMQP 0-9-1 — the protocol of the reference's input side
  * (reference amqp.py:36-53 connects pika to a RabbitMQ).
  */
final class AmqpConnection(url: AmqpUrl) {
  def this(host: String, port: Int, user: String = "guest",
      password: String = "guest", vhost: String = "/",
      tls: Boolean = false) =
    this(AmqpUrl(host, port, user, password, vhost, tls))

  private val host = url.host
  private val port = url.port
  private val user = url.user
  private val password = url.password
  private val vhost = url.vhost
  private val tls = url.tls

  @volatile private var deadFlag = false
  def isDead: Boolean = deadFlag

  // connection.blocked state (RabbitMQ extension, pika semantics):
  // the broker told us it stopped reading publishes. Publishes stall
  // until unblocked; with blocked_connection_timeout set, a watchdog
  // tears the connection down past the deadline exactly like pika's
  // ConnectionBlockedTimeout.
  @volatile private var blockedFlag = false
  @volatile private var blockedAtNanos = 0L
  @volatile private var deathReason: Option[String] = None
  private val blockLock = new Object
  def isBlocked: Boolean = blockedFlag
  /** Why the connection died, when the death was protocol-initiated
    * (blocked-timeout) rather than an IO failure.
    */
  def deadReason: Option[String] = deathReason

  /** Called for each assembled delivery: (deliveryTag, contentType,
    * body, redelivered), the body as the UTF-8 bytes the reader
    * assembled (it is not used again). Set before [[consume]].
    */
  @volatile var onDeliver: (Long, String, Array[Byte], Boolean) => Unit =
    (_, _, _, _) => ()
  /** Called once when the connection dies (reader IOException). */
  @volatile var onDead: () => Unit = () => ()

  // pika Parameters.stack_timeout: ONE overall deadline for the full
  // protocol-stack bring-up — TCP connect (retries included), TLS,
  // and the AMQP handshake through connection.open-ok. Handshake
  // reads ride a shrinking SO_TIMEOUT derived from the remaining
  // budget; past the deadline the bring-up fails with a pika-shaped
  // error instead of hanging on a silent or slow-lorising broker.
  private val stackDeadline: Option[Long] =
    url.stackTimeout.map(t => System.nanoTime + (t * 1e9).toLong)
  private def stackRemainingMs(): Option[Int] = stackDeadline.map { d =>
    val ms = (d - System.nanoTime) / 1000000L
    if (ms <= 0) throw stackTimeoutError()
    math.min(ms, Int.MaxValue.toLong).toInt
  }
  private def stackTimeoutError(): java.io.IOException =
    new java.io.IOException("protocol stack bring-up exceeded " +
      s"stack_timeout=${url.stackTimeout.get}s " +
      "(pika Parameters.stack_timeout)")

  private def connectOnce(): Socket = {
    val plain = new Socket()
    // pika tcp_options → JVM socket options. Keepalive TUNING keys
    // are inert without SO_KEEPALIVE itself, so any of them implies
    // it on (pika relies on the caller setting it; implying it here
    // is the only honest reading of "I asked for a 60 s keepidle").
    if (url.tcpOptions.nonEmpty) {
      import java.net.StandardSocketOptions.SO_KEEPALIVE
      import jdk.net.ExtendedSocketOptions._
      plain.setOption[java.lang.Boolean](SO_KEEPALIVE,
        url.tcpOptions.get("SO_KEEPALIVE").forall(_ != 0))
      url.tcpOptions.get("TCP_KEEPIDLE")
        .foreach(v => plain.setOption[Integer](TCP_KEEPIDLE, v))
      url.tcpOptions.get("TCP_KEEPINTVL")
        .foreach(v => plain.setOption[Integer](TCP_KEEPINTERVAL, v))
      url.tcpOptions.get("TCP_KEEPCNT")
        .foreach(v => plain.setOption[Integer](TCP_KEEPCOUNT, v))
    }
    val sockMs = math.max(1, (url.socketTimeout * 1000).toInt)
    plain.connect(new java.net.InetSocketAddress(host, port),
      stackRemainingMs().map(math.min(_, sockMs)).getOrElse(sockMs))
    if (tls) {
      // the TLS handshake reads ride the stack budget too
      stackRemainingMs().foreach(plain.setSoTimeout(_))
      // amqps: wrap the connected socket in a TLS context honoring
      // the URL's ssl_options (ca_certs → trust store, certfile/
      // keyfile → mutual-TLS key store); none given ⇒ the JVM default
      // context — pika's amqps handling, JVM-native
      val ctx = url.sslOptions.map(Tls.context)
        .getOrElse(javax.net.ssl.SSLContext.getDefault)
      val sni = url.sslOptions.flatMap(_.serverHostname).getOrElse(host)
      val s = ctx.getSocketFactory.createSocket(plain, sni, port, true)
        .asInstanceOf[javax.net.ssl.SSLSocket]
      // handshake inside the connect step so a trust failure rides
      // the connection_attempts retry/surface path like any IOError
      s.startHandshake()
      s
    } else plain
  }

  // pika URLParameters connection_attempts/retry_delay: retry the TCP
  // connect (only — a handshake refusal like 403 is final) with the
  // configured pause, surfacing the last failure when attempts run out
  private val sock = {
    var attempt = 1
    var s: Socket = null
    while (s == null) {
      try s = connectOnce()
      catch { case e: java.io.IOException =>
        // a blown stack deadline is FINAL — retrying cannot un-spend
        // the budget (attempts exhausted is final as before)
        if (attempt >= url.connectionAttempts ||
            stackDeadline.exists(_ - System.nanoTime <= 0)) throw e
        attempt += 1
        Thread.sleep(math.max(0L, (url.retryDelay * 1000).toLong))
      }
    }
    s
  }
  // reader blocks on deliveries indefinitely (0) — unless a stack
  // deadline is armed, in which case handshake reads stay bounded
  // (expectSync re-arms per read; post-handshake code below restores
  // the steady-state timeout)
  sock.setSoTimeout(stackRemainingMs().getOrElse(0))
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(
    new java.io.BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new DataOutputStream(
    new java.io.BufferedOutputStream(sock.getOutputStream))
  // frame_max URL param lowers the cap we negotiate down from
  private var frameMax =
    if (url.frameMax > 0) math.min(DefaultFrameMax, url.frameMax)
    else DefaultFrameMax
  private val replies = new LinkedBlockingQueue[Method]()

  // ---- handshake (synchronous, before the reader thread owns `in`) --
  out.write(ProtocolHeader); out.flush()
  expectSync[ConnectionStart]()
  // SASL PLAIN response: NUL authcid NUL passwd (RFC 4616), from the
  // connection URL exactly as pika builds it from URLParameters
  // client_properties: URL-supplied entries merge OVER the defaults
  // (pika URLParameters semantics) and ride connection.start-ok as a
  // plain AMQP field table — the codec already speaks tables
  // capabilities ride as a nested table; advertising
  // connection.blocked is what makes a RabbitMQ-shaped broker send
  // the blocked/unblocked frames at all (pika advertises it too)
  sendFrames(methodFrame(0, ConnectionStartOk(
    Map[String, Any]("product" -> "graft-spark", "version" -> "0-9-1",
      "capabilities" -> Map[String, Any]("connection.blocked" -> true))
      ++ url.clientProperties,
    "PLAIN", ("\u0000" + user + "\u0000" + password).getBytes(UTF_8),
    url.locale)))
  private val tune = expectSync[ConnectionTune]()
  if (tune.frameMax > 0) frameMax = math.min(frameMax, tune.frameMax)
  // heartbeat: pika semantics - an explicit URL value wins, otherwise
  // accept whatever the broker proposed in tune (0 = disabled). The
  // tune-ok value is the operative interval for BOTH sides;
  // channel_max negotiates min-positive (0 means unlimited).
  private val heartbeatSecs = url.heartbeat.getOrElse(tune.heartbeat)
  private val channelMax = (url.channelMax, tune.channelMax) match {
    case (0, t) => t
    case (c, 0) => c
    case (c, t) => math.min(c, t)
  }
  sendFrames(methodFrame(0,
    ConnectionTuneOk(channelMax, frameMax, heartbeatSecs)))
  sendFrames(methodFrame(0, ConnectionOpen(vhost)))
  expectSync[ConnectionOpenOk]()
  // missed-heartbeat detection (pika semantics): with heartbeats on,
  // >2 intervals of inbound silence means the broker is gone — the
  // read timeout surfaces in the reader thread, which marks the
  // connection dead and fires onDead. The broker's own heartbeats
  // keep an idle-but-alive connection open.
  if (heartbeatSecs > 0) sock.setSoTimeout(heartbeatSecs * 2 * 1000)
  else sock.setSoTimeout(0) // stack deadline disarms post-handshake

  private def expectSync[M <: Method]()(implicit ct: ClassTag[M]): M = try {
    stackRemainingMs().foreach(sock.setSoTimeout(_))
    var f = readFrame(in)
    while (f.tpe == FrameHeartbeat) f = readFrame(in)
    parseMethod(f.payload) match {
      case m: M => m
      // a handshake-time connection.close carries the broker's refusal
      // (403 ACCESS_REFUSED bad credentials, 530 NOT_ALLOWED bad vhost)
      // — surface it verbatim instead of a generic mismatch
      case c: ConnectionClose =>
        try sendFrames(methodFrame(0, ConnectionCloseOk()))
        catch { case _: Exception => () }
        throw new java.io.IOException(
          s"broker refused connection: ${c.replyCode} ${c.replyText}")
      case other => throw new java.io.IOException(
        s"AMQP handshake: expected ${ct.runtimeClass.getSimpleName}, got $other")
    }
  } catch {
    // a handshake read outliving the armed deadline IS the stack
    // timeout (SO_TIMEOUT is only ever the stack budget here —
    // heartbeat timeouts arm after the handshake completes)
    case _: java.net.SocketTimeoutException if stackDeadline.isDefined =>
      throw stackTimeoutError()
  }

  private def sendFrames(frames: Frame*): Unit =
    sendWith(frames.foreach(writeFrame(out, _)))

  /** Runs `write` against `out` under its lock, then flushes. */
  private def sendWith(write: => Unit): Unit = out.synchronized {
    try {
      write
      out.flush()
    } catch {
      // a failed write may leave a torn frame on the wire: the
      // connection is unusable, even before the reader notices
      case e: java.io.IOException =>
        deadFlag = true
        try sock.close() catch { case _: Exception => () }
        throw e
    }
  }

  // ---- reader thread: deliveries + RPC replies ----------------------
  private var pendingDeliver: Option[BasicDeliver] = None
  private var pendingReturn: Option[BasicReturn] = None
  private var pendingHeader: Option[ContentHeader] = None
  private val bodyBuf = new java.io.ByteArrayOutputStream()

  /** Unroutable MANDATORY publishes handed back by the broker
    * (basic.return + content) — pika's `on_return_callback` surface.
    * Args: (replyCode, replyText, exchange, body).
    */
  @volatile var onReturn: (Int, String, String, String) => Unit =
    (_, _, _, _) => ()

  /** Hands the assembled content to its delivery or return. */
  private def finishContent(body: Array[Byte]): Unit = {
    val h = pendingHeader.get
    pendingHeader = None; bodyBuf.reset()
    (pendingDeliver, pendingReturn) match {
      case (Some(d), _) =>
        pendingDeliver = None
        onDeliver(d.deliveryTag, h.contentType.getOrElse("application/json"),
          body, d.redelivered)
      case (_, Some(r0)) =>
        pendingReturn = None
        onReturn(r0.replyCode, r0.replyText, r0.exchange, new String(body, UTF_8))
      case _ => ()
    }
  }

  private val reader = new Thread(() => {
    try {
      while (!deadFlag) {
        val f = readFrame(in)
        f.tpe match {
          case FrameHeartbeat => ()
          case FrameMethod => parseMethod(f.payload) match {
            case d: BasicDeliver => pendingDeliver = Some(d)
            case r0: BasicReturn => pendingReturn = Some(r0)
            case _: ConnectionBlocked => blockLock.synchronized {
              blockedFlag = true
              blockedAtNanos = System.nanoTime()
              blockLock.notifyAll()
            }
            case _: ConnectionUnblocked => blockLock.synchronized {
              blockedFlag = false
              blockLock.notifyAll()
            }
            case c: ConnectionClose =>
              sendFrames(methodFrame(0, ConnectionCloseOk()))
              throw new java.io.IOException(
                s"broker closed connection: ${c.replyCode} ${c.replyText}")
            case c: ChannelClose =>
              sendFrames(methodFrame(f.channel, ChannelCloseOk()))
              // surface the error to the in-flight rpc() FIRST: the
              // caller gets the broker's reply code immediately instead
              // of a 15 s reply timeout (e.g. passive-declare 404)
              replies.put(c)
              throw new java.io.IOException(
                s"broker closed channel: ${c.replyCode} ${c.replyText}")
            case m => replies.put(m)
          }
          case FrameHeader =>
            val h = parseHeader(f.payload)
            pendingHeader = Some(h)
            if (h.bodySize == 0) finishContent(Array.emptyByteArray)
          case FrameBody => pendingHeader match {
            // a body in one frame is that frame's payload, uncopied
            case Some(h) if bodyBuf.size() == 0 && f.payload.length >= h.bodySize =>
              finishContent(f.payload)
            case Some(h) =>
              bodyBuf.write(f.payload)
              if (bodyBuf.size() >= h.bodySize) finishContent(bodyBuf.toByteArray)
            case None => ()
          }
          case _ => ()
        }
      }
    } catch {
      case _: Throwable =>
        deadFlag = true
        try sock.close() catch { case _: Exception => () }
        // no reply will come: fail an rpc() waiting on one now, not at
        // its 15 s timeout
        replies.put(
          ConnectionClose(320, "CONNECTION_FORCED - connection is dead", 0, 0))
        onDead()
    }
  }, s"graft-amqp-reader-$host-$port")
  reader.setDaemon(true)
  reader.start()

  // heartbeat sender: AMQP convention is to emit at half the
  // negotiated interval so the peer's full-interval deadline is never
  // grazed by scheduling jitter; inbound heartbeats are absorbed by
  // the reader loop above. Only started when heartbeats are on.
  if (heartbeatSecs > 0) {
    val hb = new Thread(() => {
      val pauseMs = math.max(1, heartbeatSecs) * 1000L / 2
      try {
        while (!deadFlag) {
          Thread.sleep(pauseMs)
          if (!deadFlag)
            sendFrames(Frame(FrameHeartbeat, 0, Array.emptyByteArray))
        }
      } catch { case _: Throwable => () } // connection death ends us
    }, s"graft-amqp-heartbeat-$host-$port")
    hb.setDaemon(true)
    hb.start()
  }

  // blocked_connection_timeout watchdog (pika URLParameters): armed
  // off the broker's connection.blocked frame; past the deadline the
  // connection is torn down with pika's ConnectionBlockedTimeout
  // message. Polling at 25 ms keeps the thread trivial; the deadline
  // itself is measured from the blocked frame's arrival.
  url.blockedConnectionTimeout.foreach { secs =>
    val wd = new Thread(() => {
      try {
        while (!deadFlag) {
          Thread.sleep(25)
          if (blockedFlag && !deadFlag &&
              System.nanoTime() - blockedAtNanos > (secs * 1e9).toLong) {
            deathReason = Some("Blocked connection timeout expired")
            deadFlag = true
            try sock.close() catch { case _: Exception => () }
            blockLock.synchronized(blockLock.notifyAll())
          }
        }
      } catch { case _: Throwable => () }
    }, s"graft-amqp-blocked-watchdog-$host-$port")
    wd.setDaemon(true)
    wd.start()
  }

  private def rpc[M <: Method](m: Method)(implicit ct: ClassTag[M]): M = {
    sendFrames(methodFrame(1, m))
    val r = replies.poll(15, TimeUnit.SECONDS)
    if (r == null) {
      deadFlag = true
      throw new java.io.IOException(s"AMQP RPC timeout awaiting reply to $m")
    }
    r match {
      case ok: M => ok
      case c: ChannelClose => throw new java.io.IOException(
        s"broker closed channel: ${c.replyCode} ${c.replyText}")
      case other => throw new java.io.IOException(
        s"expected ${ct.runtimeClass.getSimpleName}, got $other")
    }
  }

  rpc[ChannelOpenOk](ChannelOpen())

  // ---- channel operations ------------------------------------------
  def declareExchange(name: String, tpe: String, durable: Boolean,
      arguments: Map[String, Any]): Unit =
    declareExchange(name, tpe, passive = false, durable = durable,
      autoDelete = false, internal = false, arguments)

  /** Full-bit exchange.declare — every flag pika's `exchange_declare`
    * exposes (reference amqp.py:55-78 forwards them verbatim).
    */
  def declareExchange(name: String, tpe: String, passive: Boolean,
      durable: Boolean, autoDelete: Boolean, internal: Boolean,
      arguments: Map[String, Any]): Unit =
    rpc[ExchangeDeclareOk](ExchangeDeclare(name, tpe, passive = passive,
      durable = durable, autoDelete = autoDelete, internal = internal,
      noWait = false, arguments)): Unit

  /** Declares a durable queue; returns its ready-message count from
    * queue.declare-ok.
    */
  def declareQueue(queue: String): Int =
    rpc[QueueDeclareOk](QueueDeclare(queue, passive = false, durable = true,
      exclusive = false, autoDelete = false, noWait = false, Map.empty))
      .messageCount

  /** Passive declare: the un-acked backlog (message count) of a queue —
    * the one queue-introspection AMQP offers.
    */
  def queueBacklog(queue: String): Int =
    rpc[QueueDeclareOk](QueueDeclare(queue, passive = true, durable = true,
      exclusive = false, autoDelete = false, noWait = false, Map.empty))
      .messageCount

  def bind(queue: String, exchange: String): Unit =
    rpc[QueueBindOk](QueueBind(queue, exchange, routingKey = "",
      noWait = false, Map.empty)): Unit

  def qos(prefetchCount: Int): Unit =
    rpc[BasicQosOk](BasicQos(0, prefetchCount, global = false)): Unit

  def consume(queue: String): String =
    rpc[BasicConsumeOk](BasicConsume(queue, consumerTag = "",
      noLocal = false, noAck = false, exclusive = false, noWait = false,
      Map.empty)).consumerTag

  def publish(exchange: String, body: String, contentType: String,
      mandatory: Boolean = false): Unit =
    publish(exchange, body.getBytes(UTF_8), contentType, mandatory)

  /** basic.publish of a body's bytes, sent as they are. */
  def publish(exchange: String, body: Array[Byte], contentType: String,
      mandatory: Boolean): Unit = {
    // a blocked broker has stopped reading: stall the publish until
    // connection.unblocked (or death — including the blocked-timeout
    // teardown) instead of stuffing the socket buffer
    blockLock.synchronized {
      while (blockedFlag && !deadFlag) blockLock.wait(50)
    }
    if (deadFlag) throw new java.io.IOException(
      deathReason.getOrElse("connection is dead"))
    sendWith {
      writeFrame(out, methodFrame(1, BasicPublish(exchange, routingKey = "",
        mandatory = mandatory, immediate = false)))
      writeFrame(out, headerFrame(1,
        ContentHeader(body.length, Some(contentType), Some(2))))
      writeBodyFrames(out, 1, body, 0, body.length, frameMax)
    }
  }

  /** basic.nack on the wire — pika's `basic_nack` shape (the
    * reference's bad-JSON rejection, amqp.py:107-109). The engine's
    * own consumer dead-letters engine-side instead (§7.4 divergence),
    * but the frame is part of the client surface a broker expects.
    */
  def nackWire(deliveryTag: Long, requeue: Boolean): Unit =
    sendFrames(methodFrame(1,
      BasicNack(deliveryTag, multiple = false, requeue = requeue)))

  def ack(deliveryTag: Long, multiple: Boolean): Unit =
    sendFrames(methodFrame(1, BasicAck(deliveryTag, multiple)))

  def close(): Unit = {
    try {
      sendFrames(methodFrame(0, ConnectionClose(200, "bye", 0, 0)))
      replies.poll(2, TimeUnit.SECONDS) // best-effort close-ok
    } catch { case _: Exception => () }
    deadFlag = true
    try sock.close() catch { case _: Exception => () }
  }
}

/** [[BrokerLog]] over a live AMQP subscription: the adapter that lets
  * the graftmq Spark source consume from any AMQP 0-9-1 broker.
  *
  * AMQP has no replayable offsets (deliveries are push + per-channel
  * delivery tags), so this client manufactures the offset axis the
  * source's checkpointing needs:
  *
  *   - deliveries append to a local buffer and are numbered
  *     sequentially from `base`;
  *   - `ack(until)` sends `basic.ack(tag(until-1), multiple=true)` and
  *     drops the buffered prefix — broker truncation mirrors the log
  *     contract;
  *   - on reconnect (broker restart), the un-acked buffer is cleared:
  *     the broker redelivers exactly that un-acked suffix on the new
  *     session, which renumbers from `base` — no loss (at-least-once);
  *   - [[alignBase]] lets the source renumber a fresh consumer to its
  *     checkpointed position after a Spark restart (min-wins until the
  *     first slice/ack freezes the mapping).
  *
  * Because only this consumer instance holds the offset→tag map, the
  * source plans INLINE partitions in AMQP mode (executors cannot
  * re-fetch by offset — a protocol property, not an implementation
  * one: RabbitMQ queues are not seekable; Kafka-style replay needs a
  * log-structured broker, which the tcp:// transport provides).
  *
  * `latest` waits on a count, not on a quiet period: queue.declare-ok's
  * `message-count` at (re)subscribe, plus the publishes this log makes
  * on the same session, is what the broker owes the session. `latest`
  * blocks until the session has received what was owed when it was
  * called (capped, and ended by connection death), so
  * Trigger.AvailableNow pins a target that includes the backlog that
  * was queued at subscribe, and an empty queue answers at once. On
  * [[AmqpServer]] the count is exact: it is the un-acked suffix the
  * consumer pump delivers. On RabbitMQ it is the queue's ready count,
  * which for a fresh channel is the backlog; messages a dead session
  * still held arrive as redeliveries once the broker requeues them,
  * and land in a later trigger. `slice` and `ack` wait for a
  * redelivery only while the session is still owed deliveries.
  *
  * A micro-batch capped at `size_limit` waits only for the range it
  * admits: `latestUpTo(until)` returns once the buffer reaches `until`
  * or holds what is owed. Deliveries the cap outlasts are not waited
  * for again this session; reaching the admitted range first does not
  * count as that. `latestOwed` (Spark's reported latest offset) does
  * not wait: it is the buffer's end plus the deliveries still owed.
  *
  * Wake rule: a waiter records the delivered count it needs, and the
  * delivery callback wakes it only once that count is reached (or the
  * connection dies), not on every delivery.
  */
final class AmqpConsumerLog(url: AmqpUrl, exchange: String) extends BrokerLog {
  def this(host: String, port: Int, exchange: String) =
    this(AmqpUrl(host, port, "guest", "guest", "/", tls = false), exchange)

  private val lock = new Object
  private var conn: AmqpConnection = null
  private var base = 0L
  private var alignOffered = false
  private var aligned = false
  // index i => offset base + i
  private val buf = ArrayBuffer.empty[AmqpConsumerLog.Delivery]
  private var pubSeq = 0L
  // deliveries the broker owes this session, and those it has made
  private var owed = 0L
  private var delivered = 0L
  // the smallest delivered count a waiter needs before it is woken
  private var wakeAt = Long.MaxValue
  // the longest `latest` waits for owed deliveries
  private val latestCapNanos = 3L * 1000000000L

  private def ensureConnected(): Unit = lock.synchronized {
    if (conn == null || conn.isDead) {
      // the old session's un-acked deliveries are void: the broker will
      // redeliver them on the new session, renumbering from `base`
      buf.clear()
      delivered = 0
      val c = new AmqpConnection(url)
      c.onDeliver = (tag, ct, body, _) => lock.synchronized {
        // a replaced session's late delivery is void like its buffer
        if (conn eq c) {
          buf += AmqpConsumerLog.Delivery(tag, ct, body)
          delivered += 1
          if (delivered >= wakeAt) wake()
        }
      }
      c.onDead = () => lock.synchronized(wake())
      c.declareExchange(exchange, "fanout", durable = true, Map.empty)
      // deliveries wait for this lock and count once `conn` is `c`, so
      // none is counted before `owed` is set
      owed = c.declareQueue(exchange).toLong
      c.bind(exchange, exchange)
      c.consume(exchange)
      conn = c
    }
  }

  private def wake(): Unit = { wakeAt = Long.MaxValue; lock.notifyAll() }

  /** The delivered count at which the buffer reaches `until`, or at
    * which the session has everything it is owed, whichever is less.
    */
  private def needed(until: Long): Long = {
    val short = until - (base + buf.size)
    if (short >= owed - delivered) owed else delivered + math.max(0L, short)
  }

  /** Waits on `lock` until `delivered` reaches `count`, the connection
    * dies, or `deadline` (nanoTime) passes; woken once, not per delivery.
    */
  private def waitFor(count: Long, deadline: Long): Unit = {
    wakeAt = math.min(wakeAt, count)
    lock.wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
  }

  /** Waits (until `deadline`) while the buffer ends before `until` and
    * the broker still owes this session deliveries. A session that
    * dies meanwhile is replaced; the new one is owed the un-acked
    * suffix the broker redelivers.
    */
  private def awaitOwed(until: Long, deadline: Long): Unit = {
    ensureConnected()
    while (delivered < needed(until) && System.nanoTime() < deadline) {
      waitFor(needed(until), deadline)
      ensureConnected()
    }
  }

  override def alignBase(off: Long): Unit = lock.synchronized {
    if (!aligned && off > 0) {
      base = if (alignOffered) math.min(base, off) else off
      alignOffered = true
    }
  }

  /** Returns once the broker has the message: a passive queue.declare
    * follows the publish on the same channel, which the broker answers
    * in order. A session that dies under the publish (a broker restart
    * its reader has not reported yet) may have dropped it, so it goes
    * out once more on a fresh session.
    */
  override def publish(body: String,
      contentType: String = "application/json"): Long = {
    val c = lock.synchronized { ensureConnected(); conn }
    try publishConfirmed(c, body, contentType)
    catch {
      case _: java.io.IOException if c.isDead && c.deadReason.isEmpty =>
        publishConfirmed(lock.synchronized { ensureConnected(); conn },
          body, contentType)
    }
    lock.synchronized { pubSeq += 1; pubSeq - 1 } // AMQP returns no offset
  }

  // waits for the reply outside `lock`: the reader thread takes it to
  // hand over deliveries that arrive ahead of the reply
  private def publishConfirmed(c: AmqpConnection, body: String,
      contentType: String): Unit = {
    c.publish(exchange, body, contentType)
    c.queueBacklog(exchange)
    // the bound queue routes it back to this session
    lock.synchronized { if (conn eq c) owed += 1 }
  }

  override def latest: Long = latestUpTo(Long.MaxValue)

  override def latestUpTo(until: Long): Long = lock.synchronized {
    ensureConnected()
    // what is owed now; publishes racing this call are a later trigger's
    val target = needed(until)
    val c = conn
    val deadline = System.nanoTime() + latestCapNanos
    while (delivered < target && (conn eq c) && !c.isDead &&
        System.nanoTime() < deadline)
      waitFor(target, deadline)
    // deliveries the cap outlasted are not waited for again this session
    if (delivered < target && (conn eq c)) owed = delivered
    base + buf.size
  }

  override def latestOwed: Long =
    lock.synchronized(base + buf.size + math.max(0L, owed - delivered))

  override def committed: Long = lock.synchronized(base)

  override def slice(from: Long, until: Long): PackedSlice =
    lock.synchronized {
      aligned = true
      // an admitted range is owed to Spark: if a reconnect voided the
      // buffer, wait for the broker to redeliver it (bounded)
      awaitOwed(until, System.nanoTime() + 30L * 1000000000L)
      val lo = math.max(from, base)
      val hi = math.max(lo, math.min(until, base + buf.size))
      val i0 = (lo - base).toInt
      PackedSlice.pack(lo, (hi - lo).toInt)(
        i => buf(i0 + i).contentType, i => buf(i0 + i).body)
    }

  override def ack(until: Long): Unit = lock.synchronized {
    ensureConnected()
    aligned = true
    if (until > base) {
      // wait (bounded) for the tag of `until - 1` if a reconnect put a
      // redelivery in flight
      awaitOwed(until, System.nanoTime() + 10L * 1000000000L)
      val n = math.min(until - base, buf.size.toLong).toInt
      if (n > 0) {
        val tag = buf(n - 1).tag
        try conn.ack(tag, multiple = true)
        catch { case _: java.io.IOException => () } // redelivery will renumber
        buf.remove(0, n)
      }
      // Spark committed through `until`; keep the offset axis aligned
      // with the checkpoint even if the broker ack raced a reconnect
      base = until
    }
  }

  def closeConnection(): Unit = {
    // closes outside `lock`, so the reader can get past a delivery in
    // flight to the close-ok
    val c = lock.synchronized { val c = conn; conn = null; c }
    if (c != null) c.close()
  }
}

object AmqpConsumerLog {
  private final case class Delivery(tag: Long, contentType: String,
      body: Array[Byte])
}

/** Per-JVM registry of persistent AMQP consumers, one per
  * (broker, exchange) — the AMQP twin of [[graft.sources.MemoryBroker]]'s
  * exchange registry. The consumer must be a process-wide singleton:
  * it alone holds the delivery-tag↔offset map.
  */
object AmqpBroker {
  private val logs = new ConcurrentHashMap[String, AmqpConsumerLog]()

  def log(host: String, port: Int, exchange: String): AmqpConsumerLog =
    log(AmqpUrl(host, port, "guest", "guest", "/", tls = false), exchange)

  def log(url: AmqpUrl, exchange: String): AmqpConsumerLog =
    logs.computeIfAbsent(
      s"${url.user}@${url.host}:${url.port}/${url.vhost}/$exchange",
      _ => new AmqpConsumerLog(url, exchange))

  /** Declare-with-kwargs over a short-lived AMQP connection (the
    * reference declares on bind, amqp.py:55-78). Every kwarg pika's
    * `exchange_declare` accepts maps to its protocol field: `durable`,
    * `passive`, `auto_delete`, `internal` to their method bits,
    * `exchange_type` to the type field; `arguments.<k>` entries (the
    * flattening of pika's `arguments` dict) and bare `x-*` keys ride
    * the AMQP arguments table. Validation of unknown keys happens in
    * [[graft.sources.Broker.declare]], shared by every transport.
    */
  def declare(host: String, port: Int, exchange: String,
      kwargs: Map[String, String]): Unit =
    declare(AmqpUrl(host, port, "guest", "guest", "/", tls = false),
      exchange, kwargs)

  def declare(url: AmqpUrl, exchange: String,
      kwargs: Map[String, String]): Unit = {
    def bit(k: String) = kwargs.get(k).exists(_.equalsIgnoreCase("true"))
    val durable = !kwargs.get("durable").exists(_.equalsIgnoreCase("false"))
    val tpe = kwargs.getOrElse("exchange_type", "fanout")
    val args: Map[String, Any] = kwargs.collect {
      case (k, v) if k.startsWith("arguments.") =>
        k.stripPrefix("arguments.") -> (v: Any)
      case (k, v) if k.startsWith("x-") => k -> (v: Any)
    }
    val c = new AmqpConnection(url)
    try c.declareExchange(exchange, tpe, passive = bit("passive"),
      durable = durable, autoDelete = bit("auto_delete"),
      internal = bit("internal"), args)
    finally c.close()
  }

  /** Test hook: drop cached consumers so a fresh stream starts clean. */
  def reset(): Unit = {
    logs.forEach((_, l) => l.closeConnection())
    logs.clear()
  }
}
