package graft.sources.amqp

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import graft.sources.ExchangeLog

import Amqp._

/** An AMQP 0-9-1 broker speaking the real wire protocol, backed by the
  * same durable [[ExchangeLog]]s (WAL, post-commit truncation, torn-tail
  * recovery) as the line-protocol [[graft.sources.BrokerServer]].
  *
  * This closes the protocol gap with the reference, whose input side IS
  * "an amqp server" (reference docs/usage.rst:8-11): the reference's
  * pika consumer connects, declares exchange + queue, binds, consumes,
  * acks (amqp.py:36-118). Any AMQP 0-9-1 client — including the engine's
  * own [[AmqpConsumerLog]] — can connect/declare/bind/publish/consume/ack
  * against this broker; the engine's Spark source can likewise consume
  * from any real AMQP broker via [[AmqpConsumerLog]].
  *
  * Scope (documented narrowing, matching the reference's usage):
  *   - fanout routing, one queue per exchange: the reference declares
  *     fanout exchanges and binds one queue to each (amqp.py:9-10,
  *     55-78); routing keys are accepted and ignored.
  *   - one active consumer per queue (the reference runs exactly one
  *     consumer per exchange); competing consumers would each see the
  *     full un-acked log.
  *   - PLAIN credentials are checked against `users` (guest/guest by
  *     default); a failed login gets connection.close 403
  *     ACCESS_REFUSED and an unknown vhost connection.close 530
  *     NOT_ALLOWED — the replies RabbitMQ sends and pika surfaces as
  *     ProbableAuthenticationError / ConnectionClosedByBroker.
  *
  * Delivery tags are the exchange-log offset + 1 — stable across broker
  * restarts, monotonically increasing per channel as the spec requires.
  * `basic.ack(multiple=true)` maps directly onto the log's prefix
  * truncation; single acks accumulate in an out-of-order set and
  * truncate whenever the acked prefix becomes contiguous.
  *
  * `exchange.declare` maps the protocol's `durable` bit onto the WAL
  * axis exactly like the line protocol's DECLARE (durable=false ⇒ no
  * WAL even when the server has one), and records the declare kwargs
  * (type + arguments table) first-wins, mirroring the reference's
  * `exchange_declare(**kwargs)` passthrough + signal cache
  * (amqp.py:55-78).
  */
final class AmqpServer(port: Int, walDir: Option[Path],
    users: Map[String, String] = Map("guest" -> "guest"),
    vhosts: Set[String] = Set("/"),
    sslContext: Option[javax.net.ssl.SSLContext] = None,
    needClientAuth: Boolean = false) {
  private val exchanges = new ConcurrentHashMap[String, ExchangeLog]()
  private val declaredKwargs = new ConcurrentHashMap[String, Map[String, String]]()
  private val bindings = new ConcurrentHashMap[String, String]() // queue -> exchange
  // live consumer count per exchange — the lifecycle signal for
  // auto_delete (this broker's queues are 1:1 shadows of exchanges, so
  // "last queue unbound" and "last consumer gone" coincide)
  private val consumerCounts =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  // reuseAddress: a restarted broker must rebind its port even while
  // the dead process's connections sit in TIME_WAIT
  private val server = sslContext match {
    case Some(ctx) => // amqps listener (TLS server socket)
      val ss = ctx.getServerSocketFactory.createServerSocket()
        .asInstanceOf[javax.net.ssl.SSLServerSocket]
      ss.setNeedClientAuth(needClientAuth)
      ss
    case None => new ServerSocket()
  }
  server.setReuseAddress(true)
  server.bind(new java.net.InetSocketAddress(port))
  @volatile private var running = true
  // the most recent connection's client_properties field table from
  // connection.start-ok — observable so tests can assert the client
  // actually SENT what the URL promised
  @volatile private var lastClientProps: Map[String, Any] = Map.empty

  def boundPort: Int = server.getLocalPort

  /** client_properties of the most recent connection (tests). */
  def lastClientProperties: Map[String, Any] = lastClientProps

  /** Kwargs recorded by the first declare of an exchange (tests). */
  def declared(exchange: String): Map[String, String] =
    declaredKwargs.getOrDefault(exchange, Map.empty)

  private def log(name: String): ExchangeLog =
    exchanges.computeIfAbsent(name, n => new ExchangeLog(n, walDir))

  private def declare(name: String, kwargs: Map[String, String]): Unit = {
    declaredKwargs.putIfAbsent(name, kwargs)
    val dir = if (kwargs.get("durable").exists(_.equalsIgnoreCase("false")))
      None else walDir
    exchanges.computeIfAbsent(name, n => new ExchangeLog(n, dir)): Unit
  }

  private def declaredBit(exchange: String, bit: String): Boolean =
    declaredKwargs.getOrDefault(exchange, Map.empty)
      .get(bit).exists(_.equalsIgnoreCase("true"))

  /** auto_delete teardown: when the LAST consumer of an auto_delete
    * exchange goes away, the exchange is destroyed — in-memory log,
    * recorded kwargs AND on-disk WAL (a later re-declare starts empty,
    * exactly like RabbitMQ re-creating a deleted auto-delete exchange).
    */
  private def releaseConsumer(exchange: String): Unit = {
    val counter = consumerCounts.get(exchange)
    if (counter != null && counter.decrementAndGet() <= 0 &&
        declaredBit(exchange, "auto_delete")) {
      consumerCounts.remove(exchange)
      declaredKwargs.remove(exchange)
      Option(exchanges.remove(exchange)).foreach(_.purge())
    }
  }

  private def exchangeFor(queue: String): String =
    bindings.getOrDefault(queue, queue)

  private val liveSockets =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  private val liveConns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Conn]()

  // -----------------------------------------------------------------
  // Resource alarm (RabbitMQ's connection.blocked extension)
  // -----------------------------------------------------------------
  @volatile private var blockedReason: Option[String] = None
  @volatile private var backlogWatermark: Long = Long.MaxValue

  /** Is the broker currently under a resource alarm? (tests) */
  def isBlocked: Boolean = blockedReason.isDefined

  /** Raise (Some(reason)) or clear (None) the resource alarm: every
    * live connection that advertised the `connection.blocked`
    * capability gets the connection.blocked/unblocked frame, and
    * connections arriving while alarmed are told right after open-ok
    * — RabbitMQ's memory/disk-alarm behavior.
    */
  def setBlocked(reason: Option[String]): Unit = {
    val prev = blockedReason
    blockedReason = reason
    (prev, reason) match {
      case (None, Some(r)) => liveConns.forEach(_.notifyBlocked(r))
      case (Some(_), None) => liveConns.forEach(_.notifyUnblocked())
      case _ => ()
    }
  }

  /** Settable memory/WAL watermark: when the total un-acked backlog
    * across exchanges exceeds `n` messages the broker raises the
    * alarm, and clears it once acks bring the backlog back under —
    * the vm_memory_high_watermark shape reduced to the one resource
    * this broker actually accumulates.
    */
  def setBacklogWatermark(n: Long): Unit = {
    backlogWatermark = n
    recheckWatermark()
  }

  private def totalBacklog: Long = {
    var t = 0L
    exchanges.forEach((_, lg) => t += lg.latest - lg.committed)
    t
  }

  private def recheckWatermark(): Unit =
    if (backlogWatermark != Long.MaxValue) {
      if (totalBacklog > backlogWatermark && blockedReason.isEmpty)
        setBlocked(Some(
          "low on memory: message backlog over the watermark"))
      else if (totalBacklog <= backlogWatermark && blockedReason.isDefined)
        setBlocked(None)
    }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        liveSockets.add(sock)
        val t = new Thread(() => {
          try new Conn(sock).serve()
          finally liveSockets.remove(sock): Unit
        }, "graft-amqp-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => () // closed during stop()
      }
    }
  }, "graft-amqp-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Kills the listener AND every live connection — a stopped broker
    * must look dead to attached consumers, so they reconnect and the
    * new process redelivers the un-acked suffix.
    */
  def stop(): Unit = {
    running = false
    server.close()
    liveSockets.forEach { s =>
      try {
        // linger-0 close sends RST: no TIME_WAIT holds the port, so a
        // restarted broker can rebind immediately (stop() models a
        // crash — an orderly shutdown would drain channels first)
        s.setSoLinger(true, 0)
        s.close()
      } catch { case _: Exception => () }
    }
    liveSockets.clear()
  }

  /** Per-channel server state: qos window, out-of-order single acks,
    * in-flight publish content assembly, and the consumer pump.
    */
  private final class ChannelState {
    @volatile var open = true
    @volatile var prefetchCount = 0
    val singleAcked = new java.util.TreeSet[java.lang.Long]()
    // content assembly for an in-flight basic.publish
    var pendingPublish: Option[BasicPublish] = None
    var pendingHeader: Option[ContentHeader] = None
    val bodyBuf = new java.io.ByteArrayOutputStream()
    // consumer pump bookkeeping: next offset to deliver per consumer tag
    @volatile var consuming = false
  }

  private final class Conn(sock: Socket) {
    sock.setTcpNoDelay(true)
    private val in = new DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16))
    private val channels = new ConcurrentHashMap[Int, ChannelState]()
    @volatile private var alive = true
    private var frameMax = DefaultFrameMax

    private def send(frames: Frame*): Unit = out.synchronized {
      frames.foreach(writeFrame(out, _))
      out.flush()
    }

    def serve(): Unit =
      try {
        val hdr = new Array[Byte](8)
        in.readFully(hdr)
        if (!java.util.Arrays.equals(hdr, ProtocolHeader)) {
          // spec: answer a bad header with the supported version, close
          out.write(ProtocolHeader); out.flush(); sock.close(); return
        }
        send(methodFrame(0, ConnectionStart(
          Map("product" -> "graft-amqp", "version" -> "0-9-1"),
          "PLAIN", "en_US")))
        val startOk = expect[ConnectionStartOk](0)
        lastClientProps = startOk.clientProps
        // RabbitMQ sends blocked/unblocked frames ONLY to clients
        // that advertised the capability in start-ok
        capBlocked = startOk.clientProps.get("capabilities").exists {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
            .get("connection.blocked").contains(true)
          case _ => false
        }
        // SASL PLAIN: NUL authcid NUL passwd → split gives ["", user, pw]
        val cred = new String(startOk.response,
          java.nio.charset.StandardCharsets.UTF_8).split("\u0000", -1)
        val authed = startOk.mechanism == "PLAIN" && cred.length == 3 &&
          users.get(cred(1)).contains(cred(2))
        if (!authed) {
          refuse(403, "ACCESS_REFUSED - Login was refused using " +
            "authentication mechanism PLAIN. For details see the broker " +
            "logfile.")
          return
        }
        send(methodFrame(0, ConnectionTune(2047, DefaultFrameMax, 0)))
        val tuneOk = expect[ConnectionTuneOk](0)
        if (tuneOk.frameMax > 0) frameMax = math.min(frameMax, tuneOk.frameMax)
        // heartbeat contract (AMQP 0-9-1 §4.2.7, RabbitMQ semantics):
        // the tune-ok value is operative for BOTH peers — when the
        // client elects heartbeats (pika URL ?heartbeat=N), the broker
        // emits its own at N/2 and treats >2N of inbound silence as a
        // dead client. `send` is lock-protected, so the sender thread
        // interleaves safely with delivery pushes.
        if (tuneOk.heartbeat > 0) {
          sock.setSoTimeout(tuneOk.heartbeat * 2 * 1000)
          val hb = new Thread(() => {
            val pauseMs = math.max(1, tuneOk.heartbeat) * 1000L / 2
            try {
              while (alive) {
                Thread.sleep(pauseMs)
                if (alive) send(Frame(FrameHeartbeat, 0, Array.emptyByteArray))
              }
            } catch { case _: Throwable => () }
          }, s"graft-amqpserver-heartbeat")
          hb.setDaemon(true)
          hb.start()
        }
        val open = expect[ConnectionOpen](0)
        if (!vhosts.contains(open.vhost)) {
          refuse(530, s"NOT_ALLOWED - vhost '${open.vhost}' not found")
          return
        }
        connVhost = open.vhost
        send(methodFrame(0, ConnectionOpenOk()))
        liveConns.add(this)
        // a connection arriving during an alarm learns immediately
        blockedReason.foreach(notifyBlocked)
        loop()
      } catch {
        case _: java.io.IOException => ()
        case _: IllegalArgumentException => () // malformed frame: drop conn
      } finally {
        alive = false
        liveConns.remove(this)
        channels.forEach((_, st) => st.open = false)
        consumedExchanges.forEach(ex => releaseConsumer(ex))
        consumedExchanges.clear()
        sock.close()
      }

    @volatile private var connVhost = "/"
    @volatile private var capBlocked = false

    private[AmqpServer] def notifyBlocked(reason: String): Unit =
      if (capBlocked)
        try send(methodFrame(0, ConnectionBlocked(reason)))
        catch { case _: Exception => () }

    private[AmqpServer] def notifyUnblocked(): Unit =
      if (capBlocked)
        try send(methodFrame(0, ConnectionUnblocked()))
        catch { case _: Exception => () }

    /** Handshake-time refusal: connection.close with the reply code,
      * a short grace for the client's close-ok, then drop the socket —
      * the sequence RabbitMQ uses for bad credentials / bad vhost.
      */
    private def refuse(replyCode: Int, replyText: String): Unit = {
      send(methodFrame(0, ConnectionClose(replyCode, replyText, 0, 0)))
      try {
        sock.setSoTimeout(2000)
        expect[ConnectionCloseOk](0)
      } catch { case _: Exception => () }
      sock.close()
    }

    /** Synchronous read of one expected method during the handshake. */
    private def expect[M <: Method](channel: Int)(
        implicit ct: scala.reflect.ClassTag[M]): M = {
      var f = readFrame(in)
      while (f.tpe == FrameHeartbeat) f = readFrame(in)
      require(f.tpe == FrameMethod && f.channel == channel,
        s"expected method on channel $channel, got frame type ${f.tpe}")
      parseMethod(f.payload) match {
        case m: M => m
        case other => throw new IllegalArgumentException(
          s"expected ${ct.runtimeClass.getSimpleName}, got $other")
      }
    }

    private def loop(): Unit = {
      while (alive) {
        val f = readFrame(in)
        f.tpe match {
          case FrameHeartbeat => ()
          case FrameMethod => handleMethod(f.channel, parseMethod(f.payload))
          case FrameHeader =>
            val st = channels.get(f.channel)
            if (st != null) {
              st.pendingHeader = Some(parseHeader(f.payload))
              finishPublishIfComplete(f.channel, st)
            }
          case FrameBody =>
            val st = channels.get(f.channel)
            if (st != null) {
              st.bodyBuf.write(f.payload)
              finishPublishIfComplete(f.channel, st)
            }
          case other =>
            throw new IllegalArgumentException(s"unexpected frame type $other")
        }
      }
    }

    private def finishPublishIfComplete(channel: Int,
        st: ChannelState): Unit =
      (st.pendingPublish, st.pendingHeader) match {
        case (Some(pub), Some(hdr)) if st.bodyBuf.size() >= hdr.bodySize =>
          val body = st.bodyBuf.toByteArray
          st.pendingPublish = None
          st.pendingHeader = None
          st.bodyBuf.reset()
          // MANDATORY publish that reaches no queue: the spec's
          // NO_ROUTE basic.return — message + content handed straight
          // back to the publisher, never enqueued (spec §3.1.10 /
          // basic.return; pika surfaces this as on_return_callback)
          if (pub.mandatory && !bindings.containsValue(pub.exchange)) {
            out.synchronized {
              writeFrame(out, methodFrame(channel, BasicReturn(312, "NO_ROUTE",
                pub.exchange, pub.routingKey)))
              writeFrame(out, headerFrame(channel, ContentHeader(body.length,
                Some(hdr.contentType.getOrElse("application/json")),
                Some(2))))
              writeBodyFrames(out, channel, body, 0, body.length, frameMax)
              out.flush()
            }
          } else {
            log(pub.exchange).append(body,
              hdr.contentType.getOrElse("application/json"))
            recheckWatermark()
          }
        case _ => ()
      }

    private def handleMethod(channel: Int, m: Method): Unit = m match {
      case _: ConnectionClose =>
        send(methodFrame(0, ConnectionCloseOk()))
        alive = false
      case _: ConnectionCloseOk => alive = false

      case _: ChannelOpen =>
        channels.put(channel, new ChannelState)
        send(methodFrame(channel, ChannelOpenOk()))
      case _: ChannelClose =>
        Option(channels.remove(channel)).foreach(_.open = false)
        send(methodFrame(channel, ChannelCloseOk()))
      case _: ChannelCloseOk => ()

      case d: ExchangeDeclare =>
        if (d.passive) {
          // passive declare asserts existence without creating: the
          // spec answer for a missing exchange is a 404 channel close
          if (exchanges.containsKey(d.exchange) ||
              declaredKwargs.containsKey(d.exchange)) {
            if (!d.noWait) send(methodFrame(channel, ExchangeDeclareOk()))
          } else closeChannel(channel,
            404, s"NOT_FOUND - no exchange '${d.exchange}' in vhost '$connVhost'",
            failClass = 40, failMethod = 10)
        } else {
          // record non-default bits only, first-wins (the reference's
          // signal cache ignores a re-declare's kwargs too)
          val bits = Seq("auto_delete" -> d.autoDelete,
            "internal" -> d.internal).collect { case (k, true) => k -> "true" }
          val kwargs =
            Map("durable" -> d.durable.toString, "exchange_type" -> d.tpe) ++
              bits ++ d.arguments.map { case (k, v) => k -> String.valueOf(v) }
          declare(d.exchange, kwargs)
          if (!d.noWait) send(methodFrame(channel, ExchangeDeclareOk()))
        }

      case q: QueueDeclare =>
        val lg = log(exchangeFor(q.queue))
        val backlog = (lg.latest - lg.committed).toInt
        if (!q.noWait)
          send(methodFrame(channel, QueueDeclareOk(q.queue, backlog, 0)))

      case b: QueueBind =>
        bindings.put(b.queue, b.exchange)
        if (!b.noWait) send(methodFrame(channel, QueueBindOk()))

      case q: BasicQos =>
        channels.get(channel) match {
          case null => ()
          case st => st.prefetchCount = q.prefetchCount
        }
        send(methodFrame(channel, BasicQosOk()))

      case c: BasicConsume =>
        val st = channels.get(channel)
        require(st != null, s"basic.consume on unopened channel $channel")
        val tag = if (c.consumerTag.nonEmpty) c.consumerTag
                  else s"graft-ctag-$channel"
        if (!c.noWait) send(methodFrame(channel, BasicConsumeOk(tag)))
        startConsumer(channel, st, tag, exchangeFor(c.queue))

      case p: BasicPublish =>
        val st = channels.get(channel)
        require(st != null, s"basic.publish on unopened channel $channel")
        // internal exchanges accept no direct publishes — only
        // exchange-to-exchange traffic, which this broker has none of
        if (declaredBit(p.exchange, "internal"))
          closeChannel(channel, 403,
            s"ACCESS_REFUSED - exchange '${p.exchange}' is internal",
            failClass = 60, failMethod = 40)
        else st.pendingPublish = Some(p)

      case a: BasicAck =>
        val st = channels.get(channel)
        require(st != null, s"basic.ack on unopened channel $channel")
        // tags are offsets + 1, so multiple-ack == prefix truncation
        val lg = log(ackExchange(channel))
        if (a.multiple) lg.ack(a.deliveryTag)
        else st.singleAcked.synchronized {
          st.singleAcked.add(a.deliveryTag - 1)
          while (st.singleAcked.remove(lg.committed)) lg.ack(lg.committed + 1)
        }
        recheckWatermark()

      case n: BasicNack =>
        val st = channels.get(channel)
        require(st != null, s"basic.nack on unopened channel $channel")
        if (n.requeue)
          // a log-structured fanout broker cannot reorder a single
          // message back into the stream — refuse loudly (the spec's
          // channel exception for an unimplementable request) rather
          // than silently dropping the redelivery promise
          closeChannel(channel, 540, "NOT_IMPLEMENTED - requeue",
            failClass = 60, failMethod = 120)
        else {
          // requeue=false = discard: advances the consume watermark
          // exactly like an ack (the reference's nack-bad-JSON path,
          // amqp.py:107-109, wants the message gone, not redelivered)
          val lg = log(ackExchange(channel))
          if (n.multiple) lg.ack(n.deliveryTag)
          else st.singleAcked.synchronized {
            st.singleAcked.add(n.deliveryTag - 1)
            while (st.singleAcked.remove(lg.committed))
              lg.ack(lg.committed + 1)
          }
          recheckWatermark()
        }

      case other =>
        throw new IllegalArgumentException(s"unhandled method $other")
    }

    // exchanges this connection consumes from (auto_delete lifecycle)
    private val consumedExchanges =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    /** Channel-level error: close ONLY the channel (the connection and
      * its other channels live on), carrying the failing method's
      * class/method ids as the spec requires.
      */
    private def closeChannel(channel: Int, replyCode: Int, replyText: String,
        failClass: Int, failMethod: Int): Unit = {
      Option(channels.remove(channel)).foreach(_.open = false)
      send(methodFrame(channel,
        ChannelClose(replyCode, replyText, failClass, failMethod)))
    }

    // the channel's consumer determines which exchange acks apply to
    private val consumerExchange = new ConcurrentHashMap[Int, String]()
    private def ackExchange(channel: Int): String = {
      val ex = consumerExchange.get(channel)
      require(ex != null, s"basic.ack on channel $channel with no consumer")
      ex
    }

    /** Consumer pump: pushes the un-acked suffix of the exchange log as
      * basic.deliver (+ header/body) frames, honouring the channel's
      * basic.qos prefetch window (outstanding = delivered − acked).
      * Each turn takes the log's undelivered range as one packed slice,
      * writes each delivery's frames together under the output lock,
      * and flushes once at the end of the range: a backlog leaves in
      * buffer-sized writes, and a trickle (a range of one) still leaves
      * on the turn it arrived.
      */
    private def startConsumer(channel: Int, st: ChannelState, tag: String,
        exchange: String): Unit = {
      require(!st.consuming, s"channel $channel already has a consumer")
      st.consuming = true
      consumerExchange.put(channel, exchange)
      if (consumedExchanges.add(exchange))
        consumerCounts.computeIfAbsent(exchange,
          _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
      val lg = log(exchange)
      val pump = new Thread(() => {
        var nextOff = lg.committed
        try {
          while (alive && st.open) {
            val limit = st.prefetchCount
            val outstanding = nextOff - lg.committed
            val until =
              if (limit <= 0) lg.latest
              else math.min(lg.latest,
                nextOff + math.max(0L, limit - outstanding))
            val msgs = lg.slice(nextOff, until)
            if (msgs.nonEmpty) {
              var i = 0
              while (i < msgs.length) {
                val off = msgs.first + i
                val start = msgs.start(i)
                val len = msgs.end(i) - start
                out.synchronized {
                  writeFrame(out, methodFrame(channel,
                    BasicDeliver(tag, off + 1, redelivered = false, exchange, "")))
                  writeFrame(out, headerFrame(channel,
                    ContentHeader(len, Some(msgs.contentType(i)), Some(2))))
                  writeBodyFrames(out, channel, msgs.bytes, start, len, frameMax)
                }
                nextOff = off + 1
                i += 1
              }
              out.synchronized(out.flush())
            } else Thread.sleep(2)
          }
        } catch {
          case _: java.io.IOException => () // connection gone
          case _: InterruptedException => ()
        }
      }, s"graft-amqp-pump-$exchange")
      pump.setDaemon(true)
      pump.start()
    }
  }
}

/** `java -cp <classes>:<scala-library> graft.sources.amqp.AmqpServerMain
  * [port] [walDir]` — prints `READY <port>` once listening, then serves
  * AMQP 0-9-1 until killed. Deployment twin of
  * [[graft.sources.BrokerServerMain]].
  */
object AmqpServerMain {
  def main(args: Array[String]): Unit = {
    val port = if (args.length > 0) args(0).toInt else 5672
    val walDir = if (args.length > 1) {
      val p = java.nio.file.Paths.get(args(1))
      java.nio.file.Files.createDirectories(p)
      Some(p)
    } else None
    val srv = new AmqpServer(port, walDir)
    println(s"READY ${srv.boundPort}")
    Console.out.flush()
    Thread.currentThread.join()
  }
}
