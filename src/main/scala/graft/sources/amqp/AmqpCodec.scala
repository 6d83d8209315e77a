package graft.sources.amqp

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** AMQP 0-9-1 wire codec, written from the public protocol
  * specification (amqp.org, "AMQP 0-9-1 complete specification") —
  * pure JDK, no external client library, matching the dependency
  * discipline of [[graft.sources.BrokerServer]].
  *
  * This is the protocol the reference actually speaks: its pipeline is
  * an AMQP consumer driven by pika against a RabbitMQ broker
  * (reference amqp.py:36-53, docs/usage.rst:8-11). Framing:
  *
  * {{{
  *   frame  = octet type, short channel, long size, payload, octet 0xCE
  *   method = short class-id, short method-id, packed arguments
  *   header = short class-id, short weight, longlong body-size,
  *            short property-flags, properties
  *   body   = raw octets (fragmented at frame-max)
  * }}}
  *
  * Only the subset the broker/consumer pair needs is implemented:
  * connection/channel lifecycle, exchange.declare, queue.declare/bind,
  * basic.qos/consume/publish/deliver/ack. Unknown methods raise —
  * a real broker would send connection.close 540 not-implemented.
  */
object Amqp {
  val ProtocolHeader: Array[Byte] =
    Array[Byte]('A', 'M', 'Q', 'P', 0, 0, 9, 1)

  val FrameMethod = 1
  val FrameHeader = 2
  val FrameBody = 3
  val FrameHeartbeat = 8
  val FrameEnd = 0xCE
  /** Negotiated frame-max: bodies longer than this minus the 8-byte
    * frame overhead are fragmented into multiple body frames.
    */
  val DefaultFrameMax: Int = 131072

  final case class Frame(tpe: Int, channel: Int, payload: Array[Byte])

  def readFrame(in: DataInputStream): Frame = {
    val tpe = in.readUnsignedByte()
    val channel = in.readUnsignedShort()
    val size = in.readInt()
    require(size >= 0 && size <= 64 * 1024 * 1024, s"frame size $size out of bounds")
    val payload = new Array[Byte](size)
    in.readFully(payload)
    val end = in.readUnsignedByte()
    require(end == FrameEnd, f"bad frame-end octet 0x$end%02x")
    Frame(tpe, channel, payload)
  }

  def writeFrame(out: DataOutputStream, f: Frame): Unit = {
    out.writeByte(f.tpe)
    out.writeShort(f.channel)
    out.writeInt(f.payload.length)
    out.write(f.payload)
    out.writeByte(FrameEnd)
  }

  /** Argument writer for the AMQP wire types (shortstr, longstr,
    * field-table, packed bits, fixed ints).
    */
  final class Writer {
    private val bos = new ByteArrayOutputStream()
    private val out = new DataOutputStream(bos)
    def octet(v: Int): Writer = { out.writeByte(v); this }
    def short(v: Int): Writer = { out.writeShort(v); this }
    def int(v: Int): Writer = { out.writeInt(v); this }
    def long(v: Long): Writer = { out.writeLong(v); this }
    def shortStr(s: String): Writer = {
      val b = s.getBytes(UTF_8)
      require(b.length <= 255, s"shortstr too long (${b.length})")
      out.writeByte(b.length); out.write(b); this
    }
    def longStr(b: Array[Byte]): Writer = { out.writeInt(b.length); out.write(b); this }
    def longStr(s: String): Writer = longStr(s.getBytes(UTF_8))
    /** Consecutive bit arguments pack LSB-first into one octet. */
    def bits(bs: Boolean*): Writer = {
      var o = 0
      bs.zipWithIndex.foreach { case (b, i) => if (b) o |= 1 << i }
      out.writeByte(o); this
    }
    def table(t: Map[String, Any]): Writer = {
      val w = new Writer
      // sorted for deterministic bytes (AMQP allows any order)
      t.toSeq.sortBy(_._1).foreach { case (k, v) => w.shortStr(k); w.fieldValue(v) }
      longStr(w.bytes)
    }
    private def fieldValue(v: Any): Unit = v match {
      case s: String  => octet('S'); longStr(s): Unit
      case b: Boolean => octet('t'); octet(if (b) 1 else 0): Unit
      case i: Int     => octet('I'); int(i): Unit
      case l: Long    => octet('l'); long(l): Unit
      case d: Double  => octet('d'); out.writeDouble(d)
      case m: Map[_, _] => octet('F'); table(m.asInstanceOf[Map[String, Any]]): Unit
      case null       => octet('V'): Unit
      case other => throw new IllegalArgumentException(
        s"unsupported field-table value type ${other.getClass}")
    }
    def bytes: Array[Byte] = { out.flush(); bos.toByteArray }
  }

  final class Reader(payload: Array[Byte]) {
    private val in = new DataInputStream(new ByteArrayInputStream(payload))
    def octet(): Int = in.readUnsignedByte()
    def short(): Int = in.readUnsignedShort()
    def int(): Int = in.readInt()
    def long(): Long = in.readLong()
    def shortStr(): String = {
      val n = in.readUnsignedByte()
      val b = new Array[Byte](n); in.readFully(b); new String(b, UTF_8)
    }
    def longStrBytes(): Array[Byte] = {
      val n = in.readInt()
      val b = new Array[Byte](n); in.readFully(b); b
    }
    def longStr(): String = new String(longStrBytes(), UTF_8)
    def bits(n: Int): Seq[Boolean] = {
      val o = in.readUnsignedByte()
      (0 until n).map(i => (o & (1 << i)) != 0)
    }
    def table(): Map[String, Any] = {
      val r = new Reader(longStrBytes())
      val m = Map.newBuilder[String, Any]
      while (r.in.available() > 0) {
        val k = r.shortStr()
        m += k -> r.fieldValue()
      }
      m.result()
    }
    private def fieldValue(): Any = octet() match {
      case 'S' => longStr()
      case 't' => octet() != 0
      case 'I' => int()
      case 'l' => long()
      case 'd' => in.readDouble()
      case 'T' => long() // timestamp: POSIX seconds
      case 'F' => table()
      case 'V' => null
      case t => throw new IllegalArgumentException(
        f"unsupported field-table type octet 0x$t%02x")
    }
  }

  // ---- methods ------------------------------------------------------

  /** One AMQP method; `encode` produces the full method-frame payload
    * (class-id, method-id, arguments).
    */
  sealed trait Method {
    def classId: Int
    def methodId: Int
    protected def writeArgs(w: Writer): Unit
    final def encode: Array[Byte] = {
      val w = new Writer
      w.short(classId).short(methodId)
      writeArgs(w)
      w.bytes
    }
  }

  final case class ConnectionStart(serverProps: Map[String, Any],
      mechanisms: String, locales: String) extends Method {
    val classId = 10; val methodId = 10
    def writeArgs(w: Writer): Unit =
      w.octet(0).octet(9).table(serverProps).longStr(mechanisms).longStr(locales): Unit
  }
  final case class ConnectionStartOk(clientProps: Map[String, Any],
      mechanism: String, response: Array[Byte], locale: String) extends Method {
    val classId = 10; val methodId = 11
    def writeArgs(w: Writer): Unit =
      w.table(clientProps).shortStr(mechanism).longStr(response).shortStr(locale): Unit
  }
  final case class ConnectionTune(channelMax: Int, frameMax: Int,
      heartbeat: Int) extends Method {
    val classId = 10; val methodId = 30
    def writeArgs(w: Writer): Unit =
      w.short(channelMax).int(frameMax).short(heartbeat): Unit
  }
  final case class ConnectionTuneOk(channelMax: Int, frameMax: Int,
      heartbeat: Int) extends Method {
    val classId = 10; val methodId = 31
    def writeArgs(w: Writer): Unit =
      w.short(channelMax).int(frameMax).short(heartbeat): Unit
  }
  final case class ConnectionOpen(vhost: String) extends Method {
    val classId = 10; val methodId = 40
    def writeArgs(w: Writer): Unit =
      w.shortStr(vhost).shortStr("").bits(false): Unit
  }
  final case class ConnectionOpenOk() extends Method {
    val classId = 10; val methodId = 41
    def writeArgs(w: Writer): Unit = w.shortStr(""): Unit
  }
  final case class ConnectionClose(replyCode: Int, replyText: String,
      failClass: Int, failMethod: Int) extends Method {
    val classId = 10; val methodId = 50
    def writeArgs(w: Writer): Unit =
      w.short(replyCode).shortStr(replyText).short(failClass).short(failMethod): Unit
  }
  final case class ConnectionCloseOk() extends Method {
    val classId = 10; val methodId = 51
    def writeArgs(w: Writer): Unit = ()
  }
  /** RabbitMQ's connection.blocked extension (sent only to clients
    * advertising the `connection.blocked` capability): the broker is
    * under a resource alarm and will stop reading publishes.
    */
  final case class ConnectionBlocked(reason: String) extends Method {
    val classId = 10; val methodId = 60
    def writeArgs(w: Writer): Unit = w.shortStr(reason): Unit
  }
  final case class ConnectionUnblocked() extends Method {
    val classId = 10; val methodId = 61
    def writeArgs(w: Writer): Unit = ()
  }

  final case class ChannelOpen() extends Method {
    val classId = 20; val methodId = 10
    def writeArgs(w: Writer): Unit = w.shortStr(""): Unit
  }
  final case class ChannelOpenOk() extends Method {
    val classId = 20; val methodId = 11
    def writeArgs(w: Writer): Unit = w.longStr(""): Unit
  }
  final case class ChannelClose(replyCode: Int, replyText: String,
      failClass: Int, failMethod: Int) extends Method {
    val classId = 20; val methodId = 40
    def writeArgs(w: Writer): Unit =
      w.short(replyCode).shortStr(replyText).short(failClass).short(failMethod): Unit
  }
  final case class ChannelCloseOk() extends Method {
    val classId = 20; val methodId = 41
    def writeArgs(w: Writer): Unit = ()
  }

  final case class ExchangeDeclare(exchange: String, tpe: String,
      passive: Boolean, durable: Boolean, autoDelete: Boolean,
      internal: Boolean, noWait: Boolean, arguments: Map[String, Any])
      extends Method {
    val classId = 40; val methodId = 10
    def writeArgs(w: Writer): Unit =
      w.short(0).shortStr(exchange).shortStr(tpe)
        .bits(passive, durable, autoDelete, internal, noWait)
        .table(arguments): Unit
  }
  final case class ExchangeDeclareOk() extends Method {
    val classId = 40; val methodId = 11
    def writeArgs(w: Writer): Unit = ()
  }

  final case class QueueDeclare(queue: String, passive: Boolean,
      durable: Boolean, exclusive: Boolean, autoDelete: Boolean,
      noWait: Boolean, arguments: Map[String, Any]) extends Method {
    val classId = 50; val methodId = 10
    def writeArgs(w: Writer): Unit =
      w.short(0).shortStr(queue)
        .bits(passive, durable, exclusive, autoDelete, noWait)
        .table(arguments): Unit
  }
  final case class QueueDeclareOk(queue: String, messageCount: Int,
      consumerCount: Int) extends Method {
    val classId = 50; val methodId = 11
    def writeArgs(w: Writer): Unit =
      w.shortStr(queue).int(messageCount).int(consumerCount): Unit
  }
  final case class QueueBind(queue: String, exchange: String,
      routingKey: String, noWait: Boolean, arguments: Map[String, Any])
      extends Method {
    val classId = 50; val methodId = 20
    def writeArgs(w: Writer): Unit =
      w.short(0).shortStr(queue).shortStr(exchange).shortStr(routingKey)
        .bits(noWait).table(arguments): Unit
  }
  final case class QueueBindOk() extends Method {
    val classId = 50; val methodId = 21
    def writeArgs(w: Writer): Unit = ()
  }

  final case class BasicQos(prefetchSize: Int, prefetchCount: Int,
      global: Boolean) extends Method {
    val classId = 60; val methodId = 10
    def writeArgs(w: Writer): Unit =
      w.int(prefetchSize).short(prefetchCount).bits(global): Unit
  }
  final case class BasicQosOk() extends Method {
    val classId = 60; val methodId = 11
    def writeArgs(w: Writer): Unit = ()
  }
  final case class BasicConsume(queue: String, consumerTag: String,
      noLocal: Boolean, noAck: Boolean, exclusive: Boolean,
      noWait: Boolean, arguments: Map[String, Any]) extends Method {
    val classId = 60; val methodId = 20
    def writeArgs(w: Writer): Unit =
      w.short(0).shortStr(queue).shortStr(consumerTag)
        .bits(noLocal, noAck, exclusive, noWait).table(arguments): Unit
  }
  final case class BasicConsumeOk(consumerTag: String) extends Method {
    val classId = 60; val methodId = 21
    def writeArgs(w: Writer): Unit = w.shortStr(consumerTag): Unit
  }
  final case class BasicPublish(exchange: String, routingKey: String,
      mandatory: Boolean, immediate: Boolean) extends Method {
    val classId = 60; val methodId = 40
    def writeArgs(w: Writer): Unit =
      w.short(0).shortStr(exchange).shortStr(routingKey)
        .bits(mandatory, immediate): Unit
  }
  final case class BasicDeliver(consumerTag: String, deliveryTag: Long,
      redelivered: Boolean, exchange: String, routingKey: String)
      extends Method {
    val classId = 60; val methodId = 60
    def writeArgs(w: Writer): Unit =
      w.shortStr(consumerTag).long(deliveryTag).bits(redelivered)
        .shortStr(exchange).shortStr(routingKey): Unit
  }
  final case class BasicAck(deliveryTag: Long, multiple: Boolean)
      extends Method {
    val classId = 60; val methodId = 80
    def writeArgs(w: Writer): Unit =
      w.long(deliveryTag).bits(multiple): Unit
  }
  /** basic.return (60/50): an unroutable MANDATORY publish handed
    * back to the publisher, followed by the message content — the
    * spec path pika surfaces as `on_return_callback`.
    */
  final case class BasicReturn(replyCode: Int, replyText: String,
      exchange: String, routingKey: String) extends Method {
    val classId = 60; val methodId = 50
    def writeArgs(w: Writer): Unit =
      w.short(replyCode).shortStr(replyText).shortStr(exchange)
        .shortStr(routingKey): Unit
  }
  /** basic.nack (60/120, RabbitMQ's confirm extension adopted by the
    * 0-9-1 errata): reject with optional requeue — the frame pika's
    * `basic_nack(requeue=False)` puts on the wire for the reference's
    * bad-JSON path (reference amqp.py:107-109).
    */
  final case class BasicNack(deliveryTag: Long, multiple: Boolean,
      requeue: Boolean) extends Method {
    val classId = 60; val methodId = 120
    def writeArgs(w: Writer): Unit =
      w.long(deliveryTag).bits(multiple, requeue): Unit
  }

  def parseMethod(payload: Array[Byte]): Method = {
    val r = new Reader(payload)
    val cls = r.short(); val mth = r.short()
    (cls, mth) match {
      case (10, 10) =>
        r.octet(); r.octet() // version major/minor
        ConnectionStart(r.table(), r.longStr(), r.longStr())
      case (10, 11) =>
        ConnectionStartOk(r.table(), r.shortStr(), r.longStrBytes(), r.shortStr())
      case (10, 30) => ConnectionTune(r.short(), r.int(), r.short())
      case (10, 31) => ConnectionTuneOk(r.short(), r.int(), r.short())
      case (10, 40) => ConnectionOpen(r.shortStr())
      case (10, 41) => ConnectionOpenOk()
      case (10, 50) => ConnectionClose(r.short(), r.shortStr(), r.short(), r.short())
      case (10, 51) => ConnectionCloseOk()
      case (10, 60) => ConnectionBlocked(r.shortStr())
      case (10, 61) => ConnectionUnblocked()
      case (20, 10) => ChannelOpen()
      case (20, 11) => ChannelOpenOk()
      case (20, 40) => ChannelClose(r.short(), r.shortStr(), r.short(), r.short())
      case (20, 41) => ChannelCloseOk()
      case (40, 10) =>
        r.short()
        val ex = r.shortStr(); val tpe = r.shortStr()
        val Seq(pa, du, ad, in, nw) = r.bits(5)
        ExchangeDeclare(ex, tpe, pa, du, ad, in, nw, r.table())
      case (40, 11) => ExchangeDeclareOk()
      case (50, 10) =>
        r.short()
        val q = r.shortStr()
        val Seq(pa, du, exl, ad, nw) = r.bits(5)
        QueueDeclare(q, pa, du, exl, ad, nw, r.table())
      case (50, 11) => QueueDeclareOk(r.shortStr(), r.int(), r.int())
      case (50, 20) =>
        r.short()
        val q = r.shortStr(); val ex = r.shortStr(); val rk = r.shortStr()
        val Seq(nw) = r.bits(1)
        QueueBind(q, ex, rk, nw, r.table())
      case (50, 21) => QueueBindOk()
      case (60, 10) =>
        val ps = r.int(); val pc = r.short(); val Seq(g) = r.bits(1)
        BasicQos(ps, pc, g)
      case (60, 11) => BasicQosOk()
      case (60, 20) =>
        r.short()
        val q = r.shortStr(); val tag = r.shortStr()
        val Seq(nl, na, exl, nw) = r.bits(4)
        BasicConsume(q, tag, nl, na, exl, nw, r.table())
      case (60, 21) => BasicConsumeOk(r.shortStr())
      case (60, 40) =>
        r.short()
        val ex = r.shortStr(); val rk = r.shortStr()
        val Seq(ma, im) = r.bits(2)
        BasicPublish(ex, rk, ma, im)
      case (60, 60) =>
        val tag = r.shortStr(); val dt = r.long()
        val Seq(rd) = r.bits(1)
        BasicDeliver(tag, dt, rd, r.shortStr(), r.shortStr())
      case (60, 80) =>
        val dt = r.long(); val Seq(mu) = r.bits(1)
        BasicAck(dt, mu)
      case (60, 50) =>
        BasicReturn(r.short(), r.shortStr(), r.shortStr(), r.shortStr())
      case (60, 120) =>
        val dt = r.long(); val Seq(mu, rq) = r.bits(2)
        BasicNack(dt, mu, rq)
      case other =>
        throw new IllegalArgumentException(s"unsupported AMQP method $other")
    }
  }

  def methodFrame(channel: Int, m: Method): Frame =
    Frame(FrameMethod, channel, m.encode)

  // ---- content (header + body) --------------------------------------

  /** Basic-class content header. Only the `content-type` (flag bit 15)
    * and `delivery-mode` (bit 12) properties are produced/consumed —
    * content-type is the one the reference inspects (amqp.py:101-103).
    */
  final case class ContentHeader(bodySize: Long, contentType: Option[String],
      deliveryMode: Option[Int])

  def headerFrame(channel: Int, h: ContentHeader): Frame = {
    val w = new Writer
    w.short(60).short(0).long(h.bodySize)
    var flags = 0
    if (h.contentType.isDefined) flags |= 1 << 15
    if (h.deliveryMode.isDefined) flags |= 1 << 12
    w.short(flags)
    h.contentType.foreach(ct => w.shortStr(ct))
    h.deliveryMode.foreach(dm => w.octet(dm))
    Frame(FrameHeader, channel, w.bytes)
  }

  def parseHeader(payload: Array[Byte]): ContentHeader = {
    val r = new Reader(payload)
    val cls = r.short()
    require(cls == 60, s"content header for unexpected class $cls")
    r.short() // weight
    val size = r.long()
    val flags = r.short()
    val ct = if ((flags & (1 << 15)) != 0) Some(r.shortStr()) else None
    val ce = if ((flags & (1 << 14)) != 0) Some(r.shortStr()) else None
    val hdrs = if ((flags & (1 << 13)) != 0) Some(r.table()) else None
    val dm = if ((flags & (1 << 12)) != 0) Some(r.octet()) else None
    ce.foreach(_ => ()); hdrs.foreach(_ => ())
    ContentHeader(size, ct, dm)
  }

  /** Writes `len` body bytes from `body(off)` as body frames fragmented
    * at the negotiated frame-max (none for an empty body), without
    * copying them into frames.
    */
  def writeBodyFrames(out: DataOutputStream, channel: Int, body: Array[Byte],
      off: Int, len: Int, frameMax: Int): Unit = {
    val chunk = math.max(1, frameMax - 8)
    var p = off
    while (p < off + len) {
      val n = math.min(chunk, off + len - p)
      out.writeByte(FrameBody)
      out.writeShort(channel)
      out.writeInt(n)
      out.write(body, p, n)
      out.writeByte(FrameEnd)
      p += n
    }
  }
}
