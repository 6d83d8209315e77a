package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.amqp.Amqp
import graft.sources.amqp.Amqp._

/** Certifies the AMQP 0-9-1 codec against SPEC-DERIVED golden bytes,
  * both directions — NOT round-trips through the codec itself (a
  * symmetric encode/decode bug would self-cancel there; these bytes
  * were hand-assembled from the public "AMQP 0-9-1 complete
  * specification": §2.3.5 frame layout, §4.2.3 framing, §4.2.5.2
  * field tables, and the class/method ids of the amqp0-9-1 XML —
  * the same wire format pika puts on the socket for the reference
  * (reference amqp.py:41).
  *
  * Layout being pinned:
  * {{{
  *   frame     = octet type | short channel | long size | payload | 0xCE
  *   method    = short class-id | short method-id | args
  *   shortstr  = octet len | bytes        longstr = long len | bytes
  *   table     = longstr of (shortstr key | octet type | value)*
  *   bits      = consecutive booleans packed LSB-first in one octet
  * }}}
  */
class AmqpGoldenFramesSpec extends AnyFunSuite {
  import AmqpGoldenFramesSpec.bodyFrames

  private def hex(s: String): Array[Byte] =
    s.replaceAll("(?m)#.*$", "").replaceAll("\\s+", "")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def frameBytes(f: Frame): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    writeFrame(new DataOutputStream(bos), f)
    bos.toByteArray
  }

  private def readOne(bytes: Array[Byte]): Frame =
    readFrame(new DataInputStream(new ByteArrayInputStream(bytes)))

  /** encode → exact golden bytes; golden bytes → exact Method. */
  private def certify(channel: Int, m: Method, golden: Array[Byte]): Unit = {
    assert(frameBytes(methodFrame(channel, m)).toSeq == golden.toSeq,
      s"encode of $m diverges from spec bytes")
    val f = readOne(golden)
    assert(f.tpe == FrameMethod && f.channel == channel)
    assert(parseMethod(f.payload) match {
      case ConnectionStartOk(p, mech, resp, loc) => m match {
        case ConnectionStartOk(p2, mech2, resp2, loc2) =>
          p == p2 && mech == mech2 && resp.toSeq == resp2.toSeq && loc == loc2
        case _ => false
      }
      case other => other == m
    }, s"decode of spec bytes diverges from $m")
  }

  test("protocol header is AMQP\\x00\\x00\\x09\\x01 (spec §4.2.2)") {
    assert(ProtocolHeader.toSeq == hex("41 4D 51 50 00 00 09 01").toSeq)
  }

  test("connection.start (10/10): version octets, server table, longstrs") {
    certify(0,
      ConnectionStart(Map("product" -> "graft"), "PLAIN", "en_US"),
      hex("""
        01 0000 0000002E            # type=METHOD ch=0 size=46
        000A 000A                   # class=connection method=start
        00 09                       # version-major 0, version-minor 9
        00000012                    # server-properties table, 18 bytes
          07 70726F64756374         #   shortstr key "product"
          53 00000005 6772616674    #   'S' longstr "graft"
        00000005 504C41494E         # mechanisms longstr "PLAIN"
        00000005 656E5F5553         # locales longstr "en_US"
        CE"""))
  }

  test("connection.start-ok (10/11): client table, PLAIN sasl response") {
    certify(0,
      ConnectionStartOk(Map("product" -> "graft"), "PLAIN",
        Array[Byte](0) ++ "guest".getBytes ++ Array[Byte](0) ++ "guest".getBytes,
        "en_US"),
      hex("""
        01 0000 00000036            # size=54
        000A 000B
        00000012                    # client-properties table
          07 70726F64756374
          53 00000005 6772616674
        05 504C41494E               # mechanism shortstr "PLAIN"
        0000000C 00 6775657374 00 6775657374  # sasl \0guest\0guest
        05 656E5F5553               # locale shortstr "en_US"
        CE"""))
  }

  test("connection.tune / tune-ok (10/30, 10/31): short, long, short") {
    certify(0, ConnectionTune(0, 131072, 0),
      hex("01 0000 0000000C 000A 001E 0000 00020000 0000 CE"))
    certify(0, ConnectionTuneOk(0, 131072, 0),
      hex("01 0000 0000000C 000A 001F 0000 00020000 0000 CE"))
  }

  test("connection.open (10/40): vhost shortstr + deprecated reserved args") {
    certify(0, ConnectionOpen("/"),
      hex("""
        01 0000 00000008
        000A 0028
        01 2F                       # vhost "/"
        00                          # reserved-1 (capabilities shortstr)
        00                          # reserved-2 (insist bit)
        CE"""))
  }

  test("connection.open-ok (10/41) and channel lifecycle (20/10, 20/11)") {
    certify(0, ConnectionOpenOk(), hex("01 0000 00000005 000A 0029 00 CE"))
    certify(1, ChannelOpen(), hex("01 0001 00000005 0014 000A 00 CE"))
    certify(1, ChannelOpenOk(), hex("01 0001 00000008 0014 000B 00000000 CE"))
  }

  test("exchange.declare (40/10): packed bits + nested arguments table") {
    certify(1,
      ExchangeDeclare("logs", "topic", passive = false, durable = true,
        autoDelete = false, internal = false, noWait = false,
        arguments = Map("alternate-exchange" -> "alt2",
          "x-meta" -> Map("depth" -> 2))),
      hex("""
        01 0001 00000049            # size=73
        0028 000A
        0000                        # reserved-1
        04 6C6F6773                 # exchange "logs"
        05 746F706963               # type "topic"
        02                          # bits: durable only (LSB-first)
        00000033                    # arguments table, 51 bytes
          12 616C7465726E6174652D65786368616E6765  # "alternate-exchange"
          53 00000004 616C7432      #   'S' "alt2"
          06 782D6D657461           # "x-meta"
          46 0000000B               #   'F' nested table, 11 bytes
            05 6465707468           #     "depth"
            49 00000002             #     'I' int32 2
        CE"""))
  }

  test("decode accepts table key order the encoder would not emit") {
    // same declare but with the arguments keys REVERSED on the wire —
    // the spec allows any order; decode must not depend on our
    // writer's sorted order (this is the self-cancel breaker)
    val f = readOne(hex("""
      01 0001 00000049
      0028 000A
      0000
      04 6C6F6773
      05 746F706963
      02
      00000033
        06 782D6D657461
        46 0000000B
          05 6465707468
          49 00000002
        12 616C7465726E6174652D65786368616E6765
        53 00000004 616C7432
      CE"""))
    assert(parseMethod(f.payload) ==
      ExchangeDeclare("logs", "topic", passive = false, durable = true,
        autoDelete = false, internal = false, noWait = false,
        arguments = Map("alternate-exchange" -> "alt2",
          "x-meta" -> Map("depth" -> 2))))
  }

  test("queue.declare (50/10) and queue.bind (50/20)") {
    certify(1,
      QueueDeclare("inbox", passive = false, durable = true,
        exclusive = false, autoDelete = false, noWait = false,
        arguments = Map.empty),
      hex("""
        01 0001 00000011
        0032 000A
        0000
        05 696E626F78               # "inbox"
        02                          # durable
        00000000                    # empty table
        CE"""))
    certify(1,
      QueueBind("inbox", "logs", "app.#", noWait = false, Map.empty),
      hex("""
        01 0001 0000001C
        0032 0014
        0000
        05 696E626F78
        04 6C6F6773
        05 6170702E23               # routing key "app.#"
        00
        00000000
        CE"""))
  }

  test("basic.qos (60/10) and basic.consume (60/20)") {
    certify(1, BasicQos(0, 50, global = false),
      hex("01 0001 0000000B 003C 000A 00000000 0032 00 CE"))
    certify(1,
      BasicConsume("inbox", "ctag-1", noLocal = false, noAck = false,
        exclusive = false, noWait = false, Map.empty),
      hex("""
        01 0001 00000018
        003C 0014
        0000
        05 696E626F78
        06 637461672D31             # consumer tag "ctag-1"
        00
        00000000
        CE"""))
  }

  test("basic.publish (60/40) + content header + body (spec §4.2.6)") {
    certify(1, BasicPublish("logs", "app.events", mandatory = false,
      immediate = false),
      hex("""
        01 0001 00000017
        003C 0028
        0000
        04 6C6F6773
        0A 6170702E6576656E7473     # "app.events"
        00
        CE"""))

    val golden = hex("""
      02 0001 00000020              # type=HEADER size=32
      003C 0000                     # class=basic, weight=0
      0000000000000009              # body size 9
      9000                          # flags: content-type | delivery-mode
      10 6170706C69636174696F6E2F6A736F6E  # "application/json"
      02                            # delivery-mode persistent
      CE""")
    val h = ContentHeader(9L, Some("application/json"), Some(2))
    assert(frameBytes(headerFrame(1, h)).toSeq == golden.toSeq)
    val parsed = parseHeader(readOne(golden).payload)
    assert(parsed == h)

    val bodyGolden = hex("03 0001 00000009 7B226B223A227622 7D CE")
    val frames = bodyFrames(1, """{"k":"v"}""".getBytes("UTF-8"),
      DefaultFrameMax)
    assert(frames.size == 1)
    assert(frameBytes(frames.head).toSeq == bodyGolden.toSeq)
    assert(new String(readOne(bodyGolden).payload, "UTF-8") == """{"k":"v"}""")
  }

  test("basic.deliver (60/60) and basic.ack (60/80)") {
    certify(1,
      BasicDeliver("ctag-1", 1L, redelivered = false, "logs", "app.events"),
      hex("""
        01 0001 00000024
        003C 003C
        06 637461672D31
        0000000000000001            # delivery tag longlong
        00
        04 6C6F6773
        0A 6170702E6576656E7473
        CE"""))
    certify(1, BasicAck(1L, multiple = false),
      hex("01 0001 0000000D 003C 0050 0000000000000001 00 CE"))
  }

  test("basic.return (60/50): NO_ROUTE handed back to the publisher") {
    certify(1,
      BasicReturn(312, "NO_ROUTE", "logs", ""),
      hex("""
        01 0001 00000015            # type=METHOD ch=1 size=21
        003C 0032                   # class=basic method=return
        0138                        # reply-code 312
        08 4E4F5F524F555445         # reply-text shortstr "NO_ROUTE"
        04 6C6F6773                 # exchange shortstr "logs"
        00                          # routing-key shortstr ""
        CE"""))
  }

  test("basic.nack (60/120): delivery tag + packed multiple/requeue bits") {
    certify(1, BasicNack(5L, multiple = false, requeue = false),
      hex("01 0001 0000000D 003C 0078 0000000000000005 00 CE"))
    certify(1, BasicNack(5L, multiple = false, requeue = true),
      hex("01 0001 0000000D 003C 0078 0000000000000005 02 CE"))
  }

  test("channel.close (20/40) carrying a 406 + failing method ids; close-ok (20/41)") {
    certify(1,
      ChannelClose(406, "PRECONDITION_FAILED", 60, 40),
      hex("""
        01 0001 0000001E            # type=METHOD ch=1 size=30
        0014 0028                   # class=channel method=close
        0196                        # reply-code 406
        13 505245434F4E444954494F4E5F4641494C4544  # "PRECONDITION_FAILED"
        003C 0028                   # failing class=60 method=40
        CE"""))
    // the 404 shape a passive declare of a missing exchange gets
    certify(1,
      ChannelClose(404, "NOT_FOUND", 40, 10),
      hex("""
        01 0001 00000014
        0014 0028
        0194
        09 4E4F545F464F554E44
        0028 000A
        CE"""))
    certify(1, ChannelCloseOk(),
      hex("01 0001 00000004 0014 0029 CE"))
  }

  test("heartbeat frame and frame-end enforcement") {
    val hb = hex("08 0000 00000000 CE")
    val f = readOne(hb)
    assert(f.tpe == FrameHeartbeat && f.payload.isEmpty)
    // corrupted end octet must be rejected, not silently absorbed
    val bad = hb.clone(); bad(bad.length - 1) = 0x00
    assertThrows[IllegalArgumentException](readOne(bad))
  }

  test("body fragmentation honors negotiated frame-max") {
    val body = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val frames = bodyFrames(1, body, 108) // chunk = 100
    assert(frames.size == 10)
    assert(frames.forall(_.payload.length == 100))
    assert(frames.flatMap(_.payload).toSeq == body.toSeq)
  }
}

object AmqpGoldenFramesSpec {
  /** The body frames [[Amqp.writeBodyFrames]] puts on the wire for `body`,
    * read back one by one.
    */
  def bodyFrames(channel: Int, body: Array[Byte], frameMax: Int): Seq[Frame] = {
    val bos = new ByteArrayOutputStream()
    writeBodyFrames(new DataOutputStream(bos), channel, body, 0, body.length, frameMax)
    val in = new DataInputStream(new ByteArrayInputStream(bos.toByteArray))
    Iterator.continually(in).takeWhile(_.available() > 0).map(readFrame).toSeq
  }
}
