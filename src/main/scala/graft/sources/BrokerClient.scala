package graft.sources

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** TCP client for a [[BrokerServer]], one exchange per instance —
  * the [[BrokerLog]] the graftmq source uses when `broker` is set.
  *
  * One short-lived connection per operation: the source calls the
  * broker a handful of times per micro-batch (latest/slice/ack), and
  * per-op connections make the client trivially robust to broker
  * restarts — the next operation simply reconnects, and un-acked
  * messages are still there thanks to the server-side WAL.
  */
final class BrokerClient(host: String, port: Int, exchange: String)
    extends BrokerLog {

  private def b64e(s: String) = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def b64d(s: String) = new String(Base64.getDecoder.decode(s), UTF_8)

  private def withConn[T](f: (BufferedReader, PrintWriter) => T): T = {
    // bounded waits: a hung/partitioned broker must fail the Spark task
    // (which then retries) rather than block it forever
    val sock = new Socket()
    sock.connect(new java.net.InetSocketAddress(host, port), 10000)
    sock.setSoTimeout(60000)
    try {
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      val out = new PrintWriter(
        new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8), false)
      f(in, out)
    } finally sock.close()
  }

  private def expectOk(line: String): Array[String] = {
    require(line != null, s"broker $host:$port closed the connection")
    val parts = line.split(" ")
    require(parts(0) == "OK", s"broker error: $line")
    parts
  }

  private def simple(cmd: String): Array[String] = withConn { (in, out) =>
    out.println(cmd); out.flush()
    expectOk(in.readLine())
  }

  override def publish(body: String,
      contentType: String = "application/json"): Long =
    simple(s"PUB $exchange ${b64e(contentType)} ${b64e(body)}")(1).toLong

  /** The server's lines are `<offset> <b64(contentType)> <b64(body)>`. */
  override def slice(from: Long, until: Long): PackedSlice =
    withConn { (in, out) =>
      out.println(s"SLICE $exchange $from $until"); out.flush()
      val n = expectOk(in.readLine())(1).toInt
      // -1 keeps the empty base64 of an empty body
      val lines = Array.fill(n)(in.readLine().split(" ", -1))
      val bodies = lines.map(p => Base64.getDecoder.decode(p(2)))
      PackedSlice.pack(lines.headOption.fold(from)(_(0).toLong), n)(
        i => b64d(lines(i)(1)), bodies(_))
    }

  override def latest: Long = simple(s"LATEST $exchange")(1).toLong
  override def committed: Long = simple(s"COMMITTED $exchange")(1).toLong
  override def ack(until: Long): Unit = { simple(s"ACK $exchange $until"); () }

  /** Exchange-declare kwargs passthrough (reference amqp.py:55-78). */
  def declare(kwargs: Map[String, String]): Unit = {
    val kv = kwargs.map { case (k, v) => s"$k=${b64e(v)}" }.toSeq.sorted
    simple(("DECLARE" +: exchange +: kv).mkString(" ")); ()
  }

  /** Kwargs recorded by a prior declare (empty if none). */
  def declared: Map[String, String] =
    simple(s"DECLARED $exchange").drop(1).map { kv =>
      val i = kv.indexOf('=')
      kv.substring(0, i) -> b64d(kv.substring(i + 1))
    }.toMap
}

/** Resolves the transport for an exchange from the source's `broker`
  * option: unset -> in-JVM [[MemoryBroker]]; `tcp://host:port` -> a
  * [[BrokerClient]] to that server; `amqp://host:port` -> a persistent
  * AMQP 0-9-1 subscription ([[graft.sources.amqp.AmqpConsumerLog]]) to
  * any broker speaking the real protocol — the reference's deployment
  * shape (docs/usage.rst:8-11: the input side IS an amqp server).
  */
object Broker {
  private val TcpUrl = "tcp://([^:/]+):([0-9]+)".r

  /** AMQP offsets are client-side, so slices can't be re-fetched from
    * another process: the source must plan inline partitions.
    */
  def isInlineOnly(brokerUrl: Option[String]): Boolean =
    brokerUrl.exists(u =>
      u.startsWith("amqp://") || u.startsWith("amqps://"))

  def log(exchange: String, brokerUrl: Option[String]): BrokerLog =
    brokerUrl match {
      case None                  => MemoryBroker.exchange(exchange)
      case Some(TcpUrl(h, p))    => new BrokerClient(h, p.toInt, exchange)
      case Some(u) if isInlineOnly(Some(u)) =>
        // full pika URLParameters shape: credentials, vhost, amqps
        amqp.AmqpBroker.log(amqp.AmqpUrl.parse(u), exchange)
      case Some(other)           =>
        throw new IllegalArgumentException(
          s"unsupported broker url '$other' (expected tcp://host:port " +
            "or amqp[s]://[user:pass@]host[:port][/vhost])")
    }

  /** Kwargs pika's `exchange_declare` accepts by name. The reference
    * forwards YAML kwargs to pika verbatim (amqp.py:55-78), so any
    * OTHER key — `exclusive` (a queue_declare kwarg), a typo — raises
    * TypeError there at bind time; [[declare]] rejects the same set
    * with the same timing. `arguments.<k>` entries (the flattened form
    * of pika's `arguments` dict) and bare `x-*` keys are AMQP
    * arguments-table entries, which every transport records.
    */
  private val DeclareKwargs =
    Set("exchange_type", "passive", "durable", "auto_delete", "internal")

  private[sources] def validateDeclareKwargs(kwargs: Map[String, String]): Unit = {
    val unknown = kwargs.keys.filterNot(k =>
      DeclareKwargs(k) || k.startsWith("arguments.") || k.startsWith("x-"))
    require(unknown.isEmpty,
      s"unknown exchange_declare kwargs: ${unknown.toSeq.sorted.mkString(", ")} " +
        "(accepted: exchange_type, passive, durable, auto_delete, internal, " +
        "arguments.<key> / x-* table entries — the set pika's " +
        "exchange_declare takes; the reference would raise TypeError on " +
        "these too)")
  }

  /** Declare-with-kwargs against whichever transport serves the
    * exchange (the reference declares on bind, amqp.py:70).
    */
  def declare(exchange: String, brokerUrl: Option[String],
      kwargs: Map[String, String]): Unit = {
    validateDeclareKwargs(kwargs)
    brokerUrl match {
      case None => MemoryBroker.declare(exchange, kwargs)
      case Some(TcpUrl(h, p)) =>
        new BrokerClient(h, p.toInt, exchange).declare(kwargs)
      case Some(u) if isInlineOnly(Some(u)) =>
        amqp.AmqpBroker.declare(amqp.AmqpUrl.parse(u), exchange, kwargs)
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unsupported broker url '$other' (expected tcp://host:port " +
            "or amqp[s]://[user:pass@]host[:port][/vhost])")
    }
  }
}
