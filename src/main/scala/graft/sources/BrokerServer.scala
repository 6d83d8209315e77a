package graft.sources

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap

/** Standalone message-broker server: [[ExchangeLog]]s behind a
  * line-oriented TCP protocol, so the broker runs as its own process —
  * the deployment shape of the reference, whose pipeline talks to an
  * out-of-process RabbitMQ (reference amqp.py:40-49 opens a network
  * connection and declares queues/exchanges). Pure JDK + Scala stdlib:
  * a broker JVM needs no Spark on its classpath.
  *
  * Protocol (UTF-8 lines; payloads base64 so any body round-trips):
  * {{{
  *   PUB <exchange> <b64 contentType> <b64 body>   -> OK <offset>
  *   SLICE <exchange> <from> <until>               -> OK <n>
  *                                  then n lines: <off> <b64 ct> <b64 body>
  *   LATEST <exchange>                             -> OK <offset>
  *   COMMITTED <exchange>                          -> OK <offset>
  *   ACK <exchange> <until>                        -> OK
  *   DECLARE <exchange> [k=<b64 v> ...]            -> OK
  *   DECLARED <exchange>                           -> OK [k=<b64 v> ...]
  *   PING                                          -> OK
  * }}}
  *
  * DECLARE mirrors the reference's `exchange_declare(**kwargs)`
  * passthrough (reference amqp.py:55-78): kwargs are recorded on the
  * exchange; `durable` maps to this broker's real durability axis —
  * `durable=false` creates the exchange WITHOUT a WAL even when the
  * server has one (gone on restart), `durable=true` (and the default)
  * uses the server's WAL dir. Re-declares are idempotent (first one
  * wins), like the reference's signal cache.
  * Malformed requests answer `ERR <reason>` and keep the connection.
  *
  * Durability: pass a WAL dir and every exchange's un-acked suffix
  * survives a server-process restart ([[ExchangeLog]] recovery).
  */
final class BrokerServer(port: Int, walDir: Option[Path]) {
  private val exchanges = new ConcurrentHashMap[String, ExchangeLog]()
  private val declaredKwargs = new ConcurrentHashMap[String, Map[String, String]]()
  private val server = new ServerSocket(port)
  @volatile private var running = true

  // connection-cost observability for many-flow configs: clients open
  // one short-lived connection per operation, so `open` tracks in-flight
  // operations (not flow count) and `peak` records the worst concurrency
  private val acceptedCount = new java.util.concurrent.atomic.AtomicLong
  private val openCount = new java.util.concurrent.atomic.AtomicLong
  private val peakCount = new java.util.concurrent.atomic.AtomicLong
  def connectionsAccepted: Long = acceptedCount.get
  def connectionsOpen: Long = openCount.get
  def connectionsPeak: Long = peakCount.get

  def boundPort: Int = server.getLocalPort

  private def log(name: String): ExchangeLog =
    exchanges.computeIfAbsent(name, n => new ExchangeLog(n, walDir))

  private def declare(name: String, kwargs: Map[String, String]): Unit = {
    declaredKwargs.putIfAbsent(name, kwargs)
    val dir = if (kwargs.get("durable").exists(_.equalsIgnoreCase("false")))
      None else walDir
    exchanges.computeIfAbsent(name, n => new ExchangeLog(n, dir)): Unit
  }

  private def b64d(s: String) = new String(Base64.getDecoder.decode(s), UTF_8)

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), "graft-broker-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => () // closed during stop()
      }
    }
  }, "graft-broker-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(sock: Socket): Unit = {
    acceptedCount.incrementAndGet()
    val now = openCount.incrementAndGet()
    peakCount.accumulateAndGet(now, math.max)
    val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
    val out = new PrintWriter(
      new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8), false)
    try {
      var line = in.readLine()
      while (line != null) {
        // -1 keeps a trailing empty field: the base64 of an empty body
        try handle(line.split(" ", -1), out)
        catch { case e: Exception => out.println(s"ERR ${e.getClass.getSimpleName}") }
        out.flush()
        line = in.readLine()
      }
    } catch {
      case _: java.io.IOException => ()
    } finally { sock.close(); openCount.decrementAndGet(): Unit }
  }

  private def handle(parts: Array[String], out: PrintWriter): Unit = parts(0) match {
    case "PUB" =>
      out.println(s"OK ${log(parts(1)).publish(b64d(parts(3)), b64d(parts(2)))}")
    case "SLICE" =>
      val msgs = log(parts(1)).slice(parts(2).toLong, parts(3).toLong)
      out.println(s"OK ${msgs.length}")
      val enc = Base64.getEncoder
      val types = msgs.types.map(t => enc.encodeToString(t.getBytes(UTF_8)))
      var i = 0
      while (i < msgs.length) {
        val body = java.util.Arrays.copyOfRange(msgs.bytes, msgs.start(i), msgs.end(i))
        out.println(s"${msgs.first + i} ${types(msgs.typeIndex(i))} " +
          enc.encodeToString(body))
        i += 1
      }
    case "LATEST"    => out.println(s"OK ${log(parts(1)).latest}")
    case "COMMITTED" => out.println(s"OK ${log(parts(1)).committed}")
    case "ACK"       => log(parts(1)).ack(parts(2).toLong); out.println("OK")
    case "DECLARE" =>
      val kwargs = parts.drop(2).map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i) -> b64d(kv.substring(i + 1))
      }.toMap
      declare(parts(1), kwargs)
      out.println("OK")
    case "DECLARED" =>
      val enc = Base64.getEncoder
      val kv = declaredKwargs.getOrDefault(parts(1), Map.empty)
        .map { case (k, v) => s"$k=${enc.encodeToString(v.getBytes(UTF_8))}" }
      out.println(("OK" +: kv.toSeq.sorted).mkString(" "))
    case "PING"      => out.println("OK")
    case other       => out.println(s"ERR unknown command $other")
  }

  def stop(): Unit = {
    running = false
    server.close()
  }
}

/** `java -cp <classes>:<scala-library> graft.sources.BrokerServerMain
  * [port] [walDir]` — prints `READY <port>` once listening (port 0 =
  * ephemeral, the printed port is the bound one), then serves until
  * killed. This is the process a real deployment runs next to the
  * Spark cluster.
  */
object BrokerServerMain {
  def main(args: Array[String]): Unit = {
    val port = if (args.length > 0) args(0).toInt else 7421
    val walDir = if (args.length > 1) {
      val p = java.nio.file.Paths.get(args(1))
      java.nio.file.Files.createDirectories(p)
      Some(p)
    } else None
    val srv = new BrokerServer(port, walDir)
    println(s"READY ${srv.boundPort}")
    Console.out.flush()
    Thread.currentThread.join() // serve forever
  }
}
