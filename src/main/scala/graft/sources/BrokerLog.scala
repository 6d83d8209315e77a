package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.Base64

import scala.collection.immutable.{AbstractSeq, IndexedSeq}
import scala.collection.mutable.ArrayBuffer

/** One message in an exchange log: offset, AMQP-style content type
  * (reference amqp.py:101-103 inspects `properties.content_type`),
  * raw body.
  */
case class BrokerMessage(offset: Long, contentType: String, body: String)

/** Consecutive log messages from offset `first`, packed for the trip to
  * a Spark task: the UTF-8 bodies back to back in `bytes` (body i ends
  * at `end(i)` and starts where body i - 1 ends), and each content type
  * an index into the dictionary `types`. Java serialization writes the
  * three arrays, the dictionary and `first` — a fixed handful of objects
  * per slice, not one per message (the class is a plain `Serializable`
  * collection: no `DefaultSerializable` proxy re-writes its elements).
  * Elements are [[BrokerMessage]] views, decoded when asked for; the
  * Spark reader wraps the bytes instead.
  */
final class PackedSlice private[sources] (val first: Long, val bytes: Array[Byte],
    ends: Array[Int], typeIx: Array[Int], val types: Array[String])
    extends AbstractSeq[BrokerMessage] with IndexedSeq[BrokerMessage]
    with Serializable {
  override def length: Int = ends.length
  def start(i: Int): Int = if (i == 0) 0 else ends(i - 1)
  def end(i: Int): Int = ends(i)
  /** Index of message i's content type in `types`. */
  def typeIndex(i: Int): Int = typeIx(i)
  def contentType(i: Int): String = types(typeIx(i))
  override def apply(i: Int): BrokerMessage =
    BrokerMessage(first + i, contentType(i),
      new String(bytes, start(i), end(i) - start(i), UTF_8))
  override protected[this] def className: String = "PackedSlice"
}

object PackedSlice {
  /** Packs `n` messages from offset `first`: message i has
    * `contentType(i)` and the UTF-8 body `body(i)`.
    */
  def pack(first: Long, n: Int)(contentType: Int => String,
      body: Int => Array[Byte]): PackedSlice = {
    var size = 0
    var i = 0
    while (i < n) { size += body(i).length; i += 1 }
    val bytes = new Array[Byte](size)
    val ends = new Array[Int](n)
    val typeIx = new Array[Int](n)
    val dict = new java.util.HashMap[String, Integer]()
    val types = ArrayBuffer.empty[String]
    var len = 0
    i = 0
    while (i < n) {
      val b = body(i)
      System.arraycopy(b, 0, bytes, len, b.length)
      len += b.length
      ends(i) = len
      val ct = contentType(i)
      var ix = dict.get(ct)
      if (ix == null) {
        ix = types.size
        dict.put(ct, ix)
        types += ct
      }
      typeIx(i) = ix
      i += 1
    }
    new PackedSlice(first, bytes, ends, typeIx, types.toArray)
  }
}

/** Transport-agnostic contract between the graftmq Spark source and a
  * broker: an append-only offset log per exchange with post-commit
  * truncation (ack). Implementations:
  *
  *   - [[MemoryBroker]]'s in-JVM [[ExchangeLog]] — local mode / tests;
  *   - [[BrokerClient]] over TCP to a [[BrokerServer]] — the
  *     cross-process deployment shape, where the broker is its own
  *     process (like the reference's RabbitMQ, amqp.py:40-49) and the
  *     Spark driver/executors only speak the wire protocol;
  *   - [[graft.sources.amqp.AmqpConsumerLog]] over an AMQP 0-9-1
  *     subscription, which receives the log by push and may be owed
  *     messages it does not hold yet.
  */
trait BrokerLog {
  def publish(body: String, contentType: String = "application/json"): Long
  /** Messages in [from, until), capped at the log end, packed. */
  def slice(from: Long, until: Long): PackedSlice
  /** The log end, once the transport holds what it is owed. */
  def latest: Long
  /** The log end, having waited only until the log reaches `until` or
    * holds what it is owed, whichever comes first. Transports that
    * hold their whole log answer [[latest]].
    */
  def latestUpTo(until: Long): Long = latest
  /** [[latest]] without waiting: the log end plus what the transport is
    * owed and has not received yet.
    */
  def latestOwed: Long = latest
  def committed: Long
  /** Ack == truncate the log below `until` (post-commit). */
  def ack(until: Long): Unit
  /** Offset-axis realignment hint for transports whose offsets are
    * client-manufactured (AMQP: deliveries have per-session tags, no
    * broker-side positions). The source calls this with checkpointed
    * offsets after a Spark restart so a fresh consumer renumbers its
    * redeliveries to the checkpoint's axis. No-op for transports with
    * real log positions (memory, tcp).
    */
  def alignBase(off: Long): Unit = ()
}

/** The broker-side log: an in-memory buffer with an optional file WAL.
  * WAL lines are `<offset>\t<b64(contentType)>\t<b64(body)>` — payloads
  * are base64-encoded so bodies containing newlines/tabs survive
  * recovery intact (a raw-text WAL would corrupt the at-least-once
  * replay for such messages).
  *
  * The reference acks before processing (at-most-once; reference
  * amqp.py:116-118). Here the log is the source of truth: offsets index
  * it, Spark's checkpoint decides replay, and [[ack]] (called from the
  * stream's `commit`) truncates — i.e. broker acknowledgement happens
  * only after a micro-batch is durably committed, upgrading delivery to
  * at-least-once (SURVEY §7.4, a documented deliberate divergence).
  *
  * Durability hygiene for a long-lived exchange:
  *   - acked entries are COMPACTED out of the WAL once more than
  *     `compactEvery` of them have accumulated (atomic tmp+rename
  *     rewrite of the live suffix) — without it the file grows without
  *     bound and every restart re-reads every acked line;
  *   - a torn final line (crash mid-append of the non-atomic write) is
  *     TRUNCATED at recovery instead of failing the broker start — the
  *     partial record was never acknowledged to any publisher, so
  *     dropping it is the correct at-least-once outcome.
  */
final class ExchangeLog(name: String, walDir: Option[Path],
    compactEvery: Int = 1024) extends BrokerLog {
  private case class Entry(contentType: String, body: Array[Byte])
  private val buf = ArrayBuffer.empty[Entry]
  private var base = 0L                  // offset of buf(0)
  private var walBase = 0L               // offset of the WAL's first line

  private val walFile = walDir.map(_.resolve(s"$name.wal"))
  private val commitFile = walDir.map(_.resolve(s"$name.committed"))

  private def b64e(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)
  private def b64e(s: String): String = b64e(s.getBytes(UTF_8))
  private def b64d(s: String): Array[Byte] = Base64.getDecoder.decode(s)

  /** Rewrite the WAL to exactly the live (un-acked) buffer, atomically
    * (tmp file + rename) so a crash mid-compaction leaves the old WAL.
    */
  private def rewriteWal(): Unit = walFile.foreach { wf =>
    val sb = new StringBuilder
    var i = 0
    while (i < buf.size) {
      val e = buf(i)
      sb.append(base + i).append('\t').append(b64e(e.contentType))
        .append('\t').append(b64e(e.body)).append('\n')
      i += 1
    }
    val tmp = wf.resolveSibling(s"${wf.getFileName}.tmp")
    Files.writeString(tmp, sb.toString)
    Files.move(tmp, wf, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    walBase = base
  }

  // Recovery: un-acked suffix of the WAL is replayed into the buffer,
  // so a broker restart preserves at-least-once delivery. A malformed
  // final line (torn append) truncates the WAL there instead of
  // failing the start.
  walFile.foreach { wf =>
    if (Files.exists(wf)) {
      val committedOff = commitFile
        .filter(Files.exists(_))
        .map(f => Files.readString(f).trim.toLong)
        .getOrElse(0L)
      base = committedOff
      walBase = committedOff
      var torn = false
      val it = Files.readAllLines(wf).iterator()
      var first = true
      while (it.hasNext && !torn) {
        val l = it.next()
        try {
          val parts = l.split("\t", 3)
          val off = parts(0).toLong
          val e = Entry(new String(b64d(parts(1)), UTF_8), b64d(parts(2)))
          if (first) { walBase = math.min(off, committedOff); first = false }
          if (off >= committedOff) buf += e
        } catch {
          // NumberFormatException / IllegalArgumentException (base64) /
          // ArrayIndexOutOfBounds (missing field): a torn tail — the
          // record was never fully written, so it was never owed to
          // anyone; drop it and everything after it
          case _: RuntimeException => torn = true
        }
      }
      if (torn) rewriteWal()
    }
  }

  override def publish(body: String,
      contentType: String = "application/json"): Long =
    append(body.getBytes(UTF_8), contentType)

  /** [[publish]] of a UTF-8 body, kept as given. */
  def append(body: Array[Byte], contentType: String): Long = synchronized {
    val off = base + buf.size
    buf += Entry(contentType, body)
    walFile.foreach(wf => Files.writeString(wf,
      s"$off\t${b64e(contentType)}\t${b64e(body)}\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND))
    off
  }

  override def slice(from: Long, until: Long): PackedSlice = synchronized {
    val lo = math.max(from, base)
    val hi = math.max(lo, math.min(until, base + buf.size))
    val i0 = (lo - base).toInt
    PackedSlice.pack(lo, (hi - lo).toInt)(
      i => buf(i0 + i).contentType, i => buf(i0 + i).body)
  }

  override def latest: Long = synchronized { base + buf.size }
  override def committed: Long = synchronized { base }

  override def ack(until: Long): Unit = synchronized {
    val n = math.min(math.max(until - base, 0), buf.size.toLong).toInt
    buf.remove(0, n); base += n
    commitFile.foreach(f => Files.writeString(f, base.toString))
    // compact once enough acked lines have piled up below `base`; the
    // threshold amortizes the rewrite against appends
    if (base - walBase >= compactEvery) rewriteWal()
  }

  /** Remove the log's on-disk state (WAL + commit marker) — the
    * destruction path of an `auto_delete` exchange: once deleted, a
    * re-declare must start EMPTY, not recover the old suffix.
    */
  def purge(): Unit = synchronized {
    buf.clear(); base = 0L; walBase = 0L
    walFile.foreach(Files.deleteIfExists(_))
    commitFile.foreach(Files.deleteIfExists(_))
  }
}
