package graft.sources

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 micro-batch source over a [[BrokerLog]] — the Spark
  * re-expression of the reference's AMQP consumer block (reference
  * amqp.py:36-118): one "queue" per exchange, JSON payloads as a string
  * column, per-message demux + content-type metadata.
  *
  * `format("graftmq")`, options:
  *   - `exchange` (required): exchange/log name to consume
  *   - `broker` (optional): `tcp://host:port` of a [[BrokerServer]] —
  *     the cross-process transport; unset reads the in-JVM
  *     [[MemoryBroker]] (local mode / tests)
  *   - `maxMessagesPerTrigger`: size-axis admission control — together
  *     with `Trigger.ProcessingTime(time_limit)` this reproduces the
  *     reference batcher's size-OR-time contract (batcher.py:54-109,
  *     SURVEY §7.4): a micro-batch closes at the time limit or earlier
  *     when the size cap fills it
  *   - `rowsPerPartition`: the width of the slices each admitted offset
  *     range is cut into, one input partition (one task) per slice. It
  *     must not change while a batch is in flight: the replay would cut
  *     that batch anew. Unset, the width is ceil(rows / defaultParallelism),
  *     but at least [[MqMicroBatchStream.MinWidth]]: a batch runs as one
  *     wave of tasks, at most one per task slot, and a batch of up to 5000
  *     rows stays one slice (one sink transaction)
  *
  * Offsets are log positions; `commit(end)` acks (truncates) the broker
  * log — at-least-once end-to-end, exactly-once with an idempotent sink.
  * A slot-derived width is written to the source's checkpoint dir
  * ([[SliceWidthLog]]) before Spark's offset log records its range, so a
  * replayed batch is cut into the same slices whatever the slot count
  * after the restart: (batch, slice index) names the same messages in
  * every run, the key [[graft.sinks.SqlSink.idempotentForeachBatch]]
  * marks graftmq batches by.
  *
  * A partition is one slice. Over `tcp://` it names the slice and its
  * executor fetches it; otherwise it carries the slice's messages as a
  * [[PackedSlice]], and the reader wraps each body's UTF-8 bytes as the
  * row's `value` in place. Under `maxMessagesPerTrigger`, `latestOffset`
  * waits only for the messages the batch admits (an AMQP consumer may
  * still be receiving its backlog); `reportLatestOffset` never waits.
  */
class MqDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftmq"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MqDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MqTable(new CaseInsensitiveStringMap(properties))
}

object MqDataSource {
  val schema: StructType = StructType(Seq(
    StructField("value", StringType),        // raw JSON body
    StructField("exchange", StringType),     // demux key (amqp.py:99)
    StructField("content_type", StringType), // R3 warn path (amqp.py:101-103)
    StructField("offset", LongType),
    // read time (when the partition reader was built), not broker ingest:
    // each read of a batch stamps its own, so a dropped batch's dead-letter
    // copy can carry a later `ts` than the sink saw
    StructField("ts", TimestampType)))
}

class MqTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graftmq(${options.get("exchange")})"
  override def schema(): StructType = MqDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new MqScan(opts)
}

class MqScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = MqDataSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MqMicroBatchStream(
      options.get("exchange"),
      Option(options.get("maxMessagesPerTrigger")).map(_.toLong),
      Option(options.get("broker")),
      Option(options.get("rowsPerPartition")).map(_.toLong),
      Some(checkpointLocation))
}

case class MqOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

/** The slot-derived slice width of admitted ranges, keyed by the range's
  * end position (HDFSMetadataLog's batch id), one file each under `path`.
  * Plain text: the width.
  */
private[sources] class SliceWidthLog(spark: SparkSession, path: String)
    extends HDFSMetadataLog[java.lang.Long](spark, path) {
  override def serialize(width: java.lang.Long, out: OutputStream): Unit =
    out.write(width.toString.getBytes(UTF_8))
  override def deserialize(in: InputStream): java.lang.Long =
    java.lang.Long.valueOf(new String(in.readAllBytes(), UTF_8).trim)
}

/** `rowsPerPartition`: the fixed slice width, if set. `checkpoint`: the
  * source's checkpoint dir, where [[SliceWidthLog]] keeps the widths
  * (without one, every range is cut at `rowsPerPartition` or
  * [[MqMicroBatchStream.MinWidth]]). `slots`: the task slots an unset
  * width spreads a batch over.
  */
class MqMicroBatchStream(exchangeName: String, maxPerTrigger: Option[Long],
    brokerUrl: Option[String], rowsPerPartition: Option[Long],
    checkpoint: Option[String] = None,
    slots: () => Int = () => SparkContext.getOrCreate().defaultParallelism)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  /** A stream that cuts every range at a fixed width. */
  def this(exchangeName: String, maxPerTrigger: Option[Long],
      brokerUrl: Option[String], rowsPerPartition: Int) =
    this(exchangeName, maxPerTrigger, brokerUrl, Some(rowsPerPartition.toLong))

  private val widths =
    checkpoint.map(c => new SliceWidthLog(SparkSession.active, s"$c/slice-widths"))
  @volatile private var recorded = false

  // def, not val: the in-JVM transport must re-resolve the exchange so
  // a broker reset between stream construction and use (tests simulate
  // restarts this way) is observed rather than served from a stale ref
  private def log: BrokerLog = Broker.log(exchangeName, brokerUrl)
  // Trigger.AvailableNow: pin the end of the backlog at start; batches
  // still respect the size cap, the stream stops at the pinned target.
  @volatile private var availableTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(log.latest)

  override def initialOffset(): Offset = MqOffset(log.committed)
  override def deserializeOffset(json: String): Offset = {
    val pos = json.toLong
    // restart: offsets read back from the checkpoint realign a fresh
    // AMQP consumer's client-side offset axis (no-op for other
    // transports). min-wins across calls, so the replayed batch's
    // start — the smallest deserialized offset — anchors the axis.
    log.alignBase(pos)
    MqOffset(pos)
  }

  /** Size-axis admission control (reference size_limit): the admitted
    * end offset — not the planned partitions — is capped, so the
    * checkpointed range always equals what was actually delivered.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(m => ReadLimit.maxRows(m)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[MqOffset].pos
    log.alignBase(from)
    // an AvailableNow target pinned before a restart's offset
    // realignment (AMQP transport) can sit below the checkpointed
    // start; such a stale pin is ignored rather than clamping the
    // stream backwards
    val pin = availableTarget.filter(_ >= from).getOrElse(Long.MaxValue)
    val admit = limit match {
      case mr: ReadMaxRows => math.min(pin, from + mr.maxRows)
      case _               => pin
    }
    // wait only for the messages this batch can admit
    val end = math.min(log.latestUpTo(admit), admit)
    // only a slot-derived width above the floor is recorded: planning
    // falls back to the floor (or the fixed `rowsPerPartition`) itself,
    // so a batch of up to slots × MinWidth rows costs no write
    if (rowsPerPartition.isEmpty && end > from) {
      val n = math.max(1, slots()).toLong
      val width = (end - from + n - 1) / n
      if (width > MqMicroBatchStream.MinWidth) widths.foreach { w =>
        // a no-op if an attempt that died before Spark's offset log
        // recorded its range left a width for this end: that one stands
        w.add(end, width)
        recorded = true
      }
    }
    MqOffset(math.max(from, end))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  /** What the log holds plus what its transport is still owed, without
    * waiting: Spark calls this right after [[latestOffset]], for its
    * progress report.
    */
  override def reportLatestOffset(): Offset = MqOffset(log.latestOwed)

  /** The admitted range is cut into slices of the width recorded for
    * it, one input partition each: a pure function of the checkpoint.
    * A range with no recorded width (one at the floor, a fixed
    * `rowsPerPartition`, or one checkpointed before widths were
    * recorded) is cut at `rowsPerPartition` or 5000. With a `broker`
    * server the partitions carry only (url, exchange, lo, hi) and each
    * EXECUTOR fetches its own slice over TCP — rows never pass through
    * the driver. The in-JVM and AMQP transports inline the slice as one
    * [[PackedSlice]] (UTF-8 bodies in one array), which Java-serializes
    * into the task as a few arrays, not an object per message.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[MqOffset].pos
    val until = end.asInstanceOf[MqOffset].pos
    log.alignBase(from)
    val rpp = widths.flatMap(_.get(until)).map(_.longValue)
      .getOrElse(rowsPerPartition.getOrElse(MqMicroBatchStream.MinWidth))
    val n = math.max(1L, (until - from + rpp - 1) / rpp).toInt
    val bounds = (0 until n).map(i =>
      (from + i * rpp, math.min(until, from + (i + 1) * rpp)))
    brokerUrl match {
      // AMQP offsets exist only in this process's consumer, so rows are
      // inlined into the partitions (Broker.isInlineOnly); the tcp://
      // log-server transport lets each EXECUTOR fetch its own slice
      case Some(url) if !Broker.isInlineOnly(brokerUrl) =>
        bounds.map { case (lo, hi) =>
          MqRemotePartition(url, exchangeName, lo, hi): InputPartition
        }.toArray
      case _ =>
        bounds.map { case (lo, hi) =>
          MqInlinePartition(exchangeName, log.slice(lo, hi)): InputPartition
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => p match {
      case ip: MqInlinePartition => new MqPartitionReader(ip.exchange, ip.msgs)
      case rp: MqRemotePartition =>
        val msgs = Broker.log(rp.exchange, Some(rp.url)).slice(rp.from, rp.until)
        new MqPartitionReader(rp.exchange, msgs)
    }

  /** Broker ack AFTER durable commit. Note Spark invokes this while
    * constructing the NEXT micro-batch (cleanUpLastExecutedMicroBatch),
    * so acknowledgement lags one batch — messages stay replayable until
    * then, which only strengthens the at-least-once guarantee.
    */
  override def commit(end: Offset): Unit = {
    val pos = end.asInstanceOf[MqOffset].pos
    log.ack(pos)
    // ranges ending before `end` never replay
    if (recorded) widths.foreach(_.purge(pos))
  }

  override def stop(): Unit = ()
}

object MqMicroBatchStream {
  /** The smallest slot-derived slice width, and the fixed width of old
    * checkpoints' ranges.
    */
  val MinWidth = 5000L
}

/** A slice carried inside its task: the bodies as one packed UTF-8
  * array ([[PackedSlice]]), which the reader wraps row by row.
  */
case class MqInlinePartition(exchange: String, msgs: PackedSlice)
    extends InputPartition

case class MqRemotePartition(url: String, exchange: String, from: Long, until: Long)
    extends InputPartition

/** Rows over a packed slice: each `value` wraps its body's bytes in
  * place (no copy, no re-encoding); content types are converted once per
  * dictionary entry. A body that is not valid UTF-8 (an AMQP broker
  * passes a publisher's bytes on as they are) is decoded with
  * replacement characters instead, as the `tcp://` broker does on
  * publish, so every transport yields the same `value`.
  */
class MqPartitionReader(exchange: String, msgs: PackedSlice)
    extends PartitionReader[InternalRow] {
  private var i = -1
  private val nowUs = System.currentTimeMillis() * 1000L
  private val exchangeUtf8 = UTF8String.fromString(exchange)
  private val types = msgs.types.map(UTF8String.fromString)
  override def next(): Boolean = { i += 1; i < msgs.length }
  override def get(): InternalRow = {
    val start = msgs.start(i)
    val len = msgs.end(i) - start
    val body = UTF8String.fromBytes(msgs.bytes, start, len)
    InternalRow(
      if (body.isValid) body
      else UTF8String.fromString(new String(msgs.bytes, start, len, UTF_8)),
      exchangeUtf8,
      types(msgs.typeIndex(i)),
      msgs.first + i,
      nowUs)
  }
  override def close(): Unit = ()
}
