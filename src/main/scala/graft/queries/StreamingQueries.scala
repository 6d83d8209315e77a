package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.engine.Scratch

/** Streaming twins of the batch inventory (SURVEY §2.3 Q23 / §5.3 item 4):
  * the same aggregation executed through Structured Streaming from a file
  * source must match the batch oracle exactly.
  *
  * Scale notes: the tumbling-window aggregate is a streaming state-store
  * aggregation keyed by (window, event_type) — bounded state (hours ×
  * types), partial aggregation map-side per micro-batch. `AvailableNow`
  * processes the backlog in bounded batches then stops, which is also the
  * production backfill pattern. Every query drains through one runner
  * ([[withCheckpoint]] + [[drain]], or [[drainToTable]] for a memory
  * sink), which owns the checkpoint, the trigger and the state partitions.
  */
object StreamingQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The file-source schema per events dir, read once per JVM — a
    * repeated `read.parquet(...).schema` costs a footer read + session
    * resolution on every stream launch.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  private def eventsSchema(s: SparkSession, dir: String) =
    schemaCache.computeIfAbsent(dir,
      d => s.read.parquet(s"$d/events.parquet").schema)

  /** events.ts has shipped in two physical layouts: parquet
    * TIMESTAMP(NANOS), which Spark reads as a BIGINT of nanos under
    * nanosAsLong (Sessions sets it), and TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which reads as TIMESTAMP_NTZ. These
    * helpers normalize either to the same event-time columns — the
    * session timezone is UTC, so the NTZ→timestamp cast is a pure
    * reinterpretation, no wall-clock shift.
    */
  private def tsTimestamp(raw: StructType): Column =
    raw("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case _        => col("ts").cast("timestamp")
    }

  /** Whole seconds since epoch (floor), matching the former
    * `ts div 1000000000` truncation exactly.
    */
  private def tsSeconds(raw: StructType): Column =
    raw("ts").dataType match {
      case LongType => expr("ts div 1000000000")
      case _        => unix_seconds(col("ts").cast("timestamp"))
    }

  private def tsMicros(raw: StructType): Column =
    raw("ts").dataType match {
      case LongType => expr("ts div 1000")
      case _        => unix_micros(col("ts").cast("timestamp"))
    }

  private def isDir(dir: String, table: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, s"$table.parquet"))

  /** Streaming reader for one testdata table, tolerant of both physical
    * layouts: a single `<table>.parquet` FILE, as the test data ships
    * (streaming sources must be handed its parent dir + a glob), and the
    * standard directory-of-part-files layout (handed the subdir itself —
    * a bare file path is rejected by the streaming source's basePath
    * check).
    */
  private def tableStream(s: SparkSession, dir: String, table: String,
      schema: StructType): DataFrame =
    if (isDir(dir, table)) s.readStream.schema(schema).parquet(s"$dir/$table.parquet")
    else s.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)

  private def eventsStream(s: SparkSession, dir: String,
      raw: StructType): DataFrame =
    tableStream(s, dir, "events", raw)

  private val DocsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def docsStream(s: SparkSession, dir: String): DataFrame =
    tableStream(s, dir, "documents", DocsSchema)

  /** The batch read of `documents` in the same two layouts. */
  private def docsStatic(s: SparkSession, dir: String): DataFrame =
    if (isDir(dir, "documents")) s.read.parquet(s"$dir/documents.parquet")
    else s.read.option("pathGlobFilter", "documents.parquet").parquet(dir)

  /** Runs `f` with the session conf `key` set to `value`, restoring the
    * prior setting afterwards, also when `f` throws.
    */
  private def withConf[T](s: SparkSession, key: String, value: String)(f: => T): T = {
    val prior = s.conf.getOption(key)
    s.conf.set(key, value)
    try f finally prior.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** These are bounded local backfills with tiny state: run them with a
    * few state partitions instead of the session's count — each state
    * partition is a state-store instance with its own checkpoint files
    * and per-batch commit, and that file churn (not data) dominates the
    * fixed cost of a small streaming query. State partitioning is
    * pinned per-checkpoint, so production streams size this once at
    * first start via the same session conf.
    */
  private val StatePartitions = 8

  /** The scope of one bounded backfill: `f` gets a fresh scratch
    * checkpoint and runs with [[StatePartitions]] shuffle partitions
    * (the drain and any eager batch work around it). Afterwards — also
    * when `f` throws — the checkpoint is deleted and the session's
    * partition count restored. A query that drains twice from one
    * checkpoint runs both drains inside one scope.
    */
  private[queries] def withCheckpoint[T](s: SparkSession, tag: String)(f: String => T): T = {
    val ckpt = Scratch.dir(tag)
    try withConf(s, "spark.sql.shuffle.partitions", StatePartitions.toString)(f(ckpt))
    finally Scratch.delete(ckpt)
  }

  /** Runs `w` under `Trigger.AvailableNow` at checkpoint `ckpt`: every
    * batch of the available backlog, then stop. A failed batch fails
    * the query, and this rethrows it (a `StreamingQueryException`); if
    * the wait itself is interrupted, the query is stopped before its
    * checkpoint can be deleted.
    */
  private[queries] def drain(ckpt: String)(w: DataStreamWriter[_]): Unit = {
    val q = w.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One drain of `stream` into a memory sink in `outputMode`, returned
    * as its table (named `<tag>_<nanoTime>`, unique per run).
    */
  private def drainToTable(s: SparkSession, tag: String,
      outputMode: String)(stream: Dataset[_]): DataFrame = {
    val name = s"${tag}_${System.nanoTime()}"
    withCheckpoint(s, tag)(drain(_)(stream.writeStream
      .format("memory").queryName(name).outputMode(outputMode)))
    s.table(name)
  }

  /** One far-future sentinel row written as a parquet dir for a second
    * file stream. APPEND-mode windowed aggregation only emits a window
    * once the watermark passes its end — which for a bounded backfill
    * means the trailing windows would never flush. The sentinel (a
    * deliberately out-of-band key, filtered from the result) advances
    * the watermark past every real window so the final no-data batch
    * both EMITS and EVICTS them — the same punctuation pattern a
    * production backfill uses to drain state. The sentinel row is
    * written under the SAME schema the events dir carries (see
    * [[tsTimestamp]] on the two ts layouts), so the flush stream and
    * the events stream union cleanly.
    */
  private def writeSentinel(s: SparkSession, raw: StructType,
      tsMicrosVal: Long, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val tsVal: Any = raw("ts").dataType match {
      case LongType => tsMicrosVal * 1000L // nanosAsLong layout
      case _: TimestampNTZType => java.time.LocalDateTime.ofEpochSecond(
        tsMicrosVal / 1000000L, ((tsMicrosVal % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
      case _ => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        tsMicrosVal / 1000000L, (tsMicrosVal % 1000000L) * 1000L))
    }
    val row = Row.fromSeq(raw.fields.toSeq.map { f =>
      (f.name, f.dataType) match {
        case ("ts", _)         => tsVal
        case ("event_type", _) => "__flush__"
        case (_, LongType)     => -1L
        case (_, DoubleType)   => 0.0
        case _                 => null
      }
    })
    s.createDataFrame(Seq(row).asJava, raw)
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private val FourHoursMicros = 4L * 3600 * 1000 * 1000

  /** The sentinel dir per events dir, written once per JVM (4 h past
    * the max event ts): the max-ts scan and the one-row sentinel write
    * are fixed costs of the flush pattern, not of an individual query
    * run.
    */
  private def sentinelFor(s: SparkSession, dir: String): String =
    Scratch.once("sentinel", dir) { out =>
      val raw = eventsSchema(s, dir)
      val maxTs = s.read.schema(raw)
        .parquet(s"$dir/events.parquet").agg(max(tsMicros(raw)))
        .head.getLong(0)
      writeSentinel(s, raw, maxTs + FourHoursMicros, out)
    }

  /** The events stream unioned with the sentinel flush stream
    * ([[writeSentinel]]). NOTE the sentinel must NOT be filtered inside
    * the stream: a `user_id =!= -1` gets PUSHED INTO the parquet scan,
    * whose row-group stats (min=max=-1) then skip the sentinel file
    * entirely — the row never reaches the EventTimeWatermark node and
    * the final windows and timeouts never fire. It flows through as its
    * own key instead (a timeout stamp past the final watermark never
    * emits) and is filtered from the OUTPUT.
    */
  private def flushedEvents(s: SparkSession, dir: String,
      raw: StructType): DataFrame =
    eventsStream(s, dir, raw)
      .unionByName(s.readStream.schema(raw).parquet(sentinelFor(s, dir)))

  /** The windowed count/sum of q23 in APPEND mode over an event-time
    * watermarked `events` stream, drained, sentinel dropped, keyed by
    * the window start as `startAs`.
    */
  private def windowCounts(s: SparkSession, tag: String, events: DataFrame,
      win: Column, startAs: String): DataFrame =
    drainToTable(s, tag, "append")(events
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("c"), sum(col("value")).as("v")))
      .filter(col("event_type") =!= "__flush__")
      .select(
        col("window.start").cast("string").as(startAs),
        col("event_type"),
        col("c"),
        round(col("v"), 4).as("v"))
      .orderBy(startAs, "event_type")

  /** Q23 via readStream → watermark → window(ts, 1 hour) → memory sink
    * in APPEND mode: each window is emitted exactly once when finalized
    * and its state row is evicted — output and state both stay bounded
    * on unbounded input (the complete-mode twin re-emitted the whole
    * state every micro-batch). StreamingSemanticsSpec pins the
    * eviction; the oracle pins the answer.
    */
  def q23Stream(s: SparkSession, dir: String): DataFrame = {
    // raw = the schema exactly as parquet stores it (ts layout
    // normalized by tsTimestamp/tsSeconds)
    val raw = eventsSchema(s, dir)
    windowCounts(s, "q23_stream", flushedEvents(s, dir, raw)
      .withColumn("ts", tsTimestamp(raw))
      // 2h tolerance for cross-file disorder; the +4h sentinel still
      // pushes the watermark an hour past the last real window's end
      .withWatermark("ts", "2 hours"),
      window(col("ts"), "1 hour"), "h")
  }

  /** q82's streaming twin: SLIDING windows (1 h every 30 min) in APPEND
    * mode — each event enters two overlapping state rows; every window
    * still finalizes exactly once when the watermark passes its end.
    * Same sentinel-flush drain as [[q23Stream]]; checked against the
    * identical DuckDB oracle as the batch q82.
    */
  def q82Stream(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    windowCounts(s, "q82_stream", flushedEvents(s, dir, raw)
      .withColumn("ts", tsTimestamp(raw))
      .withWatermark("ts", "2 hours"),
      window(col("ts"), "1 hour", "30 minutes"), "w_start")
  }

  /** At-least-once delivery repaired in-stream: the event stream is
    * unioned with a SECOND delivery of itself (every record arrives
    * twice), then `dropDuplicatesWithinWatermark` on the event id
    * restores exactly-once within the watermark horizon — the standard
    * streaming-ingest dedup. State is one id per event inside the
    * horizon and is evicted as the watermark passes, so state stays
    * bounded on unbounded duplicated input. The downstream hourly
    * rollup must then match q23's BATCH oracle row-for-row:
    * dedup ∘ agg == exactly-once agg.
    */
  def q148StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    windowCounts(s, "q148_stream_dedup", eventsStream(s, dir, raw)
      .unionByName(flushedEvents(s, dir, raw))
      .withColumn("ts", tsTimestamp(raw))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id"),
      window(col("ts"), "1 hour"), "h")
  }

  /** Sessionization through native session_window in a STREAMING query,
    * APPEND mode with watermark: a session is emitted exactly once when
    * the watermark passes its end (state evicted), driven over the top
    * by the same sentinel flush. Checked against the same DuckDB oracle
    * as the batch lag-based q25 — three independent implementations of
    * the same semantics must agree.
    */
  def q25Stream(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    val sessions = flushedEvents(s, dir, raw)
      .withColumn("ts_s", timestamp_seconds(tsSeconds(raw)))
      .withWatermark("ts_s", "2 hours")
      // Boundary semantics verified empirically (sf0.01 has exact-gap
      // ties): session_window MERGES sessions whose ranges touch — an
      // event at exactly prev + 30min stays in the same session, i.e.
      // "new session iff gap > 30min". That is exactly the batch/
      // oracle lag predicate `ts > prev + 30min`, so the two agree on
      // ties; a "+1s gap" adjustment would actually break them apart.
      .groupBy(session_window(col("ts_s"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    drainToTable(s, "q25_stream", "append")(sessions)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("user_id")
  }

  /** Stream-static enrichment join: the event stream joined to the
    * static customer dimension (the classic fact-stream-to-dim shape —
    * at scale the dim is broadcast per micro-batch, so the stream never
    * shuffles). Purchases per customer nation; oracle = the identical
    * batch join, which IS the equivalence contract (stream-static inner
    * joins are stateless, so batch equality is exact regardless of
    * micro-batching).
    */
  def q89StreamStatic(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    val dim = graft.engine.Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val enriched = eventsStream(s, dir, raw)
      .filter(col("event_type") === "purchase")
      .join(dim, col("user_id") === col("c_custkey")) // static side broadcasts
    drainToTable(s, "q89_stream_static", "append")(enriched)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 4).as("total_value"))
      .orderBy("c_nationkey")
  }

  /** The event-time range of the stream-stream join matrix: a click
    * (`c_user_id`, `c_ts`) joins a purchase (`pUser`, `p_ts`) of the
    * same user within the preceding 10 minutes.
    */
  private def clickInRange(pUser: String): Column =
    col(pUser) === col("c_user_id") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
      col("c_ts") <= col("p_ts")

  /** One side of the sentinel-flushed stream-stream joins (q126, q265,
    * q266, q270): the `kind` events plus the sentinel, renamed per
    * side and watermarked at the 10-minute join range. The sentinel
    * rides both sides so both watermarks advance and the final no-data
    * batch drains every join buffer; sentinel rows (user_id −1) match
    * only each other and are dropped in the sink-side rollup.
    */
  private def joinSide(s: SparkSession, dir: String, kind: String,
      idAs: String, userAs: String, tsAs: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    flushedEvents(s, dir, raw)
      .filter(col("event_type") === kind || col("event_type") === "__flush__")
      .select(col("event_id").as(idAs), col("user_id").as(userAs),
        timestamp_seconds(tsSeconds(raw)).as(tsAs))
      .withWatermark(tsAs, "10 minutes")
  }

  /** Stream-stream inner join with event-time range: each purchase
    * matched to the same user's clicks in the preceding 10 minutes,
    * then counted per user. Both sides carry watermarks and the join
    * condition bounds event time on both sides, so Spark derives state
    * eviction for BOTH join buffers — the state store holds a sliding
    * ~10-minute window of each side, bounded on unbounded input (the
    * one Structured Streaming stateful shape the inventory didn't yet
    * declare). Inner-join matches emit as soon as both rows are
    * present; the aggregation over the emitted pairs runs as a batch
    * query over the sink table, keeping the streaming graph single-
    * stateful-operator.
    *
    * Batch-equivalence caveat: the oracle comparison assumes the whole
    * input lands in ONE micro-batch (single events.parquet file +
    * AvailableNow). If the input were split across files, AvailableNow
    * would split batches and rows arriving out of event-time order by
    * more than the 10-minute watermark could be evicted from join state
    * — correct streaming semantics, but no longer equal to the batch
    * inner join. For multi-file inputs, size the watermark to the join
    * range PLUS the max cross-batch disorder.
    */
  def q65StreamJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    def side(kind: String, idAs: String, tsAs: String) =
      eventsStream(s, dir, raw)
        .filter(col("event_type") === kind)
        .select(col("event_id").as(idAs), col("user_id"),
          timestamp_seconds(tsSeconds(raw)).as(tsAs))
        .withWatermark(tsAs, "10 minutes")
    val purchases = side("purchase", "p_id", "p_ts")
    val clicks = side("click", "c_id", "c_ts")
      .withColumnRenamed("user_id", "c_user_id")
    val pairs = purchases.join(clicks, clickInRange("user_id"))
      .select(col("user_id"), col("p_id"), col("c_id"))
    drainToTable(s, "q65_stream_join", "append")(pairs)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Stream-stream LEFT OUTER join with event-time bounds: q65's shape,
    * but unmatched purchases must ALSO emit (with NULL click id) — and
    * in Structured Streaming that emission is a state-eviction side
    * effect: a purchase is declared unmatched only when the watermark
    * passes the end of its join window. The sentinel flush therefore
    * rides BOTH sides ([[joinSide]]), so every pending purchase's
    * window closes and the final no-data batch drains the outer state
    * (without it, the trailing ~10 minutes of purchases would simply
    * never appear — correct streaming semantics, silently unequal to
    * the batch left join).
    */
  def q126StreamOuter(s: SparkSession, dir: String): DataFrame = {
    val purchases = joinSide(s, dir, "purchase", "p_id", "user_id", "p_ts")
    val clicks = joinSide(s, dir, "click", "c_id", "c_user_id", "c_ts")
    val rows = purchases.join(clicks, clickInRange("user_id"), "left_outer")
      .select(col("user_id"), col("p_id"), col("c_id"))
    drainToTable(s, "q126_stream_outer", "append")(rows)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"), count(col("c_id")).as("n_matched"))
      .orderBy("user_id")
  }

  /** Stream-stream FULL OUTER join with event-time bounds — q126's
    * missing twin, closing the streaming join matrix: unmatched rows
    * on BOTH sides must emit with NULLs, and each side's emission is a
    * state-eviction side effect on ITS OWN buffer (an unmatched click
    * emits when the watermark passes the end of the windows it could
    * still join into, an unmatched purchase likewise). The sentinel
    * flush rides both sides so both buffers drain. The per-user rollup
    * counts total emitted rows and the non-NULL count per side, which
    * pins all three emission classes (pair / purchase-only /
    * click-only) against the batch full join.
    */
  def q265StreamFullOuter(s: SparkSession, dir: String): DataFrame = {
    val purchases = joinSide(s, dir, "purchase", "p_id", "p_user_id", "p_ts")
    val clicks = joinSide(s, dir, "click", "c_id", "c_user_id", "c_ts")
    val rows = purchases.join(clicks, clickInRange("p_user_id"), "full_outer")
      .select(coalesce(col("p_user_id"), col("c_user_id")).as("user_id"),
        col("p_id"), col("c_id"))
    drainToTable(s, "q265_stream_full_outer", "append")(rows)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_id")).as("n_purchases"),
        count(col("c_id")).as("n_clicks"))
      .orderBy("user_id")
  }

  /** Stream-stream RIGHT OUTER join — the last cell of the streaming
    * join matrix (inner q65, left q126, full q265): unmatched CLICKS
    * emit with NULL purchase id on eviction of the click buffer; the
    * purchase side emits only on match. Same sentinel-flush discipline
    * as q126 (both sides' watermarks must advance for the right
    * buffer to drain).
    */
  def q266StreamRightOuter(s: SparkSession, dir: String): DataFrame = {
    val purchases = joinSide(s, dir, "purchase", "p_id", "p_user_id", "p_ts")
    val clicks = joinSide(s, dir, "click", "c_id", "c_user_id", "c_ts")
    val rows = purchases.join(clicks, clickInRange("p_user_id"), "right_outer")
      .select(col("c_user_id").as("user_id"), col("p_id"), col("c_id"))
    drainToTable(s, "q266_stream_right_outer", "append")(rows)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_id")).as("n_matched"))
      .orderBy("user_id")
  }

  /** Stream-stream LEFT SEMI join — the existence-test cell of the
    * streaming join matrix (inner q65, left q126, full q265, right
    * q266): a purchase emits AT MOST ONCE, when its first qualifying
    * click arrives; later matches must not re-emit (the state store
    * carries a matched flag), and never-matched purchases are silently
    * dropped at watermark eviction rather than emitted with NULLs.
    * The sentinel flush rides both sides so the final no-data batch
    * drains all buffered state (semi output is match-driven, but the
    * drain keeps the run's state footprint zero at stop, the same
    * discipline as the outer cells).
    */
  def q270StreamSemi(s: SparkSession, dir: String): DataFrame = {
    val purchases = joinSide(s, dir, "purchase", "p_id", "user_id", "p_ts")
    val clicks = joinSide(s, dir, "click", "c_id", "c_user_id", "c_ts")
    val rows = purchases.join(clicks, clickInRange("user_id"), "left_semi")
      .select(col("user_id"), col("p_id"))
    drainToTable(s, "q270_stream_semi", "append")(rows)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_semi"))
      .orderBy("user_id")
  }

  /** Orders-as-CDC log parquet per sf dir, written ONCE per JVM as 4
    * ts-range files so `maxFilesPerTrigger=1` under AvailableNow
    * yields a genuine multi-batch maintenance run (file order is not
    * ts order — exactly the out-of-order arrival the stale-guard in
    * [[graft.streaming.IncrementalAgg.mergeRetract]] must absorb).
    * `tso` = days·10⁹ + orderkey: unique per entry, so latest-per-key
    * is well-defined on any engine.
    */
  private def cdcLogDir(s: SparkSession, dir: String): String =
    Scratch.once("q274-log", dir) { tmp =>
      graft.engine.Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_custkey").as("k"),
          (datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("bigint") * 1000000000L +
            col("o_orderkey")).as("tso"),
          when(col("o_orderpriority").startsWith("1"), "D").otherwise("U")
            .as("op"),
          pmod(col("o_custkey"), lit(8L)).as("grp"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
        .repartitionByRange(4, col("tso"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Retraction-aware incremental view maintenance driven end-to-end:
    * the orders CDC log streams through [[graft.streaming
    * .IncrementalAgg.mergeRetract]] in 4 out-of-ts-order micro-batches
    * (maxFilesPerTrigger=1), maintaining per-cohort (cnt, total_cents)
    * where each key's update RETRACTS its previous contribution and a
    * delete removes it — the aggregate q106's insert-only merger
    * cannot maintain. The final served view must equal the plain batch
    * latest-per-key recompute (the DuckDB oracle), certifying the
    * retraction arithmetic; batch-boundary/replay behavior is pinned
    * in IncrementalAggSpec.
    */
  def q274IvmRetract(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q274_ivm_retract") { ckpt =>
      val store = Scratch.dir("q274-store")
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("tso", LongType),
        StructField("op", StringType), StructField("grp", LongType),
        StructField("cents", LongType)))
      drain(ckpt)(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(cdcLogDir(s, dir))
        .writeStream
        .foreachBatch(graft.streaming.IncrementalAgg.mergeRetract(
          store, "k", "tso", "op", "grp", "cents") _))
      graft.streaming.IncrementalAgg.read(s, s"$store/agg", Seq("grp"))
        .select(col("grp"), col("cnt"), col("total").as("total_cents"))
        .orderBy("grp")
    }

  /** Typed rows/state/output for [[q100SessionizeState]]. `ts_s`
    * carries the watermark tag — the event-time column must reach the
    * stateful operator or analysis rejects the event-time timeout.
    */
  private[queries] case class SessEv(user_id: Long, ts_sec: Long,
    event_id: Long, ts_s: java.sql.Timestamp)
  private[queries] case class SessState(lastTs: Long, n: Long)
  private[queries] case class SessOut(user_id: Long, n_sessions: Long)

  /** The sentinel-flushed events as [[SessEv]] rows watermarked 2 h on
    * `ts_s`, the input of both typed sessionize twins.
    */
  private def sessEvents(s: SparkSession, dir: String): Dataset[SessEv] = {
    val raw = eventsSchema(s, dir)
    flushedEvents(s, dir, raw)
      .withColumn("ts_s", timestamp_seconds(tsSeconds(raw)))
      .withWatermark("ts_s", "2 hours")
      .select(col("user_id"), tsSeconds(raw).as("ts_sec"),
        col("event_id"), col("ts_s"))
      .as(org.apache.spark.sql.Encoders.product[SessEv])
  }

  /** Per-user session fold: count a new session when the gap from the
    * last seen event exceeds `gapSec` (strictly — an exact-gap tie
    * stays in the session, matching session_window's merge-on-touch and
    * the batch lag predicate). Emits the final count when the
    * event-time timeout fires, i.e. once the watermark has passed the
    * user's last-possible session extension.
    */
  private def sessFold(gapSec: Long)(
      user: Long, rows: Iterator[SessEv],
      state: org.apache.spark.sql.streaming.GroupState[SessState])
      : Iterator[SessOut] = {
    if (state.hasTimedOut) {
      val out = SessOut(user, state.get.n)
      state.remove()
      Iterator(out)
    } else {
      // sort within (user, batch): groups arrive unordered; ties break
      // by event_id exactly like the batch window's ORDER BY
      val sorted = rows.toSeq.sortBy(e => (e.ts_sec, e.event_id))
      var (last, n) = state.getOption
        .map(st => (st.lastTs, st.n)).getOrElse((Long.MinValue, 0L))
      sorted.foreach { e =>
        if (last == Long.MinValue || e.ts_sec > last + gapSec) n += 1
        if (e.ts_sec > last) last = e.ts_sec
      }
      state.update(SessState(last, n))
      // must exceed the current watermark or Spark rejects the stamp;
      // the sentinel's +4h push guarantees every timeout eventually fires
      state.setTimeoutTimestamp(math.max(
        last * 1000 + gapSec * 1000, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  /** q25's CUSTOM-STATE twin: sessionization via typed
    * `flatMapGroupsWithState` + event-time timeout instead of the
    * built-in session_window — the escape hatch for session semantics
    * session_window cannot express (per-session payloads, dynamic gaps,
    * custom merge rules). State = 16 bytes/user, evicted by its own
    * timeout; events sort only within (user, micro-batch) — no global
    * sort, state bounded on unbounded input. Same single-batch arrival
    * assumption as q65 (single events.parquet + AvailableNow): the
    * per-batch fold appends to the LAST session, so cross-batch
    * disorder beyond the watermark would miscount; production inputs
    * size the watermark to the max disorder exactly as documented
    * there. Oracle = the identical batch q25_sessionize SQL — THE
    * equivalence contract.
    */
  def q100SessionizeState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // the sentinel flows through as its own group (see flushedEvents)
    val sessions = sessEvents(s, dir).groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(sessFold(1800L))
    drainToTable(s, "q100_sessionize_state", "append")(sessions)
      .filter(col("user_id") =!= -1L).orderBy("user_id")
  }

  /** [[q197SessionizeTws]]'s processor: q100's sessionize fold ported
    * to Spark 4's `transformWithState` API — ValueState replaces the
    * GroupState blob, and the session-close edge is an explicit
    * event-time TIMER (registerTimer / handleExpiredTimer) instead of
    * GroupStateTimeout. Timers are re-armed per batch: the previous
    * timer is deleted first, else a stale earlier deadline would fire
    * mid-session and emit a premature count.
    */
  private class SessTwsProcessor(gapSec: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessEv, SessOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig,
      ExpiredTimerInfo, TimerValues, ValueState}
    @transient private var st: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessState]("sess",
        org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SessEv],
        tv: TimerValues): Iterator[SessOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_sec, e.event_id))
      var (last, n) =
        if (st.exists()) (st.get().lastTs, st.get().n)
        else (Long.MinValue, 0L)
      sorted.foreach { e =>
        if (last == Long.MinValue || e.ts_sec > last + gapSec) n += 1
        if (e.ts_sec > last) last = e.ts_sec
      }
      st.update(SessState(last, n))
      val old = getHandle.listTimers().toSeq
      old.foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(math.max(last * 1000 + gapSec * 1000,
        tv.getCurrentWatermarkInMs() + 1))
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessOut] =
      if (st.exists()) {
        val out = SessOut(user, st.get().n)
        st.clear()
        Iterator(out)
      } else Iterator.empty
  }

  /** q100's semantics on Spark 4's `transformWithState` — the
    * replacement arbitrary-state API (SPARK-40434 / state-v2): typed
    * composite state (ValueState/ListState/MapState), explicit timers,
    * and the RocksDB state store it requires. Certifying BOTH APIs
    * matters because fMGWS is the legacy surface; new session
    * semantics land on this one. Same oracle as batch q25 — the
    * equivalence contract, same sentinel/watermark conventions as
    * [[q100SessionizeState]].
    */
  def q197SessionizeTws(s: SparkSession, dir: String): DataFrame =
    withConf(s, "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val sessions = sessEvents(s, dir).groupByKey(_.user_id)
        .transformWithState(new SessTwsProcessor(1800L),
          TimeMode.EventTime(), OutputMode.Append())
      drainToTable(s, "q197_sessionize_tws", "append")(sessions)
        .filter(col("user_id") =!= -1L).orderBy("user_id")
    }

  /** Typed rows/state/output for [[q164StreamFirstSeen]]. State per
    * user = the distinct active days inside the backfill window
    * (bounded by the data's day span; the event-time timeout evicts it
    * once the watermark passes the user's last activity).
    */
  private[queries] case class FsEv(user_id: Long, day_sec: Long,
    ts_s: java.sql.Timestamp)
  private[queries] case class FsState(days: Seq[Long])
  private[queries] case class FsOut(user_id: Long, day_sec: Long,
    is_new: Long)

  /** Per-user first-seen fold: BUFFER distinct active days until the
    * event-time timeout — "is this the user's first day?" is an
    * event-TIME question, and micro-batches arrive in file order, so
    * emitting at arrival would mislabel a user whose earlier day shows
    * up in a later batch. On timeout every buffered day is emitted
    * with is_new = (day == min); nothing is emitted early, so the
    * answer is arrival-order-independent.
    */
  private def firstSeenFold(
      user: Long, rows: Iterator[FsEv],
      state: org.apache.spark.sql.streaming.GroupState[FsState])
      : Iterator[FsOut] = {
    if (state.hasTimedOut) {
      val days = state.get.days
      val mn = days.min
      state.remove()
      days.sorted.iterator
        .map(d => FsOut(user, d, if (d == mn) 1L else 0L))
    } else {
      val merged = (state.getOption.map(_.days).getOrElse(Seq.empty)
        ++ rows.map(_.day_sec)).distinct
      state.update(FsState(merged))
      state.setTimeoutTimestamp(math.max(
        merged.max * 1000 + 1, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  /** q163's STREAMING twin: new-vs-returning users per day through
    * custom per-user state (`flatMapGroupsWithState` + event-time
    * timeout). The growth-accounting split computed incrementally —
    * per-user state is a handful of longs, evicted by its own timeout;
    * the daily rollup then aggregates the emitted (day, is_new) pairs.
    * Oracle = the identical batch q163 SQL — the equivalence contract.
    */
  def q164StreamFirstSeen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val raw = eventsSchema(s, dir)
    // the sentinel rides as user -1 whose timeout never fires and is
    // dropped from the OUTPUT (see flushedEvents)
    val evs = flushedEvents(s, dir, raw)
      .withColumn("ts_s", timestamp_seconds(tsSeconds(raw)))
      .withWatermark("ts_s", "2 hours")
      .select(col("user_id"),
        (tsSeconds(raw) - (tsSeconds(raw) % lit(86400L)))
          .as("day_sec"),
        col("ts_s"))
      .as[FsEv]
    val marks = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(firstSeenFold)
    drainToTable(s, "q164_stream_first_seen", "append")(marks)
      .filter(col("user_id") =!= -1L)
      .groupBy(timestamp_seconds(col("day_sec")).cast("date")
        .cast("string").as("day"))
      .agg(sum(col("is_new")).as("new_users"),
        sum(lit(1L) - col("is_new")).as("returning_users"))
      .orderBy("day")
  }

  /** Typed rows/state/output for [[q219StreamThrottle]]. State per
    * (user, type) = the buffered (sec, event_id) arrivals inside the
    * backfill window; the event-time timeout evicts it once the
    * watermark passes the group's last activity.
    */
  private[queries] case class ThEv(user_id: Long, event_type: String,
    sec: Long, event_id: Long, ts_s: java.sql.Timestamp)
  private[queries] case class ThState(evs: Seq[(Long, Long)])
  private[queries] case class ThOut(user_id: Long, event_type: String,
    kept: Long)

  /** Per-(user, type) throttle fold: BUFFER arrivals until the
    * event-time timeout — "is this event >= 300 s after the previous
    * one" is an event-TIME question, and micro-batches arrive in file
    * order, so flagging at arrival would misjudge an event whose
    * predecessor shows up in a later batch. On timeout the buffered
    * events are sorted by (sec, event_id) and flagged exactly as the
    * batch lag does; nothing is emitted early, so the answer is
    * arrival-order-independent.
    */
  private def throttleFold(
      key: (Long, String), rows: Iterator[ThEv],
      state: org.apache.spark.sql.streaming.GroupState[ThState])
      : Iterator[ThOut] = {
    if (state.hasTimedOut) {
      val evs = state.get.evs.sorted
      state.remove()
      var prev = Long.MinValue
      evs.iterator.map { case (sec, _) =>
        val kept =
          if (prev == Long.MinValue || sec - prev >= 300) 1L else 0L
        prev = sec
        ThOut(key._1, key._2, kept)
      }
    } else {
      val merged = state.getOption.map(_.evs).getOrElse(Seq.empty) ++
        rows.map(r => (r.sec, r.event_id))
      state.update(ThState(merged))
      state.setTimeoutTimestamp(math.max(
        merged.map(_._1).max * 1000 + 1,
        state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  /** q217's STREAMING twin: telemetry repeat-throttle through custom
    * per-(user, type) state (`flatMapGroupsWithState` + event-time
    * timeout) — the suppression decision runs at the COLLECTOR, not in
    * a nightly batch. State is the group's buffered arrivals, evicted
    * by its own timeout; the rollup aggregates the emitted kept flags.
    * Oracle = the identical batch q217 SQL — the equivalence contract.
    */
  def q219StreamThrottle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val raw = eventsSchema(s, dir)
    // the sentinel rides as user -1 (timeout never fires — its event
    // time stays ahead of the watermark) and is dropped from the OUTPUT
    val evs = flushedEvents(s, dir, raw)
      .withColumn("ts_s", timestamp_seconds(tsSeconds(raw)))
      .withWatermark("ts_s", "2 hours")
      .select(col("user_id"), col("event_type"),
        tsSeconds(raw).as("sec"), col("event_id"), col("ts_s"))
      .as[ThEv]
    val marks = evs.groupByKey(r => (r.user_id, r.event_type))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(throttleFold)
    drainToTable(s, "q219_stream_throttle", "append")(marks)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
      .orderBy("event_type")
  }

  /** Stream-maintained UPSERT view (SCD1 from an append stream): the
    * events stream keeps a parquet-backed latest-event-per-user
    * snapshot current via foreachBatch
    * ([[graft.streaming.IncrementalAgg.mergeLatest]] — struct-max
    * merge, idempotent under replay), and the result is the final
    * snapshot rolled up by last event type. The oracle recomputes
    * "last event per user" from scratch — the view must agree with
    * the full-history window.
    */
  def q227StreamUpsert(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q227_stream_upsert") { ckpt =>
      val raw = eventsSchema(s, dir)
      val store = Scratch.dir("q227-store")
      drain(ckpt)(eventsStream(s, dir, raw)
        .withColumn("sec", tsSeconds(raw))
        .writeStream
        .foreachBatch(graft.streaming.IncrementalAgg.mergeLatest(
          store, "user_id", Seq("sec", "event_id"), Seq("event_type")) _))
      graft.streaming.IncrementalAgg.read(s, store, Seq("user_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    }

  /** The incremental materialized view driven end-to-end as a query:
    * the events stream maintains a parquet-backed (event_type → cnt,
    * total) view via foreachBatch ([[graft.streaming.IncrementalAgg
    * .mergeCountSum]]), and the result is the FINAL VIEW read back —
    * which must equal the plain batch groupBy over the same data (the
    * DuckDB oracle). Certifies the maintenance loop's arithmetic, not
    * just its mechanics (the multi-batch/replay behavior is pinned in
    * IncrementalAggSpec).
    */
  def q106IncrementalView(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q106_incremental_view") { ckpt =>
      val raw = eventsSchema(s, dir)
      val store = Scratch.dir("q106-store")
      drain(ckpt)(eventsStream(s, dir, raw).writeStream
        .foreachBatch(graft.streaming.IncrementalAgg
          .mergeCountSum(store, Seq("event_type"), "value") _))
      graft.streaming.IncrementalAgg.read(s, store, Seq("event_type"))
        .select(col("event_type"), col("cnt"),
          round(col("total"), 4).as("total"))
        .orderBy("event_type")
    }

  /** Streaming KMV distinct sketch: the bounded bottom-k `Aggregator`
    * (q171) maintained INCREMENTALLY by the streaming state store —
    * per event_type, the sketch of user-day keys absorbs each
    * micro-batch via the same merge the batch shuffle uses (the
    * mergeability that makes a sketch a sketch is exactly what makes
    * it streamable). Complete-mode output; state is ≤ 64 longs per
    * type, constant over an unbounded stream. The final drained sketch
    * must equal the batch sketch bit-for-bit — same md5 hash space, so
    * the DuckDB oracle recomputes estimate AND threshold exactly.
    */
  def q176StreamKmv(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    val k = 64
    val agg = udaf(new graft.operators.Kmv.KmvAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val sketches = eventsStream(s, dir, raw)
      .withColumn("ts_t", tsTimestamp(raw))
      .select(col("event_type"),
        graft.operators.Kmv.hash60(concat_ws("|", col("user_id"),
          date_format(col("ts_t"), "yyyy-MM-dd"))).as("h"))
      .groupBy(col("event_type"))
      .agg(agg(col("h")).as("mins"))
    drainToTable(s, "q176_stream_kmv", "complete")(sketches)
      .select(col("event_type"),
        size(col("mins")).cast("bigint").as("n_kept"),
        when(size(col("mins")) >= k, element_at(col("mins"), k))
          .otherwise(lit(null).cast("bigint")).as("kth_hash"),
        when(size(col("mins")) < k, size(col("mins")).cast("double"))
          .otherwise(round(lit((k - 1).toDouble) *
            lit(graft.operators.Kmv.SpaceSize) /
            element_at(col("mins"), k).cast("double"), 4)).as("est"))
      .orderBy("event_type")
  }

  /** Streaming twin of q243's A/B readout: the md5 arm assignment is a
    * stateless per-row transform (pure function of user_id), so the
    * rollup streams as one complete-mode aggregate keyed (arm, user) —
    * state is a counts row per active user, the floor for any
    * per-user metric — and the drained table collapses to per-arm
    * users/clicks/purchases. Must equal the batch q243 row-for-row
    * (same oracle), which certifies the experiment readout can move
    * from nightly batch to live without changing a number.
    */
  def q253StreamAb(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    val arm = when(substring(md5(col("user_id").cast("string")
        .cast("binary")), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B")
    val perUser = eventsStream(s, dir, raw)
      .withColumn("arm", arm)
      .groupBy(col("arm"), col("user_id"))
      .agg(sum((col("event_type") === "click").cast("long")).as("clicks"),
        sum((col("event_type") === "purchase").cast("long"))
          .as("purchases"))
    drainToTable(s, "q253_stream_ab", "complete")(perUser)
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("clicks")).as("clicks"),
        sum(col("purchases")).as("purchases"))
      .withColumn("purchases_per_kuser",
        expr("purchases * 1000 div n_users"))
      .orderBy("arm")
  }

  /** Streaming twin of q252's quantile sketch: the bottom-k-by-hash
    * sample absorbs each micro-batch through the same merge the batch
    * shuffle uses (mergeable == streamable, the q176 principle, now
    * for the quantile axis). State is <= k (hash, value) pairs per
    * type — constant over an unbounded stream; the drained sketch must
    * yield the exact same p50/p90 estimates as the batch sketch, so
    * the oracle is shared.
    */
  def q254StreamSampleQuantiles(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    val agg = udaf(new graft.operators.Kmv.SampleAgg(512),
      org.apache.spark.sql.Encoders.product[graft.operators.Kmv.HV])
    val samples = eventsStream(s, dir, raw)
      .select(col("event_type"),
        graft.operators.Kmv.hash60(col("event_id")).as("h"),
        col("value").as("v"))
      .groupBy(col("event_type"))
      .agg(agg(col("h"), col("v")).as("sample"))
    val est = drainToTable(s, "q254_stream_sample", "complete")(samples)
      .select(col("event_type"), explode(col("sample")).as("smp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sample"),
        round(expr("percentile(smp.v, 0.5)"), 4).as("est_p50"),
        round(expr("percentile(smp.v, 0.9)"), 4).as("est_p90"))
    val exact = graft.engine.Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("exact_p50"),
        round(expr("percentile(value, 0.9)"), 4).as("exact_p90"))
    est.join(exact, Seq("event_type")).orderBy("event_type")
  }

  /** Streaming dataset fingerprint: q181's order-invariant XOR
    * checksum maintained INCREMENTALLY per event_type — XOR is
    * commutative/associative with itself as inverse-free merge, so the
    * state store absorbs each micro-batch with the exact merge the
    * batch shuffle uses, and the drained stream must equal the batch
    * checksum bit-for-bit (the oracle re-executes it in SQL). State is
    * one BIGINT + one count per type, constant over an unbounded
    * stream — the cheapest possible "did the replay produce the same
    * dataset" monitor on an ingest pipeline.
    */
  def q185StreamFingerprint(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    val fingerprints = eventsStream(s, dir, raw)
      .select(col("event_type"),
        graft.operators.Kmv.hash60(
          concat_ws("|", col("event_id"), col("user_id"))).as("h"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), expr("bit_xor(h)").as("fp"))
    drainToTable(s, "q185_stream_fingerprint", "complete")(fingerprints)
      .orderBy("event_type")
  }

  /** Streaming heavy hitters — q131's two-pass design with the
    * candidate pass run INCREMENTALLY: the Misra-Gries summary is a
    * mergeable typed Aggregator, so the streaming state store absorbs
    * each micro-batch with the same merge the batch shuffle uses, and
    * the drained candidate set carries the identical superset
    * guarantee (any key over n/(cap+1) survives ANY merge order —
    * including the arrival order of micro-batches). Pass 2 then
    * recounts the ≤cap broadcast candidates EXACTLY against the
    * archived corpus (here: the same parquet dir the AvailableNow
    * stream drained), so the output is a pure function of the data
    * and hits q131's plain-SQL oracle shape. State is one bounded
    * map, constant over an unbounded stream — the streaming "which
    * keys exceed x% of all traffic" monitor.
    */
  def q193StreamTopk(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsSchema(s, dir)
    val fraction = 0.028
    val cap = math.ceil(1.0 / fraction).toInt - 1 // 35 < the 37-key domain
    val mg = udaf(new graft.operators.HeavyHitters.MisraGries(cap),
      org.apache.spark.sql.Encoders.STRING)
    val summary = eventsStream(s, dir, raw)
      .select((col("user_id") % 37).cast("string").as("k"))
      .agg(mg(col("k")).as("cand"), count(lit(1)).as("n"))
    val cand = drainToTable(s, "q193_stream_topk", "complete")(summary)
      .select(explode(col("cand")).as("k"), col("n"))
    graft.engine.Tables(s, dir, "events")
      .select((col("user_id") % 37).cast("string").as("k"))
      .join(broadcast(cand), "k")
      .groupBy(col("k"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > col("n") * fraction)
      .select(col("k").as("key"), col("cnt"))
      .orderBy("key")
  }

  /** Streaming-maintained zone map: the ingest loop lands each
    * micro-batch in its own `batch=<id>` partition AND upserts that
    * batch's per-file min/max stats ([[graft.operators.Layout
    * .zoneMapAppend]] — overwrite per batch id, so checkpoint replay
    * rewrites instead of duplicating). The final data-skipping read
    * over the union of batch stats must equal the plain filter — the
    * lakehouse pattern where streaming ingestion keeps the skipping
    * index current without ever recomputing it over the table.
    */
  def q196StreamZonemap(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q196_stream_zonemap") { ckpt =>
      val raw = eventsSchema(s, dir)
      val dataDir = Scratch.dir("q196-data")
      val statsDir = Scratch.dir("q196-stats")
      drain(ckpt)(eventsStream(s, dir, raw)
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          graft.operators.Layout.zoneMapAppend(
            s, df, dataDir, statsDir, id, Seq("user_id"))
        })
      val zmap = graft.operators.Layout.zoneMapRead(s, statsDir)
      val (rows, _, _) = graft.operators.Layout.prunedRead(
        s, dataDir, zmap, "user_id", 3L, 7L)
      rows.select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("value"))
        .orderBy("event_id")
    }

  /** Streaming twin of q296's hashed-n-gram classifier: score each
    * micro-batch with the SAME codegen kernel (stateless projection —
    * model inference is the easiest operator to stream), accumulate
    * the per-source rollup in the state store. The drained stream must
    * equal the batch rollup exactly (shared oracle): sums and counts
    * are commutative merges, so stream == batch by construction, and
    * the oracle certifies the construction.
    */
  def q301StreamClassifier(s: SparkSession, dir: String): DataFrame = {
    val score = graft.functions.TextFunctions
      .hashedNgramScore(col("text"), 2, 2001)
    val perSource = docsStream(s, dir).select(col("source"), score.as("score"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(col("score")).as("sum_score"))
    drainToTable(s, "q301_stream_classifier", "complete")(perSource)
      .select(col("source"), col("n_docs"), col("n_pos"), col("sum_score"))
      .orderBy("source")
  }

  /** Streaming WARC ingest: the crawl-drop shape — shards LAND over
    * time and each micro-batch explodes its arrived `.warc`/`.warc.gz`
    * files through the same stateless record walk the batch path uses
    * ([[graft.sources.Warc.explodeRecords]]); the per-lang
    * count+checksum rollup accumulates in the state store and the
    * drained stream must equal the batch ingest bit-for-bit (shared
    * q298 oracle — XOR checksum over every payload byte).
    */
  def q308StreamWarc(s: SparkSession, dir: String): DataFrame = {
    val files = s.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", "*.warc*")
      .load(AnalyticsQueries.warcShardDir(s, dir))
    val partials = graft.sources.Warc.explodeRecords(files)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "^http://ex/([a-z]+)/", 1)
          .as("lang"),
        regexp_extract(col("target_uri"), "/(\\d+)$", 1)
          .cast("bigint").as("doc_id"),
        col("content").cast("string").as("text"),
        col("shard"))
      // streaming aggregates per (lang, shard) — distinct counts are
      // not streamable, but the per-shard partials are, and XOR
      // checksums COMPOSE, so the batch rollup below reconstructs
      // the exact per-lang manifest from the drained partials
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(CAST(" +
          "conv(substring(md5(concat(doc_id, '|', text)), 1, 15), 16, 10)" +
          " AS BIGINT))").as("ck"))
    drainToTable(s, "q308_stream_warc", "complete")(partials)
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_shards"),
        expr("bit_xor(ck)").as("checksum"))
      .select(col("lang"), col("n_docs"), col("n_shards"), col("checksum"))
      .orderBy("lang")
  }

  /** The (event_id, user_id, event_type, cents) event stream the two
    * exactly-once txlog writers ingest.
    */
  private def centsStream(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir, eventsSchema(s, dir))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))

  /** The per-event_type count and cents total of the txlog table at `tdir`. */
  private def centsRollup(s: SparkSession, tdir: String): DataFrame =
    graft.operators.TxTable.snapshot(s, tdir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy("event_type")

  /** Exactly-once streaming ingestion into the transaction-log table:
    * each micro-batch commits as version batchId+1 via
    * [[graft.operators.TxTable.commitAppendAt]] — a replayed batch
    * finds its version already committed and no-ops (exercised here
    * by double-calling inside foreachBatch, simulating the restart
    * replay), so the final snapshot equals the batch relation exactly
    * despite retries. The file-sink twin of IdempotentSinkSpec's JDBC
    * contract.
    */
  def q313StreamTxlog(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q313_stream_txlog") { ckpt =>
      val tdir = Scratch.dir("q313-table")
      drain(ckpt)(centsStream(s, dir).writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val v = batchId.toInt + 1
          graft.operators.TxTable.commitAppendAt(df, tdir, v)
          // the restart replay: same batch arrives again — must no-op
          val replayed = graft.operators.TxTable.commitAppendAt(df, tdir, v)
          require(!replayed, s"replay of batch $batchId double-committed")
          ()
        })
      centsRollup(s, tdir)
    }

  /** The native `writeStream.format("txlog")` sink — q313's
    * exactly-once contract re-certified through the idiomatic format
    * path. Each micro-batch is ONE atomic commit carrying a
    * SetTransaction watermark; the restart replay is exercised the
    * HARD way: the checkpoint is wiped and the whole stream re-run at
    * the same location, so every batch re-delivers and every one must
    * no-op on the watermark (the version-keyed foreachBatch protocol
    * cannot survive this when other writers interleave; the watermark
    * can). The location must be the same path, not a fresh one: the
    * sink derives its app id from it. Same oracle as q313: the final
    * snapshot equals the batch relation exactly, despite the double run.
    */
  def q361StreamTxlogSink(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q361_stream_txlog_sink") { ckpt =>
      val tdir = Scratch.dir("q361-table")
      def drainToTxlog(): Unit =
        drain(ckpt)(centsStream(s, dir).writeStream
          .format("txlog").option("path", tdir))
      drainToTxlog()
      val v1 = graft.operators.TxTable.currentVersion(tdir)
      Scratch.delete(ckpt) // wipe the checkpoint: full replay
      drainToTxlog()
      require(graft.operators.TxTable.currentVersion(tdir) == v1,
        "a replayed batch must not even commit a version")
      centsRollup(s, tdir)
    }

  /** The native `readStream.format("txlog")` SOURCE (Delta's
    * streaming read): the first drain delivers the INITIAL SNAPSHOT
    * of the table, a commit landing between drains is delivered
    * incrementally from the checkpointed version offset — certified
    * by requiring the second drain's row count to equal exactly the
    * new commit's rows. Per-batch rollups accumulate driver-side and
    * combine by sum/xor (both associative), so the drained total must
    * equal the batch relation per lang — the stream==batch twin
    * contract on the source side.
    */
  def q367StreamTxlogSource(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q367_stream_txlog_source") { ckpt =>
      val T = graft.operators.TxTable
      val tdir = Scratch.dir("q367-table")
      val docs = graft.engine.Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      T.commitAppend(docs.filter(col("doc_id") % 3 === 0), tdir)
      T.commitAppend(docs.filter(col("doc_id") % 3 === 1), tdir)
      val acc = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(String, Long, Long)]())
      def drainRows(): Long = {
        val n = new java.util.concurrent.atomic.AtomicLong()
        drain(ckpt)(s.readStream.format("txlog").load(tdir)
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.groupBy(col("lang"))
              .agg(count(lit(1)).as("n"),
                expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, "
                  + "'|', text)), 1, 15), 16, 10) AS BIGINT))").as("ck"))
              .collect().foreach { r =>
                acc.add((r.getString(0), r.getLong(1), r.getLong(2)))
                n.addAndGet(r.getLong(1))
                ()
              }
            ()
          })
        n.get()
      }
      drainRows() // initial snapshot (v1+v2)
      val tail = docs.filter(col("doc_id") % 3 === 2)
      T.commitAppend(tail, tdir)
      val second = drainRows() // resumes from the first drain's checkpoint
      require(second == tail.count(),
        s"the resumed drain must deliver exactly the new commit's " +
          s"rows, got $second")
      import scala.jdk.CollectionConverters._
      val partials = acc.asScala.toSeq
      s.createDataFrame(partials).toDF("lang", "n", "ck")
        .groupBy(col("lang"))
        .agg(sum(col("n")).as("n_docs"),
          expr("bit_xor(ck)").as("checksum"))
        .orderBy("lang")
    }

  /** Auto-compacting steady-state ingest (q372): the native txlog
    * sink with `autoCompactEvery` set runs the incremental small-file
    * sweep ([[graft.operators.TxTable.commitCompactSmall]]) every N
    * committed batches — the OPTIMIZE-less operational mode a real
    * pipeline wants: continuous ingest whose file count stays bounded
    * without any external maintenance job. Six source commits stream
    * through one-version-per-trigger admission into the sink; the
    * certification requires (a) every ingested row survives
    * bit-exact (the oracle readout), (b) the live file count ends
    * bounded (≤2, vs 6+ without sweeps), (c) the sweeps landed as
    * `dataChange=false` commits (feeds skip them), and (d) exactly
    * six data commits — a sweep never loses or duplicates a batch.
    */
  def q372StreamAutoCompact(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q372_stream_autocompact") { ckpt =>
      val T = graft.operators.TxTable
      val src = Scratch.dir("q372-src")
      val sink = Scratch.dir("q372-sink")
      val docs = graft.engine.Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      (0 to 5).foreach(i =>
        T.commitAppend(docs.filter(col("doc_id") % 6 === i), src))
      val q = s.readStream.format("txlog")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1").load(src)
        .writeStream.format("txlog")
        .option("autoCompactEvery", "2")
        .option("autoCompactSmallBytes", (256L * 1024 * 1024).toString)
        .option("autoCompactTargetBytes", (512L * 1024 * 1024).toString)
        .option("checkpointLocation", ckpt)
        .start(sink)
      q.processAllAvailable(); q.stop()
      val hist = T.historyFull(sink)
      val dataCommits = hist.count(_._4)
      val sweeps = hist.count(h => !h._4)
      require(dataCommits == 6,
        s"expected six data commits, got $dataCommits")
      require(sweeps >= 2, s"auto-compaction never ran: $hist")
      val live = T.liveFiles(sink).size
      require(live <= 2,
        s"auto-compaction left $live live files (bound: 2)")
      T.snapshot(s, sink)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
        .orderBy("lang")
    }

  /** Streaming change-data-feed read (`format("txlog-cdf")`): the
    * commit log is the WAL, versions are offsets, and each micro-batch
    * IS [[graft.operators.TxTable.changes]] over the newly-committed
    * range ([[graft.sources.TxLogCdfSource]]) — the Delta-streaming-
    * source shape. The drained append-mode feed, re-aggregated per
    * (version, change_type), must equal the batch CDF exactly (shared
    * q319 oracle): stream == batch by construction, since both paths
    * run the same per-commit diff.
    */
  def q322StreamCdf(s: SparkSession, dir: String): DataFrame = {
    val feed = s.readStream.format("txlog-cdf")
      .option("fromVersion", "2")
      .load(AnalyticsQueries.txTableDir(s, dir))
    drainToTable(s, "q322_stream_cdf", "append")(feed)
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
          + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
      .orderBy("version", "change_type")
  }

  /** The q321 incremental view MAINTAINED BY A STREAM: the txlog-cdf
    * source feeds a stateful streaming aggregation (sum of +1/-1 row
    * signs and signed char counts per lang — both retractable), so the
    * state store IS the incrementally-maintained view, advancing per
    * micro-batch as commits land; the drained state combined with the
    * v2 base must equal the from-scratch v6 state (shared q321
    * oracle). This is the continuous deployment shape of the CDF
    * consumer: refresh cost per trigger rides |changes|, never table
    * size, and restarts resume from checkpointed offsets.
    */
  def q328StreamIvm(s: SparkSession, dir: String): DataFrame = {
    val tdir = AnalyticsQueries.txTableDir(s, dir)
    val deltas = s.readStream.format("txlog-cdf")
      .option("fromVersion", "2")
      .load(tdir)
      .withColumn("sign",
        when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .groupBy(col("lang"))
      .agg(sum(col("sign")).as("dn"),
        sum(col("sign") * length(col("text"))).as("dlen"))
    val view = drainToTable(s, "q328_stream_ivm", "complete")(deltas)
    val state2 = graft.operators.TxTable.snapshot(s, tdir, Some(2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n0"),
        sum(length(col("text")).cast("long")).as("len0"))
    state2.join(view, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("len0"), lit(0L)) + coalesce(col("dlen"), lit(0L)))
          .as("sum_len"))
      .filter(col("n_docs") > 0)
      .orderBy("lang")
  }

  /** Streaming twin of q327's unigram tokenizer APPLY — the
    * production ingest shape: train once, tokenize every arriving
    * batch forever. Each micro-batch runs the same broadcast-pieces
    * narrow pass the batch path uses ([[graft.operators.Unigram
    * .tokenize]]) inside `foreachBatch`, landing per-doc rows in its
    * own `batch=<id>` partition (overwrite — replay-idempotent, the
    * versioned-state convention); the drained output re-aggregates
    * to q327's exact per-lang rollup, and stream == batch is
    * certified by the SHARED oracle (the DuckDB Viterbi DP replay),
    * not by comparing the engine to itself.
    */
  def q335StreamTokenize(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q335_stream_tokenize") { ckpt =>
      val pieces = AnalyticsQueries.unigramPieces(s, dir)
      val out = Scratch.dir("q335-tokens")
      drain(ckpt)(docsStream(s, dir).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.operators.Unigram
            .tokenize(batch.select(col("doc_id"), col("text")),
              "doc_id", "text", pieces)
            .join(batch.select(col("doc_id"), col("lang")), "doc_id")
            .write.mode("overwrite").parquet(s"$out/batch=$id")
        })
      s.read.parquet(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "toks)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
        .orderBy("lang")
    }

  /** Streaming twin of q34c's BPE tokenizer APPLY — the other
    * production tokenizer streamed: merges train once on the frozen
    * corpus (the same 48-merge table q34b pins), then every arriving
    * micro-batch runs the identical broadcast-merges narrow pass
    * ([[graft.operators.Bpe.tokenize]]) inside `foreachBatch`,
    * landing per-doc rows replay-idempotent in `batch=<id>`
    * partitions. The drained output is per-doc — EXACTLY q34c's row
    * shape — so stream == batch is certified by SHARING q34c's
    * independent DuckDB recursive-CTE replay of the tokenizer, not by
    * comparing the engine to itself.
    */
  def q345StreamBpe(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q345_stream_bpe") { ckpt =>
      val merges = graft.operators.Bpe
        .train(docsStatic(s, dir), "text", numMerges = 48)
        .map { case (l, r, _) => (l, r) }
      val out = Scratch.dir("q345-tokens")
      drain(ckpt)(docsStream(s, dir).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.operators.Bpe
            .tokenize(batch.select(col("doc_id"), col("text")),
              "doc_id", "text", merges)
            .write.mode("overwrite").parquet(s"$out/batch=$id")
        })
      s.read.parquet(out)
        .select(col("doc_id"), col("n_tokens"), col("toks"))
        .orderBy("doc_id")
    }

  /** Streaming erasure feed (the GDPR right-to-be-forgotten shape at
    * 100 TB): delete REQUESTS arrive as a key stream; each micro-batch
    * becomes one merge-on-read DV commit (`commitDeleteDVKeys` — the
    * key batch semi-joins visible rows to positions, no file
    * rewritten, no driver collect), a replayed batch finds its rows
    * already invisible and no-ops, and a final PURGE materializes the
    * accumulated DVs without changing a visible row. Output certifies
    * BOTH stages (post-stream and post-purge) against the closed-form
    * surviving set.
    */
  def q349StreamGdpr(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q349_stream_gdpr") { ckpt =>
      val tdir = Scratch.dir("q349-table")
      graft.operators.TxTable.commitAppend(
        docsStatic(s, dir).select(col("doc_id"), col("text"), col("lang"))
          .repartitionByRange(4, col("doc_id")), tdir)
      val requests = docsStream(s, dir)
        .filter(col("doc_id") % 9 === 0)
        .select(col("doc_id"))
      drain(ckpt)(requests.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.TxTable
            .commitDeleteDVKeys(s, tdir, batch, "doc_id")
          // the restart replay: the same requests arrive again — rows
          // are already invisible, so the commit must be a version
          // no-op (idempotent erasure)
          val v = graft.operators.TxTable.currentVersion(tdir)
          val v2 = graft.operators.TxTable
            .commitDeleteDVKeys(s, tdir, batch, "doc_id")
          require(v2 == v, s"replayed erasure batch committed: v$v -> v$v2")
          ()
        })
      val vPre = graft.operators.TxTable.currentVersion(tdir)
      graft.operators.TxTable.commitPurgeDVs(s, tdir)
      def roll(stage: String, v: Option[Int]): DataFrame =
        graft.operators.TxTable.snapshot(s, tdir, v)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(stage).as("stage"), col("n_rows"), col("checksum"))
      // the pre-purge state stays reachable by time travel (purge is
      // dataChange=false reorganization) — one table, both stages
      roll("dv", Some(vPre)).unionAll(roll("purged", None))
        .orderBy("stage")
    }

  /** Streaming twin of q330's LM perplexity gate — the ingest-time
    * quality filter: every arriving micro-batch is scored under the
    * frozen broadcast piece table (integer micro-unit scores, so the
    * drained per-lang sums are order- and batching-independent
    * LONGs), landed replay-idempotent, then rolled up to q330's
    * exact output. Stream == batch certified by SHARING q330's
    * independent DuckDB DP-replay oracle.
    */
  def q337StreamPerplexity(s: SparkSession, dir: String): DataFrame =
    withCheckpoint(s, "q337_stream_perplexity") { ckpt =>
      val pieces = AnalyticsQueries.unigramPieces(s, dir)
      val out = Scratch.dir("q337-scores")
      drain(ckpt)(docsStream(s, dir).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.operators.Unigram
            .scoreDocs(batch.select(col("doc_id"), col("text")),
              "doc_id", "text", pieces)
            .join(batch.select(col("doc_id"), col("lang")), "doc_id")
            .write.mode("overwrite").parquet(s"$out/batch=$id")
        })
      s.read.parquet(out)
        .filter(col("n_tokens") > 0)
        .withColumn("mean_lp",
          round(col("score_micro").cast("double") / col("n_tokens") / 1e6,
            4))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("mean_lp") >= -3.6, 1L).otherwise(0L))
            .as("n_kept"),
          sum(col("score_micro")).as("sum_micro"),
          sum(col("n_tokens")).as("sum_tokens"))
        .select(col("lang"), col("n_docs"), col("n_kept"),
          round(col("sum_micro").cast("double") / col("sum_tokens") / 1e6,
            4).as("mean_lp_overall"))
        .orderBy("lang")
    }

  val queries: Map[String, Q] = Map(
    "q349_stream_gdpr" -> (q349StreamGdpr(_, _)),
    "q345_stream_bpe" -> (q345StreamBpe(_, _)),
    "q337_stream_perplexity" -> (q337StreamPerplexity(_, _)),
    "q335_stream_tokenize" -> (q335StreamTokenize(_, _)),
    "q313_stream_txlog" -> (q313StreamTxlog(_, _)),
    "q361_stream_txlog_sink" -> (q361StreamTxlogSink(_, _)),
    "q367_stream_txlog_source" -> (q367StreamTxlogSource(_, _)),
    "q372_stream_autocompact" -> (q372StreamAutoCompact(_, _)),
    "q322_stream_cdf" -> (q322StreamCdf(_, _)),
    "q328_stream_ivm" -> (q328StreamIvm(_, _)),
    "q308_stream_warc" -> (q308StreamWarc(_, _)),
    "q301_stream_classifier" -> (q301StreamClassifier(_, _)),
    "q197_sessionize_tws" -> (q197SessionizeTws(_, _)),
    "q196_stream_zonemap" -> (q196StreamZonemap(_, _)),
    "q193_stream_topk" -> (q193StreamTopk(_, _)),
    "q185_stream_fingerprint" -> (q185StreamFingerprint(_, _)),
    "q106_incremental_view" -> (q106IncrementalView(_, _)),
    "q23_stream" -> (q23Stream(_, _)),
    "q25_stream" -> (q25Stream(_, _)),
    "q65_stream_join" -> (q65StreamJoin(_, _)),
    "q126_stream_outer" -> (q126StreamOuter(_, _)),
    "q265_stream_full_outer" -> (q265StreamFullOuter(_, _)),
    "q266_stream_right_outer" -> (q266StreamRightOuter(_, _)),
    "q270_stream_semi" -> (q270StreamSemi(_, _)),
    "q274_ivm_retract" -> (q274IvmRetract(_, _)),
    "q82_stream" -> (q82Stream(_, _)),
    "q89_stream_static" -> (q89StreamStatic(_, _)),
    "q100_sessionize_state" -> (q100SessionizeState(_, _)),
    "q148_stream_dedup" -> (q148StreamDedup(_, _)),
    "q164_stream_first_seen" -> (q164StreamFirstSeen(_, _)),
    "q176_stream_kmv" -> (q176StreamKmv(_, _)),
    "q219_stream_throttle" -> (q219StreamThrottle(_, _)),
    "q227_stream_upsert" -> (q227StreamUpsert(_, _)),
    "q253_stream_ab" -> (q253StreamAb(_, _)),
    "q254_stream_sample" -> (q254StreamSampleQuantiles(_, _))
  )

  /** Same oracle as the batch form — that IS the equivalence contract. */
  val oracles: Map[String, String] = Map(
    // the streamed tokenizer apply must equal the batch apply — both
    // certified by the same independent DuckDB Viterbi DP replay
    "q335_stream_tokenize" ->
      AnalyticsQueries.oracles("q327_unigram_tokenize"),
    // the streamed BPE apply must equal the batch apply per doc —
    // both certified by the same DuckDB recursive-CTE tokenizer replay
    "q345_stream_bpe" -> AnalyticsQueries.oracles("q34c_bpe_tokens"),
    // the erasure stream's survivors (both before and after PURGE) =
    // the closed-form complement of the request keys
    "q349_stream_gdpr" ->
      ("WITH k AS (SELECT 'dv' AS stage UNION ALL SELECT 'purged'), "
       + "sv AS (SELECT COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM documents WHERE doc_id % 9 <> 0) "
       + "SELECT k.stage, sv.n_rows, sv.checksum FROM k CROSS JOIN sv "
       + "ORDER BY k.stage"),
    // the streamed perplexity gate must equal the batch gate — the
    // integer micro-unit scores make the rollup batching-independent
    "q337_stream_perplexity" ->
      AnalyticsQueries.oracles("q330_perplexity_filter"),
    // the streamed classifier rollup must equal the batch inference
    "q301_stream_classifier" -> AnalyticsQueries.oracles("q296_hash_classifier"),
    // the streamed WARC ingest must equal the batch ingest bit-for-bit
    "q308_stream_warc" -> AnalyticsQueries.oracles("q298_warc_ingest"),
    // the exactly-once txlog snapshot must equal the batch relation
    // despite every batch being replayed once
    // the streamed change feed must equal the batch CDF exactly
    "q322_stream_cdf" -> AnalyticsQueries.oracles("q319_txlog_cdf"),
    // the stream-maintained view must equal the from-scratch state
    "q328_stream_ivm" -> AnalyticsQueries.oracles("q321_txlog_ivm"),
    "q313_stream_txlog" ->
      ("SELECT event_type, COUNT(*)::BIGINT AS n, "
       + "SUM(ROUND(value * 100)::BIGINT)::BIGINT AS total_cents "
       + "FROM events GROUP BY event_type ORDER BY event_type"),
    // the format("txlog") sink drained TWICE (checkpoint wiped in
    // between) must still equal the batch relation exactly once
    "q361_stream_txlog_sink" ->
      ("SELECT event_type, COUNT(*)::BIGINT AS n, "
       + "SUM(ROUND(value * 100)::BIGINT)::BIGINT AS total_cents "
       + "FROM events GROUP BY event_type ORDER BY event_type"),
    // the txlog streaming source's drained rollup (initial snapshot +
    // incremental tail) must equal the batch relation per lang
    "q367_stream_txlog_source" ->
      ("SELECT lang, COUNT(*)::BIGINT AS n_docs, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM documents GROUP BY lang ORDER BY lang"),
    // auto-compacted steady-state ingest: bounded file count is
    // asserted in-query; the data readout must equal the batch
    // relation per lang regardless of how many sweeps ran
    "q372_stream_autocompact" ->
      ("SELECT lang, COUNT(*)::BIGINT AS n_docs, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM documents GROUP BY lang ORDER BY lang"),
    // the streamed A/B readout must equal the batch assignment + rollup
    "q253_stream_ab" -> AnalyticsQueries.oracles("q243_ab_assign"),
    // the streamed quantile sketch must equal the batch sketch exactly
    "q254_stream_sample" -> AnalyticsQueries.oracles("q252_sample_quantiles"),
    // streaming MG candidates + exact recount == the plain HAVING
    // query (approximation assists the plan, never the answer — the
    // q131 contract, maintained incrementally)
    // the streamed throttle decision must equal the batch lag — the
    // event-time-buffered fold makes it arrival-order-independent
    "q219_stream_throttle" -> AnalyticsQueries.oracles("q217_throttle"),
    // the incrementally-maintained latest-per-user snapshot must equal
    // the from-scratch full-history window
    "q227_stream_upsert" ->
      ("WITH e AS (SELECT user_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec, event_id FROM events), "
       + "r AS (SELECT user_id, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec DESC, event_id DESC) AS rn FROM e) "
       + "SELECT event_type, COUNT(*)::BIGINT AS n_users FROM r WHERE rn = 1 "
       + "GROUP BY event_type ORDER BY event_type"),
    "q193_stream_topk" ->
      ("WITH tk AS (SELECT CAST(user_id % 37 AS VARCHAR) AS k FROM events) "
       + "SELECT k AS key, COUNT(*)::BIGINT AS cnt FROM tk GROUP BY 1 "
       + "HAVING COUNT(*) > (SELECT COUNT(*) FROM tk) * 0.028 ORDER BY key"),
    // the streaming-maintained skipping index must serve a read
    // row-identical to the plain filter (skipping is physical-only)
    "q196_stream_zonemap" ->
      ("SELECT event_id, user_id, ROUND(value, 4) AS value FROM events "
       + "WHERE user_id BETWEEN 3 AND 7 ORDER BY event_id"),
    // the incrementally-maintained checksum must equal the batch
    // checksum bit-for-bit — the oracle re-executes the XOR fold
    "q185_stream_fingerprint" ->
      ("SELECT event_type, COUNT(*)::BIGINT AS n_events, "
       + "bit_xor(CAST(('0x' || substring(md5(event_id::VARCHAR || '|' || user_id::VARCHAR), 1, 15)) AS BIGINT)) AS fp "
       + "FROM events GROUP BY 1 ORDER BY 1"),
    "q106_incremental_view" ->
      ("SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 4) AS total "
       + "FROM events GROUP BY 1 ORDER BY 1"),
    "q23_stream" -> CoreQueries.oracles("q23_hourly"),
    // dedup restores exactly-once, so the DOUBLED stream must hit the
    // single-delivery batch oracle exactly
    "q148_stream_dedup" -> CoreQueries.oracles("q23_hourly"),
    "q25_stream" -> CoreQueries.oracles("q25_sessionize"),
    "q100_sessionize_state" -> CoreQueries.oracles("q25_sessionize"),
    // the transformWithState twin must hit the same batch oracle
    "q197_sessionize_tws" -> CoreQueries.oracles("q25_sessionize"),
    "q164_stream_first_seen" ->
      AnalyticsQueries.oracles("q163_new_vs_returning"),
    // the incrementally-maintained sketch must equal the batch sketch
    // bit-for-bit — the oracle re-executes the full KMV in SQL
    "q176_stream_kmv" ->
      ("WITH h AS (SELECT DISTINCT event_type, "
       + "CAST(('0x' || substring(md5(user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d')), 1, 15)) AS BIGINT) AS hv FROM events), "
       + "r AS (SELECT event_type, hv, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h) "
       + "SELECT event_type, COUNT(*)::BIGINT AS n_kept, "
       + "MAX(CASE WHEN rn = 64 THEN hv END) AS kth_hash, "
       + "CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE "
       + "ELSE ROUND(63.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(MAX(CASE WHEN rn = 64 THEN hv END) AS DOUBLE), 4) END AS est "
       + "FROM r WHERE rn <= 64 GROUP BY event_type ORDER BY event_type"),
    "q82_stream" -> CoreQueries.oracles("q82_sliding"),
    // the batch formulation of the same join IS the equivalence contract
    "q65_stream_join" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events), "
       + "p AS (SELECT event_id AS p_id, user_id, sec AS p_sec FROM e WHERE event_type = 'purchase'), "
       + "c AS (SELECT event_id AS c_id, user_id, sec AS c_sec FROM e WHERE event_type = 'click') "
       + "SELECT p.user_id, COUNT(*) AS n_pairs FROM p JOIN c "
       + "ON p.user_id = c.user_id AND c.c_sec BETWEEN p.p_sec - 600 AND p.p_sec "
       + "GROUP BY 1 ORDER BY p.user_id"),
    "q126_stream_outer" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events), "
       + "p AS (SELECT event_id AS p_id, user_id, sec AS p_sec FROM e WHERE event_type = 'purchase'), "
       + "c AS (SELECT event_id AS c_id, user_id AS c_user_id, sec AS c_sec FROM e WHERE event_type = 'click') "
       + "SELECT p.user_id, COUNT(*) AS n_rows, COUNT(c.c_id) AS n_matched "
       + "FROM p LEFT JOIN c ON p.user_id = c.c_user_id AND c.c_sec BETWEEN p.p_sec - 600 AND p.p_sec "
       + "GROUP BY 1 ORDER BY p.user_id"),
    "q265_stream_full_outer" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events), "
       + "p AS (SELECT event_id AS p_id, user_id AS p_user_id, sec AS p_sec FROM e WHERE event_type = 'purchase'), "
       + "c AS (SELECT event_id AS c_id, user_id AS c_user_id, sec AS c_sec FROM e WHERE event_type = 'click'), "
       + "j AS (SELECT COALESCE(p_user_id, c_user_id) AS user_id, p_id, c_id "
       + "FROM p FULL JOIN c ON p_user_id = c_user_id AND c_sec BETWEEN p_sec - 600 AND p_sec) "
       + "SELECT user_id, COUNT(*) AS n_rows, COUNT(p_id) AS n_purchases, COUNT(c_id) AS n_clicks "
       + "FROM j GROUP BY 1 ORDER BY user_id"),
    "q266_stream_right_outer" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events), "
       + "p AS (SELECT event_id AS p_id, user_id AS p_user_id, sec AS p_sec FROM e WHERE event_type = 'purchase'), "
       + "c AS (SELECT event_id AS c_id, user_id AS c_user_id, sec AS c_sec FROM e WHERE event_type = 'click') "
       + "SELECT c.c_user_id AS user_id, COUNT(*) AS n_rows, COUNT(p.p_id) AS n_matched "
       + "FROM p RIGHT JOIN c ON p.p_user_id = c.c_user_id AND c.c_sec BETWEEN p.p_sec - 600 AND p.p_sec "
       + "GROUP BY 1 ORDER BY user_id"),
    "q270_stream_semi" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events), "
       + "p AS (SELECT event_id AS p_id, user_id, sec AS p_sec FROM e WHERE event_type = 'purchase'), "
       + "c AS (SELECT user_id AS c_user_id, sec AS c_sec FROM e WHERE event_type = 'click') "
       + "SELECT user_id, COUNT(*) AS n_semi FROM p "
       + "WHERE EXISTS (SELECT 1 FROM c WHERE c.c_user_id = p.user_id "
       + "AND c.c_sec BETWEEN p.p_sec - 600 AND p.p_sec) "
       + "GROUP BY 1 ORDER BY user_id"),
    "q274_ivm_retract" ->
      ("WITH log AS (SELECT o_custkey AS k, "
       + "datediff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT * 1000000000 + o_orderkey AS tso, "
       + "CASE WHEN o_orderpriority LIKE '1%' THEN 'D' ELSE 'U' END AS op, "
       + "ROUND(o_totalprice * 100)::BIGINT AS cents "
       + "FROM orders WHERE o_orderkey % 5 = 0), "
       + "la AS (SELECT k, op, cents FROM (SELECT *, ROW_NUMBER() OVER "
       + "(PARTITION BY k ORDER BY tso DESC) AS rn FROM log) t WHERE rn = 1) "
       + "SELECT k % 8 AS grp, COUNT(*)::BIGINT AS cnt, SUM(cents)::BIGINT AS total_cents "
       + "FROM la WHERE op <> 'D' GROUP BY 1 ORDER BY grp"),
    "q89_stream_static" ->
      ("SELECT c.c_nationkey, COUNT(*) AS n_purchases, ROUND(SUM(e.value), 4) AS total_value "
       + "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
       + "WHERE e.event_type = 'purchase' GROUP BY 1 ORDER BY c.c_nationkey")
  )
}
