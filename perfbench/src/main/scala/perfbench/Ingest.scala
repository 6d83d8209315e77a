package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{Config, Flows, Metrics}
import graft.sources.amqp.{AmqpBroker, AmqpConnection, AmqpServer}

/** The two workloads on the product path: AMQP 0-9-1 wire → graftmq
  * source → the `Flows` micro-batch writer → `SqlSink` → embedded Derby
  * (in memory, so no fsync). Flows start through `Flows.start`, the
  * path the CLI uses.
  *
  *  - `ingest_steady`: open loop. One generator thread publishes seeded
  *    Poisson arrivals at [[Rate]] msg/s over one connection, stamping
  *    each message with its scheduled send time; latency runs from that
  *    time to the row's commit-time stamp in Derby. `time_limit: 1`,
  *    best-effort sink, dead-letter dir, rare corrupt bodies and a small
  *    non-JSON content-type share.
  *  - `ingest_backlog`: rounds of a fixed seeded backlog with long-tailed
  *    payloads, published before the flow starts and drained with
  *    `time_limit: 0` into the idempotent sink.
  */
object Ingest {
  // Traffic. The repository holds no trace of real traffic, so each
  // figure below is either taken from a stated source or marked as an
  // assumption; README.md lists them with their sources.

  /** Arrival rate, msg/s. Assumption: the low end of the 2–6k msg/s
    * range over which a probe of this flow on a 4-core host with
    * `time_limit: 1` measured p50 0.65–0.87 s. The traced run's
    * `sources.lag_msgs_max` shows whether the flow keeps up.
    */
  val Rate = 2000.0
  /** Warm-up traffic before timing starts: the first micro-batches
    * (about 4.5 s for the first one) and the JIT.
    */
  val WarmupS = 12.0
  /** Assumption: a rare corrupt body (truncated JSON), which must reach
    * the dead-letter dir.
    */
  val CorruptShare = 0.0002
  /** Assumption: a small share of valid JSON bodies sent as
    * `text/plain`, the content type of the reference's warn path.
    */
  val NonJsonShare = 0.02
  /** Messages per backlog round: two `size_limit` batches, so one round
    * drains in a few seconds and a run holds three rounds at least.
    */
  val BacklogSize = 40000
  /** Untimed rounds first: the first round after a single warm-up round
    * still drained about 8% slower than the next ones.
    */
  val BacklogWarmupRounds = 2
  val BacklogSizeLimit = 20000
  val MinRounds = 3

  /** What the sink must write for one valid message. */
  final case class Row(seq: Long, sentMs: Long, message: String, count: Long,
      nestedMessage: String)

  /** One message: its body, content type and expected row. Everything
    * but `sentMs` is a pure function of (seed, seq), so the check can
    * regenerate it.
    */
  final case class Msg(body: String, contentType: String, corrupt: Boolean, row: Row)

  /** The body is the reference's canonical payload — `message`, `count`
    * and an object `nested` holding `message` — plus `seq` and the
    * scheduled send time. Backlog bodies add a long-tailed tail: a text
    * field and a list of nested items. Their size distribution is an
    * assumption (no payload sizes are recorded anywhere): a Pareto text
    * length (α 1.3, from 60 chars, capped at 6000) and a geometric item
    * count (continue with p 0.7, at most 30).
    */
  def message(seed: Long, seq: Long, sentMs: Long, longTail: Boolean,
      dirty: Boolean): Msg = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ (seq + 1) * 0xC2B2AE3D27D4EB4FL)
    val message = s"message-${r.nextInt(100000)}"
    val count = r.nextInt(1000).toLong
    val nestedMessage = s"nested-${r.nextInt(100000)}"
    val sb = new StringBuilder(256)
    sb ++= s"""{"seq":$seq,"sent_ms":$sentMs,"message":"$message","count":$count,"""
    sb ++= s""""nested":{"message":"$nestedMessage"}"""
    if (longTail) {
      val len = math.min(6000, (60 / math.pow(1 - r.nextDouble(), 1 / 1.3)).toInt)
      val words = Array("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa")
      val text = new StringBuilder(len + 8)
      while (text.length < len) text ++= words(r.nextInt(words.length)) += ' '
      sb ++= s""","text":"${text.toString.trim}","items":["""
      var n = 0
      while (r.nextDouble() < 0.7 && n < 30) {
        if (n > 0) sb += ','
        sb ++= s"""{"id":${r.nextInt(1 << 20)},"w":${r.nextInt(1000) / 8.0},"meta":{"n":$n}}"""
        n += 1
      }
      sb += ']'
    }
    sb += '}'
    val roll = r.nextDouble()
    val corrupt = dirty && roll < CorruptShare
    val ct = if (dirty && roll >= CorruptShare && roll < CorruptShare + NonJsonShare)
      "text/plain" else "application/json"
    val full = sb.toString
    Msg(if (corrupt) full.substring(0, full.length / 2) else full, ct, corrupt,
      Row(seq, sentMs, message, count, nestedMessage))
  }

  // dotted-path parameters: a nested leaf, a missing path (NULL) and a
  // residual object (JSON string) ride along with the plain fields
  private val Insert = "INSERT INTO ingest (seq, sent_ms, message, cnt, " +
    "nested_message, nested_unknown, nested) VALUES (:seq, :sent_ms, :message, " +
    ":cnt, :nested_message, :nested_unknown, :nested)"
  private val Params = Seq("seq" -> "seq", "sent_ms" -> "sent_ms",
    "message" -> "message", "cnt" -> "count", "nested_message" -> "nested.message",
    "nested_unknown" -> "nested.unknown", "nested" -> "nested")

  private def derbyUrl(db: String, traced: Boolean) =
    (if (traced) TraceJdbc.Prefix else "jdbc:derby:") + s"memory:$db;create=true"

  private def createTable(db: String): Unit = {
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$db;create=true")
    try c.createStatement().execute("CREATE TABLE ingest (seq BIGINT, " +
      "sent_ms BIGINT, message VARCHAR(64), cnt BIGINT, nested_message VARCHAR(64), " +
      "nested_unknown VARCHAR(64), nested VARCHAR(256), " +
      "landed TIMESTAMP DEFAULT CURRENT_TIMESTAMP)")
    finally c.close()
  }

  private def dropDb(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop throws

  private def yaml(port: Int, exchange: String, url: String, sizeLimit: Int,
      timeLimit: Int, idempotent: Boolean, deadLetter: Option[String]): String = {
    val params = Params.map { case (k, v) => s"            $k: $v" }.mkString("\n")
    s"""size_limit: $sizeLimit
       |time_limit: $timeLimit
       |blocks:
       |  - name: input
       |    type: amqp
       |    kwargs: {broker: "amqp://localhost:$port"}
       |  - name: output
       |    type: sql
       |    kwargs: {url: "$url"}
       |flows:
       |  - - name: input
       |      kwargs: {exchange: "$exchange"}
       |    - name: output
       |      kwargs:
       |          query: "$Insert"
       |          idempotent: $idempotent
       |${deadLetter.map(d => s"          dead_letter_dir: \"$d\"").getOrElse("")}
       |          parameters:
       |$params
       |""".stripMargin
  }

  /** Count of rows in the table, read without taking locks. */
  private def dirtyCount(c: Connection): Long = {
    val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM ingest")
    rs.next(); rs.getLong(1)
  }

  private def waitFor(timeoutMs: Long, pollMs: Long)(done: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = done
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(pollMs); ok = done
    }
    ok
  }

  final case class Landed(seq: Long, sentMs: Long, message: String, count: Long,
      nestedMessage: String, nestedUnknown: String, nested: String, landedMs: Long)

  private def readBack(db: String): Seq[Landed] = {
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    try {
      val rs = c.createStatement().executeQuery("SELECT seq, sent_ms, message, " +
        "cnt, nested_message, nested_unknown, nested, landed FROM ingest")
      val out = ArrayBuffer.empty[Landed]
      while (rs.next()) out += Landed(rs.getLong(1), rs.getLong(2), rs.getString(3),
        rs.getLong(4), rs.getString(5), rs.getString(6), rs.getString(7),
        rs.getTimestamp(8).getTime)
      out.toSeq
    } finally c.close()
  }

  /** Checks the table holds every expected row exactly once with the
    * projected values, and nothing else. Returns one line per failure.
    */
  private def check(expected: Seq[Row], got: Seq[Landed]): Seq[String] = {
    val bySeq = got.groupBy(_.seq)
    val expectedSeqs = expected.map(_.seq).toSet
    val extra = bySeq.keys.filterNot(expectedSeqs).toSeq.sorted
      .map(s => s"unexpected row seq=$s")
    extra ++ expected.flatMap { e =>
      bySeq.get(e.seq) match {
        case None => Some(s"missing seq=${e.seq}")
        case Some(rows) if rows.size > 1 => Some(s"duplicated seq=${e.seq} x${rows.size}")
        case Some(rows) =>
          val l = rows.head
          val ok = l.sentMs == e.sentMs && l.message == e.message &&
            l.count == e.count && l.nestedMessage == e.nestedMessage &&
            l.nestedUnknown == null && l.nested != null &&
            JsonOut.mapper.readTree(l.nested) ==
              JsonOut.mapper.createObjectNode().put("message", e.nestedMessage)
          if (ok) None else Some(s"mis-projected seq=${e.seq}: $l")
      }
    }
  }

  private def checkpoint(work: String, tag: String): String =
    Files.createTempDirectory(Files.createDirectories(Paths.get(work, "tmp")),
      s"ckpt-$tag-").toString

  /** Waits until the flow's Metrics row count reaches `rows`; a failure
    * line if it does not (the snapshot disagrees with the published count).
    */
  private def metricsCrossCheck(rows: Long): Seq[String] = {
    val ok = waitFor(15000, 50)(Metrics.snapshot.get("flow0").exists(_.rows >= rows))
    val seen = Metrics.snapshot.get("flow0").map(_.rows).getOrElse(-1L)
    if (ok && seen == rows) Nil
    else Seq(s"Metrics.snapshot rows=$seen, published $rows")
  }

  def steady(spark: SparkSession, seed: Long, seconds: Double, work: String,
      tracer: Option[Tracer]): Result = {
    val server = new AmqpServer(0, None)
    val db = "pb_steady"
    val exchange = "ingest_steady"
    createTable(db)
    val deadLetter = Paths.get(work, "tmp", "deadletter").toString
    val cfg = Config.parseString(yaml(server.boundPort, exchange,
      derbyUrl(db, tracer.isDefined), sizeLimit = 20000, timeLimit = 1,
      idempotent = false, deadLetter = Some(deadLetter)))
    val queries = Flows.start(spark, cfg, checkpoint(work, "steady"))

    // the open-loop generator: the schedule is fixed up front by the seed
    // and never waits for the system; a late send is sent at once and its
    // lateness recorded
    val totalNs = ((WarmupS + seconds) * 1e9).toLong
    val warmNs = (WarmupS * 1e9).toLong
    val arrivals = new java.util.Random(seed)
    val sent = ArrayBuffer.empty[Msg]
    val timed = ArrayBuffer.empty[Boolean]
    val publishNs = ArrayBuffer.empty[Long]
    var lateMaxNs = 0L
    val conn = new AmqpConnection("localhost", server.boundPort)
    conn.declareExchange(exchange, "fanout", durable = true, Map.empty)
    val t0Ms = System.currentTimeMillis()
    val t0Ns = System.nanoTime()
    val readyMs = t0Ms + (WarmupS * 1000).toLong
    val gen = new Thread(() => {
      var due = 0L
      var seq = 0L
      while (due < totalNs) {
        var now = System.nanoTime() - t0Ns
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() - t0Ns }
        val m = message(seed, seq, t0Ms + due / 1000000L, longTail = false, dirty = true)
        val p0 = System.nanoTime()
        conn.publish(exchange, m.body, m.contentType)
        val p1 = System.nanoTime()
        if (due >= warmNs) lateMaxNs = math.max(lateMaxNs, p0 - t0Ns - due)
        sent += m; timed += (due >= warmNs); publishNs += (p1 - p0)
        seq += 1
        due += (-math.log(1 - arrivals.nextDouble()) / Rate * 1e9).toLong
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()

    val valid = sent.filterNot(_.corrupt)
    val poll = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    poll.setTransactionIsolation(Connection.TRANSACTION_READ_UNCOMMITTED)
    val drained = waitFor(60000, 100)(dirtyCount(poll) >= valid.size)
    poll.close()
    val crossCheck = metricsCrossCheck(sent.size.toLong)
    queries.foreach(_.stop())
    conn.close()
    server.stop()

    val got = readBack(db)
    val corruptSeqs = sent.filter(_.corrupt).map(_.row.seq).sorted
    val deadSeqs = deadLetterSeqs(spark, deadLetter)
    val deadFailures = corruptSeqs.diff(deadSeqs).map(s => s"corrupt seq=$s not dead-lettered")
    val failures = (if (drained) Nil else Seq("rows did not all land within 60 s")) ++
      check(valid.map(_.row).toSeq, got) ++ deadFailures ++ crossCheck

    val timedSeqs = sent.indices.filter(timed).map(i => sent(i).row.seq).toSet
    val timedGot = got.filter(l => timedSeqs(l.seq))
    val lat = timedGot.map(l => (l.landedMs - l.sentMs).toDouble)
    // delivered rate: timed rows landed over the span from the first timed
    // scheduled send to the last timed row landing; it drops below the
    // arrival rate once the flow falls behind
    val deliveredPerS = if (timedGot.isEmpty) Double.NaN
      else timedGot.size / ((timedGot.map(_.landedMs).max - timedGot.map(_.sentMs).min) / 1000.0)
    val timedCount = timed.count(identity)
    val layers = tracer.map { t =>
      t.ingestLayers(t.batches(queries.map(_.id.toString).toSet, readyMs))
    }.getOrElse(Map.empty) ++ Map(
      "sinks.deadletter_rows" -> deadSeqs.size.toDouble,
      "sources.publish_us_p50" -> Stats.median(publishNs.map(_ / 1e3).toSeq),
      "gen.late_ms_max" -> lateMaxNs / 1e6)
    dropDb(db)
    val p50 = Stats.pct(lat, 0.5)
    Result(readyMs, sent.size.toLong, failures,
      Map("latency_p50_ms" -> p50, "latency_p99_ms" -> Stats.pct(lat, 0.99),
        "throughput_per_s" -> deliveredPerS),
      layers, p50,
      Map("latency_samples" -> lat.size, "timed_messages" -> timedCount,
        "latency_p99_ms_by_3s" -> timedGot
          .groupBy(l => (l.sentMs - readyMs) / 3000).toSeq.sortBy(_._1)
          .map { case (_, ls) => Stats.pct(ls.map(l => (l.landedMs - l.sentMs).toDouble), 0.99) },
        "warmup_messages" -> (sent.size - timedCount),
        "rate_msgs_per_s" -> Rate, "warmup_s" -> WarmupS,
        "corrupt_published" -> corruptSeqs.size,
        "non_json_published" -> sent.count(_.contentType != "application/json"),
        "generator_fell_behind" -> (lateMaxNs / 1e6 > 50.0),
        "threads" -> "spark local[3] + 1 generator thread + broker/consumer socket threads"))
  }

  /** seq of every body in the dead-letter dir (corrupt bodies keep their
    * `{"seq":N,` prefix).
    */
  private def deadLetterSeqs(spark: SparkSession, dir: String): Seq[Long] = {
    val p = Paths.get(dir, "corrupt")
    if (!Files.exists(p)) Nil
    else {
      val re = "\"seq\":(\\d+)".r
      spark.read.parquet(p.toString).select("value").collect().toSeq
        .flatMap(r => re.findFirstMatchIn(r.getString(0)).map(_.group(1).toLong))
        .sorted
    }
  }

  def backlog(spark: SparkSession, seed: Long, seconds: Double, work: String,
      tracer: Option[Tracer]): Result = {
    val server = new AmqpServer(0, None)
    final case class Round(drainS: Double, p50Ms: Double, p99Ms: Double,
        publishUs: Double, queryId: String, failures: Seq[String])

    def round(r: Int, n: Int): Round = {
      val db = s"pb_backlog_r$r"
      val exchange = s"ingest_backlog_r$r"
      createTable(db)
      val cfg = Config.parseString(yaml(server.boundPort, exchange,
        derbyUrl(db, tracer.isDefined), sizeLimit = BacklogSizeLimit,
        timeLimit = 0, idempotent = true, deadLetter = None))
      val conn = new AmqpConnection("localhost", server.boundPort)
      conn.declareExchange(exchange, "fanout", durable = true, Map.empty)
      val base = r * 10000000L
      val msgs = (0 until n).map(i =>
        message(seed, base + i, 0L, longTail = true, dirty = false))
      val p0 = System.nanoTime()
      msgs.foreach(m => conn.publish(exchange, m.body, m.contentType))
      val publishUs = (System.nanoTime() - p0) / 1e3 / n
      Metrics.reset()
      val startMs = System.currentTimeMillis()
      val q: StreamingQuery = Flows.start(spark, cfg, checkpoint(work, s"r$r")).head
      val poll = DriverManager.getConnection(s"jdbc:derby:memory:$db")
      poll.setTransactionIsolation(Connection.TRANSACTION_READ_UNCOMMITTED)
      val drained = waitFor(120000, 20)(dirtyCount(poll) >= n)
      poll.close()
      val crossCheck = metricsCrossCheck(n.toLong)
      q.stop()
      conn.close()
      AmqpBroker.reset()
      val got = readBack(db)
      dropDb(db)
      val since = got.map(l => (l.landedMs - startMs).toDouble)
      val lastMs = if (since.isEmpty) Double.NaN else since.max
      val failures = (if (drained) Nil else Seq(s"round $r did not drain in 120 s")) ++
        check(msgs.map(_.row), got) ++ crossCheck
      Round(lastMs / 1000.0, Stats.pct(since, 0.5), Stats.pct(since, 0.99),
        publishUs, q.id.toString, failures)
    }

    val warm = (0 until BacklogWarmupRounds).map(round(_, BacklogSize))
    val readyMs = System.currentTimeMillis()
    val rounds = ArrayBuffer.empty[Round]
    while (rounds.size < MinRounds || System.currentTimeMillis() - readyMs < seconds * 1000)
      rounds += round(BacklogWarmupRounds + rounds.size, BacklogSize)
    server.stop()
    val rates = rounds.map(BacklogSize / _.drainS).toSeq
    val rate = Stats.median(rates)
    val layers = tracer.map { t =>
      t.ingestLayers(t.batches(rounds.map(_.queryId).toSet, 0L))
    }.getOrElse(Map.empty) ++ Map(
      "sinks.deadletter_rows" -> 0.0,
      "sources.publish_us_p50" -> Stats.median(rounds.map(_.publishUs).toSeq),
      "gen.late_ms_max" -> 0.0)
    Result(readyMs, ((warm.size + rounds.size) * BacklogSize).toLong,
      (warm ++ rounds).flatMap(_.failures),
      Map("latency_p50_ms" -> Stats.median(rounds.map(_.p50Ms).toSeq),
        "latency_p99_ms" -> Stats.median(rounds.map(_.p99Ms).toSeq),
        "throughput_per_s" -> rate),
      layers, 1.0 / rate,
      Map("rounds" -> rounds.size, "backlog_per_round" -> BacklogSize,
        "drain_msgs_per_s_by_round" -> rates, "warmup_rounds" -> warm.size,
        "size_limit" -> BacklogSizeLimit,
        "threads" -> "spark local[3] + 1 publisher thread (idle while draining) + broker/consumer socket threads"))
  }
}
