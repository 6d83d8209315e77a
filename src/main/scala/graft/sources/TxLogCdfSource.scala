package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.TxTable

/** Streaming CHANGE DATA FEED over a transaction-log table: the
  * Delta-streaming-source shape — the commit log IS the write-ahead
  * log, so version numbers are the stream's offsets and each micro-batch
  * is exactly [[TxTable.changes]] over the newly-committed version
  * range. Downstream incremental consumers (the q321 IVM shape) can
  * then run CONTINUOUSLY: every trigger processes only the data that
  * changed, never the table.
  *
  * V1 `Source` on purpose: `getBatch` returns the change-feed
  * DataFrame itself, so the batch CDF path and the streaming path are
  * THE SAME CODE — the twin-certification principle (stream == batch
  * bit-for-bit) holds by construction, and the feed's scale property
  * (per-commit diffs read only that commit's files) carries over
  * unchanged. Offsets serialize as the plain version number, so a
  * restart resumes from the last committed version in the checkpoint
  * (exactly-once downstream with an idempotent sink, at-least-once
  * otherwise — the standard source contract).
  *
  * Options: `path` (table root), `fromVersion` (exclusive lower bound,
  * default 0 = the full history since table creation).
  *
  * `Trigger.AvailableNow` pins the table's current version when the
  * query starts (both sources here): the drain stops there, and the
  * append source still caps each batch at `maxVersionsPerTrigger`.
  */
class TxLogCdfSourceProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "txlog-cdf"

  private def tableRoot(parameters: Map[String, String]): String = {
    val p = parameters.getOrElse("path",
      throw new IllegalArgumentException("txlog-cdf requires a path"))
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
  }

  private def cdfSchema(sqlContext: SQLContext,
      parameters: Map[String, String]): StructType = {
    // latest snapshot schema under mergeSchema (schema evolution means
    // later commits may carry columns earlier ones lack) + the two
    // feed columns
    val base = TxTable.snapshot(sqlContext.sparkSession,
      tableRoot(parameters), mergeSchema = true).schema
    base.add("_change_type", StringType).add("_commit_version", LongType)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(cdfSchema(sqlContext, parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new TxLogCdfSource(sqlContext,
      tableRoot(parameters),
      parameters.get("fromVersion").map(_.trim.toInt).getOrElse(0),
      schema.getOrElse(cdfSchema(sqlContext, parameters)))
}

/** Offset = committed version number; `json` is the bare number so a
  * checkpointed offset round-trips through [[SerializedOffset]].
  */
case class TxVersionOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

/** Plain streaming READ of a transaction-log table (Delta's streaming
  * source): the initial batch is the table's snapshot at stream start,
  * every later batch is exactly the rows APPENDED by the newly
  * committed versions — the commit log is the write-ahead log, version
  * numbers are the offsets.
  *
  * Contract on non-append commits (Delta's, verbatim): a data-changing
  * commit that removes files or installs deletion vectors fails the
  * stream by default — a row-level delete/update cannot be represented
  * in an append-only stream. `ignoreDeletes` permits PURE delete
  * commits (file removes / DV installs with no adds — the partition-
  * retention shape), emitting nothing for them; `ignoreChanges`
  * subsumes it and re-emits the rewritten files' rows (survivors
  * included — downstream must tolerate duplicates, exactly Delta's
  * documented semantics). `dataChange=false` commits (OPTIMIZE, sweeps)
  * are always silent. Later DVs never retro-change an already-emitted
  * batch (adds are read as-at-commit-time).
  *
  * Options: `path`; `startingVersion` (exclusive — skip the initial
  * snapshot and tail from there); `maxVersionsPerTrigger` (admission
  * control: at most this many commits per micro-batch after the
  * initial one); `ignoreDeletes`; `ignoreChanges`.
  */
class TxLogAppendSource(sqlContext: SQLContext, dir: String,
    startingVersion: Option[Int], maxVersionsPerTrigger: Option[Int],
    ignoreDeletes: Boolean, ignoreChanges: Boolean,
    declaredSchema: StructType) extends Source with SupportsTriggerAvailableNow {

  override def schema: StructType = declaredSchema

  // last end-version handed to getBatch (admission-control base);
  // -1 = no batch planned yet this run
  @volatile private var lastEnd: Int = -1
  @volatile private var availableNow: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNow = Some(TxTable.currentVersion(dir))

  /** Admission base: everything this run has learned — the restored
    * offset Spark passes (committed, survives restarts), the last end
    * this run planned, and the configured floor. Keying off in-memory
    * `lastEnd` alone made the first post-restart micro-batch drain the
    * whole backlog uncapped (Spark's V1 `getOffset` cannot see the
    * checkpoint); SupportsAdmissionControl is the sanctioned channel
    * for the committed offset — the same route Delta's and Kafka's V1
    * sources take.
    */
  private def plannedEnd(committedBase: Int): Option[TxVersionOffset] = {
    val cur = availableNow.getOrElse(TxTable.currentVersion(dir))
    val floor = startingVersion.getOrElse(0)
    val known = math.max(math.max(lastEnd, committedBase),
      startingVersion.getOrElse(-1))
    if (cur <= math.max(known, floor)) None
    else {
      // the cap applies from the first tail batch; an initial
      // snapshot (no startingVersion, nothing committed, no batch yet
      // this run) is ONE batch by definition and is never split
      val capped = maxVersionsPerTrigger match {
        case Some(k) if known >= 0 => math.min(cur, known + k)
        case _ => cur
      }
      Some(TxVersionOffset(capped))
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: streaming.Offset, limit: ReadLimit): streaming.Offset = {
    val committed =
      Option(start).map(_.json().trim.toInt).getOrElse(-1)
    plannedEnd(committed).orNull
  }

  // V1 fallback (not called once SupportsAdmissionControl is seen);
  // kept because the Source trait demands it
  override def getOffset: Option[Offset] = plannedEnd(-1)

  private def versionOf(o: Offset): Int = o match {
    case TxVersionOffset(v) => v
    case other => other.json().trim.toInt
  }

  private def align(df: DataFrame): DataFrame = {
    val aligned = declaredSchema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(declaredSchema.fieldNames.map(col).toIndexedSeq: _*)
    org.apache.spark.sql.GraftBridge.asMicroBatch(aligned)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    lastEnd = math.max(lastEnd, endV)
    val spark = sqlContext.sparkSession
    start.map(versionOf).orElse(startingVersion) match {
      case None =>
        // initial snapshot: the whole table as of stream start
        align(TxTable.snapshot(spark, dir, Some(endV),
          mergeSchema = true))
      case Some(from) =>
        val adds = TxTable.entrySummaries(dir, from, endV).flatMap {
          case (_, _, _, _, false) => Seq.empty // OPTIMIZE et al.
          case (v, a, hasRemoves, hasDvs, _) =>
            val isChange = hasRemoves || hasDvs
            if (!isChange) a
            else if (ignoreChanges) a // re-emits survivors, documented
            else if (ignoreDeletes && a.isEmpty) Seq.empty // pure delete
            else throw new IllegalStateException(
              s"streaming read of $dir hit a data-changing " +
                s"${if (a.isEmpty) "delete" else "rewrite"} at version " +
                s"$v; set ignoreDeletes (pure deletes skipped) or " +
                "ignoreChanges (rewritten files re-emitted) to proceed")
        }
        if (adds.isEmpty)
          align(TxTable.snapshot(spark, dir, Some(endV),
            mergeSchema = true).limit(0))
        else align(TxTable.readAddedFiles(spark, dir, adds))
    }
  }

  override def stop(): Unit = ()
}

class TxLogCdfSource(sqlContext: SQLContext, dir: String,
    fromVersion: Int, declaredSchema: StructType)
    extends Source with SupportsTriggerAvailableNow {

  override def schema: StructType = declaredSchema

  @volatile private var availableNow: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNow = Some(TxTable.currentVersion(dir))

  override def getOffset: Option[Offset] = {
    val v = availableNow.getOrElse(TxTable.currentVersion(dir))
    if (v <= fromVersion) None else Some(TxVersionOffset(v))
  }

  // every batch takes all committed versions (the `Source` contract)
  override def latestOffset(start: streaming.Offset, limit: ReadLimit): streaming.Offset =
    getOffset.orNull

  private def versionOf(o: Offset): Int = o match {
    case TxVersionOffset(v) => v
    case other => other.json().trim.toInt // SerializedOffset on restart
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(fromVersion)
    val cdf = TxTable.changes(sqlContext.sparkSession, dir, from,
      Some(versionOf(end)))
    // align to the declared schema: a batch whose range predates a
    // schema-evolution commit lacks the evolved columns — NULL them in
    val aligned = declaredSchema.fields.foldLeft(cdf) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(declaredSchema.fieldNames.map(col).toIndexedSeq: _*)
    // Source.getBatch must return an isStreaming=true frame
    org.apache.spark.sql.GraftBridge.asMicroBatch(aligned)
  }

  override def stop(): Unit = ()
}
