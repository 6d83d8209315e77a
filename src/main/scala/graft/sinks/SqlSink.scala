package graft.sinks

import java.sql.{Connection, DriverManager}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.OneToOneDependency
import org.apache.spark.internal.Logging
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{DataSourceRDD, DataSourceRDDPartition}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{JsonPaths, PathExtract}
import graft.sources.{MqInlinePartition, MqRemotePartition}

/** Batched SQL sink — the Spark re-expression of the reference's
  * `Database` output block (reference sql.py:41-107):
  *
  *   - user SQL with `:named` parameters, compiled once per flow;
  *   - parameter mapping: positional (list of dotted paths), named
  *     (param -> path), or identity (top-level columns by param name) —
  *     reference sql.py:83-90 mapper selection;
  *   - one JDBC batch (`executeBatch`) per partition — the executemany
  *     upgrade: N partitions flush in parallel instead of the
  *     reference's single locked consumer thread;
  *   - error policy: log & drop the failed batch, pipeline continues
  *     (sql.py:99-105); the caller learns of the drop and can keep the
  *     batch (Flows writes it to its dead-letter dir).
  *
  * Scale notes: rows never touch the driver; each executor partition
  * opens its own connection, so connections == partitions. A graftmq
  * batch's partitions are its source slices, by default one per task
  * slot (`MqSource`'s `rowsPerPartition`), and both sinks write them
  * where they are read; the idempotent sink's hash path (inputs that are
  * not graftmq slices) opens 16. Size the slots or the width to the
  * database's capacity.
  */
object SqlSink extends Logging {

  /** `INSERT ... VALUES (:a, CAST(:b AS X))` -> positional form + param
    * order, compiled once (reference sql.py:58-61). A character scan
    * rather than a bare regex: `:name` inside single-quoted literals is
    * text, `''` is the in-literal quote escape, and `::type` (Postgres
    * cast syntax) is never a parameter.
    */
  def compile(query: String): (String, Seq[String]) = {
    def nameStart(c: Char) =
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || c == '_'
    def namePart(c: Char) = nameStart(c) || (c >= '0' && c <= '9')
    val sb = new StringBuilder(query.length)
    val names = Seq.newBuilder[String]
    val n = query.length
    var i = 0
    var inQuote = false
    while (i < n) {
      val ch = query.charAt(i)
      if (inQuote) {
        sb.append(ch)
        if (ch == '\'') {
          if (i + 1 < n && query.charAt(i + 1) == '\'') { sb.append('\''); i += 1 }
          else inQuote = false
        }
        i += 1
      } else if (ch == '\'') {
        inQuote = true; sb.append(ch); i += 1
      } else if (ch == ':' && i + 1 < n && query.charAt(i + 1) == ':') {
        sb.append("::"); i += 2
      } else if (ch == ':' && i + 1 < n && nameStart(query.charAt(i + 1))) {
        var j = i + 1
        while (j < n && namePart(query.charAt(j))) j += 1
        names += query.substring(i + 1, j)
        sb.append('?')
        i = j
      } else {
        sb.append(ch); i += 1
      }
    }
    (sb.toString, names.result())
  }

  sealed trait Mapping
  /** Identity: bind each named param from the same-named top-level column. */
  case object Identity extends Mapping
  /** Positional list of dotted paths (reference ListParametersMapper). */
  case class Positional(paths: Seq[String]) extends Mapping
  /** Named param -> dotted path (reference DictParametersMapper). */
  case class Named(params: Seq[(String, String)]) extends Mapping

  /** Each bind column's name and the dotted path it reads (None: a named
    * parameter the mapping leaves unbound, bound to NULL).
    */
  private def bindings(mapping: Mapping, paramOrder: Seq[String]): Seq[(String, Option[String])] =
    mapping match {
      case Identity       => paramOrder.map(n => n -> Some(n))
      case Positional(ps) =>
        require(ps.length == paramOrder.length,
          s"query has ${paramOrder.length} parameters, mapping has ${ps.length}")
        ps.zipWithIndex.map { case (p, i) => s"p$i" -> Some(p) }
      case Named(ps)      =>
        val byName = ps.toMap
        paramOrder.map(n => n -> byName.get(n))
    }

  /** The distinct dotted paths `query`'s parameters read under `mapping`:
    * the paths a caller parses into the struct [[mapParameters]] reads.
    */
  def paths(query: String, mapping: Mapping): Seq[String] =
    bindings(mapping, compile(query)._2).flatMap(_._2).distinct

  /** Project a micro-batch to bind-ready columns per the mapping rules
    * (missing path => NULL, residual nesting => JSON string).
    * `jsonCol`: when set, paths resolve inside that column, either the
    * raw JSON string (parsed here, once per row, by [[JsonPaths.parse]])
    * or the struct [[JsonPaths.parse]] already made of it over at least
    * [[paths]] (the schema-less flow shape); otherwise against the row.
    */
  def mapParameters(df: DataFrame, mapping: Mapping, paramOrder: Seq[String],
      jsonCol: Option[String]): DataFrame = {
    val bound = bindings(mapping, paramOrder)
    val (src, path): (DataFrame, String => Column) = jsonCol match {
      case None    => (df, PathExtract.fromRow(df, _))
      case Some(j) =>
        val parsed = df.schema(j).dataType match {
          case _: StructType => df
          case _ => df.select(JsonPaths.parse(col(j), bound.flatMap(_._2)).as(j))
        }
        (parsed, p => col(j).getField(JsonPaths.field(p)))
    }
    src.select(bound.map { case (n, p) => p.fold(lit(null))(path).as(n) }: _*)
  }

  /** A foreachBatch callback writing each micro-batch via JDBC. It
    * returns the metrics observed on the batch (see [[foreachPartition]]),
    * or None when the batch failed: failed batches are logged and dropped
    * — the stream keeps running (reference sql.py:99-105 / R14).
    */
  def foreachBatch(url: String, query: String, mapping: Mapping,
      jsonCol: Option[String] = None): (DataFrame, Long) => Option[Map[String, Row]] = {
    val (positional, paramOrder) = compile(query)
    (batch: DataFrame, batchId: Long) => {
      val params = mapParameters(batch, mapping, paramOrder, jsonCol)
      try Some(writeJdbc(url, positional, params))
      catch {
        case e: Exception =>
          // two-log shape mirrors the reference's error contract
          logError(s"Batch $batchId failed: ${e.getMessage}")
          logError(s"Dropped batch $batchId (query: $query)")
          None
      }
    }
  }

  /** Runs `f` on every partition of `df` as one SQL execution, like
    * `Dataset.foreachPartition`, and returns the metrics observed on
    * `df`'s plan (`Dataset.observe(name, ...)`). They are read off the
    * executed plan itself, so no listener event is awaited.
    */
  private def foreachPartition(df: DataFrame)(f: Iterator[Row] => Unit): Map[String, Row] = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.toRdd.foreachPartition { rows =>
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        f(rows.map(toRow(_).asInstanceOf[Row]))
      }
    }
    qe.observedMetrics
  }

  /** Binds each of `rows` (`n` bind columns) to `positionalSql` and runs
    * them as one JDBC batch on `conn`, inside its open transaction.
    */
  private def executeBatch(conn: Connection, positionalSql: String, n: Int,
      rows: Iterator[Row]): Unit = {
    val st = conn.prepareStatement(positionalSql)
    rows.foreach { r =>
      var i = 0
      while (i < n) { st.setObject(i + 1, r.get(i)); i += 1 }
      st.addBatch()
    }
    st.executeBatch()
  }

  /** One JDBC batch per partition (the executemany analog). */
  def writeJdbc(url: String, positionalSql: String, params: DataFrame): Map[String, Row] = {
    val n = params.columns.length
    foreachPartition(params) { rows =>
      if (rows.nonEmpty) {
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          executeBatch(conn, positionalSql, n, rows)
          conn.commit()
        } finally conn.close()
      }
    }
  }

  /** The hash path's bucket count. A marker names a bucket by its
    * index, so a replay finds its markers only if every run hashes the
    * same rows into the same buckets: the count is fixed.
    */
  private val SinkPartitions = 16

  /** Marker table for idempotent replay detection. */
  val MarkerTable = "graft_committed"

  /** The marker `part_id` of graftmq slice `i`: negative, so that no
    * slice marker shares a key with a hash bucket's (0 until 16).
    */
  private def sliceMarker(i: Int): Int = -1 - i

  /** Creates the marker table if absent. The composite PRIMARY KEY is
    * load-bearing: two task attempts for the same (flow, batch,
    * partition) — speculative execution, zombie task after a stage
    * retry — race their marker INSERTs, and the key forces exactly one
    * to commit; the loser rolls back its rows.
    */
  def ensureMarkerTable(url: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(
      s"CREATE TABLE $MarkerTable (flow_id VARCHAR(128) NOT NULL, " +
        "batch_id BIGINT NOT NULL, part_id INT NOT NULL, " +
        "PRIMARY KEY (flow_id, batch_id, part_id))")
    catch { case _: java.sql.SQLException => () } // already exists
    finally conn.close()
  }

  /** Whether `df`'s partition `i` is exactly slice `i` of one graftmq
    * batch: its RDD reaches a graftmq scan through one-to-one
    * dependencies only, so no exchange, coalesce or union sits above
    * the scan. The plan is checked first: an adaptive plan would run
    * its shuffle stages to build the RDD.
    */
  private def partitionsAreSlices(df: DataFrame): Boolean = {
    def reachesSlices(rdd: RDD[_]): Boolean = rdd match {
      case scan: DataSourceRDD => scan.partitions.forall {
        case p: DataSourceRDDPartition => p.inputPartitions match {
          case Seq(_: MqInlinePartition | _: MqRemotePartition) => true
          case _ => false
        }
        case _ => false
      }
      case _ => rdd.dependencies match {
        case Seq(d: OneToOneDependency[_]) => reachesSlices(d.rdd)
        case _ => false
      }
    }
    val qe = df.queryExecution
    !qe.executedPlan.isInstanceOf[AdaptiveSparkPlanExec] && reachesSlices(qe.toRdd)
  }

  /** Whether `batchId` of `flowId` has a hash-bucket marker. */
  private def hashMarked(url: String, flowId: String, batchId: Long): Boolean = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement(s"SELECT COUNT(*) FROM $MarkerTable " +
        "WHERE flow_id = ? AND batch_id = ? AND part_id >= 0")
      st.setString(1, flowId); st.setLong(2, batchId)
      val rs = st.executeQuery(); rs.next()
      rs.getInt(1) > 0
    } finally conn.close()
  }

  /** Idempotent variant: each partition's rows and its (flow, batch,
    * partition) marker commit in ONE transaction; a replayed
    * micro-batch (Spark restart re-runs the last uncommitted batch —
    * at-least-once) finds its markers and skips them. Checkpoint +
    * replayable source + this sink = effectively exactly-once
    * end-to-end (SURVEY §7.4 upgrade path). Returns the metrics
    * observed on the batch.
    *
    * A marker names a partition only if a replay cuts the batch into
    * the same partitions, holding the same rows. Two keys do that:
    *   - graftmq slice (`part_id` -1, -2, …): a batch whose partitions
    *     are its graftmq input slices (the plan reads one graftmq scan
    *     and moves no row between partitions) is written in the tasks
    *     that read it, one job, one connection per slice. The source
    *     plans slices from the checkpointed offsets alone
    *     ([[graft.sources.MqOffset]]), so (batch, slice) names the same
    *     messages in every run.
    *   - hash bucket (`part_id` 0–15): any other batch — file inputs,
    *     whose splits are not restart-stable, static or repartitioned
    *     frames — is hash-repartitioned on every bind column into
    *     [[SinkPartitions]] buckets, so a bucket is a pure function of
    *     row values. That costs a shuffle: a second job.
    * A sink's first batch may replay a batch an earlier run wrote by
    * hash bucket (before graftmq batches were keyed by slice); if it
    * finds such markers, that batch takes the hash path again.
    *
    * Concurrent task attempts for one partition are closed too: the
    * marker INSERT goes first inside the transaction, so the
    * marker-table PRIMARY KEY makes the second committer fail and roll
    * back.
    *
    * Error contract (deliberately different from the R14 sink above):
    * a failed batch RETHROWS, failing the micro-batch so the checkpoint
    * does not advance and the restart replays it — log-and-drop here
    * would be silent at-most-once. Deterministic poison input should be
    * dead-lettered upstream (Flows' corrupt-JSON split), not here.
    */
  def idempotentForeachBatch(url: String, query: String, mapping: Mapping,
      flowId: String, jsonCol: Option[String] = None): (DataFrame, Long) => Map[String, Row] = {
    val (positional, paramOrder) = compile(query)
    ensureMarkerTable(url)
    val firstBatch = new AtomicBoolean(true)
    (batch: DataFrame, batchId: Long) => {
      val mapped = mapParameters(batch, mapping, paramOrder, jsonCol)
      val bySlice = !(firstBatch.getAndSet(false) && hashMarked(url, flowId, batchId)) &&
        partitionsAreSlices(mapped)
      val params =
        if (bySlice) mapped
        else mapped.repartition(SinkPartitions, mapped.columns.map(col): _*)
      val n = params.columns.length
      try {
        // one SQL execution, whose observed metrics (Flows' one-pass
        // corrupt/content-type counts) are returned. The partition id,
        // read off the task context, is the slice or the bucket index
        foreachPartition(params) { rows =>
          val i = org.apache.spark.TaskContext.getPartitionId()
          val pid = if (bySlice) sliceMarker(i) else i
          if (rows.nonEmpty) {
            val conn = DriverManager.getConnection(url)
            try {
              conn.setAutoCommit(false)
              val seen = conn.prepareStatement(
                s"SELECT COUNT(*) FROM $MarkerTable WHERE flow_id = ? AND batch_id = ? AND part_id = ?")
              seen.setString(1, flowId); seen.setLong(2, batchId); seen.setInt(3, pid)
              val rs = seen.executeQuery(); rs.next()
              val alreadyCommitted = rs.getInt(1) > 0
              if (alreadyCommitted) conn.rollback() // end the SELECT's txn
              if (!alreadyCommitted) {
                val committed =
                  try {
                    // marker first: the PK arbitrates concurrent attempts
                    val mark = conn.prepareStatement(
                      s"INSERT INTO $MarkerTable VALUES (?, ?, ?)")
                    mark.setString(1, flowId); mark.setLong(2, batchId); mark.setInt(3, pid)
                    mark.executeUpdate()
                    true
                  } catch {
                    case _: java.sql.SQLException => conn.rollback(); false
                  }
                if (committed) {
                  try {
                    executeBatch(conn, positional, n, rows)
                    conn.commit() // rows + marker atomically
                  } catch {
                    // roll back the open txn (marker + partial rows)
                    // before close: Derby throws on closing a connection
                    // with an active txn, which would mask the real error
                    // and leave the marker-row lock held against the
                    // task retry's INSERT
                    case e: Throwable =>
                      try conn.rollback()
                      catch { case _: java.sql.SQLException => () }
                      throw e
                  }
                }
              }
            } finally conn.close()
          }
        }
      } catch {
        // Unlike the best-effort R14 sink above, a failed batch is NOT
        // dropped here: rethrowing fails the micro-batch, the streaming
        // checkpoint does not advance, and the restart replays the batch
        // into the marker table — which is exactly what makes the retry
        // safe. Log-and-drop in this path would silently convert a
        // transient failure (interrupt, executor loss, SQL timeout) into
        // permanent, checkpoint-committed data loss.
        case e: Exception =>
          logError(s"Batch $batchId failed, will be replayed from " +
            s"checkpoint: ${e.getMessage} (query: $query)")
          throw e
      }
    }
  }
}
