package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-flow streaming metrics (the engine's upgrade of the reference's
  * logging, cli.py:247-277), exposed for tests/ops via [[snapshot]]:
  * rows processed, batches and last-batch throughput from a
  * StreamingQueryListener (also logged at INFO on every progress
  * event), plus the cumulative corrupt-JSON and non-JSON-content-type
  * counts the `sql` writer of [[Flows]] reads off each micro-batch.
  * A batch the best-effort sink dropped is miscounted: its corrupt and
  * non-JSON counts read 0, and partitions the failed job finished count
  * their rows twice.
  */
object Metrics extends Logging {
  case class FlowStats(rows: Long, batches: Long, lastRowsPerSec: Double,
      corrupt: Long, nonJson: Long)

  private val stats = new ConcurrentHashMap[String, FlowStats]()
  @volatile private var registered = false

  // the progress listener and the stream thread both update an entry
  private def update(name: String)(f: FlowStats => FlowStats): Unit =
    stats.compute(name, (_, prev) =>
      f(Option(prev).getOrElse(FlowStats(0, 0, 0.0, 0, 0)))): Unit

  /** Adds one micro-batch's corrupt and non-JSON counts to flow `name`. */
  def addCounts(name: String, corrupt: Long, nonJson: Long): Unit =
    update(name)(s => s.copy(corrupt = s.corrupt + corrupt,
      nonJson = s.nonJson + nonJson))

  final class Listener extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      logInfo(s"flow started: ${e.name} (${e.id})")

    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val name = Option(p.name).getOrElse(p.id.toString)
      update(name)(s => s.copy(rows = s.rows + p.numInputRows,
        batches = s.batches + 1, lastRowsPerSec = p.processedRowsPerSecond))
      if (p.numInputRows > 0)
        logInfo(s"flow $name: batch ${p.batchId} rows=${p.numInputRows} " +
          f"rate=${p.processedRowsPerSecond}%.1f rows/s")
    }

    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      logInfo(s"flow terminated: ${e.id}" +
        e.exception.map(x => s" (error: $x)").getOrElse(""))
  }

  /** Idempotently attach the listener to a session. */
  def register(spark: SparkSession): Unit = synchronized {
    if (!registered) {
      spark.streams.addListener(new Listener)
      registered = true
    }
  }

  def snapshot: Map[String, FlowStats] = {
    import scala.jdk.CollectionConverters._
    stats.asScala.toMap
  }

  def reset(): Unit = stats.clear()
}
