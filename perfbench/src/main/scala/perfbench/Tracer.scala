package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval. Times are epoch ms; `parent` is "" at the root. */
final case class Span(id: String, parent: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

object Span {
  /** Self time per span id: its duration minus the part of its interval
    * that its children cover (children clipped to the parent).
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.toMap
  }
}

/** Local-property keys Spark sets on every job of a micro-batch, and the
  * ones the analytics workload sets on every job of a query.
  */
object Props {
  val BatchId = "streaming.sql.batchId"
  val QueryId = "sql.streaming.queryId"
  val ExecId = "spark.sql.execution.id"
  val MixQuery = "perfbench.query"
  val MixPass = "perfbench.pass"
}

/** The traced run's collector. Every hook sits outside the program: a
  * StreamingQueryListener (progress events), a SparkListener (SQL
  * executions, jobs, tasks) and the `jdbc:benchtrace:` wrapper driver
  * ([[TraceJdbc]]). A writer's actions are the SQL executions nested
  * under the micro-batch's own execution; a QueryExecutionListener does
  * not see those, so none is registered. Everything is kept in memory;
  * [[writeSpans]] writes the span file and the raw progress events at
  * the end.
  */
object Tracer {
  final case class Job(id: Int, startMs: Long, props: Map[String, String],
      stages: Seq[Int], var endMs: Long = -1L)
  final case class Task(stageId: Int, durMs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long)
  final case class Exec(id: Long, rootId: Long, startMs: Long, var endMs: Long = -1L)

  /** One micro-batch of a streaming query with the work traced under it. */
  final case class Batch(p: StreamingQueryProgress, jobs: Seq[Job],
      actionExecs: Seq[Exec], jdbc: Seq[TraceJdbc.Call]) {
    def dur(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def actionMs: Double = actionExecs.map(e => (e.endMs - e.startMs).toDouble).sum
    def startMs: Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  }
}

final class Tracer(spark: SparkSession) {
  import Tracer._

  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  private val extraSpans = new ConcurrentLinkedQueue[Span]()
  /** Parent of the micro-batch spans: the workload span's id, once set. */
  @volatile var root = ""

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
        .filter { case (k, _) =>
          k == Props.BatchId || k == Props.QueryId || k == Props.ExecId ||
            k == "callSite.short" || k.startsWith("perfbench.") }
      jobs.put(e.jobId, Job(e.jobId, e.time, props, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) tasks.add(Task(e.stageId,
        e.taskInfo.duration, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
      case _ => ()
    }
  })

  TraceJdbc.register()

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  def addSpan(s: Span): Unit = extraSpans.add(s)

  private def jobsWhere(p: Job => Boolean): Seq[Job] =
    jobs.values.asScala.toSeq.filter(p).sortBy(_.id)

  private def tasksOf(js: Seq[Job]): Seq[Task] = {
    val ids = js.map(_.id).toSet
    tasks.asScala.toSeq.filter(t => Option(stageJob.get(t.stageId)).exists(ids))
  }

  /** max ÷ median task time of one stage (1.0 for a single task). */
  private def skew(ts: Seq[Task]): Double =
    if (ts.isEmpty) Double.NaN
    else {
      val d = ts.map(_.durMs.toDouble)
      val med = Stats.median(d)
      if (med <= 0) 1.0 else d.max / med
    }

  def batches(queryIds: Set[String], fromMs: Long): Seq[Batch] = {
    drain()
    val calls = TraceJdbc.calls.asScala.toSeq
    progress.asScala.toSeq
      .filter(p => queryIds(p.id.toString) && p.numInputRows > 0)
      .map { p =>
        val js = jobsWhere(j => j.props.get(Props.QueryId).contains(p.id.toString) &&
          j.props.get(Props.BatchId).contains(p.batchId.toString))
        val execIds = js.flatMap(_.props.get(Props.ExecId)).map(_.toLong).distinct
        // the batch's own execution is the root; the actions its writer
        // ran are nested under it
        val acts = execIds.flatMap(id => Option(execs.get(id)))
          .filter(e => e.endMs >= 0 && e.rootId != e.id)
        val jc = calls.filter(c => c.queryId == p.id.toString &&
          c.batchId == p.batchId.toString)
        Batch(p, js, acts, jc)
      }
      .filter(_.startMs >= fromMs)
      .sortBy(_.startMs)
  }

  /** Per-layer metrics of the ingest path over the given batches. */
  def ingestLayers(bs: Seq[Batch]): Map[String, Double] = {
    def med(f: Batch => Double) = Stats.median(bs.map(f))
    def jdbcMs(b: Batch, kind: String) =
      b.jdbc.filter(_.kind == kind).map(_.durMs).sum
    val sinkSkew = bs.flatMap { b =>
      val sinkJobs = b.jobs.filter(j => b.actionExecs.exists(e =>
        j.props.get(Props.ExecId).contains(e.id.toString)))
      // the result stage of each sink job is its highest stage id
      sinkJobs.map(j => skew(tasksOf(Seq(j)).filter(_.stageId == j.stages.max)))
    }.filterNot(_.isNaN)
    Map(
      "sources.latest_offset_ms" -> med(_.dur("latestOffset")),
      "engine.planning_ms" -> med(_.dur("queryPlanning")),
      "engine.offset_log_ms" -> med(_.dur("walCommit")),
      "engine.commit_log_ms" -> med(_.dur("commitOffsets")),
      "engine.batch_ms_p50" -> Stats.pct(bs.map(_.dur("triggerExecution")), 0.5),
      "engine.batch_ms_p99" -> Stats.pct(bs.map(_.dur("triggerExecution")), 0.99),
      "engine.batches" -> bs.size.toDouble,
      "engine.writer_ms" -> med(b => math.max(0.0, b.dur("addBatch") - b.actionMs)),
      "engine.actions_per_batch" -> med(_.actionExecs.size.toDouble),
      "sources.lag_msgs_max" -> (if (bs.isEmpty) Double.NaN else bs.map { b =>
        b.p.sources.headOption.flatMap(s => for {
          latest <- Option(s.latestOffset); end <- Option(s.endOffset)
        } yield (latest.trim.toDouble - end.trim.toDouble)).getOrElse(0.0)
      }.max),
      "sources.rows_per_batch_p50" -> med(_.p.numInputRows.toDouble),
      "sinks.action_ms" -> med(_.actionMs),
      "sinks.task_skew" -> Stats.median(sinkSkew),
      "sinks.shuffle_write_bytes" -> med(b => tasksOf(b.jobs).map(_.shuffleWrite.toDouble).sum),
      "sinks.connect_ms" -> med(jdbcMs(_, "connect")),
      "sinks.marker_ms" -> med(jdbcMs(_, "marker")),
      "sinks.execute_batch_ms" -> med(jdbcMs(_, "execute_batch")),
      "sinks.commit_ms" -> med(jdbcMs(_, "commit")),
      "sinks.connections_per_batch" -> med(_.jdbc.count(_.kind == "connect").toDouble))
  }

  /** Per-family Spark work of the analytics mix, per timed pass: jobs,
    * stages, tasks, shuffle and spill bytes, GC and the median stage skew.
    */
  def familyLayers(family: Map[String, String], passes: Seq[Int]): Map[String, Double] = {
    drain()
    val fams = family.values.toSeq.distinct
    fams.flatMap { f =>
      val perPass = passes.map { pass =>
        val js = jobsWhere(j => j.props.get(Props.MixPass).contains(pass.toString) &&
          j.props.get(Props.MixQuery).flatMap(family.get).contains(f))
        val ts = tasksOf(js)
        val byStage = ts.groupBy(_.stageId)
        Map(
          "jobs" -> js.size.toDouble,
          "stages" -> byStage.size.toDouble,
          "tasks" -> ts.size.toDouble,
          "shuffle_bytes" -> ts.map(_.shuffleWrite.toDouble).sum,
          "spill_bytes" -> ts.map(_.spill.toDouble).sum,
          "gc_ms" -> ts.map(_.gcMs.toDouble).sum,
          "task_skew" -> Stats.median(byStage.values.filter(_.size > 1)
            .map(skew).toSeq))
      }
      perPass.headOption.toSeq.flatMap(_.keys).map { k =>
        s"operators.$f.$k" -> Stats.median(perPass.map(_(k)).filterNot(_.isNaN))
      }
    }.toMap
  }

  /** Every span: micro-batches with their phases, the SQL executions and
    * jobs under each, the JDBC calls under each execution, plus the
    * spans a workload added itself (pass/query), with jobs under them.
    */
  def spans(): Seq[Span] = {
    drain()
    val out = Seq.newBuilder[Span]
    val execParent = scala.collection.mutable.Map.empty[Long, String]
    progress.asScala.toSeq.foreach { p =>
      val bid = s"q${p.id.toString.take(8)}.b${p.batchId}"
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val end = start + d("triggerExecution")
      out += Span(bid, root, "batch", start, end,
        Map("rows" -> p.numInputRows, "batch_id" -> p.batchId))
      // progress events carry phase durations, not intervals: the phases
      // before addBatch are laid out from the batch start, addBatch and
      // commitOffsets back from its end
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning").foreach { k =>
        if (d(k) > 0) { out += Span(s"$bid.$k", bid, k, t, t + d(k)); t += d(k) }
      }
      val addEnd = end - d("commitOffsets")
      if (d("addBatch") > 0)
        out += Span(s"$bid.addBatch", bid, "addBatch", addEnd - d("addBatch"), addEnd)
      if (d("commitOffsets") > 0)
        out += Span(s"$bid.commitOffsets", bid, "commitOffsets", addEnd, end)
      jobsWhere(j => j.props.get(Props.QueryId).contains(p.id.toString) &&
          j.props.get(Props.BatchId).contains(p.batchId.toString))
        .flatMap(_.props.get(Props.ExecId)).map(_.toLong).distinct
        .foreach(x => execParent(x) = s"$bid.addBatch")
    }
    val extra = extraSpans.asScala.toSeq
    out ++= extra
    execParent.foreach { case (x, parent) =>
      Option(execs.get(x)).filter(_.endMs >= 0).foreach { e =>
        out += Span(s"x$x", parent, "execution", e.startMs.toDouble,
          e.endMs.toDouble, Map("root_id" -> e.rootId))
      }
    }
    val queryIds = extra.filter(_.name == "query").map(s =>
      (s.attrs.getOrElse("query", ""), s.attrs.getOrElse("pass", "")) -> s.id).toMap
    jobs.values.asScala.toSeq.filter(_.endMs >= 0).foreach { j =>
      val parent = j.props.get(Props.ExecId).map(_.toLong).filter(execParent.contains)
        .map(x => s"x$x").orElse(for {
          q <- j.props.get(Props.MixQuery)
          pass <- j.props.get(Props.MixPass)
          id <- queryIds.get((q, pass.toInt))
        } yield id)
      parent.foreach(pid => out += Span(s"j${j.id}", pid, "job",
        j.startMs.toDouble, j.endMs.toDouble, Map("stages" -> j.stages.size,
          "call_site" -> j.props.getOrElse("callSite.short", ""))))
    }
    TraceJdbc.calls.asScala.toSeq.zipWithIndex.foreach { case (c, i) =>
      val parent = Option(c.execId).map(_.toLong).filter(execParent.contains)
        .map(x => s"x$x").getOrElse(root)
      out += Span(s"jdbc$i", parent, s"jdbc.${c.kind}", c.startMs, c.startMs + c.durMs)
    }
    out.result()
  }

  /** Writes every span, one JSON object a line, with its self time. */
  def writeSpans(path: Path): Unit = {
    val all = spans()
    val self = Span.selfTimes(all)
    Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      JsonOut.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self(s.id), "attrs" -> s.attrs))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    val events = progress.asScala.toSeq.map(_.json.replace('\n', ' '))
    if (events.nonEmpty) Files.write(
      path.resolveSibling(path.getFileName.toString.replace(".spans.", ".progress.")),
      events.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** `jdbc:benchtrace:<rest>` delegates to `jdbc:derby:<rest>` and times
  * the calls the SQL sink makes: connect, the idempotent sink's marker
  * statements, executeBatch and commit. Each call finds its micro-batch
  * through the task's local properties.
  */
object TraceJdbc {
  val Prefix = "jdbc:benchtrace:"

  final case class Call(kind: String, queryId: String, batchId: String,
      execId: String, startMs: Double, durMs: Double)

  val calls = new ConcurrentLinkedQueue[Call]()
  @volatile private var registered = false

  def register(): Unit = synchronized {
    if (!registered) { DriverManager.registerDriver(new Driver); registered = true }
  }

  private def timed[T](kind: String)(f: => T): T = {
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try f
    finally {
      val tc = TaskContext.get()
      def prop(k: String) = if (tc == null) null else tc.getLocalProperty(k)
      calls.add(Call(kind, prop(Props.QueryId), prop(Props.BatchId),
        prop(Props.ExecId), startMs, (System.nanoTime() - t0) / 1e6))
    }
  }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def wrapStatement(st: PreparedStatement, sql: String): PreparedStatement = {
    val marker = sql.contains(graft.sinks.SqlSink.MarkerTable)
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "executeBatch" => timed("execute_batch")(call(st, m, args))
            case "executeQuery" | "executeUpdate" | "execute" if marker =>
              timed("marker")(call(st, m, args))
            case _ => call(st, m, args)
          }
      }).asInstanceOf[PreparedStatement]
  }

  private def wrap(conn: Connection): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "commit" => timed("commit")(call(conn, m, args))
            case "prepareStatement" if args != null && args.nonEmpty =>
              wrapStatement(call(conn, m, args).asInstanceOf[PreparedStatement],
                args(0).toString)
            case _ => call(conn, m, args)
          }
      }).asInstanceOf[Connection]

  final class Driver extends java.sql.Driver {
    override def acceptsURL(url: String): Boolean =
      url != null && url.startsWith(Prefix)
    override def connect(url: String, info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else wrap(timed("connect")(DriverManager.getConnection(
        "jdbc:derby:" + url.stripPrefix(Prefix), info)))
    override def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger =
      throw new java.sql.SQLFeatureNotSupportedException
  }
}
