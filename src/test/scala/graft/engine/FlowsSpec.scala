package graft.engine

import java.sql.DriverManager

import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec
import graft.functions.ParseJsonPaths
import graft.sources.MemoryBroker
import graft.sources.amqp.{AmqpBroker, AmqpConnection, AmqpServer}

/** End-to-end: YAML config -> flow assembly -> graftmq source ->
  * SQL sink, including corrupt-JSON dead-lettering — the full
  * reference dataflow (cli.py:111-167) on Spark.
  */
class FlowsSpec extends SparkSpec {
  private val planNodes = new AdaptiveSparkPlanHelper {}

  test("config-driven flow moves messages from broker to SQL table") {
    val url = "jdbc:derby:memory:flowdb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE logs (msg VARCHAR(100), k INT)")
    c.close()
    val dl = java.nio.file.Files.createTempDirectory("graft-dl").toString
    val cfg = Config.parseString(
      s"""size_limit: 4
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$url'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: e2e
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO logs (msg, k) VALUES (:m, CAST(:k AS INT))"
         |        dead_letter_dir: '$dl'
         |        parameters:
         |          m: message.text
         |          k: k
         |""".stripMargin)
    (1 to 6).foreach(i =>
      MemoryBroker.publish("e2e", s"""{"message":{"text":"m$i"},"k":$i}"""))
    MemoryBroker.publish("e2e", "not json at all {")
    val ckpt = java.nio.file.Files.createTempDirectory("flow-ckpt").toString
    Metrics.register(spark)
    val q = Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "e2e_flow")
    try {
      val deadline = System.currentTimeMillis() + 60000
      def count(): Int = {
        val cc = DriverManager.getConnection(url)
        try {
          val rs = cc.createStatement().executeQuery("SELECT COUNT(*) FROM logs")
          rs.next(); rs.getInt(1)
        } finally cc.close()
      }
      while (count() < 6 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(count() == 6)
      val cc = DriverManager.getConnection(url)
      val rs = cc.createStatement().executeQuery(
        "SELECT msg FROM logs WHERE k = 3")
      rs.next(); assert(rs.getString(1) == "m3"); cc.close()
      // corrupt message was dead-lettered, not inserted and not fatal
      val deadline2 = System.currentTimeMillis() + 30000
      def deadCount(): Long =
        try spark.read.parquet(s"$dl/corrupt").count() catch { case _: Exception => 0L }
      while (deadCount() < 1 && System.currentTimeMillis() < deadline2)
        Thread.sleep(200)
      assert(deadCount() == 1L)
      assert(Metrics.snapshot("e2e_flow").corrupt == 1L)
      // each message is read once: dead-lettering must not read the
      // micro-batch again, as every read adds to numInputRows
      def rows(): Long = Metrics.snapshot.get("e2e_flow").fold(0L)(_.rows)
      while (rows() < 7 && System.currentTimeMillis() < deadline2)
        Thread.sleep(200)
      assert(rows() == 7L)
    } finally q.stop()
  }

  test("amqp:// transport: valid, corrupt and text/plain bodies are routed and counted") {
    val server = new AmqpServer(0, None)
    val url = "jdbc:derby:memory:amqpflowdb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE amqplogs (msg VARCHAR(100), k INT)")
    c.close()
    val dl = java.nio.file.Files.createTempDirectory("graft-amqp-dl").toString
    val conn = new AmqpConnection("localhost", server.boundPort)
    try {
      conn.declareExchange("amqp_e2e", "fanout", durable = true, Map.empty)
      val json = "application/json"
      (1 to 4).foreach(i =>
        conn.publish("amqp_e2e", s"""{"message":{"text":"m$i"},"k":$i}""", json))
      // valid JSON under a non-JSON content type is forwarded
      conn.publish("amqp_e2e", """{"message":{"text":"plain"},"k":5}""", "text/plain")
      val truncated = """{"message":{"text":"cut"},"k":"""
      conn.publish("amqp_e2e", truncated, json)
      conn.publish("amqp_e2e", "not json {", "text/plain")
      val cfg = Config.parseString(
        s"""size_limit: 4
           |time_limit: 1
           |blocks:
           |  - name: in
           |    type: amqp
           |    kwargs: {broker: "amqp://localhost:${server.boundPort}"}
           |  - name: out
           |    type: sql
           |    kwargs:
           |      url: '$url'
           |flows:
           |  - - name: in
           |      kwargs:
           |        exchange: amqp_e2e
           |    - name: out
           |      kwargs:
           |        query: "INSERT INTO amqplogs (msg, k) VALUES (:m, CAST(:k AS INT))"
           |        dead_letter_dir: '$dl'
           |        parameters:
           |          m: message.text
           |          k: k
           |""".stripMargin)
      val ckpt = java.nio.file.Files.createTempDirectory("amqp-flow-ckpt").toString
      Metrics.register(spark)
      val q = Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "amqp_flow")
      try {
        def rows(): Long = Metrics.snapshot.get("amqp_flow").fold(0L)(_.rows)
        val deadline = System.currentTimeMillis() + 60000
        while (rows() < 7 && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        q.processAllAvailable() // the writer records the counts after the insert
        val cc = DriverManager.getConnection(url)
        val landed =
          try {
            val rs = cc.createStatement().executeQuery(
              "SELECT msg, k FROM amqplogs ORDER BY k")
            Iterator.continually(rs).takeWhile(_.next())
              .map(r => (r.getString(1), r.getInt(2))).toList
          } finally cc.close()
        assert(landed == (1 to 4).map(i => (s"m$i", i)) :+ ("plain" -> 5))
        assert(spark.read.parquet(s"$dl/corrupt").select("value").collect()
          .map(_.getString(0)).toSeq.sorted == Seq("not json {", truncated).sorted)
        val m = Metrics.snapshot("amqp_flow")
        assert((m.rows, m.corrupt, m.nonJson) == ((7L, 2L, 2L)))
      } finally q.stop()
    } finally {
      conn.close()
      AmqpBroker.reset()
      server.stop()
    }
  }

  test("a batch the best-effort sink drops still dead-letters its corrupt rows") {
    val url = "jdbc:derby:memory:dropdb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE droplogs (v VARCHAR(3))")
    c.close()
    val dl = java.nio.file.Files.createTempDirectory("graft-drop-dl").toString
    // the valid body overflows VARCHAR(3), so the sink drops the batch;
    // the failed job's corrupt count is lost with its task metrics
    MemoryBroker.publish("drop_ex", """{"v":"too long for the column"}""")
    MemoryBroker.publish("drop_ex", "not json {")
    val cfg = Config.parseString(
      s"""size_limit: 4
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$url'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: drop_ex
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO droplogs (v) VALUES (:v)"
         |        dead_letter_dir: '$dl'
         |        parameters:
         |          v: v
         |""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("drop-ckpt").toString
    Metrics.register(spark)
    val q = Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "drop_flow")
    try {
      q.processAllAvailable()
      def bodies(dir: String): Seq[String] =
        try spark.read.parquet(s"$dl/$dir").select("value").collect().map(_.getString(0)).toSeq.sorted
        catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }
      // corrupt/ gets the corrupt row; batch_0/ keeps the whole dropped batch
      assert(bodies("corrupt") == Seq("not json {"))
      assert(bodies("batch_0") == Seq("not json {", """{"v":"too long for the column"}"""))
      // both messages sit in one input partition, whose failed task's
      // metrics are discarded: only the batch_0/ copy reads them
      def rows(): Long = Metrics.snapshot.get("drop_flow").fold(0L)(_.rows)
      val deadline = System.currentTimeMillis() + 30000
      while (rows() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      org.apache.spark.SpecBridge.drainListeners(spark.sparkContext)
      assert(rows() == 2L)
      val cc = DriverManager.getConnection(url)
      try {
        val rs = cc.createStatement().executeQuery("SELECT COUNT(*) FROM droplogs")
        rs.next(); assert(rs.getInt(1) == 0)
      } finally cc.close()
    } finally q.stop()
  }

  test("clean micro-batches run ONE action (no per-batch count/isEmpty)") {
    val url = "jdbc:derby:memory:actdb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE actlogs (v VARCHAR(100))")
    c.close()
    // count action names fired through the session while the flow runs;
    // the old writer cost a count() (content-type warn) + isEmpty()
    // (corrupt split) per micro-batch on top of the sink action
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sinkPlans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        seen.merge(funcName, 1, (a, b) => a + b)
        if (funcName == "foreachPartition") sinkPlans.add(qe.executedPlan)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    (1 to 5).foreach(i => MemoryBroker.publish("act_ex", s"""{"v":"a$i"}"""))
    val cfg = Config.parseString(
      s"""size_limit: 8
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$url'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: act_ex
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO actlogs (v) VALUES (:v)"
         |        parameters:
         |          v: v
         |""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("act-ckpt").toString
    spark.listenerManager.register(listener)
    val q = Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "act_flow")
    try {
      val deadline = System.currentTimeMillis() + 60000
      def count(): Int = {
        val cc = DriverManager.getConnection(url)
        try {
          val rs = cc.createStatement().executeQuery("SELECT COUNT(*) FROM actlogs")
          rs.next(); rs.getInt(1)
        } finally cc.close()
      }
      while (count() < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(count() == 5)
      // the listener hears of an execution only after its batch ends and
      // the listener bus delivers the event; read the counts after both
      q.processAllAvailable()
      org.apache.spark.SpecBridge.drainListeners(spark.sparkContext)
      // the sink action ran; the per-batch metric actions did not
      assert(seen.getOrDefault("foreachPartition", 0) >= 1)
      assert(seen.getOrDefault("count", 0) == 0,
        s"writer must not run a per-batch count(): $seen")
      assert(seen.getOrDefault("isEmpty", 0) == 0,
        s"writer must not run a per-batch isEmpty(): $seen")
      // each body is parsed once: one fused kernel for the corrupt check
      // and the parameter, and no get_json_object
      sinkPlans.forEach { plan =>
        def count(p: Expression => Boolean) = planNodes.collect(plan) { case n => n }
          .flatMap(_.expressions.flatMap(_.collect { case e if p(e) => e })).size
        assert(count(_.isInstanceOf[ParseJsonPaths]) == 1, plan)
        assert(count(_.isInstanceOf[GetJsonObject]) == 0, plan)
      }
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
    }
  }

  test("an idempotent graftmq flow writes each slice where it is read: no shuffle, one job a batch") {
    val url = "jdbc:derby:memory:slicedb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE slicelogs (v VARCHAR(100))")
    c.close()
    val sinkPlans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "foreachPartition") sinkPlans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // Spark jobs by (streaming query, SQL execution that started them)
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); query <- Option(p.getProperty("sql.streaming.queryId"));
             exec <- Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          jobs.merge((query, exec), 1, (a, b) => a + b)
    }
    (1 to 10).foreach(i => MemoryBroker.publish("slice_ex", s"""{"v":"s$i"}"""))
    val cfg = Config.parseString(
      s"""size_limit: 4
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$url'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: slice_ex
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO slicelogs (v) VALUES (:v)"
         |        idempotent: true
         |        parameters:
         |          v: v
         |""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("slice-ckpt").toString
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(jobListener)
    val q = Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "slice_flow")
    def query(sql: String): Seq[Int] = {
      val cc = DriverManager.getConnection(url)
      try {
        val rs = cc.createStatement().executeQuery(sql)
        Iterator.continually(rs).takeWhile(_.next()).map(_.getInt(1)).toVector
      } finally cc.close()
    }
    try {
      val deadline = System.currentTimeMillis() + 60000
      def count() = query("SELECT COUNT(*) FROM slicelogs").head
      while (count() < 10 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(count() == 10)
      q.processAllAvailable()
      org.apache.spark.SpecBridge.drainListeners(spark.sparkContext)
      assert(!sinkPlans.isEmpty)
      sinkPlans.forEach { plan =>
        assert(planNodes.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan)
      }
      // the flow ran one SQL execution with jobs a batch, and one job in it
      import scala.jdk.CollectionConverters._
      val perExecution = jobs.asScala.collect { case ((id, _), n) if id == q.id.toString => n.toInt }
      val batches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).distinct
      assert(perExecution.size == batches.length && perExecution.forall(_ == 1),
        s"jobs per execution: $perExecution over ${batches.length} batches")
      // a batch of at most 4 rows is one slice: its marker is slice 0's
      val parts = query(
        s"SELECT part_id FROM ${graft.sinks.SqlSink.MarkerTable} WHERE flow_id = 'slice_flow'")
      assert(parts.size == batches.length && parts.forall(_ == -1), parts)
    } finally {
      q.stop()
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  test("exchange_declare_kwargs from YAML reach the broker (R2)") {
    val url = "jdbc:derby:memory:decldb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE dummy (v VARCHAR(10))")
    c.close()
    val cfg = Config.parseString(
      s"""size_limit: 4
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$url'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: decl_flow_ex
         |        exchange_declare_kwargs:
         |          exchange_type: fanout
         |          durable: 'true'
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO dummy (v) VALUES (:v)"
         |        parameters:
         |          v: v
         |""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("decl-ckpt").toString
    val q = Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "decl_flow")
    try assert(MemoryBroker.declared("decl_flow_ex") ==
      Map("exchange_type" -> "fanout", "durable" -> "true"))
    finally q.stop()
  }

  test("exchange_declare_kwargs: nested arguments map is flattened (R2)") {
    val url = "jdbc:derby:memory:declargdb;create=true"
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute("CREATE TABLE dummy2 (v VARCHAR(10))")
    catch { case _: java.sql.SQLException => () }
    finally c.close()
    val cfg = Config.parseString(
      s"""size_limit: 4
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$url'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: decl_args_ex
         |        exchange_declare_kwargs:
         |          auto_delete: 'true'
         |          arguments:
         |            x-message-ttl: 60000
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO dummy2 (v) VALUES (:v)"
         |        parameters:
         |          v: v
         |""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("declarg-ckpt").toString
    val q = Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "decl_args_flow")
    try assert(MemoryBroker.declared("decl_args_ex") ==
      Map("auto_delete" -> "true", "arguments.x-message-ttl" -> "60000"))
    finally q.stop()
  }

  test("exchange_declare_kwargs: unknown kwarg fails the flow at bind time (R17 parity)") {
    // the reference forwards kwargs to pika verbatim, so a typo or a
    // queue-level kwarg (exclusive) crashes it at bind time with
    // TypeError; the engine must fail the same config at the same
    // moment, not silently accept an inert key
    val url = "jdbc:derby:memory:declbaddb;create=true"
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute("CREATE TABLE dummy3 (v VARCHAR(10))")
    catch { case _: java.sql.SQLException => () }
    finally c.close()
    val cfg = Config.parseString(
      s"""size_limit: 4
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$url'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: decl_bad_ex
         |        exchange_declare_kwargs:
         |          exclusive: 'true'
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO dummy3 (v) VALUES (:v)"
         |        parameters:
         |          v: v
         |""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("declbad-ckpt").toString
    val e = intercept[IllegalArgumentException] {
      Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "decl_bad_flow")
    }
    assert(e.getMessage.contains("exclusive"))
  }

  test("non-JSON content type is warned about but forwarded (R3 first half)") {
    val url = "jdbc:derby:memory:ctdb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE ctlogs (v VARCHAR(100))")
    c.close()
    // a JSON-parseable body published under a non-JSON content type:
    // the reference warns (amqp.py:101-103) and processes it anyway
    MemoryBroker.publish("ct_ex", """{"v":"forwarded"}""",
      contentType = "text/plain")
    val cfg = Config.parseString(
      s"""size_limit: 4
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$url'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: ct_ex
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO ctlogs (v) VALUES (:v)"
         |        parameters:
         |          v: v
         |""".stripMargin)
    val ckpt = java.nio.file.Files.createTempDirectory("ct-ckpt").toString
    val q = Flows.startFlow(spark, cfg, cfg.flows.head, ckpt, "ct_flow")
    try {
      val deadline = System.currentTimeMillis() + 60000
      def one(): Option[String] = {
        val cc = DriverManager.getConnection(url)
        try {
          val rs = cc.createStatement().executeQuery("SELECT v FROM ctlogs")
          if (rs.next()) Some(rs.getString(1)) else None
        } finally cc.close()
      }
      while (one().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(one().contains("forwarded"))
      q.processAllAvailable() // the writer records the counts after the insert
      assert(Metrics.snapshot("ct_flow").nonJson == 1L)
    } finally q.stop()
  }
}
