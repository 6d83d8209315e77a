package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.JsonPaths
import graft.sinks.SqlSink

/** Flow assembly: config -> one StreamingQuery per flow (the Spark
  * re-expression of the reference's `create_flow` wiring,
  * cli.py:111-167). The implicit per-flow Batcher (docs/usage.rst:89-91)
  * becomes the micro-batch boundary: `Trigger.ProcessingTime(time_limit)`
  * is the time axis, source-side `maxMessagesPerTrigger = size_limit`
  * the size axis (SURVEY §7.4).
  *
  * Input block types:
  *   - `amqp` / `mq`: the graftmq DataSource V2 ([[graft.sources.MqDataSource]])
  *   - `file`: file-source streaming (parquet/json dir), used in tests
  * Output block types:
  *   - `sql`: [[SqlSink]] foreachBatch JDBC writer
  *   - `parquet`: append parquet sink (bench/tests)
  */
object Flows extends org.apache.spark.internal.Logging {

  /** The column the `sql` writer parses a raw JSON body into, once per
    * row ([[JsonPaths.parse]]): its validity bit and every parameter path.
    */
  private val Parsed = "_json"

  def start(spark: SparkSession, cfg: Config.Engine,
      checkpointRoot: String): Seq[StreamingQuery] = {
    Metrics.register(spark)
    cfg.flows.zipWithIndex.map { case (flow, i) =>
      startFlow(spark, cfg, flow, s"$checkpointRoot/flow$i", s"flow$i")
    }
  }

  def startFlow(spark: SparkSession, cfg: Config.Engine, flow: Config.Flow,
      checkpoint: String, name: String): StreamingQuery = {
    val inBlock = cfg.block(flow.input.name)
    val outBlock = cfg.block(flow.output.name)
    val kin = flow.input.kwargs
    val kout = flow.output.kwargs

    val stream: DataFrame = inBlock.typ match {
      case "amqp" | "mq" =>
        val exchangeName = kin.getOrElse("exchange",
          throw new IllegalArgumentException("flow input needs an exchange")).toString
        val brokerUrl = kin.get("broker").orElse(inBlock.kwargs.get("broker"))
          .map(_.toString)
        // exchange_declare kwargs passthrough (reference amqp.py:55-78):
        // declared on bind, before the stream starts consuming
        kin.get("exchange_declare_kwargs").foreach {
          case m: java.util.Map[_, _] =>
            // a nested `arguments:` map (pika's arguments dict) is
            // flattened to `arguments.<key>` entries; Broker.declare
            // validates the key set (pika parity — unknown kwargs fail
            // the flow at bind time, like the reference's TypeError)
            val flat = m.asScala.iterator.flatMap {
              case (k, vm: java.util.Map[_, _]) if k.toString == "arguments" =>
                vm.asScala.map { case (ak, av) =>
                  s"arguments.$ak" -> String.valueOf(av) }
              case (k, v) => Iterator.single(k.toString -> String.valueOf(v))
            }.toMap
            graft.sources.Broker.declare(exchangeName, brokerUrl, flat)
          case other => throw new IllegalArgumentException(
            s"exchange_declare_kwargs must be a map, got ${other.getClass.getSimpleName}")
        }
        val r = spark.readStream.format("graftmq")
          .option("exchange", exchangeName)
          .option("maxMessagesPerTrigger", cfg.sizeLimit.toString)
        // cross-process transport: block-level `broker: tcp://host:port`
        brokerUrl.foreach(b => r.option("broker", b))
        r.load()
      case "file" =>
        val dir = inBlock.kwargs("path").toString
        val fmt = inBlock.kwargs.getOrElse("format", "parquet").toString
        val schema = spark.read.format(fmt).load(dir).schema
        val r = spark.readStream.format(fmt).schema(schema)
        kin.get("pathGlobFilter").foreach(g => r.option("pathGlobFilter", g.toString))
        r.load(dir)
      case other =>
        throw new IllegalArgumentException(s"unknown input block type: $other")
    }

    val deadLetter = kout.get("dead_letter_dir").map(_.toString)
    val writer = outBlock.typ match {
      case "sql" =>
        val url = outBlock.kwargs("url").toString
        val query = kout("query").toString
        val mapping = kout.get("parameters") match {
          case None => SqlSink.Identity
          case Some(l: java.util.List[_]) =>
            SqlSink.Positional(l.toArray.map(_.toString).toSeq)
          case Some(m: java.util.Map[_, _]) =>
            SqlSink.Named(m.asScala.toSeq.map { case (k, v) =>
              k.toString -> v.toString })
          case Some(other) =>
            // reference sql.py:88-90: invalid parameters type => error
            throw new IllegalArgumentException(
              s"invalid parameters type: ${other.getClass.getSimpleName}")
        }
        // schema-less flows bind dotted paths against the raw JSON body,
        // parsed once per row. A body is corrupt iff the parse finds no
        // well-formed JSON value (JsonPaths.Valid): such messages
        // dead-letter (reference amqp.py:107-109: nack, no requeue — the
        // message leaves the pipeline but stays observable)
        val jsonCol = if (stream.columns.contains("value")) Some("value") else None
        val paths = SqlSink.paths(query, mapping)
        def parse(df: DataFrame): DataFrame =
          jsonCol.fold(df)(j => df.withColumn(Parsed, JsonPaths.parse(col(j), paths)))
        val isCorrupt =
          if (jsonCol.isDefined) !col(Parsed).getField(JsonPaths.Valid) else lit(false)
        // R3 first half (reference amqp.py:101-103): a non-JSON content
        // type gets a logged WARNING but the message is still forwarded
        val isNonJson =
          if (stream.columns.contains("content_type"))
            col("content_type") =!= "application/json"
          else lit(false)
        // with a dead-letter dir the corrupt rows reach the driver too (from
        // a broker input, at most size_limit per micro-batch)
        val metrics = Seq(count_if(isNonJson).as("non_json"),
          count_if(isCorrupt).as("corrupt")) ++ deadLetter.map(_ => collect_list(
            when(isCorrupt, struct(stream.columns.map(col): _*))).as("corrupt_rows"))
        // the sink reads its parameters off the parsed struct
        val sinkJson = jsonCol.map(_ => Parsed)
        // idempotent: true => (batch, slice)-keyed replay protection
        // (exactly-once with the checkpointed replayable source)
        val sink: (DataFrame, Long) => Option[Map[String, Row]] =
          if (kout.get("idempotent").exists(_.toString.toBoolean)) {
            val write = SqlSink.idempotentForeachBatch(url, query, mapping,
              name, sinkJson)
            (df, id) => Some(write(df, id))
          } else SqlSink.foreachBatch(url, query, mapping, sinkJson)
        (batch: DataFrame, id: Long) => {
          // ONE action per micro-batch that the sink writes: the counts and
          // the corrupt rows ride the sink's own job as observed metrics,
          // so the batch is read once — each read adds to the progress
          // event's numInputRows. The parse sits below the observation,
          // which the filter cannot be pushed through: it runs once a row.
          val observed = parse(batch).observe("ingest", metrics.head, metrics.tail: _*)
          sink(observed.filter(!isCorrupt), id) match {
            case Some(observedMetrics) =>
              val m = observedMetrics("ingest")
              val nonJson = m.getAs[Long]("non_json")
              Metrics.addCounts(name, m.getAs[Long]("corrupt"), nonJson)
              if (nonJson > 0) logWarning(
                s"$nonJson message(s) with non-JSON content type received; " +
                  "forwarding anyway")
              for (d <- deadLetter) {
                val rows = m.getSeq[Row](m.fieldIndex("corrupt_rows"))
                if (rows.nonEmpty) spark.createDataFrame(rows.asJava, batch.schema)
                  .write.mode("append").parquet(s"$d/corrupt")
              }
            case None =>
              // the dropped batch is read once more, whole, into
              // batch_<id>/; its corrupt rows (whose count died with the
              // failed job) are taken from that copy, not from another read
              for (d <- deadLetter) {
                val dump = s"$d/batch_$id"
                batch.write.mode("append").parquet(dump)
                if (jsonCol.isDefined) parse(spark.read.parquet(dump)).filter(isCorrupt)
                  .drop(Parsed).write.mode("append").parquet(s"$d/corrupt")
              }
          }
        }
      case "parquet" =>
        val path = outBlock.kwargs("path").toString
        (batch: DataFrame, id: Long) =>
          batch.write.mode("append").parquet(path)
      case other =>
        throw new IllegalArgumentException(s"unknown output block type: $other")
    }

    stream.writeStream
      .queryName(name)
      .foreachBatch(writer)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"${cfg.timeLimit} seconds"))
      .start()
  }
}
