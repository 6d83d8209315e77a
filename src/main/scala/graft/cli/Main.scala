package graft.cli

import graft.engine.{Config, Flows, Scratch, Sessions}

/** CLI entry point mirroring the reference's `rabbithole config.yml`
  * (reference cli.py:35-70, 190-244): positional YAML config,
  * `--log-level`, optional checkpoint root; launches every flow and
  * parks in awaitAnyTermination. Ctrl-C stops every flow gracefully
  * and exits 0 — parity with the reference's KeyboardInterrupt handler
  * (cli.py:63-68), and it narrows the window for an interrupt landing
  * mid-JDBC-transaction.
  */
object Main {

  private val shuttingDown =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Graceful Ctrl-C: stop each StreamingQuery (lets the in-flight
    * micro-batch finish and the checkpoint commit), report, exit 0.
    * `sun.misc.Signal` (jdk.unsupported — the same API Spark's own
    * SignalUtils uses) because a plain JVM shutdown hook cannot turn
    * the default SIGINT exit code (130) into the reference's clean 0.
    */
  private def installSigint(
      queries: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit =
    try
      sun.misc.Signal.handle(new sun.misc.Signal("INT"),
        (_: sun.misc.Signal) =>
          if (shuttingDown.compareAndSet(false, true)) {
            queries.foreach(q => try q.stop()
              catch { case _: Exception => () })
            System.err.println(s"stopped ${queries.size} flow(s)")
            sys.exit(0)
          })
    catch { case _: Throwable => () } // exotic JVM: keep default handling
  /** `logLevel` empty = not passed: reference parity is root-at-DEBUG
    * (cli.py:229-232, 247-253), but the reference process contains only
    * its own modules — so the default maps to DEBUG for the `graft`
    * namespace while Spark internals stay at WARN. An explicit
    * `--log-level` applies to both, like the reference's flag.
    */
  private case class Args(config: String = "", logLevel: String = "",
      checkpoint: String = "", logFile: String = "")

  private def parse(argv: Array[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case "--log-level" :: v :: t => loop(t, acc.copy(logLevel = v.toUpperCase))
      case "--checkpoint" :: v :: t => loop(t, acc.copy(checkpoint = v))
      case "--log-file" :: v :: t => loop(t, acc.copy(logFile = v))
      case c :: t if !c.startsWith("--") => loop(t, acc.copy(config = c))
      case Nil => acc
      case other :: _ =>
        System.err.println(s"unknown argument: $other"); sys.exit(2)
    }
    val a = loop(argv.toList, Args())
    if (a.config.isEmpty) { System.err.println("usage: graft <config.yml> [--log-level L] [--log-file F] [--checkpoint DIR]"); sys.exit(2) }
    a
  }

  /** Optional file handler (reference cli.py:263-271: stderr + file at
    * the chosen level) via a programmatic log4j2 appender.
    */
  private def addFileLogger(path: String, level: String): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.FileAppender
    import org.apache.logging.log4j.core.layout.PatternLayout
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val layout = PatternLayout.newBuilder()
      .withPattern("%d{yy/MM/dd HH:mm:ss} %p %c{1}: %m%n")
      .withConfiguration(cfg).build()
    // legacy factory: the generic fluent builder's recursive type bound
    // is not expressible from Scala
    val appender = FileAppender.createAppender(path, "true", "false",
      "graft-file", "true", "false", "false", null, layout, null, "false",
      null, cfg)
    appender.start()
    cfg.addAppender(appender)
    cfg.getRootLogger.addAppender(appender,
      org.apache.logging.log4j.Level.toLevel(level), null)
    ctx.updateLoggers()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // config errors exit non-zero before any Spark work (cli.py:97-106)
    val cfg = try Config.load(args.config) catch {
      case e: Exception =>
        System.err.println(s"config error: ${e.getMessage}"); sys.exit(1)
    }
    val sparkLevel = if (args.logLevel.nonEmpty) args.logLevel else "WARN"
    val graftLevel = if (args.logLevel.nonEmpty) args.logLevel else "DEBUG"
    if (args.logFile.nonEmpty) addFileLogger(args.logFile, sparkLevel)
    val spark = Sessions.local("graft",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel(sparkLevel)
    org.apache.logging.log4j.core.config.Configurator.setLevel("graft",
      org.apache.logging.log4j.Level.toLevel(graftLevel))
    val checkpoint = if (args.checkpoint.nonEmpty) args.checkpoint
      else Scratch.dir("ckpt")
    val queries = Flows.start(spark, cfg, checkpoint)
    System.err.println(s"started ${queries.size} flow(s); Ctrl-C to stop")
    installSigint(queries)
    try spark.streams.awaitAnyTermination()
    catch {
      // a query stopped by the SIGINT handler can surface here as an
      // exception before exit(0) wins the race — not an error
      case e: Exception if !shuttingDown.get => throw e
      case _: Exception => ()
    }
  }
}
