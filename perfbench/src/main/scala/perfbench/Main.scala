package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to `run.py`.
  *
  * @param readyEpochMs wall-clock time of the first timed operation;
  *                     `run.py` turns it into `setup_s`
  * @param attempted    operations attempted (messages published, or
  *                     query executions)
  * @param failures     one line per failed operation or failed check
  * @param endToEnd     end-to-end metrics (all but `setup_s`)
  * @param layers       per-layer metrics; only meaningful in a traced run
  * @param primary      the one figure `trace.overhead_frac` compares
  *                     between a traced and an untraced run (higher is
  *                     slower)
  * @param info         run facts that are not metrics: sample counts,
  *                     thread split, generator health
  */
final case class Result(
    readyEpochMs: Long,
    attempted: Long,
    failures: Seq[String],
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    primary: Double,
    info: Map[String, Any])

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --out FILE --work DIR [--data DIR]`. Writes one JSON
  * result file; `run.py` owns the printed contract line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val work = opt("work")
    val out = opt("out")

    val calibStart = Host.calibMs()
    // three task threads on a four-core host leave a core to the JIT and
    // GC threads, the generator and the broker
    val cores = Host.sparkCores(3)
    val spark = graft.engine.Sessions.local("perfbench", cores.toString)
    val tracer = if (traced) Some(new Tracer(spark)) else None

    val res = workload match {
      case "ingest_steady"  => Ingest.steady(spark, seed, seconds, work, tracer)
      case "ingest_backlog" => Ingest.backlog(spark, seed, seconds, work, tracer)
      case "analytics_mix"  =>
        Mix.run(spark, seed, seconds, work, opt("data"), tracer)
      case other =>
        throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val calibEnd = Host.calibMs()
    val rssMb = Host.peakRssMb()
    val retainedMb = Host.retainedHeapMb()
    tracer.foreach { t =>
      t.root = "workload"
      t.addSpan(Span("workload", "", workload,
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
        System.currentTimeMillis().toDouble, Map("seed" -> seed)))
      t.writeSpans(Paths.get(work, "trace", s"$workload-seed$seed.spans.jsonl"))
    }

    val layers = res.layers ++ Map(
      "host.calib_ms_start" -> calibStart,
      "host.calib_ms_end" -> calibEnd,
      "host.peak_rss_mb" -> rssMb)
    val json = JsonOut.write(Map(
      "workload" -> workload,
      "seed" -> seed,
      "traced" -> traced,
      "ready_epoch_ms" -> res.readyEpochMs,
      "attempted" -> res.attempted,
      "failures" -> res.failures.take(50),
      "failed" -> res.failures.size,
      "end_to_end" -> (res.endToEnd + ("retained_heap_mb" -> retainedMb)),
      "layers" -> layers,
      "primary" -> res.primary,
      "info" -> (res.info ++ Map("spark_cores" -> cores,
        "host_nproc" -> Runtime.getRuntime.availableProcessors))))
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.write(Paths.get(out), (json + "\n").getBytes(UTF_8))
    spark.stop()
    sys.exit(0) // broker and client socket threads are not daemons
  }
}

object Host {
  /** Spark cores for a workload, never more than the host has. */
  def sparkCores(want: Int): Int =
    math.max(1, math.min(want, Runtime.getRuntime.availableProcessors))

  @volatile private var sink = 0L

  /** A fixed single-threaded integer loop, best of three, in ms: a
    * witness of host speed that no change to the program can move.
    */
  def calibMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Heap still live after full collections, in MB: what the run left
    * behind (caches, registries, leaks). Unlike the resident-set peak it
    * does not depend on when the collector happened to run.
    */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }
}

object Stats {
  /** Nearest-rank percentile (p in (0, 1]) of unsorted values. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** JSON for the result, span and oracle files. Map keys are sorted, and
  * NaN is written bare, which Python's `json` module reads back as NaN.
  */
object JsonOut {
  val mapper: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}
