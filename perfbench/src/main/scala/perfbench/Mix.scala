package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analytics_mix`: a fixed slice of the query inventory, timed
  * pass-major with a `noop` write and the cache cleared between queries
  * (as `graft.Bench` does). The seed only permutes the order within each
  * pass. The first, untimed pass writes each result as parquet for the
  * DuckDB oracle check in `run.py`, and [[WarmupPasses]] more untimed
  * passes finish the warm-up (the first pass after the checked one still
  * runs 30–100% slower); then timed passes run until `seconds` have
  * passed (four at least), and each query reports its median.
  */
object Mix {
  val Family: Map[String, String] = Map(
    "q140_bfs" -> "graph", "q88_fuzzy" -> "text",
    "q121_tpch21" -> "sql", "q03_json_path" -> "sql")
  val WarmupPasses = 1
  val MinTimedPasses = 4

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String,
      data: String, tracer: Option[Tracer]): Result = {
    val names = Family.keys.toSeq.sorted
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val sc = spark.sparkContext
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(names)

    /** Runs one query once; its wall time in seconds, or None if it threw. */
    def runOne(name: String, pass: Int, out: Option[String]): Option[Double] = {
      sc.setLocalProperty(Props.MixQuery, name)
      sc.setLocalProperty(Props.MixPass, pass.toString)
      attempted += 1
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis().toDouble
      try {
        val df = fns(name)(spark, data)
        out match {
          case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          case None      => df.write.mode("overwrite").format("noop").save()
        }
        val s = (System.nanoTime() - t0) / 1e9
        tracer.foreach(_.addSpan(Span(s"p$pass.$name", s"p$pass", "query", startMs,
          startMs + s * 1000, Map("query" -> name, "pass" -> pass))))
        Some(s)
      } catch {
        case e: Throwable =>
          failures += s"$name (pass $pass) threw: ${e.getMessage}"
          None
      } finally {
        spark.catalog.clearCache()
        sc.setLocalProperty(Props.MixQuery, null)
        sc.setLocalProperty(Props.MixPass, null)
      }
    }

    def pass(p: Int, out: Option[String]): Map[String, Double] = {
      val startMs = System.currentTimeMillis().toDouble
      val times = order(p).flatMap(n => runOne(n, p, out).map(n -> _)).toMap
      tracer.foreach(_.addSpan(Span(s"p$p", "workload", "pass", startMs,
        System.currentTimeMillis().toDouble, Map("pass" -> p, "timed" -> out.isEmpty))))
      times
    }

    val resultsDir = Paths.get(work, "mix_results").toString
    pass(0, Some(resultsDir))
    (1 to WarmupPasses).foreach(pass(_, None))

    val readyMs = System.currentTimeMillis()
    val firstTimed = 1 + WarmupPasses
    val timed = ArrayBuffer.empty[Map[String, Double]]
    while (timed.size < MinTimedPasses ||
        System.currentTimeMillis() - readyMs < seconds * 1000)
      timed += pass(firstTimed + timed.size, None)

    val medians = names.map(n => n -> Stats.median(timed.flatMap(_.get(n)).toSeq)).toMap
    val perQuery = medians.values.toSeq
    val mixS = perQuery.sum
    def familyS(f: String) = names.filter(Family(_) == f).map(medians).sum

    // the oracle SQL of the mix, for run.py's DuckDB comparison
    val oracle = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    Files.write(Paths.get(resultsDir, "oracle_sql.json"), JsonOut.write(oracle).getBytes(UTF_8))

    val timedPasses = firstTimed until firstTimed + timed.size
    val layers = tracer.map(_.familyLayers(Family, timedPasses)).getOrElse(Map.empty) ++
      names.map(n => s"queries.${n}_s" -> medians(n)) ++
      Map("queries.mix_s" -> mixS, "queries.graph_s" -> familyS("graph"),
        "queries.text_s" -> familyS("text"), "queries.sql_s" -> familyS("sql"))
    Result(readyMs, attempted, failures.toSeq,
      Map("latency_p50_ms" -> Stats.pct(perQuery, 0.5) * 1000,
        "latency_p99_ms" -> Stats.pct(perQuery, 0.99) * 1000,
        "throughput_per_s" -> names.size / mixS),
      layers, mixS,
      Map("timed_passes" -> timed.size, "warmup_passes" -> (1 + WarmupPasses),
        "queries" -> names,
        "results_dir" -> resultsDir, "mix_s" -> mixS,
        "threads" -> "spark local[3], queries run one at a time"))
  }
}
