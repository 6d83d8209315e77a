package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TxTable

class TxLogSourceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val tmp = java.nio.file.Files.createTempDirectory("txlog-dsv2-")
      .toString
    TxTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
        .repartition(2), tmp)
    TxTable.commitAppend(
      Seq((4L, "d"), (5L, "e")).toDF("id", "s").repartition(1), tmp)
    TxTable.commitDelete(spark, tmp, col("id") === 2L)
    // v4 evolves the schema: a column older files never had
    TxTable.commitAppend(
      Seq((6L, "f", 60L)).toDF("id", "s", "q"), tmp)
    tmp
  }

  test("format(txlog) reads the latest snapshot; versionAsOf time-travels") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(spark.read.format("txlog").load(dir)) ==
      Set(1L, 3L, 4L, 5L, 6L))
    assert(ids(spark.read.format("txlog")
      .option("versionAsOf", 1).load(dir)) == Set(1L, 2L, 3L))
    assert(ids(spark.read.format("txlog")
      .option("versionAsOf", 2).load(dir)) == Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(spark.read.format("txlog")
      .option("versionAsOf", 3).load(dir)) == Set(1L, 3L, 4L, 5L))
    // reader == operator at every version
    for (v <- 1 to 4) {
      val viaSource = spark.read.format("txlog")
        .option("versionAsOf", v).load(dir)
      assert(ids(viaSource) ==
        ids(TxTable.snapshot(spark, dir, Some(v))), s"version $v")
    }
  }

  test("SQL-only users reach the table, with native VERSION AS OF") {
    val got = spark.sql(s"SELECT count(*) AS n FROM txlog.`$dir`")
      .collect().head.getLong(0)
    assert(got == 5L)
    // time travel through Spark's own SQL syntax (loadTable(ident,
    // version) on the catalog)
    val v1 = spark.sql(
        s"SELECT id FROM txlog.`$dir` VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(v1 == Seq(1L, 2L, 3L))
    val v3 = spark.sql(
        s"SELECT count(*) AS n FROM txlog.`$dir` VERSION AS OF 3")
      .collect().head.getLong(0)
    assert(v3 == 4L)
    // a missing table is a clean NoSuchTable, not a crash
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM txlog.`/tmp/definitely-not-a-table`")
        .collect()
    }
    ()
  }

  test("the scan is a real parquet V2 scan: pushdown and pruning work") {
    val df = spark.read.format("txlog").load(dir)
      .filter(col("id") > 3L).select("id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,3)"))
    assert(plan.contains("ReadSchema: struct<id:bigint>"))
    assert(df.collect().map(_.getLong(0)).toSet == Set(4L, 5L, 6L))
  }

  test("mergeSchema option surfaces evolved columns as NULL on old rows") {
    val df = spark.read.format("txlog").option("mergeSchema", "true")
      .load(dir)
    assert(df.columns.contains("q"))
    val withQ = df.filter(col("q").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(withQ == Seq((6L, 60L)))
    assert(df.filter(col("q").isNull).count() == 4)
  }

  test("CALL: the maintenance verbs run through SQL stored procedures") {
    val tmp = java.nio.file.Files.createTempDirectory("txlog-call-")
      .toString
    TxTable.commitAppend(
      (1L to 10L).map(i => (i, s"s$i")).toDF("id", "s").repartition(2),
      tmp) // v1
    TxTable.commitDelete(spark, tmp, col("id") <= 3L) // v2
    def ids = spark.read.format("txlog").load(tmp)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == (4L to 10L).toSet)
    // RESTORE through SQL — the returned row reports the new version
    val rv = spark.sql(s"CALL txlog.restore('$tmp', 1)")
      .collect().map(_.getLong(0)).toSeq
    assert(rv == Seq(3L), s"restore must report v3, got $rv")
    assert(ids == (1L to 10L).toSet)
    // small-file sweep + checkpoint + vacuum, all through CALL
    val ov = spark.sql(
      s"CALL txlog.optimize_small('$tmp', ${Long.MaxValue}L)")
      .collect().head.getLong(0)
    assert(ov == 4L)
    assert(spark.sql(s"CALL txlog.checkpoint('$tmp')")
      .collect().head.getLong(0) == 4L)
    val reclaimed = spark.sql(s"CALL txlog.vacuum('$tmp', 4)")
      .collect().head.getLong(0)
    assert(reclaimed > 0L, "vacuum must reclaim the pre-horizon files")
    assert(ids == (1L to 10L).toSet)
    // purge_dvs: a DV delete through the operator, purged through SQL
    TxTable.commitDeleteDV(spark, tmp, col("id") === 9L) // v5
    assert(spark.sql(s"CALL txlog.purge_dvs('$tmp')")
      .collect().head.getLong(0) == 6L)
    assert(TxTable.dvRefsAt(tmp).isEmpty)
    assert(ids == (1L to 10L).toSet - 9L)
    // SHOW PROCEDURES lists the surface
    val listed = spark.sql("SHOW PROCEDURES IN txlog")
      .collect().map(_.toString).mkString(",")
    assert(listed.contains("restore") && listed.contains("vacuum"))
    ()
  }

  test("CREATE TABLE / CTAS / ALTER COLUMN / DROP TABLE: the full SQL lifecycle") {
    val base = java.nio.file.Files.createTempDirectory("txlog-ddl-")
      .toString
    val t1 = s"$base/t1"
    // CREATE then INSERT across statements: the declared schema
    // persists in the (still-commitless) log dir
    spark.sql(s"CREATE TABLE txlog.`$t1` (id BIGINT, s STRING)")
    assert(spark.sql(s"SELECT * FROM txlog.`$t1`").count() == 0)
    spark.sql(s"INSERT INTO txlog.`$t1` VALUES (1, 'a'), (2, 'b')")
    assert(TxTable.currentVersion(t1) == 1)
    assert(spark.sql(s"SELECT * FROM txlog.`$t1`").count() == 2)
    // creating over an existing table fails loudly
    intercept[org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException] {
      spark.sql(s"CREATE TABLE txlog.`$t1` (x INT)")
    }
    // CTAS: create + first commit in one statement
    val t2 = s"$base/t2"
    spark.sql(s"CREATE TABLE txlog.`$t2` AS " +
      s"SELECT id * 10 AS id2, s FROM txlog.`$t1`")
    assert(spark.sql(s"SELECT * FROM txlog.`$t2`")
      .collect().map(_.getLong(0)).toSet == Set(10L, 20L))
    assert(TxTable.currentVersion(t2) == 1)
    // ALTER TABLE RENAME/DROP COLUMN = the column-mapping commits;
    // SQL scans of the mapped table are served from the snapshot plan
    // (TxSnapshotScan), under LOGICAL names
    spark.sql(s"ALTER TABLE txlog.`$t2` RENAME COLUMN id2 TO ident")
    assert(TxTable.snapshot(spark, t2).columns.toSeq ==
      Seq("ident", "s"))
    assert(spark.sql(s"SELECT ident FROM txlog.`$t2` ORDER BY ident")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
    spark.sql(s"ALTER TABLE txlog.`$t2` DROP COLUMN s")
    assert(TxTable.snapshot(spark, t2).columns.toSeq == Seq("ident"))
    assert(TxTable.snapshot(spark, t2)
      .collect().map(_.getLong(0)).toSet == Set(10L, 20L))
    val sqlRead = spark.sql(s"SELECT * FROM txlog.`$t2`")
    assert(sqlRead.columns.toSeq == Seq("ident"))
    assert(sqlRead.collect().map(_.getLong(0)).toSet == Set(10L, 20L))
    // DROP TABLE removes it; a second drop reports not-found
    spark.sql(s"DROP TABLE txlog.`$t2`")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t2)))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM txlog.`$t2`").collect()
    }
    ()
  }

  test("INSERT INTO and df.write route through the commit protocol") {
    val d2 = java.nio.file.Files.createTempDirectory("txlog-ins-")
      .toString
    TxTable.commitAppend(Seq((1L, "a")).toDF("id", "s"), d2)
    // SQL INSERT INTO: one atomic commit, time travel intact
    spark.sql(s"INSERT INTO txlog.`$d2` VALUES (2, 'b'), (3, 'c')")
    assert(TxTable.currentVersion(d2) == 2)
    assert(TxTable.snapshot(spark, d2)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(TxTable.snapshot(spark, d2, Some(1)).count() == 1)
    // column-list insert resolves by name
    spark.sql(s"INSERT INTO txlog.`$d2` (s, id) VALUES ('d', 4)")
    assert(TxTable.snapshot(spark, d2).filter(col("id") === 4L)
      .collect().head.getString(1) == "d")
    // df.write.format("txlog").mode("append") is the same commit path
    Seq((5L, "e")).toDF("id", "s").write.format("txlog")
      .mode("append").save(d2)
    assert(TxTable.currentVersion(d2) == 4)
    assert(TxTable.snapshot(spark, d2).count() == 5)
    // the optional partitionBy write option lands hive-partitioned
    val d3 = java.nio.file.Files.createTempDirectory("txlog-insp-")
      .toString
    TxTable.commitAppend(Seq((1L, "en")).toDF("id", "lang"), d3,
      partitionBy = Seq("lang"))
    Seq((2L, "de")).toDF("id", "lang").write.format("txlog")
      .mode("append").option("partitionBy", "lang").save(d3)
    assert(TxTable.liveFiles(d3).forall(_.contains("/__p_lang=")))
    // INSERT OVERWRITE is rejected loudly, nothing committed
    val pre = TxTable.currentVersion(d2)
    intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE txlog.`$d2` VALUES (9, 'z')")
    }
    assert(TxTable.currentVersion(d2) == pre)
    // CHECK constraints gate the SQL insert path too
    TxTable.addCheckConstraint(spark, d2, "pos_id", "id > 0")
    intercept[Exception] {
      spark.sql(s"INSERT INTO txlog.`$d2` VALUES (-1, 'bad')")
    }
    assert(TxTable.snapshot(spark, d2).filter(col("id") < 0).count() == 0)
    ()
  }

  test("streaming source: initial snapshot + appends, delete contract, rate cap") {
    import org.apache.spark.sql.streaming.Trigger
    val d2 = java.nio.file.Files.createTempDirectory("txlog-src-")
      .toString
    TxTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), d2)
    TxTable.commitAppend(Seq((3L, "c")).toDF("id", "s"), d2)
    val ckpt = java.nio.file.Files
      .createTempDirectory("txlog-src-ckpt-").toString
    val name = s"txsrc_${System.nanoTime()}"
    // initial snapshot: first drain delivers the WHOLE table
    val q = spark.readStream.format("txlog").load(d2)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def drained = spark.table(name)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(drained == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // appends tail incrementally from the checkpoint (foreachBatch —
    // the memory sink cannot RECOVER a checkpoint)
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String)]())
    def drainInto(reader: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.streaming.StreamingQuery =
      reader.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add((r.getLong(0),
            r.getString(1))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    TxTable.commitAppend(Seq((4L, "d")).toDF("id", "s"), d2)
    val q2 = drainInto(spark.readStream.format("txlog").load(d2))
    q2.awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet == Set((4L, "d")),
      s"resume must deliver ONLY the new commit: ${got.asScala}")
    // OPTIMIZE is silent; a rewriting DELETE fails the stream by
    // default (Delta's contract)...
    TxTable.commitCompact(spark, d2, targetFiles = 1)
    TxTable.commitDelete(spark, d2, col("id") === 1L)
    TxTable.commitAppend(Seq((5L, "e")).toDF("id", "s"), d2)
    val q3 = drainInto(spark.readStream.format("txlog").load(d2))
    val failed = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { q3.awaitTermination() }
    assert(failed.getMessage.contains("ignoreChanges") ||
      failed.cause.getMessage.contains("ignoreChanges"))
    // ...and proceeds under ignoreChanges (survivors re-emitted —
    // duplicates allowed, Delta's documented semantics)
    got.clear()
    val q4 = drainInto(spark.readStream.format("txlog")
      .option("ignoreChanges", "true").load(d2))
    q4.awaitTermination()
    val rows = got.asScala.toSet
    assert(rows.contains((5L, "e")) &&
      rows.exists(_._1 == 2L)) // survivor of the rewritten file
    // metadata-only partition delete under ignoreDeletes: silent
    val d3 = java.nio.file.Files.createTempDirectory("txlog-src3-")
      .toString
    TxTable.commitAppend(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"),
      d3, partitionBy = Seq("lang"))
    TxTable.commitDelete(spark, d3, col("lang") === "de")
    TxTable.commitAppend(Seq((3L, "fr")).toDF("id", "lang"), d3,
      partitionBy = Seq("lang"))
    val n3 = s"txsrc3_${System.nanoTime()}"
    val q5 = spark.readStream.format("txlog")
      .option("startingVersion", "1") // tail-only: skip the snapshot
      .option("ignoreDeletes", "true").load(d3)
      .writeStream.format("memory").queryName(n3)
      .outputMode("append")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("txlog-src3-ckpt-").toString)
      .trigger(Trigger.AvailableNow()).start()
    q5.awaitTermination()
    assert(spark.table(n3).collect().map(_.getLong(0)).toSet == Set(3L))
    // maxVersionsPerTrigger: commits arrive in bounded batches
    val d4 = java.nio.file.Files.createTempDirectory("txlog-src4-")
      .toString
    (1L to 6L).foreach(i =>
      TxTable.commitAppend(Seq((i, s"v$i")).toDF("id", "s"), d4))
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    // default trigger + processAllAvailable: the V1 source's
    // admission control caps each planned batch
    val q6 = spark.readStream.format("txlog")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "2").load(d4)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(df.count()); ()
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("txlog-src4-ckpt-").toString)
      .start()
    q6.processAllAvailable()
    q6.stop()
    val sizes = batches.asScala.toSeq
    assert(sizes.sum == 6L && sizes.forall(_ <= 2L),
      s"rate cap violated: $sizes")
    ()
  }

  test("restart honors maxVersionsPerTrigger from the committed offset") {
    import scala.jdk.CollectionConverters._
    // a fresh source instance starts with lastEnd = -1; before the
    // SupportsAdmissionControl fix the first post-restart batch either
    // drained the whole backlog uncapped (no startingVersion) or
    // stalled behind the committed offset (startingVersion set) — the
    // committed offset Spark passes to latestOffset is the only
    // restart-safe admission base
    def run(d: String, ckpt: String, opts: Map[String, String],
        sink: java.util.List[Long]): Unit = {
      val q = opts.foldLeft(spark.readStream.format("txlog")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(d).writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = df.count(); if (n > 0) sink.add(n); ()
        }
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    // variant A: no startingVersion (initial snapshot, then tail)
    val dA = java.nio.file.Files.createTempDirectory("txlog-src5-")
      .toString
    (1L to 2L).foreach(i =>
      TxTable.commitAppend(Seq((i, s"v$i")).toDF("id", "s"), dA))
    val ckptA = java.nio.file.Files
      .createTempDirectory("txlog-src5-ckpt-").toString
    val bA = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    run(dA, ckptA, Map("maxVersionsPerTrigger" -> "2"), bA)
    val snapshotBatches = bA.asScala.toVector // the one-batch snapshot
    (3L to 8L).foreach(i =>
      TxTable.commitAppend(Seq((i, s"v$i")).toDF("id", "s"), dA))
    run(dA, ckptA, Map("maxVersionsPerTrigger" -> "2"), bA)
    val tailA = bA.asScala.toVector.drop(snapshotBatches.size)
    assert(tailA.sum == 6L && tailA.forall(_ <= 2L),
      s"post-restart cap violated: $tailA")
    // variant B: startingVersion set — pre-fix the admission base
    // regressed to startingVersion and the stream STALLED (latest
    // offset <= committed), leaving the backlog unprocessed
    val dB = java.nio.file.Files.createTempDirectory("txlog-src6-")
      .toString
    (1L to 2L).foreach(i =>
      TxTable.commitAppend(Seq((i, s"v$i")).toDF("id", "s"), dB))
    val ckptB = java.nio.file.Files
      .createTempDirectory("txlog-src6-ckpt-").toString
    val bB = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    val optsB = Map("startingVersion" -> "0",
      "maxVersionsPerTrigger" -> "2")
    run(dB, ckptB, optsB, bB)
    (3L to 8L).foreach(i =>
      TxTable.commitAppend(Seq((i, s"v$i")).toDF("id", "s"), dB))
    run(dB, ckptB, optsB, bB)
    val sizesB = bB.asScala.toVector
    assert(sizesB.sum == 8L && sizesB.forall(_ <= 2L),
      s"restart with startingVersion mishandled: $sizesB")
    ()
  }

  test("AvailableNow drains up to the version pinned at start, in capped batches") {
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    // without SupportsTriggerAvailableNow Spark ran ONE all-available
    // batch (ignoring maxVersionsPerTrigger) and logged a fallback warning
    def drain(format: String, d: String, ckpt: String, opts: Map[String, String])
        : Seq[Seq[Long]] = {
      val batches = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Seq[Long]]())
      val q = opts.foldLeft(spark.readStream.format(format)) {
        case (r, (k, v)) => r.option(k, v)
      }.load(d).writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches.add(df.select("id").as[Long].collect().toSeq.sorted)
          // a commit made during the drain is left for the next one
          if (id == 0) TxTable.commitAppend(Seq((99L, "late")).toDF("id", "s"), d)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      batches.asScala.toSeq
    }
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def table(): String = {
      val d = tmp("txlog-an-")
      (1L to 6L).foreach(i => TxTable.commitAppend(Seq((i, s"v$i")).toDF("id", "s"), d))
      d
    }
    val d = table()
    val ckpt = tmp("txlog-an-ckpt-")
    val opts = Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "2")
    assert(drain("txlog", d, ckpt, opts) ==
      Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L)))
    assert(drain("txlog", d, ckpt, opts) == Seq(Seq(99L)))
    // the change feed: one batch up to the pinned version
    val dc = table()
    val cdf = drain("txlog-cdf", dc, tmp("txlog-an-cdf-ckpt-"), Map.empty)
    assert(cdf == Seq((1L to 6L).toSeq), cdf)
  }

  test("ANSI constraint DDL: ADD/DROP CONSTRAINT, IF EXISTS, #constraints view") {
    val tmp = java.nio.file.Files.createTempDirectory("txlog-cons-")
      .toString + "/t"
    spark.sql(s"CREATE TABLE txlog.`$tmp` AS SELECT * FROM VALUES " +
      "(1, 'en'), (2, 'de') AS t(id, lang)")
    spark.sql(s"ALTER TABLE txlog.`$tmp` ADD CONSTRAINT lang_len " +
      "CHECK (length(lang) <= 3)")
    // registry visible via the #constraints virtual table
    val reg = spark.sql(s"SELECT name, expr FROM txlog.`$tmp#constraints`")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(reg.map(_._1).toSeq == Seq("lang_len"), reg.mkString(","))
    assert(reg.head._2.toLowerCase.contains("length"))
    // enforcement through the SQL insert path: rejected WHOLE
    val pre = TxTable.currentVersion(tmp)
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO txlog.`$tmp` VALUES (3, 'lengthy')"))
    def hit(t: Throwable): Boolean = t != null &&
      (String.valueOf(t.getMessage).contains("lang_len") || hit(t.getCause))
    assert(hit(e), s"wrong rejection: $e")
    assert(TxTable.currentVersion(tmp) == pre, "no partial commit")
    // adding a constraint existing data violates is rejected
    def hit2(t: Throwable): Boolean = t != null &&
      (String.valueOf(t.getMessage).toLowerCase.contains("violate") ||
        hit2(t.getCause))
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE txlog.`$tmp` ADD CONSTRAINT bad CHECK (id > 1)"))
    assert(hit2(e2), s"existing-data violation not caught: $e2")
    // DROP of an unknown name fails; IF EXISTS is silent
    intercept[Exception](spark.sql(
      s"ALTER TABLE txlog.`$tmp` DROP CONSTRAINT nope"))
    spark.sql(s"ALTER TABLE txlog.`$tmp` DROP CONSTRAINT IF EXISTS nope")
    // DROP lifts the guard; the formerly-rejected row lands
    spark.sql(s"ALTER TABLE txlog.`$tmp` DROP CONSTRAINT lang_len")
    assert(spark.sql(s"SELECT * FROM txlog.`$tmp#constraints`")
      .count() == 0)
    spark.sql(s"INSERT INTO txlog.`$tmp` VALUES (3, 'lengthy')")
    assert(TxTable.snapshot(spark, tmp).count() == 3)
    ()
  }

  test("TIMESTAMP AS OF resolves through monotone in-commit timestamps") {
    val d2 = java.nio.file.Files.createTempDirectory("txlog-ts-")
      .toString
    val saved = TxTable.clock
    try {
      var now = 1700000000000L // deterministic epoch millis
      TxTable.clock = () => now
      TxTable.commitAppend(Seq(1L).toDF("id"), d2) // v1 @ t0
      now += 60000
      TxTable.commitAppend(Seq(2L).toDF("id"), d2) // v2 @ t0+60s
      now += 60000
      TxTable.commitDelete(spark, d2, col("id") === 1L) // v3 @ t0+120s
      // operator resolution: greatest version at-or-before
      assert(TxTable.versionAt(d2, 1700000000000L) == 1)
      assert(TxTable.versionAt(d2, 1700000059999L) == 1)
      assert(TxTable.versionAt(d2, 1700000060000L) == 2)
      assert(TxTable.versionAt(d2, now + 1) == 3)
      intercept[IllegalArgumentException] {
        TxTable.versionAt(d2, 1699999999999L)
      }
      // SQL surface (UTC session; Spark hands micros to the catalog)
      def sqlLit(ms: Long) = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      def idsAt(ms: Long) = spark.sql(
          s"SELECT id FROM txlog.`$d2` TIMESTAMP AS OF '${sqlLit(ms)}'")
        .collect().map(_.getLong(0)).toSet
      assert(idsAt(1700000000000L) == Set(1L))
      assert(idsAt(1700000060000L) == Set(1L, 2L))
      assert(idsAt(now) == Set(2L))
      // concurrent-writer clock skew: a LATER commit with an EARLIER
      // wall clock still gets a STRICTLY LATER in-commit timestamp,
      // so version order == timestamp order always
      now -= 3600000
      TxTable.commitAppend(Seq(3L).toDF("id"), d2) // v4, skewed clock
      assert(TxTable.commitTimestamp(d2, 4) >
        TxTable.commitTimestamp(d2, 3))
      assert(TxTable.versionAt(d2, TxTable.commitTimestamp(d2, 4)) == 4)
    } finally TxTable.clock = saved
  }

  test("SQL scan of a table with in-force deletion vectors (TxSnapshotScan)") {
    val d2 = java.nio.file.Files.createTempDirectory("txlog-dvscan-")
      .toString
    TxTable.commitAppend((1L to 10L).map(i => (i, s"s$i"))
      .toDF("id", "s").repartition(3), d2) // v1
    TxTable.commitDeleteDV(spark, d2, col("id") % 3 === 0) // v2
    assert(TxTable.dvRefsAt(d2).nonEmpty, "fixture needs a live DV")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val live = Set(1L, 2L, 4L, 5L, 7L, 8L, 10L)
    // head scan applies the DV anti-join; deleted rows never resurrect
    assert(ids(spark.sql(s"SELECT * FROM txlog.`$d2`")) == live)
    // predicates apply on top of the anti-join
    assert(ids(spark.sql(
      s"SELECT id FROM txlog.`$d2` WHERE id > 4")) ==
      Set(5L, 7L, 8L, 10L))
    // time travel: v1 (no DV yet — raw parquet path) and v2 (DV'd)
    assert(ids(spark.sql(
      s"SELECT * FROM txlog.`$d2` VERSION AS OF 1")) == (1L to 10L).toSet)
    assert(ids(spark.sql(
      s"SELECT * FROM txlog.`$d2` VERSION AS OF 2")) == live)
    // format("txlog") reads route the same way
    assert(ids(spark.read.format("txlog").load(d2)) == live)
    assert(ids(spark.read.format("txlog").option("versionAsOf", 1)
      .load(d2)) == (1L to 10L).toSet)
    // self-join of the DV'd relation (DeduplicateRelations must cope
    // with two rewritten instances)
    val selfJoin = spark.sql(
      s"SELECT a.id FROM txlog.`$d2` a JOIN txlog.`$d2` b " +
        "ON a.id = b.id + 1")
    assert(ids(selfJoin) == Set(2L, 5L, 8L))
    // aggregation through the rewritten scan
    assert(spark.sql(s"SELECT count(*) AS n FROM txlog.`$d2`")
      .collect().head.getLong(0) == live.size.toLong)
    // DML still routes through the commit protocol on a DV'd table
    spark.sql(s"DELETE FROM txlog.`$d2` WHERE id = 10")
    assert(ids(spark.sql(s"SELECT * FROM txlog.`$d2`")) == live - 10L)
    // INSERT INTO a DV'd table lands through the protocol too
    spark.sql(s"INSERT INTO txlog.`$d2` VALUES (11, 'k')")
    assert(ids(spark.sql(s"SELECT * FROM txlog.`$d2`")) ==
      live - 10L + 11L)
    ()
  }

  test("SQL scan of a column-mapped table serves logical names (TxSnapshotScan)") {
    val d2 = java.nio.file.Files.createTempDirectory("txlog-cmscan-")
      .toString
    TxTable.commitAppend(Seq((1L, "a", "en"), (2L, "b", "de"))
      .toDF("id", "s", "lang"), d2) // v1
    TxTable.renameColumn(spark, d2, "s", "body") // v2
    // head SQL read: logical names, correct values
    val head = spark.sql(
      s"SELECT id, body FROM txlog.`$d2` ORDER BY id")
    assert(head.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a"), (2L, "b")))
    // VERSION AS OF 1: pre-mapping, OLD names via the raw path
    assert(spark.sql(s"SELECT s FROM txlog.`$d2` VERSION AS OF 1")
      .collect().map(_.getString(0)).toSet == Set("a", "b"))
    // VERSION AS OF 2 resolves the mapping for the pinned version
    assert(spark.sql(s"SELECT body FROM txlog.`$d2` VERSION AS OF 2")
      .collect().map(_.getString(0)).toSet == Set("a", "b"))
    // mapped + DV'd stacks: a DV delete on the mapped table
    TxTable.commitDeleteDV(spark, d2, col("lang") === "de") // v3
    assert(spark.sql(s"SELECT id, body FROM txlog.`$d2`")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a")))
    // DML under LOGICAL names on the mapped table
    spark.sql(s"UPDATE txlog.`$d2` SET body = 'z' WHERE id = 1")
    assert(spark.sql(s"SELECT body FROM txlog.`$d2` WHERE id = 1")
      .collect().head.getString(0) == "z")
    // INSERT under logical names
    spark.sql(s"INSERT INTO txlog.`$d2` VALUES (3, 'c', 'fr')")
    assert(spark.sql(s"SELECT count(*) AS n FROM txlog.`$d2`")
      .collect().head.getLong(0) == 2L)
    // CTAS FROM the mapped table (read position inside a write plan)
    val t3 = java.nio.file.Files.createTempDirectory("txlog-cmscan3-")
      .toString + "/t"
    spark.sql(s"CREATE TABLE txlog.`$t3` AS " +
      s"SELECT id, body FROM txlog.`$d2` WHERE id <= 3")
    assert(spark.sql(s"SELECT count(*) AS n FROM txlog.`$t3`")
      .collect().head.getLong(0) == 2L)
    ()
  }

  test("ALTER TABLE ADD COLUMN is a metadata-only commit") {
    val d2 = java.nio.file.Files.createTempDirectory("txlog-addcol-")
      .toString
    TxTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), d2)
    val files1 = TxTable.liveFiles(d2).toSet
    spark.sql(s"ALTER TABLE txlog.`$d2` ADD COLUMN q BIGINT")
    // metadata only: no bytes moved, one non-dataChange commit
    assert(TxTable.liveFiles(d2).toSet == files1,
      "ADD COLUMN must move zero bytes")
    assert(TxTable.currentVersion(d2) == 2)
    assert(TxTable.historyFull(d2).find(_._1 == 2).exists(!_._4),
      "ADD COLUMN must be dataChange=false")
    // reads synthesize typed NULLs until a file carries the column
    val head = spark.sql(s"SELECT id, s, q FROM txlog.`$d2` ORDER BY id")
    assert(head.schema("q").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(head.collect().forall(_.isNullAt(2)))
    // time travel: the pre-add version has no such column
    assert(!spark.sql(s"SELECT * FROM txlog.`$d2` VERSION AS OF 1")
      .columns.contains("q"))
    // an insert materializes it; older rows stay NULL
    spark.sql(s"INSERT INTO txlog.`$d2` VALUES (3, 'c', 30)")
    val rows = spark.sql(
        s"SELECT id, q FROM txlog.`$d2` ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(rows.toSeq == Seq((1L, -1L), (2L, -1L), (3L, 30L)))
    // predicates on the added column work both pre- and post-material
    assert(spark.sql(s"SELECT id FROM txlog.`$d2` WHERE q > 10")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // the added column composes with RENAME (still metadata-only)
    spark.sql(s"ALTER TABLE txlog.`$d2` RENAME COLUMN q TO score")
    assert(spark.sql(s"SELECT score FROM txlog.`$d2` WHERE id = 3")
      .collect().head.getLong(0) == 30L)
    // duplicate / NOT NULL / positioned adds are rejected loudly
    intercept[Exception](spark.sql(
      s"ALTER TABLE txlog.`$d2` ADD COLUMN id STRING"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE txlog.`$d2` ADD COLUMN nn BIGINT NOT NULL"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE txlog.`$d2` ADD COLUMN f BIGINT FIRST"))
    // created-but-empty tables extend their declared-schema marker
    val t4 = java.nio.file.Files.createTempDirectory("txlog-addcol4-")
      .toString + "/t"
    spark.sql(s"CREATE TABLE txlog.`$t4` (id BIGINT)")
    spark.sql(s"ALTER TABLE txlog.`$t4` ADD COLUMN tag STRING")
    spark.sql(s"INSERT INTO txlog.`$t4` VALUES (1, 'x')")
    assert(spark.sql(s"SELECT tag FROM txlog.`$t4`")
      .collect().head.getString(0) == "x")
    ()
  }

  test("DROP CONSTRAINT resolves the stored name case-insensitively") {
    val tmp = java.nio.file.Files.createTempDirectory("txlog-consci-")
      .toString + "/t"
    spark.sql(s"CREATE TABLE txlog.`$tmp` AS SELECT * FROM VALUES " +
      "(1, 'en') AS t(id, lang)")
    spark.sql(s"ALTER TABLE txlog.`$tmp` ADD CONSTRAINT Lang_Known " +
      "CHECK (lang IN ('en', 'de'))")
    // drop under DIFFERENT casing must actually lift the guard —
    // pre-fix it reported success but the registry kept enforcing
    spark.sql(s"ALTER TABLE txlog.`$tmp` DROP CONSTRAINT lang_known")
    assert(TxTable.checkConstraints(tmp).isEmpty,
      "constraint must be gone from the registry")
    spark.sql(s"INSERT INTO txlog.`$tmp` VALUES (2, 'xx')")
    assert(spark.sql(s"SELECT count(*) AS n FROM txlog.`$tmp`")
      .collect().head.getLong(0) == 2L)
    ()
  }
}
