package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Scratch, Tables}
import graft.functions.VectorFunctions.cosineSim
import graft.operators.{AsOfJoin, Bpe, Dedup, EventAnalytics, IntervalJoin, Layout, Packing, Sampling, Scd2, Similarity, TextOps}

/** North-star analytics inventory (SURVEY.md §2.3 Q24–Q27 plus the
  * training-data-pipeline operator suite): dedup, similarity search,
  * text analysis. Same conventions as [[CoreQueries]] — total ORDER BY,
  * ROUND(…, 4) on floating outputs, identical column names in the
  * DuckDB oracles.
  *
  * Queries whose outputs depend on engine-internal hash functions
  * (xxhash64-based MinHash / SimHash / LSH / IVF) cannot be recomputed
  * in DuckDB SQL; they are pinned by golden parquet
  * ([[graft.MakeGolden]]) that the oracle reads back, and their
  * semantics are certified by ScalaTest recall/equivalence specs.
  */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Symmetrize the (c, su) trade-pair relation to (src, dst) both
    * ways in ONE pass — explode of a two-element struct array instead
    * of a self-union: the union form computes the pair build (the
    * orders⋈lineitem join + distinct) once per branch (exchange reuse
    * dedupes only the distinct's shuffle, not the aggregate above it).
    * Row multiset identical to the union form.
    */
  private def symBoth(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("c").as("src"), col("su").as("dst")),
        struct(col("su").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** The (k, u, v) rows of the lineitem self-join: parts u and v
    * bought in order k, for the part pairs `keep(u, v)` admits.
    */
  private def coOrderJoin(li: DataFrame,
      keep: (Column, Column) => Column): DataFrame = {
    val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("u"))
    val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("v"))
    a.join(b, Seq("k")).filter(keep(col("u"), col("v")))
  }

  /** The co-purchase graph: distinct (u, v) part pairs bought in one
    * order. The default u ≠ v is the symmetric graph of the relaxation
    * queries; u < v is its undirected edge list.
    */
  private def coOrderPairs(li: DataFrame,
      keep: (Column, Column) => Column = _ =!= _): DataFrame =
    coOrderJoin(li, keep).select(col("u"), col("v")).distinct()

  /** The repeat-co-purchase graph: (u, v) part pairs, u < v, that share
    * at least two distinct orders.
    */
  private def repeatCoOrderPairs(li: DataFrame): DataFrame =
    coOrderJoin(li, _ < _).distinct()
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2).select(col("u"), col("v"))

  /** The (node, dd) rows `node` reaches on the symmetric co-order graph
    * in `iterations` relaxation rounds. The oracles seed `node` only
    * when it is in the graph; a seed with an edge reaches a neighbour
    * in round 1, so a lone reached row is an isolated seed and yields
    * nothing.
    */
  private def reachedFrom(s: SparkSession, edges: DataFrame, node: Long,
      iterations: Int, weighted: Boolean): DataFrame =
    graft.operators.Relax
      .rounds(edges, s.range(1).select(lit(node).as("node"), lit(0L).as("dd")),
        iterations, weighted)
      .filter(col("dd") =!= Long.MaxValue)
      .withColumn("_n", count(lit(1)).over()).filter(col("_n") > 1).drop("_n")

  /** The least `u` of an edge list as a relaxation seed row (none when
    * the list is empty).
    */
  private def leastSeed(edges: DataFrame): DataFrame =
    edges.agg(min(col("u")).as("node")).filter(col("node").isNotNull)
      .select(col("node"), lit(0L).as("dd"))

  /** Synthetic media table per sf dir, generated once per JVM and kept
    * persisted: the PNG/WAV/AVI byte ASSEMBLY is test-fixture input
    * fabrication (a real pipeline reads existing media bytes), so it
    * must not be re-paid on every run of the decode/feature queries —
    * q66/q73 time the decode operators, not ImageIO encoding. Same
    * pattern as StreamingQueries' sentinel fixture ([[Scratch.once]]).
    */
  private def syntheticMedia(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.once("media", dir) { tmp =>
      graft.multimodal.Multimodal.syntheticMedia(
          graft.engine.Par.widen(Tables(s, dir, "documents")))
        .write.mode("overwrite").parquet(tmp)
    }
    // disk-backed (not Spark-cached) on purpose: timed queries see only
    // decode cost over page-cache-warm parquet — the production shape
    // (a real pipeline reads existing media bytes) — and a host harness
    // clearing the Spark cache between queries cannot evict it
    s.read.parquet(out)
  }

  /** Near-dup image fixture per sf dir (q271): disk-backed for the
    * same reasons as [[syntheticMedia]] — PNG encoding is fixture
    * fabrication, not the hash/join under test.
    */
  private def nearDupImages(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.once("nearimg", dir) { tmp =>
      graft.multimodal.Multimodal.syntheticNearDupImages(
          graft.engine.Par.widen(Tables(s, dir, "documents")))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(out)
  }

  /** One PNG FILE per doc id (q277's binaryFile-source fixture),
    * written once per JVM by a distributed mapPartitions pass (local
    * FS — single machine; a cluster would target shared storage).
    */
  private def pngFileDir(s: SparkSession, dir: String): String =
    Scratch.once("pngdir", dir) { tmp =>
      import s.implicits._
      graft.engine.Par.widen(Tables(s, dir, "documents"))
        .select(col("doc_id")).as[Long]
        .foreachPartition { (it: Iterator[Long]) =>
          it.foreach { id =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$tmp/$id.png"),
              graft.multimodal.Multimodal.syntheticPng(id))
          }
        }
    }

  /** WebDataset tar shards per sf dir (q279): 50 samples per shard,
    * each sample a `<id>.txt` ("doc-<id>") + `<id>.png`
    * ([[graft.multimodal.Multimodal.syntheticPng]]) member pair —
    * written once per JVM, one tar per shard, by executors.
    */
  private def wdsShardDir(s: SparkSession, dir: String): String =
    Scratch.once("wds", dir) { tmp =>
      graft.engine.Par.widen(Tables(s, dir, "documents"))
        .select((col("doc_id") / 50).cast("long").as("shard"), col("doc_id"))
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .foreach { row =>
          val shard = row.getLong(0)
          val entries = row.getSeq[Long](1).flatMap { id =>
            Seq((s"$id.txt", s"doc-$id".getBytes("UTF-8")),
              (s"$id.png", graft.multimodal.Multimodal.syntheticPng(id)))
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$tmp/shard-$shard%05d.tar"),
            graft.sources.WebDataset.writeTar(entries))
          ()
        }
    }

  /** WARC shard drop per sf dir (q298): documents rendered as ISO
    * 28500 `.warc` / `.warc.gz` shards (odd shards gzipped, so both
    * codec paths are exercised), target URI carrying lang + doc_id,
    * payload = raw text bytes. Written once per JVM.
    */
  private[queries] def warcShardDir(s: SparkSession, dir: String): String =
    Scratch.once("warc", dir) { tmp =>
      graft.engine.Par.widen(Tables(s, dir, "documents"))
        .select((col("doc_id") / 50).cast("long").as("shard"),
          col("doc_id"), col("lang"), col("text"))
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("lang"),
          col("text")))).as("docs"))
        .foreach { row =>
          val shard = row.getLong(0)
          val entries = row.getSeq[org.apache.spark.sql.Row](1).map { r =>
            ("response", s"http://ex/${r.getString(1)}/${r.getLong(0)}",
              r.getString(2).getBytes("UTF-8"))
          }
          val bytes = graft.sources.Warc.write(entries)
          val (name, payload) =
            if (shard % 2 == 1) (f"shard-$shard%05d.warc.gz",
              graft.sources.Warc.gzip(bytes))
            else (f"shard-$shard%05d.warc", bytes)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$tmp/$name"), payload)
          ()
        }
    }

  /** Gzip-compressed JSONL drop per sf dir (q280): events rendered as
    * `.json.gz` part files — the CommonCrawl-style ingest format.
    * Written once per JVM; the query times the codec+parse read path,
    * not the fixture write.
    */
  private def gzJsonDir(s: SparkSession, dir: String): String =
    Scratch.once("gzjson", dir) { tmp =>
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        .repartition(4)
        .write.mode("overwrite").option("compression", "gzip").json(tmp)
    }

  /** Scene-cut video fixture per sf dir (q278), disk-backed like the
    * other media fixtures.
    */
  private def sceneVideos(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.once("scenes", dir) { tmp =>
      graft.multimodal.Multimodal.syntheticSceneVideos(
          graft.engine.Par.widen(Tables(s, dir, "documents")))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(out)
  }

  /** Near-dup video fixture per sf dir (q363) — AVI fabrication is
    * fixture work, same disk-backed discipline as the scene videos.
    */
  private def nearDupVideos(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.once("nearavi", dir) { tmp =>
      graft.multimodal.Multimodal.syntheticNearDupVideos(
          graft.engine.Par.widen(Tables(s, dir, "documents")))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(out)
  }

  /** Near-dup audio fixture per sf dir (q273) — WAV encoding is
    * fixture fabrication, same disk-backed discipline.
    */
  private def nearDupAudio(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.once("nearwav", dir) { tmp =>
      graft.multimodal.Multimodal.syntheticNearDupAudio(
          graft.engine.Par.widen(Tables(s, dir, "documents")))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(out)
  }

  /** IVF index per sf dir, trained and WRITTEN once per JVM, searches
    * served from the read-back parquet artifact — q38 exercises the
    * production train-once/search-many path, not a per-query retrain
    * (k-means is the expensive part of IVF).
    */
  private def ivfIndexFor(s: SparkSession, dir: String): Similarity.IvfIndex = {
    val out = Scratch.once("ivf", dir) { tmp =>
      Similarity.ivfIndex(t(s, dir, "embeddings"), "vec_id", "embedding")
        .write(tmp)
    }
    Similarity.ivfIndexRead(s, out)
  }

  /** Incrementally-grown IVF index per sf dir: trained on the even
    * vec_ids, the odd half APPENDED under the frozen centroids — the
    * q198 living-index artifact, built once per JVM.
    */
  private def ivfAppendIndexFor(s: SparkSession,
      dir: String): Similarity.IvfIndex = {
    val out = Scratch.once("ivfapp", dir) { tmp =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding").write(tmp)
      Similarity.ivfAppend(s, tmp, e.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding")
    }
    Similarity.ivfIndexRead(s, out)
  }

  /** Graph-ANN artifact (q374): bounded-degree neighbor graph +
    * broadcast entry layer ([[graft.operators.GraphAnn]]), trained and
    * WRITTEN once per JVM, searches served from the read-back parquet
    * — the same persisted-artifact contract as the IVF/PQ indexes.
    */
  private def graphAnnIndexFor(s: SparkSession,
      dir: String): graft.operators.GraphAnn.GraphIndex = {
    val out = Scratch.once("gann", dir) { tmp =>
      graft.operators.GraphAnn.graphIndex(t(s, dir, "embeddings"),
        "vec_id", "embedding").write(tmp)
    }
    graft.operators.GraphAnn.read(s, out)
  }

  /** RAG-ingest index (q373): token-window chunks → deterministic
    * synthetic chunk embeddings → persisted IVF artifact grown by
    * [[Similarity.ivfAppend]] — the chunk→embed→index loop as ONE
    * composition. `chunk_id = doc_id * 100000 + chunk_idx` keeps
    * provenance recoverable from the index alone (the lineage the
    * oracle recomputes). Built once per JVM per sf dir. The synthetic
    * embedding is a pure function of the chunk TEXT (md5 nibbles),
    * so the artifact is reproducible across runs and scales — the
    * image/audio-style decode stub pattern: the Spark-side plumbing
    * is real, the featurizer is deterministic.
    */
  private def ragChunks(s: SparkSession, dir: String): DataFrame = {
    val emb = array((0 until 8).map(i =>
      (expr(s"conv(substring(md5(chunk_text), ${i * 4 + 1}, 4), 16, 10)")
        .cast("double") / 65535.0).cast("float")): _*)
    graft.operators.TextOps.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text",
        maxTokens = 64, overlap = 16)
      .select((col("doc_id") * 100000L + col("chunk_idx"))
          .as("chunk_id"),
        col("doc_id"), col("chunk_idx"), emb.as("emb"))
  }
  private def ragIndexFor(s: SparkSession,
      dir: String): Similarity.IvfIndex = {
    val out = Scratch.once("ragidx", dir) { tmp =>
      val chunks = ragChunks(s, dir)
      // train on even docs, APPEND odd docs under frozen centroids —
      // the living-index ingest loop, O(delta) per increment
      Similarity.ivfIndex(chunks.filter(col("doc_id") % 2 === 0),
        "chunk_id", "emb").write(tmp)
      Similarity.ivfAppend(s, tmp,
        chunks.filter(col("doc_id") % 2 =!= 0), "chunk_id", "emb")
    }
    Similarity.ivfIndexRead(s, out)
  }

  /** PQ index per sf dir — trained and WRITTEN once per JVM, searches
    * served from the read-back parquet artifact (the same
    * train-once/search-many contract as q38's IVF index; k-means over
    * m subspaces is the expensive part of PQ).
    */
  private def pqIndexFor(s: SparkSession, dir: String): Similarity.PqIndex = {
    val out = Scratch.once("pq", dir) { tmp =>
      Similarity.pqIndex(t(s, dir, "embeddings"), "vec_id", "embedding")
        .write(tmp)
    }
    Similarity.pqIndexRead(s, out)
  }

  /** IVF-PQ index per sf dir — trained and WRITTEN once per JVM
    * (coarse k-means + residual PQ are the expensive part; a
    * production service trains once and serves every batch).
    */
  private def ivfPqIndexFor(s: SparkSession, dir: String): Similarity.IvfPqIndex = {
    val out = Scratch.once("ivfpq", dir) { tmp =>
      Similarity.ivfPqIndex(t(s, dir, "embeddings"), "vec_id", "embedding")
        .write(tmp)
    }
    Similarity.ivfPqIndexRead(s, out)
  }

  /** PCA components per sf dir — trained once per JVM. The artifact is
    * a pure deterministic function of the data (exact integer Gram,
    * fixed-order Jacobi), so q169's golden pin and q170's projection
    * always see the same table.
    */
  private def pcaComponentsFor(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.once("pca", dir) { tmp =>
      graft.operators.Projection
        .pcaComponents(t(s, dir, "embeddings"), "embedding", r = 8)
        .write.mode("overwrite").parquet(tmp)
    }
    // disk-backed like the IVF/PQ index artifacts: train once per JVM,
    // serve from the written model — survives any Spark-cache clear
    s.read.parquet(out)
  }

  private val stop = Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")

  /** q85's merged SCD2 dimension (unordered): first-half events seed
    * one open row per user, second-half events are the update delta.
    * Shared by q85 (the maintenance output) and q242 (the
    * point-in-time lookup against it).
    */
  private def scd2Dim(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(col("user_id"),
      col("event_type").as("seg"),
      unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
      col("event_id"))
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    val firstHalf = ev.filter(col("sec") < unix_timestamp(cut))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val dim = firstHalf
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("seg"), col("sec").as("valid_from"),
        lit(null).cast("long").as("valid_to"))
    val updates = ev.filter(col("sec") >= unix_timestamp(cut))
      .select(col("user_id"), col("seg"), col("sec"))
    Scd2.merge(dim, updates, "user_id", "seg", "sec")
  }

  val queries: Map[String, Q] = Map(
    // Q24 — exact dedup, distinct-based form (SURVEY Q24)
    "q24_dedup_distinct" -> ((s, d) => t(s, d, "documents")
      .select(col("text"), col("lang")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .orderBy("lang")),

    // Q24b — exact dedup, keep-lowest-id form (operators.Dedup.exact)
    "q24_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .orderBy("keep_id")),

    // Q26 — vector similarity pairs (label-blocked, cos_sim threshold)
    "q26_vec_sim" -> ((s, d) => {
      import graft.functions.VectorFunctions.{cosineFromNorms, dot, normSq}
      val e = t(s, d, "embeddings")
      val a = e.select(col("vec_id").as("vec_id"), col("label"),
        col("embedding").as("ea"), normSq(col("embedding")).as("na"))
      val b = e.select(col("vec_id").as("nn"), col("label"),
        col("embedding").as("eb"), normSq(col("embedding")).as("nb"))
      a.join(b, Seq("label"))
        .filter(col("vec_id") < col("nn"))
        .filter(cosineFromNorms(dot(col("ea"), col("eb")),
          col("na"), col("nb")) > 0.35)
        .select(col("vec_id"), col("nn"))
        .orderBy("vec_id", "nn")
    }),

    // Q27 — corpus word count, top 20
    "q27_wordcount" -> ((s, d) =>
      TextOps.wordCounts(t(s, d, "documents"), "text")
        .orderBy(col("c").desc, col("word")).limit(20)),

    // exact heavy hitters WITHOUT shuffling the distinct token domain:
    // Misra-Gries candidates (bounded map-side summaries, merge-order-
    // proof guarantee) + exact recount of the ≤199 broadcast candidates.
    // The oracle is the plain HAVING query — approximation assists the
    // PLAN, never the answer
    "q131_heavy_hitters" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      graft.operators.HeavyHitters.exactOverThreshold(tok, "w", 0.005)
        .orderBy("key")
    }),

    // n-gram (trigram) Jaccard near-dup pairs — exact inverted-index
    // plan WITH the production posting-list cut (maxDocFreq=5): a
    // stopword-like shingle can otherwise explode candidate pairs at
    // corpus scale, so the declared query exercises the bounded plan
    "q28_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5, maxDocFreq = 5)
        .orderBy("a", "b")),

    // same relation family as q28 at a HIGH threshold, declared through
    // threshold-driven plan selection: t=0.8 is above the measured
    // crossover, so this runs the PPJoin prefix-filter + codegen
    // merge-intersect path — the plan that wins where it is used
    // (jaccardAuto picks the inverted index below the crossover)
    "q28b_jaccard_prefix" -> ((s, d) =>
      Dedup.jaccardAuto(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("a", "b")),

    // MinHash+LSH near-dup candidates (golden-parquet oracle: xxhash64-based)
    "q29_minhash" -> ((s, d) =>
      Dedup.minHashPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy("a", "b")),

    // SimHash fingerprints (golden-parquet oracle: xxhash64-based)
    "q30_simhash" -> ((s, d) =>
      Dedup.simHash(t(s, d, "documents"), "doc_id", "text")
        .orderBy("id")),

    // SimHash near-dup pairs: band-blocked Hamming join, full recall
    // (golden-parquet oracle: xxhash64-based)
    "q48_simhash_pairs" -> ((s, d) =>
      Dedup.simHashPairs(t(s, d, "documents"), "doc_id", "text",
          maxHamming = 3)
        .orderBy("a", "b")),

    // embedding near-dup pairs, LSH-bucket blocked — no label column
    // needed (golden-parquet oracle: engine-defined hyperplanes)
    "q49_embed_pairs_lsh" -> ((s, d) =>
      Dedup.embeddingPairsLsh(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.35)
        .orderBy("a", "b")),

    // text quality features
    "q31_quality" -> ((s, d) =>
      TextOps.qualityFeatures(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // heuristic language ID
    "q32_langid" -> ((s, d) =>
      TextOps.langId(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // document fingerprints (md5 + rolling hash; xxhash64 column kept
    // engine-side only)
    "q33_fingerprint" -> ((s, d) =>
      TextOps.fingerprints(t(s, d, "documents"), "doc_id", "text")
        .select("doc_id", "md5_fp", "roll_fp")
        .orderBy("doc_id")),

    // BPE-ish token counting
    "q34_tokens" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        size(TextOps.regexTokens(col("text"))).cast("bigint").as("n_tokens"))
      .orderBy("doc_id")),

    // repetition quality signals (Gopher-style dup-word/dup-bigram)
    "q45_repetition" -> ((s, d) =>
      TextOps.repetitionFeatures(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // PII-ish pattern counts (emails / urls / long digit runs)
    "q46_pii" -> ((s, d) =>
      TextOps.piiFeatures(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // brute-force cosine top-k (exact ANN baseline; ids+rank only so the
    // hash does not depend on float rounding)
    "q35_topk_sim" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // FILTERED vector search: top-k among candidates satisfying a
    // metadata predicate (same label) — the retrieval+filter shape a
    // production vector store serves ("nearest docs in MY tenant").
    // The filter IS the join key, so the corpus shuffles by label once
    // and scoring runs per label partition — at 100 TB the corpus
    // would be stored label-partitioned and the scan prunes to the
    // query's labels (the q190 zone-map / q175 DPP machinery)
    "q199_filtered_ann" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        col("embedding").as("qv"), col("label").as("lbl"))
      val c = e.select(col("vec_id").as("cid"),
        col("embedding").as("cv"), col("label").as("lbl"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      q.join(c, Seq("lbl")).filter(col("qid") =!= col("cid"))
        .withColumn("sim", graft.functions.VectorFunctions.cosineSim(
          col("qv"), col("cv")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // matryoshka / prefix-dimension search: candidates ranked on the
    // FIRST 16 of 64 dims (4× less vector bandwidth on the corpus
    // scan — the MRL-embedding trick, same bandwidth family as
    // int8/PQ), exact full-dim re-rank of k·overfetch. Both stages are
    // plain float arithmetic, so the DuckDB oracle re-executes the
    // whole two-stage plan — no golden pin
    "q202_mrl_prefix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, d, "embeddings")
      val pre = (c: org.apache.spark.sql.Column) => slice(c, 1, 16)
      val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val wc = Window.partitionBy(col("qid"))
        .orderBy(col("psim").desc, col("cid"))
      val cands = q.join(c, col("qid") =!= col("cid"))
        .withColumn("psim", graft.functions.VectorFunctions.cosineSim(
          pre(col("qv")), pre(col("cv"))))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= 12) // k=3 · overfetch=4
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      cands
        .withColumn("sim", graft.functions.VectorFunctions.cosineSim(
          col("qv"), col("cv")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // binary-quantization ANN: sign-bit codes (8 B/vector — 32x less
    // candidate-stage bandwidth than float32·64d), Hamming popcount cut,
    // exact cosine re-rank. Both stages are deterministic plain
    // arithmetic (bit i = embedding[i] >= 0; ties break on cid), so the
    // DuckDB oracle re-executes the whole two-stage plan — no golden pin
    "q210_binary_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.binaryTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 3)
        .orderBy("qid", "rn")
    }),

    // the binary-quantization ANN expressed in PURE SQL through the
    // registered extension functions (sign_bits + built-in bit_count +
    // cos_sim) — the proof that a SQL-only user runs the exact q210
    // plan, codegen kernels included, with no Column API
    "q236_sql_ann" -> ((s, d) => {
      t(s, d, "embeddings").createOrReplaceTempView("q236_emb")
      s.sql("""
        WITH c AS (SELECT vec_id AS cid, embedding AS cv,
                     sign_bits(embedding) AS cb FROM q236_emb),
        q AS (SELECT vec_id AS qid, embedding AS qv,
                sign_bits(embedding) AS qb FROM q236_emb WHERE vec_id < 10),
        cand AS (SELECT qid, cid, qv, cv,
                   ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY bit_count(qb ^ cb) ASC, cid) AS crn
                 FROM q JOIN c ON qid <> cid)
        SELECT qid, cid, rn FROM (
          SELECT qid, cid,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_sim(qv, cv) DESC, cid) AS rn
          FROM cand WHERE crn <= 12) t
        WHERE rn <= 3 ORDER BY qid, rn""")
    }),

    // entity resolution act 2 (q189's pairs put to work): JW match →
    // connected components → canonical record per entity group (min
    // id) with member count — the match-cluster-canonicalize pipeline
    // of a master-data system; components run over pairs only, the
    // record body never shuffles through the clustering
    "q208_entity_groups" -> ((s, d) => {
      val names = t(s, d, "part").groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("p_partkey"))
      val pairs = graft.operators.Linkage.jaroWinklerPairs(
        names, "p_partkey", "p_name", threshold = 0.88)
      graft.operators.Components.connectedComponents(pairs, "a", "b")
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("canonical"))
        .select(col("comp"), col("n_members"), col("canonical"))
        .orderBy("comp")
    }),

    // the retrieval EVAL harness as a distributed query: recall@3 and
    // MRR of the prefix-dim search (q202) against exact brute force
    // (q35's relation) — at production scale "how good is my ANN
    // index" is itself a big-data join, and both sides here are
    // SQL-expressible so the oracle re-executes the whole evaluation
    "q207_retrieval_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val exact = queries("q35_topk_sim")(s, d)
        .select(col("qid"), col("cid"))
      val approx = queries("q202_mrl_prefix")(s, d)
      val hits = approx.join(exact, Seq("qid", "cid"), "left_semi")
      val perQ = approx.select(col("qid")).distinct()
        .join(hits.groupBy(col("qid"))
            .agg(count(lit(1)).as("nhit"), min(col("rn")).as("first_rn")),
          Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("nhit"), lit(0L)).as("nhit"),
          coalesce(lit(1.0) / col("first_rn"), lit(0.0)).as("rr"))
      perQ.agg(
          round(avg(col("nhit") / lit(3.0)), 4).as("recall_at_3"),
          round(avg(col("rr")), 4).as("mrr"),
          count(lit(1)).as("n_queries"))
    }),

    // LSH-bucketed approximate top-k (golden-parquet oracle; recall
    // certified in ScalaTest vs q35)
    "q36_lsh_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // sequence packing: documents -> fixed-token-budget training shards
    // (offset-chunking; manifest = docs+tokens per bin)
    "q44_packing" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(TextOps.regexTokens(col("text"))).cast("bigint").as("n_tokens"))
      Packing.binManifest(
          Packing.byTokenOffset(docs, "doc_id", "n_tokens", budget = 2048),
          "n_tokens")
        .orderBy("bin")
    }),

    // deterministic 80/10/10 train/val/test split (pure function of the
    // row key — reproducible across engines/partitionings)
    "q43_split" -> ((s, d) =>
      Sampling.deterministicSplit(t(s, d, "documents"), "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("c"))
        .orderBy("split", "lang")),

    // unkeyed interval join (bucketed equi-join plan, no BNLJ): for
    // each early purchase, count error events across ALL users within
    // the following 10 minutes
    "q41_interval" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("sec", unix_timestamp(date_trunc("second", col("ts"))))
      val purchases = ev.filter(col("event_type") === "purchase" &&
          col("event_id") < 500)
        .select(col("event_id").as("p_id"), col("sec").as("p_start"),
          (col("sec") + 600).as("p_end"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("sec").as("e_sec"))
      IntervalJoin.pointInInterval(errors, purchases,
          "e_sec", "p_start", "p_end", bucketWidthSec = 600)
        .groupBy(col("p_id"))
        .agg(count(lit(1)).as("n_errors"))
        .orderBy("p_id")
    }),

    // IVF (kmeans-bucketed) approximate top-k (golden-parquet oracle;
    // recall certified in ScalaTest vs q35). Deliberately runs through
    // the PERSISTED index path: k-means trains once per (JVM, sf dir),
    // the index is written to parquet, and the query batch searches the
    // read-back artifact — the production train-once/search-many ANN
    // shape. Same golden oracle as the inline ivfTopK (parquet
    // round-trips the float vectors exactly).
    "q38_ivf_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfSearch(ivfIndexFor(s, d),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // graph-based ANN (HNSW-lite): seeded best-first beam search over
    // the persisted bounded-degree neighbor graph — per-query cost
    // rides beam*degree*hops, never corpus size. Golden-pinned
    // (k-means + hash defined); recall >= 0.9@10 vs brute and the
    // written==in-memory equality are certified in GraphAnnSpec
    "q374_graph_ann" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      graft.operators.GraphAnn.graphSearch(graphAnnIndexFor(s, d),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // incremental IVF maintenance: train on the even half, APPEND the
    // odd half under the frozen centroids (one broadcast pass, O(delta)
    // — never a retrain), then serve searches from the grown artifact.
    // The production ingest loop for a living ANN index
    "q198_ivf_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfSearch(ivfAppendIndexFor(s, d),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // chunk → embed → index, end to end (the RAG ingest loop):
    // provenance must survive INTO the artifact — the output is the
    // per-document lineage recomputed FROM THE INDEX POSTINGS ALONE
    // (decode doc_id/chunk_idx from chunk_id), which the oracle
    // replays from the raw documents via the q366 chunker; a
    // retrieval smoke against the built index guards servability
    "q373_rag_ingest" -> ((s, d) => {
      val idx = ragIndexFor(s, d)
      // retrieval smoke: three known chunk vectors must come back
      // with in-range similarities from a real probe-limited search
      val probes = ragChunks(s, d).filter(col("doc_id") <= 3)
        .limit(3).select(col("chunk_id"), col("emb"))
      val hits = Similarity.ivfSearch(idx, probes, "chunk_id", "emb",
        k = 3).collect()
      require(hits.nonEmpty, "retrieval smoke returned nothing")
      require(hits.forall(r =>
        r.getDouble(r.fieldIndex("sim")) <= 1.0001 &&
          r.getDouble(r.fieldIndex("sim")) >= -1.0001),
        "cosine out of range against the rag index")
      idx.postings
        .select(expr("cid DIV 100000").as("doc_id"),
          expr("cid % 100000").as("chunk_idx"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          max(col("chunk_idx")).cast("long").as("max_chunk_idx"))
        .orderBy("doc_id")
    }),

    // ANN deletions without a rebuild: the persisted IVF index served
    // through a tombstone mask (postings anti-join a broadcast delete
    // set pre-scoring) — deleted vectors can never surface, next-best
    // candidates take their ranks, zero index writes. Golden-pinned
    // (k-means-defined), no-tombstone-leak + full-probe equality
    // certified in SimilaritySpec
    "q221_ann_tombstones" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val masked = Similarity.withTombstones(ivfIndexFor(s, d),
        e.filter(col("vec_id") % 7 === 0), "vec_id")
      Similarity.ivfSearch(masked,
          e.filter(col("vec_id") < 10 && col("vec_id") % 7 =!= 0),
          "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // end-to-end curation pipeline (quality gates -> exact dedup ->
    // MinHash near-dup removal -> langid): per-language survivor counts
    // and token totals — the whole composed path through one oracle
    "q47_curation" -> ((s, d) =>
      graft.operators.CurationPipeline
        .curate(t(s, d, "documents"), "doc_id", "text")
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("c"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy("pred_lang")),

    // eval-set decontamination: flag training docs sharing >= 30% of
    // their trigrams with the (broadcast) eval corpus — here eval =
    // every 97th doc, train = the rest
    "q51_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val eval = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      graft.operators.Dedup.decontaminate(train, eval, "doc_id", "text",
          n = 3, maxOverlapFrac = 0.3)
        .select(col("doc_id"), col("overlap_frac"),
          col("contaminated").cast("int").cast("bigint").as("contaminated"))
        .orderBy("doc_id")
    }),

    // duplicate-cluster assignment: connected components over the
    // label-blocked embedding near-dup pair graph (q26's edges)
    "q52_components" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val pairs = Dedup.embeddingPairs(e, "vec_id", "embedding",
        blockCol = "label", threshold = 0.35)
      graft.operators.Components.connectedComponents(pairs, "a", "b")
        .orderBy("id")
    }),

    // incremental components: the q52 clustering MAINTAINED as edges
    // arrive — prior labels collapse each known component to a star,
    // delta edges fold in, and the result must be IDENTICAL to the
    // full recompute (the oracle recomputes from scratch over all
    // pairs). Completes the incremental family (minhash/simhash/IVF/
    // PCA/fingerprint) for the graph side
    "q234_components_incremental" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val pairs = Dedup.embeddingPairs(e, "vec_id", "embedding",
        blockCol = "label", threshold = 0.35)
      val base = pairs.filter(col("b") % 5 =!= 0)
      val delta = pairs.filter(col("b") % 5 === 0)
      val prior = graft.operators.Components
        .connectedComponents(base, "a", "b")
      graft.operators.Components.incremental(prior, delta, "a", "b")
        .orderBy("id")
    }),

    // PageRank over the customer↔supplier trade graph (symmetrized so
    // every node has out-edges): 5 fixed-point power iterations — all
    // arithmetic is BIGINT micro-units, so the ranks are bit-identical
    // under any partitioning AND expressible as an unrolled 5-CTE SQL
    // oracle in DuckDB (no golden pin needed for an iterative graph op)
    "q125_pagerank" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + lit(1000000000L)).as("su"))
        .distinct()
      val edges = symBoth(pairs)
      graft.operators.PageRank.run(edges, iterations = 5)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
        .select(col("node"), col("r").as("rank"))
    }),

    // sf1-gate twin of q125 (round-14 task 3): the SAME PageRank
    // operator and exact integer arithmetic, on a 1/16-subsampled
    // bipartite graph at 3 iterations — small enough that the DuckDB
    // unrolled-CTE oracle is practical at 6M-row scale, so the graph
    // family's cross-engine check no longer stops at sf0.1
    "q375_pagerank_twin" -> ((s, d) => {
      val o = t(s, d, "orders")
        .filter(col("o_orderkey") % 16 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + lit(1000000000L)).as("su"))
        .distinct()
      val edges = symBoth(pairs)
      graft.operators.PageRank.run(edges, iterations = 3)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
        .select(col("node"), col("r").as("rank"))
    }),

    // sf1-gate twin of q140: the same frontier-relaxation BFS, 2 hops
    // from the subgraph's lowest part node, on the 1/16-subsampled
    // co-order part graph — per-distance node counts + an id checksum
    "q376_bfs_twin" -> ((s, d) => {
      // the edge build is read twice (seed, adjacency): pinned once
      val e0 = coOrderPairs(t(s, d, "lineitem")
        .filter(col("l_orderkey") % 16 === 0)).persist()
      val dist = graft.operators.Relax
        .rounds(e0, leastSeed(e0), iterations = 2, weighted = false)
      e0.unpersist()
      dist.filter(col("dd") =!= Long.MaxValue)
        .groupBy(col("dd").as("dist"))
        .agg(count(lit(1)).as("n_nodes"),
          expr("bit_xor(node)").as("node_xor"))
        .orderBy("dist")
    }),

    // sf1-gate twin of q132 (round-15 task 4): the SAME degree-ordered
    // triangle count on the 1/16-subsampled co-order part graph —
    // small enough that the exact wedge-join replay is practical in
    // DuckDB at 6M rows
    "q380_triangles_twin" -> ((s, d) =>
      graft.operators.Triangles.count(coOrderPairs(t(s, d, "lineitem")
        .filter(col("l_orderkey") % 16 === 0), _ < _))),

    // sf1-gate twin of q143: the same peel operator, k=3 at 2 rounds,
    // on the 1/16-subsampled co-order graph. q143's weight-≥2 edge
    // filter is DROPPED here — the subsample already thins the graph,
    // and keeping it left ZERO surviving core nodes at every driver
    // scale (a 0-row twin certifies nothing); all distinct co-order
    // pairs keep the peel non-trivial while the 2 unrolled rounds
    // keep the DuckDB replay inside the sf1 budget
    "q381_kcore_twin" -> ((s, d) => {
      val und = coOrderPairs(t(s, d, "lineitem")
        .filter(col("l_orderkey") % 16 === 0), _ < _)
      // single-pass symmetrize (the symBoth pattern): the self-union
      // form re-evaluated the co-order distinct once per branch
      val edges = und.select(explode(array(
          struct(col("u").as("src"), col("v").as("dst")),
          struct(col("v").as("src"), col("u").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.KCore.peel(edges, k = 3, rounds = 2)
        .orderBy("node")
    }),

    // sf1-gate twin of q179: the same frontier relaxation at 2 rounds,
    // seeded at the subgraph's LOWEST node (q376's seed rule — the
    // fixed node 1 need not survive the subsample)
    "q382_sssp_twin" -> ((s, d) => {
      // the edge build is read twice (seed, adjacency): pinned once
      val e0 = coOrderPairs(t(s, d, "lineitem")
          .filter(col("l_orderkey") % 16 === 0))
        .withColumn("w", pmod(col("u") + col("v"), lit(97L)) + lit(1L))
        .persist()
      val dist = graft.operators.Relax
        .rounds(e0, leastSeed(e0), iterations = 2, weighted = true)
      e0.unpersist()
      dist.filter(col("dd") =!= Long.MaxValue)
        .orderBy(col("dd"), col("node")).limit(25)
    }),

    // sf1-gate twin of q341 (round-15 task 4): the SAME winnowing
    // match + components closure on a 1/16-subsampled corpus —
    // per-doc fingerprints are corpus-independent, so the oracle
    // simply FILTERS the existing q338 golden pin; the ~256×-smaller
    // pair join makes the recursive closure DuckDB-practical at sf1
    "q384_winnow_groups_twin" -> ((s, d) => {
      val fp = graft.operators.Winnow
        .fingerprints(t(s, d, "documents")
          .filter(col("doc_id") % 32 <= 1), "doc_id", "text",
          k = 8, t = 32).cache()
      val edges = graft.operators.Winnow.matchesSigs(fp, fp)
        .filter(col("a") < col("b")).select(col("a"), col("b"))
      val out = graft.operators.Components
        .connectedComponents(edges, "a", "b")
        .orderBy("id")
      out
    }),

    // sf1-gate twin of q334: the full near-dup MERGE protocol (index
    // bootstrap, replay no-op, second batch against the index) on the
    // 1/16-subsampled corpus (ids ≡ 0,1 mod 32 keep both parities);
    // MinHash signatures are per-doc, so the oracle replays the merge
    // from the FILTERED q333 pin — inside the sf1 DuckDB budget where
    // the full replay (3.2M-row self-join) provably is not
    "q385_neardup_merge_twin" -> ((s, d) =>
      graft.operators.TxTable.snapshot(s, nearDupMergeTwinDir(s, d))
        .select(col("doc_id")).orderBy("doc_id")),

    // sf1-gate twin of q261/q263's LPA: 2 synchronous rounds on the
    // 1/16-subsampled bipartite graph — all-integer label updates, so
    // the community sizes replay engine-independently
    "q383_lpa_twin" -> ((s, d) => {
      val o = t(s, d, "orders")
        .filter(col("o_orderkey") % 16 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + lit(1000000000L)).as("su"))
        .distinct()
      val edges = symBoth(pairs)
      graft.operators.Lpa.run(edges, iterations = 2)
        .groupBy(col("community")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("community")).limit(20)
    }),

    // metadata-only aggregate: COUNT/MIN/MAX answered from parquet
    // FOOTER statistics under aggregatePushdown (PushedAggregation in
    // the scan, plan-pinned) — at 100 TB this is the difference between
    // reading row-group stats and reading the table. Executed eagerly
    // under the conf toggle (the conf must hold at planning time), then
    // surfaced as a one-row relation — the bounded driver-scalar
    // pattern of Packing's totals
    "q232_meta_agg" -> ((s, d) => {
      import s.implicits._
      // aggregate pushdown is a DataSource V2 feature: parquet must
      // leave the default useV1SourceList for PushedAggregation to plan
      val keys = Seq("spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> "")
      val olds = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      val r =
        try s.read.parquet(s"$d/orders.parquet")
          .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey")))
          .collect().head
        finally olds.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      Seq((r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("n_rows", "min_key", "max_key")
    }),

    // tokenizer fertility per language: tokens-per-word and
    // chars-per-token in exact ppm — the cross-language cost read that
    // says which corpora inflate a token budget; one combinable rollup
    "q233_fertility" -> ((s, d) =>
      t(s, d, "documents").select(col("lang"),
          size(TextOps.words(col("text"))).cast("bigint").as("w"),
          size(TextOps.regexTokens(col("text"))).cast("bigint").as("tk"),
          length(col("text")).cast("bigint").as("ch"))
        .groupBy(col("lang"))
        .agg(sum(col("w")).as("n_words"), sum(col("tk")).as("n_tokens"),
          sum(col("ch")).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
          expr("n_tokens * 1000000 div n_words").as("fertility_ppm"),
          expr("n_chars * 1000000 div n_tokens").as("chars_per_token_ppm"))
        .orderBy("lang")),

    // top behavioral trigrams: each user's consecutive 3-step event
    // chains (two lags over the user-keyed window) ranked by frequency
    // — the path-mining read behind "what do users do next"; extends
    // q133's bigram transitions one step deeper
    "q230_trigram_paths" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("path"))
        .limit(20)
    }),

    // quality-score calibration: the q61 classifier's score bucketed
    // into fixed deciles, per bucket the doc count and keep rate in
    // exact ppm — the reliability read that says whether the 0.5 keep
    // threshold sits where the mass is; value-defined buckets, so ties
    // are engine-independent
    "q231_score_calibration" -> ((s, d) =>
      TextOps.qualityScore(t(s, d, "documents"), "doc_id", "text")
        .select(floor(least(col("score"), lit(0.9999)) * 10)
          .cast("bigint").as("decile"), col("keep"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"))
        .select(col("decile"), col("n_docs"), col("n_keep"),
          expr("n_keep * 1000000 div n_docs").as("keep_ppm"))
        .orderBy("decile")),

    // vocabulary coverage / OOV audit: top-20 corpus vocabulary (count
    // desc, token tiebreak — a TakeOrdered, never a full sort), then
    // each language's out-of-vocabulary token rate in exact ppm — the
    // "will my tokenizer cover this corpus" gate before a training run
    "q228_vocab_coverage" -> ((s, d) => {
      val toks = t(s, d, "documents").select(col("lang"),
        explode(TextOps.regexTokens(col("text"))).as("w"))
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(20)
        .select(col("w"), lit(1L).as("_in"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
        .orderBy("lang")
    }),

    // inference length-bucketing: docs assigned to a fixed power-of-two
    // token-length ladder (the batching shape that bounds padding
    // waste); per bucket — docs, real tokens, padding, waste in exact
    // ppm. Pure per-row arithmetic + one combinable agg
    "q229_length_buckets" -> ((s, d) => {
      val docs = t(s, d, "documents").select(
        size(TextOps.regexTokens(col("text"))).cast("bigint").as("n"))
      val b = when(col("n") <= 16, 16L).when(col("n") <= 32, 32L)
        .when(col("n") <= 64, 64L).when(col("n") <= 128, 128L)
        .when(col("n") <= 256, 256L).when(col("n") <= 512, 512L)
        .when(col("n") <= 1024, 1024L).when(col("n") <= 2048, 2048L)
        .when(col("n") <= 4096, 4096L).otherwise(col("n"))
      docs.withColumn("bucket", b)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
          sum(col("bucket") - col("n")).as("n_padding"))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          col("n_padding"),
          expr("n_padding * 1000000 div (n_tokens + n_padding)")
            .as("waste_ppm"))
        .orderBy("bucket")
    }),

    // skew advisor: the key-distribution profile run before committing
    // a big join plan — total/distinct/hottest-key counts, hot-key row
    // share in exact ppm, and the salt factor a salted join (q107's
    // operator) would need; all integer arithmetic, one (key, count)
    // rollup — the table never shuffles wider than that
    "q220_skew_advisor" -> ((s, d) =>
      graft.operators.SkewJoin.skewAdvisor(t(s, d, "events"), "user_id")),

    // telemetry repeat-throttle: an event is KEPT when it's the first
    // of its (user, type) or >= 300 s after the previous one — the
    // rapid-repeat suppression a collection pipeline runs before
    // sessionization; one lag over the (user, type)-keyed window,
    // deterministic under the (sec, event_id) order
    "q217_throttle" -> ((s, d) =>
      EventAnalytics.throttle(
          t(s, d, "events")
            .select(col("event_id"), col("user_id"), col("event_type"),
              unix_timestamp(date_trunc("second", col("ts"))).as("sec")),
          "user_id", "event_type", "sec", "event_id", minGapSec = 300)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
        .orderBy("event_type")),

    // degree assortativity of the trade graph (Newman r): Pearson
    // correlation of endpoint degrees over the symmetrized edge list —
    // do high-degree customers trade with high-degree suppliers?
    // All sufficient statistics are exact BIGINT sums (aggregation-order
    // independent); only the final scalar formula runs in double, so the
    // oracle re-executes bit-identically. Two broadcast-or-shuffle joins
    // of (edge, degree) and one combinable agg — single pass at scale
    "q214_assortativity" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + lit(1000000000L)).as("su"))
        .distinct()
      val edges = symBoth(pairs)
      graft.operators.GraphStats.assortativity(edges, "src", "dst")
    }),

    // PageRank WITH dangling-mass redistribution, over the DIRECTED
    // customer→supplier trade graph: every supplier is a sink, so about
    // half the graph's rank parks on dangling nodes each round — the
    // redistribution term (sink mass div N to every node) runs in the
    // same BIGINT fixed point as q125, so the 5 iterations remain
    // expressible as an unrolled CTE oracle with one extra scalar
    // subquery per round
    "q141_pagerank_dangling" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000000L)).as("dst"))
        .distinct()
      graft.operators.PageRank.runDangling(edges, iterations = 5)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
        .select(col("node"), col("r").as("rank"))
    }),

    // personalized PageRank (random walk with restart) from the lowest
    // customer node on the symmetrized trade graph: all teleport mass
    // returns to the source, so ranks are proximity-to-source scores —
    // the related-item / graph-similarity primitive. Same fixed-point
    // BIGINT contract as q125: the CTE oracle adds one CASE term.
    // The source id is one bounded scalar lookup (the maxLen/Bloom-
    // sizing driver-scalar pattern), not a data collect.
    "q142_ppr" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + lit(1000000000L)).as("su"))
        .distinct()
      // the source scalar: min(c) over the DISTINCT pair relation ==
      // min o_custkey among orders with >=1 lineitem — MIN is invariant
      // to the distinct, so the lookup action rides a left-semi join
      // instead of re-paying the full pair build + distinct (r16)
      val src = o.join(l.select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .agg(min(col("o_custkey"))).head().getLong(0)
      val edges = symBoth(pairs)
      graft.operators.PageRank.personalized(edges, src, iterations = 5)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
        .select(col("node"), col("r").as("rank"))
    }),

    // k-core peeling (k=3, 4 fixed rounds) over the REPEAT-co-purchase
    // graph (parts sharing >= 2 distinct orders): the standard graph-
    // density filter for community cores. The fixed round count keeps
    // the iterative peel a pure function of the input — the same
    // declared-iteration contract as q125/q140 — so it unrolls to a
    // CTE oracle; survivors carry their residual in-core degree
    "q143_kcore" -> ((s, d) => {
      val und = repeatCoOrderPairs(t(s, d, "lineitem"))
      // single-pass symmetrize (the symBoth pattern): the self-union
      // form re-evaluated the repeat-co-purchase build once per branch
      val edges = und.select(explode(array(
          struct(col("u").as("src"), col("v").as("dst")),
          struct(col("v").as("src"), col("u").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.KCore.peel(edges, k = 3, rounds = 4)
        .orderBy("node")
    }),

    // peak concurrent sessions per calendar day (capacity planning):
    // q25's 30-min sessions, split at midnight so the sweep-line runs
    // per-day-partitioned instead of one global sort
    "q145_concurrency" -> ((s, d) =>
      graft.operators.EventAnalytics.peakConcurrency(
          t(s, d, "events"), "user_id", "ts", gapSeconds = 1800)
        .withColumn("day", col("day").cast("string"))
        .orderBy("day")),

    // per-event trailing EWMA (alpha = 1/2, 16-event horizon) of the
    // user's value stream: weights are powers of two over micro-unit
    // BIGINTs, so numerator and denominator are exact integers and the
    // result is their truncating integer division, still in micro-
    // units — smoothing with NO float hazard anywhere (a ROUND of the
    // double quotient was observed to disagree between engines by 1
    // ulp-of-round exactly once in 100k rows at sf0.1 — fixed point is
    // the contract for a reason). One shuffle (the per-user window
    // sort); the 16 lags run in one window pass
    "q146_ewma" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      val base = t(s, d, "events").select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts_s"),
        expr("CAST(round(value * 1000000, 0) AS BIGINT)").as("vm"))
      val lagCols = (0 until 16).map { j =>
        (if (j == 0) col("vm") else lag(col("vm"), j).over(w)).as(s"l$j")
      }
      val lagged = base.select(col("event_id") +: lagCols: _*)
      val num = (0 until 16)
        .map(j => coalesce(col(s"l$j"), lit(0L)) * lit(1L << (15 - j)))
        .reduce(_ + _)
      val den = (0 until 16)
        .map(j => when(col(s"l$j").isNotNull, lit(1L << (15 - j)))
          .otherwise(lit(0L)))
        .reduce(_ + _)
      lagged.withColumn("num", num).withColumn("den", den)
        .select(col("event_id"), expr("num div den").as("ewma_micro"))
        .orderBy("event_id")
    }),

    // Count-Min sketch frequency estimates beside the exact counts for
    // the exact top-20 words: the mergeable-summary answer to per-key
    // frequency over an unbounded key domain — the counter table is
    // depth x width rows no matter how many distinct keys exist, and
    // the probe side broadcasts it. Golden pin (bucket layout is
    // xxhash64-defined); overestimate-only + merge==rebuild contracts
    // certified in SketchSpec
    "q147_cms" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val cm = graft.operators.CountMin.table(tok, "w", depth = 4, width = 256)
      val top = TextOps.wordCounts(t(s, d, "documents"), "text")
        .orderBy(col("c").desc, col("word")).limit(20)
      graft.operators.CountMin
        .estimate(cm, top, "word", depth = 4, width = 256)
        .join(top, "word")
        .select(col("word"), col("c").as("exact"), col("est"))
        .orderBy(col("exact").desc, col("word"))
    }),

    // daily trending: top-5 event types per day with their rank delta
    // vs the previous day — the "what moved" dashboard query. Ranking
    // and the self-join run over the |days|x|types| AGGREGATED rollup;
    // the fact table contributes one map-side-combinable groupBy
    "q155_trending" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("day"))
        .orderBy(col("c").desc, col("event_type"))
      val ranked = daily.withColumn("rnk", rank().over(w).cast("bigint"))
      val prev = ranked.select((col("day") + expr("INTERVAL 1 DAY"))
          .cast("date").as("day"),
        col("event_type"), col("rnk").as("prev_rnk"))
      ranked.filter(col("rnk") <= 5)
        .join(prev, Seq("day", "event_type"), "left")
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("c"), col("rnk"), col("prev_rnk"),
          (col("prev_rnk") - col("rnk")).as("moved"))
        .orderBy("day", "rnk", "event_type")
    }),

    // link prediction over the repeat-co-purchase graph: common-
    // neighbor counts and Jaccard neighborhood overlap for non-adjacent
    // part pairs — the wedge join is the triangles shape (bounded here
    // by a middle-node degree cap: hubs contribute no signal and are
    // where wedge volume explodes, so suppressing them is both the
    // statistics and the scale play). Jaccard is a ratio of integers,
    // emitted in exact micro-units
    "q156_link_prediction" -> ((s, d) => {
      val und = repeatCoOrderPairs(t(s, d, "lineitem"))
      // single-pass symmetrize (the symBoth pattern): the self-union
      // form re-evaluated the repeat-co-purchase build once per branch
      val sym = und.select(explode(array(
          struct(col("u").as("src"), col("v").as("dst2")),
          struct(col("v").as("src"), col("u").as("dst2")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst2").as("dst2"))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      val mid = sym.join(deg.filter(col("dg") <= 50), "src")
      val wedges = mid.select(col("src"), col("dst2").as("na"))
        .join(mid.select(col("src"), col("dst2").as("nb")), Seq("src"))
        .filter(col("na") < col("nb"))
        .groupBy(col("na"), col("nb")).agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 2)
      val nonEdges = wedges.join(und,
          col("na") === col("u") && col("nb") === col("v"), "left_anti")
      nonEdges
        .join(deg.select(col("src").as("na"), col("dg").as("da")), "na")
        .join(deg.select(col("src").as("nb"), col("dg").as("db")), "nb")
        .select(col("na"), col("nb"), col("cn"),
          expr("(cn * 1000000) div (da + db - cn)").as("jaccard_micro"))
        .orderBy(col("cn").desc, col("na"), col("nb"))
        .limit(50)
    }),

    // equi-depth histogram boundaries (the range-partitioner planning
    // primitive: pick 31 split keys giving 32 ~equal-count ranges).
    // Runs over the key-count ROLLUP, whose prefix sums come from the
    // distributed two-pass pattern (Packing.byTokenOffset) — no global
    // window, no single-partition sort, so the rollup itself can be
    // billions of keys. Boundary membership is pure integer arithmetic
    // (i*N <= k*cum bounds), exploded per key — each key emits only
    // the split indices it crosses, almost always zero
    "q157_equidepth" -> ((s, d) => {
      val k = 32
      val rc = t(s, d, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      val pre = Packing.byTokenOffset(rc, "l_partkey", "cnt", Long.MaxValue)
        .select(col("l_partkey"), col("cnt"),
          col("token_offset").as("cum_prev"),
          (col("token_offset") + col("cnt")).as("cum"))
      val n = rc.agg(sum(col("cnt")).as("n"))
      pre.crossJoin(broadcast(n))
        .select(col("l_partkey"),
          (expr(s"($k * cum_prev) div n") + lit(1)).as("i_lo"),
          least(expr(s"($k * cum) div n"), lit(k - 1L)).as("i_hi"))
        .filter(col("i_lo") <= col("i_hi"))
        .select(col("l_partkey"),
          explode(expr("sequence(i_lo, i_hi)")).as("bucket"))
        .groupBy(col("bucket"))
        .agg(min(col("l_partkey")).as("boundary"))
        .orderBy("bucket")
    }),

    // exponentially time-decayed leaderboard (half-life = 1 day):
    // each event contributes 2^-age_days, computed in micro-units with
    // integer shifts so per-partition partial sums are exact BIGINTs —
    // the decay weight lives on the (type, age) ROLLUP (|types| x 31
    // rows), never per event. The trending counterpart of q155 that
    // doesn't forget yesterday entirely
    "q158_decayed_topk" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      val maxd = ev.agg(max(col("day")).as("maxd"))
      ev.crossJoin(broadcast(maxd))
        .select(col("event_type"),
          least(datediff(col("maxd"), col("day")), lit(30)).as("age"))
        .groupBy(col("event_type"), col("age"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(sum(expr("c * (1000000 div shiftleft(cast(1 as bigint), age))"))
            .as("decayed_micro"),
          sum(col("c")).as("total"))
        .orderBy(col("decayed_micro").desc, col("event_type"))
    }),

    // per-source corpus profile: the ingest-observability rollup a
    // crawl pipeline watches per feed — volume, exact-duplicate rate,
    // char-mass share of corpus — all exact integers over one
    // map-side-combinable groupBy (countDistinct adds the second
    // aggregate pass Spark plans via expand, still rollup-sized)
    "q165_source_profile" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prof = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          countDistinct(col("text")).as("uniq"),
          sum(col("n_chars")).as("chars"))
      val tot = prof.agg(sum(col("chars")).as("tchars"))
      prof.crossJoin(broadcast(tot))
        .select(col("source"), col("docs"), col("uniq"), col("chars"),
          expr("chars div docs").as("mean_chars"),
          expr("((docs - uniq) * 1000000) div docs").as("dup_micro"),
          expr("(chars * 1000000) div tchars").as("share_micro"))
        .orderBy("source")
    }),

    // supplier lateness ranking under small-n honesty: raw late-rates
    // rank a 2-shipment supplier with one miss (50%) above a 100-
    // shipment one with 40 misses — Laplace smoothing (late+1)/(n+2)
    // pulls thin evidence toward 50% so volume earns rank. Exact
    // integer micro-units; the lineitem->orders attach is the only
    // fact-scale join and it's on the order key
    "q166_supplier_reliability" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val lateRates = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"))
            .cast("long").as("late"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"), sum(col("late")).as("late"))
      lateRates.join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_suppkey").as("suppkey"), col("s_name"), col("n"),
          col("late"),
          expr("((late + 1) * 1000000) div (n + 2)").as("smoothed_micro"))
        .orderBy(col("smoothed_micro").desc, col("suppkey"))
        .limit(25)
    }),

    // Johnson–Lindenstrauss sign random projection (64 -> 16 dims):
    // the ±1 matrix is a pure integer formula of (i, j) — no stored
    // matrix, no RNG, no shuffle (one narrow codegen pass) — and every
    // output is an exact BIGINT the DuckDB oracle recomputes
    // independently, bit-for-bit (full cross-engine certification)
    "q167_jl_project" -> ((s, d) =>
      graft.operators.Projection.jlProject(
          t(s, d, "embeddings"), "vec_id", "embedding", outDim = 16)
        .orderBy("vec_id", "j")),

    // product-quantization ANN: ADC search over the PERSISTED codebook
    // + codes artifact (train-once/search-many, like q38's IVF) with
    // exact float re-rank of the overfetched candidates. Codes are
    // m·8 bytes per vector vs 256 bytes of float32 — the bandwidth
    // path at 100 TB. Golden-pinned (k-means); recall vs brute force
    // certified in PqSpec
    "q168_pq_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.pqSearch(pqIndexFor(s, d),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // PCA training artifact: top-8 principal components of the
    // embedding covariance as the fixed-point (comp, i, w, mu, eigval)
    // table — one distributed integer-Gram pass + a deterministic
    // driver-side Jacobi eigensolve on the d×d matrix. Golden-pinned
    // (the eigensolve is not SQL-expressible); orthonormality and
    // eigen-residual certified in ProjectionSpec
    "q169_pca_components" -> ((s, d) =>
      pcaComponentsFor(s, d).orderBy("comp", "i")),

    // incremental PCA: the (n, Σv, Σvvᵀ) sufficient statistics are
    // exact BIGINTs, so base-stats + delta-stats retrains to a model
    // BIT-IDENTICAL to the full pass — certified by pinning against
    // q169's OWN golden artifact (same rows or the compare fails);
    // base corpus never re-read, O(delta) distributed cost
    "q209_pca_incremental" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      graft.operators.Projection.pcaComponentsIncremental(
          e.filter(col("vec_id") % 3 =!= 0),
          e.filter(col("vec_id") % 3 === 0),
          "embedding", r = 8)
        .orderBy("comp", "i")
    }),

    // PCA apply under the frozen components: exact-BIGINT centered
    // projection that the DuckDB oracle RE-EXECUTES independently from
    // the pinned artifact — true cross-engine certification of the
    // projection path (the Bpe merge-table pattern), not a pin
    // read-back
    "q170_pca_project" -> ((s, d) =>
      graft.operators.Projection.pcaProject(
          t(s, d, "embeddings"), "vec_id", "embedding",
          pcaComponentsFor(s, d))
        .orderBy("vec_id", "comp")),

    // KMV (bottom-k) distinct sketch per language: bounded mergeable
    // Aggregator state (≤ 64 longs/group through every shuffle), md5-
    // based hashing so the DuckDB oracle recomputes every retained
    // value, the saturation threshold, and the (k-1)/u_k estimate
    // bit-for-bit — a fully SQL-certified approximate sketch
    "q171_kmv_distinct" -> ((s, d) =>
      graft.operators.Kmv.distinctEstimate(
          t(s, d, "documents"), "lang", "text", k = 64)
        .orderBy("lang")),

    // the SKETCH-COLUMN re-aggregation pattern: per-(type, day) KMV
    // sketches — what a warehouse persists as a sketch column — are
    // merged to per-type estimates from the STORED sketches only (the
    // raw keys are never revisited). Bottom-k of merged bottom-ks IS
    // bottom-k of the union, so the rollup is bit-identical to the
    // direct per-type sketch and the oracle recomputes it exactly
    "q235_sketch_rollup" -> ((s, d) => {
      import org.apache.spark.sql.Encoders
      val K = 64
      val agg = udaf(new graft.operators.Kmv.KmvAgg(K), Encoders.scalaLong)
      val ev = t(s, d, "events").select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        graft.operators.Kmv.hash60(concat_ws("|", col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd"))).as("h"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(agg(col("h")).as("mins"))
      val merged = daily
        .select(col("event_type"), explode(col("mins")).as("h"))
        .groupBy(col("event_type"))
        .agg(agg(col("h")).as("mins"))
      merged.select(col("event_type"),
        size(col("mins")).cast("bigint").as("n_kept"),
        when(size(col("mins")) >= K, element_at(col("mins"), K))
          .otherwise(lit(null).cast("bigint")).as("kth_hash"),
        graft.operators.Kmv.estimate(col("mins"), K).as("est"))
        .orderBy("event_type")
    }),

    // KMV theta-style SET INTERSECTION — the operation HLL cannot do:
    // per week, the overlap between the click and purchase user-day
    // sets, estimated from two 64-value sketches only (the event
    // corpora never join). At 100 TB this answers "how many users do
    // these two sources share" from kilobytes of rolled-up state
    "q172_kmv_overlap" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd")
            .as("grp"),
          col("event_type"),
          concat_ws("|", col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd")).as("k"))
      graft.operators.Kmv.intersectEstimate(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "grp", "k", k = 64)
        .orderBy("grp")
    }),

    // n-gram CONTAINMENT near-dup pairs (|A∩B| / min size): catches a
    // paragraph embedded verbatim in a larger page — the asymmetric
    // duplication mode symmetric Jaccard (q28) structurally misses.
    // Same bounded inverted-index plan, production posting cut
    "q173_containment" -> ((s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
          n = 3, threshold = 0.6, maxDocFreq = 5)
        .orderBy("a", "b")),

    // Efraimidis–Spirakis weighted sampling without replacement, 10
    // docs per language weighted by length: the deterministic
    // md5-keyed u makes the drawn sample a pure function of the data
    // — reproducible on any cluster AND recomputable by the SQL oracle
    "q174_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(t(s, d, "documents"), "lang", "doc_id",
          length(col("text")), n = 10)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy("lang", "rn")),

    // IVF-PQ ANN (FAISS IndexIVFPQ shape): coarse cells cut the scan
    // to nProbe/nCells of the corpus, residual PQ codes cut bytes per
    // scanned vector ~16x, exact re-rank restores top-k precision.
    // Served from the persisted read-back index (train-once contract).
    // Golden-pinned (k-means); recall certified in IvfPqSpec
    "q175_ivfpq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfPqSearch(ivfPqIndexFor(s, d),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // per-source novelty audit — the data-valuation read: what share
    // of each feed's distinct shingles exists NOWHERE else in the mix?
    // (A feed that mostly restates other feeds earns its storage cost
    // back as dedup fodder, not signal.) Exact integer micro-units;
    // shingles shuffle as 8-byte hashes; both aggregates map-side
    // combinable
    "q177_source_novelty" -> ((s, d) => {
      val sh = Dedup.shingles(t(s, d, "documents"), "source", "text", n = 3)
        .select(col("id").as("source"), xxhash64(col("shingle")).as("sh"))
        .distinct()
      val cnt = sh.groupBy(col("sh")).agg(count(lit(1)).as("_c"))
      sh.join(cnt, Seq("sh"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_shingles"),
          sum((col("_c") === 1).cast("long")).as("n_novel"))
        .select(col("source"), col("n_shingles"), col("n_novel"),
          expr("(n_novel * 1000000) div n_shingles").as("novelty_micro"))
        .orderBy("source")
    }),

    // full source-overlap matrix from KMV sketches: every (a, b) feed
    // pair's shingle-set intersection/Jaccard estimated from one
    // linear sketch pass — never |sources|² corpus joins. The "which
    // feeds duplicate each other" triage that decides what enters a
    // 100 TB mix; certified against the full SQL re-execution
    "q178_source_overlap" -> ((s, d) => {
      val sh = Dedup.shingles(t(s, d, "documents"), "source", "text", n = 3)
        .select(col("id").as("source"), col("shingle"))
      graft.operators.Kmv.pairwiseOverlap(sh, "source", "shingle", k = 64)
        .orderBy("a", "b")
    }),

    // weekday seasonality profile: each (event_type, ISO weekday)'s
    // traffic index vs the type's flat-week expectation, in exact
    // micro-units (observed*7*1e6 div total — integer throughout).
    // Index 1e6 = flat; the capacity-planning rhythm read. All work
    // happens on the |types|x7 rollup after one map-side-combinable
    // groupBy
    "q162_seasonality" -> ((s, d) => {
      val o = t(s, d, "events")
        .groupBy(col("event_type"), expr("weekday(ts) + 1").as("dow"))
        .agg(count(lit(1)).as("c"))
      val tot = o.groupBy(col("event_type")).agg(sum(col("c")).as("tc"))
      o.join(tot, "event_type")
        .select(col("event_type"), col("dow").cast("bigint").as("dow"),
          col("c"), expr("(c * 7 * 1000000) div tc").as("index_micro"))
        .orderBy("event_type", "dow")
    }),

    // new vs returning users per day: each user's first-seen day comes
    // from one groupBy-min (never a window over raw events); the daily
    // split is then a broadcast-joined comparison. The growth-
    // accounting counterpart of q102's cumulative curve
    "q163_new_vs_returning" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("fd"))
      ev.join(first, "user_id")
        .groupBy(col("day"))
        .agg(sum((col("day") === col("fd")).cast("long")).as("new_users"),
          sum((col("day") > col("fd")).cast("long")).as("returning_users"))
        .select(col("day").cast("date").cast("string").as("day"),
          col("new_users"), col("returning_users"))
        .orderBy("day")
    }),

    // k-anonymity / l-diversity audit over quasi-identifiers — the
    // privacy gate a dataset passes before release. Each (nation,
    // segment) equivalence class reports its size k (re-identification
    // risk = 1/k, in exact micro-units), the diversity l of a sensitive
    // attribute (distinct values of the in-debt bit), and a risk flag
    // for k < 5. One map-side-combinable groupBy over the rollup —
    // the audit costs one shuffle of |classes| rows at any scale
    "q161_kanon" -> ((s, d) => {
      t(s, d, "customer")
        .groupBy(col("c_nationkey").cast("bigint").as("nation"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("k"),
          countDistinct(col("c_acctbal") < 0).as("l_div"))
        .select(col("nation"), col("segment"), col("k"), col("l_div"),
          expr("1000000 div k").as("risk_micro"),
          (col("k") < 5).cast("int").cast("bigint").as("risky"))
        .orderBy("nation", "segment")
    }),

    // RFM customer scoring (recency / frequency / monetary quintiles).
    // The textbook formulation is ntile(5) OVER (ORDER BY metric) —
    // a GLOBAL single-partition sort, the classic scale cliff. Here
    // each metric's quintile boundaries come from the q157 machinery
    // (value rollup -> distributed prefix sum -> integer boundary
    // arithmetic), collapse to ONE broadcast row, and scores are pure
    // per-row comparisons — no global window anywhere. Ties share a
    // bucket by construction (value-defined boundaries), which is
    // engine-independent where ntile's tie-splitting is not.
    // Monetary is summed in BIGINT cents
    "q160_rfm" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey"),
        col("o_orderdate").cast("date").as("od"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val maxd = o.agg(max(col("od")).as("maxd"))
      // CACHED (r16): five consumers (three quintile-bound builds, the
      // row count, the final select) and the bound builds run through
      // Packing.byTokenOffset's RDD jobs — separate ACTIONS, so
      // ReuseExchange (which dedupes only within one physical plan)
      // never applies here and each consumer re-ran the orders
      // aggregate. In-call cache only, |customers|×4 columns; the
      // bench clears it between queries. Same reasoning as q226, the
      // opposite verdict from q263/q347 where one action's replays
      // WERE exchange-reuse-covered.
      val cust = o.crossJoin(broadcast(maxd))
        .groupBy(col("o_custkey"))
        .agg(min(datediff(col("maxd"), col("od"))).cast("bigint").as("recency"),
          count(lit(1)).as("frequency"),
          sum(col("cents")).as("monetary"))
        .cache()
      val nRow = cust.agg(count(lit(1)).as("n"))
      // quintile boundaries of one metric as a single broadcastable row
      // (b1..b4): min value whose cumulative count reaches i*N/5
      def bounds(metric: String, p: String): DataFrame = {
        val rc = cust.groupBy(col(metric).as("v")).agg(count(lit(1)).as("cnt"))
        val pre = Packing.byTokenOffset(rc, "v", "cnt", Long.MaxValue)
          .select(col("v"), col("token_offset").as("cp"),
            (col("token_offset") + col("cnt")).as("cum"))
        pre.crossJoin(broadcast(nRow))
          .select(col("v"), (expr("(5 * cp) div n") + lit(1)).as("ilo"),
            least(expr("(5 * cum) div n"), lit(4L)).as("ihi"))
          .filter(col("ilo") <= col("ihi"))
          .select(col("v"), explode(expr("sequence(ilo, ihi)")).as("i"))
          .groupBy().agg(
            max(when(col("i") === 1, col("v"))).as(p + "1"),
            max(when(col("i") === 2, col("v"))).as(p + "2"),
            max(when(col("i") === 3, col("v"))).as(p + "3"),
            max(when(col("i") === 4, col("v"))).as(p + "4"))
      }
      def asc(m: String, p: String) =
        expr(s"1 + cast($m >= ${p}1 as bigint) + cast($m >= ${p}2 as bigint)" +
          s" + cast($m >= ${p}3 as bigint) + cast($m >= ${p}4 as bigint)")
      cust
        .crossJoin(broadcast(bounds("recency", "rb")))
        .crossJoin(broadcast(bounds("frequency", "fb")))
        .crossJoin(broadcast(bounds("monetary", "mb")))
        .select(col("o_custkey"), col("recency"), col("frequency"),
          col("monetary"),
          (lit(6L) - asc("recency", "rb")).as("r_score"),
          asc("frequency", "fb").as("f_score"),
          asc("monetary", "mb").as("m_score"))
        .withColumn("rfm",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .orderBy("o_custkey")
    }),

    // position-based multi-touch attribution: every view in the 7 days
    // before a purchase shares that purchase's 1,000,000 micro-credits
    // (40/20/40 first/middles/last; 100% or 50/50 for 1-2 touches).
    // The purchase-x-view pairing is an equi-join ON USER with the time
    // window as residual predicate — per-user touch volume is bounded,
    // so this never BNLJs; per-purchase windows run over the touch set,
    // not raw events. All credits are integer micro-units: partial sums
    // are exact under any partitioning
    "q159_attribution" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("t"),
        col("event_type"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("t").as("pt"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("vid"), col("t").as("vt"))
      val touches = p.join(v, Seq("user_id"))
        .filter(col("vt") <= col("pt") &&
          col("vt") > col("pt") - lit(7L * 86400))
      val wn = Window.partitionBy(col("pid"))
      val wr = Window.partitionBy(col("pid")).orderBy(col("vt"), col("vid"))
      touches
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("rn", row_number().over(wr))
        .withColumn("credit", when(col("n") === 1, lit(1000000L))
          .when(col("n") === 2, lit(500000L))
          .when(col("rn") === 1 || col("rn") === col("n"), lit(400000L))
          .otherwise(expr("200000 div (n - 2)")))
        .groupBy(expr("vt div 86400").as("day_idx"))
        .agg(count(lit(1)).as("touches"), sum(col("credit")).as("credit_micro"))
        .orderBy("day_idx")
    }),

    // absence-pattern CEP ("purchase with no recent view" — the fraud/
    // attribution primitive): each purchase is as-of joined BACKWARD to
    // the user's latest view at-or-before it (one shuffle + one window
    // pass, no range explosion), then flagged orphan when there is no
    // view within 30 min. Absence tests need no anti-join here — the
    // as-of null IS the absence signal
    "q153_orphan_purchases" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("t"),
        col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("t")).distinct()
        .withColumn("vt", col("t"))
      AsOfJoin.backward(purchases, views, keys = Seq("user_id"),
          tsCol = "t", rightValues = Seq("vt"))
        .select(col("event_id"), col("user_id"),
          (col("t") - col("vt")).as("gap_s"),
          (col("vt").isNull || col("t") - col("vt") > 1800)
            .cast("int").cast("bigint").as("orphan"))
        .orderBy("event_id")
    }),

    // deterministic stratified sampling: 20 docs per language by a
    // Knuth multiplicative hash of the id — pseudo-random selection
    // that is a pure function of the data, reproducible across
    // engines/runs/partitionings (the property a training-subset
    // sampler must have for lineage). The per-stratum top-20 is a
    // bounded window over each partition, never a global sort
    "q154_stratified_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          expr("(doc_id * 2654435761) % 2147483647").as("h"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"), col("h"))
        .orderBy("lang", "rn")
    }),

    // funnel time-to-convert: per-transition user counts and MEDIAN
    // seconds between conversions (q74's funnel, keeping WHEN instead
    // of only how many). Deltas are whole seconds, so the interpolated
    // median is k or k+0.5 — binary-exact doubles, engine-identical
    "q152_funnel_time" -> ((s, d) =>
      graft.operators.EventAnalytics.funnelTransitions(
          t(s, d, "events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), maxGapSeconds = 7L * 86400)
        .groupBy(col("step"), col("step_name"))
        .agg(count(lit(1)).as("n_users"),
          round(expr("percentile(delta_s, 0.5)"), 4).as("median_s"))
        .orderBy("step")),

    // market-basket association rules over part co-purchases: for part
    // pairs sharing >= 3 orders, confidence = sup(a,b)/sup(a) and
    // lift = conf / (sup(b)/N_orders). The pair support is the q132
    // edge build (order-key join, never all-pairs); the support-
    // filtered pair relation is the SMALL side of the item-support
    // joins (the |parts|-row support dim must not broadcast at real
    // scale — AQE picks the build side), and the order count rides as
    // a one-row scalar. Confidence and lift are RATIOS OF INTEGERS, so
    // they are emitted as truncating micro-unit divisions — exact
    // BIGINTs, immune to the cross-engine ROUND-of-double ulp that a
    // float formulation was observed to hit at sf0.01
    "q151_assoc_rules" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("pb"))
      val pairSup = a.join(b, Seq("k")).filter(col("pa") =!= col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sup_ab"))
        .filter(col("sup_ab") >= 3)
      val itemSup = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("sup"))
      val nOrders = li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      pairSup
        .join(itemSup.select(col("l_partkey").as("pa"),
          col("sup").as("sup_a")), "pa")
        .join(itemSup.select(col("l_partkey").as("pb"),
          col("sup").as("sup_b")), "pb")
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("sup_ab"),
          expr("(sup_ab * 1000000) div sup_a").as("conf_micro"),
          expr("(sup_ab * n_orders * 1000000) div (sup_a * sup_b)")
            .as("lift_micro"))
        .orderBy(col("sup_ab").desc, col("pa"), col("pb"))
        .limit(50)
    }),

    // chi-square independence components for event_type x ISO weekday:
    // the cross-tab drift test every pipeline monitor runs. Observed/
    // expected cells are computed over the 35-row AGGREGATED rollup
    // (row/col/grand totals are broadcast scalars — the fact table
    // shuffles once for the count); each cell's (o-e)^2/e is rounded
    // to micro-units BEFORE summing, so the per-type partial sums are
    // exact BIGINTs — no float-accumulation-order hazard
    "q149_chisq" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"),
        expr("weekday(ts) + 1").as("dow"))
      val o = ev.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("o"))
      val rt = o.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
      val ct = o.groupBy(col("dow")).agg(sum(col("o")).as("c"))
      val n = o.agg(sum(col("o")).as("n"))
      o.join(rt, "event_type").join(ct, "dow").crossJoin(broadcast(n))
        .withColumn("e",
          expr("CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("cell_micro",
          expr("CAST(round((o - e) * (o - e) / e * 1000000, 0) AS BIGINT)"))
        .groupBy(col("event_type"))
        .agg(sum(col("cell_micro")).as("chi2_part_micro"),
          sum(col("o")).as("n_type"))
        .orderBy("event_type")
    }),

    // distribution drift between the first and second half-month of
    // events: per-type KL-divergence terms p*ln(p/q) — the monitoring
    // primitive for "did the mix shift". Terms are emitted per type
    // (5 rows), not summed, so every float op is a per-row closed-form
    // expression with LN+ROUND — the q139 PMI determinism precedent
    "q150_drift" -> ((s, d) => {
      val cnt = t(s, d, "events")
        .select(col("event_type"), (dayofmonth(col("ts")) <= 15).as("early"))
        .groupBy(col("event_type"), col("early"))
        .agg(count(lit(1)).as("c"))
      val a = cnt.filter(col("early"))
        .select(col("event_type"), col("c").as("ca"))
      val b = cnt.filter(!col("early"))
        .select(col("event_type"), col("c").as("cb"))
      val na = a.agg(sum(col("ca")).as("na"))
      val nb = b.agg(sum(col("cb")).as("nb"))
      val p = "CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)"
      val q = "CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)"
      a.join(b, "event_type")
        .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .select(col("event_type"),
          expr(s"round($p, 4)").as("p_early"),
          expr(s"round($q, 4)").as("p_late"),
          expr(s"round(($p) * ln(($p) / ($q)), 4)").as("kl_term"))
        .orderBy("event_type")
    }),

    // triangle count over the part co-purchase graph (parts sharing an
    // order) — degree-ordered orientation caps wedge volume at O(m^1.5)
    // regardless of hub skew; the count is exact and engine-independent
    "q132_triangles" -> ((s, d) =>
      graft.operators.Triangles.count(coOrderPairs(t(s, d, "lineitem"), _ < _))),

    // per-group top-k through the partial-aggregatable UDAF: the shuffle
    // carries |groups|*k buffered rows, not every scored row — the
    // bounded-buffer alternative to the window row_number formulation
    "q53_topk_per_group" -> ((s, d) =>
      graft.operators.TopKAggregator.topKPerGroup(
          t(s, d, "documents"), "lang", "doc_id", "n_chars", k = 3)
        .select(col("grp").as("lang"), col("id").as("doc_id"),
          col("score"), col("rn"))
        .orderBy("lang", "rn")),

    // normalized-text dedup: case/punctuation/whitespace variants of
    // the same content collapse to one canonical key before the exact
    // hash-groupBy — the rung between byte-exact dedup and MinHash
    "q54_normalized_dedup" -> ((s, d) =>
      Dedup.exact(
          t(s, d, "documents")
            .withColumn("ntext", TextOps.normalizeText(col("text"))),
          "doc_id", "ntext")
        .orderBy("keep_id")),

    // context-window chunking (32-word windows, stride 24): the long-doc
    // transform ahead of tokenize-and-pack; verified chunk-by-chunk
    "q57_chunking" -> ((s, d) =>
      TextOps.chunk(t(s, d, "documents"), "doc_id", "text",
          size = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")),

    // chunk-level retrieval (the RAG indexing shape): q57's sliding
    // chunks become the retrieval units, q55's BM25 ranks THEM — the
    // passage, not the page, is what a retrieval-augmented pipeline
    // actually indexes; composite chunk ids (doc*1000+idx) keep the
    // ranking one narrow column
    "q240_chunk_retrieval" -> ((s, d) => {
      val chunks = TextOps.chunk(t(s, d, "documents"), "doc_id", "text",
          size = 32, stride = 24)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("cid"),
          col("chunk_text"))
      TextOps.bm25Search(chunks, "cid", "chunk_text",
          terms = Seq("vector", "join", "data"), topN = 10)
        .select(expr("cid div 1000").as("doc_id"),
          pmod(col("cid"), lit(1000L)).as("chunk_idx"), col("score"))
        .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
    }),

    // embedding outliers: distance to the per-label centroid, top-3
    // farthest per label (mislabeled/noisy-vector review queue)
    "q56_centroid_outliers" -> ((s, d) =>
      Similarity.centroidOutliers(t(s, d, "embeddings"),
        "vec_id", "embedding", "label", dim = 64, topK = 3)),

    // positional phrase search ("hash join" as an exact 2-word phrase):
    // window leads over token positions, no token self-join — the
    // retrieval shape BM25's bag-of-words ranking can't express
    "q127_phrase_search" -> ((s, d) =>
      TextOps.phraseSearch(t(s, d, "documents"), "doc_id", "text",
          phrase = Seq("hash", "join"))
        .orderBy("doc_id")),

    // BM25 ranked retrieval for a fixed query bag — the corpus is never
    // shuffled by token (tf filtered to query terms pre-shuffle; N/avgdl
    // ride the plan as a broadcast one-row join)
    "q55_bm25" -> ((s, d) =>
      TextOps.bm25Search(t(s, d, "documents"), "doc_id", "text",
        terms = Seq("vector", "join", "data"), topN = 20)),

    // hybrid-retrieval fusion: BM25 ranking + term-frequency-density
    // ranking combined by reciprocal-rank fusion (1/(60+rank) summed
    // across lists) — the standard lexical+second-signal combiner.
    // Ranks come from ROUNDED scores with doc_id tiebreak, so the whole
    // three-stage plan re-executes in the DuckDB oracle
    "q211_rrf_fusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val terms = Seq("vector", "join", "data")
      val wAll = Window.orderBy(col("score").desc, col("doc_id"))
      val r1 = TextOps.bm25Search(docs, "doc_id", "text", terms, topN = 20)
        .withColumn("rank", row_number().over(wAll))
        .select(col("doc_id"), col("rank"))
      val toks = docs.select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("w"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val dens = toks.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("tf"))
        .join(dl, "doc_id")
        .select(col("doc_id"),
          round(col("tf").cast("double") / col("dl"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
      val r2 = dens.withColumn("rank", row_number().over(wAll))
        .select(col("doc_id"), col("rank"))
      TextOps.rrfFuse(Seq(r1, r2), "doc_id", topN = 10)
    }),

    // per-source token-budget curation: rank docs inside each source by
    // the frozen-weights quality score (q61's classifier), admit greedily
    // while the source's running token total stays within budget — the
    // "best N tokens per domain" selection step of a mixture build.
    // One window cumsum per source partition; nothing quadratic
    "q215_budget_select" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = TextOps.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("score"))
      val base = docs.select(col("doc_id"), col("source"),
        size(TextOps.regexTokens(col("text"))).cast("bigint").as("n_tokens"))
      Sampling.budgetSelect(base.join(scored, "doc_id"),
          "source", "doc_id", "score", "n_tokens", budget = 2500)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("tokens_kept"),
          round(min(col("score")), 4).as("min_score"))
        .orderBy("source")
    }),

    // top-3 TF-IDF terms per document (tf · ln(N/df)) — keyword/topic
    // signal; ranking on the ROUNDED score with term tiebreak
    "q60_tfidf" -> ((s, d) =>
      TextOps.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rn")),

    // deterministic logistic quality classifier (frozen weights):
    // score + keep gate, the learned-filter shape of CCNet/RefinedWeb
    "q61_quality_score" -> ((s, d) =>
      TextOps.qualityScore(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // per-event-type z-score outliers on the metric stream; moments run
    // over an exact fixed-point integer quantization so the statistic
    // is bit-identical under any aggregation order / engine
    "q62_value_outliers" -> ((s, d) =>
      graft.operators.Outliers.zscoreOutliers(t(s, d, "events"),
          "event_id", "event_type", "value", threshold = 3.0)
        .orderBy("event_id")),

    // robust (median/MAD) outliers — the heavy-tail-safe twin of q62:
    // one huge value can't inflate the scale estimate and mask the rest
    "q129_mad_outliers" -> ((s, d) =>
      graft.operators.Outliers.madOutliers(t(s, d, "events"),
          "event_id", "event_type", "value", threshold = 3.5)
        .orderBy("event_id")),

    // substring-level duplication: fraction of each doc's 5-gram spans
    // that occur in >= 2 distinct documents (Lee et al. 2022-style
    // exact-substring signal; spans shuffle as 8-byte hashes)
    "q63_dup_spans" -> ((s, d) =>
      Dedup.duplicatedSpans(t(s, d, "documents"), "doc_id", "text", n = 5)
        .orderBy("doc_id")),

    // temperature-balanced language resampling (alpha = 0.5): rarest
    // language keeps 100%, larger ones downsample toward balance;
    // md5-bucket selection is a pure function of the row key
    "q64_temperature_sample" -> ((s, d) =>
      Sampling.temperatureSample(t(s, d, "documents"), "lang", "text",
          alpha = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("total"), sum(col("keep")).as("kept"))
        .orderBy("lang")),

    // BPE tokenizer training: the frozen merge-table artifact (48
    // merges learned from the corpus word counts; deterministic
    // count-desc / pair-lexicographic tie-break). Golden-pinned — the
    // training loop is data-dependent and not SQL-expressible.
    "q34b_bpe_merges" -> ((s, d) =>
      Bpe.trainTable(t(s, d, "documents"), "text", numMerges = 48)
        .orderBy("mrank")),

    // BPE tokenizer apply under the frozen merges: per-doc token count
    // + token string. The DuckDB oracle RE-EXECUTES the apply
    // independently (recursive CTE over the pinned merge table, one
    // greedy replace pass per rank), so this is a true cross-engine
    // certification of the tokenizer, not a pin read-back.
    "q34c_bpe_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = Bpe.train(docs, "text", numMerges = 48)
        .map { case (l, r, _) => (l, r) }
      Bpe.tokenize(docs, "doc_id", "text", merges).orderBy("doc_id")
    }),

    // BPE tokens driving sequence packing end-to-end: the tokenizer's
    // counts (not the regex stand-in) feed the two-pass distributed
    // prefix sum; bin = floor(running offset / 512-token budget)
    "q71_bpe_packing" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = Bpe.train(docs, "text", numMerges = 48)
        .map { case (l, r, _) => (l, r) }
      val counted = Bpe.tokenize(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"))
      Packing.byTokenOffset(counted, "doc_id", "n_tokens", budget = 512L)
        .select(col("doc_id"), col("n_tokens"), col("token_offset"),
          col("bin"))
        .orderBy("doc_id")
    }),

    // unigram-LM scoring (the perplexity-filter shape): average
    // per-token log-probability under a corpus-trained unigram model,
    // one plan for train + apply
    "q70_unigram_logprob" -> ((s, d) =>
      TextOps.unigramLogProb(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // q51's decontamination at huge-eval-set scale: Bloom-filter
    // prefilter (distributed BloomFilterAggregate build, codegen
    // might_contain probe) + exact verify on candidates only — result
    // is row-identical to q51's plan, certified by the SAME SQL oracle
    "q69_decontam_bloom" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val eval = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      Dedup.decontaminateBloom(train, eval, "doc_id", "text",
          n = 3, maxOverlapFrac = 0.3)
        .select(col("doc_id"), col("overlap_frac"),
          col("contaminated").cast("int").cast("bigint").as("contaminated"))
        .orderBy("doc_id")
    }),

    // incremental near-dup dedup: odd-id docs arrive as the NEW batch
    // and are deduped against the signature index of the even-id
    // corpus — the index side is (id, sig) only, the corpus text is
    // never re-shingled (golden-parquet oracle: xxhash64-based)
    "q68_incremental_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val idx = Dedup.minHashIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3)
      Dedup.minHashPairsAgainst(idx, docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("a", "b")
    }),

    // incremental SimHash: odd-id batch vs the persisted even-id
    // fingerprint index (one long per doc — the cheapest dedup store);
    // full recall within the Hamming budget (golden oracle: xxhash64)
    "q72_incremental_simhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val idx = Dedup.simHash(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
      Dedup.simHashPairsAgainst(idx, docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", maxHamming = 3)
        .orderBy("a", "b")
    }),

    // span REMOVAL (the transform q63 only reports stats for): cleaned
    // text with words covered by >= 2-doc 5-gram spans dropped,
    // keep-first-occurrence (smallest doc id keeps the span)
    "q67_span_removal" -> ((s, d) =>
      Dedup.removeDuplicatedSpans(t(s, d, "documents"), "doc_id", "text",
          n = 5)
        .orderBy("doc_id")),

    // multimodal decode over the deterministic synthetic media corpus
    // (one media row per document: real PNG bytes for images, real WAV
    // bytes for audio, the marked stub for video) — golden-parquet
    // oracle pins dimensions / channels / sample rate / duration /
    // validity per media id. Decode is a narrow partition-wise
    // transform; the binary column never shuffles and is dropped from
    // the output.
    "q66_multimodal" -> ((s, d) =>
      graft.multimodal.Multimodal.decode(syntheticMedia(s, d))
        .orderBy("media_id")),

    // multimodal content features (q66's sibling for extractFeatures):
    // luminance-histogram / PCM-energy vectors over every 5th media
    // row, exploded to scalar (id, dim, value) rows for the hash
    // compare — golden-pinned (float kernels are engine-defined)
    "q73_media_features" -> ((s, d) => {
      val media = syntheticMedia(s, d).filter(col("media_id") % 5 === 0)
      graft.multimodal.Multimodal.extractFeatures(media, dim = 16)
        .select(col("media_id"), posexplode(col("embedding")))
        .select(col("media_id"), col("pos").cast("int").as("i"),
          round(col("col"), 5).as("v"))
        .orderBy("media_id", "i")
    }),

    // strictly-ordered conversion funnel view -> click -> purchase
    // within a 7-day step gap: per-step reached-user counts
    "q74_funnel" -> ((s, d) =>
      EventAnalytics.funnel(t(s, d, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          maxGapSeconds = 7L * 86400)
        .orderBy("step")),

    // per-group OLS fit (price ~ quantity): single-pass sufficient
    // statistics, map-side combinable — the distributed "fit a line per
    // segment". Determinism by design: quantity is integral and price
    // cents-valued, so all five moments are EXACT decimal sums
    // (order-proof, q62's fixed-point convention); the closed-form
    // slope/intercept/r2 arithmetic below is written as the IDENTICAL
    // double expression on both engines, so even its floating point
    // agrees bit-for-bit. (regr_slope & co exist in both engines but
    // accumulate raw double co-moments — summation-order-dependent,
    // exactly what this formulation avoids.)
    "q137_regression" -> ((s, d) => {
      // per-row arithmetic stays in BIGINT (cheap); only the sum input
      // widens to decimal so the aggregate is exact beyond 2^63
      val qx = "CAST(round(l_quantity) AS BIGINT)"
      val cy = "CAST(round(l_extendedprice * 100) AS BIGINT)"
      // shared sub-expressions, spelled IDENTICALLY in the oracle SQL
      // (same parse, same IEEE op order => bit-equal doubles)
      val covExpr = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
      val varxExpr = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
      val slopeExpr = s"$covExpr / $varxExpr"
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(expr(s"CAST($qx AS DECIMAL(18,0))")).as("sx"),
          sum(expr(s"CAST($cy AS DECIMAL(18,0))")).as("sy"),
          sum(expr(s"CAST($qx * $qx AS DECIMAL(18,0))")).as("sxx"),
          sum(expr(s"CAST($qx * $cy AS DECIMAL(18,0))")).as("sxy"),
          sum(expr(s"CAST($cy * $cy AS DECIMAL(18,0))")).as("syy"))
        .selectExpr("l_returnflag", "n",
          s"ROUND($slopeExpr / 100, 4) AS slope",
          s"ROUND((CAST(sy AS DOUBLE) - $slopeExpr * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100, 4) AS intercept",
          s"ROUND($covExpr * $covExpr / ($varxExpr * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) AS r2")
        .orderBy("l_returnflag")
    }),

    // gaps-and-islands: contiguous active-day streaks per user via the
    // day - row_number anchor trick — one distinct + one per-user
    // window, entirely exact integer/date arithmetic (no float anywhere)
    "q138_islands" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      val p = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      p.withColumn("anchor", date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("anchor"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("max_streak"))
        .orderBy("user_id")
    }),

    // PMI collocation mining (phrase discovery): adjacent-token bigrams
    // via ONE per-doc window pass (q127's lead idiom — no token
    // self-join), exact long counts for unigrams/bigrams/N, PMI =
    // ln(c_ab·N / (c_a·c_b)) computed with the IDENTICAL expression on
    // both engines. min-count floor keeps the rare-pair noise (and the
    // PMI low-count bias) out; ordering on the rounded score is the
    // deterministic cut
    "q139_pmi" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val tok = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "wd")))
        .filter(col("wd") =!= "")
      val pairs = tok.withColumn("nxt", lead(col("wd"), 1).over(w))
        .filter(col("nxt").isNotNull)
      val big = pairs.groupBy(col("wd"), col("nxt"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uni = tok.groupBy(col("wd")).agg(count(lit(1)).as("c"))
      val n = tok.agg(count(lit(1)).as("n_tok"))
      big.join(uni.select(col("wd"), col("c").as("c_a")), "wd")
        .join(uni.select(col("wd").as("nxt"), col("c").as("c_b")), "nxt")
        .crossJoin(broadcast(n))
        .selectExpr("wd AS a", "nxt AS b", "c_ab",
          "ROUND(LN(CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 4) AS pmi")
        .orderBy(col("pmi").desc, col("a"), col("b")).limit(20)
    }),

    // bounded BFS (4 hops) from hub part 1 over the co-purchase graph:
    // frontier expansion as min-distance propagation — one equi-join +
    // one min-groupBy per hop, all-integer state, which is what makes
    // an ITERATIVE traversal CTE-oracle-checkable (q125's design)
    "q140_bfs" -> ((s, d) => {
      // Relax reads the edge build once, into its own adjacency
      reachedFrom(s, coOrderPairs(t(s, d, "lineitem")), 1L,
          iterations = 4, weighted = false)
        .groupBy(col("dd")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("dd")
    }),

    // rolling 7-day distinct users (trailing WAU per day): the window-
    // DISTINCT a plain frame can't partial-aggregate. Scalable form:
    // dedup to (day, user) FIRST (the only pass over the event stream),
    // then explode each pair to the ≤7 target days it serves — a pure
    // equi plan (no range join), 7× fan-out of the already-tiny pair
    // relation, filtered to observed days by a broadcast semi join
    "q136_rolling_distinct" -> ((s, d) => {
      val p = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val days = p.select(col("day")).distinct()
        .select(col("day").as("day2"))
      p.withColumn("o", explode(sequence(lit(0), lit(6))))
        .select(date_add(col("day"), col("o")).as("day2"), col("user_id"))
        .join(broadcast(days), "day2")
        .groupBy(col("day2"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .select(date_format(col("day2"), "yyyy-MM-dd").as("day"), col("wau"))
        .orderBy("day")
    }),

    // top navigation paths: 30-min-gap sessionization (q25's exact
    // convention), then each session's first 5 event types as an
    // ordered ">" path. The ordered-path extraction is collect_list +
    // array_sort on (ts, id, type) structs — shuffle-order-proof the
    // same way q123's string_agg is; the path rollup touches
    // |sessions| rows, not events
    "q134_paths" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      val base = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_trunc("second", col("ts")).as("ts_s"))
      val sid = base
        .withColumn("prev_ts", lag(col("ts_s"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            col("ts_s") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(w))
      sid.groupBy(col("user_id"), col("sid"))
        .agg(array_join(slice(transform(
            array_sort(collect_list(struct(col("ts_s"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), 1, 5), ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(20)
    }),

    // per-document token entropy (unigram diversity — the quality
    // signal that separates natural prose from boilerplate/keyword
    // stuffing): H = ln(n) - Σ c·ln(c)/n from one token-count groupBy.
    // Determinism contract: ln runs over small positive INTEGERS only
    // (token counts), where both engines' libm agree (q70/q76
    // precedent); the Σ c·ln(c) double sum is per-document over few
    // distinct counts, then rounded — same exposure class as the
    // suite's ROUND(SUM(double)) TPC-H aggregates
    "q135_entropy" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          round(log(sum(col("c"))) -
            sum(col("c") * log(col("c"))) / sum(col("c")), 4).as("entropy"))
        .orderBy("doc_id")
    }),

    // first-order Markov transition matrix over per-user event
    // sequences (ts ties broken by event_id for a total order); the
    // row-normalizing window runs over the |types|²-row aggregate only
    "q133_transitions" -> ((s, d) =>
      EventAnalytics.transitions(t(s, d, "events"), "user_id", "ts",
          "event_id", "event_type")
        .orderBy("from_type", "to_type")),

    // weekly cohort retention matrix over the event stream (cohort
    // week as ISO string: DATE round-trips as different types through
    // the two engines' parquet/pandas paths)
    "q75_retention" -> ((s, d) =>
      EventAnalytics.retention(t(s, d, "events"), "user_id", "ts")
        .withColumn("cohort_week", col("cohort_week").cast("string"))
        .orderBy("cohort_week", "week_offset")),

    // interpolated (Jelinek-Mercer) bigram LM scoring — the rung above
    // q70's unigram model on the perplexity-filter ladder
    "q76_bigram_lm" -> ((s, d) =>
      TextOps.bigramLogProb(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // per-language corpus data card (counts, source diversity, token
    // mass, length percentiles, exact-dup rate)
    "q77_datacard" -> ((s, d) =>
      TextOps.dataCard(t(s, d, "documents"), "lang", "source",
          "text", "n_chars")
        .orderBy("lang")),

    // Z-order (Morton) clustering key over (user_id, value-cents):
    // the layout primitive behind two-dimensional data skipping
    "q78_zorder" -> ((s, d) => {
      val xy = t(s, d, "events")
        .withColumn("x", col("user_id").bitwiseAND(lit(65535L)))
        .withColumn("y",
          floor(col("value") * 100).cast("long").bitwiseAND(lit(65535L)))
      xy.select(col("event_id"), col("x"), col("y"),
          Layout.zValue(col("x"), col("y")).as("zval"))
        .orderBy("event_id")
    }),

    // blocked Levenshtein near-dup pairs (fuzzy dedup between exact
    // and Jaccard): OR-blocked on prefix/suffix two-token signatures
    // within a 40-char length bucket, capped at 5000 docs per block
    "q88_fuzzy" -> ((s, d) =>
      Dedup.fuzzyPairs(t(s, d, "documents"), "doc_id", "text",
          maxDistFrac = 0.3)
        .orderBy("a", "b")),

    // SCD2 dimension maintenance: a per-user "segment" dimension built
    // from first-half events, merged with the second half as the
    // update delta — changed keys close + reopen, unchanged no-op,
    // unseen insert (epoch-second BIGINT validity bounds)
    "q85_scd2" -> ((s, d) =>
      scd2Dim(s, d).orderBy("user_id", "valid_from", "seg")),

    // SCD2 point-in-time lookup (the second act of q85): enrich each
    // post-cut event with the dimension row valid AT ITS TIMESTAMP —
    // equality on user_id is the shuffle key, the validity range is a
    // residual filter, so the plan is an ordinary key join at any
    // scale, never an interval cross product
    "q242_scd2_lookup" -> ((s, d) => {
      val cutSec = unix_timestamp(
        lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
      val ev = t(s, d, "events")
        .select(col("user_id").as("uid"),
          unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
        .filter(col("sec") >= cutSec)
      val dim = scd2Dim(s, d)
      ev.join(dim, col("uid") === col("user_id") &&
          col("sec") >= col("valid_from") &&
          (col("valid_to").isNull || col("sec") < col("valid_to")))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("uid")).as("n_users"))
        .orderBy("seg")
    }),

    // deterministic A/B assignment + per-arm funnel metrics: the arm is
    // a pure function of the user id (first md5 hex nibble), so
    // assignment is reproducible on any engine, needs no stored
    // mapping table, and never shuffles — the metric rollup is the
    // only exchange
    "q243_ab_assign" -> ((s, d) => {
      val arm = when(substring(md5(col("user_id").cast("string")
          .cast("binary")), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
        "A").otherwise("B")
      t(s, d, "events")
        .withColumn("arm", arm)
        .groupBy(col("arm"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum((col("event_type") === "click").cast("long")).as("clicks"),
          sum((col("event_type") === "purchase").cast("long")).as("purchases"))
        .withColumn("purchases_per_kuser",
          expr("purchases * 1000 div n_users"))
        .orderBy("arm")
    }),

    // l-diversity privacy audit: for each quasi-identifier cell
    // (event_type x hour-of-day), how many DISTINCT sensitive values
    // (user cohort) appear — cells below l=3 are re-identification
    // risks a release gate must suppress. Complements q161's
    // k-anonymity (row count per cell) with the value-diversity axis
    "q244_ldiversity" -> ((s, d) => t(s, d, "events")
      .select(col("event_type"), hour(col("ts")).cast("bigint").as("hod"),
        pmod(col("user_id"), lit(10L)).as("cohort"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("cohort")).as("l_div"))
      .withColumn("suppress", (col("l_div") < 3).cast("int").cast("bigint"))
      .orderBy("event_type", "hod")),

    // time travel over the CDC log: reconstruct the customer-balance
    // table AS OF a cut timestamp by replaying only log entries at or
    // before it (latest-per-key wins — q98's merge), next to the
    // current state from the full log; per-segment rollups of both.
    // Each reconstruction is one bounded delta aggregate + one key
    // join — the snapshot body is never re-sorted, so "query the table
    // as of last Tuesday" costs the same as querying it now
    "q251_time_travel" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val snapshot = cust.select(col("c_custkey"), col("c_acctbal"))
      def changeLog(cut: Option[java.sql.Timestamp]): DataFrame = {
        val b = t(s, d, "orders").filter(col("o_orderkey") % 5 === 0)
        cut.fold(b)(c => b.filter(col("o_orderdate") <= lit(c)))
          .select(col("o_custkey").as("c_custkey"),
            col("o_orderdate").as("ts"),
            when(col("o_orderpriority").startsWith("1"), "D")
              .otherwise("U").as("op"),
            col("o_totalprice").as("c_acctbal"))
      }
      val seg = cust.select(col("c_custkey"), col("c_mktsegment"))
      def aggState(st: DataFrame, pfx: String): DataFrame =
        st.join(seg, Seq("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as(s"n_$pfx"),
            sum(expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)"))
              .as(s"bal_${pfx}_cents"))
      val cut = java.sql.Timestamp.valueOf("1998-06-01 00:00:00")
      val asof = graft.operators.Cdc.applyLog(snapshot,
        changeLog(Some(cut)), "c_custkey", "ts", "op", Seq("c_acctbal"))
      val now = graft.operators.Cdc.applyLog(snapshot,
        changeLog(None), "c_custkey", "ts", "op", Seq("c_acctbal"))
      aggState(asof, "asof").join(aggState(now, "now"), Seq("c_mktsegment"))
        .orderBy("c_mktsegment")
    }),

    // quantile-sketch column (q235/q246's pattern for the quantile
    // axis): per event type keep the k rows whose md5 hash is among
    // the k smallest — a mergeable, deterministic, bounded uniform
    // sample (bottom-k of a union IS bottom-k of merged bottom-ks) —
    // and estimate p50/p90 from it next to the exact quantiles. Map
    // tasks each emit <= k pairs, so the shuffle carries the sketch,
    // never the measure column
    "q252_sample_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.Encoders
      val K = 512
      val agg = udaf(new graft.operators.Kmv.SampleAgg(K),
        Encoders.product[graft.operators.Kmv.HV])
      val ev = t(s, d, "events")
      val sk = graft.engine.Par.widen(ev)
        .select(col("event_type"),
          graft.operators.Kmv.hash60(col("event_id")).as("h"),
          col("value").as("v"))
        .groupBy(col("event_type"))
        .agg(agg(col("h"), col("v")).as("sample"))
      val est = sk
        .select(col("event_type"), explode(col("sample")).as("s"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sample"),
          round(expr("percentile(s.v, 0.5)"), 4).as("est_p50"),
          round(expr("percentile(s.v, 0.9)"), 4).as("est_p90"))
      val exact = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("exact_p50"),
          round(expr("percentile(value, 0.9)"), 4).as("exact_p90"))
      est.join(exact, Seq("event_type")).orderBy("event_type")
    }),

    // pattern-with-EXCLUSION detection: views never followed by a
    // click from the same user within the hour (browse abandonment).
    // The negative condition is a user-keyed LEFT join + null filter —
    // equality shuffle key, the range residual — never a sequence scan
    // with backtracking; per-day rates in exact ppm
    "q257_abandonment" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("vu"), col("sec").as("vsec"),
          col("event_id").as("vid"), col("day"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("sec").as("csec"))
      val matched = views.join(clicks,
          col("vu") === col("cu") && col("csec") > col("vsec") &&
            col("csec") <= col("vsec") + 3600, "left")
        .groupBy(col("day"), col("vid"))
        .agg(max(col("csec").isNotNull.cast("int")).as("converted"))
      matched.groupBy(col("day"))
        .agg(count(lit(1)).as("n_views"),
          sum((col("converted") === 0).cast("long")).as("n_abandoned"))
        .withColumn("abandoned_ppm",
          expr("n_abandoned * 1000000 div n_views"))
        .orderBy("day")
    }),

    // rank-biased overlap between the two q211 rankers (BM25 vs term
    // density): the top-weighted "how much do two rankings agree"
    // metric retrieval A/B tests report. Both rankings are bounded
    // top-20 cuts, so RBO is a 20-term fold — evaluated over a SORTED
    // depth array (deterministic summation order on any engine)
    "q258_rbo" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val terms = Seq("vector", "join", "data")
      val wAll = Window.orderBy(col("score").desc, col("doc_id"))
      val r1 = TextOps.bm25Search(docs, "doc_id", "text", terms, topN = 20)
        .withColumn("ra", row_number().over(wAll))
        .select(col("doc_id"), col("ra"))
      val toks = docs.select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("w"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val r2 = toks.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("tf"))
        .join(dl, "doc_id")
        .select(col("doc_id"),
          round(col("tf").cast("double") / col("dl"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rb", row_number().over(wAll))
        .select(col("doc_id"), col("rb"))
      val depths = s.range(1, 21).select(col("id").cast("int").as("dpt"))
      val overlaps = depths.crossJoin(
          r1.join(r2, Seq("doc_id")).select(
            greatest(col("ra"), col("rb")).as("mx")))
        .groupBy(col("dpt"))
        .agg(sum((col("mx") <= col("dpt")).cast("long")).as("ov"))
      overlaps
        .agg(array_sort(collect_list(struct(col("dpt"), col("ov"))))
          .as("terms"))
        .select(round(expr(
          """aggregate(terms, CAST(0.0 AS DOUBLE),
             (acc, x) -> acc + power(0.9, x.dpt - 1) * x.ov / x.dpt,
             acc -> acc * 0.1)"""), 4).as("rbo"))
    }),

    // CMS sketch-column re-aggregation (the last of the sketch-rollup
    // family: KMV q235, HLL q246, sample q252): per-shard count-min
    // cell tables — depth x width counter rows, the stored sketch —
    // merged by PLAIN ADDITION per cell, then point-queried. The
    // merged estimates must equal q147's direct-table estimates
    // exactly (cells are additive), so the oracle IS q147's golden pin
    "q255_cms_rollup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tok = docs.select(pmod(col("doc_id"), lit(7L)).as("shard"),
          explode(split(col("text"), " ")).as("cm_key"))
        .filter(col("cm_key") =!= "")
      val daily = tok
        .select(col("shard"), col("cm_key"),
          explode(array((0 until 4).map(lit(_)): _*)).as("r"))
        .groupBy(col("shard"), col("r"),
          pmod(xxhash64(col("r"), col("cm_key")), lit(256)).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val merged = daily.groupBy(col("r"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
      val top = TextOps.wordCounts(docs, "text")
        .orderBy(col("c").desc, col("word")).limit(20)
      graft.operators.CountMin.estimate(merged, top, "word", 4, 256)
        .join(top, "word")
        .select(col("word"), col("c").as("exact"), col("est"))
        .orderBy(col("exact").desc, col("word"))
    }),

    // A/B x funnel: the q243 deterministic arms crossed with the q74
    // ordered funnel — per arm, users reaching view -> click ->
    // purchase within the gap. The composition every experiment
    // readout actually is; arm is a pure row function so the per-step
    // frontier plan (16 B/user) is unchanged
    "q256_funnel_ab" -> ((s, d) => {
      val arm = when(substring(md5(col("user_id").cast("string")
          .cast("binary")), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B")
      val ev = t(s, d, "events").withColumn("arm", arm)
      Seq("A", "B").map { a =>
        EventAnalytics.funnel(ev.filter(col("arm") === a), "user_id", "ts",
            "event_type", Seq("view", "click", "purchase"),
            maxGapSeconds = 7L * 86400)
          .select(lit(a).as("arm"), col("step"), col("step_name"),
            col("n_users"))
      }.reduce(_.unionAll(_)).orderBy("arm", "step")
    }),

    // late-interaction retrieval (the ColBERT scoring shape): query and
    // doc vectors viewed as 8 token sub-vectors of 8 dims; score =
    // sum over query tokens of the max dot against any doc token. The
    // m^2*dsub arithmetic runs as ONE codegen kernel per (query, doc)
    // pair (MaxSimQuant — the q167 lesson applied up front), in
    // integer-quantized exact BIGINT so the oracle re-executes it.
    // Queries broadcast; the corpus never shuffles before scoring; the
    // top-k cut is the WindowGroupLimit rank-filter shape
    "q259_maxsim" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, d, "embeddings")
      val quant = (c: org.apache.spark.sql.Column) =>
        graft.functions.VectorFunctions.quantizeVec(c, n = 64)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), quant(col("embedding")).as("qv"))
      val c = e.select(col("vec_id").as("cid"), quant(col("embedding")).as("cv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      c.crossJoin(broadcast(q)).filter(col("qid") =!= col("cid"))
        .withColumn("score", graft.functions.VectorFunctions.maxSimPre(
          col("qv"), col("cv"), m = 8, dsub = 8))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("cid"), col("score"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // small-file compaction planner (the lakehouse maintenance op a
    // 100 TB table needs continuously): files modeled as (source,
    // doc_id div 100) stats rows; within each partition the planner
    // assigns file k to bin floor(preceding-bytes / target) — one
    // groupBy + one window per partition, cost O(files), never
    // touching file CONTENTS. Output: per-bin file count and bytes,
    // i.e. the rewrite task list a compactor would execute
    "q260_compaction" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val files = t(s, d, "documents")
        .groupBy(col("source"), expr("doc_id div 100").as("file_seq"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val w = Window.partitionBy(col("source")).orderBy(col("file_seq"))
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("bin", expr("coalesce(cum, 0L) div 262144"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"),
          sum(col("n_docs")).as("n_docs"))
        .orderBy("source", "bin")
    }),

    // label-propagation communities over the customer<->supplier trade
    // graph (q125's symmetric edge list): 5 synchronous rounds, each
    // node adopting its in-neighbors' most frequent label with
    // smallest-label tie-break — all-integer, so the rounds unroll to
    // an exact CTE oracle. Per round: one equi-join against the pinned
    // edge list + two map-side-combinable aggs (count per (node,
    // label), then min(struct(-cnt, lbl)) per node — no window, no
    // sort); lineage cut per round, PageRank's pattern
    "q261_lpa" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + lit(1000000000L)).as("su"))
        .distinct()
      val edges = symBoth(pairs)
      graft.operators.Lpa.run(edges, iterations = 5)
        .groupBy(col("community")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("community")).limit(20)
    }),

    // CUSUM changepoint detection per event type: daily totals in
    // exact centi-units (per-row rounding BEFORE the sum — the q212
    // lesson), deviation from the global mean kept RATIONAL by scaling
    // with n (dev_t = n·cumsum_t − t·total, exact BIGINT — no division
    // ever happens), changepoint = the day maximizing |dev|, earliest
    // day on ties. One window pass + one argmin struct agg per type
    "q262_cusum" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val tot = daily.groupBy(col("event_type"))
        .agg(sum(col("v")).as("tt"), count(lit(1)).as("n_days"))
      daily
        .withColumn("cum", sum(col("v")).over(w))
        .withColumn("idx", row_number().over(w).cast("long"))
        .join(tot, "event_type")
        .withColumn("dev",
          col("n_days") * col("cum") - col("idx") * col("tt"))
        .groupBy(col("event_type"))
        .agg(min(struct((-abs(col("dev"))).as("na"), col("day").as("dy")))
          .as("wn"), max(col("n_days")).as("n_days"))
        .select(col("event_type"), col("wn.dy").as("cp_day"),
          (-col("wn.na")).as("dev_scaled"), col("n_days"))
        .orderBy("event_type")
    }),

    // modularity of the q261 LPA partition — the "was that a good
    // community structure" number, in exact integers: per community,
    // internal2 (directed in-community edges), deg (out-degree mass),
    // and the numerator m2·internal2 − deg² of the contribution
    // (true value = that / m2²; division never happens). Edge list
    // joined with labels twice on the shuffle key — no new plan shape
    // beyond the equi-joins the graph pack already pays
    "q263_modularity" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + lit(1000000000L)).as("su"))
        .distinct()
      val edges = symBoth(pairs)
      val lab = graft.operators.Lpa.run(edges, iterations = 5)
      val m2 = edges.agg(count(lit(1)).as("m2"))
      val el = edges
        .join(lab.select(col("node").as("src"), col("community").as("ca")),
          Seq("src"))
        .join(lab.select(col("node").as("dst"), col("community").as("cb")),
          Seq("dst"))
      // internal2 and deg in ONE pass over the labeled edge list
      // (r16, guide §2.4): the r15 shape aggregated el twice —
      // ReuseExchange deduped the underlying shuffles but the double
      // label join above them was replayed per aggregate. A
      // conditional sum inside the deg aggregate is the same numbers
      // (left-join + coalesce(internal2, 0) became sum(when)=0).
      val agg = el.groupBy(col("ca").as("community"))
        .agg(count(lit(1)).as("deg"),
          sum(when(col("ca") === col("cb"), 1L).otherwise(0L))
            .as("internal2"))
      val mem = lab.groupBy(col("community"))
        .agg(count(lit(1)).as("n_members"))
      mem.join(agg, Seq("community"))
        .crossJoin(broadcast(m2))
        .select(col("community"), col("n_members"), col("internal2"),
          col("deg"),
          (col("m2") * col("internal2")
            - col("deg") * col("deg")).as("q_num"))
        .orderBy(col("n_members").desc, col("community")).limit(20)
    }),

    // PMI query expansion -> BM25 (pseudo-relevance expansion, the
    // classic lexical-retrieval composition): the seed term's top-2
    // adjacency-PMI partners (q139's statistic) join the query, and
    // the expanded set drives q55's BM25 — the expansion relation is
    // BROADCAST into the tf filter, so the term set never touches the
    // driver and the corpus tokenization is shared by both stages
    "q264_query_expansion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val seed = "data"
      val docs = t(s, d, "documents")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val tok = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "wd")))
        .filter(col("wd") =!= "")
      val big = tok.withColumn("nxt", lead(col("wd"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("wd"), col("nxt")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uni = tok.groupBy(col("wd")).agg(count(lit(1)).as("c"))
      val ntok = tok.agg(count(lit(1)).as("n_tok"))
      val cand = big
        .filter(col("wd") === seed || col("nxt") === seed)
        .select(when(col("wd") === seed, col("nxt")).otherwise(col("wd"))
          .as("term"), col("c_ab"))
        .filter(col("term") =!= seed)
        .groupBy(col("term")).agg(sum(col("c_ab")).as("c_ab"))
      val expTerms = cand
        .join(uni.select(col("wd").as("term"), col("c").as("c_term")), "term")
        .crossJoin(broadcast(uni.filter(col("wd") === seed)
          .select(col("c").as("c_seed"))))
        .crossJoin(broadcast(ntok))
        .select(col("term"), round(log(col("c_ab").cast("double")
            * col("n_tok").cast("double")
            / (col("c_seed").cast("double") * col("c_term").cast("double"))),
          4).as("pmi"))
        .orderBy(col("pmi").desc, col("term")).limit(2)
        .select(col("term"))
        .unionAll(docs.sparkSession.range(1).select(lit(seed).as("term")))
      // q55's BM25 over the shared tokenization, terms via broadcast
      val toks = tok.select(col("doc_id").as("id"), col("wd").as("w"))
      val dl = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n"),
        avg(col("dl")).as("avgdl"))
      val tf = toks.join(broadcast(expTerms), col("w") === col("term"))
        .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
      val docFreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      // prune (id, dl) to matching docs before the join — the
      // bm25Search 100 TB rule: the full per-doc relation must not
      // shuffle to serve |matching docs| rows
      val dlPruned = dl.join(broadcast(tf.select(col("id")).distinct()),
        Seq("id"), "left_semi")
      tf.join(broadcast(docFreq), "w")
        .join(dlPruned, "id")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1))
        .withColumn("contrib",
          col("idf") * (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy(col("id"))
        .agg(round(sum(col("contrib")), 4).as("score"))
        .select(col("id").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    // DSIR importance resampling (Xie et al. 2023): keep the 100 raw
    // docs whose hashed unigram+bigram profile most resembles the
    // English-language target slice — the published data-selection
    // method for matching a pretraining pool to a target domain. The
    // per-bucket log-ratio is quantized to exact micro-units before
    // the per-doc dot product, so the score is summation-order-proof
    "q267_dsir" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Sampling.dsirSelect(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text", quota = 100)
    }),

    // recursive CTE hierarchy rollup (WITH RECURSIVE, new in Spark 4):
    // parts form a quaternary taxonomy (parent = p_partkey div 4);
    // the recursion walks DOWN from the roots carrying (root, depth),
    // then rolls up subtree size / depth / retail cents per root —
    // the catalog-taxonomy aggregation shape, expressed in the SQL
    // surface instead of a driver-side iterative loop
    "q241_recursive_cte" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("q241_part")
      s.sql("""
        WITH RECURSIVE r(key, root, depth) AS (
          SELECT p_partkey, p_partkey, 0
          FROM q241_part WHERE p_partkey < 4
          UNION ALL
          SELECT p.p_partkey, r.root, r.depth + 1
          FROM q241_part p JOIN r ON p.p_partkey div 4 = r.key
          WHERE p.p_partkey >= 4
        )
        SELECT r.root, COUNT(*) AS n_parts,
               CAST(MAX(r.depth) AS BIGINT) AS max_depth,
               SUM(CAST(round(p.p_retailprice * 100, 0) AS BIGINT)) AS retail_cents
        FROM r JOIN q241_part p ON p.p_partkey = r.key
        GROUP BY r.root ORDER BY r.root""")
    }),

    // HLL sketch-column re-aggregation (q235's pattern for the HLL
    // family): per-(type, day) hll_sketch_agg partials — the sketch
    // column a warehouse persists — merged with hll_union_agg to
    // per-type estimates WITHOUT revisiting raw keys; certified
    // against the exact distinct count at <= 5% error. Unlike KMV the
    // registers aren't SQL-recomputable, so the pin is golden parquet
    "q246_hll_rollup" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val rolled = daily.groupBy(col("event_type"))
        .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)")
          .as("est_users"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      rolled.join(exact, Seq("event_type"))
        .withColumn("ok_5pct",
          (abs(col("est_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).cast("int").cast("bigint"))
        .orderBy("event_type")
    }),

    // per-label embedding centroid vs the corpus centroid — the drift
    // signal that catches a label whose vectors cluster away from the
    // population (collection bug, domain shift). Centroids are
    // (label, dim)-keyed scalar aggregates: no vector ever crosses a
    // shuffle, and the cosine is a 64-row reduction per label
    "q247_embed_drift" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("label").cast("bigint").as("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
      // centroids quantized to 6 decimals BEFORE the cosine: the later
      // sums then run over identical doubles on any engine, so the
      // only float-order sensitivity left is the avg itself (64-wide,
      // rounded) — the oracle mirrors the same two-stage rounding
      val perLabel = e.groupBy(col("label"), col("dim"))
        .agg(round(avg(col("v")), 6).as("cl"))
      val global = e.groupBy(col("dim")).agg(round(avg(col("v")), 6).as("cg"))
      perLabel.join(global, Seq("dim"))
        .groupBy(col("label"))
        .agg(round(sum(col("cl") * col("cg")) /
          sqrt(sum(col("cl") * col("cl")) * sum(col("cg") * col("cg"))), 4)
          .as("cos_to_global"))
        .orderBy("label")
    }),

    // one-pass correlation matrix over the lineitem measures: every
    // pairwise Pearson r from a single scan (corr() partials are
    // mergeable sums — 6 aggregates, one shuffle of one row per
    // partition), the feature-redundancy screen run before training
    "q248_corr_matrix" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield round(corr(col(cols(i)), col(cols(j))), 4)
        .as(s"${cols(i).stripPrefix("l_")}_${cols(j).stripPrefix("l_")}")
      li.agg(aggs.head, aggs.tail: _*)
    }),

    // curation audit: per-gate drop counts for the q47 pipeline — the
    // observability a 100 TB curation run ships with (how much did
    // each filter cost?). One narrow pass computes every gate flag;
    // a doc failing two gates counts in both (the gates are
    // independent knobs); the exact-dedup stage reports losers and
    // survivors from the same text-keyed aggregate q47 uses
    "q249_curation_audit" -> ((s, d) => {
      val tcol = col("text")
      val ann = graft.engine.Par.widen(t(s, d, "documents")).select(
        col("doc_id"), col("text"),
        TextOps.nWordsCol(tcol).as("n_words"),
        TextOps.avgWordLenCol(tcol).as("avg_word_len"),
        TextOps.stopwordRatioCol(tcol).as("stopword_ratio"),
        TextOps.dupBigramFracCol(tcol).as("dup_bigram_frac"))
      val gates = ann.agg(
        sum((!col("n_words").between(5, 100000)).cast("long")).as("gate_n_words"),
        sum((col("avg_word_len") < 2.0).cast("long")).as("gate_avg_word_len"),
        sum((col("stopword_ratio") > 0.9).cast("long")).as("gate_stopword_ratio"),
        sum((col("dup_bigram_frac") > 0.9).cast("long")).as("gate_dup_bigram"))
      val qualified = ann.filter(col("n_words").between(5, 100000) &&
        col("avg_word_len") >= 2.0 && col("stopword_ratio") <= 0.9 &&
        col("dup_bigram_frac") <= 0.9)
      val exact = qualified.groupBy(col("text"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") - 1).as("exact_dup_removed"),
          count(lit(1)).as("kept_after_exact"))
      gates.crossJoin(exact)
        .selectExpr("stack(6, " +
          "'gate_n_words', gate_n_words, " +
          "'gate_avg_word_len', gate_avg_word_len, " +
          "'gate_stopword_ratio', gate_stopword_ratio, " +
          "'gate_dup_bigram', gate_dup_bigram, " +
          "'exact_dup_removed', exact_dup_removed, " +
          "'kept_after_exact', kept_after_exact) AS (reason, c)")
        .orderBy("reason")
    }),

    // Holt double-exponential smoothing (level + trend) per event
    // type over the daily value series: the short-horizon capacity
    // forecast. Daily sums are rounded to exact centi-units BEFORE the
    // recursion and alpha=beta=0.5 keeps every step in dyadic
    // rationals, so the recursion is bit-deterministic on any
    // IEEE-double engine; the series (<= ~1k days) folds inside one
    // per-group aggregate — corpus-scale work is only the daily rollup
    "q250_holt" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        // the q212 lesson, fully applied: round per-row to exact centi
        // longs BEFORE summing (a post-sum round is aggregation-order
        // dependent at the .5 boundary across engines, and the Holt
        // recursion amplifies any one-day divergence)
        .agg((sum(round(col("value") * 100, 0).cast("long")) / 100.0).as("v"))
      daily.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("v"))))
          .as("series"))
        .select(col("event_type"),
          size(col("series")).cast("bigint").as("n_days"),
          expr("""aggregate(
              slice(series, 2, size(series) - 1),
              named_struct('l', series[0].v, 'b', CAST(0.0 AS DOUBLE)),
              (st, x) -> named_struct(
                'l', 0.5 * x.v + 0.5 * (st.l + st.b),
                'b', 0.5 * ((0.5 * x.v + 0.5 * (st.l + st.b)) - st.l)
                    + 0.5 * st.b),
              st -> named_struct(
                'level', round(st.l, 4),
                'trend', round(st.b, 4),
                'forecast_1', round(st.l + st.b, 4)))""").as("h"))
        .select(col("event_type"), col("n_days"),
          col("h.level").as("level"), col("h.trend").as("trend"),
          col("h.forecast_1").as("forecast_1"))
        .orderBy("event_type")
    }),

    // PII redaction transform: emails/URLs/long-digit runs replaced by
    // typed placeholders (piiFeatures' acting sibling)
    "q83_redact" -> ((s, d) =>
      TextOps.redactPii(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // cluster labeling via class-based TF-IDF over k-means clusters
    // (golden-parquet oracle: k-means assignment is engine-defined)
    "q84_cluster_terms" -> ((s, d) =>
      Similarity.clusterTopTerms(
          t(s, d, "documents"), t(s, d, "embeddings")
            .withColumnRenamed("vec_id", "doc_id"),
          "doc_id", "text", "embedding", topK = 5, nClusters = 8)
        .orderBy("cluster", "rn")),

    // SemDeDup: k-means-clustered semantic dedup over the embedding
    // space — near-dup pairs found within clusters only (golden-parquet
    // oracle: k-means assignment is engine-defined)
    "q80_semdedup" -> ((s, d) =>
      Similarity.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.35, nClusters = 8)
        .orderBy("vec_id")),

    // target-domain mixture resampling: downsampling-only rates that
    // hit explicit per-language target weights (the "data mixture" knob
    // of an LLM recipe — q64's temperature rebalance with the target
    // distribution given, not derived); md5-bucket keep decision, fully
    // SQL-reproducible
    "q90_mixture" -> ((s, d) =>
      Sampling.mixtureSample(t(s, d, "documents"), "lang", "text",
          Seq("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1,
            "zh" -> 0.1))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("total"), sum(col("keep")).as("kept"))
        .orderBy("lang")),

    // int8 scalar-quantized ANN: integer-dot candidate ranking + exact
    // float re-rank (golden oracle; recall vs the exact q35 baseline
    // certified in SimilaritySpec)
    "q91_ann_int8" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.int8TopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 3, dim = 64)
        .select(col("qid"), col("cid"), col("rn"))
        .orderBy("qid", "rn")
    }),

    // Gopher-style hand-rule quality gate: word-count window, mean word
    // length, symbol fraction, alpha-word fraction, stopword hits — the
    // rule filter that precedes any learned quality score
    "q92_gopher" -> ((s, d) =>
      TextOps.gopherFilter(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // near-dup survivor selection: MinHash pair list -> connected
    // clusters -> keep the longest member per cluster (golden oracle:
    // the pair list is engine-hash-defined; the policy itself is
    // certified against hand-built clusters in DedupSpec)
    "q93_survivors" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.5)
      Dedup.nearDupSurvivors(docs, "doc_id", "n_chars", pairs)
        .orderBy("doc_id")
    }),

    // mergeable-sketch distinct counting: HLL++ approximate distinct
    // users per event type next to the exact count (golden pin — the
    // sketch estimate is engine-defined; the relative-error contract is
    // certified in SketchSpec). At 100 TB the sketch is THE distinct
    // count: partials merge associatively, no exact distinct shuffle.
    "q96_hll" -> ((s, d) => t(s, d, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy("event_type")),

    // deterministic bucket-probe negative sampling (contrastive-pair
    // mining): 3 hash-strided negatives per anchor document; the
    // 64-bucket ring stays dense at every test sf (at production scale
    // size it ~2^20 buckets, still one broadcast)
    "q79_negatives" -> ((s, d) =>
      Sampling.negativeSamples(t(s, d, "documents"), "doc_id", "text",
          k = 3, nBuckets = 64)
        .orderBy("anchor_id", "neg_rank")),

    // nearest as-of join: each purchase matched to the user's CLOSEST
    // click in either direction (tie -> the past match) — q37's
    // bidirectional sibling, the sensor-alignment semantics
    "q97_asof_nearest" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("ts_s", date_trunc("second", col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_s"))
        .agg(max(col("event_id")).as("click_id"))
      AsOfJoin.nearest(purchases, clicks,
          keys = Seq("user_id"), tsCol = "ts_s",
          rightValues = Seq("click_id"), matchTsCol = "click_ts")
        .filter(col("click_id").isNotNull)
        .select(col("event_id"), col("click_id"),
          abs(unix_timestamp(col("ts_s")) - unix_timestamp(col("click_ts")))
            .as("gap_s"))
        .orderBy("event_id")
    }),

    // CDC log application (SCD1 overwrite merge): a change log derived
    // from orders (deletes for priority-1, upserts otherwise; latest
    // entry per key wins by (ts, op, attr) total order) applied to the
    // customer snapshot
    "q98_cdc" -> ((s, d) => {
      val snapshot = t(s, d, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val log = t(s, d, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_custkey").as("c_custkey"),
          col("o_orderdate").as("ts"),
          when(col("o_orderpriority").startsWith("1"), "D")
            .otherwise("U").as("op"),
          col("o_totalprice").as("c_acctbal"))
      graft.operators.Cdc.applyLog(snapshot, log, "c_custkey", "ts", "op",
          Seq("c_acctbal"))
        .select(col("c_custkey"), round(col("c_acctbal"), 4).as("acctbal"))
        .orderBy("c_custkey")
    }),

    // mixture with upsampling (epoch repetition): equal per-language
    // target weights at fixed output size — small languages repeat
    // (n_copies > 1), large ones downsample; md5-bucket fractional epoch
    "q99_upsample" -> ((s, d) =>
      Sampling.mixtureEpochs(t(s, d, "documents"), "lang", "text",
          Seq("en" -> 0.2, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2,
            "zh" -> 0.2))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("total"), sum(col("n_copies")).as("copies"))
        .orderBy("lang")),

    // backward as-of join: each purchase matched to the user's latest
    // click at-or-before it (second resolution; right side deduped to
    // unique (user_id, ts) so both engines are deterministic)
    "q37_asof" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("ts_s", date_trunc("second", col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_s"))
        .agg(max(col("event_id")).as("click_id"))
      AsOfJoin.backward(purchases, clicks,
          keys = Seq("user_id"), tsCol = "ts_s", rightValues = Seq("click_id"))
        .filter(col("click_id").isNotNull) // inner as-of semantics
        .select(col("event_id"), col("click_id"))
        .orderBy("event_id")
    }),

    // weighted single-source shortest paths (4 Bellman–Ford relaxation
    // rounds) over the co-purchase graph, deterministic integer edge
    // cost w = (u+v)%97+1: q140's frontier shape with a per-edge cost —
    // one equi-join + one min-groupBy per round, the edge list pinned
    // once on the join key, all-integer state so the unrolled CTE
    // oracle re-executes the relaxation exactly
    "q179_sssp" -> ((s, d) => {
      val e0 = coOrderPairs(t(s, d, "lineitem"))
        .withColumn("w", pmod(col("u") + col("v"), lit(97L)) + lit(1L))
      reachedFrom(s, e0, 1L, iterations = 4, weighted = true)
        .orderBy(col("dd"), col("node")).limit(25)
    }),

    // per-source frequency cap (the domain-cap curation rule): keep at
    // most 15 docs per feed by deterministic md5 rank — under-cap feeds
    // never shuffle (broadcast anti join), only over-cap rows pay the
    // rank window. Output pins the exact kept SET per feed (id sum),
    // not just counts
    "q180_source_cap" -> ((s, d) =>
      Sampling.capPerGroup(t(s, d, "documents"), "source", "doc_id",
          cap = 15)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("source")),

    // order-invariant dataset fingerprint per feed — the dataset-
    // versioning primitive: XOR-fold of 60-bit md5 content hashes
    // (commutative + mergeable, so the checksum is independent of
    // partitioning and row order and rolls up across shards) plus row
    // and char mass. Two snapshot runs compare equal iff their
    // (id, text) multisets match (XOR's even-multiplicity blind spot
    // is covered by n_docs)
    "q181_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("source"),
          graft.operators.Kmv.hash60(
            concat_ws("|", col("doc_id"), col("text"))).as("h"),
          col("n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("fp"),
          sum(col("n_chars")).as("char_sum"))
        .orderBy("source")),

    // MMR-diversified top-k retrieval: relevance traded against
    // redundancy with the already-selected set (λ=0.7) — stops one
    // near-duplicate cluster from filling the whole result page. The
    // distributed cost is the candidate overfetch; the greedy phase is
    // a bounded per-query in-group computation. Golden-pinned (greedy
    // selection is not relationally expressible); semantics certified
    // in MmrSpec (λ=1 ≡ plain top-k, diversity, partition invariance)
    "q182_mmr" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.mmrTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", k = 8, lambda = 0.7)
        .orderBy("qid", "rn")
    }),

    // Merkle-style snapshot diff (q181's fingerprint put to work):
    // locate WHICH id-ranges changed between two corpus versions from
    // per-bucket XOR digests alone — never a row-level compare. v2 is
    // a deterministic synthetic next snapshot (every 97th doc deleted,
    // every 89th edited), so the changed-bucket set is a pure function
    // of the data the oracle re-derives
    "q186_snapshot_diff" -> ((s, d) => {
      val v1 = t(s, d, "documents")
      val v2 = v1.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text", when(col("doc_id") % 89 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.Cdc.snapshotDiff(v1, v2, "doc_id", "text",
          bucketSize = 64)
        .orderBy("bucket")
    }),

    // the Merkle diff's second act: row-level changes fetched from the
    // FLAGGED buckets only (q186 locates, this reads) — row work is
    // O(changed data), never O(corpus); the oracle computes the global
    // row diff directly, so the bucket-pruned path must find exactly
    // every changed row
    "q206_snapshot_rows" -> ((s, d) => {
      val v1 = t(s, d, "documents")
      val v2 = v1.filter(col("doc_id") % 97 =!= 0)
        .withColumn("text", when(col("doc_id") % 89 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.Cdc.snapshotRowDiff(v1, v2, "doc_id", "text",
          bucketSize = 64)
        .orderBy("doc_id")
    }),

    // table profiler (ANALYZE shape): per column, exact row /
    // non-null / distinct counts and min/max — one column-pruned
    // single-column aggregate per profiled column, unioned (never a
    // multi-count_distinct Expand that multiplies the input rows)
    "q187_profile" -> ((s, d) =>
      graft.operators.Profile.tableProfile(t(s, d, "lineitem"),
          numCols = Seq("l_quantity", "l_extendedprice", "l_discount"),
          strCols = Seq("l_returnflag", "l_linestatus"))
        .orderBy("col")),

    // boolean conjunctive retrieval: documents containing ALL query
    // terms. The term filter lands BEFORE the shuffle (only query-term
    // hits leave the map side), so the aggregate sees O(df) rows, not
    // the tokenized corpus
    "q188_boolean_and" -> ((s, d) => {
      val terms = Seq("join", "filter", "stream")
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("w")).as("nt"), count(lit(1)).as("hits"))
        .filter(col("nt") === terms.size)
        .select(col("doc_id"), col("hits"))
        .orderBy("doc_id")
    }),

    // Jaro-Winkler record linkage over part names, blocked by (first
    // token, length band) — the entity-resolution primitive; the
    // native kernel's semantics match DuckDB's
    // jaro_winkler_similarity, so the oracle re-scores every candidate
    // pair independently (no golden pin). Exact-duplicate names
    // collapse to one representative (min id) BEFORE the fuzzy stage:
    // jw=1 pairs inside an exact-dup group are exact dedup's job, and
    // skipping the collapse makes the pair count quadratic in the
    // duplicate multiplicity (measured 31.8 s -> sub-second at sf0.1)
    "q189_jw_linkage" -> ((s, d) =>
      graft.operators.Linkage.jaroWinklerPairs(
          t(s, d, "part").groupBy(col("p_name"))
            .agg(min(col("p_partkey")).as("p_partkey")),
          "p_partkey", "p_name", threshold = 0.88)
        .orderBy("a", "b")),

    // zone-map data skipping: a z-ordered copy of events (written once
    // per dir), per-file min/max stats, and a pruned read that scans
    // ONLY the files whose range intersects the predicate — the
    // lakehouse file-skipping primitive. Row-identical to the plain
    // filter by construction (the oracle IS the plain filter);
    // LayoutSpec pins that files are actually skipped
    "q190_zonemap" -> ((s, d) => {
      val dir = zorderedEventsFor(s, d)
      val zmap = graft.operators.Layout.zoneMap(s, dir, Seq("user_id"))
      val (rows, _, _) = graft.operators.Layout.prunedRead(
        s, dir, zmap, "user_id", 5L, 9L)
      rows.select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("value"))
        .orderBy("event_id")
    }),

    // the DISTRIBUTED twin of q190: zones are hive partitions
    // (zbin=<id>/ from a range partition on the z-value) and the
    // range prune rides a broadcast join on the partition column —
    // dynamic partition pruning skips unmatched directories at the
    // file level with NO driver-collected path list and no maxFiles
    // cap (LayoutSpec pins the DPP subquery and the numFiles metric).
    // Must equal the plain range filter — q190's oracle shape
    "q317_zonemap_dpp" -> ((s, d) => {
      val dir = zbinEventsFor(s, d)
      val stats = graft.operators.Layout.zbinStats(s, dir,
        Seq("user_id"))
      graft.operators.Layout.prunedReadDpp(s, dir, stats,
          "user_id", 5L, 9L)
        .select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("value"))
        .orderBy("event_id")
    }),

    // KLL rank-error quantile sketch (deterministic MRL compaction):
    // per-event-type sketches of `value` at k=128, quantile estimates
    // at q ∈ {.25, .5, .9}, then each estimate's TRUE rank measured
    // against the corpus — the certified ε(k, n) bound becomes the
    // oracle-checked booleans (a violated bound flips a column and
    // fails the hash). SketchSpec pins exactness below k, the bound
    // above it, and the mergeable rollup; this entry certifies the
    // contract cross-engine on real data
    "q318_kll_quantiles" -> ((s, d) => {
      val k = 128
      val ev = t(s, d, "events").select(col("event_type"), col("value"))
      val sk = graft.operators.Kll.sketch(ev, "event_type", "value", k)
      val ests = sk.select(col("event_type"),
        graft.operators.Kll.quantile(col("sketch"), 0.25).as("e25"),
        graft.operators.Kll.quantile(col("sketch"), 0.50).as("e50"),
        graft.operators.Kll.quantile(col("sketch"), 0.90).as("e90"))
      val ranks = ev.join(broadcast(ests), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(when(col("value") <= col("e25"), 1L).otherwise(0L))
            / count(lit(1))).as("r25"),
          (sum(when(col("value") <= col("e50"), 1L).otherwise(0L))
            / count(lit(1))).as("r50"),
          (sum(when(col("value") <= col("e90"), 1L).otherwise(0L))
            / count(lit(1))).as("r90"))
      val eps = lit(2.0) * (ceil(log(2.0,
          greatest(col("n_rows").cast("double") / k, lit(1.0)))) + 2.0) /
        lit(k.toDouble) + lit(1.0) / col("n_rows")
      ranks.select(col("event_type"), col("n_rows"),
          (abs(col("r25") - 0.25) <= eps).as("within_q25"),
          (abs(col("r50") - 0.50) <= eps).as("within_q50"),
          (abs(col("r90") - 0.90) <= eps).as("within_q90"))
        .orderBy("event_type")
    }),

    // per-file BLOOM skipping index: point lookup on event_id over the
    // z-ordered-by-user layout — a column the files are NOT sorted by,
    // so min/max ranges can't prune but per-file blooms can ("this
    // file definitely does not hold this key"). No false negatives ⇒
    // row-identical to the plain filter; LayoutSpec pins the skipping
    "q200_bloom_skip" -> ((s, d) => {
      val dir = zorderedEventsFor(s, d)
      val bidx = graft.operators.Layout.bloomIndex(s, dir, "event_id")
      val (rows, _, _) = graft.operators.Layout.bloomPrunedRead(
        s, dir, bidx, "event_id", 777L)
      rows.select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("value"))
        .orderBy("event_id")
    }),

    // FULL OUTER reconciliation: daily purchase vs error activity —
    // days present on either side survive with the other side's count
    // coalesced to 0 (the two-feed reconciliation report; the one
    // outer-join shape the declared inventory lacked as a dedicated
    // entry — q10 covers left, q126 streaming left, q186 uses full
    // outer internally)
    "q204_full_outer" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
      def daily(tpe: String, out: String) =
        e.filter(col("event_type") === tpe)
          .groupBy(col("day")).agg(count(lit(1)).as(out))
      daily("purchase", "n_purchase")
        .join(daily("error", "n_error"), Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("n_error"), lit(0L)).as("n_error"))
        .orderBy("day")
    }),

    // LATERAL correlated subquery: top-2 customers by balance PER
    // nation, written as SQL LATERAL — Catalyst must decorrelate it
    // into a ranked join, never per-row re-execution (the q105 scalar
    // contract extended to table-valued correlation)
    "q205_lateral" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT n.n_name, t.c_custkey, ROUND(t.c_acctbal, 4) AS bal
          |FROM nation_v n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM customer_v c
          |         WHERE c.c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY n.n_name, bal DESC, t.c_custkey""".stripMargin)
    }),

    // schema evolution: a dir whose later files added a column reads
    // as ONE relation under mergeSchema — old-generation rows surface
    // the new column as NULL (never a read failure, never silent
    // truncation to the old schema); per-type counts prove both
    // generations contribute
    "q203_schema_evolution" -> ((s, d) => {
      val dir = evolvedEventsFor(s, d)
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(coalesce(col("event_type"), lit("__pre_schema__"))
          .as("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
        .orderBy("event_type")
    }),

    // ORC format coverage: the same events relation written and read
    // back through the second columnar format Spark ships — the
    // engine's source surface is not parquet-monogamous
    "q201_orc_roundtrip" -> ((s, d) => {
      val dir = orcEventsFor(s, d)
      s.read.orc(dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .orderBy("event_id")
    }),

    // CSV coverage: the row-format leg of the source matrix (q201 is
    // the second columnar leg) — written with a header, read back under
    // an EXPLICIT schema so the round-trip proves TYPE fidelity
    // (bigint/double through text), not just byte shuttling
    "q222_csv_roundtrip" -> ((s, d) =>
      s.read.option("header", "true")
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .csv(csvEventsFor(s, d))
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .orderBy("event_id")),

    // JSON-lines coverage: the semi-structured leg — the nested props
    // payload (itself a JSON string) must survive the escape/unescape
    // round-trip intact, proven by extracting the same dotted path the
    // q03 contract checks
    "q223_json_roundtrip" -> ((s, d) =>
      s.read.schema("event_id BIGINT, props STRING")
        .json(jsonEventsFor(s, d))
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .orderBy("event_id")),

    // dedup-quality evaluation as a distributed query (q207's harness
    // idea turned on the dedup stack): precision/recall of the SimHash
    // band-blocked candidate pairs (q48) against exact n-gram
    // Jaccard >= 0.8 ground truth (q28b's relation) — at production
    // scale "how good is my near-dup detector" is itself a big join
    "q226_dedup_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // both pair relations feed TWO consumers each (their own count
      // and the semi join) — cache them so each pair engine's banded
      // join runs once per call, not twice (the engines cache their
      // signature tables internally, but not the join above them)
      val truth = Dedup.jaccardAuto(docs, "doc_id", "text",
        n = 3, threshold = 0.8).select(col("a"), col("b")).cache()
      val approx = Dedup.simHashPairs(docs, "doc_id", "text",
        maxHamming = 3).select(col("a"), col("b")).cache()
      val hit = approx.join(truth, Seq("a", "b"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_truth"), col("n_approx"), col("n_hit"),
          round(col("n_hit") / col("n_approx"), 4).as("prec"),
          round(col("n_hit") / col("n_truth"), 4).as("rec"))
    }),

    // leakage-safe split: normalized-text duplicate groups are the
    // leak unit — every copy of a document lands in the SAME split
    // because the md5 assignment hashes the group representative
    // (min id), not the row. Output pins per-split doc/group counts
    // and the exact kept id-mass
    "q191_group_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Sampling.groupAwareSplit(
          docs.select(col("doc_id"),
            TextOps.normalizeText(col("text")).as("nkey")),
          "doc_id", col("nkey"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("_rep")).as("n_groups"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("split")
    }),

    // proximity retrieval: docs where two terms co-occur within 5
    // token positions (either order) — the middle rung between
    // bag-of-words BM25 and exact phrase search; per-term postings
    // filter BEFORE the shuffle, doc-keyed equi-join after
    "q192_proximity" -> ((s, d) =>
      TextOps.proximitySearch(t(s, d, "documents"), "doc_id", "text",
          "hash", "join", window = 5)
        .orderBy("doc_id")),

    // per-GROUP exact heavy hitters: tokens over 1% of their
    // language's token mass — q131's two-pass MG design with one
    // bounded summary per group; the distinct token domain never
    // shuffles, and the recount join carries ≤ |groups|·cap rows
    "q194_group_hitters" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      graft.operators.HeavyHitters.exactOverThresholdByGroup(
          tok, "lang", "w", 0.01)
        .orderBy("lang", "key")
    }),

    // referential/consistency audit — the pre-trust data-quality gate
    // over a new drop: orphan lineitems (no parent order), childless
    // orders (no lineitems), and order-total drift vs the recomputed
    // lineitem sum in EXACT cents (>`$`1 tolerance). Anti-joins +
    // decimal-exact comparisons; one row per check
    "q195_consistency" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("ocents"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"),
        expr("CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)")
          .as("lcents"))
      def row(name: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(name).as("chk"), col("n"), col("cents"))
      val orphans = row("orphan_lineitems",
        l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n")).withColumn("cents", lit(0L)))
      val childless = row("childless_orders",
        o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n")).withColumn("cents", lit(0L)))
      val drift = row("total_drift",
        o.join(l.groupBy(col("l_orderkey")).agg(sum(col("lcents")).as("sumcents")),
            col("o_orderkey") === col("l_orderkey"))
          .select(abs(col("ocents") - col("sumcents")).as("d"))
          .agg(sum(when(col("d") > 100, 1L).otherwise(0L)).as("n"),
            sum(col("d")).as("cents")))
      orphans.unionAll(childless).unionAll(drift).orderBy("chk")
    }),

    // seeded global shuffle + striped shard export (the "shuffle once,
    // write N shards" step a pretraining dataloader expects): shard
    // and order are pure functions of (seed, doc_id), so the export is
    // reproducible on any cluster and fully SQL-recomputable. The
    // query emits the per-shard manifest (doc/token totals + the first
    // and last doc in shuffle order) over the assignment the writer
    // would partitionBy
    "q268_shuffle_export" -> ((s, d) => {
      val a = Sampling.shuffleExport(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", nShards = 8, seed = "graft-r10")
      a.withColumn("tokens",
          size(filter(split(col("text"), " "), w => w =!= "")).cast("bigint"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens"),
          expr("min_by(doc_id, skey)").as("first_doc"),
          expr("max_by(doc_id, skey)").as("last_doc"))
        .orderBy("shard")
    }),

    // soft deduplication (SoftDedup, Xia et al. 2024): per-doc
    // sampling weight from bigram commonness instead of dropping
    // near-dups — novelty_ppm is the harmonic mean of per-gram doc
    // frequencies in exact integer ppm, so a doc made of corpus-unique
    // bigrams keeps full weight and boilerplate-heavy docs are
    // down-weighted proportionally
    "q269_soft_dedup" -> ((s, d) =>
      Dedup.softDedupWeights(t(s, d, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id")),

    // image near-dup via perceptual hash: dHash-64 over REAL decoded
    // PNG pixels (narrow, bytes never shuffle), then the pigeonhole
    // banded fingerprint join — the image-side twin of q48's text
    // SimHash pairs, over a fixture with planted near-dup triples
    // (same base image, one small retouch per variant). Golden-parquet
    // oracle: the hash is defined by the engine's decode+downsample
    // kernel, not SQL-expressible
    "q271_image_phash" -> ((s, d) =>
      Dedup.fingerprintPairs(
          graft.multimodal.Multimodal.imageDHash(nearDupImages(s, d)),
          "media_id", "dhash", maxHamming = 6)
        .orderBy("a", "b")),

    // t-closeness privacy audit — the third axis of the release gate
    // (q161 k-anonymity: cell size; q244 l-diversity: distinct
    // sensitive values; here: the cell's sensitive-value DISTRIBUTION
    // must stay close to the global one, or the cell leaks the
    // attribute even with many distinct values). Distance is total
    // variation in exact ppm: t_ppm = Σ_v |cgv·N − cv·ng| · 500000
    // div (ng·N), all products routed through DECIMAL(38,0) (the q220
    // lesson: BIGINT products overflow silently exactly at the scales
    // that matter). The cohort domain is bounded (10 values) so the
    // global distribution BROADCASTS; cells × cohorts is |cells|·10
    // rows, never data-sized
    "q272_tcloseness" -> ((s, d) => {
      val e = t(s, d, "events").select(col("event_type"),
        hour(col("ts")).cast("bigint").as("hod"),
        pmod(col("user_id"), lit(10L)).as("cohort"))
      val cellCohort = e.groupBy(col("event_type"), col("hod"), col("cohort"))
        .agg(count(lit(1)).as("cgv"))
      val cells = cellCohort.groupBy(col("event_type"), col("hod"))
        .agg(sum(col("cgv")).as("ng"))
      val cohorts = e.groupBy(col("cohort")).agg(count(lit(1)).as("cv"))
      val total = e.agg(count(lit(1)).as("n_total"))
      cells.crossJoin(broadcast(cohorts))
        .join(cellCohort, Seq("event_type", "hod", "cohort"), "left")
        .withColumn("cgv", coalesce(col("cgv"), lit(0L)))
        .crossJoin(broadcast(total))
        .groupBy(col("event_type"), col("hod"))
        .agg(max(col("ng")).as("n"),
          expr("CAST(sum(abs(CAST(cgv AS DECIMAL(38,0)) * n_total - "
            + "CAST(cv AS DECIMAL(38,0)) * ng)) * 500000 div "
            + "(max(CAST(ng AS DECIMAL(38,0)) * n_total)) AS BIGINT)")
            .as("t_ppm"))
        .withColumn("risky", (col("t_ppm") > 150000).cast("int").cast("bigint"))
        .orderBy("event_type", "hod")
    }),

    // audio near-dup via energy-envelope fingerprint: the audio twin
    // of q271 over REAL decoded WAV PCM (AudioSystem), same banded
    // fingerprint join, fixture with planted near-dup triples (same
    // envelope, two windows re-amplified per variant). Golden oracle:
    // the hash is defined by the engine's decode+window kernel
    "q273_audio_fingerprint" -> ((s, d) =>
      Dedup.fingerprintPairs(
          graft.multimodal.Multimodal.audioDHash(nearDupAudio(s, d)),
          "media_id", "ahash", maxHamming = 6)
        .orderBy("a", "b")),

    // golden-record consolidation — the MDM step AFTER entity
    // resolution (q208 stops at clusters; a master-data pipeline must
    // then emit ONE record per entity): per cluster, majority-vote the
    // brand (ties to the smallest value — the q261 min(struct(-cnt,v))
    // reduction, deterministic on any engine), keep the most complete
    // numerics (max price in exact cents, min size), min-id canonical.
    // Singletons (no incident pair) consolidate to themselves. Votes
    // and rollups are per-cluster map-side-combinable aggregates over
    // |entities| rows; components run over the (tiny) pair list only
    "q275_golden_record" -> ((s, d) => {
      val part = t(s, d, "part")
      val names = part.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("p_partkey"))
      val pairs = graft.operators.Linkage.jaroWinklerPairs(
        names, "p_partkey", "p_name", threshold = 0.88)
      val comps = graft.operators.Components
        .connectedComponents(pairs, "a", "b")
      val member = names
        .join(part.select(col("p_partkey"), col("p_brand"),
          col("p_size").cast("bigint").as("p_size"),
          expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").as("cents")),
          Seq("p_partkey"))
        .join(comps.withColumnRenamed("id", "p_partkey"),
          Seq("p_partkey"), "left")
        .select(coalesce(col("comp"), col("p_partkey")).as("comp"),
          col("p_partkey"), col("p_brand"), col("p_size"), col("cents"))
      val brand = member.groupBy(col("comp"), col("p_brand"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("comp"))
        .agg(min(struct((-col("c")).as("nc"), col("p_brand").as("b")))
          .as("w"))
        .select(col("comp"), col("w.b").as("brand"))
      member.groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"),
          min(col("p_partkey")).as("canonical"),
          min(col("p_size")).as("min_size"),
          max(col("cents")).as("max_retail_cents"))
        .join(brand, Seq("comp"))
        .select(col("comp"), col("n_members"), col("canonical"),
          col("brand"), col("min_size"), col("max_retail_cents"))
        .orderBy("comp")
    }),

    // JSON schema profiling over a variant-shaped document stream: the
    // fixture renders orders as JSON with conditionally-present keys
    // and mixed value types (to_json omits NULL fields), and the
    // profile must recover, per key, presence and the type histogram —
    // the infer-schema step of a semi-structured ingest. The oracle
    // derives the same profile in closed form from the base columns
    // (an INDEPENDENT derivation, not a JSON re-parse), so the
    // engine's whole json_object_keys/get_json_object path is what is
    // certified
    "q276_json_profile" -> ((s, d) => {
      val j = t(s, d, "orders").select(to_json(struct(
        col("o_orderkey").as("key"),
        col("o_orderpriority").as("priority"),
        col("o_orderpriority").startsWith("1").as("urgent"),
        when(col("o_orderkey") % 3 === 0,
          expr("CAST(ROUND(o_totalprice) AS BIGINT)")).as("total"),
        when(col("o_orderkey") % 7 === 0,
          concat(lit("s-"), col("o_orderstatus"))).as("note"))).as("j"))
      graft.operators.TextOps.jsonProfile(j, "j").orderBy("key")
    }),

    // media ingest through Spark's `binaryFile` source — the actual
    // entry path of a production media pipeline (a directory of image
    // files, not a pre-built parquet): one PNG file per doc id on
    // disk, scanned as (path, content), id parsed from the filename,
    // REAL ImageIO decode downstream. The oracle knows the fixture's
    // dimension formula (12+id%9 × 8+id%7), so the whole
    // source→decode path is certified in closed form. Scale: the scan
    // parallelizes over files; content bytes never shuffle (decode is
    // scan-side, only (id, dims) scalars reach the sort)
    "q277_binary_ingest" -> ((s, d) => {
      val dir = pngFileDir(s, d)
      // directory + pathGlobFilter, NOT a `dir/*.png` glob: the glob
      // form expands to one ROOT PATH PER FILE before the scan, and
      // DataSource then pays per-path existence/status work on every
      // query invocation — measured 8.9 s vs 0.3 s for the identical
      // 5000-file listing at sf0.1 (31x; guide §6 small-files cost,
      // but in the driver's LISTING, not the executors' opens). Same
      // file set, same rows.
      val decoded = graft.multimodal.Multimodal.decode(
        s.read.format("binaryFile").option("pathGlobFilter", "*.png")
          .load(dir)
          .select(regexp_extract(col("path"), "(\\d+)\\.png$", 1)
            .cast("bigint").as("media_id"),
            lit("image").as("media_type"), col("content")))
      decoded.filter(col("ok"))
        .select(col("media_id"), col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"))
        .orderBy("media_id")
    }),

    // video shot segmentation: per-frame dHash over REAL decoded AVI
    // frames, cut where consecutive frames' hamming exceeds the
    // threshold — the shot-boundary step before per-shot frame
    // sampling. The fixture plants the cut at 1 + id mod 4, so the
    // whole decode→hash→segment path has a closed-form oracle
    "q278_scene_cuts" -> ((s, d) =>
      graft.multimodal.Multimodal.sceneCuts(
          sceneVideos(s, d), cutHamming = 10)
        .orderBy("media_id")),

    // WebDataset shard audit: ingest the tar shards (binaryFile scan +
    // pure-JDK ustar walk, members exploded scan-side), pair members
    // by sample key, decode the image of every pair — the integrity
    // check a multimodal pipeline runs before training on a shard
    // drop. Closed-form oracle from the fixture's shard formula
    "q279_webdataset" -> ((s, d) => {
      val m = graft.sources.WebDataset.ingest(s, wdsShardDir(s, d))
        .withColumn("id", regexp_extract(col("name"), "^(\\d+)\\.", 1)
          .cast("bigint"))
        .withColumn("ext", regexp_extract(col("name"), "\\.(\\w+)$", 1))
      val pngOk = graft.multimodal.Multimodal.decode(
          m.filter(col("ext") === "png")
            .select(col("id").as("media_id"), lit("image").as("media_type"),
              col("content")))
        .filter(col("ok"))
        .select((col("media_id") / 50).cast("long").as("shard"))
        .groupBy(col("shard")).agg(count(lit(1)).as("n_png_ok"))
      m.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("id")).as("n_pairs"),
          sum(when(col("ext") === "txt", length(col("content")))
            .otherwise(0L)).cast("bigint").as("txt_chars"))
        .withColumn("shard",
          regexp_extract(col("shard"), "(\\d+)$", 1).cast("bigint"))
        .join(pngOk, Seq("shard"))
        .select(col("shard"), col("n_members"), col("n_pairs"),
          col("n_png_ok"), col("txt_chars"))
        .orderBy("shard")
    }),

    // gzip JSONL ingest (q222/q223's codec sibling — the format a web
    // crawl actually lands in): read `.json.gz` part files with an
    // explicit schema (no inference pass at scale), roll up per type.
    // Scale note: gzip files are NOT splittable — parallelism is the
    // file count, which is why the fixture (and any real crawl drop)
    // arrives as many bounded part files
    "q280_gzip_jsonl" -> ((s, d) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType)))
      s.read.schema(schema).json(gzJsonDir(s, d))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"),
          sum(col("cents")).as("total_cents"))
        .orderBy("event_type")
    }),

    // URL canonicalization + URL-level dedup (the CCNet/RefinedWeb
    // first pass — cheaper than any content dedup and run before it):
    // messy raw URLs (case-mixed hosts, default ports, tracking
    // params, unsorted queries, fragments, trailing slashes) collapse
    // to canonical form; dedup groups by canonical URL. The raw URLs
    // are constructed with id-dependent mess so ids i and i+1000…
    // collide ONLY after every rule fires; the oracle re-implements
    // the same rules in DuckDB SQL — cross-engine, not closed-form
    "q281_url_dedup" -> ((s, d) => {
      val raw = t(s, d, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, "HTTP://Ex-").otherwise("http://ex-"),
          col("source"), lit(".COM"),
          when(col("doc_id") % 3 === 0, ":80").otherwise(""),
          lit("/p/"), pmod(col("doc_id"), lit(500L)),
          when(col("doc_id") % 5 === 0, "/").otherwise(""),
          when(col("doc_id") % 2 === 0, "?b=2&utm_source=feed&a=1")
            .otherwise("?a=1&b=2&gclid=xyz"),
          when(col("doc_id") % 7 === 0, "#frag").otherwise(""))
          .as("url"))
      raw.select(col("doc_id"),
          graft.operators.TextOps.canonicalUrl(col("url")).as("canon"))
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
        .orderBy("canon")
    }),

    // HTML → text extraction (the boilerplate-strip every web corpus
    // runs before text analysis): pages fabricated around documents
    // .text with the full hazard set — script blocks containing '<',
    // style blocks, comments, entities (&amp;lt; must decode ONCE),
    // block tags, a conditional nav div — then TextOps.htmlToText's
    // regexp chain. The oracle replays the identical RE2-compatible
    // chain in DuckDB: extraction certified cross-engine, not assumed
    "q282_html_extract" -> ((s, d) => {
      val page = concat(
        lit("<html><head><title>d"), col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\">p { margin:0; }</style>"),
        lit("<script>if (1<2) { var x = \"<p>&amp;\"; }</script></head>"),
        lit("<body><!-- generated page --><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1>"),
        when(col("doc_id") % 3 === 0,
          "<div class=\"nav\">Home &gt; Docs&nbsp;&amp;&nbsp;More</div>")
          .otherwise(""),
        lit("<p>"), col("text"), lit("</p>"),
        lit("<ul><li>alpha</li><li>beta&amp;lt;3</li></ul>"),
        lit("<table><tr><td>k</td><td>v</td></tr></table></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), page.as("page"))
        .select(col("doc_id"),
          graft.operators.TextOps.htmlToText(col("page")).as("txt"))
        .select(col("doc_id"), col("txt"),
          length(col("txt")).cast("bigint").as("n_chars"),
          size(split(col("txt"), "\n")).cast("bigint").as("n_lines"))
        .orderBy("doc_id")
    }),

    // Rendezvous resharding stability: assign every doc to 16 shards
    // and to 17 shards by highest-random-weight; the HRW contract —
    // certified here as data, not prose — is that every moved key
    // moves TO the new shard (bad_moves = 0) and the moved fraction
    // is ~1/17 of the corpus (vs ~16/17 for mod-N resharding)
    "q283_rendezvous" -> ((s, d) => {
      val a = t(s, d, "documents").select(col("doc_id"),
        Sampling.rendezvousShard(col("doc_id"), 16).as("s16"),
        Sampling.rendezvousShard(col("doc_id"), 17).as("s17"))
      a.agg(count(lit(1)).as("n_docs"),
        sum(when(col("s16") =!= col("s17"), 1L).otherwise(0L)).as("n_moved"),
        sum(when(col("s16") =!= col("s17") && col("s17") =!= 16L, 1L)
          .otherwise(0L)).as("bad_moves"),
        expr("sum(CASE WHEN s16 <> s17 THEN 1000000 ELSE 0 END) div count(1)")
          .as("moved_ppm"))
    }),

    // Export shard manifest: shuffleExport's shard assignment + an
    // order-independent per-shard content checksum (bit_xor of 60-bit
    // md5(id|payload)) — the artifact that certifies a re-export
    // byte-equivalent shard-by-shard on any cluster/parallelism.
    // The oracle recomputes assignment AND checksum from scratch in
    // DuckDB: two engines, two partitionings, identical manifests
    "q284_shard_manifest" -> ((s, d) => {
      val assigned = Sampling.shuffleExport(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", nShards = 8, seed = "m1")
      Sampling.shardManifest(assigned, "shard", "doc_id", "text")
        .select(col("shard"), col("n_rows"), col("min_id"), col("max_id"),
          col("checksum"))
        .orderBy("shard")
    }),

    // Unicode-script detection: docs salted with Cyrillic/Greek/CJK
    // runs sized relative to their own length (FLOOR-divided, so both
    // engines truncate identically), then per-script char counts +
    // dominant-script label — the routing signal for per-script
    // tokenizers and mixed-script spam flags
    "q285_script_mix" -> ((s, d) => {
      val salted = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 1,
            expr("repeat('привет мир ', CAST(FLOOR(length(text) / 8) AS INT))"))
          .when(col("doc_id") % 4 === 2,
            expr("repeat('αβγδ εζηθ ', CAST(FLOOR(length(text) / 40) AS INT))"))
          .when(col("doc_id") % 4 === 3,
            expr("repeat('数据处理引擎 ', CAST(FLOOR(length(text) / 12) AS INT))"))
          .otherwise(lit(""))).as("txt"))
      val to = graft.operators.TextOps
      salted.select(col("doc_id"),
          to.scriptCount(col("txt"), "A-Za-z").as("n_latin"),
          to.scriptCount(col("txt"), "\\x{0400}-\\x{04FF}").as("n_cyr"),
          to.scriptCount(col("txt"), "\\x{0370}-\\x{03FF}").as("n_greek"),
          to.scriptCount(col("txt"), "\\x{4E00}-\\x{9FFF}").as("n_cjk"))
        .select(col("doc_id"), col("n_latin"), col("n_cyr"), col("n_greek"),
          col("n_cjk"),
          to.dominantScript(col("n_latin"), col("n_cyr"), col("n_greek"),
            col("n_cjk")).as("script"))
        .orderBy("doc_id")
    }),

    // Cohen's kappa between two deterministic "annotators" (length
    // rule vs mean-word-length rule) — the inter-annotator agreement
    // statistic a labeling pipeline reports before trusting a rubric.
    // Counts are exact integers; kappa is one fixed double expression
    // over them, so the value is engine-independent
    "q286_kappa" -> ((s, d) => {
      val to = graft.operators.TextOps
      val lab = t(s, d, "documents").select(
        (length(col("text")) >= 600).cast("int").as("a"),
        (to.avgWordLenCol(col("text")) >= 5.0).cast("int").as("b"))
      lab.agg(count(lit(1)).as("n"),
          sum(col("a")).cast("bigint").as("n_a"),
          sum(col("b")).cast("bigint").as("n_b"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"))
        .select(col("n"), col("n_a"), col("n_b"), col("n_agree"),
          round((col("n_agree") / col("n")
            - (col("n_a") / col("n") * (col("n_b") / col("n"))
              + (lit(1) - col("n_a") / col("n"))
                * (lit(1) - col("n_b") / col("n"))))
            / (lit(1) - (col("n_a") / col("n") * (col("n_b") / col("n"))
              + (lit(1) - col("n_a") / col("n"))
                * (lit(1) - col("n_b") / col("n")))), 4).as("kappa"))
    }),

    // Benford first-digit audit over lineitem prices (in exact cents)
    // — the data-quality screen for fabricated numeric columns:
    // observed per-digit ppm vs the Benford expectation
    // floor(log10(1+1/d)·1e6), both integer-exact
    "q287_benford" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(substring(round(col("l_extendedprice") * 100, 0)
          .cast("bigint").cast("string"), 1, 1).cast("bigint").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .select(col("digit"), col("n"),
          expr("n * 1000000 div SUM(n) OVER ()").as("obs_ppm"),
          floor(log10(lit(1.0) + lit(1.0) / col("digit")) * 1000000)
            .cast("bigint").as("exp_ppm"))
        .orderBy("digit")),

    // Host-level link graph from crawled HTML: href extraction
    // (regexp_extract_all group 1), host parse, (src_host, dst_host)
    // edge weights — the web-graph signal curation pipelines feed into
    // centrality/quality scoring. Fabricated pages give each doc 2–3
    // deterministic outlinks; the oracle extracts with the same RE2
    // pattern over the same fabricated pages
    "q288_link_graph" -> ((s, d) => {
      val h = (e: org.apache.spark.sql.Column) =>
        concat(lit("h"), pmod(e, lit(20L)).cast("string"))
      val page = concat(
        lit("<p>see <a class=\"x\" href=\"http://"),
        h(col("doc_id") * 7 + 1), lit(".com/a\">one</a> and "),
        lit("<a href=\"https://"), h(col("doc_id") * 13 + 5),
        lit(".org/b?q=1\">two</a>"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" plus <a href=\"http://"), h(col("doc_id") + 3),
            lit(".net/c\">three</a>"))).otherwise(lit("")),
        lit("</p>"))
      t(s, d, "documents")
        .select(concat(lit("s"), pmod(col("doc_id"), lit(10L)).cast("string"))
            .as("src_host"),
          explode(graft.operators.TextOps.htmlLinks(page)).as("url"))
        .select(col("src_host"),
          regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("dst_host"))
        .groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy("src_host", "dst_host")
    }),

    // HTML table → relation: recover (row_idx, col_idx, cell) tuples
    // from fabricated pages with header rows, nested inline tags,
    // entities, and a conditional extra row — the structured-data
    // recovery step for crawled tables. Two generator stages
    // (rows, then cells), both 1-based to match the oracle's
    // index lambdas; cell text cleaned by the htmlToText entity chain
    "q289_table_extract" -> ((s, d) => {
      val to = graft.operators.TextOps
      val tbl = concat(
        lit("<table class=\"data\"><tr><th>key</th><th> val </th></tr>"),
        lit("<tr><td>a"), pmod(col("doc_id"), lit(7L)).cast("string"),
        lit("</td><td><b>"), pmod(col("doc_id") * 3, lit(11L)).cast("string"),
        lit("</b></td></tr>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<tr><td>b&amp;c</td><td>"),
            pmod(col("doc_id"), lit(5L)).cast("string"),
            lit("</td></tr>"))).otherwise(lit("")),
        lit("</table>"))
      t(s, d, "documents")
        .select(col("doc_id"), posexplode(to.htmlTableRows(tbl))
          .as(Seq("r0", "row")))
        .select(col("doc_id"), (col("r0") + 1).cast("bigint").as("row_idx"),
          posexplode(to.htmlRowCells(col("row"))).as(Seq("c0", "cell0")))
        .select(col("doc_id"), col("row_idx"),
          (col("c0") + 1).cast("bigint").as("col_idx"),
          to.cellText(col("cell0")).as("cell"))
        .orderBy("doc_id", "row_idx", "col_idx")
    }),

    // Kolmogorov–Smirnov distance between the click and purchase
    // value distributions — the drift test a pipeline runs between
    // corpus versions / traffic segments. Exact-integer form: the
    // sup is over |F1·n2 − F2·n1| numerators (DECIMAL-routed per the
    // skew-advisor lesson), one division at the end → ks_ppm is
    // engine-independent. The cumulative window runs over the
    // DISTINCT-value relation (≪ corpus after the per-value
    // aggregation), not the raw rows
    "q290_ks_test" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val per = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("c1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c2"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = per.select(sum(col("c1")).over(w).as("f1"),
        sum(col("c2")).over(w).as("f2"))
      val tot = per.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      cum.crossJoin(broadcast(tot))
        .groupBy(col("n1"), col("n2"))
        .agg(max(expr("abs(CAST(f1 AS DECIMAL(38,0)) * n2 "
          + "- CAST(f2 AS DECIMAL(38,0)) * n1)")).as("num"))
        .select(col("n1"), col("n2"),
          expr("CAST(num * 1000000 div (CAST(n1 AS DECIMAL(38,0)) * n2) "
            + "AS BIGINT)").as("ks_ppm"))
    }),

    // Gini concentration of per-source document counts — the
    // governance metric for "is the corpus dominated by a few
    // sources". Exact rational form on ascending-rank weighted sums:
    // gini_ppm = (2·Σi·cᵢ − (n+1)·Σc)·1e6 div (n·Σc), DECIMAL-routed
    "q291_source_gini" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, d, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("c"))
      val ranked = c.withColumn("i",
        row_number().over(Window.orderBy(col("c"), col("source")))
          .cast("bigint"))
      ranked.agg(count(lit(1)).as("n_sources"), sum(col("c")).as("total_docs"),
          sum(expr("CAST(i AS DECIMAL(38,0)) * c")).as("s"))
        .select(col("n_sources"), col("total_docs"),
          expr("CAST((2 * s - (n_sources + 1) * CAST(total_docs AS "
            + "DECIMAL(38,0))) * 1000000 div (n_sources * "
            + "CAST(total_docs AS DECIMAL(38,0))) AS BIGINT)").as("gini_ppm"))
    }),

    // Unicode normalization ahead of dedup: one word per doc appears
    // as plain ASCII, composed "café" (U+00E9), or NFD-decomposed
    // "cafe" + U+0301 by doc_id residue — three raw byte forms per
    // source. NFC (native codegen UnicodeNormalize) collapses the two
    // accent spellings; the NFD-strip-recompose accent fold collapses
    // all three. Counts certified against DuckDB's nfc_normalize /
    // strip_accents
    "q292_nfc_dedup" -> ((s, d) => {
      val tf = graft.functions.TextFunctions
      val v = when(col("doc_id") % 3 === 0, "cafe")
        .when(col("doc_id") % 3 === 1, "café") // composed U+00E9
        .otherwise("café") // decomposed e + U+0301
      t(s, d, "documents").select(col("source"), v.as("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("w")).as("raw_forms"),
          countDistinct(tf.unicodeNormalize(col("w"), "NFC"))
            .as("nfc_forms"),
          countDistinct(tf.foldAccents(col("w"))).as("folded_forms"))
        .orderBy("source")
    }),

    // Incremental manifest maintenance: manifest(corpus∖delta) ⊕
    // manifest(delta) must equal manifest(corpus) EXACTLY (counts add,
    // spans least/greatest, XOR checksums compose) — the oracle
    // recomputes the full manifest from scratch in DuckDB, so the
    // incremental path is certified equivalent cross-engine
    "q293_manifest_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      def m(df: DataFrame) = Sampling.shardManifest(
        Sampling.shuffleExport(df, "doc_id", nShards = 16, seed = "m2"),
        "shard", "doc_id", "text")
      Sampling.combineManifests(
          m(docs.filter(col("doc_id") % 10 =!= 0)),
          m(docs.filter(col("doc_id") % 10 === 0)))
        .orderBy("shard")
    }),

    // Spark 4 collation-aware dedup keys: ICU collations make case/
    // accent insensitivity a property of the COLUMN TYPE, so group-by,
    // join, and countDistinct fold variants inside the hash key with
    // no materialized normalized copy — vs q292's explicit fold, which
    // this query certifies against (UNICODE_CI_AI must agree with
    // lower(strip_accents(nfc(w)))). Five raw byte forms per source:
    // two case variants, composed/decomposed accents, and upper-accent
    "q294_collation_dedup" -> ((s, d) => {
      val w = when(col("doc_id") % 5 === 0, "Cafe")
        .when(col("doc_id") % 5 === 1, "caf\u00e9") // NFC composed
        .when(col("doc_id") % 5 === 2, "cafe\u0301") // NFD decomposed
        .when(col("doc_id") % 5 === 3, "CAFE")
        .otherwise("CAF\u00c9") // upper, composed
      t(s, d, "documents").select(col("source"), w.as("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("w")).as("raw_forms"),
          countDistinct(collate(col("w"), "UTF8_LCASE")).as("lcase_forms"),
          countDistinct(collate(col("w"), "UNICODE_CI_AI")).as("ci_ai_forms"))
        .orderBy("source")
    }),

    // XML source coverage (Spark 4 ships the former spark-xml as a
    // core format): write the corpus as <doc> rows, read back with an
    // explicit schema, and certify BYTE-IDENTITY of every (doc_id,
    // text) pair through the escape/unescape roundtrip with the
    // manifest checksum (count + XOR of hash60(doc_id||'|'||text) per
    // lang) — the oracle computes the same checksum from the parquet
    // ground truth, so one flipped character anywhere fails the gate
    "q295_xml_roundtrip" -> ((s, d) =>
      s.read.option("rowTag", "doc")
        .schema("doc_id BIGINT, text STRING, lang STRING")
        .format("xml").load(xmlDocsFor(s, d))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(CAST(" +
            "conv(substring(md5(concat(doc_id, '|', text)), 1, 15), 16, 10)" +
            " AS BIGINT))").as("checksum"))
        .orderBy("lang")),

    // Hashed-n-gram linear classifier inference (the fastText trick):
    // score = Σ over char bigrams of ((hash60(gram) mod 2001) - 1000),
    // one codegen kernel call per row — model scoring as a narrow
    // pass, no shuffle until the per-source rollup. The oracle replays
    // the identical hash arithmetic in DuckDB over an unnested
    // position list, so every per-document score is certified exact
    "q296_hash_classifier" -> ((s, d) => {
      val score = graft.functions.TextFunctions
        .hashedNgramScore(col("text"), 2, 2001)
      t(s, d, "documents")
        .select(col("source"), score.as("score"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_pos"),
          sum(col("score")).as("sum_score"))
        .orderBy("source")
    }),

    // WARC ingestion (ISO 28500 — the format web corpora arrive in;
    // Common Crawl is ~100 TB of .warc.gz per crawl): binaryFile scan
    // over mixed plain/gzip shards, pure-JDK record walk scan-side,
    // then byte-identity of every payload certified per lang via the
    // XOR-of-hash60 manifest checksum against the parquet ground
    // truth. n_shards pins that shard attribution survived the walk
    "q298_warc_ingest" -> ((s, d) =>
      graft.sources.Warc.ingest(s, warcShardDir(s, d))
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "^http://ex/([a-z]+)/", 1)
            .as("lang"),
          regexp_extract(col("target_uri"), "/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("content").cast("string").as("text"),
          col("shard"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("shard")).as("n_shards"),
          expr("bit_xor(CAST(" +
            "conv(substring(md5(concat(doc_id, '|', text)), 1, 15), 16, 10)" +
            " AS BIGINT))").as("checksum"))
        .orderBy("lang")),

    // Content-defined chunking (FastCDC/LBFS lineage): cut where a
    // rolling 8-gram's hash60 lands in residue class 0 mod 64, so
    // boundaries REALIGN after any insertion/deletion — the dedup
    // primitive for corpora of near-identical revisions (fixed-size
    // blocks would shift every boundary after one edit). One codegen
    // kernel call per doc; chunk stats certified cross-engine,
    // including the concatenation invariant (sum_chunk_chars equals
    // corpus chars exactly)
    "q300_cdc_chunks" -> ((s, d) => {
      val chunks = t(s, d, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), explode(graft.functions.TextFunctions
          .cdcChunks(col("text"), 8, 64)).as("chunk"))
      val perChunk = chunks.groupBy(col("chunk"))
        .agg(count(lit(1)).as("c"))
      chunks.agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk")).as("n_distinct_chunks"),
          sum(length(col("chunk"))).as("sum_chunk_chars"))
        .crossJoin(perChunk.agg(max(col("c")).as("max_dup")))
    }),

    // CDC chunk-overlap near-dup: plant edited copies (a prefix edit —
    // the case that shifts EVERY fixed-size block boundary), chunk
    // both, suppress common chunks (df > 32, the prefix-filter move
    // that bounds join fan-out — the bound must exceed the corpus's
    // own duplication factor or every genuinely-shared chunk is
    // suppressed; sf1's 10-20x replicated corpus taught that) then
    // pair docs by shared-chunk count
    // and flag containment >= 50% in exact ppm (pairs need >= 3
    // chunks each — single-chunk docs are noise). Planted pairs are
    // found whenever the doc spans at least one boundary (realignment
    // starts at the first cut past the edit); the found-vs-planted
    // ratio is itself part of the certified output, and the oracle
    // re-derives every pair cross-engine
    "q302_cdc_neardup" -> ((s, d) => {
      val tf = graft.functions.TextFunctions
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat(lit("EDIT v2 "), col("text")).as("text")))
      val ch = corpus.filter(length(col("text")) > 0)
        .select(col("doc_id"),
          explode(tf.cdcChunks(col("text"), 8, 64)).as("chunk"))
        .filter(length(col("chunk")) >= 16)
        .distinct()
      val rare = ch.join(
        ch.groupBy(col("chunk"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") <= 32), Seq("chunk"))
      val perDoc = rare.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"))
      val pairs = rare.select(col("doc_id").as("a"), col("chunk"))
        .join(rare.select(col("doc_id").as("b"), col("chunk")), Seq("chunk"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("shared"))
        .join(perDoc.select(col("doc_id").as("a"), col("n_chunks").as("na")),
          Seq("a"))
        .join(perDoc.select(col("doc_id").as("b"), col("n_chunks").as("nb")),
          Seq("b"))
        .filter(least(col("na"), col("nb")) >= 3)
        .withColumn("containment_ppm",
          expr("shared * 1000000 div least(na, nb)"))
        .withColumn("neardup", col("containment_ppm") >= 500000)
      pairs.agg(
          count(lit(1)).as("n_candidate_pairs"),
          coalesce(sum(when(col("neardup"), 1L).otherwise(0L)), lit(0L))
            .as("n_neardup"),
          max(col("shared")).as("max_shared"),
          coalesce(sum(when(
            col("neardup") && col("b") === col("a") + 1000000000L,
            1L).otherwise(0L)), lit(0L)).as("n_planted_found"))
        .crossJoin(corpus.filter(col("doc_id") >= 1000000000L)
          .agg(count(lit(1)).as("n_planted")))
    }),

    // Index-backed phrase search: q127's exact result from the
    // persisted positional inverted index ALONE — the corpus is never
    // scanned; only the two phrase terms' hash cells are read
    // (partition pruning on the constant-folded cell predicate,
    // pinned in InvertedIndexSpec) and adjacency is an equi-join on
    // (doc_id, start). Shares q127's oracle: index path == scan path
    // is the correctness contract
    "q303_index_phrase" -> ((s, d) =>
      graft.operators.InvertedIndex.phraseQuery(
          s, invIdxDir(s, d), Seq("hash", "join"))
        .orderBy("doc_id")),

    // Index-backed BM25: q55's ranked retrieval answered from the
    // postings cells + the norms sidecar alone (tf/df from pruned
    // cells, dl semi-join-pruned); shares q55's oracle — the full
    // search surface (phrase q303, boolean q304, ranked q305) now
    // runs corpus-scan-free
    "q305_index_bm25" -> ((s, d) =>
      graft.operators.InvertedIndex.bm25Query(
          s, invIdxDir(s, d), Seq("vector", "join", "data"), topN = 20)),

    // Incremental index append: the base index (90% of the corpus)
    // absorbs the remaining 10% via append-mode writes into the same
    // cell layout (q198's IVF-append pattern on the text axis); the
    // phrase query over the appended index must equal the full-corpus
    // scan result — q127's oracle certifies append == rebuild
    "q306_index_append" -> ((s, d) =>
      graft.operators.InvertedIndex.phraseQuery(
          s, invIdxAppendDir(s, d), Seq("hash", "join"))
        .orderBy("doc_id")),

    // Index-backed proximity: q192's within-5-positions co-occurrence
    // from the two terms' pruned cells alone; shares q192's oracle
    "q307_index_proximity" -> ((s, d) =>
      graft.operators.InvertedIndex.proximityQuery(
          s, invIdxDir(s, d), "hash", "join", window = 5)
        .orderBy("doc_id")),

    // Multi-epoch dataloader order: each epoch is a fresh seeded
    // permutation (seed = "ep0"/"ep1" through the q268 exporter), so
    // the model never sees the same batch order twice while every
    // epoch remains bit-reproducible. Certified per epoch: an ORDER-
    // INVARIANT content checksum (must be identical across epochs —
    // same corpus) and an ORDER-SENSITIVE placement checksum over
    // (doc, shard, rank) (must differ — genuinely different
    // permutation); both recomputed exactly by the oracle
    "q311_epoch_shuffle" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      def epoch(e: Int): DataFrame = {
        val ex = Sampling.shuffleExport(docs, "doc_id", nShards = 8,
          seed = s"ep$e")
        val rank = row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("skey"))) - 1
        ex.select(col("doc_id"), col("text"), col("shard"),
            rank.cast("long").as("rank"))
          .groupBy()
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("content_ck"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "shard, '|', rank)), 1, 15), 16, 10) AS BIGINT))")
              .as("order_ck"))
          .select(lit(e.toLong).as("epoch"), col("n_rows"),
            col("content_ck"), col("order_ck"))
      }
      epoch(0).unionAll(epoch(1)).orderBy("epoch")
    }),

    // Transaction-log table (the lakehouse commit protocol reduced to
    // its public essentials): immutable parquet under data/, an
    // ordered JSON commit log as the only source of truth, CREATE_NEW
    // as the atomic commit point. Three commits (append 90%, append
    // 10%, predicate-delete % 7 == 0 rewriting ONLY affected files);
    // snapshots AS OF v2 and v3 certified against closed-form oracles
    // — time travel at file granularity, no data rewritten for it
    "q312_txlog" -> ((s, d) => {
      val dir2 = txTableDir(s, d)
      def roll(v: Int): DataFrame =
        graft.operators.TxTable.snapshot(s, dir2, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("checksum"))
      // v4 is the compaction commit: content must equal v3 exactly
      // (OPTIMIZE may never change a row), and older versions still
      // resolve — time travel survives compaction. v5 is the MERGE
      // (upsert) commit: same-key rows replaced, new keys appended
      roll(2).unionAll(roll(3)).unionAll(roll(4)).unionAll(roll(5))
        .orderBy("version")
    }),

    // The SAME rollups through the SQL-ONLY surface: the txlog V2
    // catalog resolves `txlog.`root`` and native `VERSION AS OF v`
    // time travel (sources/TxLogCatalog.scala), so a SQL user needs
    // no Scala API at all — shares q312's oracle: the surface may
    // not change a byte
    "q316_txlog_sql" -> ((s, d) => {
      val dir2 = txTableDir(s, d)
      def roll(v: Int): DataFrame =
        s.sql(s"SELECT CAST($v AS BIGINT) AS version, " +
          "COUNT(*) AS n_rows, " +
          "bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', text)), " +
          "1, 15), 16, 10) AS BIGINT)) AS checksum " +
          s"FROM txlog.`$dir2` VERSION AS OF $v")
      roll(2).unionAll(roll(3)).unionAll(roll(4)).unionAll(roll(5))
        .orderBy("version")
    }),

    // Change data feed over the transaction-log table (Delta's
    // `table_changes` contract): NET row-level inserts/deletes per
    // commit in (2, latest], derived from the log alone — appends
    // emit their added files, rewrites diff ONLY their own files
    // (survivor rows cancel, so no rewrite churn), and the OPTIMIZE
    // commit contributes NOTHING because its log entry carries
    // dataChange=false. Certified per (version, change_type) with a
    // content checksum: v3 = the predicate-delete's rows, v5 = the
    // merge's old/new rows + brand-new keys, v6 = the appended rows,
    // v4 absent. Feed cost rides the changed data, never table size
    "q319_txlog_cdf" -> ((s, d) => {
      val dir2 = txTableDir(s, d)
      graft.operators.TxTable.changes(s, dir2, fromVersion = 2)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
        .orderBy("version", "change_type")
    }),

    // The keyed four-type feed: delete+insert pairs on the same
    // doc_id within one commit reclassify as update_preimage /
    // update_postimage (one window over the FEED, rides |changes|) —
    // so the v5 MERGE's updates are distinguishable from its brand-new
    // keys, while v3's deletes and v6's inserts pass through unchanged
    "q320_txlog_cdf_updates" -> ((s, d) => {
      val dir2 = txTableDir(s, d)
      graft.operators.TxTable.changesWithUpdates(s, dir2,
          fromVersion = 2, keyCol = "doc_id")
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
        .orderBy("version", "change_type")
    }),

    // Incremental view maintenance OFF the change feed: per-lang
    // count + char-sum materialized at v2, then advanced to v6 purely
    // from the feed (+row for insert, -row for delete — both
    // retractable aggregates), never re-scanning the table. The
    // oracle computes the TRUE v6 state from scratch, so the
    // incremental path must land on it exactly — the CDF-consumer
    // deployment shape: downstream aggregates ride |changes| per
    // refresh, not table size
    "q321_txlog_ivm" -> ((s, d) => {
      val dir2 = txTableDir(s, d)
      val state2 = graft.operators.TxTable.snapshot(s, dir2, Some(2))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n0"),
          sum(length(col("text")).cast("long")).as("len0"))
      val delta = graft.operators.TxTable.changes(s, dir2, fromVersion = 2)
        .withColumn("sign",
          when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .groupBy(col("lang"))
        .agg(sum(col("sign")).as("dn"),
          sum(col("sign") * length(col("text"))).as("dlen"))
      state2.join(delta, Seq("lang"), "full_outer")
        .select(col("lang"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_docs"),
          (coalesce(col("len0"), lit(0L)) + coalesce(col("dlen"), lit(0L)))
            .as("sum_len"))
        .filter(col("n_docs") > 0)
        .orderBy("lang")
    }),

    // DESCRIBE HISTORY through SQL: the commit log as a relation via
    // the txlog catalog's `#history` identifier (a LocalScan — audit
    // queries launch no job; the log is driver-sized by construction).
    // The fixture's shape is closed-form: v3 delete and v5 merge carry
    // removes, v4 OPTIMIZE is the one dataChange=false commit, v6 is
    // a plain append. File COUNTS are layout-dependent (write
    // coalescing), so the certified surface is the boolean shape
    "q329_txlog_history" -> ((s, d) => {
      val dir2 = txTableDir(s, d)
      s.sql("SELECT CAST(version AS BIGINT) AS version, " +
        "n_adds > 0 AS has_adds, n_removes > 0 AS has_removes, " +
        s"data_change FROM txlog.`$dir2#history` ORDER BY version")
    }),

    // Data skipping on the transaction-log table: per-file min/max
    // stats (written as a parquet sidecar at commit time — Delta's
    // stats-in-the-log contract) let a selective predicate scan only
    // the files whose [min,max] admits a match; the predicate is
    // ANALYZED and translated to a stats predicate (AND keeps the
    // translatable side, OR needs both, unknown subtrees never prune
    // — the soundness rule), so skipping can never change an answer.
    // Result must equal the plain filter exactly (that IS the oracle);
    // the file-count pin lives in TxTableSpec
    "q323_txlog_skipping" -> ((s, d) => {
      val dir2 = txStatsDir(s, d)
      def roll(label: String, pred: org.apache.spark.sql.Column) =
        graft.operators.TxTable.snapshotWhere(s, dir2, pred)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(label).as("probe"), col("n_rows"), col("checksum"))
      roll("range", col("doc_id") >= 10L && col("doc_id") <= 99L)
        .unionAll(roll("in_list", col("doc_id").isin(5L, 500L, 5000L)))
        .unionAll(roll("mixed",
          (col("doc_id") < 8L || col("doc_id") > 4000L) &&
            col("lang") =!= ""))
        .orderBy("probe")
    }),

    // q331's REMOVAL transform (the Lee et al. dedup applied, not
    // just reported): cleaned text with every duplicated region cut
    // keep-first — the window occurrence at the minimum (doc<<20|pos)
    // keeps its characters, every other occurrence (including a
    // doc's own internal repeats) loses them; the per-character rule
    // is exact, so the oracle reconstructs the identical strings
    "q336_suffix_removal" -> ((s, d) =>
      graft.operators.SuffixDedup
        .removeDuplicatedSpans(t(s, d, "documents"), "doc_id", "text",
          window = 32)
        .orderBy("doc_id")),

    // winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD 2003,
    // the MOSS index): ~2n/(t-k) selected k-gram hashes per corpus,
    // with the paper's guarantee that any exact match >= t chars
    // shares a fingerprint — the INCREMENTAL exact-substring
    // detection store (q331 answers the wholesale question, this one
    // the delta question). Golden-pinned (xxhash64-defined selection)
    "q338_winnow_fp" -> ((s, d) =>
      graft.operators.Winnow
        .fingerprints(t(s, d, "documents"), "doc_id", "text",
          k = 8, t = 32)
        .select(col("did").as("doc_id"), col("pos"), col("fp"))
        .orderBy("doc_id", "pos")),

    // delta detection against the persisted fingerprint index: odd
    // docs probe the even-doc store — shared-fingerprint counts and
    // distinct diagonals per candidate pair, corpus text never
    // re-read. Oracle re-derives the whole join from the q338 pin
    "q339_winnow_matches" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val idx = graft.operators.Winnow
        .fingerprints(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", k = 8, t = 32)
      graft.operators.Winnow
        .matchesAgainst(idx, docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", k = 8, t = 32)
        .orderBy("a", "b")
    }),

    // exact-substring-aware MERGE (q334's protocol on the exact-match
    // axis): odd docs ingest against the persisted winnowing index of
    // the surviving evens — any batch row sharing an exact >= 32-char
    // run with the corpus drops (no false negatives at the threshold,
    // the winnowing guarantee), greedy smaller-id-wins within the
    // batch, replay is a version no-op (asserted). Oracle re-derives
    // the whole merge from the q338 fingerprint pin
    "q340_winnow_merge" -> ((s, d) =>
      graft.operators.TxTable.snapshot(s, exactMergeDir(s, d))
        .select(col("doc_id")).orderBy("doc_id")),

    // duplicate GROUPS from the winnow matches: shared-fingerprint
    // pairs (stop-fp rule applied over the whole corpus) closed into
    // connected components by the pointer-doubling pack — the
    // "which documents form one template family" rollup on the
    // exact-match axis (q52's shape over q339's edges). Oracle walks
    // the same edges from the q338 pin with a recursive CTE
    "q341_winnow_groups" -> ((s, d) => {
      val fp = graft.operators.Winnow
        .fingerprints(t(s, d, "documents"), "doc_id", "text",
          k = 8, t = 32).cache()
      val edges = graft.operators.Winnow.matchesSigs(fp, fp)
        .filter(col("a") < col("b")).select(col("a"), col("b"))
      graft.operators.Components
        .connectedComponents(edges, "a", "b")
        .orderBy("id")
    }),

    // the MinHash signature table UNDER q334, exploded to scalar
    // (id, position, hash) rows and golden-pinned (xxhash64-defined)
    // — the stored artifact q334's SQL oracle re-derives the merge
    // from, making the near-dup MERGE a cross-engine replay rather
    // than a pin read-back
    "q333_neardup_sigs" -> ((s, d) =>
      graft.operators.Dedup
        .minHashSignature(t(s, d, "documents"), "doc_id", "text",
          n = 3, numHashes = 64)
        .select(col("id"), posexplode(col("sig")).as(Seq("i0", "h")))
        .select(col("id"), (col("i0") + 1).cast("long").as("i"), col("h"))
        .orderBy("id", "i")),

    // near-dup-aware MERGE into the txlog table (the two flagship
    // layers composed): even docs ingest first, the same batch
    // REPLAYS as a version no-op (asserted in the fixture), then odd
    // docs ingest against the persisted signature index — corpus
    // near-dups (banded LSH >= 0.5 estimated jaccard) and
    // batch-internal greedy-pair dups drop; the table ends with
    // exactly the keep-first survivors. Oracle re-derives the whole
    // merge in SQL from the stored signatures (band = 4-slice full
    // agreement, est jaccard = agreeing positions >= 32/64)
    "q334_neardup_merge" -> ((s, d) =>
      graft.operators.TxTable.snapshot(s, nearDupMergeDir(s, d))
        .select(col("doc_id")).orderBy("doc_id")),

    // OPTIMIZE ZORDER (q323's two-axis sibling): after z-order
    // compaction each file owns a tight box in BOTH (doc_id, n_chars),
    // so the minmax sidecars prune on EITHER key — a pure-length
    // predicate skips files the v1 doc_id-clustered layout must read
    // (that layout's every file spans the whole length domain). Rows +
    // checksum certify skip==filter in SQL; the pruning claims ride as
    // booleans (file counts depend on sampled range boundaries, the
    // INEQUALITIES do not): z_pruned = the z layout skipped at least
    // one file; z_beats_linear = it kept strictly fewer files than
    // time-traveling to the v1 linear layout (claimed only where the
    // one-axis layout provably cannot prune)
    "q332_txlog_zorder" -> ((s, d) => {
      val dir2 = txZorderDir(s, d)
      import org.apache.spark.sql.Column
      def probe(label: String, pred: Column,
          claimBeats: Boolean): org.apache.spark.sql.DataFrame = {
        val (keptZ, skippedZ) =
          graft.operators.TxTable.pruneFiles(s, dir2, pred)
        val (keptL, _) =
          graft.operators.TxTable.pruneFiles(s, dir2, pred, Some(1))
        val beats: Column =
          if (claimBeats) lit(keptZ.size < keptL.size)
          else lit(null).cast("boolean")
        graft.operators.TxTable.snapshotWhere(s, dir2, pred)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(label).as("probe"), col("n_rows"), col("checksum"),
            lit(skippedZ.nonEmpty).as("z_pruned"),
            beats.as("z_beats_linear"))
      }
      probe("x_range", col("doc_id") >= 10L && col("doc_id") <= 25L,
          claimBeats = false)
        .unionAll(probe("y_range",
          col("n_chars") >= 100L && col("n_chars") <= 140L,
          claimBeats = true))
        .unionAll(probe("box",
          col("doc_id") > 5L &&
            col("n_chars") >= 100L && col("n_chars") <= 140L,
          claimBeats = true))
        .orderBy("probe")
    }),

    // Deletion vectors (merge-on-read delete — Delta's DVs / Iceberg
    // position deletes): v2/v3 delete by writing ONLY (file, pos)
    // sidecars, the fixture asserts the data-file set is untouched,
    // and snapshots anti-join the DV at scan time; v4 PURGE
    // materializes the DVs into rewritten files without changing a
    // visible row. At 100 TB this is the difference between a 0.1%
    // delete writing kilobytes and re-staging terabytes. The oracle
    // recomputes every version's visible rows from the base table
    "q342_txlog_dv" -> ((s, d) => {
      val dir2 = txDvDir(s, d)
      def roll(v: Int): DataFrame =
        graft.operators.TxTable.snapshot(s, dir2, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("checksum"))
      roll(1).unionAll(roll(2)).unionAll(roll(3)).unionAll(roll(4))
        .orderBy("version")
    }),

    // RESTORE TABLE ... TO VERSION (Delta's RESTORE): v5 rolls the
    // live file set AND the deletion-vector state back to v2's as ONE
    // new commit — no data moves, versions after the restore point
    // stay queryable, and the restore itself is history. The oracle
    // recomputes v3 (rewriting delete), v4 (merge-on-read delete),
    // and v5 (= v2's full content) from the base table
    "q343_txlog_restore" -> ((s, d) => {
      val dir2 = txRestoreDir(s, d)
      def roll(v: Int): DataFrame =
        graft.operators.TxTable.snapshot(s, dir2, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("checksum"))
      roll(3).unionAll(roll(4)).unionAll(roll(5)).orderBy("version")
    }),

    // Shallow CLONE (zero-copy): the clone's first commit references
    // the source's live files (and its DV) by absolute path — no byte
    // copied; a delete on the clone rewrites affected files INTO the
    // clone (copy-on-write) while the source stays untouched. The
    // oracle recomputes both sides' visible rows from the base table
    "q344_txlog_clone" -> ((s, d) => {
      val (src, dst) = txCloneDirs(s, d)
      def roll(side: String, dir2: String): DataFrame =
        graft.operators.TxTable.snapshot(s, dir2)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(side).as("side"), col("n_rows"), col("checksum"))
      roll("clone", dst).unionAll(roll("src", src)).orderBy("side")
    }),

    // Lakehouse maintenance through SQL stored procedures (Spark 4's
    // DSv2 ProcedureCatalog): after a rewriting delete (v2) and a
    // merge-on-read delete (v3), `CALL txlog.restore` rolls both back,
    // `CALL txlog.optimize_small` sweeps, `CALL txlog.checkpoint`
    // snapshots the log — no Scala API touched. Certified: v2/v3
    // still time-travel; the post-maintenance table equals v1's
    // content exactly (maintenance may never change a row)
    "q356_txlog_call" -> ((s, d) => {
      val dir2 = txSqlCallDir(s, d)
      def roll(label: String, v: Option[Int]): DataFrame =
        graft.operators.TxTable.snapshot(s, dir2, v)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(label).as("stage"), col("n_rows"), col("checksum"))
      roll("a_deleted", Some(2))
        .unionAll(roll("b_dv", Some(3)))
        .unionAll(roll("c_final", None))
        .orderBy("stage")
    }),

    // MIN/MAX view maintenance — the classic NON-retractable
    // aggregate (Gupta & Mumick's self-maintainability boundary):
    // inserts fold into the old extreme for free; only groups a
    // DELETE touched recompute, restricted to their rows by one semi
    // join against the new snapshot — refresh rides |delete-touched
    // groups|, never the table. Must land exactly on the oracle's
    // from-scratch extreme of the final version
    "q355_ivm_minmax" -> ((s, d) => {
      val adir = txTableDir(s, d)
      val view = graft.operators.TxTable.snapshot(s, adir, Some(2))
        .groupBy(col("lang"))
        .agg(max(length(col("text")).cast("long")).as("len"))
      val feed = graft.operators.TxTable.changes(s, adir, 2)
        .select(col("_change_type"), col("lang"),
          length(col("text")).cast("long").as("len"))
      val snap = graft.operators.TxTable
        .snapshot(s, adir, mergeSchema = true)
        .select(col("lang"), length(col("text")).cast("long").as("len"))
      graft.operators.Ivm
        .maintainExtreme(view, feed, snap, "lang", "len", maxAgg = true)
        .select(col("lang"), col("len").as("max_len"))
        .orderBy("lang")
    }),

    // Differentially-private histogram release (Laplace mechanism
    // with the two production ingredients: per-user CONTRIBUTION
    // BOUNDING — without it sensitivity is unbounded and no finite
    // noise is private — and τ-thresholding to suppress rare buckets)
    // — completes the privacy set beside q161/q244/q272. Noise is
    // seeded (pure md5 function of (seed, bucket), inverse-CDF'd to
    // Laplace — the q154/q174 deterministic-randomness contract), so
    // the oracle replays the whole release bit-for-bit
    "q354_dp_histogram" -> ((s, d) =>
      graft.operators.Privacy.dpHistogram(
          t(s, d, "events").select(col("user_id"), col("event_id"),
            floor(col("value") * 10).cast("long").as("vb")),
          "user_id", "vb", "event_id", maxPerUser = 20, epsilon = 1.0,
          tau = 15.0, seed = "dp12")
        .orderBy("bucket")),

    // Cross-corpus contamination SPANS (Lee et al. decontamination at
    // span granularity): maximal train-side regions whose 32-char
    // substrings occur anywhere in the held-out eval split — q51/q69
    // flag whole documents, this answers WHERE the leak is so q336's
    // removal transform can cut it instead of dropping the document.
    // One shared suffix ranking over train ∪ eval; exact (class
    // equality IS substring equality, no hashing)
    "q353_contamination_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.SuffixDedup.contaminationSpans(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", window = 32)
        .orderBy("doc_id", "span_start")
    }),

    // OPTIMIZE ZORDER on THREE keys (the (tenant, date, key)
    // clustering shape): the N-way Morton interleave gives every file
    // a box in ALL dimensions, so a predicate on the SECOND or THIRD
    // key — useless under the v1 doc_id-linear layout — prunes files
    // by min/max stats alone. Result must equal the plain filter
    // (skip==filter is the oracle); pruning claims ride as
    // engine-invariant booleans, the q332 convention
    "q352_txlog_zorder3" -> ((s, d) => {
      val dir2 = txZorder3Dir(s, d)
      import org.apache.spark.sql.Column
      def probe(label: String, pred: Column,
          claimBeats: Boolean): org.apache.spark.sql.DataFrame = {
        val (keptZ, skippedZ) =
          graft.operators.TxTable.pruneFiles(s, dir2, pred)
        val (keptL, _) =
          graft.operators.TxTable.pruneFiles(s, dir2, pred, Some(1))
        val beats: Column =
          if (claimBeats) lit(keptZ.size < keptL.size)
          else lit(null).cast("boolean")
        graft.operators.TxTable.snapshotWhere(s, dir2, pred)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(label).as("probe"), col("n_rows"), col("checksum"),
            lit(skippedZ.nonEmpty).as("z_pruned"),
            beats.as("z_beats_linear"))
      }
      // 'zh' = the third key's top bucket; the box probe hits all
      // three dimensions at once
      val zh = lit(('z'.toInt * 256 + 'h'.toInt).toLong)
      probe("x_range", col("doc_id") >= 10L && col("doc_id") <= 25L,
          claimBeats = false)
        .unionAll(probe("y_range",
          col("n_chars") >= 100L && col("n_chars") <= 140L,
          claimBeats = true))
        .unionAll(probe("z_eq", col("lang_b") === zh, claimBeats = true))
        .unionAll(probe("box",
          col("doc_id") > 5L && col("n_chars") >= 100L &&
            col("n_chars") <= 140L && col("lang_b") === zh,
          claimBeats = true))
        .orderBy("probe")
    }),

    // Incremental maintenance of a JOIN view off TWO change feeds —
    // the bilinear delta rule (Blakeley 1986; the DBSP/Materialize
    // algebra): Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB with signs
    // multiplying across the join, consumed by a retractable count.
    // A = the documents txlog (delete/merge/append churn, v2→v6),
    // B = the lang-dim txlog (delete + update + unmatched insert,
    // v1→v3); the view (docs per region) materializes at the OLD pair
    // and advances purely from the feeds — every term is
    // |changes|-sized against a snapshot, never |A|×|B| — and must
    // land EXACTLY on the oracle's from-scratch join of the final
    // versions
    "q351_txlog_ivm_join" -> ((s, d) => {
      val adir = txTableDir(s, d)
      val bdir = langDimDir(s, d)
      val aOld = graft.operators.TxTable.snapshot(s, adir, Some(2))
        .select(col("doc_id"), col("lang"))
      val bOld = graft.operators.TxTable.snapshot(s, bdir, Some(1))
      val vOld = aOld.join(bOld, Seq("lang"))
        .groupBy(col("region")).agg(count(lit(1)).as("n0"))
      val dA = graft.operators.Ivm
        .signedFeed(graft.operators.TxTable.changes(s, adir, 2))
        .select(col("doc_id"), col("lang"), col("_sign"))
      val dB = graft.operators.Ivm
        .signedFeed(graft.operators.TxTable.changes(s, bdir, 1))
        .select(col("lang"), col("region"), col("_sign"))
      val delta = graft.operators.Ivm
        .deltaJoin(aOld, dA, bOld, dB, Seq("lang"))
        .groupBy(col("region")).agg(sum(col("_sign")).as("dn"))
      vOld.join(delta, Seq("region"), "full_outer")
        .select(col("region"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_docs"))
        .filter(col("n_docs") > 0)
        .orderBy("region")
    }),

    // Incremental OPTIMIZE (Delta's bin-packing minFileSize sweep):
    // compact ONLY under-sized files — the steady-state maintenance
    // job at 100 TB, where whole-live-set compaction is a non-starter
    // and streaming ingest continuously leaves small files behind.
    // Content must be identical (OPTIMIZE may never change a row),
    // the at-size file must survive BYTE-UNTOUCHED (same log name),
    // and 17 files must become 2 — file-level claims emitted as
    // engine-invariant booleans, the q332 convention
    "q350_txlog_optimize_small" -> ((s, d) => {
      val (dir2, big) = txSmallCompactDir(s, d)
      val live = graft.operators.TxTable.liveFiles(dir2)
      graft.operators.TxTable.snapshot(s, dir2)
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
        .select(col("n_rows"), col("checksum"),
          lit(live.contains(big)).as("big_survived"),
          lit(live.size == 2).as("swept_to_two"))
    }),

    // CHECK constraints (Delta's table invariants): registered before
    // any data, enforced at COMMIT time as one distributed violation
    // count per constraint — a batch with any violating row is
    // rejected WHOLE before staging (all-or-nothing; the fixture
    // asserts the rejection and that no version lands), NULL passes
    // (SQL CHECK semantics). The surviving table is certified against
    // the closed-form valid subset
    "q348_txlog_constraints" -> ((s, d) => {
      val dir2 = txConstraintDir(s, d)
      val nCs = graft.operators.TxTable.checkConstraints(dir2).size.toLong
      graft.operators.TxTable.snapshot(s, dir2)
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
        .select(col("n_rows"), col("checksum"),
          lit(nCs).as("n_constraints"))
    }),

    // Interpolated Kneser–Ney bigram model — the COUNT relation: per
    // seen bigram its count plus the per-history total, forward/
    // backward continuation counts and the global continuation total
    // (exact integers, so the model table is fully cross-engine
    // certifiable — no pin). Trained on the 90% split; top-1000 by
    // (count desc, w1, w2) keeps the report bounded and total-ordered
    "q346_kn_model" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.KneserNey
        .model(docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .orderBy(col("c2").desc, col("w1"), col("w2")).limit(1000)
    }),

    // KN scoring of the HELD-OUT 10% under the 90%-trained model —
    // the quality-filter deployment shape with real unseen bigrams
    // and OOV words. Scores are order-independent LONG sums of
    // micro-unit components with a FIXED decomposition (seen pair =
    // one quantized term; unseen pair = quantized backoff weight +
    // quantized continuation; unseen history/continuation = the fixed
    // OOV penalty), so the oracle's independent replay adds the same
    // integers. The one cross-engine double op is ln over
    // bit-identical rational operands; a 1-ulp libm divergence flips
    // a floor(1e6·x) only within 1e-10 of an integer boundary —
    // ~1e-5 aggregate risk at this model size, accepted and monitored
    // by the three-scale sweep
    "q347_kn_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // NOT cached: a cache() here was A/B'd in round 15 and LOST
      // (2.0 -> 2.9 s) — ReuseExchange already dedupes the bigram
      // shuffle across the scorer's three model reads, so the columnar
      // cache build costs more than the reduce-side replays it saves
      val m = graft.operators.KneserNey
        .model(docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      graft.operators.KneserNey
        .scoreDocs(docs.filter(col("doc_id") % 10 === 0), "doc_id",
          "text", m)
        .orderBy("doc_id")
    }),

    // Sequence packing (concat-and-chunk): the LLM-pretraining
    // dataloader op — docs dealt to 8 shards by seeded md5, laid
    // end-to-end in seeded order, token stream cut every 2048; each
    // doc's (start_off, chunk span) is a pure function of the seed,
    // so the oracle replays the packing bit-for-bit. Certified per
    // shard: doc/token totals, chunk count, placement checksum, and
    // the straddler count (docs crossing a cut — what a loader must
    // split). ONE shuffle + a per-shard running sum; shards pack in
    // parallel, exactly per-worker packing on a cluster
    "q324_seq_packing" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(TextOps.words(col("text"))).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
      graft.operators.Sampling
        .packSequences(docs, "doc_id", "n_tok",
          seqLen = 2048, nShards = 8, seed = "pack11")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          (max(col("chunk_last")) + 1).as("n_chunks"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "start_off, '|', chunk_first)), 1, 15), 16, 10) AS BIGINT))")
            .as("pack_ck"),
          sum(when(col("chunk_first") =!= col("chunk_last"), 1L)
            .otherwise(0L)).as("n_straddlers"))
        .orderBy("shard")
    }),

    // Bloom file skipping: equality pruning on a HASH-RANDOM layout,
    // where every file's [min,max] spans the id domain and minmax
    // skipping is provably useless — per-file Bloom position-sets
    // (sparse bitsets, md5-positioned identically on executor and
    // driver) admit only the files that might hold the probed keys.
    // Result must equal the plain filter exactly; the files-skipped
    // pin lives in TxTableSpec
    "q325_txlog_bloom" -> ((s, d) => {
      val dir2 = txBloomDir(s, d)
      def roll(label: String, pred: org.apache.spark.sql.Column) =
        graft.operators.TxTable.snapshotWhere(s, dir2, pred)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(label).as("probe"), col("n_rows"), col("checksum"))
      roll("point", col("doc_id") === 77L)
        .unionAll(roll("in_list", col("doc_id").isin(5L, 77L, 4001L)))
        .unionAll(roll("miss", col("doc_id") === -1L))
        .orderBy("probe")
    }),

    // Unigram-LM tokenizer TRAINING (SentencePiece's unigram
    // algorithm, hard-EM variant — BPE's counterpart, completing the
    // tokenizer-trainer family): seed vocab of frequent substrings,
    // Viterbi E-step / count M-step, shrink-toward-target pruning,
    // single chars kept for segmentability. Distributed word count →
    // in-memory EM over the word multiset (Bpe.train's exact
    // two-phase shape). The piece table is golden-pinned (scores are
    // engine floats); the APPLY path is cross-engine certified via
    // q327's independent SQL replay of the Viterbi DP
    "q326_unigram_vocab" -> ((s, d) => {
      val rows = unigramPieces(s, d)
      s.createDataFrame(rows).toDF("piece", "log_prob")
        .orderBy(col("log_prob").desc, col("piece"))
    }),

    // Unigram tokenizer APPLY, certified cross-engine: the DuckDB
    // oracle independently replays the Viterbi DP over the SAME
    // frozen piece table (an unrolled per-position argmax chain with
    // the identical tie-break: score desc, tokens asc, split start
    // asc) and must reproduce every document's segmentation
    // bit-for-bit — dp sums combine the same rounded doubles in the
    // same structural order, so float drift is impossible. The
    // engine side is the distributed broadcast + memoized narrow
    // pass (Bpe.tokenize's shape)
    "q327_unigram_tokenize" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Unigram
        .tokenize(docs, "doc_id", "text", unigramPieces(s, d))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "toks)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
        .orderBy("lang")
    }),

    // LM perplexity filtering (the CCNet/FineWeb quality gate): each
    // doc scored by its mean unigram log-prob per token under the
    // trained piece table; low-likelihood docs (gibberish, wrong
    // domain) fall below the threshold. Integer-exact by design:
    // per-word scores floor to micro-units so per-doc and per-lang
    // sums are order-independent longs, and the oracle replays the
    // SAME Viterbi DP to the same integers — every count and mean is
    // exact cross-engine, no float aggregation anywhere
    "q330_perplexity_filter" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Unigram
        .scoreDocs(docs, "doc_id", "text", unigramPieces(s, d))
        .filter(col("n_tokens") > 0)
        .withColumn("mean_lp",
          round(col("score_micro").cast("double") / col("n_tokens") / 1e6,
            4))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("mean_lp") >= -3.6, 1L).otherwise(0L))
            .as("n_kept"),
          sum(col("score_micro")).as("sum_micro"),
          sum(col("n_tokens")).as("sum_tokens"))
        .select(col("lang"), col("n_docs"), col("n_kept"),
          round(col("sum_micro").cast("double") / col("sum_tokens") / 1e6,
            4).as("mean_lp_overall"))
        .orderBy("lang")
    }),

    // EXACT substring dedup via distributed prefix doubling (the Lee
    // et al. deduplicate-text-datasets capability): maximal duplicated
    // regions = union-merged islands of duplicated 32-gram starts,
    // where gram identity comes from ceil(log2 32) = 5 Manber-Myers
    // class-doubling rounds (integer keys, n·16 bytes per shuffle)
    // instead of grouping 32-char strings (n·32 bytes once) — and NO
    // hashing, so a repeat longer than the window surfaces as ONE
    // full-length span, exact and collision-free. Oracle recomputes
    // the spans from literal substrings in SQL.
    "q331_suffix_spans" -> ((s, d) =>
      graft.operators.SuffixDedup
        .duplicatedSpans(t(s, d, "documents"), "doc_id", "text",
          window = 32)
        .orderBy("doc_id", "span_start")),

    // Hybrid retrieval over the index: q211's RRF fusion with the
    // LEXICAL leg answered by the postings artifact (q305's path)
    // instead of a corpus scan — the hybrid-search deployment shape,
    // where the dense leg is an ANN index and the lexical leg an
    // inverted index, and only rank positions meet. Must equal q211
    // exactly (shared oracle): swapping the scan for the index may
    // not move a single rank
    "q315_index_hybrid" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val terms = Seq("vector", "join", "data")
      val wAll = Window.orderBy(col("score").desc, col("doc_id"))
      val r1 = graft.operators.InvertedIndex.bm25Query(
          s, invIdxDir(s, d), terms, topN = 20)
        .withColumn("rank", row_number().over(wAll))
        .select(col("doc_id"), col("rank"))
      val toks = docs.select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("w"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val dens = toks.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("tf"))
        .join(dl, "doc_id")
        .select(col("doc_id"),
          round(col("tf").cast("double") / col("dl"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
      val r2 = dens.withColumn("rank", row_number().over(wAll))
        .select(col("doc_id"), col("rank"))
      TextOps.rrfFuse(Seq(r1, r2), "doc_id", topN = 10)
    }),

    // Schema evolution on the transaction-log table: v6 appends rows
    // carrying a `quality` column no earlier file has; a mergeSchema
    // snapshot surfaces the union schema with NULL for pre-evolution
    // rows — certified per (has_quality, n, sum) cross-engine
    "q314_tx_schema_evolution" -> ((s, d) =>
      graft.operators.TxTable.snapshot(s, txTableDir(s, d),
          Some(6), mergeSchema = true)
        .groupBy(col("quality").isNotNull.as("has_quality"))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("quality")), lit(0L)).as("sum_quality"))
        .orderBy("has_quality")),

    // Index deletes via tombstones: doc removals append to a _deletes
    // sidecar (Lucene's deleted-docs bitmap; the q221 IVF-tombstone
    // pattern on the text axis) — no postings file rewritten; queries
    // anti-join the sidecar. Result must equal the scan over the
    // surviving corpus
    "q309_index_deletes" -> ((s, d) => {
      val dir2 = invIdxDeleteDir(s, d)
      graft.operators.InvertedIndex.live(s, dir2,
          graft.operators.InvertedIndex.phraseQuery(
            s, dir2, Seq("hash", "join")))
        .orderBy("doc_id")
    }),

    // Classifier inference with an EXTERNAL weight table (the
    // production shape q296's derived weights stand in for): a
    // bounded model table — here 2048 deterministic weights, built as
    // a relation exactly as a trained model would be loaded — is
    // collected once and rides the plan to every executor inside the
    // codegen kernel. The oracle recomputes each bucket's weight
    // inline from the same formula, so every per-document score is
    // exact cross-engine
    "q310_weighted_classifier" -> ((s, d) => {
      val nB = 2048
      val wdf = s.range(nB).select(col("id").cast("int").as("bucket"),
        (graft.operators.Kmv.hash60(concat(lit("w|"), col("id")))
          % 1001 - 500).as("weight"))
      val weights = new Array[Long](nB)
      wdf.collect().foreach(r => weights(r.getInt(0)) = r.getLong(1))
      t(s, d, "documents")
        .select(col("lang"), graft.functions.TextFunctions
          .hashedNgramScoreW(col("text"), 2, weights).as("score"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score")).as("sum_score"))
        .orderBy("lang")
    }),

    // Index-backed boolean AND: q188's conjunctive query answered by
    // the postings cells alone (O(df) per term); shares q188's oracle
    // — index path == scan path
    "q304_index_boolean" -> ((s, d) =>
      graft.operators.InvertedIndex.andQuery(
          s, invIdxDir(s, d), Seq("join", "filter", "stream"))
        .orderBy("doc_id")),

    // robots.txt enforcement (RFC 9309 subset): parse per-host robots
    // bodies — comments, UA-run grouping (a group applies iff one of
    // its agents is '*'), Allow/Disallow prefixes, empty-Disallow
    // idiom — then verdict per URL by longest-prefix match (tie →
    // allow, no rule → allow). The gptbot-only group must NOT apply;
    // '/privateer' must block via raw prefix semantics; '/private/ok'
    // must out-rank '/private'. The oracle replays the ENTIRE parse +
    // verdict in DuckDB SQL, certifying the parser cross-engine
    "q299_robots_filter" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
      val robots = docs.select(col("source")).distinct()
        .select(concat(lit("ex-"), col("source"), lit(".com")).as("host"),
          concat(
            lit("# policy\nUser-agent: gptbot\nDisallow: /\n\n" +
              "User-agent: bingbot\nUser-agent: *\n" +
              "Disallow: /private\nAllow: /private/ok\n"),
            when(srcNum % 2 === 0, "Disallow: /tmp\n").otherwise(""),
            lit("Disallow:")).as("body"))
      val rules = TextOps.parseRobots(robots, "host", "body")
      val urls = docs.select(col("doc_id"), col("source"),
        concat(lit("ex-"), col("source"), lit(".com")).as("host"),
        when(expr("doc_id div 20 % 6") === 0,
            concat(lit("/a/"), col("doc_id")))
          .when(expr("doc_id div 20 % 6") === 1,
            concat(lit("/private/"), col("doc_id")))
          .when(expr("doc_id div 20 % 6") === 2,
            concat(lit("/private/ok/"), col("doc_id")))
          .when(expr("doc_id div 20 % 6") === 3,
            concat(lit("/tmp/"), col("doc_id")))
          .when(expr("doc_id div 20 % 6") === 4, lit("/"))
          .otherwise(lit("/privateer")).as("path"))
      TextOps.robotsVerdict(urls, "doc_id", "host", "path", rules)
        .join(urls.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"))
        .orderBy("source")
    }),

    // Crawl blocklist filtering with subdomain semantics (block
    // "ex-web.com" ⇒ also "s3.ex-web.com"): expand each host into its
    // dot-boundary suffix chain and EQUI-join the blocklist — set
    // membership, not a LIKE-suffix theta join, so the plan is a
    // broadcast (or hash) join at any corpus size. Hosts fabricated
    // from doc_id residues; a multi-rule host reports the most
    // specific rule
    "q297_domain_blocklist" -> ((s, d) => {
      val host = concat(
        when(col("doc_id") % 3 === 0,
          concat(lit("s"), pmod(col("doc_id"), lit(4L)), lit(".")))
          .otherwise(""),
        lit("ex-"), col("source"),
        when(col("doc_id") % 2 === 0, ".com").otherwise(".org"))
      val docs = t(s, d, "documents").select(col("doc_id"), host.as("host"))
      val rules = s.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row("ex-src4.com"),
          org.apache.spark.sql.Row("s0.ex-src0.com"),
          org.apache.spark.sql.Row("ex-src7.org")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rule",
            org.apache.spark.sql.types.StringType))))
      TextOps.blocklistMatch(docs, "doc_id", "host", rules, "rule")
        .groupBy(coalesce(col("matched_rule"), lit("__kept__"))
          .as("verdict"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy("verdict")
    }),

    // SQL row-level mutation, part 1: `DELETE FROM txlog.`root``
    // through the analyzer bridge (graft.plans.TxSqlDml — the
    // DeltaAnalysis interception pattern) into the certified
    // affected-file-only rewrite. The predicate (doc_id % 3) is NOT
    // filter-pushable, exactly what the SupportsDelete route could
    // never serve. The oracle recomputes every version from the base
    // table
    "q357_sql_delete" -> ((s, d) => {
      val dir2 = txSqlDmlDir(s, d)
      txRoll3(s, dir2, Seq(1, 2, 3))
    }),

    // SQL row-level mutation, part 2: `UPDATE ... SET` — assignments
    // cast to the column's type, only files holding a matching row
    // rewritten, CHECK constraints on the staged rows. Runs against
    // the SAME fixture table after its deletes (v4, v5)
    "q358_sql_update" -> ((s, d) => {
      val dir2 = txSqlDmlDir(s, d)
      txRoll3(s, dir2, Seq(4, 5))
    }),

    // SQL row-level mutation, part 3: `MERGE INTO` with the full
    // clause surface — WHEN MATCHED AND <cond> THEN DELETE, WHEN
    // MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT — one atomic
    // commit (v6) under the serializable rewrite matrix
    "q359_sql_merge" -> ((s, d) => {
      val dir2 = txSqlDmlDir(s, d)
      txRoll3(s, dir2, Seq(6))
    }),

    // Column mapping (Delta's rename/drop without rewrite): physical
    // names in the parquet files never change — RENAME re-points the
    // logical name in a metadata commit, DROP hides the physical
    // column, and appends after a rename keep writing the stable
    // physical name. Certified: time travel resolves the names in
    // force AT each version (v1 shows lang, v3 shows language, final
    // shows body only), rows survive every schema op bit-for-bit,
    // and min/max skipping still prunes on the RENAMED key (the
    // `pruned` claim is engine-computed from pruneFiles, the q352
    // convention)
    // Video-level perceptual near-dup (the video axis of the
    // image/audio/text dedup matrix): per-shot dHash signatures
    // (q278's boundary pass) pair through the q48 pigeonhole band
    // join — shots match by CONTENT within a Hamming budget, so a
    // TRIMMED copy (first shot cut) and a RE-ENCODED copy (per-pixel
    // noise) both pair with their original while distinct groups
    // never do. Bucketed band join, never all-pairs. Closed-form
    // oracle: every 3 ids form a planted group
    // minShared = 2: a missed shot boundary (two adjacent fields
    // landing within the cut threshold — observed ~8 times in 15k
    // videos) merges two shots and would drop a 3-shot trimmed copy
    // below 3; two INDEPENDENT ≤7-bit shot collisions across groups
    // remain astronomically unlikely, so precision stays exact
    "q363_video_neardup" -> ((s, d) => {
      val sigs = graft.multimodal.Multimodal.shotSignatures(
        nearDupVideos(s, d), cutHamming = 10)
      graft.multimodal.Multimodal
        .videoNearDupPairs(sigs, maxHamming = 7, minShared = 2L)
        .orderBy("id_a", "id_b")
    }),

    // Incremental ZORDER maintenance: the steady-state small-file
    // sweep (q350's verb) re-clusters ONLY the swept rows on the
    // 2-key Morton interleave, so clustering survives continuous
    // ingest WITHOUT a full-table OPTIMIZE. A and B receive identical
    // streaming-style small appends; A sweeps with zOrderBy, the
    // control B sweeps hash-random. Certified: skip==filter on every
    // probe (the checksums), every probe prunes files on A
    // (z_pruned), and on the SECOND axis and the box A prunes
    // strictly more than the unclustered control (z_beats_linear) —
    // engine-computed booleans, the q352 convention
    "q362_txlog_zorder_sweep" -> ((s, d) => {
      val (aDir, bDir) = txZSweepDirs(s, d)
      def probe(label: String, pred: org.apache.spark.sql.Column,
          claimBeats: Boolean): DataFrame = {
        val (_, skA) = graft.operators.TxTable.pruneFiles(s, aDir, pred)
        val (_, skB) = graft.operators.TxTable.pruneFiles(s, bDir, pred)
        val beats =
          if (claimBeats) lit(skA.size > skB.size)
          else lit(null).cast("boolean")
        graft.operators.TxTable.snapshotWhere(s, aDir, pred)
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
              + "text)), 1, 15), 16, 10) AS BIGINT))").as("checksum"))
          .select(lit(label).as("probe"), col("n_rows"),
            col("checksum"), lit(skA.nonEmpty).as("z_pruned"),
            beats.as("z_beats_linear"))
      }
      probe("x_range", col("doc_id") >= 10L && col("doc_id") <= 25L,
          claimBeats = false)
        .unionAll(probe("y_range",
          col("n_chars") >= 100L && col("n_chars") <= 140L,
          claimBeats = true))
        .unionAll(probe("box",
          col("doc_id") > 5L &&
            col("n_chars") >= 100L && col("n_chars") <= 140L,
          claimBeats = true))
        .orderBy("probe")
    }),

    "q360_txlog_colmap" -> ((s, d) => {
      val dir2 = txColMapDir(s, d)
      def ck(cols: String*) = expr(
        "bit_xor(CAST(conv(substring(md5(concat(" +
          cols.mkString(", '|', ") +
          ")), 1, 15), 16, 10) AS BIGINT))")
      def stage(label: String, v: Option[Int], cs: Seq[String],
          pruned: org.apache.spark.sql.Column): DataFrame = {
        val snap = graft.operators.TxTable.snapshot(s, dir2, v)
        snap.agg(count(lit(1)).as("n_rows"),
            ck(cs: _*).as("checksum"))
          .select(lit(label).as("stage"), col("n_rows"),
            col("checksum"), lit(snap.columns.length.toLong)
              .as("n_cols"), pruned.as("pruned"))
      }
      val (_, skipped) = graft.operators.TxTable.pruneFiles(
        s, dir2, col("doc_id") === 1L)
      stage("a_v1", Some(1), Seq("doc_id", "text", "lang"),
          lit(null).cast("boolean"))
        .unionAll(stage("b_v3", Some(3),
          Seq("doc_id", "text", "language"), lit(null).cast("boolean")))
        .unionAll(stage("c_final", None, Seq("doc_id", "body"),
          lit(skipped.nonEmpty)))
        .orderBy("stage")
    }),

    /** Hive-partitioned txlog table: append partitioned by lang,
      * whole-partition DELETE as a METADATA-ONLY commit (zero files
      * staged or scanned — one log write drops a partition of a
      * 100 TB table), replaceWhere atomic partition overwrite, and
      * partition pruning off the file PATHS with no stats sidecars
      * anywhere. Content at every version recomputed by the oracle
      * from the base relation; the pruning/metadata claims ride as
      * engine-invariant booleans.
      */
    "q364_txlog_partitioned" -> ((s, d) => {
      val dir2 = txPartDir(s, d)
      val T = graft.operators.TxTable
      def ck(cols: String*) = expr(
        "bit_xor(CAST(conv(substring(md5(concat(" +
          cols.mkString(", '|', ") +
          ")), 1, 15), 16, 10) AS BIGINT))")
      def stage(label: String, v: Option[Int],
          claims: Option[(Boolean, Boolean)]): DataFrame = {
        val snap = T.snapshot(s, dir2, v)
        snap.agg(count(lit(1)).as("n_rows"),
            ck("doc_id", "text", "lang").as("checksum"))
          .select(lit(label).as("stage"), col("n_rows"), col("checksum"),
            claims.map(c => lit(c._1))
              .getOrElse(lit(null).cast("boolean")).as("pruned"),
            claims.map(c => lit(c._2))
              .getOrElse(lit(null).cast("boolean")).as("meta_only"))
      }
      val (kept, skipped) = T.pruneFiles(s, dir2, col("lang") === "en")
      val pruned = kept.nonEmpty &&
        kept.forall(_.contains("__p_lang=en")) && skipped.nonEmpty
      val metaOnly = T.history(dir2).find(_._1 == 3)
        .exists(h => h._2 == 0 && h._3 > 0)
      stage("a_v1", Some(1), None)
        .unionAll(stage("b_v2", Some(2), None))
        .unionAll(stage("c_v3", Some(3), None))
        .unionAll(stage("d_final", None, Some((pruned, metaOnly))))
        .orderBy("stage")
    }),

    /** TIMESTAMP AS OF time travel through Spark's own SQL syntax:
      * the fixture commits under an injected deterministic clock
      * (in-commit timestamps, monotone by construction), and the
      * query reads the table back at three literal timestamps —
      * between-commits resolves to the version at-or-before, exactly
      * Delta's rule. The oracle recomputes each version's content
      * from the base relation.
      */
    "q365_txlog_timestamp" -> ((s, d) => {
      val dir2 = txTsDir(s, d)
      def ck(cols: String*) = expr(
        "bit_xor(CAST(conv(substring(md5(concat(" +
          cols.mkString(", '|', ") +
          ")), 1, 15), 16, 10) AS BIGINT))")
      def sqlLit(ms: Long) = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      def stage(label: String, ms: Long): DataFrame =
        s.sql(s"SELECT * FROM txlog.`$dir2` " +
            s"TIMESTAMP AS OF '${sqlLit(ms)}'")
          .agg(count(lit(1)).as("n_rows"),
            ck("doc_id", "text", "lang").as("checksum"))
          .select(lit(label).as("stage"), col("n_rows"), col("checksum"))
      // t0 = v1's clock; 30s past t0 is still v1; v2 at t0+60s; a far
      // future timestamp resolves to the head (v3)
      stage("a_v1", TxTsBase)
        .unionAll(stage("b_between", TxTsBase + 30000L))
        .unionAll(stage("c_v2", TxTsBase + 60000L))
        .unionAll(stage("d_head", TxTsBase + 3600000L))
        .orderBy("stage")
    }),

    /** SQL INSERT INTO on a txlog table — the batch-write half of the
      * SQL surface (DELETE/UPDATE/MERGE landed as q357–q359): an
      * `INSERT INTO txlog.`root` SELECT ...` statement lands as ONE
      * atomic commit through the same protocol as the Scala API
      * (constraints, concurrency, CDF, time travel), never a bare
      * parquet write behind the log's back. The oracle recomputes
      * both versions from the base relation.
      */
    "q368_sql_insert" -> ((s, d) => {
      val dir2 = txInsDir(s, d)
      def ck(cols: String*) = expr(
        "bit_xor(CAST(conv(substring(md5(concat(" +
          cols.mkString(", '|', ") +
          ")), 1, 15), 16, 10) AS BIGINT))")
      def stage(label: String, v: Option[Int]): DataFrame =
        graft.operators.TxTable.snapshot(s, dir2, v)
          .agg(count(lit(1)).as("n_rows"),
            ck("doc_id", "text", "lang").as("checksum"))
          .select(lit(label).as("stage"), col("n_rows"), col("checksum"))
      stage("a_v1", Some(1)).unionAll(stage("b_v2", None))
        .orderBy("stage")
    }),

    /** The pure-SQL table lifecycle: CTAS creates the table and lands
      * version 1 in one statement, INSERT INTO ... SELECT appends,
      * DELETE FROM mutates through the DML bridge — a user who knows
      * only SQL runs the entire flow, every statement one atomic
      * commit with time travel intact. Oracle recomputes each
      * version's content from the base relation.
      */
    "q369_sql_lifecycle" -> ((s, d) => {
      val dir2 = txDdlDir(s, d)
      def ck(cols: String*) = expr(
        "bit_xor(CAST(conv(substring(md5(concat(" +
          cols.mkString(", '|', ") +
          ")), 1, 15), 16, 10) AS BIGINT))")
      def stage(label: String, v: Option[Int]): DataFrame =
        graft.operators.TxTable.snapshot(s, dir2, v)
          .agg(count(lit(1)).as("n_rows"),
            ck("doc_id", "text", "lang").as("checksum"))
          .select(lit(label).as("stage"), col("n_rows"), col("checksum"))
      stage("a_ctas", Some(1))
        .unionAll(stage("b_insert", Some(2)))
        .unionAll(stage("c_delete", None))
        .orderBy("stage")
    }),

    /** ANSI CHECK-constraint DDL driven end-to-end through
      * `spark.sql` (q371): ADD CONSTRAINT guards inserts staged-first,
      * DROP CONSTRAINT lifts the guard — stages pinned by count +
      * checksum exactly like q369.
      */
    "q371_sql_constraint" -> ((s, d) => {
      val dir2 = txConsDir(s, d)
      def ck(cols: String*) = expr(
        "bit_xor(CAST(conv(substring(md5(concat(" +
          cols.mkString(", '|', ") +
          ")), 1, 15), 16, 10) AS BIGINT))")
      def stage(label: String, v: Option[Int]): DataFrame =
        graft.operators.TxTable.snapshot(s, dir2, v)
          .agg(count(lit(1)).as("n_rows"),
            ck("doc_id", "text", "lang").as("checksum"))
          .select(lit(label).as("stage"), col("n_rows"), col("checksum"))
      stage("a_create", Some(1))
        .unionAll(stage("b_guarded", Some(2)))
        .unionAll(stage("c_dropped", None))
        .orderBy("stage")
    }),

    /** Explicit `ALTER TABLE ADD COLUMN` lifecycle, SQL end-to-end
      * (q379): CTAS (v1) → ADD COLUMN score (v2, METADATA-ONLY — the
      * fixture pins zero bytes moved) → INSERT rows carrying the new
      * column (v3). Reads synthesize typed NULLs for pre-add rows;
      * the insert materializes real values; time travel at v1 has no
      * such column. Stages pin counts + checksums with score folded
      * in as coalesce(-1).
      */
    "q379_sql_add_column" -> ((s, d) => {
      val dir2 = txAddColDir(s, d)
      val ck3 = "bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', " +
        "text, '|', lang)), 1, 15), 16, 10) AS BIGINT))"
      val ck4 = "bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', " +
        "text, '|', lang, '|', coalesce(CAST(score AS BIGINT), -1)" +
        ")), 1, 15), 16, 10) AS BIGINT))"
      def st(label: String, ck: String, suffix: String): DataFrame =
        s.sql(s"SELECT '$label' AS stage, count(*) AS n_rows, " +
          s"$ck AS checksum FROM txlog.`$dir2` $suffix")
      st("a_v1", ck3, "VERSION AS OF 1")
        .unionAll(st("b_added", ck4, "VERSION AS OF 2"))
        .unionAll(st("c_final", ck4, ""))
        .orderBy("stage")
    }),

    /** SQL scans of a table with IN-FORCE deletion vectors (q377) —
      * every read below goes through `spark.sql` against a table
      * whose DVs are never purged (the steady state of a GDPR-erasure
      * feed): the [[graft.plans.TxSnapshotScan]] resolution rule
      * serves the scan from the certified snapshot plan (parquet scan
      * + DV anti-join) instead of the old loud refusal. Stages pin
      * the raw-path version (v1, no DVs), both DV'd versions via
      * VERSION AS OF, the DV'd HEAD, and a filtered head read (the
      * predicate applies on top of the anti-join).
      */
    "q377_sql_dv_scan" -> ((s, d) => {
      val dir2 = txSqlDvDir(s, d)
      val ck = "bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', " +
        "text)), 1, 15), 16, 10) AS BIGINT))"
      def st(label: String, suffix: String): DataFrame =
        s.sql(s"SELECT '$label' AS stage, count(*) AS n_rows, " +
          s"$ck AS checksum FROM txlog.`$dir2` $suffix")
      st("a_v1", "VERSION AS OF 1")
        .unionAll(st("b_v2", "VERSION AS OF 2"))
        .unionAll(st("c_head", ""))
        .unionAll(st("d_even", "WHERE doc_id % 2 = 0"))
        .orderBy("stage")
    }),

    /** SQL scans of a COLUMN-MAPPED table (q378) — the q360 fixture
      * (rename lang→language, append, drop language, rename
      * text→body) read back entirely through `spark.sql`, under
      * LOGICAL names at every version: v1 pre-mapping takes the raw
      * parquet path, v3 and head are served from the snapshot plan by
      * [[graft.plans.TxSnapshotScan]] (the raw scan would surface
      * PHYSICAL names). One RENAME no longer darkens the SQL surface.
      */
    "q378_sql_mapped_scan" -> ((s, d) => {
      val dir2 = txColMapDir(s, d)
      def ck(cols: String*) =
        "bit_xor(CAST(conv(substring(md5(concat(" +
          cols.mkString(", '|', ") + ")), 1, 15), 16, 10) AS BIGINT))"
      def st(label: String, suffix: String, cols: Seq[String])
          : DataFrame =
        s.sql(s"SELECT '$label' AS stage, count(*) AS n_rows, " +
          s"${ck(cols: _*)} AS checksum FROM txlog.`$dir2` $suffix")
      st("a_v1", "VERSION AS OF 1", Seq("doc_id", "text", "lang"))
        .unionAll(st("b_v3", "VERSION AS OF 3",
          Seq("doc_id", "text", "language")))
        .unionAll(st("c_head", "", Seq("doc_id", "body")))
        .orderBy("stage")
    }),

    /** Cluster-representative selection — the FineWeb/SemDeDup "keep
      * the best document per duplicate cluster" curation step (min-id
      * keep-first is a POLICY, not the only one): q28's exact Jaccard
      * pair relation closed into components, then ONE representative
      * per cluster by quality (most words wins, doc_id breaks ties);
      * un-paired documents are their own cluster and survive. Output
      * is the full per-document verdict so the kept set AND the
      * assignment are both pinned. Scale: pairs ride the q28 posting-
      * cut inverted index, the closure is the pointer-doubling pack,
      * the argmax is one window over |docs| rows.
      */
    "q370_cluster_rep" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 5)
      val comps = graft.operators.Components
        .connectedComponents(pairs, "a", "b") // (id, comp = min id)
      val q = docs.select(col("doc_id"),
        size(graft.operators.TextOps.words(col("text"))).cast("long")
          .as("n_words"))
      val assigned = q
        .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
          "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster"),
          col("n_words"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_words").desc, col("doc_id"))
      assigned
        .withColumn("is_rep", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster"), col("is_rep"))
        .orderBy("doc_id")
    }),

    /** Token-window chunking with overlap (the RAG/embedding ingest
      * transform): 64-token windows, 16 shared — every chunk row
      * string-exact against the oracle's replay.
      */
    "q366_chunk_overlap" -> ((s, d) =>
      graft.operators.TextOps.chunkTokens(
          t(s, d, "documents"), "doc_id", "text",
          maxTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx")))
  )

  /** SQL-insert fixture (q368): v1 appends documents through the API;
    * v2 lands the derived rows via a pure SQL `INSERT INTO ...
    * SELECT` against the txlog catalog.
    */
  private def txInsDir(s: SparkSession, dir: String): String =
    Scratch.once("txins", dir) { tmp =>
      graft.operators.TxTable.commitAppend(
        t(s, dir, "documents").select(col("doc_id"), col("text"),
          col("lang")), tmp) // v1
      s.sql(s"INSERT INTO txlog.`$tmp` " +
        s"SELECT doc_id + 10000000, 'r:' || text, lang " +
        s"FROM parquet.`$dir/documents.parquet` WHERE doc_id % 9 = 0")
      require(graft.operators.TxTable.currentVersion(tmp) == 2,
        "the SQL INSERT must land as exactly one commit")
    }

  /** SQL CHECK-constraint lifecycle fixture (q371): CTAS (v1), then
    * `ALTER TABLE ... ADD CONSTRAINT ... CHECK (...)` — the ANSI
    * spelling a DBA types, routed through Spark 4's constraint
    * TableChange into the engine's staged-first enforcement — a
    * violating SQL INSERT is rejected WHOLE (version unchanged, no
    * partial commit), a conforming INSERT lands (v2), `DROP
    * CONSTRAINT` lifts the rule, and the previously-rejected rows
    * land (v3). The registry must read empty at the end.
    */
  private def txConsDir(s: SparkSession, dir: String): String =
    Scratch.once("txcons", dir) { root =>
      val tmp = s"$root/t"
      val T = graft.operators.TxTable
      s.sql(s"CREATE TABLE txlog.`$tmp` AS " +
        s"SELECT doc_id, text, lang FROM parquet.`$dir/documents.parquet`")
      s.sql(s"ALTER TABLE txlog.`$tmp` ADD CONSTRAINT lang_known " +
        "CHECK (lang IS NOT NULL AND length(lang) <= 3)")
      // the registry is SQL-visible too (the SHOW-CONSTRAINTS surface)
      require(s.sql(s"SELECT name FROM txlog.`$tmp#constraints`")
        .collect().map(_.getString(0)).contains("lang_known"),
        "ADD CONSTRAINT must register (and be visible via #constraints)")
      val bad = s"INSERT INTO txlog.`$tmp` " +
        s"SELECT doc_id + 20000000, text, 'banned' " +
        s"FROM parquet.`$dir/documents.parquet` WHERE doc_id % 11 = 0"
      val rejected =
        try { s.sql(bad); false }
        catch { case e: Exception =>
          def hit(t: Throwable): Boolean = t != null &&
            (String.valueOf(t.getMessage).contains("lang_known") ||
              hit(t.getCause))
          require(hit(e), s"wrong rejection: $e"); true
        }
      require(rejected, "violating INSERT must be rejected")
      require(T.currentVersion(tmp) == 1,
        "a rejected INSERT must not advance the version")
      s.sql(s"INSERT INTO txlog.`$tmp` " +
        s"SELECT doc_id + 10000000, 'r:' || text, lang " +
        s"FROM parquet.`$dir/documents.parquet` WHERE doc_id % 9 = 0")
      s.sql(s"ALTER TABLE txlog.`$tmp` DROP CONSTRAINT lang_known")
      require(T.checkConstraints(tmp).isEmpty &&
        s.sql(s"SELECT name FROM txlog.`$tmp#constraints`").count() == 0,
        "DROP CONSTRAINT must unregister")
      s.sql(bad) // the same statement now lands
      require(T.currentVersion(tmp) == 3,
        "CTAS + guarded INSERT + post-drop INSERT = three commits")
    } + "/t"

  /** Pure-SQL lifecycle fixture (q369): every statement is SQL-only —
    * CTAS (v1), INSERT INTO ... SELECT (v2), DELETE FROM (v3).
    */
  private def txDdlDir(s: SparkSession, dir: String): String =
    Scratch.once("txddl", dir) { root =>
      val tmp = s"$root/t"
      s.sql(s"CREATE TABLE txlog.`$tmp` AS " +
        s"SELECT doc_id, text, lang FROM parquet.`$dir/documents.parquet`")
      s.sql(s"INSERT INTO txlog.`$tmp` " +
        s"SELECT doc_id + 10000000, 'r:' || text, lang " +
        s"FROM parquet.`$dir/documents.parquet` WHERE doc_id % 9 = 0")
      s.sql(s"DELETE FROM txlog.`$tmp` WHERE lang = 'zh'")
      require(graft.operators.TxTable.currentVersion(tmp) == 3,
        "CTAS + INSERT + DELETE must land as exactly three commits")
    } + "/t"

  /** ADD-COLUMN lifecycle fixture (q379), SQL end-to-end: CTAS (v1),
    * `ALTER TABLE ADD COLUMN score DOUBLE` (v2 — the fixture pins
    * that zero bytes moved), INSERT of derived rows carrying the new
    * column (v3). Base rows read score as NULL; derived rows carry
    * CAST(doc_id0 % 100 AS DOUBLE) — whole numbers, so the checksum's
    * BIGINT fold is exact on both engines.
    */
  private def txAddColDir(s: SparkSession, dir: String): String =
    Scratch.once("txaddcol", dir) { root =>
      val tmp = s"$root/t"
      s.sql(s"CREATE TABLE txlog.`$tmp` AS " +
        s"SELECT doc_id, text, lang FROM parquet.`$dir/documents.parquet`")
      val files1 = graft.operators.TxTable.liveFiles(tmp).toSet
      s.sql(s"ALTER TABLE txlog.`$tmp` ADD COLUMN score DOUBLE")
      require(graft.operators.TxTable.liveFiles(tmp).toSet == files1,
        "ADD COLUMN must move zero bytes")
      s.sql(s"INSERT INTO txlog.`$tmp` " +
        s"SELECT doc_id + 10000000, 'r:' || text, lang, " +
        s"CAST(doc_id % 100 AS DOUBLE) " +
        s"FROM parquet.`$dir/documents.parquet` WHERE doc_id % 9 = 0")
      require(graft.operators.TxTable.currentVersion(tmp) == 3,
        "CTAS + ADD COLUMN + INSERT must land as exactly three commits")
    } + "/t"

  /** Deterministic commit-clock base for the q365 fixture. */
  private val TxTsBase = 1700000000000L

  /** Timestamped-table fixture (q365): three commits under an
    * injected clock ticking 60 s per commit — v1 documents, v2 +
    * derived rows, v3 a predicate delete — so the SQL literals in
    * the query resolve identically on every run and every scale.
    */
  private def txTsDir(s: SparkSession, dir: String): String =
    Scratch.once("txts", dir) { tmp =>
      val T = graft.operators.TxTable
      val saved = T.clock
      try {
        var now = TxTsBase
        T.clock = () => now
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        T.commitAppend(docs, tmp) // v1 @ base
        now += 60000
        T.commitAppend(docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("r:"), col("text")).as("text"), col("lang")),
          tmp) // v2 @ base+60s
        now += 60000
        T.commitDelete(s, tmp, col("doc_id") % 7 === 0) // v3 @ base+120s
        require(T.versionAt(tmp, TxTsBase + 30000L) == 1 &&
          T.versionAt(tmp, TxTsBase + 60000L) == 2,
          "in-commit timestamps must resolve between-commit reads")
      } finally T.clock = saved
    }

  /** Partitioned-table fixture (q364): v1 appends documents hive-
    * partitioned by lang; v2 appends derived rows (doc_id+10M, 'r:'
    * prefix) under the same layout; v3 DELETEs the whole de
    * partition — REQUIRED metadata-only (zero files staged); v4
    * replaceWhere swaps the fr partition for derived replacement
    * rows (doc_id+20M, 'f:' prefix) in ONE atomic commit, validated
    * input-side. Partition pruning is asserted sidecar-free.
    */
  private def txPartDir(s: SparkSession, dir: String): String =
    Scratch.once("txpart", dir) { tmp =>
      val T = graft.operators.TxTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      T.commitAppend(docs, tmp, partitionBy = Seq("lang")) // v1
      val der = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("r:"), col("text")).as("text"), col("lang"))
      T.commitAppend(der, tmp, partitionBy = Seq("lang")) // v2
      val v3 = T.commitDelete(s, tmp, col("lang") === "de") // v3
      val h3 = T.history(tmp).find(_._1 == v3).get
      require(h3._2 == 0 && h3._3 > 0,
        "whole-partition DELETE must be metadata-only (no file staged)")
      val repl = docs.filter(col("lang") === "fr")
        .select((col("doc_id") + 20000000L).as("doc_id"),
          concat(lit("f:"), col("text")).as("text"), col("lang"))
      val v4 = T.commitReplaceWhere(s, tmp, col("lang") === "fr", repl,
        partitionBy = Seq("lang")) // v4
      require(v4 == 4, s"replaceWhere landed at v$v4, expected v4")
    }

  /** Z-sweep fixture pair (q362): six streaming-style small appends
    * into BOTH tables; A's sweep re-clusters the swept rows on the
    * (doc_id, n_chars) Morton interleave, B's sweep is the
    * hash-random control. Same rows, same file count, different
    * layout — the sweep itself is dataChange=false in both.
    */
  private def txZSweepDirs(s: SparkSession, dir: String)
      : (String, String) = {
    val root = Scratch.once("txzsw", dir) { root =>
      val (a, b) = (s"$root/a", s"$root/b")
      val keys = Seq("doc_id", "n_chars")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
      (0 to 5).foreach { k =>
        val slice = docs.filter(col("doc_id") % 6 === k).coalesce(1)
        graft.operators.TxTable.commitAppend(slice, a, statsCols = keys)
        graft.operators.TxTable.commitAppend(slice, b, statsCols = keys)
      }
      graft.operators.TxTable.commitCompactSmall(s, a,
        smallBytes = Long.MaxValue, statsCols = keys,
        zOrderBy = keys, targetFiles = Some(8))
      graft.operators.TxTable.commitCompactSmall(s, b,
        smallBytes = Long.MaxValue, statsCols = keys,
        targetFiles = Some(8))
      require(graft.operators.TxTable.liveFiles(a).size == 8 &&
        graft.operators.TxTable.liveFiles(b).size == 8,
        "both sweeps must land exactly the target file count")
      require(graft.operators.TxTable.changes(s, a, 6).count() == 0,
        "the z-sweep must be dataChange=false (feed skips it)")
    }
    (s"$root/a", s"$root/b")
  }

  /** Column-mapping fixture (q360): v1 appends documents with doc_id
    * stats; v2 RENAMEs lang→language; v3 appends derived rows UNDER
    * THE NEW LOGICAL SCHEMA (written with the stable physical name);
    * v4 DROPs language; v5 RENAMEs text→body. File set only ever
    * changes at the two appends.
    */
  private def txColMapDir(s: SparkSession, dir: String): String =
    Scratch.once("txcm", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.repartitionByRange(4, col("doc_id")), tmp,
        statsCols = Seq("doc_id")) // v1
      val files1 = graft.operators.TxTable.liveFiles(tmp).toSet
      require(graft.operators.TxTable
        .renameColumn(s, tmp, "lang", "language") == 2)
      require(graft.operators.TxTable.liveFiles(tmp).toSet == files1,
        "a rename must move zero bytes")
      graft.operators.TxTable.commitAppend(
        docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("r:"), col("text")).as("text"),
            col("lang").as("language")),
        tmp, statsCols = Seq("doc_id")) // v3
      val files3 = graft.operators.TxTable.liveFiles(tmp).toSet
      require(graft.operators.TxTable
        .dropColumn(s, tmp, "language") == 4)
      require(graft.operators.TxTable
        .renameColumn(s, tmp, "text", "body") == 5)
      require(graft.operators.TxTable.liveFiles(tmp).toSet == files3,
        "drop/rename must move zero bytes")
    }

  /** Version-checksum roll over the SQL-DML fixture table — one row
    * per version: (version, n_rows, bit_xor md5 checksum over
    * doc_id|text|lang).
    */
  private def txRoll3(s: SparkSession, dir2: String,
      versions: Seq[Int]): DataFrame = {
    def roll(v: Int): DataFrame =
      graft.operators.TxTable.snapshot(s, dir2, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(CAST(conv(substring(md5(concat(doc_id, '|', "
            + "text, '|', lang)), 1, 15), 16, 10) AS BIGINT))")
            .as("checksum"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("checksum"))
    versions.map(roll).reduce(_ unionAll _).orderBy("version")
  }

  /** SQL-DML fixture (q357/q358/q359): ONE table mutated purely
    * through `spark.sql` statements —
    *   v1 append (operator API, the only non-SQL step),
    *   v2 `DELETE ... WHERE doc_id % 3 = 0`,
    *   v3 `DELETE ... WHERE lang = 'de'`,
    *   v4 `UPDATE SET text = concat('u:', text) WHERE doc_id % 5 = 0`,
    *   v5 `UPDATE SET lang = 'yy', text = concat(text, '#z')
    *        WHERE lang = 'zh'`,
    *   v6 `MERGE INTO` (matched-delete / matched-update /
    *        not-matched-insert in one commit).
    * Every version stays time-travelable; the oracle recomputes each
    * from the base relation.
    */
  private def txSqlDmlDir(s: SparkSession, dir: String): String =
    Scratch.once("txsqldml", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.repartitionByRange(4, col("doc_id")), tmp) // v1
      def sql1(q: String): Long = s.sql(q).collect().head.getLong(0)
      val v2 = sql1(s"DELETE FROM txlog.`$tmp` WHERE doc_id % 3 = 0")
      require(v2 == 2L, s"SQL DELETE expected v2, got v$v2")
      val v3 = sql1(s"DELETE FROM txlog.`$tmp` WHERE lang = 'de'")
      require(v3 == 3L, s"SQL DELETE expected v3, got v$v3")
      val v4 = sql1(s"UPDATE txlog.`$tmp` " +
        "SET text = concat('u:', text) WHERE doc_id % 5 = 0")
      require(v4 == 4L, s"SQL UPDATE expected v4, got v$v4")
      val v5 = sql1(s"UPDATE txlog.`$tmp` " +
        "SET lang = 'yy', text = concat(text, '#z') WHERE lang = 'zh'")
      require(v5 == 5L, s"SQL UPDATE expected v5, got v$v5")
      // merge source derived deterministically from the base table:
      // matched updates (%7, odd), matched deletes (%7, even), new
      // keys offset far past any real doc_id
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          concat(lit("m:"), col("text")).as("text"), col("lang"),
          (col("doc_id") % 2 === 0).as("del"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("n:"), col("text")).as("text"), col("lang"),
            lit(false).as("del")))
        .createOrReplaceTempView("graft_q359_src")
      val v6 = sql1(
        s"""MERGE INTO txlog.`$tmp` t USING graft_q359_src u
           |ON t.doc_id = u.doc_id
           |WHEN MATCHED AND u.del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET text = u.text
           |WHEN NOT MATCHED THEN
           |  INSERT (doc_id, text, lang) VALUES (u.doc_id, u.text, u.lang)
           |""".stripMargin)
      require(v6 == 6L, s"SQL MERGE expected v6, got v$v6")
    }

  /** Two-generation events layout per sf dir (schema evolution
    * fixture): generation 1 (even event_ids) written WITHOUT
    * event_type, generation 2 (odd) with it — the "a later drop added
    * a column" reality of a long-lived ingest dir.
    */
  private def evolvedEventsFor(s: SparkSession, dir: String): String =
    Scratch.once("evo", dir) { tmp =>
      val e = t(s, dir, "events")
      e.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.mode("append").parquet(tmp)
      e.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
        .write.mode("append").parquet(tmp)
    }

  /** ORC copy of events per sf dir, written once per JVM. */
  private def orcEventsFor(s: SparkSession, dir: String): String =
    Scratch.once("orc", dir) { tmp =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").orc(tmp)
    }

  /** CSV / JSON-lines copies of events per sf dir, written once per
    * JVM — the row-format legs of the source matrix.
    */
  private def csvEventsFor(s: SparkSession, dir: String): String =
    Scratch.once("csv", dir) { tmp =>
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
    }
  private def jsonEventsFor(s: SparkSession, dir: String): String =
    Scratch.once("json", dir) { tmp =>
      t(s, dir, "events")
        .select(col("event_id"), col("props"))
        .write.mode("overwrite").json(tmp)
    }

  private def xmlDocsFor(s: SparkSession, dir: String): String =
    Scratch.once("xml", dir) { tmp =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").option("rootTag", "docs")
        .option("rowTag", "doc").format("xml").save(tmp)
    }

  /** Positional inverted-index artifact per sf dir (q303), written
    * once per JVM — the search-system trade: one indexed shuffle,
    * then every query reads only its terms' hash cells.
    */
  private def invIdxDir(s: SparkSession, dir: String): String =
    Scratch.once("invidx", dir) { tmp =>
      graft.operators.InvertedIndex.build(
        t(s, dir, "documents"), "doc_id", "text", tmp)
    }

  /** Incrementally-built twin of [[invIdxDir]] (q306): base postings
    * from 90% of the corpus, the remaining 10% APPENDED — queries
    * against it must equal the full rebuild.
    */
  private def invIdxAppendDir(s: SparkSession, dir: String): String =
    Scratch.once("invidx-ap", dir) { tmp =>
      val docs = t(s, dir, "documents")
      graft.operators.InvertedIndex.build(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", tmp)
      graft.operators.InvertedIndex.append(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", tmp)
    }

  /** Tombstoned twin of [[invIdxDir]] (q309): full build, then every
    * doc_id % 7 == 0 logically deleted via the `_deletes` sidecar.
    */
  private def invIdxDeleteDir(s: SparkSession, dir: String): String =
    Scratch.once("invidx-del", dir) { tmp =>
      val docs = t(s, dir, "documents")
      graft.operators.InvertedIndex.build(docs, "doc_id", "text", tmp)
      graft.operators.InvertedIndex.delete(
        docs.filter(col("doc_id") % 7 === 0), "doc_id", tmp)
    }

  /** Transaction-log table fixture (q312): three commits — append
    * 90%, append 10%, predicate-delete doc_id % 7 == 0 (file-level
    * rewrite of only affected files).
    */
  private[queries] def txTableDir(s: SparkSession, dir: String): String =
    Scratch.once("txtable", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.filter(col("doc_id") % 10 =!= 0).repartition(4), tmp)
      graft.operators.TxTable.commitAppend(
        docs.filter(col("doc_id") % 10 === 0).repartition(2), tmp)
      graft.operators.TxTable.commitDelete(s, tmp, col("doc_id") % 7 === 0)
      graft.operators.TxTable.commitCompact(s, tmp, targetFiles = 2)
      // v5: MERGE — update every surviving doc_id % 5 == 0 (prefixed
      // text) and insert brand-new ids (doc_id + 2e9)
      val src5 = docs.filter(col("doc_id") % 5 === 0 &&
          col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), concat(lit("v2 "), col("text")).as("text"),
          col("lang"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000000L).as("doc_id"),
            col("text"), col("lang")))
      graft.operators.TxTable.commitMerge(s, tmp, src5, "doc_id")
      // v6: schema evolution — later commits carry a quality column
      // older files never had; mergeSchema snapshots surface it as
      // NULL for pre-evolution rows
      graft.operators.TxTable.commitAppend(
        docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 3000000000L).as("doc_id"),
            col("text"), col("lang"),
            (length(col("text")) % 100).cast("long").as("quality")),
        tmp)
    }

  /** Stats-carrying transaction-log table (q323): documents range-
    * clustered on doc_id into 8 files, per-file min/max recorded as
    * the commit's stats sidecar — the Delta data-skipping shape.
    */
  private def txStatsDir(s: SparkSession, dir: String): String =
    Scratch.once("txstats", dir) { tmp =>
      graft.operators.TxTable.commitAppend(
        t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
          .repartitionByRange(8, col("doc_id")),
        tmp, statsCols = Seq("doc_id"))
    }

  /** Z-order compaction table (q332): v1 lands documents
    * range-clustered on doc_id ALONE (the one-axis OPTIMIZE layout —
    * per-file n_chars spans the whole domain, so a length predicate
    * prunes nothing); v2 is `commitCompact(zOrderBy = (doc_id,
    * n_chars))`, after which each file owns a tight BOX in both
    * dimensions. Time travel to v1 preserves the linear layout, so
    * one table carries its own before/after comparison.
    */
  private def txZorderDir(s: SparkSession, dir: String): String =
    Scratch.once("txzorder", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
      graft.operators.TxTable.commitAppend(
        docs.repartitionByRange(8, col("doc_id")), tmp,
        statsCols = Seq("doc_id", "n_chars"))
      graft.operators.TxTable.commitCompact(s, tmp, targetFiles = 8,
        statsCols = Seq("doc_id", "n_chars"),
        zOrderBy = Seq("doc_id", "n_chars"))
    }

  /** Deletion-vector table (q342): v1 lands documents in 4 files;
    * v2 and v3 are MERGE-ON-READ deletes (doc_id % 7, then lang='de')
    * that write only position sidecars — the fixture asserts no data
    * file changed; v4 is PURGE, which materializes both DVs and must
    * not change a visible row.
    */
  private def txDvDir(s: SparkSession, dir: String): String =
    Scratch.once("txdv", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.repartitionByRange(4, col("doc_id")), tmp)
      val filesV1 = graft.operators.TxTable.liveFiles(tmp).toSet
      graft.operators.TxTable.commitDeleteDV(s, tmp,
        col("doc_id") % 7 === 0)
      graft.operators.TxTable.commitDeleteDV(s, tmp, col("lang") === "de")
      require(graft.operators.TxTable.liveFiles(tmp).toSet == filesV1,
        "a DV delete must not touch the data file set")
      graft.operators.TxTable.commitPurgeDVs(s, tmp)
      require(graft.operators.TxTable.dvRefsAt(tmp).isEmpty,
        "purge must clear the DV state")
    }

  /** DV'd-at-head table (q377): like [[txDvDir]] but the DVs are
    * NEVER purged — head carries two in-force deletion vectors, the
    * steady state of a merge-on-read erasure feed. The fixture pins
    * that both DVs are live so the SQL reads demonstrably cross the
    * snapshot-scan rule, not the raw parquet path.
    */
  private def txSqlDvDir(s: SparkSession, dir: String): String =
    Scratch.once("txsqldv", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.repartitionByRange(4, col("doc_id")), tmp) // v1
      graft.operators.TxTable.commitDeleteDV(s, tmp,
        col("doc_id") % 7 === 0) // v2
      graft.operators.TxTable.commitDeleteDV(s, tmp,
        col("lang") === "de") // v3 — head keeps BOTH DVs in force
      require(graft.operators.TxTable.dvRefsAt(tmp).size == 2,
        "fixture requires in-force DVs at head")
    }

  /** RESTORE table (q343): v1+v2 land documents split even/odd, v3 is
    * a rewriting delete, v4 a merge-on-read delete — then v5 RESTOREs
    * to v2, rolling back the file set AND the DV state in one commit
    * with no data movement.
    */
  private def txRestoreDir(s: SparkSession, dir: String): String =
    Scratch.once("txrestore", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.filter(col("doc_id") % 2 === 0).repartition(4), tmp)
      graft.operators.TxTable.commitAppend(
        docs.filter(col("doc_id") % 2 === 1).repartition(2), tmp)
      graft.operators.TxTable.commitDelete(s, tmp, col("doc_id") % 3 === 0)
      graft.operators.TxTable.commitDeleteDV(s, tmp, col("lang") === "fr")
      val rv = graft.operators.TxTable.commitRestore(s, tmp, toVersion = 2)
      require(rv == 5, s"restore expected at v5, committed v$rv")
    }

  /** Shallow-clone pair (q344): the SOURCE lands documents and a
    * merge-on-read delete (so the clone inherits a DV reference by
    * absolute path); the CLONE then rewrites under its own log
    * (copy-on-write delete) while the source stays byte-untouched.
    * Returns `(src, dst)` — both roots, one fixture.
    */
  private def txCloneDirs(s: SparkSession, dir: String): (String, String) = {
    val root = Scratch.once("txclone", dir) { root =>
      val (src, dst) = (s"$root/src", s"$root/dst")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.repartitionByRange(3, col("doc_id")), src)
      graft.operators.TxTable.commitDeleteDV(s, src,
        col("doc_id") % 11 === 0)
      graft.operators.TxTable.cloneShallow(s, src, dst)
      graft.operators.TxTable.commitDelete(s, dst, col("lang") === "en")
    }
    (s"$root/src", s"$root/dst")
  }

  /** Three-key z-order table (q352): doc_id × n_chars × lang code —
    * the (tenant, date, key) clustering shape. v1 is doc_id-linear;
    * v2 `commitCompact(zOrderBy = 3 keys)` re-clusters on the 3-way
    * Morton interleave so each file owns a box in ALL THREE
    * dimensions.
    */
  private def txZorder3Dir(s: SparkSession, dir: String): String =
    Scratch.once("txz3", dir) { tmp =>
      val keys = Seq("doc_id", "n_chars", "lang_b")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          length(col("text")).cast("long").as("n_chars"),
          (ascii(substring(col("lang"), 1, 1)) * 256 +
            ascii(substring(col("lang"), 2, 1))).cast("long").as("lang_b"))
      graft.operators.TxTable.commitAppend(
        docs.repartitionByRange(8, col("doc_id")), tmp,
        statsCols = keys)
      graft.operators.TxTable.commitCompact(s, tmp, targetFiles = 8,
        statsCols = keys, zOrderBy = keys)
    }

  /** Lang-dimension txlog table (q351's B side): v1 all five langs →
    * regions, v2 deletes fr, v3 MERGE updates en's region and inserts
    * an A-unmatched lang — the dimension churn a join view must
    * absorb incrementally.
    */
  private def langDimDir(s: SparkSession, dir: String): String =
    Scratch.once("langdim", dir) { tmp =>
      import s.implicits._
      graft.operators.TxTable.commitAppend(
        Seq(("de", "eu"), ("en", "na"), ("es", "ib"), ("fr", "eu"),
          ("zh", "as")).toDF("lang", "region").coalesce(1), tmp)
      graft.operators.TxTable.commitDelete(s, tmp, col("lang") === "fr")
      graft.operators.TxTable.commitMerge(s, tmp,
        Seq(("en", "amer"), ("xx", "zz")).toDF("lang", "region"), "lang")
    }

  /** Incremental-OPTIMIZE table (q350): one at-size file (the even
    * half, coalesced) plus 16 small files from 8 streaming-style
    * appends; `commitCompactSmall` with the big file's own size as
    * the threshold must sweep the 16 into one and leave the big file
    * byte-untouched. Returns `(dir, bigFileName)`: the big file is
    * v1's only file.
    */
  private def txSmallCompactDir(s: SparkSession, dir: String)
      : (String, String) = {
    val tmp = Scratch.once("txsmall", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.filter(col("doc_id") % 2 === 0).coalesce(1), tmp)
      val big = graft.operators.TxTable.liveFiles(tmp).head
      val bigSize = java.nio.file.Files.size(
        java.nio.file.Paths.get(tmp, "data", big))
      (0 to 7).foreach { r =>
        graft.operators.TxTable.commitAppend(
          docs.filter(col("doc_id") % 16 === (2 * r + 1).toLong)
            .repartition(2), tmp)
      }
      graft.operators.TxTable.commitCompactSmall(s, tmp,
        smallBytes = bigSize, targetBytes = Long.MaxValue)
    }
    (tmp, graft.operators.TxTable.liveFiles(tmp, Some(1)).head)
  }

  /** SQL-maintenance table (q356): mutations through the operator
    * API, then the ENTIRE repair driven through `CALL` stored
    * procedures — restore to v1, sweep, checkpoint — proving a
    * SQL-only operator can run the upkeep cycle without a line of
    * Scala.
    */
  private def txSqlCallDir(s: SparkSession, dir: String): String =
    Scratch.once("txcall", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.commitAppend(
        docs.repartitionByRange(4, col("doc_id")), tmp) // v1
      graft.operators.TxTable.commitDelete(s, tmp,
        col("doc_id") % 3 === 0) // v2
      graft.operators.TxTable.commitDeleteDV(s, tmp,
        col("lang") === "es") // v3
      val rv = s.sql(s"CALL txlog.restore('$tmp', 1)")
        .collect().head.getLong(0)
      require(rv == 4L, s"SQL restore expected v4, got v$rv")
      val ov = s.sql(
          s"CALL txlog.optimize_small('$tmp', ${Long.MaxValue}L)")
        .collect().head.getLong(0)
      require(ov == 5L, s"SQL sweep expected v5, got v$ov")
      s.sql(s"CALL txlog.checkpoint('$tmp')").collect()
    }

  /** CHECK-constrained table (q348): two constraints registered
    * before any data; the full corpus (with planted violations —
    * doc_id % 13 rows get an unknown lang) is REJECTED whole, then
    * the valid subset lands. The loud rejection is asserted right
    * here; the query certifies the surviving content.
    */
  private def txConstraintDir(s: SparkSession, dir: String): String =
    Scratch.once("txck", dir) { tmp =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.TxTable.addCheckConstraint(s, tmp, "len_pos",
        "length(text) > 0")
      graft.operators.TxTable.addCheckConstraint(s, tmp, "lang_known",
        "lang IN ('de','en','es','fr','zh')")
      val tainted = docs.withColumn("lang",
        when(col("doc_id") % 13 === 0, lit("xx")).otherwise(col("lang")))
      val rejected =
        try { graft.operators.TxTable.commitAppend(tainted, tmp); false }
        catch {
          case _: graft.operators.TxTable.ConstraintViolationException =>
            true
        }
      require(rejected, "the tainted append must be rejected whole")
      require(graft.operators.TxTable.currentVersion(tmp) == 0,
        "a rejected commit must leave no version behind")
      graft.operators.TxTable.commitAppend(
        tainted.filter(col("doc_id") % 13 =!= 0), tmp)
    }

  /** Near-dup-aware MERGE table (q334): even-id documents ingest
    * first (building the signature index from empty), the SAME batch
    * replays (must be a version no-op), then the odd-id batch ingests
    * against the index — corpus near-dups and batch-internal
    * greedy-pair dups are dropped, survivors extend the index.
    */
  private def nearDupMergeDir(s: SparkSession, dir: String): String =
    Scratch.once("ndmerge", dir) { tmp =>
      val (tdir, sdir) = (s"$tmp/table", s"$tmp/sigs")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val even = docs.filter(col("doc_id") % 2 === 0)
      def ingest(b: org.apache.spark.sql.DataFrame) =
        graft.operators.TxTable.commitMergeNearDup(s, tdir, sdir, b,
          "doc_id", "text", n = 3, threshold = 0.5,
          statsCols = Seq("doc_id"))
      val v1 = ingest(even)
      val v2 = ingest(even) // replay: must not commit
      require(v2 == v1, s"replayed batch committed: v$v1 -> v$v2")
      ingest(docs.filter(col("doc_id") % 2 === 1))
    } + "/table"

  /** q385's fixture: [[nearDupMergeDir]]'s exact protocol on the
    * 1/16-subsampled corpus (doc_id ≡ 0,1 mod 32 — both parities
    * survive the subsample, so the even-bootstrap / replay / odd-batch
    * sequence is unchanged).
    */
  private def nearDupMergeTwinDir(s: SparkSession, dir: String): String =
    Scratch.once("ndmtwin", dir) { tmp =>
      val (tdir, sdir) = (s"$tmp/table", s"$tmp/sigs")
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 32 <= 1)
        .select(col("doc_id"), col("text"))
      val even = docs.filter(col("doc_id") % 2 === 0)
      def ingest(b: org.apache.spark.sql.DataFrame) =
        graft.operators.TxTable.commitMergeNearDup(s, tdir, sdir, b,
          "doc_id", "text", n = 3, threshold = 0.5,
          statsCols = Seq("doc_id"))
      val v1 = ingest(even)
      val v2 = ingest(even) // replay: must not commit
      require(v2 == v1, s"replayed twin batch committed: v$v1 -> v$v2")
      ingest(docs.filter(col("doc_id") % 2 === 1))
    } + "/table"

  /** Exact-substring MERGE table (q340): q334's protocol on the
    * exact-match axis — even docs ingest first (building the
    * fingerprint index from empty), the same batch replays (version
    * no-op, asserted), then odd docs ingest against the index.
    */
  private def exactMergeDir(s: SparkSession, dir: String): String =
    Scratch.once("exmerge", dir) { tmp =>
      val (tdir, fdir) = (s"$tmp/table", s"$tmp/fps")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def ingest(b: org.apache.spark.sql.DataFrame) =
        graft.operators.TxTable.commitMergeExactSub(s, tdir, fdir, b,
          "doc_id", "text", k = 8, t = 32, statsCols = Seq("doc_id"))
      val even = docs.filter(col("doc_id") % 2 === 0)
      val v1 = ingest(even)
      val v2 = ingest(even) // replay: must not commit
      require(v2 == v1, s"replayed batch committed: v$v1 -> v$v2")
      ingest(docs.filter(col("doc_id") % 2 === 1))
    } + "/table"

  /** Bloom-sidecar transaction-log table (q325): documents in a
    * HASH-random 8-file layout (per-file [min,max] spans the whole id
    * domain — minmax pruning is useless by construction) with a
    * per-file Bloom position-set on doc_id.
    */
  private def txBloomDir(s: SparkSession, dir: String): String =
    Scratch.once("txbloom", dir) { tmp =>
      graft.operators.TxTable.commitAppend(
        t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
          .repartition(8),
        tmp, statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    }

  /** Trained unigram-LM piece table per sf dir (q326/q327), trained
    * once per JVM: 24-multi-piece target, maxPieceLen 6, 4 hard-EM
    * iterations — a pure function of the corpus word multiset.
    */
  private val unigramCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]()
  private[queries] def unigramPieces(s: SparkSession,
      dir: String): Seq[(String, Double)] =
    unigramCache.computeIfAbsent(dir, { d =>
      graft.operators.Unigram.train(t(s, d, "documents"), "text",
        targetVocab = 24, maxPieceLen = 6, emIters = 4)
    })

  /** Z-ordered events layout per sf dir, written once per JVM (the
    * artifact-cache pattern of the ANN indexes): events clustered by
    * zValue(user_id, value) into 16 range-partitioned files, so
    * per-file min/max on user_id is tight and [[Layout.prunedRead]]
    * can skip most files for a user-range predicate.
    */
  private def zorderedEventsFor(s: SparkSession, dir: String): String =
    Scratch.once("zorder", dir) { tmp =>
      graft.operators.Layout.zOrdered(
          // second z-dim bucketed to ~4 bits so the user_id bits own
          // the high interleave positions at every sf (balanced z-codes
          // -> tight per-file user ranges -> real skipping)
          t(s, dir, "events").withColumn("vint",
            (col("value") / 64).cast("long")),
          "user_id", "vint", numFiles = 16)
        .drop("vint", "zval")
        .write.mode("overwrite").parquet(tmp)
    }

  /** Hive-partitioned z-order twin of [[zorderedEventsFor]] (q317):
    * zones as zbin= partition directories so pruning is DPP.
    */
  private def zbinEventsFor(s: SparkSession, dir: String): String =
    Scratch.once("zbin", dir) { tmp =>
      graft.operators.Layout.zOrderedPartitionedWrite(
        t(s, dir, "events").withColumn("vint",
          (col("value") / 64).cast("long")),
        "user_id", "vint", tmp, nBins = 16)
    }

  private def inList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  private val wordsCte =
    "SELECT doc_id, text, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents"

  /** The q85 merged-SCD2-dimension CTE chain (ends with `dim2`),
    * shared by the q85 and q242 oracles.
    */
  private val scd2Cte =
    ("e AS (SELECT user_id, event_type AS seg, epoch(date_trunc('second', ts))::BIGINT AS sec, event_id FROM events), "
     + "cut AS (SELECT epoch(TIMESTAMP '2024-01-15 00:00:00')::BIGINT AS c), "
     + "dim AS (SELECT user_id, seg, sec AS valid_from, NULL::BIGINT AS valid_to FROM ("
     + "SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn "
     + "FROM e CROSS JOIN cut WHERE sec < cut.c) t WHERE rn = 1), "
     + "upd AS (SELECT user_id, seg AS useg, sec AS usec FROM ("
     + "SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec DESC, seg DESC) AS rn "
     + "FROM e CROSS JOIN cut WHERE sec >= cut.c) t WHERE rn = 1), "
     + "kept AS (SELECT d.user_id, d.seg, d.valid_from, "
     + "CASE WHEN u.useg IS NOT NULL AND u.useg <> d.seg THEN u.usec ELSE NULL END AS valid_to "
     + "FROM dim d LEFT JOIN upd u USING (user_id)), "
     + "opened AS (SELECT u.user_id, u.useg AS seg, u.usec AS valid_from, NULL::BIGINT AS valid_to "
     + "FROM upd u LEFT JOIN dim d USING (user_id) WHERE d.seg IS NULL OR d.seg <> u.useg), "
     + "dim2 AS (SELECT * FROM kept UNION ALL SELECT * FROM opened)")

  /** Queries whose outputs are engine-hash-defined (MinHash / SimHash /
    * LSH / IVF) are pinned by golden parquet written by
    * [[graft.MakeGolden]]: the oracle reads the pin back. The sf0.01
    * path matches the driver's correctness scale; `tools/compare.py`
    * rewrites the sf segment when checking other scales locally.
    */
  private def golden(q: String, cols: String, order: String): String =
    s"SELECT $cols FROM read_parquet('/root/repo/golden/sf0.01/$q/*.parquet') ORDER BY $order"

  /** q327's independent Viterbi replay: the per-position argmax DP
    * unrolled as a CTE chain (one `b<j>`/`a<j>` pair per position up
    * to `maxLen`), reading the golden q326 piece table. `b<j>` extends
    * every reachable split `pos < j` by the piece `word[pos+1 .. j]`
    * and keeps the argmax per word with the ENGINE's exact tie-break
    * (score desc, tokens asc, split start asc); `a<j>` accumulates
    * reached positions. dp sums combine the same stored doubles in
    * the same structural order as the engine's DP, so the replay is
    * bit-exact, not approximately equal. Ends with `seg(w, nt, toks)`.
    */
  private def unigramDpChain(maxLen: Int, maxPieceLen: Int = 6): String = {
    val sb = new StringBuilder
    sb ++= "p AS (SELECT piece, log_prob FROM read_parquet('/root/repo/golden/sf0.01/q326_unigram_vocab/*.parquet')), "
    // LOUD guard: the DP is unrolled to maxLen positions, so a word
    // longer than that would silently never reach pos = length(w) and
    // be treated as out-of-vocab while the engine segments it — fail
    // the oracle instead of certifying a divergence.
    sb ++= ("dw AS (SELECT w FROM (SELECT DISTINCT unnest(ws) AS w FROM words) dwi "
      + s"WHERE CASE WHEN length(w) > $maxLen THEN "
      + s"error('unigram DP chain unrolled to $maxLen; corpus word exceeds it') "
      + "ELSE TRUE END), ")
    sb ++= "a0 AS (SELECT w, 0 AS pos, 0.0::DOUBLE AS sc, 0 AS nt, '' AS toks FROM dw), "
    for (j <- 1 to maxLen) {
      val lo = math.max(0, j - maxPieceLen)
      sb ++= s"b$j AS (SELECT w, $j AS pos, sc, nt, toks FROM ("
      sb ++= "SELECT d.w, d.sc + p.log_prob AS sc, d.nt + 1 AS nt, "
      sb ++= "CASE WHEN d.pos = 0 THEN p.piece ELSE d.toks || ' ' || p.piece END AS toks, "
      sb ++= "ROW_NUMBER() OVER (PARTITION BY d.w ORDER BY d.sc + p.log_prob DESC, d.nt + 1 ASC, d.pos ASC) AS rn "
      sb ++= s"FROM a${j - 1} d JOIN p ON d.pos >= $lo AND d.pos < $j AND length(d.w) >= $j "
      sb ++= s"AND substring(d.w, d.pos + 1, $j - d.pos) = p.piece) WHERE rn = 1), "
      // MATERIALIZED: each a<j> is referenced twice (by b<j+1> and
      // a<j+1>); an inlined chain re-evaluates exponentially (2^len)
      sb ++= s"a$j AS MATERIALIZED (SELECT * FROM a${j - 1} UNION ALL SELECT * FROM b$j), "
    }
    sb ++= s"seg AS (SELECT w, nt, toks, sc FROM a$maxLen WHERE pos = length(w))"
    sb.toString
  }

  /** q125's oracle: the 5 fixed-point power iterations unrolled as a
    * CTE chain — expressible in plain SQL precisely because the engine
    * keeps all PageRank arithmetic in truncating BIGINT ops (`div` in
    * Spark, `//` in DuckDB), so the ranks match bit-for-bit with no
    * float-order tolerance and no golden pin.
    */
  /** q261's oracle: 5 unrolled synchronous label-propagation rounds —
    * per round each node takes the (COUNT DESC, label ASC)-first label
    * among its in-neighbors, exactly the `min(struct(-cnt, lbl))`
    * reduction the Spark side runs; all-integer, so the final
    * community sizes are engine-independent.
    */
  private def lpaCtes: String = {
    val base =
      "WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS su " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "edges AS (SELECT c AS src, su AS dst FROM pairs UNION ALL SELECT su, c FROM pairs), " +
      "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"
    val iters = (1 to 5).map { i =>
      s"l$i AS (SELECT node, lbl FROM (SELECT e.dst AS node, p.lbl AS lbl, " +
      "ROW_NUMBER() OVER (PARTITION BY e.dst ORDER BY COUNT(*) DESC, p.lbl) AS rn " +
      s"FROM l${i - 1} p JOIN edges e ON p.node = e.src GROUP BY e.dst, p.lbl) t WHERE rn = 1)"
    }.mkString(", ", ", ", "")
    base + iters
  }

  private def lpaOracle: String =
    lpaCtes +
      " SELECT lbl AS community, COUNT(*)::BIGINT AS n_members FROM l5 " +
      "GROUP BY 1 ORDER BY n_members DESC, community LIMIT 20"

  /** q263's oracle: the q261 label chain, then exact-integer modularity
    * bookkeeping per community over the DIRECTED symmetric edge list —
    * internal2 (directed in-community edges), deg (out-degree mass) and
    * the per-community numerator m2·internal2 − deg², where the true
    * modularity contribution is that value / m2².
    */
  private def modularityOracle: String =
    lpaCtes +
      ", lab AS (SELECT node, lbl FROM l5), " +
      "m2 AS (SELECT COUNT(*) AS m2 FROM edges), " +
      "el AS (SELECT a.lbl AS ca, b.lbl AS cb FROM edges e " +
      "JOIN lab a ON e.src = a.node JOIN lab b ON e.dst = b.node), " +
      "intc AS (SELECT ca AS community, COUNT(*)::BIGINT AS internal2 FROM el WHERE ca = cb GROUP BY 1), " +
      "degc AS (SELECT a.lbl AS community, COUNT(*)::BIGINT AS deg FROM edges e " +
      "JOIN lab a ON e.src = a.node GROUP BY 1), " +
      "mem AS (SELECT lbl AS community, COUNT(*)::BIGINT AS n_members FROM lab GROUP BY 1) " +
      "SELECT mem.community, n_members, COALESCE(internal2, 0)::BIGINT AS internal2, deg, " +
      "CAST(m2 * COALESCE(internal2, 0) - deg * deg AS BIGINT) AS q_num " +
      "FROM mem JOIN degc ON mem.community = degc.community " +
      "LEFT JOIN intc ON mem.community = intc.community, m2 " +
      "ORDER BY n_members DESC, mem.community LIMIT 20"

  private def pagerankOracle: String = {
    val base =
      "WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS su " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "edges AS (SELECT c AS src, su AS dst FROM pairs UNION ALL SELECT su, c FROM pairs), " +
      "outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src), " +
      "r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM outdeg)"
    val iters = (1 to 5).map { i =>
      s"r$i AS (SELECT e.dst AS node, CAST(150000 + (85 * SUM(p.r // o.d)) // 100 AS BIGINT) AS r " +
      s"FROM r${i - 1} p JOIN outdeg o ON p.node = o.src JOIN edges e ON o.src = e.src GROUP BY e.dst)"
    }.mkString(", ", ", ", " ")
    base + iters + "SELECT node, r AS rank FROM r5 ORDER BY r DESC, node LIMIT 20"
  }

  /** q375's oracle: q125's unrolled chain at 3 iterations over the
    * 1/16-subsampled graph — small enough that this replay IS
    * practical in DuckDB at the sf1 gate (the whole point of the
    * twin).
    */
  private def pagerankTwinOracle: String = {
    val base =
      "WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS su " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderkey % 16 = 0), " +
      "edges AS (SELECT c AS src, su AS dst FROM pairs UNION ALL SELECT su, c FROM pairs), " +
      "outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src), " +
      "r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM outdeg)"
    val iters = (1 to 3).map { i =>
      s"r$i AS (SELECT e.dst AS node, CAST(150000 + (85 * SUM(p.r // o.d)) // 100 AS BIGINT) AS r " +
      s"FROM r${i - 1} p JOIN outdeg o ON p.node = o.src JOIN edges e ON o.src = e.src GROUP BY e.dst)"
    }.mkString(", ", ", ", " ")
    base + iters + "SELECT node, r AS rank FROM r3 ORDER BY r DESC, node LIMIT 20"
  }

  /** q376's oracle: 2-hop BFS unrolled as frontier sets from the
    * subgraph's lowest part node.
    */
  private def bfsTwinOracle: String =
    "WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 16 = 0), " +
    "edges AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v FROM li a " +
    "JOIN li b ON a.l_orderkey = b.l_orderkey WHERE a.l_partkey <> b.l_partkey), " +
    "seed AS (SELECT MIN(u) AS s FROM edges), " +
    "h1 AS (SELECT DISTINCT e.v AS node FROM edges e WHERE e.u = (SELECT s FROM seed)), " +
    "h2 AS (SELECT DISTINCT e.v AS node FROM edges e JOIN h1 ON e.u = h1.node), " +
    "dist AS (SELECT (SELECT s FROM seed) AS node, 0 AS dd " +
    "UNION ALL SELECT node, 1 FROM h1 WHERE node <> (SELECT s FROM seed) " +
    "UNION ALL SELECT node, 2 FROM h2 WHERE node <> (SELECT s FROM seed) " +
    "AND node NOT IN (SELECT node FROM h1)) " +
    "SELECT dd::BIGINT AS dist, COUNT(*)::BIGINT AS n_nodes, " +
    "bit_xor(node)::BIGINT AS node_xor FROM dist GROUP BY dd ORDER BY dist"

  /** q380's oracle: the exact wedge-join triangle count on the
    * subsampled graph (q132's replay, practical at sf1 because the
    * 1/16 subsample cuts the wedge volume ~256×).
    */
  private def trianglesTwinOracle: String =
    "WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
    "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
    "AND a.l_partkey < b.l_partkey WHERE a.l_orderkey % 16 = 0) " +
    "SELECT COUNT(*) AS n_triangles FROM e e1 " +
    "JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v " +
    "JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v"

  /** q381's oracle: q143's peeling unrolled at 2 rounds over the
    * subsampled weight-≥2 graph.
    */
  private def kcoreTwinOracle: String = {
    val base =
      "WITH und AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
      "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      "WHERE a.l_orderkey % 16 = 0), " +
      "e0 AS (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und)"
    val iters = (1 to 2).map { i =>
      s"k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= 3), " +
      s"e$i AS (SELECT e.src, e.dst FROM e${i - 1} e JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)"
    }.mkString(", ", ", ", " ")
    base + iters + "SELECT src AS node, COUNT(*) AS deg FROM e2 GROUP BY src ORDER BY node"
  }

  /** q382's oracle: q179's relaxation unrolled at 2 rounds, seeded at
    * the subgraph's lowest node via a scalar subquery.
    */
  private def ssspTwinOracle: String = {
    val base =
      "WITH e AS (SELECT u, v, (u + v) % 97 + 1 AS w FROM " +
      "(SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
      "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey " +
      "WHERE a.l_orderkey % 16 = 0)), " +
      "seed AS (SELECT MIN(u) AS s FROM e), " +
      "d0 AS (SELECT u AS node, CASE WHEN u = (SELECT s FROM seed) THEN 0 ELSE NULL END AS dd FROM (SELECT DISTINCT u FROM e))"
    val iters = (1 to 2).map { i =>
      s"d$i AS (SELECT node, MIN(dd) AS dd FROM (" +
      s"SELECT node, dd FROM d${i - 1} UNION ALL " +
      s"SELECT e.v AS node, p.dd + e.w AS dd FROM d${i - 1} p JOIN e ON p.node = e.u WHERE p.dd IS NOT NULL" +
      ") GROUP BY 1)"
    }.mkString(", ", ", ", " ")
    base + iters +
      "SELECT node, dd FROM d2 WHERE dd IS NOT NULL ORDER BY dd, node LIMIT 25"
  }

  /** q383's oracle: 2 unrolled synchronous LPA rounds on the
    * subsampled bipartite graph (q261's replay shape).
    */
  private def lpaTwinOracle: String = {
    val base =
      "WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS su " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderkey % 16 = 0), " +
      "edges AS (SELECT c AS src, su AS dst FROM pairs UNION ALL SELECT su, c FROM pairs), " +
      "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"
    val iters = (1 to 2).map { i =>
      s"l$i AS (SELECT node, lbl FROM (SELECT e.dst AS node, p.lbl AS lbl, " +
      "ROW_NUMBER() OVER (PARTITION BY e.dst ORDER BY COUNT(*) DESC, p.lbl) AS rn " +
      s"FROM l${i - 1} p JOIN edges e ON p.node = e.src GROUP BY e.dst, p.lbl) t WHERE rn = 1)"
    }.mkString(", ", ", ", " ")
    base + iters +
      "SELECT lbl AS community, COUNT(*)::BIGINT AS n_members FROM l2 " +
      "GROUP BY 1 ORDER BY n_members DESC, community LIMIT 20"
  }

  /** q141's oracle: q125's unrolled fixed-point chain plus, per round,
    * a scalar subquery for the rank parked on sinks (anti-join against
    * outdeg) and its `// N` uniform share — the node universe is
    * src ∪ dst, and every node (even one nobody links to) gets the
    * 0.15 base plus the dangling share.
    */
  private def pagerankDanglingOracle: String = {
    val base =
      "WITH edges AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000000 AS dst " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src), " +
      "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges), " +
      "nn AS (SELECT COUNT(*) AS n FROM nodes), " +
      "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"
    val iters = (1 to 5).map { i =>
      s"r$i AS (SELECT nd.node, CAST(150000 + (85 * (COALESCE(c.s, 0) + " +
      s"(SELECT COALESCE(SUM(p.r), 0) FROM r${i - 1} p LEFT JOIN outdeg o ON p.node = o.src WHERE o.src IS NULL) " +
      "// (SELECT n FROM nn))) // 100 AS BIGINT) AS r " +
      "FROM nodes nd LEFT JOIN (" +
      s"SELECT e.dst AS node, SUM(p.r // o.d) AS s FROM r${i - 1} p " +
      "JOIN outdeg o ON p.node = o.src JOIN edges e ON o.src = e.src GROUP BY e.dst" +
      ") c ON nd.node = c.node)"
    }.mkString(", ", ", ", " ")
    base + iters + "SELECT node, r AS rank FROM r5 ORDER BY r DESC, node LIMIT 20"
  }

  /** q137's oracle: the exact-decimal moments and the CHARACTER-
    * IDENTICAL closed-form double arithmetic the Spark side runs —
    * same parse, same IEEE op order, bit-equal results.
    */
  private def regressionOracle: String = {
    val qx = "CAST(round(l_quantity) AS BIGINT)"
    val cy = "CAST(round(l_extendedprice * 100) AS BIGINT)"
    val cov = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    val varx = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val slope = s"$cov / $varx"
    s"WITH m AS (SELECT l_returnflag, COUNT(*) AS n, SUM(CAST($qx AS DECIMAL(18,0))) AS sx, SUM(CAST($cy AS DECIMAL(18,0))) AS sy, " +
      s"SUM(CAST($qx * $qx AS DECIMAL(18,0))) AS sxx, SUM(CAST($qx * $cy AS DECIMAL(18,0))) AS sxy, SUM(CAST($cy * $cy AS DECIMAL(18,0))) AS syy " +
      "FROM lineitem GROUP BY 1) " +
      s"SELECT l_returnflag, n, ROUND($slope / 100, 4) AS slope, " +
      s"ROUND((CAST(sy AS DOUBLE) - $slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100, 4) AS intercept, " +
      s"ROUND($cov * $cov / ($varx * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) AS r2 " +
      "FROM m ORDER BY 1"
  }

  /** q140's oracle: the 4 BFS relaxations unrolled — NULL plays the
    * unreached sentinel (MIN ignores NULLs), mirroring the engine's
    * Long.MaxValue; all-integer distances make the traversal exactly
    * comparable.
    */
  private def bfsOracle: String = {
    val base =
      "WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
      "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey), " +
      "d0 AS (SELECT u AS node, CASE WHEN u = 1 THEN 0 ELSE NULL END AS dd FROM (SELECT DISTINCT u FROM e))"
    val iters = (1 to 4).map { i =>
      s"d$i AS (SELECT node, MIN(dd) AS dd FROM (" +
      s"SELECT node, dd FROM d${i - 1} UNION ALL " +
      s"SELECT e.v AS node, p.dd + 1 AS dd FROM d${i - 1} p JOIN e ON p.node = e.u WHERE p.dd IS NOT NULL" +
      ") GROUP BY 1)"
    }.mkString(", ", ", ", " ")
    base + iters +
      "SELECT dd, COUNT(*) AS n_nodes FROM d4 WHERE dd IS NOT NULL GROUP BY 1 ORDER BY 1"
  }

  /** q179's oracle: q140's unrolled relaxation chain with the per-edge
    * integer cost (u+v)%97+1 — Bellman–Ford rounds re-executed exactly.
    */
  private def ssspOracle: String = {
    val base =
      "WITH e AS (SELECT u, v, (u + v) % 97 + 1 AS w FROM " +
      "(SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v " +
      "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)), " +
      "d0 AS (SELECT u AS node, CASE WHEN u = 1 THEN 0 ELSE NULL END AS dd FROM (SELECT DISTINCT u FROM e))"
    val iters = (1 to 4).map { i =>
      s"d$i AS (SELECT node, MIN(dd) AS dd FROM (" +
      s"SELECT node, dd FROM d${i - 1} UNION ALL " +
      s"SELECT e.v AS node, p.dd + e.w AS dd FROM d${i - 1} p JOIN e ON p.node = e.u WHERE p.dd IS NOT NULL" +
      ") GROUP BY 1)"
    }.mkString(", ", ", ", " ")
    base + iters +
      "SELECT node, dd FROM d4 WHERE dd IS NOT NULL ORDER BY dd, node LIMIT 25"
  }

  /** q142's oracle: q125's unrolled chain with the teleport CASE — all
    * 0.15 mass lands on the source node (a scalar-subquery MIN, the
    * same value the engine reads as its one bounded driver scalar).
    */
  private def pprOracle: String = {
    val base =
      "WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS su " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "srcn AS (SELECT MIN(c) AS s FROM pairs), " +
      "edges AS (SELECT c AS src, su AS dst FROM pairs UNION ALL SELECT su, c FROM pairs), " +
      "outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src), " +
      "nodes AS (SELECT src AS node FROM outdeg), " +
      "r0 AS (SELECT node, CAST(CASE WHEN node = (SELECT s FROM srcn) THEN 1000000 ELSE 0 END AS BIGINT) AS r FROM nodes)"
    val iters = (1 to 5).map { i =>
      s"r$i AS (SELECT nd.node, CAST((CASE WHEN nd.node = (SELECT s FROM srcn) THEN 150000 ELSE 0 END) + " +
      "(85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r " +
      "FROM nodes nd LEFT JOIN (" +
      s"SELECT e.dst AS node, SUM(p.r // o.d) AS s FROM r${i - 1} p " +
      "JOIN outdeg o ON p.node = o.src JOIN edges e ON o.src = e.src GROUP BY e.dst" +
      ") c ON nd.node = c.node)"
    }.mkString(", ", ", ", " ")
    base + iters + "SELECT node, r AS rank FROM r5 ORDER BY r DESC, node LIMIT 20"
  }

  /** q143's oracle: the 4 peeling rounds unrolled — each round keeps
    * sources with degree ≥ 3 and the edges whose BOTH endpoints
    * survive. Pure integer set logic, so no tolerance anywhere.
    */
  private def kcoreOracle: String = {
    val base =
      "WITH und AS (SELECT u, v FROM (SELECT DISTINCT a.l_orderkey AS k, a.l_partkey AS u, b.l_partkey AS v " +
      "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey) " +
      "GROUP BY u, v HAVING COUNT(*) >= 2), " +
      "e0 AS (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und)"
    val iters = (1 to 4).map { i =>
      s"k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= 3), " +
      s"e$i AS (SELECT e.src, e.dst FROM e${i - 1} e JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)"
    }.mkString(", ", ", ", " ")
    base + iters + "SELECT src AS node, COUNT(*) AS deg FROM e4 GROUP BY src ORDER BY node"
  }

  /** q145's oracle: the same sessionize → midnight-split → sweep-line
    * pipeline. The −1 delta sits at segment end + 1 s (closed
    * interval) and ties order −1 before +1, so the running count never
    * transiently overcounts; MAX per day is then exact.
    */
  private def concurrencyOracle: String =
    "WITH ev AS (SELECT user_id AS u, date_trunc('second', ts) AS t FROM events), " +
    "fl AS (SELECT u, t, CASE WHEN LAG(t) OVER (PARTITION BY u ORDER BY t) IS NULL " +
    "OR t > LAG(t) OVER (PARTITION BY u ORDER BY t) + INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS new_s FROM ev), " +
    "sd AS (SELECT u, t, SUM(new_s) OVER (PARTITION BY u ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM fl), " +
    "sess AS (SELECT u, sid, MIN(t) AS s, MAX(t) AS e FROM sd GROUP BY 1, 2), " +
    "seg AS (SELECT CAST(day_ts AS DATE) AS day, GREATEST(s, day_ts) AS seg_s, " +
    "LEAST(e, day_ts + INTERVAL 86399 SECOND) AS seg_e FROM " +
    "(SELECT s, e, UNNEST(generate_series(date_trunc('day', s), date_trunc('day', e), INTERVAL 1 DAY)) AS day_ts FROM sess)), " +
    "del AS (SELECT day, seg_s AS t, 1 AS delta FROM seg UNION ALL SELECT day, seg_e + INTERVAL 1 SECOND, -1 FROM seg), " +
    "run AS (SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS running FROM del) " +
    "SELECT CAST(day AS VARCHAR) AS day, CAST(MAX(running) AS BIGINT) AS peak FROM run GROUP BY day ORDER BY day"

  /** q146's oracle: the identical 16-lag power-of-two weighted sum in
    * BIGINT micro-units; the truncating integer division (`div` /
    * `//`) keeps the whole computation float-free and bit-identical.
    */
  private def ewmaOracle: String = {
    val lags = (1 until 16)
      .map(j => s"LAG(vm, $j) OVER w AS l$j").mkString(", ")
    val num = (0 until 16)
      .map(j => s"COALESCE(l$j, 0) * ${1L << (15 - j)}").mkString(" + ")
    val den = (0 until 16)
      .map(j => s"CASE WHEN l$j IS NOT NULL THEN ${1L << (15 - j)} ELSE 0 END")
      .mkString(" + ")
    "WITH ev AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts_s, " +
    "CAST(round(value * 1000000, 0) AS BIGINT) AS vm FROM events), " +
    s"l AS (SELECT event_id, vm AS l0, $lags FROM ev " +
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)) " +
    s"SELECT event_id, CAST(($num) // ($den) AS BIGINT) AS ewma_micro " +
    "FROM l ORDER BY event_id"
  }

  private val oracles0: Map[String, String] = Map(
    // full recomputation: the ±1 matrix is an integer formula of
    // (i, j), so DuckDB rebuilds the entire projection from raw floats
    "q167_jl_project" ->
      ("WITH v AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(len(embedding))) AS i FROM embeddings), "
       + "q AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS vq FROM v), "
       + "s AS (SELECT vec_id, i, vq, j FROM q CROSS JOIN (SELECT unnest(range(16)) AS j) jj) "
       + "SELECT vec_id, j, CAST(SUM((1 - 2 * (((i * 73856093 + j * 19349663 + i * j * 83492791) % 1000000007) % 2)) * vq) AS BIGINT) AS p "
       + "FROM s GROUP BY 1, 2 ORDER BY vec_id, j"),
    "q168_pq_topk" -> golden("q168_pq_topk", "qid, cid, rn", "qid, rn"),
    "q169_pca_components" ->
      golden("q169_pca_components", "comp, i, w, mu, eigval", "comp, i"),
    // the incremental model must be BIT-IDENTICAL to the full retrain,
    // so it pins against q169's OWN artifact — any divergence in the
    // merged statistics fails the compare
    "q209_pca_incremental" ->
      golden("q169_pca_components", "comp, i, w, mu, eigval", "comp, i"),
    // independent re-execution of the centered fixed-point projection
    // from the pinned component artifact (not a pin read-back)
    "q170_pca_project" ->
      ("WITH w AS (SELECT comp, i, w, mu FROM read_parquet('/root/repo/golden/sf0.01/q169_pca_components/*.parquet')), "
       + "v AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(len(embedding))) AS i FROM embeddings), "
       + "q AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS vq FROM v) "
       + "SELECT q.vec_id AS vec_id, CAST(w.comp AS BIGINT) AS comp, CAST(SUM((q.vq - w.mu) * w.w) AS BIGINT) AS p "
       + "FROM q JOIN w ON q.i = w.i GROUP BY 1, 2 ORDER BY vec_id, comp"),
    "q171_kmv_distinct" ->
      ("WITH h AS (SELECT DISTINCT lang, CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS hv FROM documents), "
       + "r AS (SELECT lang, hv, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h) "
       + "SELECT lang, COUNT(*)::BIGINT AS n_kept, "
       + "MAX(CASE WHEN rn = 64 THEN hv END) AS kth_hash, "
       + "CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE "
       + "ELSE ROUND(63.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(MAX(CASE WHEN rn = 64 THEN hv END) AS DOUBLE), 4) END AS est "
       + "FROM r WHERE rn <= 64 GROUP BY lang ORDER BY lang"),
    "q235_sketch_rollup" ->
      ("WITH ev AS (SELECT event_type, user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d') AS k FROM events), "
       + "h AS (SELECT DISTINCT event_type, CAST(('0x' || substring(md5(k), 1, 15)) AS BIGINT) AS hv FROM ev), "
       + "r AS (SELECT event_type, hv, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h) "
       + "SELECT event_type, COUNT(*)::BIGINT AS n_kept, "
       + "MAX(CASE WHEN rn = 64 THEN hv END) AS kth_hash, "
       + "CASE WHEN COUNT(*) < 64 THEN COUNT(*)::DOUBLE "
       + "ELSE ROUND(63.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(MAX(CASE WHEN rn = 64 THEN hv END) AS DOUBLE), 4) END AS est "
       + "FROM r WHERE rn <= 64 GROUP BY event_type ORDER BY event_type"),
    "q172_kmv_overlap" ->
      ("WITH ev AS (SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS grp, event_type, "
       + "user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d') AS k FROM events), "
       + "ha AS (SELECT DISTINCT grp, CAST(('0x' || substring(md5(k), 1, 15)) AS BIGINT) AS hv FROM ev WHERE event_type = 'click'), "
       + "hb AS (SELECT DISTINCT grp, CAST(('0x' || substring(md5(k), 1, 15)) AS BIGINT) AS hv FROM ev WHERE event_type = 'purchase'), "
       + "ra AS (SELECT grp, hv, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hv) AS rn FROM ha), "
       + "rb AS (SELECT grp, hv, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hv) AS rn FROM hb), "
       + "agga AS (SELECT grp, COUNT(*) AS na, MAX(CASE WHEN rn = 64 THEN hv END) AS ka FROM ra WHERE rn <= 64 GROUP BY grp), "
       + "aggb AS (SELECT grp, COUNT(*) AS nb, MAX(CASE WHEN rn = 64 THEN hv END) AS kb FROM rb WHERE rn <= 64 GROUP BY grp), "
       + "th AS (SELECT grp, na, nb, ka, kb, "
       + "LEAST(CASE WHEN na < 64 THEN CAST(1152921504606846976 AS DOUBLE) ELSE CAST(ka AS DOUBLE) END, "
       + "CASE WHEN nb < 64 THEN CAST(1152921504606846976 AS DOUBLE) ELSE CAST(kb AS DOUBLE) END) AS theta "
       + "FROM agga JOIN aggb USING (grp)), "
       + "sh AS (SELECT ra.grp, COUNT(*) AS s FROM ra JOIN rb ON ra.grp = rb.grp AND ra.hv = rb.hv "
       + "JOIN th ON th.grp = ra.grp "
       + "WHERE ra.rn <= 64 AND rb.rn <= 64 AND CAST(ra.hv AS DOUBLE) < th.theta GROUP BY ra.grp), "
       + "est AS (SELECT th.grp, "
       + "CASE WHEN na < 64 THEN na::DOUBLE ELSE ROUND(63.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(ka AS DOUBLE), 4) END AS est_a, "
       + "CASE WHEN nb < 64 THEN nb::DOUBLE ELSE ROUND(63.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(kb AS DOUBLE), 4) END AS est_b, "
       + "ROUND(COALESCE(sh.s, 0)::DOUBLE * CAST(1152921504606846976 AS DOUBLE) / th.theta, 4) AS est_inter "
       + "FROM th LEFT JOIN sh ON sh.grp = th.grp) "
       + "SELECT grp, est_a, est_b, est_inter, "
       + "ROUND(est_inter / (est_a + est_b - est_inter), 4) AS est_jaccard "
       + "FROM est ORDER BY grp"),
    "q173_containment" ->
      ("WITH words AS (" + wordsCte + "), " +
       "sh AS (SELECT DISTINCT doc_id AS id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle " +
       "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g), " +
       "df AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1), " +
       "cut AS (SELECT sh.id, sh.shingle FROM sh JOIN df USING (shingle) WHERE df.c <= 5), " +
       "sz AS (SELECT id, COUNT(*) AS sz FROM cut GROUP BY id), " +
       "inter AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS i FROM cut x JOIN cut y USING (shingle) WHERE x.id < y.id GROUP BY 1, 2) " +
       "SELECT a, b, ROUND(i::DOUBLE / LEAST(sa.sz, sb.sz), 4) AS cont " +
       "FROM inter JOIN sz sa ON a = sa.id JOIN sz sb ON b = sb.id " +
       "WHERE i::DOUBLE / LEAST(sa.sz, sb.sz) >= 0.6 ORDER BY a, b"),
    "q174_weighted_sample" ->
      ("WITH t AS (SELECT lang, doc_id, "
       + "ln((CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) + 1)::DOUBLE / CAST(1152921504606846976 AS DOUBLE)) "
       + "/ length(text)::DOUBLE AS es FROM documents), "
       + "r AS (SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY es DESC, doc_id) AS rn FROM t) "
       + "SELECT lang, doc_id, rn FROM r WHERE rn <= 10 ORDER BY lang, rn"),
    "q175_ivfpq" -> golden("q175_ivfpq", "qid, cid, rn", "qid, rn"),
    "q177_source_novelty" ->
      ("WITH words AS (SELECT source, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents), "
       + "sh AS (SELECT DISTINCT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle "
       + "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g), "
       + "cnt AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1) "
       + "SELECT source, COUNT(*)::BIGINT AS n_shingles, "
       + "SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel, "
       + "((SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*))::BIGINT AS novelty_micro "
       + "FROM sh JOIN cnt USING (shingle) GROUP BY source ORDER BY source"),
    "q178_source_overlap" ->
      ("WITH words AS (SELECT source, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents), "
       + "shg AS (SELECT DISTINCT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle "
       + "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g), "
       + "h AS (SELECT DISTINCT source, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS hv FROM shg), "
       + "r AS (SELECT source, hv, ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h), "
       + "kk AS (SELECT source, hv, rn FROM r WHERE rn <= 64), "
       + "agg AS (SELECT source, COUNT(*) AS n, MAX(CASE WHEN rn = 64 THEN hv END) AS kth FROM kk GROUP BY source), "
       + "pr AS (SELECT x.source AS a, y.source AS b, x.n AS na, y.n AS nb, x.kth AS ka, y.kth AS kb "
       + "FROM agg x JOIN agg y ON x.source < y.source), "
       + "th AS (SELECT *, LEAST("
       + "CASE WHEN na < 64 THEN CAST(1152921504606846976 AS DOUBLE) ELSE CAST(ka AS DOUBLE) END, "
       + "CASE WHEN nb < 64 THEN CAST(1152921504606846976 AS DOUBLE) ELSE CAST(kb AS DOUBLE) END) AS theta FROM pr), "
       + "shj AS (SELECT th.a, th.b, COUNT(*) AS s FROM kk x JOIN kk y ON x.hv = y.hv AND x.source < y.source "
       + "JOIN th ON th.a = x.source AND th.b = y.source "
       + "WHERE CAST(x.hv AS DOUBLE) < th.theta GROUP BY th.a, th.b), "
       + "est AS (SELECT th.a, th.b, "
       + "CASE WHEN na < 64 THEN na::DOUBLE ELSE ROUND(63.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(ka AS DOUBLE), 4) END AS est_a, "
       + "CASE WHEN nb < 64 THEN nb::DOUBLE ELSE ROUND(63.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(kb AS DOUBLE), 4) END AS est_b, "
       + "ROUND(COALESCE(shj.s, 0)::DOUBLE * CAST(1152921504606846976 AS DOUBLE) / th.theta, 4) AS est_inter "
       + "FROM th LEFT JOIN shj ON shj.a = th.a AND shj.b = th.b) "
       + "SELECT a, b, est_a, est_b, est_inter, "
       + "ROUND(est_inter / (est_a + est_b - est_inter), 4) AS est_jaccard "
       + "FROM est ORDER BY a, b"),
    "q165_source_profile" ->
      ("WITH p AS (SELECT source, COUNT(*)::BIGINT AS docs, COUNT(DISTINCT text)::BIGINT AS uniq, SUM(n_chars)::BIGINT AS chars "
       + "FROM documents GROUP BY 1), t AS (SELECT SUM(chars)::BIGINT AS tchars FROM p) "
       + "SELECT source, docs, uniq, chars, (chars // docs)::BIGINT AS mean_chars, "
       + "(((docs - uniq) * 1000000) // docs)::BIGINT AS dup_micro, "
       + "((chars * 1000000) // tchars)::BIGINT AS share_micro "
       + "FROM p, t ORDER BY source"),
    "q166_supplier_reliability" ->
      ("WITH lr AS (SELECT l_suppkey, COUNT(*)::BIGINT AS n, "
       + "SUM((l_shipdate > o_orderdate + INTERVAL 30 DAY)::BIGINT)::BIGINT AS late "
       + "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1) "
       + "SELECT l_suppkey AS suppkey, s_name, n, late, "
       + "(((late + 1) * 1000000) // (n + 2))::BIGINT AS smoothed_micro "
       + "FROM lr JOIN supplier ON l_suppkey = s_suppkey "
       + "ORDER BY smoothed_micro DESC, suppkey LIMIT 25"),
    "q179_sssp" -> ssspOracle,
    "q180_source_cap" ->
      ("WITH r AS (SELECT source, doc_id, "
       + "ROW_NUMBER() OVER (PARTITION BY source ORDER BY "
       + "CAST(('0x' || substring(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rn, "
       + "COUNT(*) OVER (PARTITION BY source) AS gc FROM documents) "
       + "SELECT source, COUNT(*)::BIGINT AS n_kept, SUM(doc_id)::BIGINT AS id_sum "
       + "FROM r WHERE gc <= 15 OR rn <= 15 GROUP BY 1 ORDER BY 1"),
    "q181_fingerprint" ->
      ("SELECT source, COUNT(*)::BIGINT AS n_docs, "
       + "bit_xor(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)) AS BIGINT)) AS fp, "
       + "SUM(n_chars)::BIGINT AS char_sum "
       + "FROM documents GROUP BY 1 ORDER BY 1"),
    "q182_mmr" -> golden("q182_mmr", "qid, cid, rn, mmr", "qid, rn"),
    "q186_snapshot_diff" ->
      ("WITH v2 AS (SELECT doc_id, CASE WHEN doc_id % 89 = 0 THEN text || ' v2' ELSE text END AS text "
       + "FROM documents WHERE doc_id % 97 <> 0), "
       + "d1 AS (SELECT doc_id // 64 AS bucket, COUNT(*) AS n1, "
       + "bit_xor(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)) AS BIGINT)) AS fp1 "
       + "FROM documents GROUP BY 1), "
       + "d2 AS (SELECT doc_id // 64 AS bucket, COUNT(*) AS n2, "
       + "bit_xor(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)) AS BIGINT)) AS fp2 "
       + "FROM v2 GROUP BY 1) "
       + "SELECT COALESCE(d1.bucket, d2.bucket) AS bucket, "
       + "COALESCE(n1, 0)::BIGINT AS n1, COALESCE(n2, 0)::BIGINT AS n2 "
       + "FROM d1 FULL OUTER JOIN d2 ON d1.bucket = d2.bucket "
       + "WHERE fp1 IS DISTINCT FROM fp2 OR n1 IS DISTINCT FROM n2 "
       + "ORDER BY bucket"),
    "q206_snapshot_rows" ->
      ("WITH v2 AS (SELECT doc_id, CASE WHEN doc_id % 89 = 0 THEN text || ' v2' ELSE text END AS text "
       + "FROM documents WHERE doc_id % 97 <> 0), "
       + "d AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, "
       + "CASE WHEN b.doc_id IS NULL THEN 'deleted' "
       + "WHEN a.doc_id IS NULL THEN 'added' "
       + "WHEN a.text <> b.text THEN 'edited' END AS change "
       + "FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id) "
       + "SELECT doc_id, change FROM d WHERE change IS NOT NULL ORDER BY doc_id"),
    "q187_profile" ->
      (Seq(
        ("l_quantity", true), ("l_extendedprice", true),
        ("l_discount", true), ("l_returnflag", false),
        ("l_linestatus", false))
        .map { case (c, isNum) =>
          val (vmin, vmax, smin, smax) =
            if (isNum) (s"ROUND(MIN($c), 4)", s"ROUND(MAX($c), 4)",
              "NULL::VARCHAR", "NULL::VARCHAR")
            else ("NULL::DOUBLE", "NULL::DOUBLE", s"MIN($c)", s"MAX($c)")
          s"SELECT '$c' AS col, COUNT(*)::BIGINT AS n_rows, " +
            s"COUNT($c)::BIGINT AS n_nonnull, " +
            s"COUNT(DISTINCT $c)::BIGINT AS n_distinct, " +
            s"$vmin AS vmin, $vmax AS vmax, $smin AS smin, $smax AS smax " +
            "FROM lineitem"
        }
        .mkString("", " UNION ALL ", " ORDER BY col")),
    "q188_boolean_and" ->
      ("SELECT doc_id, COUNT(*)::BIGINT AS hits "
       + "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) "
       + "WHERE w IN ('join', 'filter', 'stream') "
       + "GROUP BY doc_id HAVING COUNT(DISTINCT w) = 3 ORDER BY doc_id"),
    "q189_jw_linkage" ->
      ("WITH u AS (SELECT MIN(p_partkey) AS p_partkey, p_name FROM part GROUP BY p_name), "
       + "k AS (SELECT p_partkey AS id, p_name AS nm, "
       + "string_split(p_name, ' ')[1] AS bk, length(p_name) // 8 AS lb FROM u), "
       + "s AS (SELECT *, COUNT(*) OVER (PARTITION BY bk, lb) AS bc FROM k) "
       + "SELECT x.id AS a, y.id AS b, "
       + "ROUND(jaro_winkler_similarity(x.nm, y.nm), 4) AS jw "
       + "FROM s x JOIN s y ON x.bk = y.bk AND x.lb = y.lb AND x.id < y.id "
       + "WHERE x.bc <= 10000 AND ROUND(jaro_winkler_similarity(x.nm, y.nm), 4) >= 0.88 "
       + "ORDER BY a, b"),
    "q190_zonemap" ->
      ("SELECT event_id, user_id, ROUND(value, 4) AS value FROM events "
       + "WHERE user_id BETWEEN 5 AND 9 ORDER BY event_id"),
    "q200_bloom_skip" ->
      ("SELECT event_id, user_id, ROUND(value, 4) AS value FROM events "
       + "WHERE event_id = 777 ORDER BY event_id"),
    "q317_zonemap_dpp" ->
      ("SELECT event_id, user_id, ROUND(value, 4) AS value FROM events "
       + "WHERE user_id BETWEEN 5 AND 9 ORDER BY event_id"),
    "q318_kll_quantiles" ->
      ("SELECT event_type, COUNT(*)::BIGINT AS n_rows, "
       + "TRUE AS within_q25, TRUE AS within_q50, TRUE AS within_q90 "
       + "FROM events GROUP BY event_type ORDER BY event_type"),
    "q203_schema_evolution" ->
      ("SELECT CASE WHEN event_id % 2 = 0 THEN '__pre_schema__' ELSE event_type END AS event_type, "
       + "COUNT(*)::BIGINT AS n, SUM(event_id)::BIGINT AS id_sum "
       + "FROM events GROUP BY 1 ORDER BY event_type"),
    "q204_full_outer" ->
      ("WITH p AS (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*)::BIGINT AS n_purchase "
       + "FROM events WHERE event_type = 'purchase' GROUP BY 1), "
       + "e AS (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*)::BIGINT AS n_error "
       + "FROM events WHERE event_type = 'error' GROUP BY 1) "
       + "SELECT COALESCE(p.day, e.day) AS day, COALESCE(n_purchase, 0)::BIGINT AS n_purchase, "
       + "COALESCE(n_error, 0)::BIGINT AS n_error "
       + "FROM p FULL OUTER JOIN e ON p.day = e.day ORDER BY day"),
    "q205_lateral" ->
      ("SELECT n.n_name, t.c_custkey, ROUND(t.c_acctbal, 4) AS bal "
       + "FROM nation n, LATERAL (SELECT c_custkey, c_acctbal FROM customer c "
       + "WHERE c.c_nationkey = n.n_nationkey "
       + "ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t "
       + "ORDER BY n.n_name, bal DESC, t.c_custkey"),
    "q201_orc_roundtrip" ->
      ("SELECT event_id, user_id, event_type, ROUND(value, 4) AS value "
       + "FROM events ORDER BY event_id"),
    "q222_csv_roundtrip" ->
      ("SELECT event_id, user_id, event_type, ROUND(value, 4) AS value "
       + "FROM events ORDER BY event_id"),
    "q223_json_roundtrip" ->
      "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events ORDER BY event_id",
    "q226_dedup_eval" ->
      ("WITH words AS (" + wordsCte + "), "
       + "sh AS (SELECT DISTINCT doc_id AS id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle "
       + "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g), "
       + "sz AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id), "
       + "inter AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS i FROM sh x JOIN sh y USING (shingle) WHERE x.id < y.id GROUP BY 1, 2), "
       + "truth AS (SELECT a, b FROM inter JOIN sz sa ON a = sa.id JOIN sz sb ON b = sb.id "
       + "WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.8), "
       + "approx AS (SELECT a, b FROM read_parquet('/root/repo/golden/sf0.01/q48_simhash_pairs/*.parquet')), "
       + "hit AS (SELECT approx.a FROM approx JOIN truth USING (a, b)), "
       + "s AS (SELECT (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth, "
       + "(SELECT COUNT(*) FROM approx)::BIGINT AS n_approx, (SELECT COUNT(*) FROM hit)::BIGINT AS n_hit) "
       + "SELECT n_truth, n_approx, n_hit, ROUND(n_hit::DOUBLE / n_approx, 4) AS prec, "
       + "ROUND(n_hit::DOUBLE / n_truth, 4) AS rec FROM s"),
    "q191_group_split" ->
      ("WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nkey FROM documents), "
       + "r AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY nkey) AS rep FROM n), "
       + "b AS (SELECT doc_id, rep, CAST(('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 4)) AS INTEGER) AS b FROM r) "
       + "SELECT CASE WHEN b < 52428 THEN 'train' WHEN b < 58982 THEN 'val' ELSE 'test' END AS split, "
       + "COUNT(*)::BIGINT AS n_docs, COUNT(DISTINCT rep)::BIGINT AS n_groups, SUM(doc_id)::BIGINT AS id_sum "
       + "FROM b GROUP BY 1 ORDER BY split"),
    "q194_group_hitters" ->
      ("WITH tk AS (SELECT lang AS g, unnest(string_split(text, ' ')) AS k FROM documents), "
       + "tk2 AS (SELECT * FROM tk WHERE k <> ''), "
       + "n AS (SELECT g, COUNT(*) AS gn FROM tk2 GROUP BY g) "
       + "SELECT tk2.g AS lang, k AS key, COUNT(*)::BIGINT AS cnt "
       + "FROM tk2 JOIN n ON tk2.g = n.g "
       + "GROUP BY tk2.g, k, n.gn HAVING COUNT(*) > n.gn * 0.01 "
       + "ORDER BY lang, key"),
    "q195_consistency" ->
      ("WITH o AS (SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS ocents FROM orders), "
       + "l AS (SELECT l_orderkey, CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT) AS lcents FROM lineitem), "
       + "ls AS (SELECT l_orderkey, SUM(lcents)::BIGINT AS sumcents FROM l GROUP BY 1), "
       + "dr AS (SELECT abs(ocents - sumcents) AS d FROM o JOIN ls ON o_orderkey = l_orderkey) "
       + "SELECT 'childless_orders' AS chk, COUNT(*)::BIGINT AS n, 0::BIGINT AS cents "
       + "FROM o WHERE o_orderkey NOT IN (SELECT l_orderkey FROM l) "
       + "UNION ALL SELECT 'orphan_lineitems', COUNT(*)::BIGINT, 0::BIGINT "
       + "FROM l WHERE l_orderkey NOT IN (SELECT o_orderkey FROM o) "
       + "UNION ALL SELECT 'total_drift', SUM(CASE WHEN d > 100 THEN 1 ELSE 0 END)::BIGINT, SUM(d)::BIGINT FROM dr "
       + "ORDER BY chk"),
    "q192_proximity" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
       + "tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS i FROM t), "
       + "a AS (SELECT doc_id, i AS pa FROM tok WHERE w = 'hash'), "
       + "b AS (SELECT doc_id, i AS pb FROM tok WHERE w = 'join') "
       + "SELECT a.doc_id, COUNT(*)::BIGINT AS n_prox "
       + "FROM a JOIN b ON a.doc_id = b.doc_id AND abs(pa - pb) <= 5 "
       + "GROUP BY 1 ORDER BY 1"),
    "q162_seasonality" ->
      ("WITH o AS (SELECT event_type, isodow(ts)::BIGINT AS dow, COUNT(*) AS c FROM events GROUP BY 1, 2), "
       + "t AS (SELECT event_type, SUM(c)::BIGINT AS tc FROM o GROUP BY 1) "
       + "SELECT o.event_type AS event_type, dow, c::BIGINT AS c, "
       + "((c * 7 * 1000000) // tc)::BIGINT AS index_micro "
       + "FROM o JOIN t ON o.event_type = t.event_type ORDER BY event_type, dow"),
    "q163_new_vs_returning" ->
      ("WITH ev AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events), "
       + "f AS (SELECT user_id, MIN(day) AS fd FROM ev GROUP BY 1) "
       + "SELECT CAST(ev.day::DATE AS VARCHAR) AS day, "
       + "SUM(CASE WHEN ev.day = fd THEN 1 ELSE 0 END)::BIGINT AS new_users, "
       + "SUM(CASE WHEN ev.day > fd THEN 1 ELSE 0 END)::BIGINT AS returning_users "
       + "FROM ev JOIN f ON ev.user_id = f.user_id GROUP BY 1 ORDER BY day"),
    "q161_kanon" ->
      ("SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment, COUNT(*)::BIGINT AS k, "
       + "COUNT(DISTINCT c_acctbal < 0)::BIGINT AS l_div, "
       + "(1000000 // COUNT(*))::BIGINT AS risk_micro, "
       + "(COUNT(*) < 5)::BIGINT AS risky "
       + "FROM customer GROUP BY 1, 2 ORDER BY nation, segment"),
    "q160_rfm" ->
      ("WITH o AS (SELECT o_custkey, o_orderdate::DATE AS od, ROUND(o_totalprice*100)::BIGINT AS cents FROM orders), "
       + "mx AS (SELECT MAX(od) AS maxd FROM o), "
       + "cust AS (SELECT o_custkey, MIN(datediff('day', od, maxd))::BIGINT AS recency, COUNT(*)::BIGINT AS frequency, SUM(cents)::BIGINT AS monetary FROM o, mx GROUP BY 1), "
       + "n AS (SELECT COUNT(*)::BIGINT AS n FROM cust), "
       + "rcum AS (SELECT v, SUM(cnt) OVER (ORDER BY v)::BIGINT AS cum FROM (SELECT recency AS v, COUNT(*) AS cnt FROM cust GROUP BY 1)), "
       + "rb AS (SELECT MAX(CASE WHEN i=1 THEN b END) AS rb1, MAX(CASE WHEN i=2 THEN b END) AS rb2, MAX(CASE WHEN i=3 THEN b END) AS rb3, MAX(CASE WHEN i=4 THEN b END) AS rb4 FROM (SELECT i, MIN(v) AS b FROM generate_series(1,4) g(i), n, rcum c WHERE i*n.n <= 5*c.cum GROUP BY 1)), "
       + "fcum AS (SELECT v, SUM(cnt) OVER (ORDER BY v)::BIGINT AS cum FROM (SELECT frequency AS v, COUNT(*) AS cnt FROM cust GROUP BY 1)), "
       + "fb AS (SELECT MAX(CASE WHEN i=1 THEN b END) AS fb1, MAX(CASE WHEN i=2 THEN b END) AS fb2, MAX(CASE WHEN i=3 THEN b END) AS fb3, MAX(CASE WHEN i=4 THEN b END) AS fb4 FROM (SELECT i, MIN(v) AS b FROM generate_series(1,4) g(i), n, fcum c WHERE i*n.n <= 5*c.cum GROUP BY 1)), "
       + "mcum AS (SELECT v, SUM(cnt) OVER (ORDER BY v)::BIGINT AS cum FROM (SELECT monetary AS v, COUNT(*) AS cnt FROM cust GROUP BY 1)), "
       + "mb AS (SELECT MAX(CASE WHEN i=1 THEN b END) AS mb1, MAX(CASE WHEN i=2 THEN b END) AS mb2, MAX(CASE WHEN i=3 THEN b END) AS mb3, MAX(CASE WHEN i=4 THEN b END) AS mb4 FROM (SELECT i, MIN(v) AS b FROM generate_series(1,4) g(i), n, mcum c WHERE i*n.n <= 5*c.cum GROUP BY 1)) "
       + "SELECT o_custkey, recency, frequency, monetary, "
       + "(6 - (1 + (recency>=rb1)::BIGINT + (recency>=rb2)::BIGINT + (recency>=rb3)::BIGINT + (recency>=rb4)::BIGINT))::BIGINT AS r_score, "
       + "(1 + (frequency>=fb1)::BIGINT + (frequency>=fb2)::BIGINT + (frequency>=fb3)::BIGINT + (frequency>=fb4)::BIGINT)::BIGINT AS f_score, "
       + "(1 + (monetary>=mb1)::BIGINT + (monetary>=mb2)::BIGINT + (monetary>=mb3)::BIGINT + (monetary>=mb4)::BIGINT)::BIGINT AS m_score, "
       + "(r_score*100 + f_score*10 + m_score)::BIGINT AS rfm "
       + "FROM cust, rb, fb, mb ORDER BY o_custkey"),
    "q159_attribution" ->
      ("WITH e AS (SELECT event_id, user_id AS u, epoch(date_trunc('second', ts))::BIGINT AS t, event_type AS et FROM events), "
       + "p AS (SELECT event_id AS pid, u, t AS pt FROM e WHERE et = 'purchase'), "
       + "v AS (SELECT event_id AS vid, u, t AS vt FROM e WHERE et = 'view'), "
       + "tch AS (SELECT pid, vid, vt FROM p JOIN v USING (u) WHERE vt <= pt AND vt > pt - 604800), "
       + "cr AS (SELECT vt, COUNT(*) OVER (PARTITION BY pid) AS n, "
       + "ROW_NUMBER() OVER (PARTITION BY pid ORDER BY vt, vid) AS rn FROM tch) "
       + "SELECT vt // 86400 AS day_idx, COUNT(*)::BIGINT AS touches, "
       + "SUM(CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000 "
       + "WHEN rn = 1 OR rn = n THEN 400000 ELSE 200000 // (n - 2) END)::BIGINT AS credit_micro "
       + "FROM cr GROUP BY 1 ORDER BY day_idx"),
    "q157_equidepth" ->
      ("WITH rc AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1), "
       + "c AS (SELECT l_partkey, cnt, SUM(cnt) OVER (ORDER BY l_partkey)::BIGINT AS cum FROM rc), "
       + "n AS (SELECT SUM(cnt)::BIGINT AS n FROM rc) "
       + "SELECT i::BIGINT AS bucket, MIN(c.l_partkey) AS boundary "
       + "FROM generate_series(1, 31) AS g(i), n JOIN c ON i * n.n <= 32 * c.cum "
       + "GROUP BY 1 ORDER BY bucket"),
    "q158_decayed_topk" ->
      ("WITH ev AS (SELECT event_type, date_trunc('day', ts) AS day FROM events), "
       + "m AS (SELECT MAX(day) AS maxd FROM ev), "
       + "ra AS (SELECT event_type, LEAST(datediff('day', day, maxd), 30) AS age, COUNT(*) AS c "
       + "FROM ev, m GROUP BY 1, 2) "
       + "SELECT event_type, SUM(c * (1000000 // (1::BIGINT << age)))::BIGINT AS decayed_micro, "
       + "SUM(c)::BIGINT AS total FROM ra GROUP BY 1 ORDER BY decayed_micro DESC, event_type"),
    "q155_trending" ->
      ("WITH daily AS (SELECT date_trunc('day', ts)::DATE AS day, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2), "
       + "ranked AS (SELECT day, event_type, c, CAST(RANK() OVER (PARTITION BY day ORDER BY c DESC, event_type) AS BIGINT) AS rnk FROM daily), "
       + "prev AS (SELECT (day + INTERVAL 1 DAY)::DATE AS day, event_type, rnk AS prev_rnk FROM ranked) "
       + "SELECT CAST(r.day AS VARCHAR) AS day, r.event_type AS event_type, r.c, r.rnk, p.prev_rnk, p.prev_rnk - r.rnk AS moved "
       + "FROM ranked r LEFT JOIN prev p ON r.day = p.day AND r.event_type = p.event_type "
       + "WHERE r.rnk <= 5 ORDER BY r.day, r.rnk, r.event_type"),
    "q156_link_prediction" ->
      ("WITH und AS (SELECT u, v FROM (SELECT DISTINCT a.l_orderkey AS k, a.l_partkey AS u, b.l_partkey AS v "
       + "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey) "
       + "GROUP BY u, v HAVING COUNT(*) >= 2), "
       + "sym AS (SELECT u AS src, v AS dst2 FROM und UNION ALL SELECT v, u FROM und), "
       + "deg AS (SELECT src, COUNT(*) AS dg FROM sym GROUP BY src), "
       + "mid AS (SELECT s.src, s.dst2 FROM sym s JOIN deg ON s.src = deg.src AND deg.dg <= 50), "
       + "wedges AS (SELECT x.dst2 AS na, y.dst2 AS nb, COUNT(*) AS cn "
       + "FROM mid x JOIN mid y ON x.src = y.src AND x.dst2 < y.dst2 GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
       + "ne AS (SELECT w.* FROM wedges w LEFT JOIN und ON w.na = und.u AND w.nb = und.v WHERE und.u IS NULL) "
       + "SELECT na, nb, cn, CAST((cn * 1000000) // (da.dg + db.dg - cn) AS BIGINT) AS jaccard_micro "
       + "FROM ne JOIN deg da ON ne.na = da.src JOIN deg db ON ne.nb = db.src "
       + "ORDER BY cn DESC, na, nb LIMIT 50"),
    "q153_orphan_purchases" ->
      ("WITH e AS (SELECT event_id, user_id AS u, epoch(date_trunc('second', ts))::BIGINT AS t, event_type AS et FROM events), "
       + "p AS (SELECT event_id, u, t FROM e WHERE et = 'purchase'), "
       + "v AS (SELECT DISTINCT u, t FROM e WHERE et = 'view'), "
       + "pv AS (SELECT p.event_id, p.u, p.t, (SELECT MAX(v.t) FROM v WHERE v.u = p.u AND v.t <= p.t) AS vt FROM p) "
       + "SELECT event_id, u AS user_id, t - vt AS gap_s, "
       + "CAST(CAST((vt IS NULL OR t - vt > 1800) AS INT) AS BIGINT) AS orphan "
       + "FROM pv ORDER BY event_id"),
    "q154_stratified_sample" ->
      ("SELECT lang, rn, doc_id, h FROM ("
       + "SELECT lang, doc_id, (doc_id * 2654435761) % 2147483647 AS h, "
       + "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY (doc_id * 2654435761) % 2147483647, doc_id) AS rn "
       + "FROM documents) t WHERE rn <= 20 ORDER BY lang, rn"),
    "q152_funnel_time" ->
      ("WITH e AS (SELECT user_id AS u, event_type AS et, epoch(date_trunc('second', ts))::BIGINT AS t FROM events), "
       + "s0 AS (SELECT u, MIN(t) AS t FROM e WHERE et = 'view' GROUP BY u), "
       + "s1 AS (SELECT e.u, MIN(e.t) AS t FROM e JOIN s0 USING (u) "
       + "WHERE e.et = 'click' AND e.t > s0.t AND e.t <= s0.t + 604800 GROUP BY e.u), "
       + "s2 AS (SELECT e.u, MIN(e.t) AS t FROM e JOIN s1 USING (u) "
       + "WHERE e.et = 'purchase' AND e.t > s1.t AND e.t <= s1.t + 604800 GROUP BY e.u) "
       + "SELECT 1::BIGINT AS step, 'click' AS step_name, COUNT(*) AS n_users, "
       + "ROUND(quantile_cont(s1.t - s0.t, 0.5), 4) AS median_s FROM s1 JOIN s0 USING (u) "
       + "UNION ALL SELECT 2::BIGINT, 'purchase', COUNT(*), "
       + "ROUND(quantile_cont(s2.t - s1.t, 0.5), 4) FROM s2 JOIN s1 USING (u) ORDER BY step"),
    "q151_assoc_rules" ->
      ("WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
       + "ps AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS sup_ab "
       + "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey "
       + "GROUP BY 1, 2 HAVING COUNT(*) >= 3), "
       + "isup AS (SELECT l_partkey, COUNT(*) AS sup FROM li GROUP BY 1), "
       + "n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li) "
       + "SELECT pa, pb, sup_ab, "
       + "CAST((sup_ab * 1000000) // sa.sup AS BIGINT) AS conf_micro, "
       + "CAST((sup_ab * n_orders * 1000000) // (sa.sup * sb.sup) AS BIGINT) AS lift_micro "
       + "FROM ps JOIN isup sa ON ps.pa = sa.l_partkey JOIN isup sb ON ps.pb = sb.l_partkey, n "
       + "ORDER BY sup_ab DESC, pa, pb LIMIT 50"),
    "q149_chisq" ->
      ("WITH o AS (SELECT event_type, isodow(ts) AS dow, COUNT(*) AS o FROM events GROUP BY 1, 2), "
       + "rt AS (SELECT event_type, SUM(o) AS r FROM o GROUP BY 1), "
       + "ct AS (SELECT dow, SUM(o) AS c FROM o GROUP BY 1), "
       + "n AS (SELECT SUM(o) AS n FROM o), "
       + "cells AS (SELECT o.event_type, o.o, "
       + "CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS e "
       + "FROM o JOIN rt USING (event_type) JOIN ct USING (dow), n) "
       + "SELECT event_type, CAST(SUM(CAST(round((o - e) * (o - e) / e * 1000000, 0) AS BIGINT)) AS BIGINT) AS chi2_part_micro, "
       + "CAST(SUM(o) AS BIGINT) AS n_type FROM cells GROUP BY 1 ORDER BY 1"),
    "q150_drift" ->
      ("WITH cnt AS (SELECT event_type, day(ts) <= 15 AS early, COUNT(*) AS c FROM events GROUP BY 1, 2), "
       + "a AS (SELECT event_type, c AS ca FROM cnt WHERE early), "
       + "b AS (SELECT event_type, c AS cb FROM cnt WHERE NOT early), "
       + "na AS (SELECT SUM(ca) AS na FROM a), nb AS (SELECT SUM(cb) AS nb FROM b) "
       + "SELECT event_type, round(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 4) AS p_early, "
       + "round(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE), 4) AS p_late, "
       + "round((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) / (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))), 4) AS kl_term "
       + "FROM a JOIN b USING (event_type), na, nb ORDER BY 1"),
    "q143_kcore" -> kcoreOracle,
    "q145_concurrency" -> concurrencyOracle,
    "q146_ewma" -> ewmaOracle,
    "q147_cms" -> golden("q147_cms", "word, exact, est", "exact DESC, word"),
    "q139_pmi" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
       + "tok AS (SELECT doc_id, unnest(ws) AS wd, unnest(range(len(ws))) AS i FROM t), "
       + "tk AS (SELECT doc_id, wd, i FROM tok WHERE wd <> ''), "
       + "led AS (SELECT doc_id, wd, LEAD(wd) OVER (PARTITION BY doc_id ORDER BY i) AS nxt FROM tk), "
       + "p AS (SELECT wd, nxt, COUNT(*) AS c_ab FROM led WHERE nxt IS NOT NULL GROUP BY 1, 2 HAVING COUNT(*) >= 5), "
       + "u AS (SELECT wd, COUNT(*) AS c FROM tk GROUP BY 1), "
       + "n AS (SELECT COUNT(*) AS n_tok FROM tk) "
       + "SELECT p.wd AS a, p.nxt AS b, c_ab, "
       + "ROUND(LN(CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 4) AS pmi "
       + "FROM p JOIN u ua ON p.wd = ua.wd JOIN u ub ON p.nxt = ub.wd, n "
       + "ORDER BY pmi DESC, a, b LIMIT 20"),
    "q140_bfs" -> bfsOracle,
    "q125_pagerank" -> pagerankOracle,
    "q375_pagerank_twin" -> pagerankTwinOracle,
    "q380_triangles_twin" -> trianglesTwinOracle,
    "q381_kcore_twin" -> kcoreTwinOracle,
    "q382_sssp_twin" -> ssspTwinOracle,
    "q383_lpa_twin" -> lpaTwinOracle,
    "q376_bfs_twin" -> bfsTwinOracle,
    "q232_meta_agg" ->
      ("SELECT COUNT(*)::BIGINT AS n_rows, MIN(o_orderkey)::BIGINT AS min_key, "
       + "MAX(o_orderkey)::BIGINT AS max_key FROM orders"),
    "q233_fertility" ->
      ("WITH f AS (SELECT lang, len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS w, "
       + "len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS tk, "
       + "length(text)::BIGINT AS ch FROM documents), "
       + "s AS (SELECT lang, SUM(w)::BIGINT AS n_words, SUM(tk)::BIGINT AS n_tokens, SUM(ch)::BIGINT AS n_chars FROM f GROUP BY lang) "
       + "SELECT lang, n_words, n_tokens, n_chars, "
       + "n_tokens * 1000000 // n_words AS fertility_ppm, "
       + "n_chars * 1000000 // n_tokens AS chars_per_token_ppm "
       + "FROM s ORDER BY lang"),
    "q230_trigram_paths" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events), "
       + "l AS (SELECT event_type, LEAD(event_type, 1) OVER w AS t2, LEAD(event_type, 2) OVER w AS t3 FROM e "
       + "WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), "
       + "p AS (SELECT event_type || '>' || t2 || '>' || t3 AS path FROM l WHERE t3 IS NOT NULL) "
       + "SELECT path, COUNT(*) AS c FROM p GROUP BY path ORDER BY c DESC, path LIMIT 20"),
    "q231_score_calibration" ->
      ("WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws, text FROM documents), "
       + "f AS (SELECT doc_id, len(ws)::BIGINT AS n_words, "
       + "list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws) AS awl, "
       + s"len(list_filter(ws, w -> list_contains(${inList(stop)}, w)))::DOUBLE / len(ws) AS sw, "
       + "(length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')))::DOUBLE / length(text) AS pr FROM ws), "
       + "sc AS (SELECT ROUND(1.0/(1.0+exp(-(-1.0 + 0.35*awl + 2.2*sw - 6.0*pr + 0.15*ln(1+n_words)))), 4) AS score, "
       + "CASE WHEN 1.0/(1.0+exp(-(-1.0 + 0.35*awl + 2.2*sw - 6.0*pr + 0.15*ln(1+n_words)))) >= 0.5 THEN 1 ELSE 0 END AS keep FROM f), "
       + "b AS (SELECT FLOOR(LEAST(score, 0.9999) * 10)::BIGINT AS decile, keep FROM sc) "
       + "SELECT decile, COUNT(*)::BIGINT AS n_docs, SUM(keep)::BIGINT AS n_keep, "
       + "(SUM(keep)::BIGINT * 1000000) // COUNT(*)::BIGINT AS keep_ppm "
       + "FROM b GROUP BY decile ORDER BY decile"),
    "q228_vocab_coverage" ->
      ("WITH toks AS (SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w FROM documents), "
       + "v AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM toks GROUP BY w ORDER BY c DESC, w LIMIT 20) t), "
       + "f AS (SELECT lang, CASE WHEN w IN (SELECT w FROM v) THEN 0 ELSE 1 END AS oov FROM toks) "
       + "SELECT lang, COUNT(*)::BIGINT AS n_tokens, SUM(oov)::BIGINT AS n_oov, "
       + "(SUM(oov)::BIGINT * 1000000) // COUNT(*)::BIGINT AS oov_ppm "
       + "FROM f GROUP BY lang ORDER BY lang"),
    "q229_length_buckets" ->
      ("WITH n AS (SELECT len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n FROM documents), "
       + "b AS (SELECT n, (CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64 "
       + "WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512 WHEN n <= 1024 THEN 1024 "
       + "WHEN n <= 2048 THEN 2048 WHEN n <= 4096 THEN 4096 ELSE n END)::BIGINT AS bucket FROM n) "
       + "SELECT bucket, COUNT(*) AS n_docs, SUM(n)::BIGINT AS n_tokens, SUM(bucket - n)::BIGINT AS n_padding, "
       + "(SUM(bucket - n)::BIGINT * 1000000) // (SUM(n)::BIGINT + SUM(bucket - n)::BIGINT) AS waste_ppm "
       + "FROM b GROUP BY bucket ORDER BY bucket"),
    "q220_skew_advisor" ->
      ("WITH c AS (SELECT user_id, COUNT(*)::BIGINT AS cnt FROM events GROUP BY user_id), "
       + "s AS (SELECT SUM(cnt)::BIGINT AS n_rows, COUNT(*)::BIGINT AS n_keys, MAX(cnt)::BIGINT AS max_cnt FROM c), "
       + "h AS (SELECT user_id AS hot_key FROM c ORDER BY cnt DESC, user_id LIMIT 1) "
       + "SELECT n_rows, n_keys, hot_key, max_cnt, "
       + "(max_cnt::HUGEINT * 1000000 // n_rows)::BIGINT AS max_share_ppm, "
       + "((max_cnt::HUGEINT * n_keys + n_rows - 1) // n_rows)::BIGINT AS salt_factor "
       + "FROM s CROSS JOIN h"),
    "q217_throttle" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events), "
       + "l AS (SELECT event_type, CASE WHEN LAG(sec) OVER w IS NULL OR sec - LAG(sec) OVER w >= 300 THEN 1 ELSE 0 END AS kept "
       + "FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY sec, event_id)) "
       + "SELECT event_type, COUNT(*) AS n_total, SUM(kept)::BIGINT AS n_kept FROM l GROUP BY event_type ORDER BY event_type"),
    "q214_assortativity" ->
      ("WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + 1000000000 AS su "
       + "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), "
       + "edges AS (SELECT c AS src, su AS dst FROM pairs UNION ALL SELECT su, c FROM pairs), "
       + "deg AS (SELECT src AS node, COUNT(*)::BIGINT AS deg FROM edges GROUP BY src), "
       + "xy AS (SELECT dx.deg AS x, dy.deg AS y FROM edges e "
       + "JOIN deg dx ON e.src = dx.node JOIN deg dy ON e.dst = dy.node), "
       + "s AS (SELECT COUNT(*)::BIGINT AS m, SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy, "
       + "SUM(x*y)::BIGINT AS sxy, SUM(x*x)::BIGINT AS sx2, SUM(y*y)::BIGINT AS sy2 FROM xy) "
       + "SELECT m, ROUND((m*1.0*sxy - sx*1.0*sy) / "
       + "(sqrt(m*1.0*sx2 - sx*1.0*sx) * sqrt(m*1.0*sy2 - sy*1.0*sy)), 4) AS assortativity FROM s"),
    "q141_pagerank_dangling" -> pagerankDanglingOracle,
    "q142_ppr" -> pprOracle,
    // dual-unnest zips the token with its 0-based position (DuckDB has
    // no posexplode; zipped unnests are its equivalent)
    "q127_phrase_search" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
       "tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS i FROM t), " +
       "led AS (SELECT doc_id, w, LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w1 FROM tok) " +
       "SELECT doc_id, COUNT(*) AS n_hits FROM led WHERE w = 'hash' AND w1 = 'join' " +
       "GROUP BY 1 ORDER BY 1"),
    "q29_minhash" -> golden("q29_minhash", "a, b, est_jac", "a, b"),
    "q30_simhash" -> golden("q30_simhash", "id, simhash", "id"),
    "q48_simhash_pairs" -> golden("q48_simhash_pairs", "a, b, hamming", "a, b"),
    "q49_embed_pairs_lsh" -> golden("q49_embed_pairs_lsh", "a, b, sim", "a, b"),
    "q36_lsh_topk" -> golden("q36_lsh_topk", "qid, cid, rn", "qid, rn"),
    "q38_ivf_topk" -> golden("q38_ivf_topk", "qid, cid, rn", "qid, rn"),
    "q374_graph_ann" -> golden("q374_graph_ann", "qid, cid, rn", "qid, rn"),
    "q198_ivf_append" -> golden("q198_ivf_append", "qid, cid, rn", "qid, rn"),
    "q221_ann_tombstones" -> golden("q221_ann_tombstones", "qid, cid, rn", "qid, rn"),
    "q66_multimodal" -> golden("q66_multimodal",
      "media_id, media_type, width, height, channels, sample_rate, " +
        "duration_ms, ok, decode_error",
      "media_id"),
    "q34b_bpe_merges" -> golden("q34b_bpe_merges", "mrank, l, r, cnt", "mrank"),
    "q68_incremental_minhash" ->
      golden("q68_incremental_minhash", "a, b, est_jac", "a, b"),
    "q72_incremental_simhash" ->
      golden("q72_incremental_simhash", "a, b, hamming", "a, b"),
    "q73_media_features" ->
      golden("q73_media_features", "media_id, i, v", "media_id, i"),
    "q80_semdedup" ->
      golden("q80_semdedup", "vec_id, cluster, keep", "vec_id"),
    "q84_cluster_terms" ->
      golden("q84_cluster_terms", "cluster, term, score, rn", "cluster, rn"),
    "q91_ann_int8" -> golden("q91_ann_int8", "qid, cid, rn", "qid, rn"),
    "q93_survivors" -> golden("q93_survivors", "doc_id, cluster, keep", "doc_id"),
    "q271_image_phash" -> golden("q271_image_phash", "a, b, hamming", "a, b"),
    "q273_audio_fingerprint" ->
      golden("q273_audio_fingerprint", "a, b, hamming", "a, b"),
    "q96_hll" ->
      golden("q96_hll", "event_type, approx_users, exact_users", "event_type"),
    // independent re-execution of BPE apply: tokens ride as
    // '|'-delimited strings ('|tok|' per token, so adjacent tokens meet
    // at '||' and pattern '|l||r|' matches exactly one greedy
    // left-to-right pass per rank — the same semantics as the engine's
    // mergePair); words join with ' ' so merges never cross words
    "q34c_bpe_tokens" ->
      ("WITH RECURSIVE m AS (SELECT mrank, l, r FROM read_parquet('/root/repo/golden/sf0.01/q34b_bpe_merges/*.parquet')), "
       + "w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), "
       + "base AS (SELECT doc_id, array_to_string(list_transform(ws, wd -> "
       + "'|' || array_to_string(list_transform(generate_series(1, length(wd)), i -> substring(wd, i, 1)), '||') || '|'), ' ') AS s, "
       + "1 AS k FROM w), "
       + "rec AS (SELECT doc_id, s, k FROM base "
       + "UNION ALL SELECT rec.doc_id, replace(rec.s, '|' || m.l || '||' || m.r || '|', '|' || m.l || m.r || '|'), rec.k + 1 "
       + "FROM rec JOIN m ON m.mrank = rec.k), "
       + "fin AS (SELECT doc_id, s FROM rec WHERE k = (SELECT MAX(mrank) + 1 FROM m)) "
       + "SELECT doc_id, CAST((length(s) - length(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tokens, "
       + "replace(replace(s, '||', ' '), '|', '') AS toks "
       + "FROM fin ORDER BY doc_id"),
    "q24_dedup_distinct" ->
      "SELECT lang, COUNT(*) AS c FROM (SELECT DISTINCT text, lang FROM documents) GROUP BY lang ORDER BY lang",
    "q24_dedup_exact" ->
      "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text ORDER BY keep_id",
    "q26_vec_sim" ->
      "SELECT a.vec_id, b.vec_id AS nn FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.35 ORDER BY a.vec_id, nn",
    "q132_triangles" ->
      ("WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v "
       + "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey) "
       + "SELECT COUNT(*) AS n_triangles FROM e e1 "
       + "JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v "
       + "JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v"),
    "q131_heavy_hitters" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), "
       + "tk AS (SELECT w FROM tok WHERE w <> '') "
       + "SELECT w AS key, COUNT(*) AS cnt FROM tk GROUP BY 1 "
       + "HAVING COUNT(*) > (SELECT COUNT(*) FROM tk) * 0.005 ORDER BY key"),
    "q27_wordcount" ->
      "SELECT w AS word, COUNT(*) AS c FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t WHERE w <> '' GROUP BY w ORDER BY c DESC, w LIMIT 20",
    "q28_jaccard" ->
      ("WITH words AS (" + wordsCte + "), " +
       "sh AS (SELECT DISTINCT doc_id AS id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle " +
       "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g), " +
       // the maxDocFreq=5 posting-list cut: ubiquitous shingles leave
       // the similarity space entirely (sizes AND intersections)
       "df AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1), " +
       "cut AS (SELECT sh.id, sh.shingle FROM sh JOIN df USING (shingle) WHERE df.c <= 5), " +
       "sz AS (SELECT id, COUNT(*) AS sz FROM cut GROUP BY id), " +
       "inter AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS i FROM cut x JOIN cut y USING (shingle) WHERE x.id < y.id GROUP BY 1, 2) " +
       "SELECT a, b, ROUND(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jac " +
       "FROM inter JOIN sz sa ON a = sa.id JOIN sz sb ON b = sb.id " +
       "WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5 ORDER BY a, b"),
    "q28b_jaccard_prefix" ->
      ("WITH words AS (" + wordsCte + "), " +
       "sh AS (SELECT DISTINCT doc_id AS id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle " +
       "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g), " +
       "sz AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id), " +
       "inter AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS i FROM sh x JOIN sh y USING (shingle) WHERE x.id < y.id GROUP BY 1, 2) " +
       "SELECT a, b, ROUND(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jac " +
       "FROM inter JOIN sz sa ON a = sa.id JOIN sz sb ON b = sb.id " +
       "WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.8 ORDER BY a, b"),
    "q31_quality" ->
      ("SELECT doc_id, len(ws)::BIGINT AS n_words, length(text)::BIGINT AS nchars, " +
       "ROUND(list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws), 4) AS avg_word_len, " +
       s"ROUND(len(list_filter(ws, w -> list_contains(${inList(stop)}, w)))::DOUBLE / len(ws), 4) AS stopword_ratio, " +
       "ROUND((length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')))::DOUBLE / length(text), 4) AS punct_ratio " +
       "FROM (" + wordsCte + ") t ORDER BY doc_id"),
    "q32_langid" ->
      ("WITH words AS (" + wordsCte + "), scored AS (" +
       "SELECT doc_id, 'en' AS lang, len(list_filter(ws, w -> list_contains(['the', 'and', 'of', 'to', 'a'], w))) AS score FROM words " +
       "UNION ALL SELECT doc_id, 'de', len(list_filter(ws, w -> list_contains(['der', 'die', 'und', 'das', 'ist'], w))) FROM words " +
       "UNION ALL SELECT doc_id, 'fr', len(list_filter(ws, w -> list_contains(['le', 'la', 'et', 'les', 'des'], w))) FROM words " +
       "UNION ALL SELECT doc_id, 'es', len(list_filter(ws, w -> list_contains(['el', 'la', 'y', 'los', 'de'], w))) FROM words " +
       "UNION ALL SELECT doc_id, 'zh', len(list_filter(ws, w -> list_contains(['的', '是', '了', '在', '我'], w))) FROM words), " +
       "best AS (SELECT doc_id, lang, score, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM scored) " +
       "SELECT doc_id, CASE WHEN score = 0 THEN 'und' ELSE lang END AS pred_lang FROM best WHERE rn = 1 ORDER BY doc_id"),
    "q33_fingerprint" ->
      ("SELECT doc_id, md5(text) AS md5_fp, " +
       "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT)), " +
       "(h, c) -> (h * 31 + c) % 2147483647) AS roll_fp FROM documents ORDER BY doc_id"),
    "q34_tokens" ->
      "SELECT doc_id, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n_tokens FROM documents ORDER BY doc_id",
    "q45_repetition" ->
      ("WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), " +
       "bg AS (SELECT doc_id, ws, [ws[i] || ' ' || ws[i+1] FOR i IN generate_series(1, len(ws) - 1)] AS bgs FROM w) " +
       "SELECT doc_id, ROUND(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 4) AS dup_word_frac, " +
       "CASE WHEN len(bgs) > 0 THEN ROUND(1.0 - len(list_distinct(bgs))::DOUBLE / len(bgs), 4) ELSE 0.0 END AS dup_bigram_frac " +
       "FROM bg ORDER BY doc_id"),
    "q46_pii" ->
      ("SELECT doc_id, " +
       "len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0))::BIGINT AS n_emails, " +
       "len(regexp_extract_all(text, 'https?://[^ ]+', 0))::BIGINT AS n_urls, " +
       "len(regexp_extract_all(text, '[0-9]{9,}', 0))::BIGINT AS n_long_digits " +
       "FROM documents ORDER BY doc_id"),
    "q35_topk_sim" ->
      ("SELECT qid, cid, rn FROM (" +
       "SELECT a.vec_id AS qid, b.vec_id AS cid, " +
       "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rn " +
       "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id WHERE a.vec_id < 10) t " +
       "WHERE rn <= 3 ORDER BY qid, rn"),
    "q208_entity_groups" ->
      ("WITH RECURSIVE u AS (SELECT MIN(p_partkey) AS p_partkey, p_name FROM part GROUP BY p_name), "
       + "k AS (SELECT p_partkey AS id, p_name AS nm, "
       + "string_split(p_name, ' ')[1] AS bk, length(p_name) // 8 AS lb FROM u), "
       + "s AS (SELECT *, COUNT(*) OVER (PARTITION BY bk, lb) AS bc FROM k), "
       + "pairs AS (SELECT x.id AS a, y.id AS b "
       + "FROM s x JOIN s y ON x.bk = y.bk AND x.lb = y.lb AND x.id < y.id "
       + "WHERE x.bc <= 10000 AND ROUND(jaro_winkler_similarity(x.nm, y.nm), 4) >= 0.88), "
       + "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs), "
       + "reach(id, comp) AS (SELECT src, src FROM edges "
       + "UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id), "
       + "lbl AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id) "
       + "SELECT comp, COUNT(*)::BIGINT AS n_members, MIN(id)::BIGINT AS canonical "
       + "FROM lbl GROUP BY comp ORDER BY comp"),
    "q207_retrieval_eval" ->
      ("WITH ex AS (SELECT qid, cid FROM ("
       + "SELECT a.vec_id AS qid, b.vec_id AS cid, "
       + "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rn "
       + "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id WHERE a.vec_id < 10) WHERE rn <= 3), "
       + "cand AS (SELECT a.vec_id AS qid, b.vec_id AS cid, a.embedding AS qv, b.embedding AS cv, "
       + "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY "
       + "list_cosine_similarity(a.embedding[1:16], b.embedding[1:16]) DESC, b.vec_id) AS crn "
       + "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id WHERE a.vec_id < 10), "
       + "ap AS (SELECT qid, cid, rn FROM ("
       + "SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY "
       + "list_cosine_similarity(qv, cv) DESC, cid) AS rn "
       + "FROM cand WHERE crn <= 12) WHERE rn <= 3), "
       + "hit AS (SELECT ap.qid, ap.rn FROM ap JOIN ex ON ap.qid = ex.qid AND ap.cid = ex.cid), "
       + "pq AS (SELECT q.qid, COALESCE(h.nhit, 0) AS nhit, COALESCE(1.0 / h.first_rn, 0.0) AS rr "
       + "FROM (SELECT DISTINCT qid FROM ap) q LEFT JOIN "
       + "(SELECT qid, COUNT(*) AS nhit, MIN(rn) AS first_rn FROM hit GROUP BY 1) h ON q.qid = h.qid) "
       + "SELECT ROUND(AVG(nhit / 3.0), 4) AS recall_at_3, ROUND(AVG(rr), 4) AS mrr, "
       + "COUNT(*)::BIGINT AS n_queries FROM pq"),
    "q202_mrl_prefix" ->
      ("WITH cand AS (SELECT a.vec_id AS qid, b.vec_id AS cid, "
       + "a.embedding AS qv, b.embedding AS cv, "
       + "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY "
       + "list_cosine_similarity(a.embedding[1:16], b.embedding[1:16]) DESC, b.vec_id) AS crn "
       + "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id WHERE a.vec_id < 10) "
       + "SELECT qid, cid, rn FROM ("
       + "SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY "
       + "list_cosine_similarity(qv, cv) DESC, cid) AS rn "
       + "FROM cand WHERE crn <= 12) t WHERE rn <= 3 ORDER BY qid, rn"),
    // identical semantics to q210 — the SQL-surface twin shares the
    // re-executed two-stage oracle
    "q236_sql_ann" ->
      ("WITH cand AS (SELECT a.vec_id AS qid, b.vec_id AS cid, "
       + "a.embedding AS qv, b.embedding AS cv, "
       + "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY "
       + "len(list_filter(generate_series(1, 64), i -> (a.embedding[i] >= 0) <> (b.embedding[i] >= 0))) ASC, b.vec_id) AS crn "
       + "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id WHERE a.vec_id < 10) "
       + "SELECT qid, cid, rn FROM ("
       + "SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY "
       + "list_cosine_similarity(qv, cv) DESC, cid) AS rn "
       + "FROM cand WHERE crn <= 12) t WHERE rn <= 3 ORDER BY qid, rn"),
    "q210_binary_ann" ->
      ("WITH cand AS (SELECT a.vec_id AS qid, b.vec_id AS cid, "
       + "a.embedding AS qv, b.embedding AS cv, "
       + "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY "
       + "len(list_filter(generate_series(1, 64), i -> (a.embedding[i] >= 0) <> (b.embedding[i] >= 0))) ASC, b.vec_id) AS crn "
       + "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id WHERE a.vec_id < 10) "
       + "SELECT qid, cid, rn FROM ("
       + "SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY "
       + "list_cosine_similarity(qv, cv) DESC, cid) AS rn "
       + "FROM cand WHERE crn <= 12) t WHERE rn <= 3 ORDER BY qid, rn"),
    "q199_filtered_ann" ->
      ("SELECT qid, cid, rn FROM (" +
       "SELECT a.vec_id AS qid, b.vec_id AS cid, " +
       "ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rn " +
       "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id WHERE a.vec_id < 10) t " +
       "WHERE rn <= 3 ORDER BY qid, rn"),
    "q44_packing" ->
      ("WITH toks AS (SELECT doc_id, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n_tokens FROM documents), " +
       "off AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_offset FROM toks) " +
       "SELECT (token_offset // 2048)::BIGINT AS bin, COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS n_tokens " +
       "FROM off GROUP BY 1 ORDER BY bin"),
    "q43_split" ->
      ("SELECT CASE WHEN b < 52428 THEN 'train' WHEN b < 58982 THEN 'val' ELSE 'test' END AS split, lang, COUNT(*) AS c " +
       "FROM (SELECT lang, CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) AS b FROM documents) t " +
       "GROUP BY 1, 2 ORDER BY split, lang"),
    "q41_interval" ->
      ("WITH ev AS (SELECT event_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events), " +
       "p AS (SELECT event_id AS p_id, sec AS p_start, sec + 600 AS p_end FROM ev WHERE event_type = 'purchase' AND event_id < 500), " +
       "e AS (SELECT event_id AS e_id, sec AS e_sec FROM ev WHERE event_type = 'error') " +
       "SELECT p_id, COUNT(*) AS n_errors FROM e JOIN p ON e_sec >= p_start AND e_sec <= p_end " +
       "GROUP BY p_id ORDER BY p_id"),
    // the quality/dedup/langid stages re-derived in SQL (same formulas
    // as q31/q45/q24/q32); the engine-hash MinHash near-dup stage is
    // pair-local, so the q29 golden pin filtered to est_jac >= 0.8 and
    // to surviving endpoints IS the removal list
    "q47_curation" ->
      ("WITH words AS (" + wordsCte + "), " +
       "bg AS (SELECT doc_id, [ws[i] || ' ' || ws[i+1] FOR i IN generate_series(1, len(ws) - 1)] AS bgs FROM words), " +
       "feats AS (SELECT w.doc_id, w.text, len(w.ws)::BIGINT AS n_words, " +
       "ROUND(list_sum(list_transform(w.ws, x -> length(x)))::DOUBLE / len(w.ws), 4) AS avg_word_len, " +
       s"ROUND(len(list_filter(w.ws, x -> list_contains(${inList(stop)}, x)))::DOUBLE / len(w.ws), 4) AS stopword_ratio, " +
       "CASE WHEN len(b.bgs) > 0 THEN ROUND(1.0 - len(list_distinct(b.bgs))::DOUBLE / len(b.bgs), 4) ELSE 0.0 END AS dup_bigram_frac " +
       "FROM words w JOIN bg b USING (doc_id)), " +
       "qualified AS (SELECT doc_id, text FROM feats WHERE n_words BETWEEN 5 AND 100000 " +
       "AND avg_word_len >= 2.0 AND stopword_ratio <= 0.9 AND dup_bigram_frac <= 0.9), " +
       "keep AS (SELECT MIN(doc_id) AS doc_id FROM qualified GROUP BY text), " +
       "deduped AS (SELECT q.doc_id, q.text FROM qualified q JOIN keep k USING (doc_id)), " +
       "losers AS (SELECT DISTINCT p.b AS doc_id FROM read_parquet('/root/repo/golden/sf0.01/q29_minhash/*.parquet') p " +
       "JOIN deduped da ON p.a = da.doc_id JOIN deduped db ON p.b = db.doc_id WHERE p.est_jac >= 0.8), " +
       "surv AS (SELECT d.doc_id, d.text FROM deduped d LEFT JOIN losers l USING (doc_id) WHERE l.doc_id IS NULL), " +
       "sws AS (SELECT s.doc_id, w.ws FROM surv s JOIN words w USING (doc_id)), " +
       "scored AS (SELECT doc_id, 'en' AS lang, len(list_filter(ws, w -> list_contains(['the', 'and', 'of', 'to', 'a'], w))) AS score FROM sws " +
       "UNION ALL SELECT doc_id, 'de', len(list_filter(ws, w -> list_contains(['der', 'die', 'und', 'das', 'ist'], w))) FROM sws " +
       "UNION ALL SELECT doc_id, 'fr', len(list_filter(ws, w -> list_contains(['le', 'la', 'et', 'les', 'des'], w))) FROM sws " +
       "UNION ALL SELECT doc_id, 'es', len(list_filter(ws, w -> list_contains(['el', 'la', 'y', 'los', 'de'], w))) FROM sws " +
       "UNION ALL SELECT doc_id, 'zh', len(list_filter(ws, w -> list_contains(['的', '是', '了', '在', '我'], w))) FROM sws), " +
       "best AS (SELECT doc_id, lang, score, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM scored), " +
       "lang AS (SELECT doc_id, CASE WHEN score = 0 THEN 'und' ELSE lang END AS pred_lang FROM best WHERE rn = 1), " +
       "toks AS (SELECT doc_id, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n_tokens FROM surv) " +
       "SELECT l.pred_lang, COUNT(*) AS c, SUM(t.n_tokens)::BIGINT AS total_tokens " +
       "FROM surv s JOIN lang l USING (doc_id) JOIN toks t USING (doc_id) " +
       "GROUP BY 1 ORDER BY pred_lang"),
    "q51_decontaminate" ->
      ("WITH words AS (" + wordsCte + "), " +
       "sh AS (SELECT DISTINCT doc_id AS id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle " +
       "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g), " +
       "ev AS (SELECT DISTINCT shingle FROM sh WHERE id % 97 = 0), " +
       "tr AS (SELECT * FROM sh WHERE id % 97 <> 0), " +
       "stats AS (SELECT tr.id, COUNT(*) AS sz, COUNT(ev.shingle) AS hits " +
       "FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle GROUP BY tr.id) " +
       "SELECT d.doc_id, COALESCE(ROUND(s.hits::DOUBLE / s.sz, 4), 0.0) AS overlap_frac, " +
       "CASE WHEN COALESCE(ROUND(s.hits::DOUBLE / s.sz, 4), 0.0) >= 0.3 THEN 1 ELSE 0 END::BIGINT AS contaminated " +
       "FROM documents d LEFT JOIN stats s ON d.doc_id = s.id " +
       "WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id"),
    // the incrementally-maintained labeling must equal the full
    // recompute — same oracle family as q52
    "q234_components_incremental" ->
      ("WITH RECURSIVE pairs AS (" +
       "SELECT a.vec_id AS a, b.vec_id AS b FROM embeddings a JOIN embeddings b " +
       "ON a.label = b.label AND a.vec_id < b.vec_id " +
       "WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.35), " +
       "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs), " +
       "reach(id, comp) AS (" +
       "SELECT src, src FROM edges " +
       "UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id) " +
       "SELECT id, MIN(comp) AS comp FROM reach GROUP BY id ORDER BY id"),
    "q52_components" ->
      ("WITH RECURSIVE pairs AS (" +
       "SELECT a.vec_id AS a, b.vec_id AS b FROM embeddings a JOIN embeddings b " +
       "ON a.label = b.label AND a.vec_id < b.vec_id " +
       "WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.35), " +
       "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs), " +
       "reach(id, comp) AS (" +
       "SELECT src, src FROM edges " +
       "UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id) " +
       "SELECT id, MIN(comp) AS comp FROM reach GROUP BY id ORDER BY id"),
    "q53_topk_per_group" ->
      ("SELECT lang, doc_id, score, rn FROM (" +
       "SELECT lang, doc_id, n_chars::DOUBLE AS score, " +
       "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn " +
       "FROM documents) WHERE rn <= 3 ORDER BY lang, rn"),
    "q54_normalized_dedup" ->
      ("SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM " +
       "(SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS ntext FROM documents) " +
       "GROUP BY ntext ORDER BY keep_id"),
    "q240_chunk_retrieval" ->
      ("WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), " +
       "nc AS (SELECT doc_id, ws, CASE WHEN len(ws) <= 32 THEN 1 " +
       "ELSE CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT) + 1 END AS n FROM w), " +
       "ch AS (SELECT doc_id * 1000 + i AS cid, " +
       "array_to_string(list_slice(ws, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text " +
       "FROM nc, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) g), " +
       "toks AS (SELECT cid AS id, unnest(string_split(chunk_text, ' ')) AS w FROM ch), " +
       "tok2 AS (SELECT * FROM toks WHERE w <> ''), " +
       "dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id), " +
       "stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM dl), " +
       "tf AS (SELECT id, w, COUNT(*) AS tf FROM tok2 WHERE w IN ('vector', 'join', 'data') GROUP BY id, w), " +
       "dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), " +
       "sc AS (SELECT tf.id, ROUND(SUM(ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1) * " +
       "(tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score " +
       "FROM tf JOIN dfr USING (w) JOIN dl USING (id) CROSS JOIN stats s GROUP BY tf.id), " +
       "top AS (SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 10) " +
       "SELECT id // 1000 AS doc_id, id % 1000 AS chunk_idx, score FROM top " +
       "ORDER BY score DESC, doc_id, chunk_idx"),
    "q55_bm25" ->
      ("WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents), " +
       "tok2 AS (SELECT * FROM toks WHERE w <> ''), " +
       "dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id), " +
       "stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM dl), " +
       "tf AS (SELECT id, w, COUNT(*) AS tf FROM tok2 WHERE w IN ('vector', 'join', 'data') GROUP BY id, w), " +
       "dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), " +
       "sc AS (SELECT tf.id, ROUND(SUM(ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1) * " +
       "(tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score " +
       "FROM tf JOIN dfr USING (w) JOIN dl USING (id) CROSS JOIN stats s GROUP BY tf.id) " +
       "SELECT id AS doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20"),
    "q211_rrf_fusion" ->
      ("WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents), " +
       "tok2 AS (SELECT * FROM toks WHERE w <> ''), " +
       "dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id), " +
       "stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM dl), " +
       "tf AS (SELECT id, w, COUNT(*) AS tf FROM tok2 WHERE w IN ('vector', 'join', 'data') GROUP BY id, w), " +
       "dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), " +
       "bm AS (SELECT tf.id, ROUND(SUM(ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1) * " +
       "(tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score " +
       "FROM tf JOIN dfr USING (w) JOIN dl USING (id) CROSS JOIN stats s GROUP BY tf.id), " +
       "bmr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank FROM " +
       "(SELECT * FROM bm ORDER BY score DESC, id LIMIT 20) t), " +
       "dens AS (SELECT tf.id, ROUND(SUM(tf.tf)::DOUBLE / MIN(dl.dl), 4) AS score " +
       "FROM tf JOIN dl USING (id) GROUP BY tf.id), " +
       "der AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank FROM " +
       "(SELECT * FROM dens ORDER BY score DESC, id LIMIT 20) t), " +
       "allr AS (SELECT id, rank FROM bmr UNION ALL SELECT id, rank FROM der) " +
       "SELECT id AS doc_id, ROUND(SUM(1.0 / (60 + rank)), 4) AS rrf, COUNT(*) AS n_lists " +
       "FROM allr GROUP BY id ORDER BY rrf DESC, doc_id LIMIT 10"),
    "q215_budget_select" ->
      ("WITH ws AS (SELECT doc_id, source, list_filter(string_split(text, ' '), w -> w <> '') AS ws, text FROM documents), "
       + "f AS (SELECT doc_id, source, len(ws)::BIGINT AS n_words, "
       + "list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws) AS awl, "
       + s"len(list_filter(ws, w -> list_contains(${inList(stop)}, w)))::DOUBLE / len(ws) AS sw, "
       + "(length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')))::DOUBLE / length(text) AS pr, "
       + "len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n_tokens FROM ws), "
       + "sc AS (SELECT doc_id, source, n_tokens, ROUND(1.0/(1.0+exp(-(-1.0 + 0.35*awl + 2.2*sw - 6.0*pr + 0.15*ln(1+n_words)))), 4) AS score FROM f), "
       + "cum AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id "
       + "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sc) "
       + "SELECT source, COUNT(*) AS n_kept, SUM(n_tokens)::BIGINT AS tokens_kept, ROUND(MIN(score), 4) AS min_score "
       + "FROM cum WHERE cum <= 2500 GROUP BY source ORDER BY source"),
    "q56_centroid_outliers" ->
      ("WITH cd AS (SELECT label, i, AVG(embedding[i]::DOUBLE) AS m " +
       "FROM embeddings, generate_series(1, 64) t(i) GROUP BY label, i), " +
       "cent AS (SELECT label, list(m ORDER BY i) AS c FROM cd GROUP BY label), " +
       "d AS (SELECT e.label, e.vec_id, ROUND(sqrt(list_sum(list_transform(generate_series(1, 64), " +
       "i -> pow(e.embedding[i]::DOUBLE - cent.c[i], 2)))), 4) AS dist " +
       "FROM embeddings e JOIN cent USING (label)), " +
       "r AS (SELECT label, vec_id, dist, ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rn FROM d) " +
       "SELECT label, vec_id, dist, rn FROM r WHERE rn <= 3 ORDER BY label, rn"),
    "q57_chunking" ->
      ("WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), " +
       "nc AS (SELECT doc_id, ws, CASE WHEN len(ws) <= 32 THEN 1 " +
       "ELSE CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT) + 1 END AS n FROM w), " +
       "ch AS (SELECT doc_id, i AS chunk_idx, " +
       "array_to_string(list_slice(ws, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text " +
       "FROM nc, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) g) " +
       "SELECT doc_id, chunk_idx, chunk_text, " +
       "len(list_filter(string_split(chunk_text, ' '), x -> x <> ''))::BIGINT AS chunk_words " +
       "FROM ch ORDER BY doc_id, chunk_idx"),
    "q60_tfidf" ->
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
       + "tok2 AS (SELECT doc_id, w FROM toks WHERE w <> ''), "
       + "tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2), "
       + "df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1), "
       + "n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents), "
       + "sc AS (SELECT doc_id, w AS term, ROUND(tf * ln(n.n / df.df), 4) AS tfidf FROM tf JOIN df USING (w) CROSS JOIN n), "
       + "r AS (SELECT doc_id, term, tfidf, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM sc) "
       + "SELECT doc_id, term, tfidf, rn FROM r WHERE rn <= 3 ORDER BY doc_id, rn"),
    "q61_quality_score" ->
      ("WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws, text FROM documents), "
       + "f AS (SELECT doc_id, len(ws)::BIGINT AS n_words, "
       + "list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws) AS awl, "
       + s"len(list_filter(ws, w -> list_contains(${inList(stop)}, w)))::DOUBLE / len(ws) AS sw, "
       + "(length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')))::DOUBLE / length(text) AS pr FROM ws) "
       + "SELECT doc_id, ROUND(1.0/(1.0+exp(-(-1.0 + 0.35*awl + 2.2*sw - 6.0*pr + 0.15*ln(1+n_words)))), 4) AS score, "
       + "CASE WHEN 1.0/(1.0+exp(-(-1.0 + 0.35*awl + 2.2*sw - 6.0*pr + 0.15*ln(1+n_words)))) >= 0.5 THEN 1 ELSE 0 END::BIGINT AS keep "
       + "FROM f ORDER BY doc_id"),
    "q129_mad_outliers" ->
      ("WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1), "
       + "dev AS (SELECT e.event_id, e.event_type, ABS(e.value - med.med) AS ad FROM events e JOIN med USING (event_type)), "
       + "mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1 HAVING quantile_cont(ad, 0.5) > 0) "
       + "SELECT d.event_id, d.event_type, ROUND(d.ad / (mad.mad * 1.4826), 4) AS rz "
       + "FROM dev d JOIN mad USING (event_type) "
       + "WHERE ROUND(d.ad / (mad.mad * 1.4826), 4) > 3.5 ORDER BY event_id"),
    "q62_value_outliers" ->
      ("WITH iv AS (SELECT event_id, event_type, value, CAST(floor(value*100) AS BIGINT) AS iv FROM events), "
       + "st AS (SELECT event_type, SUM(iv)::DOUBLE AS s, SUM(iv*iv)::DOUBLE AS ss, COUNT(*)::DOUBLE AS n FROM iv GROUP BY 1), "
       + "mv AS (SELECT event_type, s/100/n AS m, sqrt((ss/10000.0 - (s/100)*(s/100)/n)/(n-1.0)) AS sd FROM st "
       + "WHERE n >= 2 AND (ss/10000.0 - (s/100)*(s/100)/n)/(n-1.0) > 0), "
       + "z AS (SELECT e.event_id, e.event_type, ROUND(abs(e.value - mv.m)/mv.sd, 4) AS z FROM events e JOIN mv USING (event_type)) "
       + "SELECT event_id, event_type, z FROM z WHERE z > 3.0 ORDER BY event_id"),
    "q63_dup_spans" ->
      ("WITH words AS (" + wordsCte + "), "
       + "sp AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS sh "
       + "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i) g WHERE len(ws) >= 5), "
       + "docsh AS (SELECT DISTINCT doc_id, sh FROM sp), "
       + "dfc AS (SELECT sh, COUNT(*) AS c FROM docsh GROUP BY 1), "
       + "j AS (SELECT sp.doc_id, CASE WHEN dfc.c >= 2 THEN 1 ELSE 0 END AS dup FROM sp JOIN dfc USING (sh)) "
       + "SELECT doc_id, COUNT(*)::BIGINT AS n_spans, SUM(dup)::BIGINT AS n_dup_spans, "
       + "ROUND(SUM(dup)::DOUBLE / COUNT(*), 4) AS dup_frac FROM j GROUP BY 1 ORDER BY doc_id"),
    // same recursive-CTE BPE apply as q34c, then an exclusive-prefix
    // window over doc order reproduces the distributed prefix sum
    "q71_bpe_packing" ->
      ("WITH RECURSIVE m AS (SELECT mrank, l, r FROM read_parquet('/root/repo/golden/sf0.01/q34b_bpe_merges/*.parquet')), "
       + "w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), "
       + "base AS (SELECT doc_id, array_to_string(list_transform(ws, wd -> "
       + "'|' || array_to_string(list_transform(generate_series(1, length(wd)), i -> substring(wd, i, 1)), '||') || '|'), ' ') AS s, "
       + "1 AS k FROM w), "
       + "rec AS (SELECT doc_id, s, k FROM base "
       + "UNION ALL SELECT rec.doc_id, replace(rec.s, '|' || m.l || '||' || m.r || '|', '|' || m.l || m.r || '|'), rec.k + 1 "
       + "FROM rec JOIN m ON m.mrank = rec.k), "
       + "nt AS (SELECT doc_id, CAST((length(s) - length(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tokens "
       + "FROM rec WHERE k = (SELECT MAX(mrank) + 1 FROM m)), "
       + "off AS (SELECT doc_id, n_tokens, COALESCE(CAST(SUM(n_tokens) OVER "
       + "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS token_offset FROM nt) "
       + "SELECT doc_id, n_tokens, token_offset, token_offset // 512 AS bin FROM off ORDER BY doc_id"),
    "q70_unigram_logprob" ->
      ("WITH words AS (" + wordsCte + "), "
       + "tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM (SELECT doc_id, unnest(ws) AS w FROM words) GROUP BY 1, 2), "
       + "counts AS (SELECT w, SUM(tf) AS c FROM tf GROUP BY 1), "
       + "tot AS (SELECT SUM(c)::DOUBLE AS tot FROM counts) "
       + "SELECT doc_id, SUM(tf)::BIGINT AS n_words, "
       + "ROUND(SUM(tf * ln(c / tot)) / SUM(tf), 4) AS avg_logprob "
       + "FROM tf JOIN counts USING (w) CROSS JOIN tot "
       + "GROUP BY doc_id ORDER BY doc_id"),
    "q67_span_removal" ->
      ("WITH words AS (" + wordsCte + "), "
       + "sp AS (SELECT doc_id, i - 1 AS pos, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g "
       + "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i) t WHERE len(ws) >= 5), "
       + "st AS (SELECT g, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS keep FROM sp GROUP BY 1), "
       + "dr AS (SELECT sp.doc_id, sp.pos FROM sp JOIN st USING (g) WHERE st.nd >= 2 AND sp.doc_id <> st.keep), "
       + "cov AS (SELECT DISTINCT doc_id, pos + j AS wp FROM dr, LATERAL (SELECT unnest(generate_series(0, 4)) AS j) u), "
       + "wpos AS (SELECT doc_id, i - 1 AS wp, ws[i] AS w FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) v), "
       + "kept AS (SELECT wpos.doc_id, wpos.wp, wpos.w FROM wpos ANTI JOIN cov USING (doc_id, wp)), "
       + "agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY wp) AS ct, COUNT(*) AS nk FROM kept GROUP BY 1), "
       + "tot AS (SELECT doc_id, len(ws) AS nw FROM words) "
       + "SELECT tot.doc_id, COALESCE(agg.ct, '') AS clean_text, "
       + "COALESCE(agg.nk, 0)::BIGINT AS n_kept, "
       + "(tot.nw - COALESCE(agg.nk, 0))::BIGINT AS n_dropped "
       + "FROM tot LEFT JOIN agg USING (doc_id) ORDER BY tot.doc_id"),
    "q64_temperature_sample" ->
      ("WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1), "
       + "mn AS (SELECT MIN(n) AS n_min FROM counts), "
       + "rates AS (SELECT lang, CAST(floor(65536 * pow(n_min::DOUBLE / n, 0.5)) AS BIGINT) AS thresh FROM counts CROSS JOIN mn), "
       + "sel AS (SELECT d.lang, CASE WHEN CAST(('0x' || substring(md5(d.text), 1, 4)) AS INTEGER) < r.thresh THEN 1 ELSE 0 END::BIGINT AS keep "
       + "FROM documents d JOIN rates r USING (lang)) "
       + "SELECT lang, COUNT(*) AS total, SUM(keep)::BIGINT AS kept FROM sel GROUP BY 1 ORDER BY lang"),
    "q90_mixture" ->
      ("WITH w(lang, wt) AS (SELECT * FROM (VALUES ('en', 0.4), ('de', 0.2), ('es', 0.2), ('fr', 0.1), ('zh', 0.1)) v(lang, wt)), "
       + "counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1), "
       + "cw AS (SELECT c.lang, c.n, w.wt::DOUBLE AS wt FROM counts c JOIN w USING (lang)), "
       + "tm AS (SELECT MIN(n::DOUBLE / wt) AS t FROM cw), "
       + "rates AS (SELECT lang, CAST(floor(65536.0 * wt * tm.t / n) AS BIGINT) AS thresh FROM cw CROSS JOIN tm), "
       + "sel AS (SELECT d.lang, CASE WHEN CAST(('0x' || substring(md5(d.text), 1, 4)) AS INTEGER) < r.thresh THEN 1 ELSE 0 END::BIGINT AS keep "
       + "FROM documents d JOIN rates r USING (lang)) "
       + "SELECT lang, COUNT(*) AS total, SUM(keep)::BIGINT AS kept FROM sel GROUP BY 1 ORDER BY lang"),
    "q92_gopher" ->
      ("WITH words AS (" + wordsCte + "), "
       + "f AS (SELECT doc_id, len(ws)::BIGINT AS n_words, "
       + "list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws) AS mean_len, "
       + "length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE / length(text) AS symbol_frac, "
       + "len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE / len(ws) AS alpha_frac, "
       + "len(list_filter(ws, w -> list_contains(['the', 'a', 'an', 'of', 'and', 'to', 'in', 'is', 'on', 'for'], w)))::BIGINT AS stop_hits "
       + "FROM words) "
       + "SELECT doc_id, n_words, ROUND(mean_len, 4) AS mean_word_len, "
       + "ROUND(symbol_frac, 4) AS symbol_frac, ROUND(alpha_frac, 4) AS alpha_word_frac, stop_hits, "
       + "CASE WHEN n_words BETWEEN 10 AND 80 AND mean_len BETWEEN 3.0 AND 10.0 "
       + "AND symbol_frac <= 0.1 AND alpha_frac >= 0.8 AND stop_hits >= 2 THEN 1 ELSE 0 END::BIGINT AS pass "
       + "FROM f ORDER BY doc_id"),
    "q137_regression" -> regressionOracle,
    "q138_islands" ->
      ("WITH p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), "
       + "r AS (SELECT user_id, day, day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor FROM p), "
       + "i AS (SELECT user_id, anchor, COUNT(*) AS len FROM r GROUP BY 1, 2) "
       + "SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS max_streak "
       + "FROM i GROUP BY 1 ORDER BY 1"),
    "q136_rolling_distinct" ->
      ("WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events), "
       + "days AS (SELECT DISTINCT day FROM p) "
       + "SELECT CAST(d.day AS VARCHAR) AS day, COUNT(DISTINCT p.user_id) AS wau "
       + "FROM days d JOIN p ON p.day BETWEEN d.day - 6 AND d.day "
       + "GROUP BY 1 ORDER BY 1"),
    "q134_paths" ->
      ("WITH a AS (SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts_s FROM events), "
       + "b AS (SELECT *, CASE WHEN LAG(ts_s) OVER w IS NULL OR ts_s > LAG(ts_s) OVER w + INTERVAL 30 MINUTE "
       + "THEN 1 ELSE 0 END AS new_s FROM a WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)), "
       + "c AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS sid FROM b), "
       + "p AS (SELECT user_id, sid, array_to_string(list_slice(list(event_type ORDER BY ts_s, event_id), 1, 5), '>') AS path "
       + "FROM c GROUP BY 1, 2) "
       + "SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1 "
       + "ORDER BY n_sessions DESC, path LIMIT 20"),
    "q135_entropy" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
       + "tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok WHERE w <> '' GROUP BY 1, 2) "
       + "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, "
       + "ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 4) AS entropy "
       + "FROM tc GROUP BY 1 ORDER BY 1"),
    "q133_transitions" ->
      ("WITH s AS (SELECT user_id, event_type, event_id, ts, "
       + "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt FROM events) "
       + "SELECT event_type AS from_type, nxt AS to_type, COUNT(*) AS cnt, "
       + "ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 4) AS p "
       + "FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"),
    "q74_funnel" ->
      ("WITH e AS (SELECT user_id AS u, event_type AS et, epoch(date_trunc('second', ts))::BIGINT AS t FROM events), "
       + "s0 AS (SELECT u, MIN(t) AS t FROM e WHERE et = 'view' GROUP BY u), "
       + "s1 AS (SELECT e.u, MIN(e.t) AS t FROM e JOIN s0 USING (u) "
       + "WHERE e.et = 'click' AND e.t > s0.t AND e.t <= s0.t + 604800 GROUP BY e.u), "
       + "s2 AS (SELECT e.u, MIN(e.t) AS t FROM e JOIN s1 USING (u) "
       + "WHERE e.et = 'purchase' AND e.t > s1.t AND e.t <= s1.t + 604800 GROUP BY e.u) "
       + "SELECT 0::BIGINT AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s0 "
       + "UNION ALL SELECT 1::BIGINT, 'click', COUNT(*) FROM s1 "
       + "UNION ALL SELECT 2::BIGINT, 'purchase', COUNT(*) FROM s2 ORDER BY step"),
    "q75_retention" ->
      ("WITH wk AS (SELECT user_id AS u, date_trunc('week', ts)::DATE AS w FROM events), "
       + "fw AS (SELECT u, MIN(w) AS cohort_week FROM wk GROUP BY u), "
       + "act AS (SELECT DISTINCT u, w FROM wk) "
       + "SELECT CAST(fw.cohort_week AS VARCHAR) AS cohort_week, ((act.w - fw.cohort_week) // 7)::BIGINT AS week_offset, "
       + "COUNT(*) AS n_users FROM act JOIN fw USING (u) "
       + "GROUP BY 1, 2 ORDER BY cohort_week, week_offset"),
    "q76_bigram_lm" ->
      ("WITH words AS (" + wordsCte + "), "
       + "bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 "
       + "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g WHERE len(ws) >= 2), "
       + "tf2 AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3), "
       + "c2 AS (SELECT w1, w2, SUM(tf) AS c2 FROM tf2 GROUP BY 1, 2), "
       + "c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1), "
       + "uni AS (SELECT w, COUNT(*) AS cu FROM (SELECT unnest(ws) AS w FROM words) GROUP BY 1), "
       + "tot AS (SELECT SUM(cu)::DOUBLE AS t FROM uni) "
       + "SELECT tf2.doc_id, SUM(tf)::BIGINT AS n_bigrams, "
       + "ROUND(SUM(tf * ln(0.8 * c2.c2 / c1.c1 + 0.2 * uni.cu / tot.t)) / SUM(tf), 4) AS avg_logprob "
       + "FROM tf2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1) "
       + "JOIN uni ON uni.w = tf2.w2 CROSS JOIN tot "
       + "GROUP BY 1 ORDER BY doc_id"),
    "q77_datacard" ->
      ("SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(source)) AS n_sources, "
       + "SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))::BIGINT AS total_words, "
       + "ROUND(AVG(len(list_filter(string_split(text, ' '), w -> w <> ''))), 4) AS avg_words, "
       + "ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars, "
       + "ROUND(quantile_cont(n_chars, 0.9), 4) AS p90_chars, "
       + "ROUND(1.0 - COUNT(DISTINCT md5(text))::DOUBLE / COUNT(*), 4) AS dup_rate "
       + "FROM documents GROUP BY lang ORDER BY lang"),
    "q88_fuzzy" ->
      ("WITH s AS (SELECT doc_id, text, length(text) // 40 AS lb, string_split(text, ' ') AS ws FROM documents), "
       + "k AS (SELECT doc_id, text, lb, "
       + "coalesce(ws[1], '') || ' ' || coalesce(ws[2], '') AS k1, "
       + "coalesce(ws[-2], '') || ' ' || coalesce(ws[-1], '') AS k2 FROM s), "
       + "b AS (SELECT *, count(*) OVER (PARTITION BY lb, k1) AS c1, "
       + "count(*) OVER (PARTITION BY lb, k2) AS c2 FROM k), "
       + "cand AS ("
       + "SELECT x.doc_id AS a, y.doc_id AS b, x.text AS tx, y.text AS ty "
       + "FROM b x JOIN b y ON x.lb = y.lb AND x.k1 = y.k1 AND x.doc_id < y.doc_id "
       + "WHERE x.c1 <= 5000 AND y.c1 <= 5000 "
       + "UNION "
       + "SELECT x.doc_id, y.doc_id, x.text, y.text "
       + "FROM b x JOIN b y ON x.lb = y.lb AND x.k2 = y.k2 AND x.doc_id < y.doc_id "
       + "WHERE x.c2 <= 5000 AND y.c2 <= 5000) "
       + "SELECT a, b, levenshtein(tx, ty)::BIGINT AS d FROM cand "
       + "WHERE levenshtein(tx, ty) <= 0.3 * greatest(length(tx), length(ty)) "
       + "ORDER BY a, b"),
    "q85_scd2" ->
      (s"WITH $scd2Cte SELECT * FROM dim2 ORDER BY user_id, valid_from, seg"),
    "q242_scd2_lookup" ->
      (s"WITH $scd2Cte, "
       + "sh AS (SELECT user_id AS uid, epoch(date_trunc('second', ts))::BIGINT AS sec FROM events "
       + "WHERE epoch(date_trunc('second', ts)) >= epoch(TIMESTAMP '2024-01-15 00:00:00')) "
       + "SELECT d.seg, COUNT(*)::BIGINT AS n_events, COUNT(DISTINCT sh.uid)::BIGINT AS n_users "
       + "FROM sh JOIN dim2 d ON sh.uid = d.user_id AND sh.sec >= d.valid_from "
       + "AND (d.valid_to IS NULL OR sh.sec < d.valid_to) "
       + "GROUP BY d.seg ORDER BY d.seg"),
    "q243_ab_assign" ->
      ("WITH a AS (SELECT *, CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) "
       + "IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm FROM events), "
       + "m AS (SELECT arm, COUNT(DISTINCT user_id)::BIGINT AS n_users, "
       + "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS clicks, "
       + "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchases "
       + "FROM a GROUP BY arm) "
       + "SELECT arm, n_users, clicks, purchases, purchases * 1000 // n_users AS purchases_per_kuser "
       + "FROM m ORDER BY arm"),
    "q244_ldiversity" ->
      ("SELECT event_type, hour(ts)::BIGINT AS hod, COUNT(*)::BIGINT AS n, "
       + "COUNT(DISTINCT user_id % 10)::BIGINT AS l_div, "
       + "(COUNT(DISTINCT user_id % 10) < 3)::INT::BIGINT AS suppress "
       + "FROM events GROUP BY event_type, hour(ts) ORDER BY event_type, hod"),
    // the rollup from stored cells must equal the direct table —
    // additive cells make rollup==rebuild, so q147's pin IS the oracle
    "q255_cms_rollup" -> golden("q147_cms", "word, exact, est", "exact DESC, word"),
    "q257_abandonment" ->
      ("WITH e AS (SELECT user_id, event_type, epoch(date_trunc('second', ts))::BIGINT AS sec, "
       + "event_id, strftime(ts, '%Y-%m-%d') AS day FROM events), "
       + "v AS (SELECT user_id AS vu, sec AS vsec, event_id AS vid, day FROM e WHERE event_type = 'view'), "
       + "c AS (SELECT user_id AS cu, sec AS csec FROM e WHERE event_type = 'click'), "
       + "m AS (SELECT day, vid, MAX(CASE WHEN csec IS NOT NULL THEN 1 ELSE 0 END) AS converted "
       + "FROM v LEFT JOIN c ON vu = cu AND csec > vsec AND csec <= vsec + 3600 GROUP BY day, vid), "
       + "g AS (SELECT day, COUNT(*)::BIGINT AS n_views, "
       + "SUM(CASE WHEN converted = 0 THEN 1 ELSE 0 END)::BIGINT AS n_abandoned FROM m GROUP BY day) "
       + "SELECT day, n_views, n_abandoned, n_abandoned * 1000000 // n_views AS abandoned_ppm "
       + "FROM g ORDER BY day"),
    "q258_rbo" ->
      ("WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents), " +
       "tok2 AS (SELECT * FROM toks WHERE w <> ''), " +
       "dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id), " +
       "stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM dl), " +
       "tf AS (SELECT id, w, COUNT(*) AS tf FROM tok2 WHERE w IN ('vector', 'join', 'data') GROUP BY id, w), " +
       "dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), " +
       "bm AS (SELECT tf.id, ROUND(SUM(ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1) * " +
       "(tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score " +
       "FROM tf JOIN dfr USING (w) JOIN dl USING (id) CROSS JOIN stats s GROUP BY tf.id), " +
       "bmr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS ra FROM " +
       "(SELECT * FROM bm ORDER BY score DESC, id LIMIT 20) t), " +
       "dens AS (SELECT tf.id, ROUND(SUM(tf.tf)::DOUBLE / MIN(dl.dl), 4) AS score " +
       "FROM tf JOIN dl USING (id) GROUP BY tf.id), " +
       "der AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rb FROM " +
       "(SELECT * FROM dens ORDER BY score DESC, id LIMIT 20) t), " +
       "mx AS (SELECT GREATEST(bmr.ra, der.rb) AS mx FROM bmr JOIN der USING (id)), " +
       "ov AS (SELECT d.dpt, SUM(CASE WHEN mx.mx <= d.dpt THEN 1 ELSE 0 END)::BIGINT AS ov " +
       "FROM (SELECT unnest(range(1, 21)) AS dpt) d CROSS JOIN mx GROUP BY d.dpt), " +
       "l AS (SELECT list(ov ORDER BY dpt) AS ovs FROM ov) " +
       // COALESCE guards the zero-overlap corpus: with no shared ids
       // the ov CTE is empty, list() yields NULL, and a bare ovs[d]
       // would make the oracle NULL where the engine's aggregate over
       // an empty collect_list correctly yields 0.0
       "SELECT ROUND(0.1 * list_sum(list_transform(range(1, 21), " +
       "d -> power(0.9, d - 1) * COALESCE(ovs[d], 0) / d)), 4) AS rbo FROM l"),
    "q256_funnel_ab" ->
      ("WITH e AS (SELECT user_id AS u, event_type AS et, epoch(date_trunc('second', ts))::BIGINT AS t, "
       + "CASE WHEN substring(md5(user_id::VARCHAR), 1, 1) IN ('0','1','2','3','4','5','6','7') "
       + "THEN 'A' ELSE 'B' END AS arm FROM events), "
       + "s0 AS (SELECT arm, u, MIN(t) AS t FROM e WHERE et = 'view' GROUP BY arm, u), "
       + "s1 AS (SELECT s0.arm, e.u, MIN(e.t) AS t FROM e JOIN s0 USING (u) "
       + "WHERE e.et = 'click' AND e.t > s0.t AND e.t <= s0.t + 604800 GROUP BY s0.arm, e.u), "
       + "s2 AS (SELECT s1.arm, e.u, MIN(e.t) AS t FROM e JOIN s1 USING (u) "
       + "WHERE e.et = 'purchase' AND e.t > s1.t AND e.t <= s1.t + 604800 GROUP BY s1.arm, e.u) "
       + "SELECT arm, step, step_name, n_users FROM ("
       + "SELECT arm, 0::BIGINT AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s0 GROUP BY arm "
       + "UNION ALL SELECT arm, 1::BIGINT, 'click', COUNT(*) FROM s1 GROUP BY arm "
       + "UNION ALL SELECT arm, 2::BIGINT, 'purchase', COUNT(*) FROM s2 GROUP BY arm) "
       + "ORDER BY arm, step"),
    // identical integer quantization (round(x*1000) BIGINT) and exact
    // integer token dots — any summation order reproduces the score
    "q259_maxsim" ->
      ("WITH v AS (SELECT vec_id, unnest(embedding) AS x, unnest(range(len(embedding))) AS i FROM embeddings), "
       + "q AS (SELECT vec_id, i // 8 AS tok, i % 8 AS p, CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS xq FROM v), "
       + "qt AS (SELECT * FROM q WHERE vec_id < 8), "
       + "dp AS (SELECT a.vec_id AS qid, b.vec_id AS cid, a.tok AS qtok, b.tok AS dtok, "
       + "CAST(SUM(a.xq * b.xq) AS BIGINT) AS dp "
       + "FROM qt a JOIN q b ON a.p = b.p AND a.vec_id <> b.vec_id GROUP BY 1, 2, 3, 4), "
       + "mx AS (SELECT qid, cid, qtok, MAX(dp) AS m FROM dp GROUP BY 1, 2, 3), "
       + "sc AS (SELECT qid, cid, CAST(SUM(m) AS BIGINT) AS score FROM mx GROUP BY 1, 2) "
       + "SELECT qid, cid, score, rn FROM (SELECT qid, cid, score, "
       + "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc) t "
       + "WHERE rn <= 3 ORDER BY qid, rn"),
    "q260_compaction" ->
      ("WITH f AS (SELECT source, doc_id // 100 AS file_seq, COUNT(*)::BIGINT AS n_docs, "
       + "SUM(n_chars)::BIGINT AS bytes FROM documents GROUP BY 1, 2), "
       + "b AS (SELECT source, file_seq, n_docs, bytes, "
       + "COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY file_seq "
       + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 262144 AS bin FROM f) "
       + "SELECT source, CAST(bin AS BIGINT) AS bin, COUNT(*)::BIGINT AS n_files, "
       + "SUM(bytes)::BIGINT AS bytes, SUM(n_docs)::BIGINT AS n_docs "
       + "FROM b GROUP BY 1, 2 ORDER BY source, bin"),
    "q261_lpa" -> lpaOracle,
    "q262_cusum" ->
      ("WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
       + "SUM(CAST(round(value * 100) AS BIGINT)) AS v FROM events GROUP BY 1, 2), "
       + "tot AS (SELECT event_type, SUM(v)::BIGINT AS tt, COUNT(*)::BIGINT AS n_days FROM daily GROUP BY 1), "
       + "c AS (SELECT event_type, day, SUM(v) OVER (PARTITION BY event_type ORDER BY day)::BIGINT AS cum, "
       + "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)::BIGINT AS idx FROM daily), "
       + "dv AS (SELECT c.event_type, day, CAST(n_days * cum - idx * tt AS BIGINT) AS dev, n_days "
       + "FROM c JOIN tot ON c.event_type = tot.event_type) "
       + "SELECT event_type, cp_day, dev_scaled, n_days FROM ("
       + "SELECT event_type, day AS cp_day, ABS(dev)::BIGINT AS dev_scaled, n_days, "
       + "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(dev) DESC, day) AS rn FROM dv) t "
       + "WHERE rn = 1 ORDER BY event_type"),
    "q263_modularity" -> modularityOracle,
    "q267_dsir" ->
      ("WITH t0 AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents), "
       + "tok AS (SELECT doc_id, lang, unnest(ws) AS w, unnest(range(len(ws))) AS i FROM t0), "
       + "tk AS (SELECT doc_id, lang, w, i FROM tok WHERE w <> ''), "
       + "led AS (SELECT doc_id, lang, w, LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w1 FROM tk), "
       + "feat AS (SELECT doc_id, lang, CAST(('0x' || substring(md5(w), 1, 3)) AS BIGINT) AS b FROM tk "
       + "UNION ALL SELECT doc_id, lang, CAST(('0x' || substring(md5(w || ' ' || w1), 1, 3)) AS BIGINT) AS b "
       + "FROM led WHERE w1 IS NOT NULL), "
       + "rawb AS (SELECT b, COUNT(*)::BIGINT AS c_raw FROM feat GROUP BY b), "
       + "tgtb AS (SELECT b, COUNT(*)::BIGINT AS c_tgt FROM feat WHERE lang = 'en' GROUP BY b), "
       + "tot AS (SELECT (SELECT SUM(c_raw) FROM rawb)::BIGINT AS t_raw, (SELECT SUM(c_tgt) FROM tgtb)::BIGINT AS t_tgt), "
       + "ratio AS (SELECT rawb.b, ROUND((ln((COALESCE(c_tgt, 0) + 0.5) / (t_tgt + 0.5 * 4096)) "
       + "- ln((c_raw + 0.5) / (t_raw + 0.5 * 4096))) * 1000000, 0)::BIGINT AS lr_micro "
       + "FROM rawb LEFT JOIN tgtb USING (b) CROSS JOIN tot), "
       + "docb AS (SELECT doc_id, b, COUNT(*)::BIGINT AS n FROM feat GROUP BY doc_id, b) "
       + "SELECT doc_id, SUM(n * lr_micro)::BIGINT AS score_micro FROM docb JOIN ratio USING (b) "
       + "GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 100"),
    "q264_query_expansion" ->
      ("WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
       + "tok AS (SELECT doc_id, unnest(ws) AS wd, unnest(range(len(ws))) AS i FROM t0), "
       + "tk AS (SELECT doc_id, wd, i FROM tok WHERE wd <> ''), "
       + "led AS (SELECT doc_id, wd, LEAD(wd) OVER (PARTITION BY doc_id ORDER BY i) AS nxt FROM tk), "
       + "p AS (SELECT wd, nxt, COUNT(*) AS c_ab FROM led WHERE nxt IS NOT NULL GROUP BY 1, 2 HAVING COUNT(*) >= 5), "
       + "u AS (SELECT wd, COUNT(*) AS c FROM tk GROUP BY 1), "
       + "n AS (SELECT COUNT(*) AS n_tok FROM tk), "
       + "cand AS (SELECT CASE WHEN wd = 'data' THEN nxt ELSE wd END AS term, SUM(c_ab) AS c_ab "
       + "FROM p WHERE (wd = 'data' OR nxt = 'data') AND NOT (wd = 'data' AND nxt = 'data') GROUP BY 1), "
       + "pmi AS (SELECT term, ROUND(LN(CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) / "
       + "(CAST(cs.c AS DOUBLE) * CAST(ct.c AS DOUBLE))), 4) AS pmi "
       + "FROM cand JOIN u ct ON cand.term = ct.wd CROSS JOIN (SELECT c FROM u WHERE wd = 'data') cs, n), "
       + "exp AS (SELECT term FROM (SELECT term FROM pmi ORDER BY pmi DESC, term LIMIT 2) UNION ALL SELECT 'data'), "
       + "dl AS (SELECT doc_id AS id, COUNT(*) AS dl FROM tk GROUP BY 1), "
       + "stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM dl), "
       + "tf AS (SELECT doc_id AS id, wd AS w, COUNT(*) AS tf FROM tk WHERE wd IN (SELECT term FROM exp) GROUP BY 1, 2), "
       + "dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), "
       + "sc AS (SELECT tf.id, ROUND(SUM(ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1) * "
       + "(tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score "
       + "FROM tf JOIN dfr USING (w) JOIN dl USING (id) CROSS JOIN stats s GROUP BY tf.id) "
       + "SELECT id AS doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10"),
    "q251_time_travel" ->
      ("WITH log AS (SELECT o_custkey AS k, o_orderdate AS ts, "
       + "CASE WHEN o_orderpriority LIKE '1%' THEN 'D' ELSE 'U' END AS op, o_totalprice AS nb "
       + "FROM orders WHERE o_orderkey % 5 = 0), "
       + "la AS (SELECT k, op, nb FROM (SELECT *, ROW_NUMBER() OVER "
       + "(PARTITION BY k ORDER BY ts DESC, op DESC, nb DESC) AS rn FROM log "
       + "WHERE ts <= TIMESTAMP '1998-06-01 00:00:00') t WHERE rn = 1), "
       + "ln AS (SELECT k, op, nb FROM (SELECT *, ROW_NUMBER() OVER "
       + "(PARTITION BY k ORDER BY ts DESC, op DESC, nb DESC) AS rn FROM log) t WHERE rn = 1), "
       + "sa AS (SELECT c.c_custkey, COALESCE(la.nb, c.c_acctbal) AS bal FROM customer c "
       + "LEFT JOIN la ON c.c_custkey = la.k WHERE la.op IS NULL OR la.op <> 'D'), "
       + "sn AS (SELECT c.c_custkey, COALESCE(ln.nb, c.c_acctbal) AS bal FROM customer c "
       + "LEFT JOIN ln ON c.c_custkey = ln.k WHERE ln.op IS NULL OR ln.op <> 'D'), "
       + "ga AS (SELECT c_mktsegment, COUNT(*)::BIGINT AS n_asof, "
       + "SUM(ROUND(bal * 100, 0)::BIGINT)::BIGINT AS bal_asof_cents "
       + "FROM sa JOIN customer USING (c_custkey) GROUP BY c_mktsegment), "
       + "gn AS (SELECT c_mktsegment, COUNT(*)::BIGINT AS n_now, "
       + "SUM(ROUND(bal * 100, 0)::BIGINT)::BIGINT AS bal_now_cents "
       + "FROM sn JOIN customer USING (c_custkey) GROUP BY c_mktsegment) "
       + "SELECT c_mktsegment, n_asof, bal_asof_cents, n_now, bal_now_cents "
       + "FROM ga JOIN gn USING (c_mktsegment) ORDER BY c_mktsegment"),
    "q252_sample_quantiles" ->
      ("WITH h AS (SELECT event_type, CAST(('0x' || substring(md5(event_id::VARCHAR), 1, 15)) AS BIGINT) AS hv, value AS v FROM events), "
       + "r AS (SELECT event_type, v, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h), "
       + "samp AS (SELECT event_type, COUNT(*)::BIGINT AS n_sample, "
       + "ROUND(quantile_cont(v, 0.5), 4) AS est_p50, ROUND(quantile_cont(v, 0.9), 4) AS est_p90 "
       + "FROM r WHERE rn <= 512 GROUP BY event_type), "
       + "ex AS (SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS exact_p50, "
       + "ROUND(quantile_cont(value, 0.9), 4) AS exact_p90 FROM events GROUP BY event_type) "
       + "SELECT event_type, n_sample, est_p50, est_p90, exact_p50, exact_p90 "
       + "FROM samp JOIN ex USING (event_type) ORDER BY event_type"),
    "q241_recursive_cte" ->
      ("WITH RECURSIVE r(key, root, depth) AS ("
       + "SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey < 4 "
       + "UNION ALL SELECT p.p_partkey, r.root, r.depth + 1 "
       + "FROM part p JOIN r ON p.p_partkey // 4 = r.key WHERE p.p_partkey >= 4) "
       + "SELECT r.root, COUNT(*)::BIGINT AS n_parts, MAX(r.depth)::BIGINT AS max_depth, "
       + "SUM(ROUND(p.p_retailprice * 100, 0)::BIGINT)::BIGINT AS retail_cents "
       + "FROM r JOIN part p ON p.p_partkey = r.key "
       + "GROUP BY r.root ORDER BY r.root"),
    "q246_hll_rollup" ->
      golden("q246_hll_rollup", "event_type, est_users, exact_users, ok_5pct",
        "event_type"),
    "q247_embed_drift" ->
      ("WITH e AS (SELECT label::BIGINT AS label, unnest(embedding) AS v, "
       + "unnest(range(len(embedding))) AS dim FROM embeddings), "
       + "pl AS (SELECT label, dim, ROUND(AVG(v), 6) AS cl FROM e GROUP BY label, dim), "
       + "g AS (SELECT dim, ROUND(AVG(v), 6) AS cg FROM e GROUP BY dim) "
       + "SELECT label, ROUND(SUM(cl * cg) / sqrt(SUM(cl * cl) * SUM(cg * cg)), 4) AS cos_to_global "
       + "FROM pl JOIN g USING (dim) GROUP BY label ORDER BY label"),
    "q248_corr_matrix" ->
      ("SELECT ROUND(corr(l_quantity, l_extendedprice), 4) AS quantity_extendedprice, "
       + "ROUND(corr(l_quantity, l_discount), 4) AS quantity_discount, "
       + "ROUND(corr(l_quantity, l_tax), 4) AS quantity_tax, "
       + "ROUND(corr(l_extendedprice, l_discount), 4) AS extendedprice_discount, "
       + "ROUND(corr(l_extendedprice, l_tax), 4) AS extendedprice_tax, "
       + "ROUND(corr(l_discount, l_tax), 4) AS discount_tax FROM lineitem"),
    "q249_curation_audit" ->
      ("WITH words AS (" + wordsCte + "), "
       + "bg AS (SELECT doc_id, [ws[i] || ' ' || ws[i+1] FOR i IN generate_series(1, len(ws) - 1)] AS bgs FROM words), "
       + "feats AS (SELECT w.doc_id, w.text, len(w.ws)::BIGINT AS n_words, "
       + "ROUND(list_sum(list_transform(w.ws, x -> length(x)))::DOUBLE / len(w.ws), 4) AS avg_word_len, "
       + s"ROUND(len(list_filter(w.ws, x -> list_contains(${inList(stop)}, x)))::DOUBLE / len(w.ws), 4) AS stopword_ratio, "
       + "CASE WHEN len(b.bgs) > 0 THEN ROUND(1.0 - len(list_distinct(b.bgs))::DOUBLE / len(b.bgs), 4) ELSE 0.0 END AS dup_bigram_frac "
       + "FROM words w JOIN bg b USING (doc_id)), "
       + "g AS (SELECT SUM((n_words NOT BETWEEN 5 AND 100000)::INT)::BIGINT AS gate_n_words, "
       + "SUM((avg_word_len < 2.0)::INT)::BIGINT AS gate_avg_word_len, "
       + "SUM((stopword_ratio > 0.9)::INT)::BIGINT AS gate_stopword_ratio, "
       + "SUM((dup_bigram_frac > 0.9)::INT)::BIGINT AS gate_dup_bigram FROM feats), "
       + "qualified AS (SELECT doc_id, text FROM feats WHERE n_words BETWEEN 5 AND 100000 "
       + "AND avg_word_len >= 2.0 AND stopword_ratio <= 0.9 AND dup_bigram_frac <= 0.9), "
       + "ex AS (SELECT COALESCE(SUM(c - 1), 0)::BIGINT AS exact_dup_removed, COUNT(*)::BIGINT AS kept_after_exact "
       + "FROM (SELECT COUNT(*) AS c FROM qualified GROUP BY text) t) "
       + "SELECT reason, c FROM ("
       + "SELECT 'gate_n_words' AS reason, gate_n_words AS c FROM g "
       + "UNION ALL SELECT 'gate_avg_word_len', gate_avg_word_len FROM g "
       + "UNION ALL SELECT 'gate_stopword_ratio', gate_stopword_ratio FROM g "
       + "UNION ALL SELECT 'gate_dup_bigram', gate_dup_bigram FROM g "
       + "UNION ALL SELECT 'exact_dup_removed', exact_dup_removed FROM ex "
       + "UNION ALL SELECT 'kept_after_exact', kept_after_exact FROM ex) "
       + "ORDER BY reason"),
    "q250_holt" ->
      ("WITH RECURSIVE daily AS (SELECT event_type, date_trunc('day', ts) AS day, "
       + "SUM(ROUND(value * 100, 0)::BIGINT) / 100.0 AS v FROM events GROUP BY event_type, date_trunc('day', ts)), "
       + "ord AS (SELECT event_type, v, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn FROM daily), "
       + "nd AS (SELECT event_type, MAX(rn) AS n FROM ord GROUP BY event_type), "
       + "s AS (SELECT event_type, 1 AS i, v AS l, 0.0::DOUBLE AS b FROM ord WHERE rn = 1 "
       + "UNION ALL SELECT o.event_type, s.i + 1, "
       + "0.5 * o.v + 0.5 * (s.l + s.b), "
       + "0.5 * ((0.5 * o.v + 0.5 * (s.l + s.b)) - s.l) + 0.5 * s.b "
       + "FROM s JOIN ord o ON o.event_type = s.event_type AND o.rn = s.i + 1) "
       + "SELECT s.event_type AS event_type, nd.n::BIGINT AS n_days, ROUND(s.l, 4) AS level, "
       + "ROUND(s.b, 4) AS trend, ROUND(s.l + s.b, 4) AS forecast_1 "
       + "FROM s JOIN nd ON s.event_type = nd.event_type AND s.i = nd.n "
       + "ORDER BY s.event_type"),
    "q83_redact" ->
      ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, "
       + "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
       + "'https?://[^ ]+', '<URL>', 'g'), "
       + "'[0-9]{9,}', '<NUM>', 'g') AS redacted, "
       + "(length(text) - length(regexp_replace(regexp_replace(regexp_replace(text, "
       + "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
       + "'https?://[^ ]+', '<URL>', 'g'), "
       + "'[0-9]{9,}', '<NUM>', 'g')))::BIGINT AS chars_removed "
       + "FROM documents ORDER BY doc_id"),
    "q78_zorder" ->
      ("WITH xy AS (SELECT event_id, (user_id & 65535) AS x, "
       + "(CAST(floor(value * 100) AS BIGINT) & 65535) AS y FROM events) "
       + "SELECT event_id, x, y, "
       + "CAST(list_sum(list_transform(generate_series(0, 15), "
       + "i -> (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i+1)))) AS BIGINT) AS zval "
       + "FROM xy ORDER BY event_id"),
    "q79_negatives" ->
      ("WITH b AS (SELECT doc_id, text, CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 64 AS b FROM documents), "
       + "pool AS (SELECT b, MIN({'rh': md5('rep|' || text), 'neg_id': doc_id}).neg_id AS neg_id FROM b GROUP BY 1), "
       + "pr AS (SELECT doc_id AS anchor_id, j::BIGINT AS neg_rank, ((b + j * 40503) % 64) AS pb "
       + "FROM b, LATERAL (SELECT unnest(generate_series(1, 3)) AS j) g) "
       + "SELECT anchor_id, neg_rank, neg_id FROM pr JOIN pool ON pool.b = pr.pb "
       + "WHERE neg_id <> anchor_id ORDER BY anchor_id, neg_rank"),
    "q37_asof" ->
      ("WITH p AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts_s FROM events WHERE event_type = 'purchase'), " +
       "c AS (SELECT user_id, date_trunc('second', ts) AS ts_s, MAX(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2) " +
       "SELECT p.event_id, c.click_id FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts_s >= c.ts_s ORDER BY p.event_id"),
    "q97_asof_nearest" ->
      ("WITH p AS (SELECT event_id, user_id, date_trunc('second', ts) AS ts_s FROM events WHERE event_type = 'purchase'), "
       + "c AS (SELECT user_id, date_trunc('second', ts) AS ts_s, MAX(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2), "
       + "b AS (SELECT p.event_id, p.ts_s, c.click_id AS b_id, c.ts_s AS b_ts FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_s >= c.ts_s), "
       + "f AS (SELECT p.event_id, c.click_id AS f_id, c.ts_s AS f_ts FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_s <= c.ts_s), "
       + "x AS (SELECT b.event_id, b.ts_s, CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL AND epoch(b.ts_s) - epoch(b.b_ts) <= epoch(f.f_ts) - epoch(b.ts_s)) "
       + "THEN b.b_id ELSE f.f_id END AS click_id, "
       + "CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL AND epoch(b.ts_s) - epoch(b.b_ts) <= epoch(f.f_ts) - epoch(b.ts_s)) "
       + "THEN b.b_ts ELSE f.f_ts END AS m_ts FROM b JOIN f USING (event_id)) "
       + "SELECT event_id, click_id, CAST(abs(epoch(ts_s) - epoch(m_ts)) AS BIGINT) AS gap_s "
       + "FROM x WHERE click_id IS NOT NULL ORDER BY event_id"),
    "q98_cdc" ->
      ("WITH log AS (SELECT o_custkey AS c_custkey, o_orderdate AS ts, "
       + "CASE WHEN o_orderpriority LIKE '1%' THEN 'D' ELSE 'U' END AS op, o_totalprice AS nb "
       + "FROM orders WHERE o_orderkey % 5 = 0), "
       + "latest AS (SELECT c_custkey, op, nb FROM "
       + "(SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY ts DESC, op DESC, nb DESC) AS rn FROM log) WHERE rn = 1), "
       + "untouched AS (SELECT c.c_custkey, c.c_acctbal AS nb FROM customer c "
       + "WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)) "
       + "SELECT c_custkey, ROUND(nb, 4) AS acctbal FROM "
       + "(SELECT c_custkey, nb FROM untouched UNION ALL SELECT c_custkey, nb FROM latest WHERE op <> 'D') "
       + "ORDER BY c_custkey"),
    "q99_upsample" ->
      ("WITH w(lang, wt) AS (SELECT * FROM (VALUES ('en', 0.2), ('de', 0.2), ('es', 0.2), ('fr', 0.2), ('zh', 0.2)) v(lang, wt)), "
       + "counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1), "
       + "tot AS (SELECT SUM(n)::DOUBLE AS total FROM counts), "
       + "rates AS (SELECT lang, CAST(floor(f) AS BIGINT) AS base, CAST(floor((f - floor(f)) * 65536) AS BIGINT) AS thresh FROM "
       + "(SELECT c.lang, w.wt::DOUBLE * 1.0 * tot.total / c.n AS f FROM counts c JOIN w USING (lang) CROSS JOIN tot)), "
       + "sel AS (SELECT d.lang, r.base + CASE WHEN CAST(('0x' || substring(md5(d.text), 1, 4)) AS INTEGER) < r.thresh THEN 1 ELSE 0 END AS n_copies "
       + "FROM documents d JOIN rates r USING (lang)) "
       + "SELECT lang, COUNT(*) AS total, SUM(n_copies)::BIGINT AS copies FROM sel GROUP BY 1 ORDER BY lang"),
    "q268_shuffle_export" ->
      ("WITH a AS (SELECT doc_id, md5('graft-r10|' || CAST(doc_id AS VARCHAR)) AS skey, "
       + "CAST(('0x' || substring(md5('graft-r10|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard, "
       + "len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS tokens FROM documents) "
       + "SELECT shard, COUNT(*)::BIGINT AS n_docs, SUM(tokens)::BIGINT AS tokens, "
       + "min_by(doc_id, skey) AS first_doc, max_by(doc_id, skey) AS last_doc "
       + "FROM a GROUP BY shard ORDER BY shard"),
    "q269_soft_dedup" ->
      ("WITH t0 AS (" + wordsCte + "), "
       + "tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS i FROM t0), "
       + "led AS (SELECT doc_id, w, LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w1 FROM tok), "
       + "g AS (SELECT DISTINCT doc_id, w || ' ' || w1 AS gram FROM led WHERE w1 IS NOT NULL), "
       + "dfr AS (SELECT gram, COUNT(*)::BIGINT AS df FROM g GROUP BY gram) "
       + "SELECT doc_id, COUNT(*)::BIGINT AS n_grams, "
       + "(SUM(1000000 // df) // COUNT(*))::BIGINT AS novelty_ppm "
       + "FROM g JOIN dfr USING (gram) GROUP BY doc_id ORDER BY doc_id"),
    "q272_tcloseness" ->
      ("WITH e AS (SELECT event_type, hour(ts)::BIGINT AS hod, user_id % 10 AS cohort FROM events), "
       + "cc AS (SELECT event_type, hod, cohort, COUNT(*)::BIGINT AS cgv FROM e GROUP BY 1, 2, 3), "
       + "cells AS (SELECT event_type, hod, SUM(cgv)::BIGINT AS ng FROM cc GROUP BY 1, 2), "
       + "coh AS (SELECT cohort, COUNT(*)::BIGINT AS cv FROM e GROUP BY 1), "
       + "tot AS (SELECT COUNT(*)::BIGINT AS n_total FROM e), "
       + "x AS (SELECT cells.event_type, cells.hod, cells.ng, coh.cohort, coh.cv, "
       + "COALESCE(cc.cgv, 0)::BIGINT AS cgv FROM cells CROSS JOIN coh "
       + "LEFT JOIN cc ON cc.event_type = cells.event_type AND cc.hod = cells.hod AND cc.cohort = coh.cohort), "
       + "g AS (SELECT event_type, hod, MAX(ng)::BIGINT AS n, "
       + "(SUM(ABS(cgv::HUGEINT * n_total - cv::HUGEINT * ng)) * 500000 "
       + "// (MAX(ng)::HUGEINT * MAX(n_total)))::BIGINT AS t_ppm "
       + "FROM x CROSS JOIN tot GROUP BY 1, 2) "
       + "SELECT event_type, hod, n, t_ppm, (t_ppm > 150000)::INT::BIGINT AS risky "
       + "FROM g ORDER BY event_type, hod"),
    "q275_golden_record" ->
      ("WITH RECURSIVE u AS (SELECT MIN(p_partkey) AS p_partkey, p_name FROM part GROUP BY p_name), "
       + "k AS (SELECT p_partkey AS id, p_name AS nm, "
       + "string_split(p_name, ' ')[1] AS bk, length(p_name) // 8 AS lb FROM u), "
       + "s AS (SELECT *, COUNT(*) OVER (PARTITION BY bk, lb) AS bc FROM k), "
       + "pairs AS (SELECT x.id AS a, y.id AS b "
       + "FROM s x JOIN s y ON x.bk = y.bk AND x.lb = y.lb AND x.id < y.id "
       + "WHERE x.bc <= 10000 AND ROUND(jaro_winkler_similarity(x.nm, y.nm), 4) >= 0.88), "
       + "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs), "
       + "reach(id, comp) AS (SELECT src, src FROM edges "
       + "UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id), "
       + "lbl AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id), "
       + "m AS (SELECT COALESCE(l.comp, u.p_partkey) AS comp, u.p_partkey AS id, "
       + "p.p_brand, p.p_size::BIGINT AS p_size, ROUND(p.p_retailprice * 100)::BIGINT AS cents "
       + "FROM u JOIN part p ON p.p_partkey = u.p_partkey LEFT JOIN lbl l ON l.id = u.p_partkey), "
       + "bv AS (SELECT comp, p_brand AS brand FROM ("
       + "SELECT comp, p_brand, ROW_NUMBER() OVER (PARTITION BY comp "
       + "ORDER BY COUNT(*) DESC, p_brand) AS rn FROM m GROUP BY comp, p_brand) WHERE rn = 1) "
       + "SELECT m.comp AS comp, COUNT(*)::BIGINT AS n_members, MIN(id)::BIGINT AS canonical, "
       + "MAX(bv.brand) AS brand, MIN(p_size)::BIGINT AS min_size, MAX(cents)::BIGINT AS max_retail_cents "
       + "FROM m JOIN bv ON bv.comp = m.comp GROUP BY m.comp ORDER BY m.comp"),
    "q276_json_profile" ->
      ("WITH n AS (SELECT COUNT(*)::BIGINT AS total FROM orders), "
       + "t3 AS (SELECT COUNT(*)::BIGINT AS c FROM orders WHERE o_orderkey % 3 = 0), "
       + "t7 AS (SELECT COUNT(*)::BIGINT AS c FROM orders WHERE o_orderkey % 7 = 0), "
       + "p AS (SELECT 'key' AS key, total AS n_present, total AS n_int, 0::BIGINT AS n_bool, 0::BIGINT AS n_str FROM n "
       + "UNION ALL SELECT 'priority', total, 0, 0, total FROM n "
       + "UNION ALL SELECT 'urgent', total, 0, total, 0 FROM n "
       + "UNION ALL SELECT 'total', c, c, 0, 0 FROM t3 "
       + "UNION ALL SELECT 'note', c, 0, 0, c FROM t7) "
       + "SELECT key, n_present, n_int, n_bool, n_str, "
       + "(n_present * 1000000 // total)::BIGINT AS presence_ppm "
       + "FROM p CROSS JOIN n ORDER BY key"),
    "q277_binary_ingest" ->
      ("SELECT doc_id AS media_id, (12 + doc_id % 9)::BIGINT AS width, "
       + "(8 + doc_id % 7)::BIGINT AS height FROM documents ORDER BY media_id"),
    "q278_scene_cuts" ->
      ("SELECT doc_id AS media_id, 6::BIGINT AS n_frames, 1::BIGINT AS n_cuts, "
       + "(1 + doc_id % 4)::BIGINT AS first_cut FROM documents ORDER BY media_id"),
    "q279_webdataset" ->
      ("SELECT (doc_id // 50)::BIGINT AS shard, (2 * COUNT(*))::BIGINT AS n_members, "
       + "COUNT(*)::BIGINT AS n_pairs, COUNT(*)::BIGINT AS n_png_ok, "
       + "SUM(4 + length(doc_id::VARCHAR))::BIGINT AS txt_chars "
       + "FROM documents GROUP BY 1 ORDER BY shard"),
    "q280_gzip_jsonl" ->
      ("SELECT event_type, COUNT(*)::BIGINT AS n, "
       + "COUNT(DISTINCT user_id)::BIGINT AS users, "
       + "SUM(ROUND(value * 100)::BIGINT)::BIGINT AS total_cents "
       + "FROM events GROUP BY 1 ORDER BY event_type"),
    "q281_url_dedup" ->
      ("WITH raw AS (SELECT doc_id, "
       + "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://Ex-' ELSE 'http://ex-' END) || source || '.COM' || "
       + "(CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END) || '/p/' || (doc_id % 500) || "
       + "(CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) || "
       + "(CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1' ELSE '?a=1&b=2&gclid=xyz' END) || "
       + "(CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url FROM documents), "
       + "c AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM raw), "
       + "p AS (SELECT doc_id, lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme, "
       + "lower(regexp_extract(nofrag, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport, "
       + "regexp_extract(nofrag, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0, "
       + "regexp_extract(nofrag, '\\?([^#]*)', 1) AS qry FROM c), "
       + "c2 AS (SELECT doc_id, scheme, "
       + "CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '') "
       + "WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '') ELSE hostport END AS host, "
       + "CASE WHEN path0 = '' THEN '/' ELSE regexp_replace(path0, '(.+)/$', '\\1') END AS pth, "
       + "array_to_string(list_sort(list_filter(string_split(qry, '&'), "
       + "x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS q2 FROM p), "
       + "cn AS (SELECT doc_id, scheme || '://' || host || pth || "
       + "(CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS canon FROM c2) "
       + "SELECT canon, COUNT(*)::BIGINT AS n_docs, MIN(doc_id)::BIGINT AS keep_doc "
       + "FROM cn GROUP BY 1 ORDER BY canon"),
    "q282_html_extract" ->
      ("WITH pg AS (SELECT doc_id, '<html><head><title>d' || doc_id::VARCHAR || "
       + "'</title><style type=\"text/css\">p { margin:0; }</style>' || "
       + "'<script>if (1<2) { var x = \"<p>&amp;\"; }</script></head>' || "
       + "'<body><!-- generated page --><h1>Doc ' || doc_id::VARCHAR || '</h1>' || "
       + "(CASE WHEN doc_id % 3 = 0 THEN '<div class=\"nav\">Home &gt; Docs&nbsp;&amp;&nbsp;More</div>' ELSE '' END) || "
       + "'<p>' || text || '</p>' || "
       + "'<ul><li>alpha</li><li>beta&amp;lt;3</li></ul>' || "
       + "'<table><tr><td>k</td><td>v</td></tr></table></body></html>' AS page FROM documents), "
       + "s1 AS (SELECT doc_id, regexp_replace(page, '(?is)<script\\b[^>]*>.*?</script>', '', 'g') AS x FROM pg), "
       + "s2 AS (SELECT doc_id, regexp_replace(x, '(?is)<style\\b[^>]*>.*?</style>', '', 'g') AS x FROM s1), "
       + "s3 AS (SELECT doc_id, regexp_replace(x, '(?s)<!--.*?-->', '', 'g') AS x FROM s2), "
       + "s4 AS (SELECT doc_id, regexp_replace(x, '(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol)[^>]*>', chr(10), 'g') AS x FROM s3), "
       + "s5 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s4), "
       + "s6 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(x, "
       + "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&amp;', '&') AS x FROM s5), "
       + "s7 AS (SELECT doc_id, regexp_replace(x, '[ \\t]+', ' ', 'g') AS x FROM s6), "
       + "s8 AS (SELECT doc_id, regexp_replace(x, '\\s*\\n\\s*', chr(10), 'g') AS x FROM s7), "
       + "s9 AS (SELECT doc_id, regexp_replace(x, '^\\s+|\\s+$', '', 'g') AS txt FROM s8) "
       + "SELECT doc_id, txt, length(txt)::BIGINT AS n_chars, "
       + "len(string_split(txt, chr(10)))::BIGINT AS n_lines FROM s9 ORDER BY doc_id"),
    "q283_rendezvous" ->
      ("WITH a AS (SELECT doc_id, "
       + "(SELECT arg_max(t.sh, CAST(('0x' || substring(md5(doc_id::VARCHAR || ':' || t.sh::VARCHAR), 1, 15)) AS BIGINT)) "
       + "FROM range(0, 16) t(sh)) AS s16, "
       + "(SELECT arg_max(t.sh, CAST(('0x' || substring(md5(doc_id::VARCHAR || ':' || t.sh::VARCHAR), 1, 15)) AS BIGINT)) "
       + "FROM range(0, 17) t(sh)) AS s17 FROM documents) "
       + "SELECT COUNT(*)::BIGINT AS n_docs, "
       + "SUM(CASE WHEN s16 <> s17 THEN 1 ELSE 0 END)::BIGINT AS n_moved, "
       + "SUM(CASE WHEN s16 <> s17 AND s17 <> 16 THEN 1 ELSE 0 END)::BIGINT AS bad_moves, "
       + "(SUM(CASE WHEN s16 <> s17 THEN 1000000 ELSE 0 END)::BIGINT // COUNT(*))::BIGINT AS moved_ppm FROM a"),
    "q284_shard_manifest" ->
      ("WITH a AS (SELECT doc_id, text, "
       + "CAST(('0x' || substring(md5('m1|' || doc_id::VARCHAR), 1, 15)) AS BIGINT) % 8 AS shard, "
       + "CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT) AS h FROM documents) "
       + "SELECT shard, COUNT(*)::BIGINT AS n_rows, MIN(doc_id)::BIGINT AS min_id, "
       + "MAX(doc_id)::BIGINT AS max_id, bit_xor(h)::BIGINT AS checksum "
       + "FROM a GROUP BY shard ORDER BY shard"),
    "q285_script_mix" ->
      ("WITH s AS (SELECT doc_id, text || "
       + "(CASE WHEN doc_id % 4 = 1 THEN repeat('привет мир ', CAST(FLOOR(length(text) / 8) AS INT)) "
       + "WHEN doc_id % 4 = 2 THEN repeat('αβγδ εζηθ ', CAST(FLOOR(length(text) / 40) AS INT)) "
       + "WHEN doc_id % 4 = 3 THEN repeat('数据处理引擎 ', CAST(FLOOR(length(text) / 12) AS INT)) "
       + "ELSE '' END) AS txt FROM documents), "
       + "c AS (SELECT doc_id, "
       + "length(regexp_replace(txt, '[^A-Za-z]', '', 'g'))::BIGINT AS n_latin, "
       + "length(regexp_replace(txt, '[^\\x{0400}-\\x{04FF}]', '', 'g'))::BIGINT AS n_cyr, "
       + "length(regexp_replace(txt, '[^\\x{0370}-\\x{03FF}]', '', 'g'))::BIGINT AS n_greek, "
       + "length(regexp_replace(txt, '[^\\x{4E00}-\\x{9FFF}]', '', 'g'))::BIGINT AS n_cjk FROM s) "
       + "SELECT doc_id, n_latin, n_cyr, n_greek, n_cjk, "
       + "CASE WHEN n_latin >= n_cyr AND n_latin >= n_greek AND n_latin >= n_cjk THEN 'latin' "
       + "WHEN n_cyr >= n_greek AND n_cyr >= n_cjk THEN 'cyrillic' "
       + "WHEN n_greek >= n_cjk THEN 'greek' ELSE 'cjk' END AS script "
       + "FROM c ORDER BY doc_id"),
    "q286_kappa" ->
      ("WITH lab AS (SELECT "
       + "(CASE WHEN length(text) >= 600 THEN 1 ELSE 0 END) AS a, "
       + "(CASE WHEN ROUND(list_sum(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> length(w)))::DOUBLE "
       + "/ len(list_filter(string_split(text, ' '), x -> x <> '')), 4) >= 5.0 THEN 1 ELSE 0 END) AS b "
       + "FROM documents), "
       + "agg AS (SELECT COUNT(*)::BIGINT AS n, SUM(a)::BIGINT AS n_a, SUM(b)::BIGINT AS n_b, "
       + "SUM(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT AS n_agree FROM lab) "
       + "SELECT n, n_a, n_b, n_agree, "
       + "ROUND((n_agree / n - (n_a / n * (n_b / n) + (1 - n_a / n) * (1 - n_b / n))) "
       + "/ (1 - (n_a / n * (n_b / n) + (1 - n_a / n) * (1 - n_b / n))), 4) AS kappa FROM agg"),
    "q287_benford" ->
      ("WITH dg AS (SELECT CAST(substring(CAST(ROUND(l_extendedprice * 100)::BIGINT AS VARCHAR), 1, 1) AS BIGINT) AS digit "
       + "FROM lineitem), "
       + "c AS (SELECT digit, COUNT(*)::BIGINT AS n FROM dg GROUP BY digit) "
       + "SELECT digit, n, (n * 1000000 // SUM(n) OVER ())::BIGINT AS obs_ppm, "
       + "CAST(FLOOR(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT) AS exp_ppm "
       + "FROM c ORDER BY digit"),
    "q288_link_graph" ->
      ("WITH pg AS (SELECT doc_id, "
       + "'<p>see <a class=\"x\" href=\"http://' || 'h' || ((doc_id * 7 + 1) % 20)::VARCHAR || '.com/a\">one</a> and ' || "
       + "'<a href=\"https://' || 'h' || ((doc_id * 13 + 5) % 20)::VARCHAR || '.org/b?q=1\">two</a>' || "
       + "(CASE WHEN doc_id % 4 = 0 THEN ' plus <a href=\"http://' || 'h' || ((doc_id + 3) % 20)::VARCHAR || '.net/c\">three</a>' ELSE '' END) || "
       + "'</p>' AS page FROM documents), "
       + "lk AS (SELECT 's' || (doc_id % 10)::VARCHAR AS src_host, "
       + "unnest(regexp_extract_all(page, '(?is)<a\\s[^>]*href=\"([^\"]+)\"', 1)) AS url FROM pg) "
       + "SELECT src_host, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS dst_host, "
       + "COUNT(*)::BIGINT AS n_links FROM lk GROUP BY 1, 2 ORDER BY src_host, dst_host"),
    "q289_table_extract" ->
      ("WITH pg AS (SELECT doc_id, "
       + "'<table class=\"data\"><tr><th>key</th><th> val </th></tr>' || "
       + "'<tr><td>a' || (doc_id % 7)::VARCHAR || '</td><td><b>' || ((doc_id * 3) % 11)::VARCHAR || '</b></td></tr>' || "
       + "(CASE WHEN doc_id % 2 = 0 THEN '<tr><td>b&amp;c</td><td>' || (doc_id % 5)::VARCHAR || '</td></tr>' ELSE '' END) || "
       + "'</table>' AS pg FROM documents), "
       + "r AS (SELECT doc_id, unnest(list_transform("
       + "regexp_extract_all(pg, '(?is)<tr[^>]*>(.*?)</tr>', 1), (v, i) -> struct_pack(v := v, i := i))) AS rw FROM pg), "
       + "c AS (SELECT doc_id, rw.i AS row_idx, unnest(list_transform("
       + "regexp_extract_all(rw.v, '(?is)<t[dh][^>]*>(.*?)</t[dh]>', 1), (v, i) -> struct_pack(v := v, i := i))) AS cl FROM r), "
       + "x AS (SELECT doc_id, row_idx, cl.i AS col_idx, "
       + "regexp_replace(regexp_replace(replace(replace(replace(replace(replace(replace("
       + "regexp_replace(cl.v, '<[^>]*>', '', 'g'), "
       + "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&amp;', '&'), "
       + "'[ \\t]+', ' ', 'g'), '^\\s+|\\s+$', '', 'g') AS cell FROM c) "
       + "SELECT doc_id, row_idx::BIGINT AS row_idx, col_idx::BIGINT AS col_idx, cell "
       + "FROM x ORDER BY doc_id, row_idx, col_idx"),
    "q290_ks_test" ->
      ("WITH per AS (SELECT value AS v, "
       + "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS c1, "
       + "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c2 "
       + "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value), "
       + "cum AS (SELECT SUM(c1) OVER (ORDER BY v)::BIGINT AS f1, "
       + "SUM(c2) OVER (ORDER BY v)::BIGINT AS f2 FROM per), "
       + "tot AS (SELECT SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2 FROM per) "
       + "SELECT n1, n2, CAST(MAX(abs(CAST(f1 AS HUGEINT) * n2 - CAST(f2 AS HUGEINT) * n1)) "
       + "* 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_ppm "
       + "FROM cum, tot GROUP BY n1, n2"),
    "q291_source_gini" ->
      ("WITH c AS (SELECT source, COUNT(*)::BIGINT AS c FROM documents GROUP BY source), "
       + "r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c, source)::BIGINT AS i FROM c), "
       + "a AS (SELECT COUNT(*)::BIGINT AS n_sources, SUM(c)::BIGINT AS total_docs, "
       + "SUM(CAST(i AS HUGEINT) * c) AS s FROM r) "
       + "SELECT n_sources, total_docs, "
       + "CAST((2 * s - (n_sources + 1) * CAST(total_docs AS HUGEINT)) * 1000000 "
       + "// (n_sources * CAST(total_docs AS HUGEINT)) AS BIGINT) AS gini_ppm FROM a"),
    "q292_nfc_dedup" ->
      ("WITH v AS (SELECT source, CASE WHEN doc_id % 3 = 0 THEN 'cafe' "
       + "WHEN doc_id % 3 = 1 THEN 'café' ELSE 'café' END AS w FROM documents) "
       + "SELECT source, COUNT(*)::BIGINT AS n_docs, "
       + "COUNT(DISTINCT w)::BIGINT AS raw_forms, "
       + "COUNT(DISTINCT nfc_normalize(w))::BIGINT AS nfc_forms, "
       + "COUNT(DISTINCT strip_accents(nfc_normalize(w)))::BIGINT AS folded_forms "
       + "FROM v GROUP BY source ORDER BY source"),
    "q293_manifest_incremental" ->
      ("WITH a AS (SELECT doc_id, text, "
       + "CAST(('0x' || substring(md5('m2|' || doc_id::VARCHAR), 1, 15)) AS BIGINT) % 16 AS shard, "
       + "CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT) AS h FROM documents) "
       + "SELECT shard, COUNT(*)::BIGINT AS n_rows, MIN(doc_id)::BIGINT AS min_id, "
       + "MAX(doc_id)::BIGINT AS max_id, bit_xor(h)::BIGINT AS checksum "
       + "FROM a GROUP BY shard ORDER BY shard"),
    "q294_collation_dedup" ->
      ("WITH v AS (SELECT source, CASE WHEN doc_id % 5 = 0 THEN 'Cafe' "
       + "WHEN doc_id % 5 = 1 THEN 'café' "
       + "WHEN doc_id % 5 = 2 THEN 'café' "
       + "WHEN doc_id % 5 = 3 THEN 'CAFE' ELSE 'CAFÉ' END AS w FROM documents) "
       + "SELECT source, COUNT(*)::BIGINT AS n_docs, "
       + "COUNT(DISTINCT w)::BIGINT AS raw_forms, "
       + "COUNT(DISTINCT lower(w))::BIGINT AS lcase_forms, "
       + "COUNT(DISTINCT lower(strip_accents(nfc_normalize(w))))::BIGINT AS ci_ai_forms "
       + "FROM v GROUP BY source ORDER BY source"),
    "q295_xml_roundtrip" ->
      ("SELECT lang, COUNT(*)::BIGINT AS n_docs, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM documents GROUP BY lang ORDER BY lang"),
    "q296_hash_classifier" ->
      ("WITH p AS (SELECT doc_id, source, text, unnest(range(1, length(text))) AS i FROM documents), "
       + "g AS (SELECT doc_id, source, "
       + "(CAST(('0x' || substring(md5(substring(text, i, 2)), 1, 15)) AS BIGINT) % 2001) - 1000 AS w FROM p), "
       + "sc AS (SELECT doc_id, SUM(w) AS score FROM g GROUP BY doc_id), "
       + "d AS (SELECT dd.source, COALESCE(sc.score, 0)::BIGINT AS score "
       + "FROM documents dd LEFT JOIN sc USING (doc_id)) "
       + "SELECT source, COUNT(*)::BIGINT AS n_docs, "
       + "SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END)::BIGINT AS n_pos, "
       + "SUM(score)::BIGINT AS sum_score FROM d GROUP BY source ORDER BY source"),
    "q315_index_hybrid" ->
      ("WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents), " +
       "tok2 AS (SELECT * FROM toks WHERE w <> ''), " +
       "dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id), " +
       "stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM dl), " +
       "tf AS (SELECT id, w, COUNT(*) AS tf FROM tok2 WHERE w IN ('vector', 'join', 'data') GROUP BY id, w), " +
       "dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), " +
       "bm AS (SELECT tf.id, ROUND(SUM(ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1) * " +
       "(tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score " +
       "FROM tf JOIN dfr USING (w) JOIN dl USING (id) CROSS JOIN stats s GROUP BY tf.id), " +
       "bmr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank FROM " +
       "(SELECT * FROM bm ORDER BY score DESC, id LIMIT 20) t), " +
       "dens AS (SELECT tf.id, ROUND(SUM(tf.tf)::DOUBLE / MIN(dl.dl), 4) AS score " +
       "FROM tf JOIN dl USING (id) GROUP BY tf.id), " +
       "der AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank FROM " +
       "(SELECT * FROM dens ORDER BY score DESC, id LIMIT 20) t), " +
       "allr AS (SELECT id, rank FROM bmr UNION ALL SELECT id, rank FROM der) " +
       "SELECT id AS doc_id, ROUND(SUM(1.0 / (60 + rank)), 4) AS rrf, COUNT(*) AS n_lists " +
       "FROM allr GROUP BY id ORDER BY rrf DESC, doc_id LIMIT 10"),
    "q314_tx_schema_evolution" ->
      ("WITH v5 AS (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0 "
       + "UNION ALL SELECT doc_id + 2000000000 FROM documents WHERE doc_id % 11 = 0), "
       + "v6 AS (SELECT length(text) % 100 AS quality FROM documents WHERE doc_id % 13 = 0) "
       + "SELECT FALSE AS has_quality, (SELECT COUNT(*) FROM v5)::BIGINT AS n_rows, 0::BIGINT AS sum_quality "
       + "UNION ALL SELECT TRUE, (SELECT COUNT(*) FROM v6)::BIGINT, "
       + "(SELECT COALESCE(SUM(quality), 0) FROM v6)::BIGINT ORDER BY has_quality"),
    "q312_txlog" ->
      ("WITH v2 AS (SELECT 2::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "v3 AS (SELECT 3::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents WHERE doc_id % 7 <> 0), "
       + "v4 AS (SELECT 4::BIGINT AS version, n_rows, checksum FROM v3), "
       + "m AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'v2 ' || text ELSE text END AS text "
       + "FROM documents WHERE doc_id % 7 <> 0 "
       + "UNION ALL SELECT doc_id + 2000000000, text FROM documents WHERE doc_id % 11 = 0), "
       + "v5 AS (SELECT 5::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM m) "
       + "SELECT * FROM v2 UNION ALL SELECT * FROM v3 UNION ALL SELECT * FROM v4 "
       + "UNION ALL SELECT * FROM v5 ORDER BY version"),
    "q316_txlog_sql" ->
      ("WITH v2 AS (SELECT 2::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "v3 AS (SELECT 3::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents WHERE doc_id % 7 <> 0), "
       + "v4 AS (SELECT 4::BIGINT AS version, n_rows, checksum FROM v3), "
       + "m AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'v2 ' || text ELSE text END AS text "
       + "FROM documents WHERE doc_id % 7 <> 0 "
       + "UNION ALL SELECT doc_id + 2000000000, text FROM documents WHERE doc_id % 11 = 0), "
       + "v5 AS (SELECT 5::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM m) "
       + "SELECT * FROM v2 UNION ALL SELECT * FROM v3 UNION ALL SELECT * FROM v4 "
       + "UNION ALL SELECT * FROM v5 ORDER BY version"),
    // the feed's closed form: v3 = predicate-delete rows; v5 = merge
    // old rows (delete) + new/updated rows (insert); v6 = appended
    // rows; v4 (OPTIMIZE) contributes nothing
    "q319_txlog_cdf" ->
      ("WITH f AS ("
       + "SELECT 3::BIGINT AS version, 'delete' AS change_type, doc_id, text FROM documents WHERE doc_id % 7 = 0 "
       + "UNION ALL SELECT 5, 'insert', doc_id, 'v2 ' || text FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0 "
       + "UNION ALL SELECT 5, 'insert', doc_id + 2000000000, text FROM documents WHERE doc_id % 11 = 0 "
       + "UNION ALL SELECT 5, 'delete', doc_id, text FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0 "
       + "UNION ALL SELECT 6, 'insert', doc_id + 3000000000, text FROM documents WHERE doc_id % 13 = 0) "
       + "SELECT version, change_type, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM f GROUP BY version, change_type ORDER BY version, change_type"),
    "q320_txlog_cdf_updates" ->
      ("WITH f AS ("
       + "SELECT 3::BIGINT AS version, 'delete' AS change_type, doc_id, text FROM documents WHERE doc_id % 7 = 0 "
       + "UNION ALL SELECT 5, 'update_postimage', doc_id, 'v2 ' || text FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0 "
       + "UNION ALL SELECT 5, 'insert', doc_id + 2000000000, text FROM documents WHERE doc_id % 11 = 0 "
       + "UNION ALL SELECT 5, 'update_preimage', doc_id, text FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0 "
       + "UNION ALL SELECT 6, 'insert', doc_id + 3000000000, text FROM documents WHERE doc_id % 13 = 0) "
       + "SELECT version, change_type, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM f GROUP BY version, change_type ORDER BY version, change_type"),
    "q323_txlog_skipping" ->
      ("WITH r AS (SELECT 'range' AS probe, doc_id, text FROM documents WHERE doc_id >= 10 AND doc_id <= 99 "
       + "UNION ALL SELECT 'in_list', doc_id, text FROM documents WHERE doc_id IN (5, 500, 5000) "
       + "UNION ALL SELECT 'mixed', doc_id, text FROM documents WHERE (doc_id < 8 OR doc_id > 4000) AND lang <> ''), "
       + "p AS (SELECT 'range' AS probe UNION ALL SELECT 'in_list' UNION ALL SELECT 'mixed') "
       + "SELECT p.probe, COUNT(r.doc_id)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(r.doc_id::VARCHAR || '|' || r.text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM p LEFT JOIN r USING (probe) GROUP BY p.probe ORDER BY p.probe"),
    // every version's visible rows recomputed from the base table:
    // v2/v3 = the two stacked merge-on-read deletes, v4 = purge (must
    // equal v3 exactly)
    "q342_txlog_dv" ->
      ("WITH v1 AS (SELECT 1::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "v2 AS (SELECT 2::BIGINT, COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT FROM documents WHERE doc_id % 7 <> 0), "
       + "v3 AS (SELECT 3::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents WHERE doc_id % 7 <> 0 AND lang <> 'de'), "
       + "v4 AS (SELECT 4::BIGINT, n_rows, checksum FROM v3) "
       + "SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3 "
       + "UNION ALL SELECT * FROM v4 ORDER BY version"),
    // v3 = rewriting delete, v4 = + merge-on-read delete, v5 = the
    // RESTORE back to v2 (the full table again)
    "q343_txlog_restore" ->
      ("WITH v3 AS (SELECT 3::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents WHERE doc_id % 3 <> 0), "
       + "v4 AS (SELECT 4::BIGINT, COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT FROM documents WHERE doc_id % 3 <> 0 AND lang <> 'fr'), "
       + "v5 AS (SELECT 5::BIGINT, COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT FROM documents) "
       + "SELECT * FROM v3 UNION ALL SELECT * FROM v4 UNION ALL SELECT * FROM v5 "
       + "ORDER BY version"),
    // src = the source after its merge-on-read delete; clone = the
    // same minus the copy-on-write delete it ran under its own log
    "q344_txlog_clone" ->
      ("WITH s AS (SELECT 'src' AS side, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents WHERE doc_id % 11 <> 0), "
       + "c AS (SELECT 'clone' AS side, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents WHERE doc_id % 11 <> 0 AND lang <> 'en') "
       + "SELECT * FROM c UNION ALL SELECT * FROM s ORDER BY side"),
    // the SQL-maintained table replayed: v2 = rewriting delete, v3 =
    // + merge-on-read delete, final = restored v1 (the full corpus)
    "q356_txlog_call" ->
      ("WITH a AS (SELECT 'a_deleted' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents WHERE doc_id % 3 <> 0), "
       + "b AS (SELECT 'b_dv' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents WHERE doc_id % 3 <> 0 AND lang <> 'es'), "
       + "c AS (SELECT 'c_final' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c "
       + "ORDER BY stage"),
    // the SQL-DML fixture's delete versions recomputed from the base
    // table (v1 full, v2 minus doc_id%3, v3 minus lang='de')
    "q357_sql_delete" ->
      ("WITH c1 AS (SELECT 1::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "c2 AS (SELECT 2::BIGINT, COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM documents WHERE doc_id % 3 <> 0), "
       + "c3 AS (SELECT 3::BIGINT, COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM documents WHERE doc_id % 3 <> 0 AND lang <> 'de') "
       + "SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3 "
       + "ORDER BY version"),
    // the update versions: v4 prefixes u: on doc_id%5 rows, v5 moves
    // zh rows to lang yy with a #z suffix — all over the v3 survivors
    "q358_sql_update" ->
      ("WITH t3 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 <> 0 AND lang <> 'de'), "
       + "t4 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'u:' || text ELSE text END AS text, lang FROM t3), "
       + "t5 AS (SELECT doc_id, CASE WHEN lang = 'zh' THEN text || '#z' ELSE text END AS text, "
       + "CASE WHEN lang = 'zh' THEN 'yy' ELSE lang END AS lang FROM t4), "
       + "c4 AS (SELECT 4::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM t4), "
       + "c5 AS (SELECT 5::BIGINT, COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM t5) "
       + "SELECT * FROM c4 UNION ALL SELECT * FROM c5 ORDER BY version"),
    // the merge commit: matched %7 rows delete (even) or take the
    // source text m:<base> (odd); unmatched source rows — including
    // %7 keys the deletes removed — insert; +10M keys always insert
    "q359_sql_merge" ->
      ("WITH t3 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 <> 0 AND lang <> 'de'), "
       + "t4 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'u:' || text ELSE text END AS text, lang FROM t3), "
       + "t5 AS (SELECT doc_id, CASE WHEN lang = 'zh' THEN text || '#z' ELSE text END AS text, "
       + "CASE WHEN lang = 'zh' THEN 'yy' ELSE lang END AS lang FROM t4), "
       + "kept AS (SELECT t5.doc_id, CASE WHEN t5.doc_id % 7 = 0 THEN 'm:' || b.text ELSE t5.text END AS text, t5.lang "
       + "FROM t5 JOIN documents b USING (doc_id) WHERE NOT (t5.doc_id % 7 = 0 AND t5.doc_id % 2 = 0)), "
       + "ins1 AS (SELECT doc_id, 'm:' || text AS text, lang FROM documents WHERE doc_id % 7 = 0 AND (doc_id % 3 = 0 OR lang = 'de')), "
       + "ins2 AS (SELECT doc_id + 10000000 AS doc_id, 'n:' || text AS text, lang FROM documents WHERE doc_id % 11 = 0), "
       + "fin AS (SELECT * FROM kept UNION ALL SELECT * FROM ins1 UNION ALL SELECT * FROM ins2) "
       + "SELECT 6::BIGINT AS version, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM fin"),
    // planted near-dup groups: every 3 consecutive ids pair with each
    // other (original / trimmed / re-encoded), nothing else pairs
    "q363_video_neardup" ->
      ("SELECT a.doc_id AS id_a, b.doc_id AS id_b "
       + "FROM documents a JOIN documents b "
       + "ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id "
       + "ORDER BY id_a, id_b"),
    // z-sweep skip==filter replays from the base table; pruning
    // claims are pinned booleans (x claims pruning only, y/box claim
    // beating the unclustered control too)
    "q362_txlog_zorder_sweep" ->
      ("WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS n_chars FROM documents), "
       + "r AS (SELECT 'x_range' AS probe, doc_id, text FROM d WHERE doc_id >= 10 AND doc_id <= 25 "
       + "UNION ALL SELECT 'y_range', doc_id, text FROM d WHERE n_chars >= 100 AND n_chars <= 140 "
       + "UNION ALL SELECT 'box', doc_id, text FROM d WHERE doc_id > 5 AND n_chars >= 100 AND n_chars <= 140), "
       + "p AS (SELECT 'x_range' AS probe, CAST(NULL AS BOOLEAN) AS z_beats_linear "
       + "UNION ALL SELECT 'y_range', TRUE UNION ALL SELECT 'box', TRUE) "
       + "SELECT p.probe, COUNT(r.doc_id)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(r.doc_id::VARCHAR || '|' || r.text), 1, 15)) AS BIGINT))::BIGINT AS checksum, "
       + "TRUE AS z_pruned, p.z_beats_linear "
       + "FROM p LEFT JOIN r USING (probe) GROUP BY p.probe, p.z_beats_linear ORDER BY p.probe"),
    // the column-mapped table recomputed: v1 = base under old names,
    // v3 = base + derived appends, final = the same rows under
    // (doc_id, body) with language dropped
    // the q28 pair relation re-derived, closed by a recursive CTE,
    // reps picked by the same (n_words desc, doc_id) rule
    "q370_cluster_rep" ->
      ("WITH RECURSIVE words AS (" + wordsCte + "), "
       + "sh AS (SELECT DISTINCT doc_id AS id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle "
       + "FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g), "
       + "df AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY 1), "
       + "cut AS (SELECT sh.id, sh.shingle FROM sh JOIN df USING (shingle) WHERE df.c <= 5), "
       + "sz AS (SELECT id, COUNT(*) AS sz FROM cut GROUP BY id), "
       + "inter AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS i FROM cut x JOIN cut y USING (shingle) WHERE x.id < y.id GROUP BY 1, 2), "
       + "pairs AS (SELECT a, b FROM inter JOIN sz sa ON a = sa.id JOIN sz sb ON b = sb.id "
       + "WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5), "
       + "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs), "
       + "reach(id, comp) AS (SELECT src, src FROM edges "
       + "UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id), "
       + "cmp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id), "
       + "asg AS (SELECT w.doc_id, COALESCE(c.comp, w.doc_id) AS cluster, len(w.ws) AS n_words "
       + "FROM words w LEFT JOIN cmp c ON c.id = w.doc_id) "
       + "SELECT doc_id, cluster, "
       + "(ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_words DESC, doc_id) = 1) AS is_rep "
       + "FROM asg ORDER BY doc_id"),
    // the ADD COLUMN lifecycle replayed: v1 = base (3 cols), v2 = the
    // same rows with score uniformly NULL (folded as -1), final = +
    // derived rows carrying score = doc_id0 % 100
    "q379_sql_add_column" ->
      ("WITH der AS (SELECT doc_id + 10000000 AS doc_id, 'r:' || text AS text, lang, "
       + "(doc_id % 100)::BIGINT AS sc FROM documents WHERE doc_id % 9 = 0), "
       + "fin AS (SELECT doc_id, text, lang, -1::BIGINT AS sc FROM documents "
       + "UNION ALL SELECT doc_id, text, lang, sc FROM der), "
       + "a AS (SELECT 'a_v1' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "b AS (SELECT 'b_added', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang || '|' || '-1'), 1, 15)) AS BIGINT))::BIGINT FROM documents), "
       + "c AS (SELECT 'c_final', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang || '|' || sc::VARCHAR), 1, 15)) AS BIGINT))::BIGINT FROM fin) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c "
       + "ORDER BY stage"),
    // SQL reads of the DV'd-at-head table replayed from the base
    // relation: v1 full, v2 minus doc_id%7, head minus lang='de' too,
    // d_even = the head survivors with an even doc_id
    "q377_sql_dv_scan" ->
      ("WITH a AS (SELECT 'a_v1' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "b AS (SELECT 'b_v2', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT FROM documents WHERE doc_id % 7 <> 0), "
       + "c AS (SELECT 'c_head', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT FROM documents WHERE doc_id % 7 <> 0 AND lang <> 'de'), "
       + "e AS (SELECT 'd_even', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT FROM documents WHERE doc_id % 7 <> 0 AND lang <> 'de' AND doc_id % 2 = 0) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c "
       + "UNION ALL SELECT * FROM e ORDER BY stage"),
    // the column-mapping fixture read back through SQL: v1 = base
    // (pre-mapping), v3 = + derived rows (lang renamed to language —
    // same VALUES, logical-name projection only), head = doc_id|body
    // after the drop + second rename
    "q378_sql_mapped_scan" ->
      ("WITH der AS (SELECT doc_id + 10000000 AS doc_id, 'r:' || text AS text, lang FROM documents WHERE doc_id % 9 = 0), "
       + "b3 AS (SELECT doc_id, text, lang FROM documents UNION ALL SELECT doc_id, text, lang FROM der), "
       + "a AS (SELECT 'a_v1' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "b AS (SELECT 'b_v3', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM b3), "
       + "c AS (SELECT 'c_head', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT FROM b3) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c "
       + "ORDER BY stage"),
    // v1 = documents (CTAS); v2 = + conforming derived rows (the
    // 'banned'-lang insert was constraint-rejected, so it contributes
    // NOTHING to v2); v3 = + the formerly-rejected rows post-DROP
    "q371_sql_constraint" ->
      ("WITH der AS (SELECT doc_id + 10000000 AS doc_id, 'r:' || text AS text, lang FROM documents WHERE doc_id % 9 = 0), "
       + "bad AS (SELECT doc_id + 20000000 AS doc_id, text, 'banned' AS lang FROM documents WHERE doc_id % 11 = 0), "
       + "v2 AS (SELECT doc_id, text, lang FROM documents UNION ALL SELECT doc_id, text, lang FROM der), "
       + "v3 AS (SELECT * FROM v2 UNION ALL SELECT doc_id, text, lang FROM bad), "
       + "a AS (SELECT 'a_create' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "b AS (SELECT 'b_guarded', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM v2), "
       + "c AS (SELECT 'c_dropped', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM v3) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c ORDER BY stage"),
    // v1 = documents (CTAS), v2 = + SQL-inserted derived rows,
    // v3 = minus the zh partition of rows (SQL DELETE)
    "q369_sql_lifecycle" ->
      ("WITH der AS (SELECT doc_id + 10000000 AS doc_id, 'r:' || text AS text, lang FROM documents WHERE doc_id % 9 = 0), "
       + "v2 AS (SELECT doc_id, text, lang FROM documents UNION ALL SELECT doc_id, text, lang FROM der), "
       + "v3 AS (SELECT * FROM v2 WHERE lang <> 'zh'), "
       + "a AS (SELECT 'a_ctas' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "b AS (SELECT 'b_insert', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM v2), "
       + "c AS (SELECT 'c_delete', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM v3) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c ORDER BY stage"),
    // v1 = documents, v2 = + the SQL-inserted derived rows
    "q368_sql_insert" ->
      ("WITH der AS (SELECT doc_id + 10000000 AS doc_id, 'r:' || text AS text, lang FROM documents WHERE doc_id % 9 = 0), "
       + "v2 AS (SELECT doc_id, text, lang FROM documents UNION ALL SELECT doc_id, text, lang FROM der), "
       + "a AS (SELECT 'a_v1' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "b AS (SELECT 'b_v2', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM v2) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b ORDER BY stage"),
    // chunk→doc lineage recomputed from the IVF index postings must
    // equal the chunker's replay over the raw documents: every chunk
    // of every non-empty doc made it into the artifact, none twice
    "q373_rag_ingest" ->
      ("WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ts FROM documents) "
       + "SELECT doc_id, ((len(ts) + 47) // 48)::BIGINT AS n_chunks, "
       + "((len(ts) + 47) // 48 - 1)::BIGINT AS max_chunk_idx "
       + "FROM tok WHERE len(ts) > 0 ORDER BY doc_id"),
    // the chunker replayed: same whitespace split, same stride, same
    // 1-based inclusive slice, chunk text string-exact
    "q366_chunk_overlap" ->
      ("WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ts FROM documents), "
       + "ch AS (SELECT doc_id, ts, u.start FROM tok, UNNEST(range(0, len(ts), 48)) AS u(start) WHERE len(ts) > 0) "
       + "SELECT doc_id, (start // 48)::BIGINT AS chunk_idx, start::BIGINT AS start_tok, "
       + "least(64, len(ts) - start)::BIGINT AS n_tok, "
       + "array_to_string(ts[start+1 : least(start+64, len(ts))], ' ') AS chunk_text "
       + "FROM ch ORDER BY doc_id, chunk_idx"),
    // each timestamp's version content recomputed from the base
    // relation: v1 = documents, between-commits still v1, v2 adds the
    // derived rows, head applies the doc_id%7 delete
    "q365_txlog_timestamp" ->
      ("WITH der AS (SELECT doc_id + 10000000 AS doc_id, 'r:' || text AS text, lang FROM documents WHERE doc_id % 9 = 0), "
       + "v2 AS (SELECT doc_id, text, lang FROM documents UNION ALL SELECT doc_id, text, lang FROM der), "
       + "v3 AS (SELECT * FROM v2 WHERE doc_id % 7 <> 0), "
       + "a AS (SELECT 'a_v1' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum FROM documents), "
       + "b AS (SELECT 'b_between', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM documents), "
       + "c AS (SELECT 'c_v2', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM v2), "
       + "dd AS (SELECT 'd_head', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT FROM v3) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c UNION ALL SELECT * FROM dd "
       + "ORDER BY stage"),
    // every version's content recomputed from the base relation; the
    // engine-invariant pruning/metadata-only booleans are constants
    "q364_txlog_partitioned" ->
      ("WITH der AS (SELECT doc_id + 10000000 AS doc_id, 'r:' || text AS text, lang FROM documents WHERE doc_id % 9 = 0), "
       + "v2 AS (SELECT doc_id, text, lang FROM documents UNION ALL SELECT doc_id, text, lang FROM der), "
       + "v3 AS (SELECT * FROM v2 WHERE lang <> 'de'), "
       + "fin AS (SELECT * FROM v3 WHERE lang <> 'fr' UNION ALL "
       + "SELECT doc_id + 20000000, 'f:' || text, lang FROM documents WHERE lang = 'fr'), "
       + "a AS (SELECT 'a_v1' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum, "
       + "CAST(NULL AS BOOLEAN) AS pruned, CAST(NULL AS BOOLEAN) AS meta_only FROM documents), "
       + "b AS (SELECT 'b_v2', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT, "
       + "CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN) FROM v2), "
       + "c AS (SELECT 'c_v3', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT, "
       + "CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN) FROM v3), "
       + "dd AS (SELECT 'd_final', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT, "
       + "TRUE, TRUE FROM fin) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c UNION ALL SELECT * FROM dd "
       + "ORDER BY stage"),
    "q360_txlog_colmap" ->
      ("WITH der AS (SELECT doc_id + 10000000 AS doc_id, 'r:' || text AS text, lang FROM documents WHERE doc_id % 9 = 0), "
       + "b3 AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM der), "
       + "a AS (SELECT 'a_v1' AS stage, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT AS checksum, "
       + "3::BIGINT AS n_cols, CAST(NULL AS BOOLEAN) AS pruned FROM documents), "
       + "b AS (SELECT 'b_v3', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text || '|' || lang), 1, 15)) AS BIGINT))::BIGINT, "
       + "3::BIGINT, CAST(NULL AS BOOLEAN) FROM (SELECT doc_id, text, lang FROM documents UNION ALL SELECT doc_id, text, lang FROM der)), "
       + "c AS (SELECT 'c_final', COUNT(*)::BIGINT, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT, "
       + "2::BIGINT, TRUE FROM b3) "
       + "SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c "
       + "ORDER BY stage"),
    // from-scratch MAX over the fixture's closed-form final rows
    "q355_ivm_minmax" ->
      ("WITH af AS (SELECT lang, CASE WHEN doc_id % 5 = 0 THEN 'v2 ' || text ELSE text END AS text "
       + "FROM documents WHERE doc_id % 7 <> 0 "
       + "UNION ALL SELECT lang, text FROM documents WHERE doc_id % 11 = 0 "
       + "UNION ALL SELECT lang, text FROM documents WHERE doc_id % 13 = 0) "
       + "SELECT lang, MAX(length(text))::BIGINT AS max_len FROM af "
       + "GROUP BY lang ORDER BY lang"),
    // the whole DP release replayed: same per-user rank cut, same
    // md5-uniform, same inverse-CDF Laplace, same threshold
    "q354_dp_histogram" ->
      ("WITH e AS (SELECT user_id, event_id, floor(value * 10)::BIGINT AS vb FROM events), "
       + "b AS (SELECT user_id, vb, ROW_NUMBER() OVER (PARTITION BY user_id "
       + "ORDER BY md5(user_id::VARCHAR || '|' || event_id::VARCHAR)) AS rk FROM e), "
       + "c AS (SELECT vb AS bucket, COUNT(*)::BIGINT AS n FROM b WHERE rk <= 20 GROUP BY 1), "
       + "z AS (SELECT bucket, n, (CAST(('0x' || substring(md5('dp12' || '|' || bucket::VARCHAR), 1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0 AS u FROM c), "
       + "ny AS (SELECT bucket, n + (-20.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) AS noisy FROM z) "
       + "SELECT bucket, ROUND(noisy, 4) AS noisy_count FROM ny "
       + "WHERE noisy >= 15.0 ORDER BY bucket"),
    // contamination spans replayed from literal substrings: a train
    // gram is contaminated iff the same 32-char string occurs in the
    // eval split; islands merge exactly as in q331's replay
    "q353_contamination_spans" ->
      ("WITH g AS (SELECT doc_id, i, substring(text, i, 32) AS gram "
       + "FROM documents, LATERAL unnest(generate_series(1, greatest(length(text) - 31, 0))) AS t(i)), "
       + "ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0), "
       + "m AS (SELECT g.doc_id, g.i FROM g JOIN ev USING (gram) WHERE g.doc_id % 10 <> 0), "
       + "f AS (SELECT doc_id, i, MAX(i + 32) OVER (PARTITION BY doc_id ORDER BY i "
       + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m), "
       + "r AS (SELECT doc_id, i, SUM(CASE WHEN prev_end IS NULL OR i > prev_end THEN 1 ELSE 0 END) "
       + "OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS isl FROM f) "
       + "SELECT doc_id, MIN(i)::BIGINT AS span_start, "
       + "(MAX(i) + 32 - MIN(i))::BIGINT AS span_len "
       + "FROM r GROUP BY doc_id, isl ORDER BY doc_id, span_start"),
    // three-key skip==filter replays: rows from the base table under
    // the same predicates; the lang code = ascii pair, 'zh' literal
    "q352_txlog_zorder3" ->
      ("WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS n_chars, "
       + "(ascii(substring(lang, 1, 1)) * 256 + ascii(substring(lang, 2, 1)))::BIGINT AS lang_b FROM documents), "
       + "r AS (SELECT 'x_range' AS probe, doc_id, text FROM d WHERE doc_id >= 10 AND doc_id <= 25 "
       + "UNION ALL SELECT 'y_range', doc_id, text FROM d WHERE n_chars >= 100 AND n_chars <= 140 "
       + "UNION ALL SELECT 'z_eq', doc_id, text FROM d WHERE lang_b = 31336 "
       + "UNION ALL SELECT 'box', doc_id, text FROM d WHERE doc_id > 5 AND n_chars >= 100 AND n_chars <= 140 AND lang_b = 31336), "
       + "p AS (SELECT 'x_range' AS probe, CAST(NULL AS BOOLEAN) AS z_beats_linear "
       + "UNION ALL SELECT 'y_range', TRUE UNION ALL SELECT 'z_eq', TRUE UNION ALL SELECT 'box', TRUE) "
       + "SELECT p.probe, COUNT(r.doc_id)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(r.doc_id::VARCHAR || '|' || r.text), 1, 15)) AS BIGINT))::BIGINT AS checksum, "
       + "TRUE AS z_pruned, p.z_beats_linear "
       + "FROM p LEFT JOIN r USING (probe) GROUP BY p.probe, p.z_beats_linear ORDER BY p.probe"),
    // the from-scratch join of the FINAL versions: A-final langs from
    // the fixture's closed form, B-final dim as literal VALUES
    "q351_txlog_ivm_join" ->
      ("WITH af AS (SELECT lang FROM documents WHERE doc_id % 7 <> 0 "
       + "UNION ALL SELECT lang FROM documents WHERE doc_id % 11 = 0 "
       + "UNION ALL SELECT lang FROM documents WHERE doc_id % 13 = 0), "
       + "dim AS (SELECT * FROM (VALUES ('de','eu'), ('es','ib'), ('zh','as'), ('en','amer'), ('xx','zz')) AS t(lang, region)) "
       + "SELECT region, COUNT(*)::BIGINT AS n_docs FROM af JOIN dim USING (lang) "
       + "GROUP BY region ORDER BY region"),
    // incremental OPTIMIZE changes no row: full corpus + the pinned
    // file-level booleans
    "q350_txlog_optimize_small" ->
      ("SELECT COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum, "
       + "TRUE AS big_survived, TRUE AS swept_to_two FROM documents"),
    // the surviving constrained table = the closed-form valid subset
    "q348_txlog_constraints" ->
      ("SELECT COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum, "
       + "2::BIGINT AS n_constraints FROM documents WHERE doc_id % 13 <> 0"),
    // the KN count relation recomputed from scratch — bigrams via the
    // shared whitespace tokenization, three grouped counts, all BIGINT
    "q346_kn_model" ->
      ("WITH words AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents), "
       + "bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM words, "
       + "LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i) WHERE doc_id % 10 <> 0), "
       + "c2t AS (SELECT w1, w2, COUNT(*)::BIGINT AS c2 FROM bg GROUP BY 1, 2), "
       + "w1t AS (SELECT w1, SUM(c2)::BIGINT AS c1, COUNT(*)::BIGINT AS n1p_fwd FROM c2t GROUP BY 1), "
       + "w2t AS (SELECT w2, COUNT(*)::BIGINT AS n1p_bwd FROM c2t GROUP BY 1), "
       + "alln AS (SELECT COUNT(*)::BIGINT AS n1p_all FROM c2t) "
       + "SELECT w1, w2, c2, c1, n1p_fwd, n1p_bwd, n1p_all "
       + "FROM c2t JOIN w1t USING (w1) JOIN w2t USING (w2) CROSS JOIN alln "
       + "ORDER BY c2 DESC, w1, w2 LIMIT 1000"),
    // the held-out scoring replayed: identical operand structure per
    // component ((c2-0.75)/c1 + 0.75*n1p_fwd/c1*n1p_bwd/n1p_all, then
    // floor(1e6*ln(...))), identical fixed decomposition for unseen
    // pairs, identical OOV penalty expression
    "q347_kn_score" ->
      ("WITH words AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents), "
       + "bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM words, "
       + "LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)), "
       + "c2t AS (SELECT w1, w2, COUNT(*)::BIGINT AS c2 FROM bg WHERE doc_id % 10 <> 0 GROUP BY 1, 2), "
       + "w1t AS (SELECT w1, SUM(c2)::BIGINT AS c1, COUNT(*)::BIGINT AS n1p_fwd FROM c2t GROUP BY 1), "
       + "w2t AS (SELECT w2, COUNT(*)::BIGINT AS n1p_bwd FROM c2t GROUP BY 1), "
       + "alln AS (SELECT COUNT(*)::BIGINT AS n1p_all FROM c2t), "
       + "seen AS (SELECT w1, w2, floor(1e6 * ln((c2 - 0.75) / c1 + 0.75 * n1p_fwd / c1 * n1p_bwd / n1p_all))::BIGINT AS lp_seen "
       + "FROM c2t JOIN w1t USING (w1) JOIN w2t USING (w2) CROSS JOIN alln), "
       + "bw AS (SELECT w1, floor(1e6 * ln(0.75 * n1p_fwd / c1))::BIGINT AS bw_micro FROM w1t), "
       + "cont AS (SELECT w2, floor(1e6 * ln(n1p_bwd * 1.0 / n1p_all))::BIGINT AS cont_micro FROM w2t CROSS JOIN alln), "
       + "ho AS (SELECT doc_id, w1, w2, COUNT(*)::BIGINT AS tf FROM bg WHERE doc_id % 10 = 0 GROUP BY 1, 2, 3), "
       + "sc AS (SELECT ho.doc_id, ho.tf, COALESCE(seen.lp_seen, bw.bw_micro + cont.cont_micro, floor(1e6 * ln(1e-9))::BIGINT) AS lp "
       + "FROM ho LEFT JOIN seen ON seen.w1 = ho.w1 AND seen.w2 = ho.w2 "
       + "LEFT JOIN bw ON bw.w1 = ho.w1 LEFT JOIN cont ON cont.w2 = ho.w2) "
       + "SELECT doc_id, SUM(tf)::BIGINT AS n_bigrams, SUM(tf * lp)::BIGINT AS score_micro "
       + "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    // keep-first removal replayed from literal substrings: canonical
    // occurrence = min(doc_id<<20 + pos), removed chars = union of
    // windows at non-canonical duplicated starts, cleaned text
    // re-assembled char-by-char
    "q336_suffix_removal" ->
      ("WITH d AS (SELECT doc_id, text FROM documents), "
       + "g AS (SELECT doc_id, i, substring(text, i, 32) AS gram FROM d, "
       + "LATERAL unnest(generate_series(1, greatest(length(text) - 31, 0))) AS t(i)), "
       + "cnt AS (SELECT gram, COUNT(*) AS n, MIN(doc_id * 1048576 + i) AS keeper FROM g GROUP BY gram), "
       + "rs AS (SELECT g.doc_id, g.i FROM g JOIN cnt USING (gram) "
       + "WHERE cnt.n >= 2 AND (g.doc_id * 1048576 + g.i) <> cnt.keeper), "
       + "ch AS (SELECT d.doc_id, c AS p, substring(d.text, c, 1) AS s FROM d, "
       + "LATERAL unnest(generate_series(1, length(d.text))) AS t(c)), "
       + "cov AS (SELECT DISTINCT r.doc_id, c AS p FROM rs r, "
       + "LATERAL unnest(generate_series(r.i, r.i + 31)) AS t(c)), "
       + "k AS (SELECT ch.doc_id, string_agg(ch.s, '' ORDER BY ch.p) AS clean_text "
       + "FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id AND cov.p = ch.p "
       + "WHERE cov.p IS NULL GROUP BY ch.doc_id) "
       + "SELECT d.doc_id, COALESCE(k.clean_text, '') AS clean_text, "
       + "(length(d.text) - length(COALESCE(k.clean_text, '')))::BIGINT AS n_removed "
       + "FROM d LEFT JOIN k USING (doc_id) ORDER BY d.doc_id"),
    // the exact-substring merge replayed in SQL from the q338 pin:
    // match = any shared fingerprint; keep-first both stages
    "q340_winnow_merge" ->
      // each ingest stage applies the MOSS stop-fp rule over ITS OWN
      // index side (>64 distinct docs), exactly as the engine does:
      // evens-internal over all evens, corpus over the SURVIVING
      // evens, odds-internal over all odds
      ("WITH f AS (SELECT doc_id, fp FROM read_parquet('/root/repo/golden/sf0.01/q338_winnow_fp/*.parquet')), "
       + "evens AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0), "
       + "odds AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1), "
       + "fe AS (SELECT f.doc_id, f.fp FROM f JOIN evens USING (doc_id)), "
       + "fo AS (SELECT f.doc_id, f.fp FROM f JOIN odds USING (doc_id)), "
       + "hot1 AS (SELECT fp FROM fe GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 64), "
       + "drop1 AS (SELECT DISTINCT b.doc_id FROM fe a JOIN fe b "
       + "ON a.fp = b.fp AND a.doc_id < b.doc_id WHERE a.fp NOT IN (SELECT fp FROM hot1)), "
       + "surv1 AS (SELECT doc_id FROM evens WHERE doc_id NOT IN (SELECT doc_id FROM drop1)), "
       + "fs AS (SELECT f.doc_id, f.fp FROM f JOIN surv1 USING (doc_id)), "
       + "hot2 AS (SELECT fp FROM fs GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 64), "
       + "drop3c AS (SELECT DISTINCT b.doc_id FROM fs a JOIN fo b "
       + "ON a.fp = b.fp WHERE a.fp NOT IN (SELECT fp FROM hot2)), "
       + "hot3 AS (SELECT fp FROM fo GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 64), "
       + "drop3i AS (SELECT DISTINCT b.doc_id FROM fo a JOIN fo b "
       + "ON a.fp = b.fp AND a.doc_id < b.doc_id WHERE a.fp NOT IN (SELECT fp FROM hot3)), "
       + "surv3 AS (SELECT doc_id FROM odds WHERE doc_id NOT IN (SELECT doc_id FROM drop3c) "
       + "AND doc_id NOT IN (SELECT doc_id FROM drop3i)) "
       + "SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv3 ORDER BY doc_id"),
    // component closure over the pinned winnow edges (q52's recursive
    // CTE; min-id labels match the engine's pointer doubling exactly)
    "q341_winnow_groups" ->
      ("WITH RECURSIVE f AS (SELECT doc_id, fp FROM read_parquet('/root/repo/golden/sf0.01/q338_winnow_fp/*.parquet')), "
       + "hot AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 64), "
       + "pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM f a JOIN f b "
       + "ON a.fp = b.fp AND a.doc_id < b.doc_id WHERE a.fp NOT IN (SELECT fp FROM hot)), "
       + "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs), "
       + "reach(id, comp) AS (SELECT src, src FROM edges "
       + "UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id) "
       + "SELECT id, MIN(comp)::BIGINT AS comp FROM reach GROUP BY id ORDER BY id"),
    // xxhash64-defined fingerprint selection: golden pin (q29's rule)
    "q338_winnow_fp" ->
      golden("q338_winnow_fp", "doc_id, pos, fp", "doc_id, pos"),
    // q341's replay on the 1/16-subsampled corpus: per-doc winnowing
    // means the pin FILTERS cleanly; the hot rule recomputes on the
    // filtered table exactly as the engine's matchesSigs does
    "q384_winnow_groups_twin" ->
      ("WITH RECURSIVE f AS (SELECT doc_id, fp FROM read_parquet('/root/repo/golden/sf0.01/q338_winnow_fp/*.parquet') WHERE doc_id % 32 <= 1), "
       + "hot AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 64), "
       + "pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM f a JOIN f b "
       + "ON a.fp = b.fp AND a.doc_id < b.doc_id WHERE a.fp NOT IN (SELECT fp FROM hot)), "
       + "edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs), "
       + "reach(id, comp) AS (SELECT src, src FROM edges "
       + "UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id) "
       + "SELECT id, MIN(comp)::BIGINT AS comp FROM reach GROUP BY id ORDER BY id"),
    // q334's full merge replay on the 1/16-subsampled corpus: the
    // signature pin filters per-doc; band/agreement/keep-first rules
    // are unchanged, the pair join is ~256× smaller
    "q385_neardup_merge_twin" ->
      ("WITH s AS (SELECT id, i, h FROM read_parquet('/root/repo/golden/sf0.01/q333_neardup_sigs/*.parquet') WHERE id % 32 <= 1), "
       + "ag AS (SELECT a.id AS a, b.id AS b, ((a.i - 1) // 4) AS band, COUNT(*) AS c "
       + "FROM s a JOIN s b ON a.i = b.i AND a.h = b.h AND a.id < b.id GROUP BY 1, 2, 3), "
       + "cand AS (SELECT a, b FROM ag GROUP BY a, b HAVING MAX(c) = 4), "
       + "matched AS (SELECT cand.a, cand.b FROM cand "
       + "JOIN (SELECT a, b, SUM(c) AS k FROM ag GROUP BY a, b) t USING (a, b) WHERE t.k >= 32), "
       + "evens AS (SELECT doc_id FROM documents WHERE doc_id % 32 <= 1 AND doc_id % 2 = 0), "
       + "odds AS (SELECT doc_id FROM documents WHERE doc_id % 32 <= 1 AND doc_id % 2 = 1), "
       + "drop1 AS (SELECT DISTINCT m.b AS doc_id FROM matched m "
       + "JOIN evens ea ON ea.doc_id = m.a JOIN evens eb ON eb.doc_id = m.b), "
       + "surv1 AS (SELECT doc_id FROM evens WHERE doc_id NOT IN (SELECT doc_id FROM drop1)), "
       + "drop3c AS (SELECT DISTINCT o.doc_id FROM odds o JOIN matched m "
       + "ON (m.a = o.doc_id AND m.b IN (SELECT doc_id FROM surv1)) "
       + "OR (m.b = o.doc_id AND m.a IN (SELECT doc_id FROM surv1))), "
       + "drop3i AS (SELECT DISTINCT m.b AS doc_id FROM matched m "
       + "JOIN odds oa ON oa.doc_id = m.a JOIN odds ob ON ob.doc_id = m.b), "
       + "surv3 AS (SELECT doc_id FROM odds WHERE doc_id NOT IN (SELECT doc_id FROM drop3c) "
       + "AND doc_id NOT IN (SELECT doc_id FROM drop3i)) "
       + "SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv3 ORDER BY doc_id"),
    // the delta detection replayed in SQL from the pinned store:
    // evens are the index, odds the batch; counts and diagonals are
    // integer-exact
    "q339_winnow_matches" ->
      ("WITH f AS (SELECT doc_id, pos, fp FROM read_parquet('/root/repo/golden/sf0.01/q338_winnow_fp/*.parquet')), "
       // MOSS stop-fingerprints: drop fps in > 64 distinct INDEX docs
       + "hot AS (SELECT fp FROM f WHERE doc_id % 2 = 0 GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 64) "
       + "SELECT ia.doc_id AS a, ib.doc_id AS b, COUNT(*)::BIGINT AS n_shared, "
       + "COUNT(DISTINCT ia.pos - ib.pos)::BIGINT AS diag_runs "
       + "FROM f ia JOIN f ib ON ia.fp = ib.fp "
       + "WHERE ia.doc_id % 2 = 0 AND ib.doc_id % 2 = 1 "
       + "AND ia.fp NOT IN (SELECT fp FROM hot) "
       + "GROUP BY ia.doc_id, ib.doc_id ORDER BY a, b"),
    // xxhash64-defined signature artifact: golden pin (q29's rule)
    "q333_neardup_sigs" ->
      golden("q333_neardup_sigs", "id, i, h", "id, i"),
    // full SQL replay of the near-dup MERGE from the stored
    // signatures: candidates = pairs sharing ALL 4 positions of some
    // band; matches = candidates agreeing on >= 32 of 64 positions
    // (est jaccard >= 0.5, integer-exact); then keep-first — even
    // batch drops greedy internal pairs, odd batch drops corpus
    // matches against the SURVIVING evens plus its own internal pairs
    "q334_neardup_merge" ->
      ("WITH s AS (SELECT id, i, h FROM read_parquet('/root/repo/golden/sf0.01/q333_neardup_sigs/*.parquet')), "
       + "ag AS (SELECT a.id AS a, b.id AS b, ((a.i - 1) // 4) AS band, COUNT(*) AS c "
       + "FROM s a JOIN s b ON a.i = b.i AND a.h = b.h AND a.id < b.id GROUP BY 1, 2, 3), "
       + "cand AS (SELECT a, b FROM ag GROUP BY a, b HAVING MAX(c) = 4), "
       + "matched AS (SELECT cand.a, cand.b FROM cand "
       + "JOIN (SELECT a, b, SUM(c) AS k FROM ag GROUP BY a, b) t USING (a, b) WHERE t.k >= 32), "
       + "evens AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0), "
       + "odds AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1), "
       + "drop1 AS (SELECT DISTINCT m.b AS doc_id FROM matched m "
       + "JOIN evens ea ON ea.doc_id = m.a JOIN evens eb ON eb.doc_id = m.b), "
       + "surv1 AS (SELECT doc_id FROM evens WHERE doc_id NOT IN (SELECT doc_id FROM drop1)), "
       + "drop3c AS (SELECT DISTINCT o.doc_id FROM odds o JOIN matched m "
       + "ON (m.a = o.doc_id AND m.b IN (SELECT doc_id FROM surv1)) "
       + "OR (m.b = o.doc_id AND m.a IN (SELECT doc_id FROM surv1))), "
       + "drop3i AS (SELECT DISTINCT m.b AS doc_id FROM matched m "
       + "JOIN odds oa ON oa.doc_id = m.a JOIN odds ob ON ob.doc_id = m.b), "
       + "surv3 AS (SELECT doc_id FROM odds WHERE doc_id NOT IN (SELECT doc_id FROM drop3c) "
       + "AND doc_id NOT IN (SELECT doc_id FROM drop3i)) "
       + "SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv3 ORDER BY doc_id"),
    // z-order compaction: rows + checksum replay skip==filter; the
    // pruning claims are engine invariants emitted as booleans
    // (pruned at all; fewer files than the v1 one-axis layout where
    // that layout provably cannot prune)
    "q332_txlog_zorder" ->
      ("WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS n_chars FROM documents), "
       + "r AS (SELECT 'x_range' AS probe, doc_id, text FROM d WHERE doc_id >= 10 AND doc_id <= 25 "
       + "UNION ALL SELECT 'y_range', doc_id, text FROM d WHERE n_chars >= 100 AND n_chars <= 140 "
       + "UNION ALL SELECT 'box', doc_id, text FROM d WHERE doc_id > 5 AND n_chars >= 100 AND n_chars <= 140), "
       + "p AS (SELECT 'x_range' AS probe, NULL::BOOLEAN AS z_beats_linear "
       + "UNION ALL SELECT 'y_range', TRUE UNION ALL SELECT 'box', TRUE) "
       + "SELECT p.probe, COUNT(r.doc_id)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(r.doc_id::VARCHAR || '|' || r.text), 1, 15)) AS BIGINT))::BIGINT AS checksum, "
       + "TRUE AS z_pruned, ANY_VALUE(p.z_beats_linear) AS z_beats_linear "
       + "FROM p LEFT JOIN r USING (probe) GROUP BY p.probe ORDER BY p.probe"),
    // replays the seeded packing bit-for-bit: same md5 shard/order,
    // same running offsets, same chunk spans
    "q324_seq_packing" ->
      ("WITH ws AS (" + wordsCte + "), "
       + "d AS (SELECT doc_id, len(ws)::BIGINT AS n_tok FROM ws WHERE len(ws) > 0), "
       + "k AS (SELECT doc_id, n_tok, md5('pack11|' || doc_id::VARCHAR) AS skey FROM d), "
       + "sh AS (SELECT *, CAST(('0x' || substring(skey, 1, 15)) AS BIGINT) % 8 AS shard FROM k), "
       + "o AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY skey ROWS UNBOUNDED PRECEDING) - n_tok AS start_off FROM sh), "
       + "c AS (SELECT *, start_off // 2048 AS chunk_first, (start_off + n_tok - 1) // 2048 AS chunk_last FROM o) "
       + "SELECT shard, COUNT(*)::BIGINT AS n_docs, SUM(n_tok)::BIGINT AS total_tokens, "
       + "(MAX(chunk_last) + 1)::BIGINT AS n_chunks, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || start_off::VARCHAR || '|' || chunk_first::VARCHAR), 1, 15)) AS BIGINT))::BIGINT AS pack_ck, "
       + "SUM(CASE WHEN chunk_first <> chunk_last THEN 1 ELSE 0 END)::BIGINT AS n_straddlers "
       + "FROM c GROUP BY shard ORDER BY shard"),
    // same DP replay as q327, reduced to integer micro-scores
    "q330_perplexity_filter" ->
      ("WITH words AS (" + wordsCte + "), "
       + unigramDpChain(16) + ", "
       + "segm AS (SELECT w, nt, FLOOR(sc * 1000000)::BIGINT AS micro FROM seg), "
       // unsegmentable word = 1 whole-word token at the engine's OOV
       // penalty (min piece score - 10, floored to micro units)
       + "pen AS (SELECT FLOOR((MIN(log_prob) - 10.0) * 1000000)::BIGINT AS pmicro FROM p), "
       + "wsx AS (SELECT doc_id, unnest(ws) AS w FROM words), "
       + "dt AS (SELECT x.doc_id, SUM(COALESCE(segm.nt, 1))::BIGINT AS n_tokens, "
       + "SUM(COALESCE(segm.micro, pen.pmicro))::BIGINT AS score_micro "
       + "FROM wsx x LEFT JOIN segm ON segm.w = x.w CROSS JOIN pen "
       + "GROUP BY x.doc_id HAVING SUM(COALESCE(segm.nt, 1)) > 0), "
       + "m AS (SELECT dt.doc_id, doc.lang, dt.n_tokens, dt.score_micro, "
       + "ROUND(dt.score_micro::DOUBLE / dt.n_tokens / 1000000, 4) AS mean_lp "
       + "FROM dt JOIN documents doc USING (doc_id)) "
       + "SELECT lang, COUNT(*)::BIGINT AS n_docs, "
       + "SUM(CASE WHEN mean_lp >= -3.6 THEN 1 ELSE 0 END)::BIGINT AS n_kept, "
       + "ROUND(SUM(score_micro)::DOUBLE / SUM(n_tokens) / 1000000, 4) AS mean_lp_overall "
       + "FROM m GROUP BY lang ORDER BY lang"),
    // exact duplicated spans from literal 32-char substrings: dup
    // grams -> island merge; string equality on both sides (engine:
    // prefix-doubling classes; oracle: the substrings themselves) so
    // the spans are integer-exact cross-engine
    "q331_suffix_spans" ->
      ("WITH g AS (SELECT doc_id, i, substring(text, i, 32) AS gram "
       + "FROM documents, LATERAL unnest(generate_series(1, greatest(length(text) - 31, 0))) AS t(i)), "
       + "dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1), "
       + "m AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (gram)), "
       + "f AS (SELECT doc_id, i, MAX(i + 32) OVER (PARTITION BY doc_id ORDER BY i "
       + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m), "
       + "r AS (SELECT doc_id, i, SUM(CASE WHEN prev_end IS NULL OR i > prev_end THEN 1 ELSE 0 END) "
       + "OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS isl FROM f) "
       + "SELECT doc_id, MIN(i)::BIGINT AS span_start, "
       + "(MAX(i) + 32 - MIN(i))::BIGINT AS span_len "
       + "FROM r GROUP BY doc_id, isl ORDER BY doc_id, span_start"),
    // the fixture's closed-form commit shape
    "q329_txlog_history" ->
      ("SELECT * FROM (VALUES (1::BIGINT, TRUE, FALSE, TRUE), "
       + "(2::BIGINT, TRUE, FALSE, TRUE), (3::BIGINT, TRUE, TRUE, TRUE), "
       + "(4::BIGINT, TRUE, TRUE, FALSE), (5::BIGINT, TRUE, TRUE, TRUE), "
       + "(6::BIGINT, TRUE, FALSE, TRUE)) "
       + "AS t(version, has_adds, has_removes, data_change) ORDER BY version"),
    // golden-pinned trainer artifact (scores are engine floats); the
    // apply path is independently certified by q327's DP replay
    "q326_unigram_vocab" ->
      golden("q326_unigram_vocab", "piece, log_prob",
        "log_prob DESC, piece"),
    "q327_unigram_tokenize" ->
      ("WITH words AS (" + wordsCte + "), "
       + unigramDpChain(16) + ", "
       + "wsx AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM words), "
       // unsegmentable word = the engine's whole-word fallback token
       + "dt AS (SELECT x.doc_id, SUM(COALESCE(seg.nt, 1))::BIGINT AS n_tokens, "
       + "string_agg(COALESCE(seg.toks, x.w), ' ' ORDER BY x.i) AS toks "
       + "FROM wsx x LEFT JOIN seg ON seg.w = x.w GROUP BY x.doc_id), "
       + "fl AS (SELECT doc.doc_id, doc.lang, COALESCE(dt.n_tokens, 0) AS n_tokens, "
       + "COALESCE(dt.toks, '') AS toks FROM documents doc LEFT JOIN dt USING (doc_id)) "
       + "SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS total_tokens, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || toks), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM fl GROUP BY lang ORDER BY lang"),
    "q325_txlog_bloom" ->
      ("WITH r AS (SELECT 'point' AS probe, doc_id, text FROM documents WHERE doc_id = 77 "
       + "UNION ALL SELECT 'in_list', doc_id, text FROM documents WHERE doc_id IN (5, 77, 4001) "
       + "UNION ALL SELECT 'miss', doc_id, text FROM documents WHERE doc_id = -1), "
       + "p AS (SELECT 'point' AS probe UNION ALL SELECT 'in_list' UNION ALL SELECT 'miss') "
       + "SELECT p.probe, COUNT(r.doc_id)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(r.doc_id::VARCHAR || '|' || r.text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM p LEFT JOIN r USING (probe) GROUP BY p.probe ORDER BY p.probe"),
    // the TRUE v6 state recomputed from scratch — the incremental
    // path must land on it exactly
    "q321_txlog_ivm" ->
      ("WITH m AS (SELECT CASE WHEN doc_id % 5 = 0 THEN 'v2 ' || text ELSE text END AS text, lang "
       + "FROM documents WHERE doc_id % 7 <> 0 "
       + "UNION ALL SELECT text, lang FROM documents WHERE doc_id % 11 = 0 "
       + "UNION ALL SELECT text, lang FROM documents WHERE doc_id % 13 = 0) "
       + "SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(length(text))::BIGINT AS sum_len "
       + "FROM m GROUP BY lang ORDER BY lang"),
    "q311_epoch_shuffle" ->
      ("WITH e AS (SELECT 0 AS epoch UNION ALL SELECT 1), "
       + "a AS (SELECT e.epoch, d.doc_id, d.text, "
       + "md5('ep' || e.epoch::VARCHAR || '|' || d.doc_id::VARCHAR) AS skey FROM documents d CROSS JOIN e), "
       + "b AS (SELECT epoch, doc_id, text, skey, "
       + "CAST(('0x' || substring(skey, 1, 15)) AS BIGINT) % 8 AS shard FROM a), "
       + "r AS (SELECT epoch, doc_id, text, shard, "
       + "ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY skey) - 1 AS rank FROM b) "
       + "SELECT epoch::BIGINT AS epoch, COUNT(*)::BIGINT AS n_rows, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS content_ck, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || shard::VARCHAR || '|' || rank::VARCHAR), 1, 15)) AS BIGINT))::BIGINT AS order_ck "
       + "FROM r GROUP BY epoch ORDER BY epoch"),
    "q310_weighted_classifier" ->
      ("WITH p AS (SELECT doc_id, lang, text, unnest(range(1, length(text))) AS i FROM documents), "
       + "g AS (SELECT doc_id, lang, "
       + "(CAST(('0x' || substring(md5('w|' || ((CAST(('0x' || substring(md5(substring(text, i, 2)), 1, 15)) AS BIGINT) % 2048))::VARCHAR), 1, 15)) AS BIGINT) % 1001) - 500 AS w FROM p), "
       + "sc AS (SELECT doc_id, SUM(w) AS score FROM g GROUP BY doc_id), "
       + "dd AS (SELECT d.lang, COALESCE(sc.score, 0)::BIGINT AS score "
       + "FROM documents d LEFT JOIN sc USING (doc_id)) "
       + "SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(score)::BIGINT AS sum_score "
       + "FROM dd GROUP BY lang ORDER BY lang"),
    "q309_index_deletes" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id % 7 <> 0), "
       + "tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS i FROM t), "
       + "led AS (SELECT doc_id, w, LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w1 FROM tok) "
       + "SELECT doc_id, COUNT(*) AS n_hits FROM led WHERE w = 'hash' AND w1 = 'join' "
       + "GROUP BY 1 ORDER BY 1"),
    "q306_index_append" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
       "tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS i FROM t), " +
       "led AS (SELECT doc_id, w, LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w1 FROM tok) " +
       "SELECT doc_id, COUNT(*) AS n_hits FROM led WHERE w = 'hash' AND w1 = 'join' " +
       "GROUP BY 1 ORDER BY 1"),
    "q307_index_proximity" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
       + "tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS i FROM t), "
       + "a AS (SELECT doc_id, i AS pa FROM tok WHERE w = 'hash'), "
       + "b AS (SELECT doc_id, i AS pb FROM tok WHERE w = 'join') "
       + "SELECT a.doc_id, COUNT(*)::BIGINT AS n_prox "
       + "FROM a JOIN b ON a.doc_id = b.doc_id AND abs(pa - pb) <= 5 "
       + "GROUP BY 1 ORDER BY 1"),
    "q305_index_bm25" ->
      ("WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents), " +
       "tok2 AS (SELECT * FROM toks WHERE w <> ''), " +
       "dl AS (SELECT id, COUNT(*) AS dl FROM tok2 GROUP BY id), " +
       "stats AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM dl), " +
       "tf AS (SELECT id, w, COUNT(*) AS tf FROM tok2 WHERE w IN ('vector', 'join', 'data') GROUP BY id, w), " +
       "dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), " +
       "sc AS (SELECT tf.id, ROUND(SUM(ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1) * " +
       "(tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4) AS score " +
       "FROM tf JOIN dfr USING (w) JOIN dl USING (id) CROSS JOIN stats s GROUP BY tf.id) " +
       "SELECT id AS doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20"),
    "q304_index_boolean" ->
      ("SELECT doc_id, COUNT(*)::BIGINT AS hits "
       + "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) "
       + "WHERE w IN ('join', 'filter', 'stream') "
       + "GROUP BY doc_id HAVING COUNT(DISTINCT w) = 3 ORDER BY doc_id"),
    "q303_index_phrase" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
       "tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS i FROM t), " +
       "led AS (SELECT doc_id, w, LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w1 FROM tok) " +
       "SELECT doc_id, COUNT(*) AS n_hits FROM led WHERE w = 'hash' AND w1 = 'join' " +
       "GROUP BY 1 ORDER BY 1"),
    "q302_cdc_neardup" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL "
       + "SELECT doc_id + 1000000000, 'EDIT v2 ' || text FROM documents WHERE doc_id % 97 = 0), "
       + "p AS (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 6, 1))) AS i "
       + "FROM corpus WHERE length(text) > 0), "
       + "c AS (SELECT doc_id, i + 7 AS cut FROM p "
       + "WHERE CAST(('0x' || substring(md5(substring(text, i, 8)), 1, 15)) AS BIGINT) % 64 = 0 "
       + "AND i + 7 < length(text)), "
       + "cl AS (SELECT doc_id, list(cut ORDER BY cut) AS cuts FROM c GROUP BY doc_id), "
       + "d AS (SELECT t.doc_id, t.text, COALESCE(cl.cuts, []) AS cuts "
       + "FROM corpus t LEFT JOIN cl USING (doc_id) WHERE length(t.text) > 0), "
       + "ch0 AS (SELECT doc_id, unnest([substring(text, ([0] || cuts)[k] + 1, "
       + "(cuts || [length(text)])[k] - ([0] || cuts)[k]) "
       + "FOR k IN range(1, len(cuts) + 2)]) AS chunk FROM d), "
       + "ch AS (SELECT DISTINCT doc_id, chunk FROM ch0 WHERE length(chunk) >= 16), "
       + "rare AS (SELECT ch.doc_id, ch.chunk FROM ch JOIN ("
       + "SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY chunk) f "
       + "ON ch.chunk = f.chunk WHERE f.df <= 32), "
       + "perdoc AS (SELECT doc_id, COUNT(*) AS n_chunks FROM rare GROUP BY doc_id), "
       + "pr AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS shared "
       + "FROM rare x JOIN rare y ON x.chunk = y.chunk AND x.doc_id < y.doc_id "
       + "GROUP BY 1, 2), "
       + "pp AS (SELECT pr.a, pr.b, pr.shared, "
       + "(pr.shared * 1000000 // least(pa.n_chunks, pb.n_chunks))::BIGINT AS containment_ppm "
       + "FROM pr JOIN perdoc pa ON pr.a = pa.doc_id JOIN perdoc pb ON pr.b = pb.doc_id "
       + "WHERE least(pa.n_chunks, pb.n_chunks) >= 3) "
       + "SELECT (SELECT COUNT(*) FROM pp)::BIGINT AS n_candidate_pairs, "
       + "(SELECT COALESCE(SUM(CASE WHEN containment_ppm >= 500000 THEN 1 ELSE 0 END), 0) FROM pp)::BIGINT AS n_neardup, "
       + "(SELECT MAX(shared) FROM pp)::BIGINT AS max_shared, "
       + "(SELECT COALESCE(SUM(CASE WHEN containment_ppm >= 500000 AND b = a + 1000000000 THEN 1 ELSE 0 END), 0) FROM pp)::BIGINT AS n_planted_found, "
       + "(SELECT COUNT(*) FROM corpus WHERE doc_id >= 1000000000)::BIGINT AS n_planted"),
    "q300_cdc_chunks" ->
      ("WITH p AS (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 6, 1))) AS i "
       + "FROM documents WHERE length(text) > 0), "
       + "c AS (SELECT doc_id, i + 7 AS cut FROM p "
       + "WHERE CAST(('0x' || substring(md5(substring(text, i, 8)), 1, 15)) AS BIGINT) % 64 = 0 "
       + "AND i + 7 < length(text)), "
       + "cl AS (SELECT doc_id, list(cut ORDER BY cut) AS cuts FROM c GROUP BY doc_id), "
       + "d AS (SELECT t.doc_id, t.text, COALESCE(cl.cuts, []) AS cuts "
       + "FROM documents t LEFT JOIN cl USING (doc_id) WHERE length(t.text) > 0), "
       + "ch AS (SELECT doc_id, unnest([substring(text, ([0] || cuts)[k] + 1, "
       + "(cuts || [length(text)])[k] - ([0] || cuts)[k]) "
       + "FOR k IN range(1, len(cuts) + 2)]) AS chunk FROM d), "
       + "cc AS (SELECT chunk, COUNT(*) AS c FROM ch GROUP BY chunk) "
       + "SELECT (SELECT COUNT(DISTINCT doc_id) FROM ch)::BIGINT AS n_docs, "
       + "(SELECT COUNT(*) FROM ch)::BIGINT AS n_chunks, "
       + "(SELECT COUNT(DISTINCT chunk) FROM ch)::BIGINT AS n_distinct_chunks, "
       + "(SELECT SUM(length(chunk)) FROM ch)::BIGINT AS sum_chunk_chars, "
       + "(SELECT MAX(c) FROM cc)::BIGINT AS max_dup"),
    "q299_robots_filter" ->
      ("WITH hosts AS (SELECT DISTINCT source FROM documents), "
       + "r AS (SELECT source, 'ex-' || source || '.com' AS host, "
       + "'# policy' || chr(10) || 'User-agent: gptbot' || chr(10) || 'Disallow: /' || chr(10) || chr(10) || "
       + "'User-agent: bingbot' || chr(10) || 'User-agent: *' || chr(10) || "
       + "'Disallow: /private' || chr(10) || 'Allow: /private/ok' || chr(10) || "
       + "(CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 2 = 0 "
       + "THEN 'Disallow: /tmp' || chr(10) ELSE '' END) || 'Disallow:' AS body FROM hosts), "
       + "lines0 AS (SELECT host, unnest([{'pos': i, 'raw': ls[i]} FOR i IN range(1, len(ls)+1)]) AS u "
       + "FROM (SELECT host, string_split(body, chr(10)) AS ls FROM r)), "
       + "lns AS (SELECT host, struct_extract(u, 'pos') AS pos, "
       + "trim(regexp_replace(struct_extract(u, 'raw'), '#.*$', '')) AS line FROM lines0), "
       + "kv AS (SELECT host, pos, lower(trim(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))) AS key, "
       + "trim(regexp_extract(line, ':\\s*(.*)$', 1)) AS value FROM lns), "
       + "g AS (SELECT host, pos, key, value, "
       + "CASE WHEN key = 'user-agent' THEN 1 ELSE 0 END AS ua, "
       + "CASE WHEN key = 'user-agent' AND COALESCE(LAG(CASE WHEN key = 'user-agent' THEN 1 ELSE 0 END) "
       + "OVER (PARTITION BY host ORDER BY pos), 0) = 0 THEN 1 ELSE 0 END AS gs FROM kv), "
       + "g2 AS (SELECT *, SUM(gs) OVER (PARTITION BY host ORDER BY pos) AS grp FROM g), "
       + "star AS (SELECT DISTINCT host, grp FROM g2 WHERE ua = 1 AND value = '*'), "
       + "rules AS (SELECT g2.host, (key = 'allow') AS allow, value AS prefix "
       + "FROM g2 JOIN star USING (host, grp) WHERE key IN ('allow', 'disallow') AND value <> ''), "
       + "urls AS (SELECT doc_id, source, 'ex-' || source || '.com' AS host, "
       + "CASE (doc_id // 20) % 6 WHEN 0 THEN '/a/' || doc_id WHEN 1 THEN '/private/' || doc_id "
       + "WHEN 2 THEN '/private/ok/' || doc_id WHEN 3 THEN '/tmp/' || doc_id "
       + "WHEN 4 THEN '/' ELSE '/privateer' END AS path FROM documents), "
       + "m AS (SELECT u.doc_id, u.source, "
       + "MAX(CASE WHEN r.prefix IS NOT NULL AND starts_with(u.path, r.prefix) "
       + "THEN {'l': length(r.prefix), 'a': CASE WHEN r.allow THEN 1 ELSE 0 END} END) AS best "
       + "FROM urls u LEFT JOIN rules r ON u.host = r.host GROUP BY u.doc_id, u.source), "
       + "v AS (SELECT doc_id, source, COALESCE(struct_extract(best, 'a') = 1, TRUE) AS allowed FROM m) "
       + "SELECT source, COUNT(*)::BIGINT AS n_docs, "
       + "SUM(CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT AS n_allowed "
       + "FROM v GROUP BY source ORDER BY source"),
    "q298_warc_ingest" ->
      ("SELECT lang, COUNT(*)::BIGINT AS n_docs, "
       + "COUNT(DISTINCT doc_id // 50)::BIGINT AS n_shards, "
       + "bit_xor(CAST(('0x' || substring(md5(doc_id::VARCHAR || '|' || text), 1, 15)) AS BIGINT))::BIGINT AS checksum "
       + "FROM documents GROUP BY lang ORDER BY lang"),
    "q297_domain_blocklist" ->
      ("WITH h AS (SELECT doc_id, "
       + "(CASE WHEN doc_id % 3 = 0 THEN 's' || (doc_id % 4)::VARCHAR || '.' ELSE '' END) "
       + "|| 'ex-' || source || (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END) AS host FROM documents), "
       + "e AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM h), "
       + "sfx AS (SELECT doc_id, host, "
       + "unnest([{'pos': i, 'suffix': array_to_string(parts[i:], '.')} FOR i IN range(1, len(parts)+1)]) AS u FROM e), "
       + "hits AS (SELECT doc_id, MIN_BY(struct_extract(u, 'suffix'), struct_extract(u, 'pos')) AS matched_rule FROM sfx "
       + "WHERE struct_extract(u, 'suffix') IN ('ex-src4.com', 's0.ex-src0.com', 'ex-src7.org') GROUP BY doc_id), "
       + "v AS (SELECT h.doc_id, h.host, COALESCE(hits.matched_rule, '__kept__') AS verdict "
       + "FROM h LEFT JOIN hits USING (doc_id)) "
       + "SELECT verdict, COUNT(*)::BIGINT AS n_docs, "
       + "COUNT(DISTINCT host)::BIGINT AS n_hosts FROM v GROUP BY verdict ORDER BY verdict")
  )

  /** q69 is q51's semantics behind a different physical plan (Bloom
    * prefilter + exact verify): same rows, same oracle.
    */
  val oracles: Map[String, String] =
    oracles0 + ("q69_decontam_bloom" -> oracles0("q51_decontaminate"))
}
