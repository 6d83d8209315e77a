package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *   - [[bruteForceTopK]]: exact baseline — broadcast the (small) query
  *     set against the corpus, score every (query, corpus) pair, take
  *     top-k per query. Linear in |corpus|, embarrassingly parallel; the
  *     corpus is never shuffled.
  *   - [[lshTopK]]: the scale path — random-hyperplane LSH buckets on
  *     both sides; only bucket-colliding pairs are scored (multi-probe
  *     via several independent tables to keep recall up).
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    *
    * Plan: `broadcast(queries) × corpus` (a BroadcastNestedLoopJoin whose
    * streamed side is the corpus — scales out with corpus partitions),
    * then per-query top-k. The top-k uses a window only over the scored
    * pairs (|queries| × |corpus| rows never materialize beyond the
    * aggregation input; with AQE the shuffle is |queries| keys wide).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // norms once per row (not per pair): the per-pair hot loop is a
    // single codegen'd dot product
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"))
    val c = graft.engine.Par.widen(corpus)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn"))
    val joined = c.crossJoin(broadcast(q))
    val scored0 = if (excludeSelf) joined.filter(col("qid") =!= col("cid")) else joined
    val scored = scored0.withColumn("sim",
      cosineFromNorms(dot(col("qv"), col("cv")), col("qn"), col("cn")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"),
        col("rn").cast("bigint").as("rn"))
  }

  /** IVF (inverted-file) approximate top-k: Lloyd's k-means over the
    * corpus (deterministic init = lowest-id vectors), corpus vectors
    * assigned to their nearest centroid, queries probe the `nProbe`
    * nearest centroid lists only. Classic ANN trade-off: cost ~
    * |corpus| * nProbe / nCentroids per query instead of |corpus|.
    *
    * Everything is DataFrame ops: assignment = broadcast-centroids join
    * + window argmin; centroid update = posexplode + per-dimension mean
    * (map-side combinable). No driver-side math, no randomness.
    */
  /** Argmin centroid as a hash aggregation, NOT a window: min over
    * struct(dist, ctr) is partial-aggregatable (map-side combine of
    * the nCentroids-wide expansion), where a window would sort the
    * whole expansion per id. Ties break on ctr via the struct order —
    * identical result to ORDER BY (dist, ctr) LIMIT 1.
    */
  private[operators] def nearest1(df: DataFrame, centroids: DataFrame,
      id: String, vec: String, carry: Seq[String], out: String): DataFrame = {
    val payload = struct(
      l2Dist(col(vec), col("cvec")).as("d") +: col("ctr").as("ctr") +:
        carry.map(col): _*)
    df.crossJoin(broadcast(centroids))
      .groupBy(col(id))
      .agg(min(payload).as("s"))
      .select(col(id) +: carry.map(f => col(s"s.$f").as(f)) :+
        col("s.ctr").as(out): _*)
  }

  /** Lloyd's k-means over `c` (columns cid, cv), deterministic init =
    * the nCentroids lowest ids. Returns (ctr, cvec). Assignment is a
    * broadcast-centroid join + partial-agg argmin; the centroid update
    * is posexplode + per-dimension mean (map-side combinable). No
    * driver-side math, no randomness.
    */
  private[operators] def kmeans(c: DataFrame, nCentroids: Int,
      iters: Int): DataFrame = {
    val centroids0 = c.orderBy("cid").limit(nCentroids)
      .select(col("cid").as("ctr"), col("cv").as("cvec"))
    graft.engine.Fixpoint.iterate(centroids0, iters, "kmeans") { (centroids, _) =>
      nearest1(c, centroids, "cid", "cv", Seq("cv"), "actr")
        .select(col("actr").as("ctr"), posexplode(col("cv")))
        .groupBy(col("ctr"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("ctr"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("cvec"))
    }.state
  }

  /** A trained, persistable IVF index: `centroids` (ctr, cvec) and
    * `postings` (cid, cv, cn, bucket) — the corpus bucketed by nearest
    * centroid with its norm precomputed. Training (k-means) is the
    * expensive part of IVF; a production ANN service trains ONCE,
    * writes the index, and serves every query batch from it (the same
    * persisted-artifact shape as [[Dedup.minHashIndex]]). Both tables
    * round-trip parquet exactly (float arrays, longs), so a search
    * over a written-and-reread index is bit-identical to an in-memory
    * one.
    */
  final case class IvfIndex(centroids: DataFrame, postings: DataFrame) {
    def write(dir: String): Unit = {
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
      postings.write.mode("overwrite").parquet(s"$dir/postings")
    }
  }

  /** Train an IVF index over the corpus (see [[IvfIndex]]). */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, iters: Int = 2): IvfIndex = {
    val c = graft.engine.Par.widen(corpus)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn")).cache()
    val centroids = kmeans(c, nCentroids, iters)
    IvfIndex(centroids,
      nearest1(c, centroids, "cid", "cv", Seq("cv", "cn"), "bucket"))
  }

  def ivfIndexRead(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/postings"))

  /** Append a delta corpus to a PERSISTED IVF index without
    * retraining: centroids stay FROZEN — retraining would move cell
    * boundaries and silently invalidate every existing posting — and
    * the delta assigns to its nearest frozen centroid in one
    * broadcast pass, its postings rows appending to the store. By
    * construction the result equals bulk assignment of the union
    * under the same centroids (assignment is a pure per-row function
    * of (vector, centroids)), so a production ingest loop can grow
    * the index forever at O(delta) cost; periodic retrains are a
    * separate, full-rebuild decision. Returns the updated index view.
    */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      delta: DataFrame, idCol: String, vecCol: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val d = delta.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      normSq(col(vecCol)).as("cn"))
    nearest1(d, centroids, "cid", "cv", Seq("cv", "cn"), "bucket")
      .write.mode("append").parquet(s"$dir/postings")
    ivfIndexRead(spark, dir)
  }

  /** Approximate top-k against a trained [[IvfIndex]]: queries probe
    * their `nProbe` nearest centroid lists only. The centroid table
    * broadcasts for the probe argmin; the postings join is an equi-join
    * on bucket with the (tiny) probe side broadcast — the corpus-sized
    * postings never shuffle.
    */
  /** Tombstone mask: serve DELETES from a live IVF index WITHOUT a
    * rebuild — the postings anti-join against the (broadcast) tombstone
    * id set before any scoring, so a deleted vector can never surface
    * and the next-best candidate takes its rank. The complement of
    * [[ivfAppend]]: append grows the artifact in O(delta), the mask
    * shrinks its visibility in O(postings) scan work with zero writes;
    * a compaction that physically drops masked postings can run
    * whenever convenient without changing any answer.
    */
  def withTombstones(index: IvfIndex, tombstones: DataFrame,
      idCol: String): IvfIndex =
    IvfIndex(index.centroids,
      index.postings.join(
        broadcast(tombstones.select(col(idCol).as("cid"))),
        Seq("cid"), "left_anti"))

  def ivfSearch(index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val centroids = index.centroids

    /** Top-nProbe centroids (query side only — tiny input, window ok). */
    def nearestN(df: DataFrame, id: String, vec: String, n: Int): DataFrame = {
      val w = Window.partitionBy(col(id))
        .orderBy(col("__d").asc, col("ctr"))
      df.crossJoin(broadcast(centroids))
        .withColumn("__d", l2Dist(col(vec), col("cvec")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n)
        .withColumnRenamed("ctr", "pctr")
        .drop("cvec", "__d", "__rn")
    }

    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"))
    val probes = nearestN(q, "qid", "qv", nProbe)
      .select(col("qid"), col("qv"), col("qn"), col("pctr").as("bucket"))

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    index.postings.join(broadcast(probes), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim",
        cosineFromNorms(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"),
        col("rn").cast("bigint").as("rn"))
  }

  /** One-shot IVF top-k: train + search inline (see [[ivfIndex]] /
    * [[ivfSearch]] for the train-once/search-many split).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame =
    ivfSearch(ivfIndex(corpus, idCol, vecCol, nCentroids, iters),
      queries, idCol, vecCol, k, nProbe)

  /** LSH-bucketed approximate top-k: `tables` independent hyperplane
    * hashes; candidates = bucket collisions in any table; exact cosine
    * re-rank within candidates. Recall grows with `tables` and with
    * `probeRadius` (multi-probe: each query also probes every bucket
    * within Hamming distance `probeRadius` of its own — the standard
    * trick to buy recall without extra tables). Probing happens on the
    * broadcast query side only, so cost stays ~|corpus| × tables ×
    * collision-rate instead of |queries| × |corpus|; the corpus is
    * hashed once per table and never expanded.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nPlanes: Int = 8, tables: Int = 8, probeRadius: Int = 1): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String, nrm: String): DataFrame =
      df.select(
        col(idCol).as(id) +: col(vecCol).as(vec) +:
        normSq(col(vecCol)).as(nrm) +:
        (0 until tables).map(t =>
          hyperplaneBucket(col(vecCol), nPlanes, seed = 1000 * t).as(s"bkt$t")): _*)
    val q = bucketed(queries, "qid", "qv", "qn").cache()
    val c = bucketed(graft.engine.Par.widen(corpus), "cid", "cv", "cn").cache()
    // all bit-flip masks of Hamming weight <= probeRadius (weight 0 =
    // the query's own bucket); tiny driver-side enumeration
    val masks: Seq[Long] = (0 to probeRadius).flatMap(w =>
      (0 until nPlanes).combinations(w)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    val allBkts = (0 until tables).map(t => col(s"bkt$t"))
    // ONE posting-list join instead of `tables` separate join stages:
    // the corpus explodes to (table, bucket, cid) id-only rows — 24
    // bytes/row, the standard inverted-index materialization — and the
    // query side (broadcast) explodes to its full multi-probe ball.
    // Candidate pairs carry ids ONLY through the distinct shuffle;
    // vectors re-attach after.
    val cLong = c.select(col("cid"),
      posexplode(array(allBkts: _*))).toDF("cid", "tb", "bkt")
    val qLong = q.select(col("qid"), posexplode(array(allBkts: _*)))
      .toDF("qid", "tb", "bkt0")
      .select(col("qid"), col("tb"), explode(array(masks.map(m =>
        col("bkt0").bitwiseXOR(lit(m))): _*)).as("bkt"))
    val candidateIds = cLong.join(broadcast(qLong), Seq("tb", "bkt"))
      .select(col("qid"), col("cid")).distinct()
      .filter(col("qid") =!= col("cid"))
    val candidates = candidateIds
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))), Seq("qid"))
      .join(c.select(col("cid"), col("cv"), col("cn")), Seq("cid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    candidates.withColumn("sim",
      cosineFromNorms(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"),
        col("rn").cast("bigint").as("rn"))
  }

  /** Scalar-quantized (int8) top-k: the memory-bandwidth scale path of
    * brute-force search. Per-dimension min/max over the corpus define a
    * linear quantizer (the classic "scalar quantization" of FAISS-style
    * ANN); both sides quantize to [-128, 127] ints, candidates rank by
    * the INTEGER dot product (4× less vector traffic than float32 — at
    * 100 TB of embeddings the scan is bandwidth-bound, which is the
    * whole point), then the top `k * overfetch` candidates per query
    * re-rank by EXACT float cosine so quantization error can only cost
    * recall beyond rank k·overfetch, never mis-order the final k.
    *
    * Plan shape: min/max are 2·dim partial-aggregatable aggregates in
    * ONE pass; the quantizer constants broadcast; scoring is a per-row
    * codegen integer fold over `broadcast(queries) × corpus` (corpus
    * never shuffled, like [[bruteForceTopK]]); only k·overfetch ids per
    * query reach the exact re-rank join.
    */
  def int8TopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      overfetch: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val c = graft.engine.Par.widen(corpus)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn"))
    val mm = c.agg(
      array((0 until dim).map(i => min(col("cv")(i))): _*).as("lo"),
      array((0 until dim).map(i =>
        (max(col("cv")(i)) - min(col("cv")(i))) / 255.0): _*).as("step"))
    // qv_i = clamp(round((v_i - lo_i)/step_i), 0, 255) - 128; degenerate
    // dims (step 0) quantize to a constant and drop out of the ranking
    def quant(v: Column): Column =
      zip_with(
        zip_with(v, col("lo"), (x, l) => x.cast("double") - l),
        col("step"),
        (d, s) => when(s > 0,
          least(greatest(round(d / s, 0), lit(0.0)), lit(255.0))
            .cast("int") - 128).otherwise(0))
    val cq = c.crossJoin(broadcast(mm))
      .select(col("cid"), col("cv"), col("cn"), quant(col("cv")).as("cqv"))
    val q = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qv"),
        normSq(col(vecCol)).as("qn"))
      .crossJoin(broadcast(mm))
      .select(col("qid"), col("qv"), col("qn"), quant(col("qv")).as("qqv"))
      .cache()
    val intDot = aggregate(
      zip_with(col("qqv"), col("cqv"), (x, y) => (x * y).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val joined = cq.crossJoin(broadcast(q.select(col("qid"), col("qqv"))))
    val cand0 = if (excludeSelf) joined.filter(col("qid") =!= col("cid")) else joined
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("qdot").desc, col("cid"))
    val candidates = cand0
      .withColumn("qdot", intDot)
      .withColumn("_crn", row_number().over(wq))
      .filter(col("_crn") <= k * overfetch)
      .select(col("qid"), col("cid"), col("cv"), col("cn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    candidates
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))), "qid")
      .withColumn("sim",
        cosineFromNorms(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"),
        col("rn").cast("bigint").as("rn"))
  }

  /** Binary-quantized (1-bit) ANN: each vector's first 64 dims collapse
    * to ONE Long of sign bits ([[graft.functions.VecKernels.signPack]]);
    * candidates are cut by Hamming distance — `bit_count(qbits ^ cbits)`,
    * a single codegen'd popcount per pair — then the survivors are
    * re-ranked by exact cosine. Sign agreement tracks the cosine angle
    * (the SimHash/hyperplane estimate with the identity basis), so a
    * k·overfetch Hamming cut keeps most true neighbors.
    *
    * Plan shape for 100 TB: the corpus scan reads 8 bytes/vector in the
    * candidate stage (32x less than float32·64d), queries are broadcast,
    * the corpus never shuffles before the cut, and the per-query top-k
    * windows run as rank-limit (WindowGroupLimit) stages. Ties on
    * Hamming break by candidate id, so the result is deterministic and
    * a cross-engine oracle can re-execute it.
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      overfetch: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val c = graft.engine.Par.widen(corpus)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn"), signBits(col(vecCol)).as("cbits"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"), signBits(col(vecCol)).as("qbits"))
    val joined = c.crossJoin(broadcast(q.select(col("qid"), col("qbits"))))
    val cand0 = if (excludeSelf) joined.filter(col("qid") =!= col("cid")) else joined
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("ham").asc, col("cid"))
    val candidates = cand0
      .withColumn("ham", bit_count(col("qbits").bitwiseXOR(col("cbits"))))
      .withColumn("_crn", row_number().over(wc))
      .filter(col("_crn") <= k * overfetch)
      .select(col("qid"), col("cid"), col("cv"), col("cn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    candidates
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))), "qid")
      .withColumn("sim",
        cosineFromNorms(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rn").cast("bigint").as("rn"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    * clustering the embedding space, then finding near-duplicate pairs
    * ONLY within each cluster — the clustering bounds the otherwise
    * quadratic pair space, which is the whole trick at 10^10 docs.
    * A row is dropped when a same-cluster partner with a smaller id has
    * cosine similarity >= threshold (keep-lowest-id, matching the
    * exact-dedup convention).
    *
    * Output: (id, cluster, keep 0/1) for every input row.
    *
    * Plan shape for 100 TB: k-means assignment is a broadcast-centroid
    * join + partial-agg argmin (corpus shuffled once, by cluster); the
    * within-cluster self-join's worst case is bounded by the largest
    * cluster, controlled by nClusters. Identical vectors always land in
    * the same cluster (same distances, deterministic tie-break), so
    * exact duplicates are never missed.
    */
  def semDedup(emb0: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nClusters: Int = 16, iters: Int = 2): DataFrame = {
    val c = graft.engine.Par.widen(emb0)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn")).cache()
    val centroids = kmeans(c, nClusters, iters)
    val assigned = nearest1(c, centroids, "cid", "cv",
      Seq("cv", "cn"), "cluster")
    val a = assigned.select(col("cluster"), col("cid").as("a"),
      col("cv").as("va"), col("cn").as("na"))
    val b = assigned.select(col("cluster"), col("cid").as("b"),
      col("cv").as("vb"), col("cn").as("nb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("a") < col("b"))
      .filter(cosineFromNorms(dot(col("va"), col("vb")),
        col("na"), col("nb")) >= threshold)
      .select(col("b").as("cid")).distinct()
    assigned.select(col("cid"), col("cluster"))
      .join(dropped.withColumn("_drop", lit(1)), Seq("cid"), "left")
      .select(col("cid").as(idCol), col("cluster"),
        when(col("_drop").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** Cluster labeling by class-based TF-IDF (the BERTopic c-TF-IDF
    * shape): k-means over the embedding space, then each cluster is
    * labeled by the terms most distinctive for the documents it
    * contains — term frequency within the cluster weighted by SMOOTHED
    * inverse cluster frequency ln(1 + nClusters/cf) (each CLUSTER, not
    * each doc, is the "document" of the idf; the +1 keeps corpus-wide
    * terms rankable by tf instead of hard-zeroing them). The
    * human-readable face of [[semDedup]]'s clusters.
    *
    * Plan shape for 100 TB: assignment as in [[semDedup]]; term counts
    * are one map-side-combinable groupBy on (cluster, term) — at most
    * |vocab| × nClusters rows shuffle; cluster-frequency and the
    * nClusters scalar are tiny broadcasts. Top-K windows over rows
    * already reduced to (cluster, term, score).
    */
  def clusterTopTerms(docs: DataFrame, emb: DataFrame,
      idCol: String, textCol: String, vecCol: String,
      topK: Int, nClusters: Int = 8, iters: Int = 2): DataFrame = {
    val c = graft.engine.Par.widen(emb)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val centroids = kmeans(c, nClusters, iters)
    val assigned = nearest1(c, centroids, "cid", "cv", Nil, "cluster")
    val toks = docs.select(col(idCol).as("cid"),
        explode(TextOps.words(col(textCol))).as("term"))
      .join(assigned, "cid")
    val tf = toks.groupBy(col("cluster"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val nc = assigned.select(col("cluster")).distinct()
      .agg(count(lit(1)).cast("double").as("nc"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(cf), "term")
      .crossJoin(broadcast(nc))
      .withColumn("score",
        round(col("tf") * log(lit(1.0) + col("nc") / col("cf")), 4))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= topK)
      .select(col("cluster"), col("term"), col("score"), col("rn"))
  }

  /** A trained, persistable product-quantization index (Jégou et al.
    * 2011, the FAISS IVF-PQ building block — public algorithm):
    *   - `codebooks`: (sub, code, cvec) — per-subspace k-means
    *     centroids (m · ksub rows, a few KB; always broadcastable).
    *     `code` values are DENSE per subspace (0..ksub-1, assigned in
    *     training-id order) so a (sub, code) pair packs into one
    *     integer map key at search time.
    *   - `codes`: (cid, cn, codes array<long>) — ONE row per corpus
    *     vector: its m codebook codes (codes[sub]) plus its float
    *     norm. THIS is the relation a 100 TB scan reads: m codes ≈
    *     m·8 bytes of payload per vector versus 4·dim bytes of
    *     float32 (16–32× less scan bandwidth at dim 64–256 — ANN at
    *     scale is bandwidth-bound, which is the whole point of PQ).
    *     cn rides along so the ADC scan never joins the corpus-sized
    *     vector table.
    *   - `vectors`: (cid, cv, cn) — full vectors, touched ONLY by the
    *     final exact re-rank of k·overfetch candidates per query.
    * All three round-trip parquet exactly, so searches over a
    * written-and-reread index are bit-identical to in-memory ones
    * (same persisted-artifact contract as [[IvfIndex]]).
    */
  final case class PqIndex(codebooks: DataFrame, codes: DataFrame,
      vectors: DataFrame) {
    def write(dir: String): Unit = {
      codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
      codes.write.mode("overwrite").parquet(s"$dir/codes")
      vectors.write.mode("overwrite").parquet(s"$dir/vectors")
    }
  }

  def pqIndexRead(spark: org.apache.spark.sql.SparkSession,
      dir: String): PqIndex =
    PqIndex(spark.read.parquet(s"$dir/codebooks"),
      spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/vectors"))

  /** Explode (id, vec) into its m subvectors: (id, sub, out). */
  private def subVectors(df: DataFrame, id: String, vec: String,
      m: Int, dsub: Int, out: String): DataFrame =
    df.select(col(id), posexplode(array((0 until m).map(s =>
        slice(col(vec), s * dsub + 1, dsub)): _*)))
      .toDF(id, "sub", out)

  /** Train a PQ index: the corpus splits into `m` subspaces of
    * dim/m dimensions; each subspace gets its own ksub-centroid
    * k-means codebook. All m k-means runs execute as ONE fused
    * iteration loop — the exploded (cid, sub, subvector) relation
    * clusters per `sub` in a single broadcast-join + partial-agg
    * argmin + combinable groupBy per round, so training cost does not
    * multiply by m. Deterministic init (the ksub lowest ids'
    * subvectors per subspace), no RNG.
    */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 2): PqIndex = {
    val c = graft.engine.Par.widen(corpus)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn")).cache()
    val dim = c.select(size(col("cv"))).head().getInt(0)
    require(dim % m == 0, s"pqIndex: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val sub = subVectors(c, "cid", "cv", m, dsub, "sv")
    val cb0 = subVectors(c.orderBy("cid").limit(ksub), "cid", "cv", m, dsub, "sv")
      .select(col("sub"), col("cid").as("code"), col("sv").as("cvec"))
    val cb = graft.engine.Fixpoint.iterate(cb0, iters, "pq") { (cb, _) =>
      sub.join(broadcast(cb), Seq("sub"))
        .groupBy(col("cid"), col("sub"))
        .agg(min(struct(l2Dist(col("sv"), col("cvec")).as("d"),
          col("code").as("code"), col("sv").as("sv"))).as("s"))
        .select(col("sub"), col("s.code").as("code"), col("s.sv").as("sv"))
        .select(col("sub"), col("code"), posexplode(col("sv")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(avg(col("col")).as("mval"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mval")))),
          s => s.getField("mval").cast("float")).as("cvec"))
    }.state
    // densify code labels per subspace (order-preserving: rank by the
    // training id, so assignment tie-breaks — min over (dist, code) —
    // are unchanged by the relabeling)
    val dense = cb
      .withColumn("dcode", row_number().over(
        Window.partitionBy(col("sub")).orderBy(col("code"))).cast("long") - 1)
    val cbDense = dense.select(col("sub"), col("dcode").as("code"), col("cvec"))
    val codes = sub.join(broadcast(dense), Seq("sub"))
      .groupBy(col("cid"), col("sub"))
      .agg(min(struct(l2Dist(col("sv"), col("cvec")).as("d"),
        col("dcode").as("dcode"))).as("s"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("s.dcode").as("c")))),
        x => x.getField("c")).as("codes"))
      .join(c.select(col("cid"), col("cn")), Seq("cid"))
      .select(col("cid"), col("cn"), col("codes"))
    PqIndex(cbDense, codes, c.select(col("cid"), col("cv"), col("cn")))
  }

  /** Packed (sub, code) map key stride — codebook codes are dense per
    * subspace, so any ksub < 2^20 packs collision-free.
    */
  private val PqKeyStride = 1L << 20

  /** Asymmetric-distance (ADC) search against a trained [[PqIndex]]:
    * each query precomputes a lookup table of partial dot products
    * against every (sub, code) centroid — m·ksub entries per query,
    * packed into one broadcast map — and every corpus vector's
    * approximate dot is the sum of m table lookups over its codes
    * array, computed PER ROW inside whole-stage codegen. Partial dots
    * are quantized to micro-units so the sum is an exact BIGINT —
    * run-to-run deterministic. The top k·overfetch ADC candidates per
    * query re-rank by EXACT float cosine (refinement), so quantization
    * error can only cost recall beyond rank k·overfetch, never
    * mis-order the final k.
    *
    * Plan shape: the corpus-sized codes relation is scanned ONCE with
    * zero shuffle and zero row expansion (queries broadcast against
    * it, the m-lookup sum is a codegen fold) — the first exchange in
    * the plan is the per-query top-k over already-scored rows, the
    * same shape as [[int8TopK]]; only k·overfetch ids per query touch
    * the full-vector table, with the candidate side broadcast.
    */
  def pqSearch(index: PqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, overfetch: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val dims = index.codebooks
      .agg(max(col("sub")).as("ms"), min(size(col("cvec"))).as("dsub")).head()
    val (m, dsub) = (dims.getInt(0) + 1, dims.getInt(1))
    // query side deliberately NOT cached: it is tiny (it broadcasts),
    // and a .cache() here with a lazy result leaks one set of blocks
    // per search call in a long-lived serving session (there is no
    // sound place to unpersist before the caller materializes)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"))
    val qlut = subVectors(q, "qid", "qv", m, dsub, "qsv")
      .join(broadcast(index.codebooks), Seq("sub"))
      .select(col("qid"),
        (col("sub").cast("long") * PqKeyStride + col("code")).as("key"),
        round(dot(col("qsv"), col("cvec")) * 1000000).cast("long").as("pdot"))
      .groupBy(col("qid"))
      .agg(map_from_arrays(collect_list(col("key")),
        collect_list(col("pdot"))).as("lut"))
      .join(q.select(col("qid"), col("qn")), Seq("qid"))
    val adot = aggregate(sequence(lit(0), size(col("codes")) - 1), lit(0L),
      (acc, sb) => acc + element_at(col("lut"),
        sb.cast("long") * PqKeyStride + element_at(col("codes"), sb + 1)))
    val joined = index.codes.crossJoin(broadcast(qlut))
    val scored0 = if (excludeSelf) joined.filter(col("qid") =!= col("cid")) else joined
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("asim").desc, col("cid"))
    val cands = scored0
      .withColumn("asim",
        adot / (lit(1000000.0) * sqrt(col("qn") * col("cn"))))
      .withColumn("_crn", row_number().over(wq))
      .filter(col("_crn") <= k * overfetch)
      .select(col("qid"), col("cid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    index.vectors.join(broadcast(cands), Seq("cid"))
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))), Seq("qid"))
      .withColumn("sim",
        cosineFromNorms(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"),
        col("rn").cast("bigint").as("rn"))
  }

  /** One-shot PQ top-k: train + search inline (see [[pqIndex]] /
    * [[pqSearch]] for the train-once/search-many split).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      overfetch: Int = 4, iters: Int = 2): DataFrame =
    pqSearch(pqIndex(corpus, idCol, vecCol, m, ksub, iters),
      queries, idCol, vecCol, k, overfetch)

  /** A trained, persistable IVF-PQ index (Jégou et al. 2011 §IV — the
    * composition FAISS ships as `IndexIVFPQ`, the workhorse of
    * billion-vector ANN): a coarse k-means partitions the corpus into
    * `nCells` inverted lists, and a product quantizer trained on the
    * RESIDUALS (vector − its cell centroid) compresses every vector to
    * m codes. The two approximations multiply: IVF cuts the SCAN to
    * the probed cells' fraction of the corpus, PQ cuts the BYTES per
    * scanned vector 16–32×, so a query touches
    * (nProbe/nCells) · (m·8 / 4·dim) of the raw corpus bandwidth —
    * at 100 TB that is the difference between an interactive query
    * and a full-corpus read. Residual encoding (not raw-vector PQ) is
    * what makes the shared codebook accurate across cells: residuals
    * from every cell live in one small ball around the origin.
    *
    *   - `centroids`: (ctr, cvec) — the coarse quantizer (tiny).
    *   - `codebooks`: (sub, code, cvec) — residual-space PQ codebooks.
    *   - `codes`: (bucket, cid, cn, codes) — ONE row per corpus
    *     vector: its cell, TRUE norm, and m residual codes. The only
    *     corpus-sized relation a search scans.
    *   - `vectors`: (cid, cv, cn) — full vectors for the exact re-rank.
    * All four round-trip parquet exactly (same persisted-artifact
    * contract as [[IvfIndex]]/[[PqIndex]]).
    */
  final case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame,
      codes: DataFrame, vectors: DataFrame) {
    /** Codes land HIVE-PARTITIONED by cell (`bucket=<ctr>/`): a search
      * probing nProbe of nCells then touches only the probed cells'
      * directories — partition pruning does at the FILE level what the
      * bucket equi-join does at the row level, so at 100 TB an
      * unprobed cell costs zero I/O, not a scan-and-discard.
      */
    def write(dir: String): Unit = {
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
      codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
      codes.write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$dir/codes")
      vectors.write.mode("overwrite").parquet(s"$dir/vectors")
    }
  }

  def ivfPqIndexRead(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex =
    IvfPqIndex(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebooks"),
      spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/vectors"))

  /** Train an IVF-PQ index: coarse k-means → per-vector residuals →
    * PQ codebooks on the residual relation (reusing [[pqIndex]]'s
    * fused m-subspace training loop) → codes re-keyed by cell with
    * the TRUE vector norm. Deterministic end to end (lowest-id inits,
    * no RNG).
    */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 8, ksub: Int = 32,
      iters: Int = 2): IvfPqIndex = {
    val c = graft.engine.Par.widen(corpus)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        normSq(col(vecCol)).as("cn")).cache()
    val centroids = kmeans(c, nCells, iters)
    val posting = nearest1(c, centroids, "cid", "cv", Seq("cv", "cn"), "bucket")
    val residuals = posting
      .join(broadcast(centroids.withColumnRenamed("ctr", "bucket")
        .withColumnRenamed("cvec", "_ctrv")), Seq("bucket"))
      .select(col("cid"),
        zip_with(col("cv"), col("_ctrv"),
          (a, b) => (a - b).cast("float")).as("rv"))
    val pq = pqIndex(residuals, "cid", "rv", m, ksub, iters)
    val codes = pq.codes.select(col("cid"), col("codes"))
      .join(posting.select(col("cid"), col("cn"), col("bucket")), Seq("cid"))
      .select(col("bucket"), col("cid"), col("cn"), col("codes"))
    IvfPqIndex(centroids, pq.codebooks, codes,
      c.select(col("cid"), col("cv"), col("cn")))
  }

  /** ADC search against a trained [[IvfPqIndex]]: each query probes
    * its `nProbe` nearest cells; within a probed cell the approximate
    * dot is dot(q, centroid) — one scalar per (query, cell), computed
    * on the broadcast probe side — plus the m-lookup residual ADC sum
    * (per-row codegen fold, as [[pqSearch]]). Both terms quantize to
    * micro-units so the sum is an exact BIGINT — run-to-run
    * deterministic. Top k·overfetch ADC candidates re-rank by exact
    * float cosine against the full-vector table.
    *
    * Plan shape: the codes relation is hit through an equi-join on
    * `bucket` with the (tiny) probe side broadcast — the corpus never
    * shuffles AND never fully scans (AQE/DPP skip unprobed cells'
    * partitions when the index is written bucket-partitioned); the
    * first exchange is the per-query top-k over already-scored rows.
    */
  def ivfPqSearch(index: IvfPqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
      overfetch: Int = 8, excludeSelf: Boolean = true): DataFrame = {
    val dims = index.codebooks
      .agg(max(col("sub")).as("ms"), min(size(col("cvec"))).as("dsub")).head()
    val (m, dsub) = (dims.getInt(0) + 1, dims.getInt(1))
    // query side not cached — same per-call block-leak reasoning as
    // [[pqSearch]]; the recompute is a re-scan of the tiny probe set
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normSq(col(vecCol)).as("qn"))
    // per-query LUT over the residual codebooks (m·ksub partial dots,
    // micro-unit longs, one packed map per query)
    val qlut = subVectors(q, "qid", "qv", m, dsub, "qsv")
      .join(broadcast(index.codebooks), Seq("sub"))
      .select(col("qid"),
        (col("sub").cast("long") * PqKeyStride + col("code")).as("key"),
        round(dot(col("qsv"), col("cvec")) * 1000000).cast("long").as("pdot"))
      .groupBy(col("qid"))
      .agg(map_from_arrays(collect_list(col("key")),
        collect_list(col("pdot"))).as("lut"))
    // nProbe nearest cells per query, each carrying the dot(q, centroid)
    // bias term (micro-units)
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("__d").asc, col("ctr"))
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("__d", l2Dist(col("qv"), col("cvec")))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nProbe)
      .withColumn("bias",
        round(dot(col("qv"), col("cvec")) * 1000000).cast("long"))
      .select(col("qid"), col("qn"), col("ctr").as("bucket"), col("bias"))
      .join(qlut, Seq("qid"))
    val adot = aggregate(sequence(lit(0), size(col("codes")) - 1),
      col("bias"),
      (acc, sb) => acc + element_at(col("lut"),
        sb.cast("long") * PqKeyStride + element_at(col("codes"), sb + 1)))
    val joined = index.codes.join(broadcast(probes), Seq("bucket"))
    val scored0 = if (excludeSelf) joined.filter(col("qid") =!= col("cid")) else joined
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("asim").desc, col("cid"))
    val cands = scored0
      .withColumn("asim",
        adot / (lit(1000000.0) * sqrt(col("qn") * col("cn"))))
      .withColumn("_crn", row_number().over(wq))
      .filter(col("_crn") <= k * overfetch)
      .select(col("qid"), col("cid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    index.vectors.join(broadcast(cands), Seq("cid"))
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))), Seq("qid"))
      .withColumn("sim",
        cosineFromNorms(dot(col("qv"), col("cv")), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("sim"), 4).as("sim"),
        col("rn").cast("bigint").as("rn"))
  }

  /** One-shot IVF-PQ top-k: train + search inline (see [[ivfPqIndex]] /
    * [[ivfPqSearch]] for the train-once/search-many split).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nCells: Int = 16,
      m: Int = 8, ksub: Int = 32, nProbe: Int = 4,
      overfetch: Int = 8, iters: Int = 2): DataFrame =
    ivfPqSearch(ivfPqIndex(corpus, idCol, vecCol, nCells, m, ksub, iters),
      queries, idCol, vecCol, k, nProbe, overfetch)

  /** Per-label centroid + distance-to-centroid outlier ranking — the
    * embedding-quality primitive: vectors far from their label's
    * centroid are mislabeled/noisy candidates for curation review.
    *
    * Plan shape for 100 TB: the centroid is `dim` partial-aggregatable
    * `avg(vec[i])` aggregates in ONE groupBy — each map task combines
    * its partition down to |labels| x dim doubles before the shuffle
    * (never an explode of rows x dim through the wire). Centroids
    * (|labels| rows) broadcast back; the distance is a single codegen
    * zip_with/aggregate fold per row; the per-label top-K windows over
    * rows already reduced to (label, id, dist).
    */
  def centroidOutliers(emb0: DataFrame, idCol: String, vecCol: String,
      labelCol: String, dim: Int, topK: Int): DataFrame = {
    val emb = graft.engine.Par.widen(emb0)
    val cent = emb.groupBy(col(labelCol).as("label"))
      .agg(array((0 until dim).map(i => avg(col(vecCol)(i))): _*).as("c"))
    val dist = sqrt(aggregate(
      zip_with(col(vecCol), col("c"),
        (a, b) => pow(a.cast("double") - b, lit(2))),
      lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist").desc, col(idCol))
    emb.select(col(idCol), col(labelCol).as("label"), col(vecCol))
      .join(broadcast(cent), "label")
      .withColumn("dist", round(dist, 4))
      .select(col("label"), col(idCol), col("dist"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= topK)
      .orderBy("label", "rn")
  }

  /** Maximal-marginal-relevance diversified top-k (MMR, Carbonell &
    * Goldstein 1998): overfetch `k * overfetch` candidates per query
    * with the exact scorer, then greedily pick k maximizing
    * `λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)` — relevance traded against
    * redundancy with what's already selected. λ=1 degenerates to plain
    * top-k; lower λ spreads the answer across clusters (the retrieval
    * read that stops one near-duplicate blob from filling the page).
    *
    * Plan shape: the DISTRIBUTED cost is the candidate overfetch (any
    * of this family's scorers can feed it — exact here; swap in
    * [[ivfSearch]] at corpus scale). The greedy phase is sequential in
    * k by definition, but runs per query over its own O(k·overfetch)
    * candidate slice — a bounded in-group computation (flatMapGroups),
    * never a driver loop, never all-pairs over the corpus. Candidate
    * vectors re-attach via one equi-join of the tiny candidate
    * relation; candidate-candidate sims are computed inside the group
    * in a fixed sorted order, so the output is a pure function of the
    * data (partitioning-invariant).
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double,
      overfetch: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // candidate ids from the exact scorer; relevance is RECOMPUTED at
    // full precision in-group (the scorer's output sim is rounded for
    // its own oracle — ranking on it would tie-break differently)
    val cand = bruteForceTopK(queries, corpus, idCol, vecCol, k * overfetch)
      .select(col("qid"), col("cid"))
    val rows = corpus
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .join(broadcast(cand), "cid")
      .join(broadcast(queries.select(col(idCol).as("qid"),
        col(vecCol).as("qv"))), "qid")
      .select(col("qid").cast("long"), col("cid").cast("long"),
        col("cv"), col("qv"))
      .as[(Long, Long, Array[Float], Array[Float])]
    rows.groupByKey(_._1).flatMapGroups { (qid, it) =>
      def dotd(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }; s
      }
      val raw = it.toArray
      val qv = raw.head._4
      val qn = math.sqrt(dotd(qv, qv))
      // (cid, cv, norm, relevance), sorted (rel desc, cid) — the fixed
      // iteration order that makes ties and float sums deterministic
      val cands = raw.map { case (_, cid, cv, _) =>
        val cn = math.sqrt(dotd(cv, cv))
        (cid, cv, cn, dotd(qv, cv) / (qn * cn + 1e-12))
      }.sortBy(t => (-t._4, t._1))
      val n = cands.length
      val maxSim = Array.fill(n)(0.0) // max sim to the selected set
      val chosen = Array.fill(n)(false)
      val out = Seq.newBuilder[(Long, Long, Long, Double)]
      var r = 0
      while (r < math.min(k, n)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) { // ties keep the first in sorted order
          if (!chosen(i)) {
            val sc = lambda * cands(i)._4 - (1 - lambda) * maxSim(i)
            if (sc > bestScore) { best = i; bestScore = sc }
          }
          i += 1
        }
        chosen(best) = true
        out += ((qid, cands(best)._1, r + 1L, bestScore))
        i = 0
        while (i < n) {
          if (!chosen(i)) {
            val s = dotd(cands(i)._2, cands(best)._2) /
              (cands(i)._3 * cands(best)._3 + 1e-12)
            if (s > maxSim(i)) maxSim(i) = s
          }
          i += 1
        }
        r += 1
      }
      out.result().iterator
    }.toDF("qid", "cid", "rn", "mmr")
      .select(col("qid"), col("cid"), col("rn"),
        round(col("mmr"), 4).as("mmr"))
  }
}
