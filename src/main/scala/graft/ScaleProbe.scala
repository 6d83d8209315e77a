package graft

import org.apache.spark.sql.functions._

/** Ad-hoc scale probe (not part of the driver contract): replicates the
  * sf0.1 tables Nx into /tmp and times the shuffle-heaviest operators,
  * to catch super-linear blowups before they ship. Run:
  *   sbt "runMain graft.ScaleProbe 20"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(20)
    val spark = graft.engine.Sessions.local("graft-scale", "32")
    val base = "/root/testdata/sf0.1"
    val tmp = java.nio.file.Files.createTempDirectory("scaleprobe").toString

    // replicate documents/embeddings with shifted ids (keeps dup
    // structure per replica, no cross-replica exact dups)
    val docs0 = graft.engine.Tables(spark, base, "documents")
    val nDocs = docs0.count()
    val docs = spark.range(mult).crossJoin(docs0)
      .select((col("doc_id") + col("id") * nDocs * 10).as("doc_id"),
        concat(col("text"), lit(" r"), col("id")).as("text"))
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val emb0 = graft.engine.Tables(spark, base, "embeddings")
    val nEmb = emb0.count()
    spark.range(mult).crossJoin(emb0)
      .select((col("vec_id") + col("id") * nEmb * 10).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // events replicated with disjoint users per replica (funnel and
    // retention shuffle by user, so user cardinality must scale too)
    val ev0 = graft.engine.Tables(spark, base, "events")
    val nEv = ev0.count()
    spark.range(mult).crossJoin(ev0)
      .select((col("event_id") + col("id") * nEv * 10).as("event_id"),
        col("ts"), (col("user_id") + col("id") * 10000).as("user_id"),
        col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")

    // optional probe filter: SPARK_GRAFT_PROBE_ONLY=asof_nearest,int8_topk
    // (names trimmed; a blank value means no filter, not "skip all")
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    def t(name: String)(f: => Long): Unit = if (only.forall(_.contains(name))) {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s ($n rows)")
    }

    val d = spark.read.parquet(s"$tmp/documents.parquet")
    val e = spark.read.parquet(s"$tmp/embeddings.parquet")
    println(s"[scale] docs=${d.count()} embeddings=${e.count()} (${mult}x sf0.1)")

    t("exact_dedup")(graft.operators.Dedup.exact(d, "doc_id", "text").count())
    // q366: one narrow codegen projection per row, no shuffle — must
    // ride corpus bytes linearly
    t("chunk_overlap")(graft.operators.TextOps
      .chunkTokens(d, "doc_id", "text", 64, 16).count())
    // q370: q28's posting-cut pairs + pointer-doubling closure + one
    // window — the pair stage bounds the cost, never |docs|^2
    t("cluster_rep")({
      val pairs = graft.operators.Dedup.jaccardPairs(
        d, "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 5)
      graft.operators.Components.connectedComponents(pairs, "a", "b")
        .count()
    })
    t("minhash_pairs")(graft.operators.Dedup.minHashPairs(
      d, "doc_id", "text", 3, 0.5).count())
    t("simhash")(graft.operators.Dedup.simHash(d, "doc_id", "text").count())
    t("jaccard_cut")(graft.operators.Dedup.jaccardPairs(
      d, "doc_id", "text", 3, 0.5, maxDocFreq = 50).count())
    // the declared q28b plan: jaccardAuto at t=0.8 selects the prefix
    // path (the t=0.5 prefix crossover measurement — 65 s vs 6 s for
    // the inverted index — is recorded in BASELINE.md; the selector
    // exists precisely so that plan never runs at low thresholds)
    t("jaccard_auto_t08")(graft.operators.Dedup.jaccardAuto(
      d, "doc_id", "text", 3, 0.8).count())
    t("simhash_pairs")(graft.operators.Dedup.simHashPairs(
      d, "doc_id", "text", maxHamming = 3).count())
    t("components_over_simhash_pairs")({
      val pairs = graft.operators.Dedup.simHashPairs(
        d, "doc_id", "text", maxHamming = 3)
      graft.operators.Components.connectedComponents(pairs, "a", "b").count()
    })
    t("embed_pairs_lsh")(graft.operators.Dedup.embeddingPairsLsh(
      e, "vec_id", "embedding", threshold = 0.9).count())
    t("lsh_topk")(graft.operators.Similarity.lshTopK(
      e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 3).count())
    t("wordcount")(graft.operators.TextOps.wordCounts(d, "text").count())
    t("bm25")(graft.operators.TextOps.bm25Search(
      d, "doc_id", "text", Seq("vector", "join", "data"), topN = 20).count())
    t("chunking")(graft.operators.TextOps.chunk(
      d, "doc_id", "text", size = 32, stride = 24).count())
    t("centroid_outliers")(graft.operators.Similarity.centroidOutliers(
      e, "vec_id", "embedding", "label", dim = 64, topK = 3).count())
    t("packing")({
      val toks = d.select(col("doc_id"),
        size(graft.operators.TextOps.regexTokens(col("text")))
          .cast("bigint").as("n_tokens"))
      graft.operators.Packing.byTokenOffset(toks, "doc_id", "n_tokens",
        budget = 2048).count()
    })
    t("curation")(graft.operators.CurationPipeline
      .curate(d, "doc_id", "text").count())
    // OR-blocked (prefix/suffix two-token signature) + capped fuzzy
    // dedup: linear-ish here means the Zipfian first-word hot block is
    // gone and the cap bounds the residual hot signatures
    t("fuzzy_pairs")(graft.operators.Dedup.fuzzyPairs(
      d, "doc_id", "text", maxDistFrac = 0.3).count())

    val ev = spark.read.parquet(s"$tmp/events.parquet")
    t("funnel")(graft.operators.EventAnalytics.funnel(ev, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"), 7L * 86400).count())
    t("retention")(graft.operators.EventAnalytics
      .retention(ev, "user_id", "ts").count())
    t("bigram_lm")(graft.operators.TextOps
      .bigramLogProb(d, "doc_id", "text").count())
    t("negatives")(graft.operators.Sampling
      .negativeSamples(d, "doc_id", "text", k = 3, nBuckets = 4096).count())
    t("semdedup_t09")(graft.operators.Similarity.semDedup(
      e, "vec_id", "embedding", threshold = 0.9,
      nClusters = 16 * mult).count())
    t("int8_topk")(graft.operators.Similarity.int8TopK(
      e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
      k = 3, dim = 64).count())
    t("binary_topk")(graft.operators.Similarity.binaryTopK(
      e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
      k = 3).count())
    // budget scales with the corpus so the admitted set (and the part
    // of each group the cumsum window actually orders) scales too
    t("budget_select")({
      val docs = d.withColumn("source", pmod(col("doc_id"), lit(20L)))
        .withColumn("n_tokens",
          size(graft.operators.TextOps.regexTokens(col("text")))
            .cast("bigint"))
      val scored = graft.operators.TextOps
        .qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("score"))
      graft.operators.Sampling.budgetSelect(docs.join(scored, "doc_id"),
        "source", "doc_id", "score", "n_tokens",
        budget = 2500L * mult).count()
    })
    t("throttle")(graft.operators.EventAnalytics.throttle(
      ev.select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec")),
      "user_id", "event_type", "sec", "event_id", minGapSec = 300)
      .filter(col("kept") === 1L).count())
    t("survivors_over_simhash")({
      val pairs = graft.operators.Dedup.simHashPairs(
        d, "doc_id", "text", maxHamming = 3)
      graft.operators.Dedup.nearDupSurvivors(
        d.withColumn("n_chars", length(col("text"))),
        "doc_id", "n_chars", pairs).count()
    })
    t("asof_nearest")({
      val evs = ev.withColumn("ts_s", date_trunc("second", col("ts")))
      val purchases = evs.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val clicks = evs.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_s"))
        .agg(max(col("event_id")).as("click_id"))
      graft.operators.AsOfJoin.nearest(purchases, clicks,
        Seq("user_id"), "ts_s", Seq("click_id"), "click_ts").count()
    })
    t("mixture_epochs")(graft.operators.Sampling.mixtureEpochs(
      spark.read.parquet(s"$tmp/documents.parquet")
        .withColumn("lang", pmod(col("doc_id"), lit(5)).cast("string")),
      "lang", "text",
      (0 until 5).map(i => i.toString -> 0.2)).count())
    // graph + heavy-hitter probes over a replicated lineitem
    // co-purchase graph (disjoint part-id spaces per replica, so
    // correct scaling here is LINEAR in the multiplier — a
    // super-linear reading means a blowup inside one replica's plan)
    val li0 = graft.engine.Tables(spark, base, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // replica id spaces must be disjoint for the linear-scaling premise
    // to hold, so derive the offsets from the observed maxima rather
    // than assuming a constant bound on key values
    val (maxOrd, maxPart) = {
      val r = li0.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
      (r.getLong(0) + 1, r.getLong(1) + 1)
    }
    val li = spark.range(mult).crossJoin(li0)
      .select((col("l_orderkey") + col("id") * maxOrd).as("k"),
        (col("l_partkey") + col("id") * maxPart).as("p"))
    val coEdges = li.select(col("k"), col("p").as("u"))
      .join(li.select(col("k"), col("p").as("v")), Seq("k"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
      .localCheckpoint() // probe the operators, not the edge build
    t("triangles")(graft.operators.Triangles.count(coEdges)
      .collect().head.getLong(0))
    t("pagerank_5iter")({
      val sym = coEdges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(coEdges.select(col("v").as("src"), col("u").as("dst")))
      graft.operators.PageRank.run(sym, iterations = 5).count()
    })
    t("assortativity")({
      val sym = coEdges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(coEdges.select(col("v").as("src"), col("u").as("dst")))
      graft.operators.GraphStats.assortativity(sym, "src", "dst").count()
    })
    // the directed (u -> v only) edge list leaves every pure-dst node a
    // sink: probes the dangling path's extra per-round anti-join +
    // node-list left join at scale
    t("pagerank_dangling_5iter")(graft.operators.PageRank.runDangling(
      coEdges.select(col("u").as("src"), col("v").as("dst")),
      iterations = 5).count())
    t("heavy_hitters")({
      val tok = d.select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      graft.operators.HeavyHitters.exactOverThreshold(tok, "w", 0.005)
        .count()
    })
    // 4 peeling rounds over the same co-purchase graph: per-replica
    // subgraphs are disjoint, so linear scaling is the pass bar; the
    // per-round cost is one degree agg + two shrinking semi-joins
    t("kcore_4rounds")({
      val sym = coEdges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(coEdges.select(col("v").as("src"), col("u").as("dst")))
      graft.operators.KCore.peel(sym, k = 60, rounds = 4).count()
    })
    // q151's shape: per-basket pair join — bounded by basket size
    // (lineitems per order <= 7 in this schema), so pair volume is
    // linear in orders; a super-linear reading means the join stopped
    // being per-basket
    t("assoc_pairs")({
      val liD = li.distinct()
      liD.select(col("k"), col("p").as("pa"))
        .join(liD.select(col("k"), col("p").as("pb")), Seq("k"))
        .filter(col("pa") =!= col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sup_ab"))
        .filter(col("sup_ab") >= 3).count()
    })
    // q156's shape: degree-capped wedge join — each mid node with
    // dg <= 50 contributes <= C(50,2) wedges, so wedge volume is
    // O(nodes * cap^2) = linear in the multiplier here; without the
    // cap the hub nodes would make this the classic quadratic cliff
    t("link_wedges")({
      val sym = coEdges.select(col("u").as("src"), col("v").as("dst2"))
        .unionAll(coEdges.select(col("v").as("src"), col("u").as("dst2")))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      val mid = sym.join(deg.filter(col("dg") <= 50), "src")
      val wedges = mid.select(col("src"), col("dst2").as("na"))
        .join(mid.select(col("src"), col("dst2").as("nb")), Seq("src"))
        .filter(col("na") < col("nb"))
        .groupBy(col("na"), col("nb")).agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 2)
      wedges.join(coEdges,
        col("na") === col("u") && col("nb") === col("v"), "left_anti").count()
    })
    // q179's shape: 4 Bellman–Ford rounds. The source lives in replica
    // 0 only, but the per-round relax join streams the WHOLE edge list
    // against the frontier — that join is the scale axis, so linear in
    // the multiplier is the pass bar
    t("sssp_4rounds")({
      val sym = coEdges.select(col("u"), col("v"))
        .unionAll(coEdges.select(col("v").as("u"), col("u").as("v")))
        .withColumn("w", pmod(col("u") + col("v"), lit(97L)) + lit(1L))
        .repartition(col("u")).persist()
      val dist0 = sym.select(col("u")).distinct()
        .select(col("u").as("node"),
          when(col("u") === sym.agg(min("u")).head().getLong(0), 0L)
            .otherwise(lit(Long.MaxValue)).as("dd"))
      val dist = graft.engine.Fixpoint.iterate(dist0, 4) { (dist, _) =>
        val relaxed = dist.join(sym, col("node") === col("u"))
          .filter(col("dd") =!= Long.MaxValue)
          .select(col("v").as("node"), (col("dd") + col("w")).as("dd"))
        dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dd")).as("dd"))
      }.state
      val n = dist.filter(col("dd") =!= Long.MaxValue).count()
      sym.unpersist(); n
    })
    // q180's shape with the window arm forced: 50 synthetic domains
    // whose size GROWS with the multiplier, so the over-cap rank
    // window carries the whole corpus — n log n per group is the
    // worst case this op can hit (real domain distributions hit the
    // broadcast-anti fast path for most of the mass)
    t("source_cap_windowed")(graft.operators.Sampling.capPerGroup(
      d.withColumn("dom", pmod(col("doc_id"), lit(50L))),
      "dom", "doc_id", cap = 100).count())
    // q182's shape: the distributed cost is the brute-force overfetch
    // (linear in corpus, corpus never shuffles); the greedy phase is
    // per-query constant work
    t("mmr_topk")(graft.operators.Similarity.mmrTopK(
      e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
      k = 8, lambda = 0.7).count())
    // q189's shape WITHOUT the exact-dup collapse (the replicated docs
    // all get ' rN' suffixes, so first-token blocks grow linearly with
    // the multiplier): in-block pairs are the quadratic axis, bounded
    // by maxBlock — cost should track emitted pairs, like fuzzyPairs
    t("jw_linkage")(graft.operators.Linkage.jaroWinklerPairs(
      d.withColumn("nm", substring(col("text"), 1, 40)),
      "doc_id", "nm", threshold = 0.95, maxBlock = 20000).count())
    // q194's shape: per-group MG summaries — the summary count rides
    // the group count (5 langs here), the token domain never shuffles
    t("group_hitters")({
      val tok = d.select(pmod(col("doc_id"), lit(5L)).cast("string").as("g"),
        explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      graft.operators.HeavyHitters.exactOverThresholdByGroup(
        tok, "g", "w", 0.005).count()
    })
    // q191's shape: one window-min exchange on the group key, then a
    // pure per-row hash — linear is the bar
    t("group_split")(graft.operators.Sampling.groupAwareSplit(
      d.select(col("doc_id"),
        graft.operators.TextOps.normalizeText(col("text")).as("nk")),
      "doc_id", col("nk"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).count())

    // q226's shape: detector evaluation IS two pair-joins — truth
    // (prefix-filtered Jaccard) + candidates (SimHash bands) + a
    // pair-keyed semi join; each side is already probed linear above,
    // the eval adds only the id-pair join, so linear is the bar
    t("dedup_eval")({
      val truth = graft.operators.Dedup.jaccardAuto(
        d, "doc_id", "text", 3, 0.8).select(col("a"), col("b"))
      val approx = graft.operators.Dedup.simHashPairs(
        d, "doc_id", "text", maxHamming = 3).select(col("a"), col("b"))
      approx.join(truth, Seq("a", "b"), "left_semi").count()
    })
    // q234's shape: base components + delta edges folded in — the
    // incremental path must track the DELTA's component sizes, not
    // re-pay the full recompute
    t("components_incremental")({
      val pairs = graft.operators.Dedup.simHashPairs(
        d, "doc_id", "text", maxHamming = 3)
      val base = pairs.filter(col("b") % 5 =!= 0)
      val delta = pairs.filter(col("b") % 5 === 0)
      val prior = graft.operators.Components
        .connectedComponents(base, "a", "b")
      graft.operators.Components.incremental(prior, delta, "a", "b").count()
    })
    // q240's shape: chunking multiplies the corpus ~4x, then BM25 over
    // chunk ids — both narrow passes; linear in chunk count is the bar
    t("chunk_retrieval")({
      val chunks = graft.operators.TextOps.chunk(
        d, "doc_id", "text", size = 32, stride = 24)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("cid"),
          col("chunk_text"))
      graft.operators.TextOps.bm25Search(chunks, "cid", "chunk_text",
        terms = Seq("vector", "join", "data"), topN = 10).count()
    })

    // q259's shape: one kernel call per (query, corpus) pair off a
    // broadcast — the corpus scan is the only scale axis, linear bar
    t("maxsim_topk")({
      import org.apache.spark.sql.expressions.Window
      val quant = (c: org.apache.spark.sql.Column) =>
        graft.functions.VectorFunctions.quantizeVec(c, n = 64)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), quant(col("embedding")).as("qv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      e.select(col("vec_id").as("cid"), quant(col("embedding")).as("cv"))
        .crossJoin(broadcast(q)).filter(col("qid") =!= col("cid"))
        .withColumn("score", graft.functions.VectorFunctions.maxSimPre(
          col("qv"), col("cv"), m = 8, dsub = 8))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).count()
    })
    // q261's shape: 5 synchronous rounds over the symmetric co-purchase
    // graph — per round one join vs the pinned edge list + two combinable
    // aggs; per-replica subgraphs are disjoint, so linear is the bar
    t("lpa_5rounds")({
      val sym = coEdges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(coEdges.select(col("v").as("src"), col("u").as("dst")))
      graft.operators.Lpa.run(sym, iterations = 5).count()
    })
    // q260's shape: one groupBy + one per-partition window over FILE
    // STATS (never contents) — cost rides the file count
    t("compaction_plan")({
      import org.apache.spark.sql.expressions.Window
      val files = d.withColumn("source", pmod(col("doc_id"), lit(20L)))
        .groupBy(col("source"), expr("doc_id div 100").as("file_seq"))
        .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("bytes"))
      val w = Window.partitionBy(col("source")).orderBy(col("file_seq"))
        .rowsBetween(Window.unboundedPreceding, -1)
      files.withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("bin", expr("coalesce(cum, 0L) div 262144"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files")).count()
    })

    // q263's FULL composition (the parts are probed individually —
    // lpa_5rounds, pagerank — but the composition's join order with
    // the label relation was not): bipartite customer—supplier edges
    // from orders⋈lineitem with disjoint key spaces per replica, LPA
    // 5 rounds, then the double label join + exact-integer modularity
    // rollup. Per-replica subgraphs are disjoint ⇒ linear is the bar.
    t("modularity")({
      val ord0 = graft.engine.Tables(spark, base, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li1 = graft.engine.Tables(spark, base, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val (maxCust, maxSupp) = {
        val r = ord0.agg(max(col("o_custkey"))).head().getLong(0) + 1
        val s2 = li1.agg(max(col("l_suppkey"))).head().getLong(0) + 1
        (r, s2)
      }
      val ords = spark.range(mult).crossJoin(ord0)
        .select((col("o_orderkey") + col("id") * maxOrd).as("o_orderkey"),
          (col("o_custkey") + col("id") * maxCust).as("o_custkey"))
      val lis = spark.range(mult).crossJoin(li1)
        .select((col("l_orderkey") + col("id") * maxOrd).as("l_orderkey"),
          (col("l_suppkey") + col("id") * maxSupp).as("l_suppkey"))
      val pairs = ords.join(lis, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + lit(1000000000L)).as("su"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("su").as("dst"))
        .unionAll(pairs.select(col("su").as("src"), col("c").as("dst")))
        .localCheckpoint() // probe the composition, not the edge build
      val lab = graft.operators.Lpa.run(edges, iterations = 5)
      val m2 = edges.agg(count(lit(1)).as("m2"))
      val el = edges
        .join(lab.select(col("node").as("src"), col("community").as("ca")),
          Seq("src"))
        .join(lab.select(col("node").as("dst"), col("community").as("cb")),
          Seq("dst"))
      val intc = el.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community"))
        .agg(count(lit(1)).as("internal2"))
      val degc = el.groupBy(col("ca").as("community"))
        .agg(count(lit(1)).as("deg"))
      val n = lab.groupBy(col("community"))
        .agg(count(lit(1)).as("n_members"))
        .join(degc, Seq("community"))
        .join(intc, Seq("community"), "left")
        .crossJoin(broadcast(m2))
        .select(col("community"),
          (col("m2") * coalesce(col("internal2"), lit(0L))
            - col("deg") * col("deg")).as("q_num"))
        .count()
      graft.engine.Checkpoints.release(lab)
      n
    })
    // q267's shape: DSIR importance selection — two corpus-linear
    // tokenization passes compress to ≤4096-bucket histograms, the
    // log-ratio table broadcasts back, scoring is one (doc, bucket)
    // partial aggregation, and the cut is quota-bounded
    t("dsir_select")(graft.operators.Sampling.dsirSelect(
      d, d.filter(pmod(col("doc_id"), lit(5L)) === 0L),
      "doc_id", "text", quota = 1000).count())
    // q264's FULL composition: one shared tokenization feeds both the
    // PMI-expansion stage (bigram + unigram counts, top-2 partners of
    // the seed) and the BM25 stage (tf filtered by the BROADCAST
    // expanded term set). The corpus-wide relations (tok, big, uni)
    // are linear in the doc count; everything after the tf filter
    // rides |matching docs|.
    t("query_expansion")({
      import org.apache.spark.sql.expressions.Window
      val seed = "data"
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val tok = d.select(col("doc_id"),
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
        .unionAll(spark.range(1).select(lit(seed).as("term")))
      val toks = tok.select(col("doc_id").as("id"), col("wd").as("w"))
      val dl = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n"),
        avg(col("dl")).as("avgdl"))
      val tf = toks.join(broadcast(expTerms), col("w") === col("term"))
        .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
      val docFreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val dlPruned = dl.join(broadcast(tf.select(col("id")).distinct()),
        Seq("id"), "left_semi")
      tf.join(broadcast(docFreq), "w")
        .join(dlPruned, "id")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1))
        .groupBy(col("id")).agg(count(lit(1)).as("n_terms"))
        .count()
    })

    // q268: the one inherent full shuffle (repartition on shard) plus a
    // within-partition sort — cost must track rows moved, i.e. linear
    t("shuffle_export")(graft.operators.Sampling.shuffleExport(
      d, "doc_id", nShards = 64, seed = "probe").count())
    // q269: distinct-per-doc gram hashes -> one df groupBy + one
    // gram-keyed join + one per-doc reduce; all map-side combinable,
    // linear in total grams
    t("soft_dedup")(graft.operators.Dedup.softDedupWeights(
      d, "doc_id", "text", n = 2).count())

    // q271/q273: fixture fabrication + decode are narrow per-partition
    // passes (linear); the banded fingerprint join is the term to
    // watch — replicated ids mint fresh bases, so bucket occupancy
    // (and with it candidate-pair volume) grows linearly
    t("image_phash")(graft.operators.Dedup.fingerprintPairs(
      graft.multimodal.Multimodal.imageDHash(
        graft.multimodal.Multimodal.syntheticNearDupImages(d)),
      "media_id", "dhash", maxHamming = 6).count())
    t("audio_fingerprint")(graft.operators.Dedup.fingerprintPairs(
      graft.multimodal.Multimodal.audioDHash(
        graft.multimodal.Multimodal.syntheticNearDupAudio(d)),
      "media_id", "ahash", maxHamming = 6).count())

    // q278: narrow decode+hash pass per video, only scalars leave the
    // scan — must be linear in clip count
    t("scene_cuts")(graft.multimodal.Multimodal.sceneCuts(
      graft.multimodal.Multimodal.syntheticSceneVideos(d),
      cutHamming = 10).count())

    // q279: tar-shard fabrication + binaryFile scan + ustar walk +
    // image decode; shards are the parallelism unit, so cost rides
    // the shard count (= corpus / 50) linearly
    t("webdataset")({
      val tmp2 = java.nio.file.Files.createTempDirectory("probe-wds").toString
      d.select((col("doc_id") / 50).cast("long").as("shard"), col("doc_id"))
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .foreach { row =>
          val shard = row.getLong(0)
          val entries = row.getSeq[Long](1).flatMap { id =>
            Seq((s"$id.txt", s"doc-$id".getBytes("UTF-8")),
              (s"$id.png", graft.multimodal.Multimodal.syntheticPng(id)))
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$tmp2/shard-$shard%07d.tar"),
            graft.sources.WebDataset.writeTar(entries))
          ()
        }
      graft.sources.WebDataset.ingest(spark, tmp2).count()
    })

    // q298: WARC fabrication + binaryFile scan + record walk (mixed
    // plain/gzip shards); like webdataset, shards are the parallelism
    // unit and cost rides the shard count linearly
    t("warc_ingest")({
      val tmp2 = java.nio.file.Files.createTempDirectory("probe-warc").toString
      d.select((col("doc_id") / 50).cast("long").as("shard"),
          col("doc_id"), col("text"))
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("docs"))
        .foreach { row =>
          val shard = row.getLong(0)
          val entries = row.getSeq[org.apache.spark.sql.Row](1).map { r =>
            ("response", s"http://ex/en/${r.getLong(0)}",
              r.getString(1).getBytes("UTF-8"))
          }
          val bytes = graft.sources.Warc.write(entries)
          val (name, payload) =
            if (shard % 2 == 1) (f"shard-$shard%07d.warc.gz",
              graft.sources.Warc.gzip(bytes))
            else (f"shard-$shard%07d.warc", bytes)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$tmp2/$name"), payload)
          ()
        }
      graft.sources.Warc.ingest(spark, tmp2)
        .filter(col("warc_type") === "response").count()
    })

    // q272: two map-side-combinable aggregations + a broadcast cross of
    // |cells|×|cohorts|; nothing rides the row count past the first agg
    t("tcloseness")({
      val e2 = ev.select(col("event_type"),
        hour(col("ts")).cast("bigint").as("hod"),
        pmod(col("user_id"), lit(10L)).as("cohort"))
      val cellCohort = e2.groupBy(col("event_type"), col("hod"), col("cohort"))
        .agg(count(lit(1)).as("cgv"))
      val cells = cellCohort.groupBy(col("event_type"), col("hod"))
        .agg(sum(col("cgv")).as("ng"))
      val cohorts = e2.groupBy(col("cohort")).agg(count(lit(1)).as("cv"))
      val total = e2.agg(count(lit(1)).as("n_total"))
      cells.crossJoin(broadcast(cohorts))
        .join(cellCohort, Seq("event_type", "hod", "cohort"), "left")
        .withColumn("cgv", coalesce(col("cgv"), lit(0L)))
        .crossJoin(broadcast(total))
        .groupBy(col("event_type"), col("hod"))
        .agg(expr("CAST(sum(abs(CAST(cgv AS DECIMAL(38,0)) * n_total - "
          + "CAST(cv AS DECIMAL(38,0)) * ng)) * 500000 div "
          + "(max(CAST(ng AS DECIMAL(38,0)) * n_total)) AS BIGINT)")
          .as("t_ppm"))
        .count()
    })

    // q281/q282/q285/q288: single-pass regex projections (canonical
    // URL, HTML strip, script counts, href extraction) + one groupBy —
    // per-char regex cost is the axis, linear in corpus bytes is the bar
    t("url_dedup")({
      val raw = d.select(col("doc_id"),
        concat(lit("http://ex-"), pmod(col("doc_id"), lit(97L)),
          lit(".COM:80/p/"), pmod(col("doc_id"), lit(5000L)),
          lit("?b=2&utm_source=feed&a=1#f")).as("url"))
      raw.select(graft.operators.TextOps.canonicalUrl(col("url")).as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("n")).count()
    })
    t("html_extract")({
      val page = concat(lit("<html><head><style>p{}</style>"
          + "<script>if(1<2){var x=\"<p>\";}</script></head><body>"
          + "<!-- c --><h1>D</h1><p>"), col("text"),
        lit("</p><ul><li>a&amp;lt;b</li></ul></body></html>"))
      d.select(graft.operators.TextOps.htmlToText(page).as("t"))
        .select(sum(length(col("t")))).head(); d.count()
    })
    t("script_mix")({
      val salted = d.select(concat(col("text"),
        expr("repeat('привет мир ', CAST(FLOOR(length(text) / 8) AS INT))"))
        .as("txt"))
      salted.select(
          graft.operators.TextOps.scriptCount(col("txt"), "A-Za-z").as("l"),
          graft.operators.TextOps.scriptCount(col("txt"),
            "\\x{0400}-\\x{04FF}").as("c"))
        .agg(sum(col("l")), sum(col("c"))).head(); d.count()
    })
    t("link_graph")({
      val page = concat(lit("<p><a href=\"http://h"),
        pmod(col("doc_id") * 7 + 1, lit(1000L)), lit(".com/a\">1</a>"),
        lit("<a href=\"https://h"), pmod(col("doc_id") * 13 + 5, lit(1000L)),
        lit(".org/b\">2</a></p>"))
      d.select(pmod(col("doc_id"), lit(500L)).as("src"),
          explode(graft.operators.TextOps.htmlLinks(page)).as("u"))
        .select(col("src"),
          regexp_extract(col("u"), "^[a-z]+://([^/]+)", 1).as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1))).count()
    })
    // q283/q284: rendezvous is a pure projection with nShards md5s per
    // row (constant-heavy, shuffle-free); the manifest is shuffleExport's
    // one inherent shuffle + a map-side-combinable agg to |shards| rows
    t("rendezvous")(d.select(
      graft.operators.Sampling.rendezvousShard(col("doc_id"), 16).as("s16"),
      graft.operators.Sampling.rendezvousShard(col("doc_id"), 17).as("s17"))
      .filter(col("s16") =!= col("s17")).count())
    t("shard_manifest")(graft.operators.Sampling.shardManifest(
      graft.operators.Sampling.shuffleExport(
        d.select(col("doc_id"), col("text")), "doc_id", 64, "m1"),
      "shard", "doc_id", "text").count())
    // q289: two generator stages over per-row regex extractions —
    // output is ~5 cells/doc, linear in corpus
    t("table_extract")({
      val tbl = concat(lit("<table><tr><th>k</th><th>v</th></tr><tr><td>a"),
        pmod(col("doc_id"), lit(7L)).cast("string"),
        lit("</td><td><b>"), pmod(col("doc_id") * 3, lit(11L)).cast("string"),
        lit("</b></td></tr></table>"))
      d.select(col("doc_id"), posexplode(
          graft.operators.TextOps.htmlTableRows(tbl)).as(Seq("r", "row")))
        .select(col("doc_id"), col("r"), posexplode(
          graft.operators.TextOps.htmlRowCells(col("row")))
          .as(Seq("c", "cell")))
        .select(graft.operators.TextOps.cellText(col("cell"))).count()
    })
    // q292: per-row normalize (isNormalized fast path for the ASCII
    // bulk) + accent fold (NFD → strip marks → NFC) — narrow codegen
    // pass, linear in corpus bytes
    t("nfc_fold")(d.select(graft.functions.TextFunctions.foldAccents(
        concat(col("text"), lit(" café résumé"))).as("t"))
      .agg(sum(length(col("t")))).head().getLong(0))
    // q296: hashed-n-gram classifier inference — one codegen kernel
    // call per row (per-gram md5 inside the kernel loop), no shuffle
    // until the tiny rollup; cost is linear in corpus BYTES
    t("hash_classifier")({
      d.select(graft.functions.TextFunctions
          .hashedNgramScore(col("text"), 2, 2001).as("s"))
        .agg(sum(col("s")), sum(when(col("s") > 0, 1L).otherwise(0L)))
        .head()
      d.count()
    })
    // q297: suffix-chain explode (×~3 rows) + broadcast equi-join on
    // the suffix — membership test, linear in corpus, no theta join
    t("domain_blocklist")({
      val host = concat(
        when(col("doc_id") % 3 === 0,
          concat(lit("s"), pmod(col("doc_id"), lit(4L)), lit(".")))
          .otherwise(""),
        lit("ex-src"), pmod(col("doc_id"), lit(20L)),
        when(col("doc_id") % 2 === 0, ".com").otherwise(".org"))
      val rules = spark.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row("ex-src4.com"),
          org.apache.spark.sql.Row("s0.ex-src0.com"),
          org.apache.spark.sql.Row("ex-src7.org")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rule",
            org.apache.spark.sql.types.StringType))))
      graft.operators.TextOps.blocklistMatch(
          d.select(col("doc_id"), host.as("host")),
          "doc_id", "host", rules, "rule")
        .filter(col("matched_rule").isNotNull).count()
    })
    // q300: CDC chunking — per-window md5 inside one codegen kernel
    // call per doc (linear in corpus bytes), then the chunk-level
    // distinct/count rollup
    t("cdc_chunks")({
      val chunks = d.filter(length(col("text")) > 0)
        .select(explode(graft.functions.TextFunctions
          .cdcChunks(col("text"), 8, 64)).as("chunk"))
      chunks.agg(count(lit(1)), countDistinct(col("chunk")))
        .head(); d.count()
    })
    // q302: chunk near-dup — the pair join's fan-out is bounded by the
    // df cap (≤32² per chunk), so cost rides emitted pairs, never
    // |docs|²; the probe corpus is replicated, the adversarial case
    t("cdc_neardup")({
      val tf = graft.functions.TextFunctions
      val corpus = d.select(col("doc_id"), col("text"))
      val ch = corpus.filter(length(col("text")) > 0)
        .select(col("doc_id"),
          explode(tf.cdcChunks(col("text"), 8, 64)).as("chunk"))
        .filter(length(col("chunk")) >= 16).distinct()
      val rare = ch.join(ch.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") <= 32), Seq("chunk"))
      rare.select(col("doc_id").as("a"), col("chunk"))
        .join(rare.select(col("doc_id").as("b"), col("chunk")),
          Seq("chunk"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
        .count()
    })
    // q303/q304: index build is ONE tokenize + partitioned write
    // (linear); queries read only their terms' cells — their cost
    // rides df, not corpus size, which is the whole point
    t("inverted_index")({
      val tmp2 = java.nio.file.Files.createTempDirectory("probe-invidx")
        .toString
      graft.operators.InvertedIndex.build(d, "doc_id", "text", tmp2)
      val ph = graft.operators.InvertedIndex
        .phraseQuery(spark, tmp2, Seq("hash", "join")).count()
      val bool = graft.operators.InvertedIndex
        .andQuery(spark, tmp2, Seq("join", "filter", "stream")).count()
      val bm = graft.operators.InvertedIndex
        .bm25Query(spark, tmp2, Seq("vector", "join", "data"), 20).count()
      ph + bool + bm
    })
    // QUERY-SIDE latency under a grown index (round-10 verdict #8): the
    // build above dominates the combined probe, so the O(df)-not-
    // O(corpus) claim for the query path was asserted, not measured.
    // Build untimed, then time each query family alone — these numbers
    // should track df (which grows with the corpus here since replicas
    // repeat the text) but stay far below any corpus-scan term.
    if (only.forall(o => Seq("index_phrase_q", "index_bool_q",
        "index_bm25_q", "index_prox_q").exists(o.contains))) {
      val tmp3 = java.nio.file.Files.createTempDirectory("probe-invidx-q")
        .toString
      graft.operators.InvertedIndex.build(d, "doc_id", "text", tmp3)
      t("index_phrase_q")(graft.operators.InvertedIndex
        .phraseQuery(spark, tmp3, Seq("hash", "join")).count())
      t("index_bool_q")(graft.operators.InvertedIndex
        .andQuery(spark, tmp3, Seq("join", "filter", "stream")).count())
      t("index_bm25_q")(graft.operators.InvertedIndex
        .bm25Query(spark, tmp3, Seq("vector", "join", "data"), 20).count())
      t("index_prox_q")(graft.operators.InvertedIndex
        .proximityQuery(spark, tmp3, "join", "filter", 5).count())
    }
    // q299: robots parse is |hosts|·|lines| (1000 hosts here), the
    // verdict is a host-equi-join + per-(url,rule) prefix test — both
    // linear in the URL corpus with a per-host-bounded rule factor
    t("robots_filter")({
      val robots = d.select(pmod(col("doc_id"), lit(1000L)).as("h"))
        .distinct()
        .select(concat(lit("h"), col("h"), lit(".com")).as("host"),
          concat(lit("User-agent: *\nDisallow: /private\n" +
            "Allow: /private/ok\n"),
            when(col("h") % 2 === 0, "Disallow: /tmp\n").otherwise(""))
            .as("body"))
      val rules = graft.operators.TextOps.parseRobots(robots, "host", "body")
      val urls = d.select(col("doc_id"),
        concat(lit("h"), pmod(col("doc_id"), lit(1000L)), lit(".com"))
          .as("host"),
        when(col("doc_id") % 3 === 0,
          concat(lit("/private/"), col("doc_id")))
          .when(col("doc_id") % 3 === 1, concat(lit("/tmp/"), col("doc_id")))
          .otherwise(concat(lit("/a/"), col("doc_id"))).as("path"))
      graft.operators.TextOps.robotsVerdict(
          urls, "doc_id", "host", "path", rules)
        .filter(!col("allowed")).count()
    })
    // q290: per-value aggregation (map-side combinable) then ONE global
    // window over the distinct-value relation — the window's input is
    // |distinct values|, not |rows|; the probe watches that stay true
    t("ks_test")({
      import org.apache.spark.sql.expressions.Window
      val per = ev.filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("c1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c2"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.select(sum(col("c1")).over(w).as("f1"),
          sum(col("c2")).over(w).as("f2"))
        .agg(max(col("f1") - col("f2"))).head(); ev.count()
    })

    // round-11 lakehouse probes: a txlog table over the replicated
    // corpus — CDF cost must ride the CHANGED data (the delete's
    // affected files), never table size; a stats-pruned read must
    // beat (and never exceed) the full filter scan
    {
      val txNames = Seq("tx_build", "tx_cdf", "tx_skip_scan",
        "tx_full_scan", "seq_packing")
      if (only.forall(o => txNames.exists(o.contains))) {
        val tdir = java.nio.file.Files
          .createTempDirectory("probe-txlog").toString
        // the build runs UNCONDITIONALLY (every tx probe depends on
        // the table existing — PROBE_ONLY=tx_cdf alone must not run
        // against an empty log); it is only TIMED when requested
        def buildTx(): Long = {
          // range-clustered on doc_id with stats, then a small delete
          // (0.1% of ids) whose rewrite defines the change feed
          graft.operators.TxTable.commitAppend(
            d.repartitionByRange(32, col("doc_id")), tdir,
            statsCols = Seq("doc_id"))
          graft.operators.TxTable.commitDelete(spark, tdir,
            col("doc_id") % 997 === 0, statsCols = Seq("doc_id"))
          graft.operators.TxTable.currentVersion(tdir).toLong
        }
        val txProbeRuns = Seq("tx_build", "tx_cdf", "tx_skip_scan",
          "tx_full_scan").exists(n => only.forall(_.contains(n)))
        if (only.forall(_.contains("tx_build"))) t("tx_build")(buildTx())
        else if (txProbeRuns) buildTx()
        t("tx_cdf")(graft.operators.TxTable
          .changes(spark, tdir, 1).count())
        t("tx_skip_scan")(graft.operators.TxTable
          .snapshotWhere(spark, tdir,
            col("doc_id") >= 100L && col("doc_id") < 200L).count())
        t("tx_full_scan")(graft.operators.TxTable
          .snapshot(spark, tdir)
          .filter(col("doc_id") >= 100L && col("doc_id") < 200L).count())
      }
    }
    // round-12 deletion-vector probes: a merge-on-read delete must
    // cost the DV WRITE (rides matching rows), never the affected
    // files' rewrite — the two deletes run the SAME predicate on
    // identically-built tables; the DV-applied read adds one
    // anti-join over the narrow (file, pos) sidecar; purge rewrites
    // only DV'd files
    {
      val dvNames = Seq("tx_dv_delete", "tx_rewrite_delete",
        "tx_dv_read", "tx_dv_purge")
      if (only.forall(o => dvNames.exists(o.contains))) {
        def buildDvTable(): String = {
          val dir2 = java.nio.file.Files
            .createTempDirectory("probe-txdv").toString
          graft.operators.TxTable.commitAppend(
            d.repartitionByRange(32, col("doc_id")), dir2,
            statsCols = Seq("doc_id"))
          dir2
        }
        val dvDir = buildDvTable()
        // the DV delete runs UNCONDITIONALLY (read/purge depend on a
        // DV existing — PROBE_ONLY=tx_dv_read alone must not measure
        // a DV-less plain scan); it is only TIMED when requested
        if (only.forall(_.contains("tx_dv_delete")))
          t("tx_dv_delete")(graft.operators.TxTable
            .commitDeleteDV(spark, dvDir, col("doc_id") % 997 === 0)
            .toLong)
        else graft.operators.TxTable
          .commitDeleteDV(spark, dvDir, col("doc_id") % 997 === 0)
        t("tx_rewrite_delete")({
          val dir3 = buildDvTable()
          graft.operators.TxTable.commitDelete(spark, dir3,
            col("doc_id") % 997 === 0, statsCols = Seq("doc_id")).toLong
        })
        t("tx_dv_read")(graft.operators.TxTable
          .snapshot(spark, dvDir).count())
        t("tx_dv_purge")(graft.operators.TxTable
          .commitPurgeDVs(spark, dvDir).toLong)
      }
    }
    // round-13 partition probes: a whole-partition DELETE on a
    // hive-partitioned table is METADATA-ONLY (no scan, no rewrite,
    // no DV — one log write regardless of data size), against the
    // rewrite-path control deleting the same rows from an identical
    // unpartitioned table; the partition-pruned read touches only the
    // target partition's files with zero stats sidecars
    {
      val pNames = Seq("tx_part_delete", "tx_part_delete_ctl",
        "tx_part_read")
      if (only.forall(o => pNames.exists(o.contains))) {
        val dp = d.withColumn("lang",
          concat(lit("l"), pmod(col("doc_id"), lit(5L))))
        def buildPart(partitioned: Boolean): String = {
          val dir2 = java.nio.file.Files
            .createTempDirectory("probe-txpart").toString
          graft.operators.TxTable.commitAppend(
            dp.repartitionByRange(32, col("doc_id")), dir2,
            partitionBy = if (partitioned) Seq("lang") else Nil)
          dir2
        }
        val pDir = buildPart(true)
        t("tx_part_read")(graft.operators.TxTable
          .snapshotWhere(spark, pDir, col("lang") === "l3").count())
        t("tx_part_delete")(graft.operators.TxTable
          .commitDelete(spark, pDir, col("lang") === "l3").toLong)
        // the control table builds OUTSIDE the timer — only the
        // delete itself is under comparison
        if (only.forall(_.contains("tx_part_delete_ctl"))) {
          val cDir = buildPart(false)
          t("tx_part_delete_ctl")(graft.operators.TxTable
            .commitDelete(spark, cDir, col("lang") === "l3").toLong)
        }
      }
    }
    // q326/q327: train collapses to the word multiset (corpus-size-
    // independent EM); apply is a narrow memoized pass — linear
    t("unigram")({
      val pieces = graft.operators.Unigram.train(d, "text", 24)
      graft.operators.Unigram.tokenize(d, "doc_id", "text", pieces)
        .agg(sum(col("n_tokens"))).head().getLong(0)
    })
    // q324: ONE shuffle + per-shard running sums — linear in docs
    t("seq_packing")({
      val toks = d.select(col("doc_id"),
        size(graft.operators.TextOps.words(col("text"))).cast("long")
          .as("n_tok"))
        .filter(col("n_tok") > 0)
      graft.operators.Sampling
        .packSequences(toks, "doc_id", "n_tok", 2048, 64, "probe")
        .groupBy(col("shard"))
        .agg(max(col("chunk_last"))).count()
    })

    // q338/q339: index build is one window pass (linear); the delta
    // probe cost rides |batch| + matches, not corpus — batch fixed at
    // the UNSCALED sf0.1 odd docs while the index grows with mult
    t("winnow_idx")(graft.operators.Winnow
      .fingerprints(d, "doc_id", "text").count())
    t("winnow_probe")({
      val idx = graft.operators.Winnow
        .fingerprints(d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text").cache()
      idx.count()
      graft.operators.Winnow.matchesAgainst(idx,
        docs0.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text")),
        "doc_id", "text").count()
    })

    // q331: the doubling-round count is FIXED by the window
    // (ceil(log2 32) = 5), never by corpus size — per-round cost is
    // linear in character positions, so the probe should read ~linear
    // in mult with no round-count term
    t("suffix_spans")(graft.operators.SuffixDedup
      .duplicatedSpans(d, "doc_id", "text", window = 32).count())

    // q353: decontamination spans of the replicated train corpus
    // against an UNSCALED eval split (ids offset past every replica)
    // — cost must track the shared suffix ranking (q331's bound),
    // the contamination step itself rides |classes touched by eval|
    t("contam_spans")({
      val eval = graft.engine.Tables(spark, base, "documents")
        .select((col("doc_id") + (mult + 1).toLong * nDocs * 10)
          .as("doc_id"), col("text"))
      graft.operators.SuffixDedup
        .contaminationSpans(d, eval, "doc_id", "text", window = 32)
        .count()
    })

    // q374: graph-ANN build is bounded by the within-cell pair term
    // (nCells scaled ∝ corpus keeps cell size flat ⇒ build ~linear);
    // SEARCH cost must ride beam*degree*hops — a fixed query batch
    // against a mult-times-larger graph should read ~flat, since the
    // corpus-sized adjacency is probed by a broadcast frontier
    t("graph_ann_build")({
      val idx = graft.operators.GraphAnn.graphIndex(
        e, "vec_id", "embedding",
        nCells = math.max(16, 16 * mult))
      idx.adj.count()
    })
    t("graph_ann_search")({
      val idx = graft.operators.GraphAnn.graphIndex(
        e, "vec_id", "embedding",
        nCells = math.max(16, 16 * mult))
      idx.adj.persist().count()
      val q = e.filter(col("vec_id") < 30)
      val t0 = System.nanoTime()
      val n = graft.operators.GraphAnn.graphSearch(idx, q,
        "vec_id", "embedding", k = 10, beam = 24).count()
      println(f"[scale]   (search-only: ${(System.nanoTime() - t0) / 1e9}%.1f s)")
      idx.adj.unpersist()
      n
    })

    // q373: chunk -> embed -> ivfAppend — the RAG ingest loop; one
    // narrow chunk pass + one broadcast-centroid assignment pass, so
    // the pipeline must ride corpus bytes ~linearly
    t("rag_ingest")({
      val chunks = graft.operators.TextOps
        .chunkTokens(d, "doc_id", "text", 64, 16)
        .select(col("doc_id"), col("chunk_idx"),
          array((0 until 8).map(i =>
            (expr(s"conv(substring(md5(chunk_text), ${i * 4 + 1}, 4), 16, 10)")
              .cast("double") / 65535.0).cast("float")): _*).as("emb"),
          (col("doc_id") * 100000L + col("chunk_idx")).as("chunk_id"))
      val dir2 = java.nio.file.Files
        .createTempDirectory("scaleprobe-rag-").toString
      graft.operators.Similarity.ivfIndex(
        chunks.filter(col("doc_id") % 2 === 0), "chunk_id", "emb",
        nCentroids = 16).write(dir2)
      graft.operators.Similarity.ivfAppend(spark, dir2,
        chunks.filter(col("doc_id") % 2 =!= 0), "chunk_id", "emb")
        .postings.count()
    })

    // ---- hot-key window probes (r16, verdict item 7): a PLANTED hub /
    // hot gram, committed count-over-window shape vs the old
    // aggregate+join outdeg shape, same JVM. The window buffers one
    // out-edge group per node (spillable ExternalAppendOnlyUnsafeRow-
    // Array); the hub makes that group `n` rows in ONE task — the probe
    // certifies the spill path degrades gracefully rather than OOMing
    // or going superlinear vs the old join (whose build side co-located
    // the same rows in the same task anyway).
    def hubEdges = {
      // star hub (node 0 <-> 1..n, both directions) + ring over 1..n:
      // every node has in- and out-degree >= 1, hub outdeg = n
      val n = 100000L * mult
      val hub = spark.range(n).select(lit(0L).as("src"),
        (col("id") + 1L).as("dst"))
      val hubRev = spark.range(n).select((col("id") + 1L).as("src"),
        lit(0L).as("dst"))
      val ring = spark.range(n).select((col("id") + 1L).as("src"),
        (pmod(col("id") + 1L, lit(n)) + 1L).as("dst"))
      hub.unionByName(hubRev).unionByName(ring)
    }
    t("pagerank_hub_window")({
      val r = graft.operators.PageRank.run(hubEdges, 3)
      val out = r.count()
      graft.engine.Checkpoints.release(r)
      out
    })
    t("pagerank_hub_oldjoin")({
      // the pre-r15 outdeg attachment: aggregate + equi-join + pinned
      // repartition (inlined so the A/B survives operator rewrites)
      val e2 = hubEdges.select(col("src").cast("long").as("e_src"),
        col("dst").cast("long").as("e_dst"))
      val outdeg = e2.groupBy(col("e_src"))
        .agg(count(lit(1)).as("d"))
        .select(col("e_src").as("o_src"), col("d"))
      val ew = e2.join(outdeg, col("e_src") === col("o_src"))
        .select(col("e_src"), col("e_dst"), col("d"))
        .repartition(col("e_src"))
        .persist()
      val ranks0 = outdeg.select(col("o_src").as("node"),
        lit(graft.operators.PageRank.Scale).as("r"))
      val ranks = graft.engine.Fixpoint.iterate(ranks0, 3) { (ranks, _) =>
        ranks
          .join(ew, col("node") === col("e_src"))
          .select(col("e_dst").as("node2"), expr("r div d").as("c"))
          .groupBy(col("node2"))
          .agg(sum(col("c")).as("s"))
          .select(col("node2").as("node"),
            (lit(15L * graft.operators.PageRank.Scale / 100) +
              expr("(85 * s) div 100")).as("r"))
      }.state
      ew.unpersist()
      val out = ranks.count()
      graft.engine.Checkpoints.release(ranks)
      out
    })
    t("suffix_hotgram")({
      // every document shares a 58-char prefix: its window-grams form
      // hot suffix classes of size |docs| that land in ONE rerank /
      // seed window task each — the r15 advisor's skew scenario
      val hot = "the quick brown fox jumps over the lazy dog once more..."
      val docsH = spark.range(5000L * mult).select(col("id").as("doc_id"),
        concat(lit(hot), lit(" "), col("id").cast("string")).as("text"))
      graft.operators.SuffixDedup.duplicatedSpans(docsH, "doc_id", "text",
        window = 32, minCount = 2L).count()
    })

    spark.stop()
  }
}
