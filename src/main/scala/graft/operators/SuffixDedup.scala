package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT substring deduplication via distributed prefix doubling —
  * the Lee et al. "Deduplicating Training Data Makes Language Models
  * Better" (2022) capability, re-expressed as Spark relational
  * rounds instead of a monolithic suffix array.
  *
  * Semantics: a position is DUPLICATED when the `window`-char
  * substring starting there occurs more than once in the corpus;
  * the removal set per document is the union of all duplicated
  * substrings of length >= window. The union over duplicated
  * substrings of length >= W equals the union over duplicated
  * substrings of length EXACTLY W (any longer duplicate is a run of
  * overlapping duplicated W-grams, and every duplicated W-gram is
  * itself a duplicate), so merged islands of duplicated W-gram
  * starts are the TRUE maximal duplicated regions — a 500-char
  * repeat surfaces as one 500-char span, not clipped at the window
  * (the q63 shingle formulation's documented gap). No hashing
  * anywhere: class equality IS substring equality, so the result is
  * collision-free exact — the property the Lee et al. suffix-array
  * design insists on and hashed shingles give up.
  *
  * The doubling machinery (Manber–Myers, SODA 1990), Spark-shaped:
  *
  *  - "Suffix i pairs with suffix i+2^k" is NOT a join here:
  *    positions are DENSE within a document, so the neighbor rank is
  *    `lead(cls, h)` over (partition did, order pos) — and since
  *    every round uses the same window spec, Catalyst plans ALL
  *    rounds over ONE exchange + sort. A join-per-round formulation
  *    measured 4x slower at sf0.1 from exchange/sort fan-out alone.
  *  - Pairing widens the class id (two ids make one); re-ranking
  *    back to a single long costs a groupBy + join-back, so it is
  *    done LAZILY — only when the id would exceed 4 longs (32
  *    bytes), not every round. Wide windows therefore re-rank every
  *    second doubling (half the classic round cost) while shuffle
  *    rows stay <= 32 bytes — the invariant that matters at 100 TB,
  *    where a literal W-gram shuffle is an n x W-byte job.
  *  - Class ids are deterministic (engine- and partitioning-
  *    independent): a re-rank keys each class by its MINIMUM
  *    (doc<<20|pos) member, never by a hash or a zipWithIndex.
  *  - Seeds are literal blocks of up to 8 chars (an 8-byte payload
  *    shuffles no wider than the long it becomes), skipping the
  *    first three doubling rounds outright.
  */
object SuffixDedup {

  private val ByDoc = Window.partitionBy(col("did")).orderBy(col("pos"))

  /** Per-position window classes: (did, pos, cls) for every 1-based
    * pos with pos + window - 1 <= length(text); `cls` is an OPAQUE
    * equality-comparable id (long or struct of longs, depending on
    * the re-rank schedule): two rows share a cls iff their
    * `window`-char substrings are equal. Documents are independent
    * suffix universes (spans never cross docs), so the corpus never
    * concatenates — rounds partition by document, which holds at any
    * scale (docs bounded at ~1M chars by the position encoding;
    * chunk longer inputs upstream).
    */
  def windowClasses(docs: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    require(window >= 2, "window must be >= 2")
    require(window <= (1 << 20), "window must fit the position encoding")
    val h0 = Integer.highestOneBit(window) // floor-pow2 block size
    val b = math.min(8, h0)
    // a small input (one parquet file) would otherwise run the 300x
    // row-exploding seed on one core
    val grams = graft.engine.Par.widen(docs)
      .filter(length(col(textCol)) >= b)
      .select(col(idCol).cast("long").as("did"),
        posexplode(transform(
          sequence(lit(1), length(col(textCol)) - lit(b - 1)),
          i => col(textCol).substr(i, lit(b)))).as(Seq("p0", "g")))
      .select(col("did"), (col("p0") + 1).cast("int").as("pos"), col("g"))
    // seed class id as a min-member WINDOW over the gram groups: ONE
    // shuffle of the gram rows (by g) instead of the previous
    // aggregate + join-back pair, and no cache of the string-payload
    // gram relation needed (it is read exactly once now). Same cls per
    // row — min over the same group. (The PageRank round-15 outdeg
    // lesson: attach a group aggregate on the shuffle you already pay,
    // don't re-join it.)
    var cls = grams
      .withColumn("cls", minMember().over(Window.partitionBy(col("g"))))
      .select(col("did"), col("pos"), col("cls"))
      .repartition(col("did")) // the ONE exchange all rounds share
    var h = b
    var width = 1 // longs in the current cls representation
    def pair(shift: Int): Unit = {
      cls = cls
        .withColumn("cls2", lead(col("cls"), shift).over(ByDoc))
        .filter(col("cls2").isNotNull)
        .select(col("did"), col("pos"),
          struct(col("cls"), col("cls2")).as("cls"))
      width *= 2
    }
    while (h < h0) {
      pair(h)
      h *= 2
      // keep shuffle rows narrow for the NEXT pairing; the last
      // round's width is for the caller's aggregate, which
      // map-side-combines before it ever hits the wire
      if (width >= 4 && h < h0) { cls = rerank(cls); width = 1 }
    }
    // non-power windows: two OVERLAPPING h0-blocks (at pos and at
    // pos + window - h0) pin the window exactly — the classic O(1)
    // substring-equality trick over one rank table
    if (window > h0) pair(window - h0)
    cls
  }

  /** Deterministic class representative: its minimum (did<<20|pos). */
  private def minMember(): Column =
    min(shiftleft(col("did"), 20) + col("pos"))

  /** Collapse a widened class id back to one long: a min-member
    * window keyed on the class — ONE shuffle of the rank table, no
    * aggregate+join-back, no cache (the r15 rewrite, −4.5 s over the
    * suffix family at sf0.1). Skew note (the r15 advisor finding): a
    * hot class now buffers in ONE WindowExec task
    * (ExternalAppendOnlyUnsafeRowArray — spills, never OOMs) where
    * the old aggregate+join-back shape map-side-combined and was
    * AQE-skew-splittable. The exposure is the same ROWS landing in
    * the same task (the join-back also co-located them); the window
    * trades AQE splitability for one less |rows| exchange. At sf>=1
    * with a planted hot gram it degraded gracefully (the r16 probe,
    * `ScaleProbe.scala` in git history at 466ea44); a salted
    * two-phase fallback is the recorded mitigation if a measurement
    * ever shows the spill path degrading.
    */
  private def rerank(cls: DataFrame): DataFrame =
    // min-member window over the class groups — one shuffle, no
    // aggregate+join-back, no cache (same rewrite as the seed above)
    cls.withColumn("nc", minMember().over(Window.partitionBy(col("cls"))))
      .select(col("did"), col("pos"), col("nc").as("cls"))
      .repartition(col("did")) // restore round partitioning

  /** Maximal duplicated regions: (doc_id, span_start, span_len), one
    * row per maximal union-merged run of duplicated `window`-gram
    * starts (1-based, end-exclusive length). `minCount` > 2 raises
    * the duplication bar (e.g. "appears in 3+ places").
    *
    * Cost shape: the duplicated-class filter is one count aggregate
    * over the class table (map-side combinable — duplication-heavy
    * corpora COMPRESS here); the island merge windows reuse the
    * rounds' document partitioning, and the merge output is
    * span-sized, not corpus-sized.
    */
  /** The REMOVAL transform (what [[duplicatedSpans]] only reports):
    * cleaned text with every duplicated region cut, KEEP-FIRST — the
    * occurrence at each duplicated window's minimum (doc<<20|pos)
    * keeps its characters; all other occurrences lose theirs. The
    * per-character rule is exact and engine-independent: character c
    * of doc d is removed iff SOME duplicated window covering c starts
    * at a non-canonical occurrence — so an independent SQL replay
    * reconstructs the identical cleaned string. Output:
    * (doc_id, clean_text, n_removed).
    *
    * Cost shape: one extra aggregate over the class table for the
    * canonical member, then the island machinery of
    * [[duplicatedSpans]] on the non-canonical starts only; the final
    * string surgery is a narrow per-doc fold over its own (span)
    * list — no per-character rows ever materialize.
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String,
      textCol: String, window: Int = 32,
      minCount: Long = 2L): DataFrame = {
    val cls = windowClasses(docs, idCol, textCol, window).cache()
    val stats = cls.groupBy(col("cls"))
      .agg(count(lit(1)).as("n"), minMember().as("keeper"))
    val removeStarts = cls.join(stats, Seq("cls"))
      .filter(col("n") >= minCount &&
        (shiftleft(col("did"), 20) + col("pos")) =!= col("keeper"))
      .select(col("did"), col("pos"))
    val spans = mergeIslands(removeStarts, window)
    val byDoc = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"),
        (col("span_start") + col("span_len")).as("e")))).as("spans"))
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_t"))
      .join(byDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("_t"),
        when(col("spans").isNull, col("_t")).otherwise(
          // fold the sorted spans: emit [cur, s), jump cur to e;
          // finish with the tail [cur, len]
          aggregate(col("spans"),
            struct(lit(1L).as("cur"), lit("").as("sb")),
            (acc, sp) => struct(
              sp.getField("e").as("cur"),
              concat(acc.getField("sb"),
                substring(col("_t"),
                  acc.getField("cur").cast("int"),
                  greatest(sp.getField("s") - acc.getField("cur"),
                    lit(0L)).cast("int"))).as("sb")),
            acc => concat(acc.getField("sb"),
              col("_t").substr(acc.getField("cur").cast("int"),
                length(col("_t"))))))
          .as("clean_text"))
      .withColumn("n_removed",
        (length(col("_t")) - length(col("clean_text"))).cast("long"))
      .drop("_t")
  }

  /** Union-merge [pos, pos+window) intervals per doc into maximal
    * spans: (doc_id, span_start, span_len).
    */
  private def mergeIslands(marked: DataFrame, window: Int): DataFrame = {
    val prevW = ByDoc.rowsBetween(Window.unboundedPreceding, -1)
    val runW = ByDoc.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    marked
      .withColumn("prev_end",
        max(col("pos") + lit(window)).over(prevW))
      .withColumn("ni",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(runW))
      .groupBy(col("did").as("doc_id"), col("isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(window) - min(col("pos")))
          .cast("long").as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 32, minCount: Long = 2L): DataFrame = {
    val cls = windowClasses(docs, idCol, textCol, window)
      .cache() // read twice: the dup aggregate and the semi join
    val dup = cls.groupBy(col("cls"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("cls"))
    val marked = cls.join(dup, Seq("cls"), "left_semi")
      .select(col("did"), col("pos"))
    mergeIslands(marked, window)
  }

  /** Cross-corpus contamination SPANS: the maximal regions of `train`
    * whose `window`-char substrings also occur anywhere in `eval` —
    * the Lee et al. decontamination question at span granularity
    * (q51/q69 answer it per document; this answers WHERE, so the
    * span-removal transform can cut the leaked text instead of
    * dropping the whole document). Both corpora ride ONE suffix
    * ranking (class equality IS substring equality — exact, no
    * hashing); a class is contaminated iff it has an eval member, and
    * spans are reported on the train side only. `idCol` values must
    * be disjoint across the two inputs (they share one (did, pos)
    * space). Cost: the shared ranking is the q331 plan over
    * |train| + |eval| positions; everything after is one aggregate +
    * one semi join.
    */
  def contaminationSpans(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, window: Int = 32): DataFrame = {
    val both = train.select(col(idCol), col(textCol))
      .unionByName(eval.select(col(idCol), col(textCol)))
    val cls = windowClasses(both, idCol, textCol, window)
      .cache() // read twice: the contamination aggregate and the mark
    val evalIds = eval.select(col(idCol).cast("long").as("did"))
      .distinct()
    val tagged = cls
      .join(evalIds.withColumn("_e", lit(1L)), Seq("did"), "left")
      .withColumn("_e", coalesce(col("_e"), lit(0L)))
    val contaminated = tagged.groupBy(col("cls"))
      .agg(max(col("_e")).as("he"))
      .filter(col("he") === 1L)
      .select(col("cls"))
    val marked = tagged.filter(col("_e") === 0L)
      .join(contaminated, Seq("cls"), "left_semi")
      .select(col("did"), col("pos"))
    mergeIslands(marked, window)
  }
}
