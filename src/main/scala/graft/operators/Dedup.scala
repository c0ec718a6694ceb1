package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.functions.HashExpressions

/** Deduplication operators for the training-data pipeline (SURVEY.md §2.3).
  *
  * Scale posture (100 TB): never O(n²). Every near-dup variant goes
  * through a bounded candidate-generation step (inverted index, LSH band
  * bucket, or simhash block) whose join key is the shuffle key, then
  * verifies only candidates. Signatures are computed in ONE pass per doc
  * by native codegen expressions — no per-shingle shuffle.
  */
object Dedup {

  /** Exact dedup: group identical content, keep the minimum id.
    * At scale the groupBy key is a 256-bit content hash (fixed width)
    * rather than the document body, so shuffle volume is id+digest.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol).cast("binary"), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram array of the token column `__t` via the one-pass
    * [[HashExpressions.ngrams]] kernel (shared by the shingle explode
    * and the one-pass signatures; the DuckDB oracles replay the
    * transform(sequence, concat_ws(slice)) column twin the kernel is
    * bit-compatible with — see HashKernels.ngramArray).
    */
  private def grams(n: Int): Column = HashExpressions.ngrams(col("__t"), n)

  /** Distinct word n-gram shingles: (id, shingle) rows. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("id"), explode(grams(n)).as("s"))
      .distinct()

  /** Exact n-gram Jaccard near-dup pairs, with the candidate strategy
    * chosen ADAPTIVELY from the measured shingle df distribution. Both
    * strategies are exact (identical output pair set); they differ only
    * in which pair space they expand:
    *
    *  - **direct** ([[jaccardDirect]], the r2–r13 form): postings
    *    self-join — pair expansion Σ df(s)·(df(s)−1)/2 over every
    *    shingle, one join + one count. Optimal when document
    *    frequencies are modest (measured 2.4 s vs the prefix path's
    *    11.6 s on the driver sf0.1 corpus, ratio ≈ 5 pair rows per
    *    posting).
    *  - **prefix** ([[jaccardPrefix]]): global-rarity prefix filtering
    *    (SSJoin/PPJoin principle — Chaudhuri et al. ICDE'06, Xiao et
    *    al. WWW'08). J(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉, so under any
    *    global total order the first |A|−⌈t·|A|⌉+1 shingles of each
    *    side must share an element — indexing ONLY the ascending-df
    *    prefix drops the df² head without losing a qualifying pair,
    *    then an ids-only count-based re-join verifies survivors.
    *    Optimal when boilerplate/common shingles dominate: the r14
    *    closed-vocabulary 10× scale run measured the direct form at
    *    exponent 1.4 (2.1 s → 55.4 s) where prefix stayed ~linear.
    *
    * The decision pre-pass measures the ratio on a deterministic 10%
    * document sample (hash-gated, one action over a tenth of the
    * corpus — the strategy choice must not cost a full extra shingle
    * scan, and the pair-expansion ratio of a p-sample estimates the
    * full ratio as ratio_sample / p: large-df head shingles scale
    * their df by p, while the rare tail contributes ~0 to both sides).
    * Crossover at estimated pairExpansion > 16 × postings: measured
    * full-corpus ratios are ~5 on both the driver fixture and a
    * Heaps-law synthetic corpus (direct wins) and ~45+ on the
    * degenerate closed-vocabulary corpus (prefix wins by 5×); 16 sits
    * between with margin, and at web scale true boilerplate pushes the
    * ratio to 10^3+ so the branch is unambiguous there. Sampling noise
    * can only flip the branch near the crossover, where both
    * strategies cost about the same — the OUTPUT is identical either
    * way (a randomized fuzz pins the two strategies bit-identical on
    * both corpus shapes).
    *
    * NOTE (construction-time eagerness): the decision pre-pass runs TWO
    * Spark actions when this method is CALLED — the hash-gated sample
    * scan and the one-row stats `head()` — so building the plan (for
    * EXPLAIN, plan audits, or query registration) already launches jobs,
    * and the strategy is frozen at build time against the input as it
    * exists then, not at execution. Callers that need fully lazy
    * construction should call [[jaccardDirect]]/[[jaccardPrefix]]
    * directly with a strategy they chose themselves.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    // no cache: consumers share the shingle shuffle via exchange reuse
    // within one execution; a cache here would pin executor storage
    val sh = shingles(docs, idCol, textCol, n)
    val p = 10 // sample 1-in-p documents for the strategy estimate
    val sample = shingles(
      docs.filter(pmod(xxhash64(col(idCol)), lit(p)) === 0), idCol, textCol, n)
    val stats = sample.groupBy("s").agg(count(lit(1)).as("df"))
      .agg(
        coalesce(sum(col("df")), lit(0L)).as("postings"),
        coalesce(sum(col("df") * (col("df") - 1) / 2).cast("long"), lit(0L)).as("pairExp"))
      .head()
    val (postings, pairExp) = (stats.getLong(0), stats.getLong(1))
    // estimated full ratio = (pairExp/postings) / (1/p); compare to 16
    // in integer form: pairExp * p > 16 * postings
    if (postings == 0L || pairExp * p <= 16L * postings) jaccardDirect(sh, threshold)
    else jaccardPrefix(sh, sh.groupBy("s").agg(count(lit(1)).as("df")), threshold)
  }

  /** Direct postings self-join (see [[ngramJaccardPairs]]). `sh` is the
    * distinct (id, s) shingle relation.
    */
  private[graft] def jaccardDirect(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // Measured negative result (r12, still true): routing this join
    // through the salted+singleton-pruned machinery the LSH tiers use
    // was 1.8x slower — natural shingles repeat across documents, so
    // the prune removes little while its window sort and the 16x
    // left-side replication are pure overhead on a join whose OUTPUT
    // (one row per shared shingle) is the payload.
    val common = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    jaccardTail(common, sizes, threshold)
  }

  /** Global-rarity prefix filtering + candidate re-join verify (see
    * [[ngramJaccardPairs]]). The earlier PPJoin attempt here shuffled
    * whole shingle-set payloads for an array_intersect verify and
    * measured 2x slower; this variant keeps the ids-only count-based
    * verify, re-joining the full postings on surviving candidates only.
    */
  private[graft] def jaccardPrefix(sh: DataFrame, dfreq: DataFrame,
                                       threshold: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("s"))
    // prefix length |S| - ceil(t|S|) + 1 in GLOBAL (df, s) order
    val prefix = sh.join(dfreq, "s")
      .join(sizes, "id")
      .withColumn("rk", row_number().over(wId))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold) + lit(1))
      .select("id", "s")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact |A∩B| for candidates only: fan each candidate out over A's
    // full shingle set (ids-only rows), then equi-join (id_b, s)
    // against the postings to count the matches
    val common = cand
      .join(sh.select(col("id").as("id_a"), col("s")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("common"))
    jaccardTail(common, sizes, threshold)
  }

  /** Shared size-join + Jaccard-threshold tail of both strategies. */
  private def jaccardTail(common: DataFrame, sizes: DataFrame,
                          threshold: Double): DataFrame =
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Exact-substring (span) near-dup pairs — the verbatim-run criterion
    * of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): two documents are near-dups when
    * they share ANY contiguous run of `k` whitespace tokens verbatim.
    * This catches partial-overlap duplication (syndicated articles with
    * different headers, quoted passages, re-hosted pages) that
    * whole-document Jaccard (d2/d3) under-scores. Returns one row per
    * pair with the count of distinct shared window hashes.
    *
    * Spark re-expression of the paper's suffix-array construction: an
    * inverted index over the k-token windows, keyed by a FIXED-WIDTH
    * window hash ([[HashExpressions.fnv61]], one codegen pass) so the
    * shuffle carries (id, 8 bytes) instead of k-token strings. The
    * posting-list gate does double duty at 100 TB: singleton windows
    * (the overwhelming majority) can never pair and are dropped before
    * the self-join, and windows in more than `maxPostings` documents are
    * boilerplate — license headers, templates — whose |postings|² pair
    * space is mass duplication for the cluster to drown in, not a dedup
    * signal; real near-dup pairs of such documents still surface through
    * their rarer windows. The gate's window count shuffles on the same
    * key the self-join needs, so the exchange is reused, and hash
    * collisions (2^-61 per window pair) can only inflate `n_shared` by
    * arithmetic both engines share.
    */
  def substringPairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, maxPostings: Int = 1000): DataFrame = {
    val wh = docs.select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= k)
      .select(col("id"), explode(grams(k)).as("s"))
      .select(col("id"), HashExpressions.fnv61(col("s")).as("h"))
      .distinct()
    val gated = pruneSingletonBuckets(wh, Seq("h"), maxPostings, tag = "d8")
    gated.as("a").join(gated.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-document repeated-segment removal (d16) — the line-level
    * dedup stage of the public web-corpus pipelines (CCNet's paragraph
    * hashing, RefinedWeb/Dolma's repeated-line filters): a SEGMENT that
    * occurs in at least `minDf` distinct documents is boilerplate
    * (headers, templates, navigation chrome) and is dropped from EVERY
    * document — or, with `keepFirst`, from every document EXCEPT its
    * first (minimum-doc_id) host: the two public variants of the stage
    * (RefinedWeb-style repeated-line REMOVAL vs CCNet/Dolma-style
    * paragraph DEDUP, which preserves one canonical copy). Surviving
    * segments are reassembled in document order.
    * Production corpora segment on newlines; this corpus is
    * single-line, so the pluggable segmenter here is fixed `window`-
    * token chunking — the algebra downstream of segmentation (df-count
    * → boilerplate set → drop → positional reassembly) is identical.
    *
    * Output: (doc_id, clean_text, n_dropped) for every input doc —
    * a fully-boilerplate doc survives with empty text (the caller's
    * length filter, t2, is the policy layer; this operator never
    * silently loses a doc id).
    *
    * Scale shape (three keyed shuffles, no corpus joins): the df count
    * shuffles (segment, doc) once with map-side partial aggregation;
    * the boilerplate set — tiny relative to the corpus by construction
    * (it IS the repeated mass) — joins back to the segment stream
    * (AQE broadcasts it when small); the reassembly is one groupBy on
    * doc_id with an in-group sort, Θ(corpus). Nothing is quadratic in
    * document count or segment df, unlike pair-based dedup: this is the
    * degenerate-duplication regime (d8's pruneSingletonBuckets gate)
    * handled as a first-class transform instead of a pair generator.
    */
  /** The d16/st13 segmenter: fixed-`window`-token chunks of each doc
    * (production corpora segment on newlines; this corpus is
    * single-line). Returns (doc_id, segno, seg), empty segments
    * dropped. One codegen pass, no shuffle.
    */
  private[graft] def segmentDocs(base: DataFrame, window: Int): DataFrame = {
    // guards every consumer (lineDedup, landSegDfIndex,
    // classifyAbsorbSegBatch): window = 0 would overflow the ceil into
    // null segnos and silently mis-segment instead of failing fast (the
    // postingsIndex blockSize precedent)
    require(window > 0, s"segment window must be positive, got $window")
    base
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(sequence(lit(0),
        greatest((ceil(size(col("w")).cast("double") / window) - 1)
          .cast("int"), lit(0)))).as("segno"),
        col("w"))
      .select(col("doc_id"), col("segno"),
        concat_ws(" ", slice(col("w"), col("segno") * window + 1,
          lit(window))).as("seg"))
      .filter(col("seg") =!= "")
  }

  /** The d16/st13 positional reassembly: surviving segments back into
    * document order, plus the dropped count; every doc id in `ids`
    * survives (a fully-boilerplate doc keeps an empty clean_text).
    * `flagged` = (doc_id, segno, seg, __drop).
    */
  private def reassembleSegs(ids: DataFrame, flagged: DataFrame): DataFrame = {
    val reb = flagged
      .groupBy("doc_id")
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(" +
            "CASE WHEN NOT __drop THEN struct(segno, seg) END))," +
            " x -> x.seg)"), " ").as("clean_text"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"))
    ids.join(reb, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                window: Int = 10, minDf: Int = 2,
                keepFirst: Boolean = false): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val segs = segmentDocs(base, window)
    // keepFirst carries the min occupying doc alongside the df count
    // (same single aggregation — min rides the countDistinct shuffle),
    // so a repeated segment survives in its first (minimum-doc_id) host
    // and within it; the boilerplate mode drops it everywhere
    val boiler = segs.groupBy("seg")
      .agg(countDistinct("doc_id").as("nd"), min("doc_id").as("first_doc"))
      .filter(col("nd") >= minDf)
      .select(col("seg"), col("first_doc"), lit(true).as("__boiler"))
    val dropCond =
      if (keepFirst) col("__boiler").isNotNull && col("doc_id") =!= col("first_doc")
      else col("__boiler").isNotNull
    val flagged = segs.join(boiler, Seq("seg"), "left")
      .withColumn("__drop", dropCond)
    reassembleSegs(base.select("doc_id"), flagged)
  }

  /** d18: the standard corpus-cleaning recipe as ONE declarative plan —
    * the composition a real pretraining pipeline runs end-to-end
    * (reference analog: the CCNet/RefinedWeb stage order):
    *
    *  1. exact dedup, keep-first: one survivor per sha256(text)
    *     (minimum doc_id — the [[exactDedup]] rule);
    *  2. keep-first line dedup over those survivors ([[lineDedup]] with
    *     `keepFirst`): cross-document boilerplate segments survive only
    *     in their first host — and the boilerplate df counts are
    *     measured AFTER exact dedup, so a page duplicated 1,000×
    *     contributes ONE host, not 1,000 (running the stages in this
    *     order is the recipe's point);
    *  3. quality filter on the CLEANED text: [[TextAnalysis.qualityScore]]
    *     over clean_text with n_chars = length(clean_text) — scoring the
    *     text a model would actually train on, not the raw page — keep
    *     score ≥ minScore (empty-after-cleaning docs drop first; they
    *     have no length to divide by and nothing to train on).
    *
    * Two OPTIONAL stages complete the CCNet/Dolma production order
    * (dedup → decontaminate → scrub → quality), r17 VERDICT #7:
    * `decontaminate = Some(bench)` drops any survivor whose CLEANED
    * text still shares a `decontamN`-gram with the eval set (the d9
    * sketch-prefilter + exact-verify machinery — eval-side cost is one
    * Bloom sketch, corpus-side a prefiltered sliver); `scrubPii` runs
    * the t7 redaction over clean_text BEFORE scoring, so the quality
    * cut sees the text a model would train on.
    *
    * Output: (doc_id, clean_text, n_dropped, score) for the surviving
    * corpus. Composing DECLARATIVELY (no materialization between
    * stages) lets Catalyst plan the whole recipe at once: the sha
    * groupBy and the segment-df groupBy are the only corpus shuffles,
    * the scrub/score stages are pure projections fused onto stage 2's
    * reassembly output, and at 100 TB the default recipe's cost is
    * exactly its two aggregations plus one semi-join — no intermediate
    * parquet, no second scan of the raw corpus (decontamination adds
    * its gram explode + the sliver verify, with the reassembly
    * exchange REUSED across the anti-join's two references).
    */
  def cleanPipeline(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 10, minDf: Int = 2,
                    minScore: Double = 0.5,
                    decontaminate: Option[DataFrame] = None,
                    decontamN: Int = 13,
                    scrubPii: Boolean = false): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val keep1 = base
      .groupBy(sha2(col("text").cast("binary"), 256).as("__sha"))
      .agg(min(col("doc_id")).as("doc_id"))
    val survivors1 = base.join(keep1, Seq("doc_id"), "left_semi")
    val cleaned = lineDedup(survivors1, "doc_id", "text", window, minDf,
      keepFirst = true)
    // optional stage 2b — benchmark decontamination of the CLEANED text
    // (the CCNet/Dolma order: a doc whose post-dedup text still shares a
    // decontamN-gram with the eval set is dropped outright). The d9
    // machinery: the eval side collapses to one Bloom sketch, positives
    // are verified exactly, so the drop set is bit-identical to the d7
    // broadcast join. `cleaned` is referenced by both anti-join sides
    // with the IDENTICAL plan, so its reassembly exchange is reused, not
    // recomputed (ReuseExchange on equal canonical subtrees).
    val decon = decontaminate match {
      case Some(bench) =>
        val contaminated = bloomSharedGrams(
          shingles(cleaned, "doc_id", "clean_text", decontamN),
          bench, idCol, textCol, decontamN,
          expectedItems = 1L << 20, numBits = 1L << 23)
          .select("doc_id")
        cleaned.join(contaminated, Seq("doc_id"), "left_anti")
      case None => cleaned
    }
    // optional stage 2c — PII scrub BEFORE scoring (the t7 redaction
    // family): the quality cut is taken on the text a model would
    // actually train on, redaction tokens included
    val scrubbed =
      if (scrubPii)
        decon.withColumn("clean_text",
          graft.operators.TextAnalysis.piiRedact(col("clean_text")))
      else decon
    scrubbed
      .filter(length(col("clean_text")) > 0)
      .withColumn("score", graft.operators.TextAnalysis.qualityScore(
        col("clean_text"), length(col("clean_text"))))
      .filter(col("score") >= minScore)
      .select("doc_id", "clean_text", "n_dropped", "score")
  }

  // --- incremental line dedup (st13): the streaming twin of d16 -----------
  // The boilerplate knowledge evolves with the corpus: a segment's df
  // accumulates as documents arrive, and each arrival is cleaned against
  // the df state AS OF ITS ARRIVAL — the first minDf-1 hosts keep their
  // copy (they were emitted before the segment became boilerplate; a
  // stream cannot retro-edit), every later host drops it. That is
  // exactly d17's keep-first rule generalized to arrival order.

  /** Bucket count of the st13 segment-df index's `_segdf` and `_docs`
    * tables: it has no meta table, so the land, the absorbs, the
    * compaction and the ingest loop's guard all read this one constant.
    */
  private[graft] val SegBuckets = 8

  /** Land the segment-df index for `docs`: `<tableBase>_segdf`
    * (batch_id, skey, seg, nd) bucketed by skey = xxhash64(seg) —
    * df DELTAS, one row per (batch, segment), summed at probe time —
    * and `<tableBase>_docs` (id), the arrival/redelivery guard.
    * The landed corpus writes batch_id = -1.
    *
    * Idempotence contract (at-least-once foreachBatch): delta rows
    * carry their batch_id and the probe aggregates
    * `sum(max(nd) per (batch_id, seg))` over batches EARLIER than the
    * probing batch — so a replayed batch neither double-counts its own
    * half-committed deltas (excluded: same batch_id) nor loses earlier
    * ones (max collapses duplicate appends of the identical replayed
    * content). `_docs` appends LAST so the guard key commits only
    * after the deltas are durable.
    */
  def landSegDfIndex(spark: SparkSession, docs: DataFrame, idCol: String,
                     textCol: String, window: Int, tableBase: String,
                     dir: String): Unit = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val deltas = segmentDocs(base, window)
      .select("doc_id", "seg").distinct()
      .groupBy("seg").agg(count(lit(1)).as("nd"))
      .select(lit(-1L).as("batch_id"), xxhash64(col("seg")).as("skey"),
        col("seg"), col("nd"))
    graft.sources.Sinks.bucketed(deltas, s"${tableBase}_segdf", "skey",
      SegBuckets, path = Some(s"$dir/segdf"))
    graft.sources.Sinks.bucketed(base.select(col("doc_id").as("id")),
      s"${tableBase}_docs", "id", SegBuckets, path = Some(s"$dir/docs"))
  }

  /** One st13 micro-batch: clean the arriving docs against the landed
    * segment-df state, spool (doc_id, clean_text, n_dropped) verdicts,
    * absorb the batch's df deltas. A segment instance is dropped iff
    * `prior_df + batch_host_rank >= minDf`, where prior_df sums the
    * index deltas of STRICTLY EARLIER batches and batch_host_rank is
    * the doc's 1-based rank among the batch's distinct hosts of that
    * segment (id order) — the arrival-ordered keep-first fold.
    *
    * Plan: one segmentation pass localCheckpointed and reused; the
    * batch's segment keys broadcast INTO the bucketed index scan (the
    * d11 probe shape — at 100 TB the scan prunes to the buckets the
    * batch touches); the host rank is a batch-sized window; reassembly
    * is the d16 groupBy. Absorb appends under the same bucket spec.
    */
  def classifyAbsorbSegBatch(spark: SparkSession, batch: DataFrame,
                             idCol: String, textCol: String,
                             tableBase: String, batchId: Long,
                             window: Int, minDf: Int,
                             outDir: String): Unit = {
    val base = batch.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val segs = segmentDocs(base, window).localCheckpoint()
    val hosts = segs.select("doc_id", "seg").distinct()
    val batchSegs = hosts.select("seg").distinct()
      .withColumn("skey", xxhash64(col("seg")))
    val prior = spark.table(s"${tableBase}_segdf")
      .filter(col("batch_id") < batchId)
      .join(broadcast(batchSegs), Seq("skey", "seg"))
      .groupBy("batch_id", "seg").agg(max("nd").as("nd"))
      .groupBy("seg").agg(sum("nd").as("prior"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy("doc_id")
    val verdict = hosts.withColumn("__r", row_number().over(w))
      .join(prior, Seq("seg"), "left")
      .select(col("seg"), col("doc_id"),
        (coalesce(col("prior"), lit(0L)) + col("__r") >= minDf).as("__drop"))
    val flagged = segs.join(verdict, Seq("seg", "doc_id"))
    // no repartition(1): the reassembly aggregate is the plan's last
    // exchange and AQE's partition coalescing already collapses its
    // batch-sized output — the explicit single-file exchange was one
    // more AQE stage job per micro-batch for the same spool content
    withDesc(spark, "cycle: clean spool") {
      reassembleSegs(base.select("doc_id"), flagged)
        .write.mode(SaveMode.Append).parquet(outDir)
    }
    val deltas = hosts.groupBy("seg").agg(count(lit(1)).as("nd"))
      .select(lit(batchId).as("batch_id"), xxhash64(col("seg")).as("skey"),
        col("seg"), col("nd"))
    // join-free appends: one job each under AQE-off (absorbMinhashCore)
    withDesc(spark, "cycle: absorb segdf") { withAqeOff(deltas.sparkSession) {
      graft.sources.Sinks.bucketed(deltas, s"${tableBase}_segdf", "skey",
        SegBuckets, mode = SaveMode.Append)
    } }
    withDesc(spark, "cycle: absorb docs") { withAqeOff(base.sparkSession) {
      graft.sources.Sinks.bucketed(base.select(col("doc_id").as("id")),
        s"${tableBase}_docs", "id", SegBuckets, mode = SaveMode.Append)
    } }
    spark.catalog.refreshTable(s"${tableBase}_segdf")
    spark.catalog.refreshTable(s"${tableBase}_docs")
  }

  /** Compact the st13 segment-df index: retire the per-batch small
    * files AND collapse the delta history — each segment's per-batch
    * max(nd) rows sum into ONE `batch_id = -1` row (exactly the
    * aggregation every probe would otherwise redo), and `_docs` is
    * rewritten to one file per bucket. Probe results over later batches
    * are bit-identical (spec-pinned): a collapsed row's -1 sorts below
    * every real batch id, so the `batch_id < probing` prior filter
    * keeps matching.
    *
    * Contract: run AT REST (no active stream) — collapsing batch ids
    * makes replays of PRE-compaction batches non-idempotent (their own
    * deltas would read as prior), so compaction is also a checkpoint
    * barrier, the same no-concurrent-writer cadence rule as
    * [[compactMinhashIndex]].
    */
  def compactSegDfIndex(spark: SparkSession, tableBase: String): Unit = {
    // max-per-(batch, seg) BEFORE the cross-batch sum — the probe's own
    // aggregation, so duplicate appends of a replayed batch collapse
    // here exactly as they would at probe time
    val (sb, sa) = compactBucketedTable(spark, s"${tableBase}_segdf", "skey",
      SegBuckets, df => df
        .groupBy("batch_id", "skey", "seg").agg(max(col("nd")).as("nd"))
        .groupBy("skey", "seg").agg(sum(col("nd")).as("nd"))
        .select(lit(-1L).as("batch_id"), col("skey"), col("seg"), col("nd")))
    val (db, da) = compactBucketedTable(spark, s"${tableBase}_docs", "id",
      SegBuckets, df => df.distinct()) // replayed guard appends collapse too
    graft.Metrics.set("st13.compact",
      "segdf_files_before" -> sb, "segdf_files_after" -> sa,
      "docs_files_before" -> db, "docs_files_after" -> da)
  }

  /** Benchmark decontamination — the training-data hygiene step every
    * large pretraining pipeline runs (the GPT-3/Gopher-style n-gram
    * collision check, reported in their public appendices): a corpus
    * document is contaminated when it shares any word `n`-gram with an
    * evaluation/benchmark document. Returns one row per contaminated doc
    * with the count of distinct shared n-grams (callers drop or audit).
    *
    * Scale posture: the benchmark side is an EVAL SET — thousands of
    * documents, not billions — so its distinct gram set is broadcast and
    * the 100 TB corpus side streams through the probe without a shuffle;
    * the only exchange is the final per-doc count. A corpus-sized
    * benchmark would flip this into the d2 inverted-index join instead.
    */
  def benchmarkContamination(docs: DataFrame, bench: DataFrame, idCol: String,
                             textCol: String, n: Int): DataFrame = {
    val dg = shingles(docs, idCol, textCol, n)
    val bg = shingles(bench, idCol, textCol, n).select(col("s")).distinct()
    dg.join(broadcast(bg), Seq("s")) // dg is distinct (id, gram): count = distinct shared
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Bloom-prefiltered benchmark decontamination — the same contract as
    * [[benchmarkContamination]] (exact distinct-shared-gram counts; the
    * GPT-3 appendix uses 13-gram windows for this check) realized
    * through Spark's runtime-filter machinery instead of a broadcast of
    * the raw gram strings.
    *
    * Why a second decontamination path: d7 broadcasts the eval set's
    * DISTINCT GRAM STRINGS, which is perfect while the eval set is
    * thousands of documents but grows linearly with it — a 10 GB gram
    * set no longer broadcasts. This variant aggregates the eval grams
    * into ONE compact Bloom sketch (`BloomFilterAggregate`, the exact
    * expression Spark's own InjectRuntimeFilter plants on shuffle
    * joins), ships the sketch (KBs–MBs regardless of eval-set size) into
    * a codegen `might_contain` probe on the corpus scan, and only the
    * bloom-surviving grams — true matches plus an `fpp` sliver of false
    * positives — reach the exact verification join. The OUTPUT is exact
    * (the verify join removes every false positive), so the oracle is
    * the same SQL as d7's; only the plan shape differs, and that shape
    * is what survives a 100 TB corpus against a large eval set.
    *
    * The sketch itself passes through the driver (`head()` on a 1-row
    * aggregate) exactly like Spark's runtime-filter subquery result —
    * a bounded sketch, never row data.
    */
  def bloomDecontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int,
                         expectedItems: Long = 1L << 20,
                         numBits: Long = 1L << 23): DataFrame =
    bloomSharedGrams(shingles(docs, idCol, textCol, n), bench, idCol,
      textCol, n, expectedItems, numBits)

  /** [[bloomDecontaminate]] over a PREBUILT distinct (id, s) gram
    * relation — the shared core, so [[cleanPipeline]] can decontaminate
    * the CLEANED text (grams of clean_text) through the identical
    * sketch-prefilter + exact-verify machinery.
    */
  private def bloomSharedGrams(dg: DataFrame, bench: DataFrame,
                               idCol: String, textCol: String, n: Int,
                               expectedItems: Long,
                               numBits: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64, BloomFilterMightContain}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val spark = dg.sparkSession
    // land the distinct eval grams ONCE: both the sketch-build action
    // and the verify join read the spool, so the eval-side
    // shingle+distinct pass — the dominant eval cost for the large sets
    // this operator exists for — runs a single time, and nothing stays
    // pinned in executor storage (a persist() would)
    val bgSpool = graft.sources.Spool.dir(spark, "bloom_bench_grams")
    shingles(bench, idCol, textCol, n).select(col("s")).distinct()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(bgSpool)
    // explicit schema: an EMPTY eval set may land zero part files, and
    // schema inference over a fileless dir throws where the empty
    // relation is the correct answer
    val bg = spark.read.schema("s STRING").parquet(bgSpool)
    val sketch = bg.select(ColumnBridge.column(
        new BloomFilterAggregate(
          new XxHash64(Seq(ColumnBridge.expression(col("s")))),
          Literal(expectedItems), Literal(numBits)).toAggregateExpression())
      .as("bf")).head().getAs[Array[Byte]](0)
    // empty eval set → null sketch → nothing is contaminated
    val pre =
      if (sketch == null) dg.limit(0)
      else dg.filter(ColumnBridge.column(BloomFilterMightContain(
        Literal(sketch, BinaryType),
        new XxHash64(Seq(ColumnBridge.expression(col("s")))))))
    // exact verify join over the bloom survivors: false positives die
    // here, so the result is bit-identical to benchmarkContamination.
    // Deliberately NO broadcast hint: a small eval set broadcasts via
    // AQE/threshold on the spool's known size, while the motivating
    // LARGE eval set flips to a shuffle join on `s` — over the
    // prefiltered corpus sliver, which is the point. A hard hint here
    // would re-create exactly the d7 broadcast ceiling d9 removes.
    pre.join(bg, Seq("s"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** MinHash signatures: (id, sig array<long>[k]) — one codegen pass/doc. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    docs.select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("id"),
        HashExpressions.minhash(array_distinct(grams(n)), k).as("sig"))

  /** MinHash + LSH banding near-dup pairs. Docs land in `bands` buckets
    * keyed by (band index, the band's signature rows); candidates are
    * same-bucket pairs; the estimated Jaccard is the fraction of
    * matching signature components. Band key is the shuffle key; a
    * degenerate band bucket is split 16 ways by the candidate salt. The key
    * is the signature SLICE itself (`rows` longs), not an engine hash of
    * it: textbook banding, a few extra key bytes on the shuffle, and the
    * bucketing is reproducible by any engine (which is what lets the d3
    * oracle recompute it in SQL).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rows = k / bands
    val sigs = minhashSignatures(docs, idCol, textCol, n, k) // exchange-reused, not cached
    val banded = bandRows(sigs, bands, rows)
    val cand = saltedSelfCandidates(banded, Seq("band", "bh"), tag = "d3")
    minhashVerify(cand, sigs, k, threshold)
  }

  /** Band rows (id, band, bh) for `sigs` = (id, sig): band `b` carries
    * the signature SLICE rows [b·rows+1, b·rows+rows]. One definition
    * shared by the self-join path ([[minhashLshPairs]]) and the landed-
    * index path ([[landMinhashIndex]]/[[incrementalMinhashPairs]]) so
    * the two bucketings can never drift.
    */
  private def bandRows(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> slice(sig, b * $rows + 1, $rows))"))
        .as(Seq("band", "bh")))

  /** Shared signature-verify tail: re-join (id, sig) onto ids-only
    * candidates, estimate Jaccard as the matching-component fraction
    * (one codegen pass, [[HashExpressions.longEqCount]] — same integer
    * count as the aggregate(zip_with(IF =)) twin the DuckDB oracle
    * replays), threshold, and report 4-dp rounded.
    */
  private def minhashVerify(cand: DataFrame, sigs: DataFrame, k: Int,
                            threshold: Double): DataFrame =
    cand.join(sigs.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a"), "id_a")
      .join(sigs.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b"), "id_b")
      .withColumn("est_jaccard",
        HashExpressions.longEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))

  /** Connected components over a near-dup pair list: every document in a
    * component gets the component's minimum id as its cluster id (the
    * canonical survivor). Alternating large-star / small-star edge
    * rewriting (the Connected Components in MapReduce construction,
    * Kiveris et al. 2014): each round contracts every path toward the
    * component minimum from BOTH ends, so convergence is O(log diameter)
    * rounds where one-hop min-label propagation needs O(diameter) — the
    * difference between a handful and hundreds of shuffle barriers when
    * a 100 TB corpus chains templated near-dups into long paths. A round
    * is two window-aggregated map phases over the edge list (no joins,
    * no driver-side union-find); at the fixed point the edge list IS the
    * component forest: a star (v → component-min) per component.
    */
  def dedupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                    maxIter: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
    // both edge directions in ONE pass over the (possibly expensive)
    // pair source — a union of two selects would compute it twice. The
    // undirected closure also yields the node inventory (every endpoint
    // appears as `a`), which the final labeling needs because star
    // rewriting drops rows that stop carrying connectivity (roots,
    // self-loops).
    val raw = pairs.select(explode(array(
        struct(col(idA).as("a"), col(idB).as("b")),
        struct(col(idB).as("a"), col(idA).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct().cache()
    val nodes = raw.select(col("a").as("id")).distinct()
    // working set: canonical larger→smaller orientation (self-loops
    // carry no connectivity; `nodes` keeps them for the output)
    var edges = raw.filter(col("a") > col("b")).cache()
    var edgeCnt = edges.count() // materializes the cache (and raw's)
    var converged = edgeCnt == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: per node u, link every LARGER neighbor to
      // m = min(Γ(u) ∪ {u}). The window aggregate reuses the
      // partition-by-u shuffle for both the min and the emit — no
      // neighborhood self-join.
      val nbrs = edges.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      // the mid-round distinct keeps duplicate (v, m) rows — emitted once
      // per same-cluster neighbor — out of small-star's window shuffle;
      // measured faster than skipping it (dup expansion outweighs the
      // extra exchange)
      val large = nbrs
        .withColumn("m", least(col("u"), min("v").over(w)))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
      // small-star: orient each edge to its larger endpoint, then link
      // that endpoint and all its (smaller) neighbors to the group
      // minimum. large's output is already (larger, smaller) —
      // m = min(Γ⁻(u) ∪ {u}) = min(v) since every v < u.
      val small = large.select(col("a").as("u"), col("b").as("v"))
        .withColumn("m", min("v").over(w))
        .select(explode(array(col("u"), col("v"))).as("x"), col("m"))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("a"), col("m").as("b"))
        .distinct().cache()
      // Convergence = exact fixed point of the round map. The count is
      // also the materialization barrier: every partition of `small` is
      // in the cache before the previous pin is released below (a
      // partial action would let later rounds recompute the whole
      // lineage chain through an already-dropped cache). The subset jobs
      // run only when the counts agree — a strict subset check then
      // decides set equality. left_anti, not except(): both sides are
      // already distinct, so except's extra post-join HashAggregate
      // (its distinct contract) is pure overhead on the convergence
      // round; emptiness of small∖edges is identical either way. The
      // equivalence leans on (a, b) being NON-NULL (except is null-safe,
      // a left_anti equi-join never matches NULL keys) — which holds by
      // construction: component ids come from min()/least() over the
      // non-null id domain, never from an outer join.
      val newCnt = small.count()
      converged = newCnt == edgeCnt &&
        small.join(edges, Seq("a", "b"), "left_anti").isEmpty
      edges.unpersist()
      // Cap the logical lineage: each round's plan nests the previous
      // round's two window phases, so by round N a task failure
      // recomputes an N-deep chain (and the plan itself grows). Every
      // 3rd round, truncate the plan with an eager checkpoint —
      // RELIABLE (written to the configured checkpoint dir, survives
      // executor loss) when the session has one, local otherwise (rows
      // live on executors: lost with one like any cached partition, but
      // recomputed-from-nothing is no longer possible either way). The
      // interval is 3 (not the label-propagation 5) because star rounds
      // are both heavier (two windows + distinct each) and fewer.
      if (!converged && (iter + 1) % 3 == 0) {
        val cp =
          if (pairs.sparkSession.sparkContext.getCheckpointDir.isDefined)
            small.checkpoint() // eager, reliable
          else small.localCheckpoint() // eager
        small.unpersist(blocking = false)
        edges = cp
      } else {
        edges = small
      }
      edgeCnt = newCnt
      iter += 1
    }
    // record the round count BEFORE the convergence check so a
    // non-converged run still leaves accurate (not stale) observability
    // behind; Metrics is the queryable surface for the O(log diameter)
    // claim (tests and the bench ledger read it; not operator output)
    graft.Metrics.set("d6", "rounds" -> iter, "converged" -> converged)
    // fail loudly rather than return silently-wrong labels for a
    // deeper-than-expected component chain
    require(converged,
      s"dedupClusters did not converge in $maxIter rounds — raise maxIter (2^$maxIter-diameter components?)")
    // At the fixed point every non-root node has exactly one outgoing
    // edge — to its component minimum (min() is a no-op safeguard);
    // roots and self-loop-only nodes label themselves.
    val parents = edges.groupBy(col("a").as("id")).agg(min("b").as("parent"))
    val out = nodes.join(parents, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("parent"), col("id")).as("cluster_id"))
      .cache()
    out.count() // materialize before releasing the inputs it reads
    raw.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    out
  }

  // --- shared candidate-join machinery (d2/d3/d4/d5) ------------------------
  // A degenerate bucket — mass-duplicated boilerplate that survives the
  // exact-dedup pre-pass by differing in one token — would expand its
  // quadratic pair space inside ONE task; the 16-way salt splits it.
  // `rel` must carry an `id` column and be narrow (id + bucket key):
  // callers join payloads back by id AFTER candidate generation.

  /** Prune buckets with a single member BEFORE any pair join: they can
    * never produce a pair, and on a 100 TB corpus MOST buckets are
    * singletons — replicating them over the salts just to join with
    * nothing would multiply the dominant (empty) part of the shuffle by
    * 16. The window count shuffles on the bucket key the self-join
    * needed anyway. `maxMembers` additionally drops oversized buckets
    * (d8's boilerplate-window gate); the LSH/simhash families keep the
    * unbounded default — their bucket width is governed by the
    * band/block parameters, and dropping a hot bucket there would
    * silently lose true near-dup pairs instead of noise.
    */
  private def pruneSingletonBuckets(rel: DataFrame, bucketCols: Seq[String],
                                    maxMembers: Int = Int.MaxValue,
                                    tag: String = "bucket"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketCols.map(col): _*)
    rel.withColumn("__n", count(lit(1)).over(w))
      // observability (graft.Metrics): the bucket-population skew a
      // cluster operator needs to see — one partial aggregate on rows
      // already flowing past, harvested by the Metrics listener, no
      // effect on row output
      .observe(graft.Metrics.observeName(s"$tag.buckets"),
        count(lit(1)).as("posting_rows"),
        coalesce(max(col("__n")), lit(0L)).as("max_bucket"))
      .filter(col("__n") >= 2 && col("__n") <= maxMembers).drop("__n")
  }

  /** Salted, singleton-pruned same-bucket self-join: one (id_a < id_b)
    * output row per shared bucket instance. Each right row meets each
    * left row under exactly one salt, so the multiset of pairs is
    * identical to the unsalted join — only task granularity changes.
    */
  private def saltedSelfJoin(rel: DataFrame, bucketCols: Seq[String],
                             salts: Int = 16, tag: String = "cand"): DataFrame = {
    val multi = pruneSingletonBuckets(rel, bucketCols, tag = tag)
    val aSide = multi.withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    val bSide = multi.withColumn("salt", pmod(xxhash64(col("id")), lit(salts)).cast("int"))
    aSide.as("a").join(bSide.as("b"),
        bucketCols.map(c => col(s"a.$c") === col(s"b.$c"))
          .reduce(_ && _) && col("a.salt") === col("b.salt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // candidate-pair volume pre-distinct: the number the quadratic-
      // blowup alarms watch (graft.Metrics, same contract as above)
      .observe(graft.Metrics.observeName(s"$tag.candidates"),
        count(lit(1)).as("n_candidates"))
  }

  private def saltedSelfCandidates(rel: DataFrame, bucketCols: Seq[String],
                                   salts: Int = 16, tag: String = "cand"): DataFrame =
    saltedSelfJoin(rel, bucketCols, salts, tag).distinct()

  /** SimHash near-dup pairs: 64-bit signature, split into `blocks` bit
    * blocks; any pair within `maxHamming` must share at least one exact
    * block (pigeonhole: maxHamming < blocks), so the block value is the
    * candidate join key. Verification is a popcount on XOR.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   blocks: Int, maxHamming: Int): DataFrame =
    hammingPairs(docs.select(col(idCol).as("id"),
      HashExpressions.simhash(split(col(textCol), " ")).as("sig")),
      blocks, maxHamming, tag = "d4")

  /** The blocked-Hamming candidate machinery shared by d4 (SimHash over
    * tokens) and m5 (perceptual hash over media payloads): any 64-bit
    * signature column works — the pigeonhole block join, salting,
    * singleton pruning and popcount verify are signature-agnostic.
    * `sigs` = (id, sig).
    */
  private[graft] def hammingPairs(sigs: DataFrame, blocks: Int,
                                  maxHamming: Int, tag: String): DataFrame = {
    require(maxHamming < blocks, "pigeonhole needs maxHamming < blocks")
    val width = 64 / blocks
    val blocked = sigs.select(col("id"), col("sig"),
      posexplode(expr(
        s"transform(sequence(0, ${blocks - 1}), b -> shiftright(sig, b * $width) & ${(1L << width) - 1})"))
        .as(Seq("blk", "bv")))
    // Salt + singleton-prune the candidate self-join (see the shared
    // machinery note above). This join keeps its own inline form rather
    // than saltedSelfJoin because the signature rides along so the
    // popcount verify runs IN the join, before distinct — on low-entropy
    // corpora the losing candidates dominate and re-joining sigs to
    // verify them would cost more than carrying 8 bytes per row.
    val salts = 16
    val multi = pruneSingletonBuckets(blocked, Seq("blk", "bv"), tag = tag)
    val aSide = multi.withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    val bSide = multi.withColumn("salt", pmod(xxhash64(col("id")), lit(salts)).cast("int"))
    aSide.as("a").join(bSide.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.salt") === col("b.salt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Sign-bit count for corpus-size-scaled hyperplane LSH: buckets halve
    * in expected population per added plane, so `ceil(log2(n / target))`
    * bits hold the expected bucket population near `target` as the
    * corpus grows — the knob that keeps the |bucket|² candidate space
    * LINEAR in n instead of quadratic (r14 scale validation measured the
    * fixed-4-plane configuration at exponent 2.1 on a 10× clustered
    * corpus: 1.8 s → 235 s). Clamped to [4, 20]: 4 preserves recall (and
    * every existing oracle result) on verification-scale corpora, 20
    * (1M buckets/table) covers ~10^8 vectors at target 128 — past that,
    * the IVF family (a3/d10) is the intended geometry. The DuckDB d5
    * oracle replays this formula verbatim.
    */
  def lshPlanesFor(n: Long, target: Int = 128): Int =
    math.max(4, math.min(20,
      math.ceil(math.log(math.max(n, 1L).toDouble / target) / math.log(2.0)).toInt))

  /** Voronoi cell count for corpus-size-scaled semantic dedup (the IVF
    * sizing rule): `ceil(sqrt(n))` cells — the faiss-practice balance
    * point. Every vector must score against every centroid (the
    * assignment cross is n·cells rows) and every vector verifies
    * against its in-cell peers (n·(n/cells) candidate rows); the sum is
    * minimized at cells = Θ(√n), where both legs are Θ(n^1.5). The
    * previous linear rule (n/128) kept verify Θ(n) but made the
    * assignment Θ(n²/128) and the centroid broadcast corpus-sized —
    * VecBench measured the land leg 42× slower for a 10× corpus at
    * gen10, and at 10^9 vectors the cross is 10^16 rows: it breaks
    * outright, the sqrt rule is what still runs. Floor 16 keeps tiny
    * corpora (sf0.001's 20 vectors) at verification-scale behavior;
    * sf0.01 (2,000 vectors) moves 16 → 45 cells and its oracle moves
    * in lockstep. The DuckDB d10 oracle replays this formula verbatim
    * (IEEE sqrt is correctly rounded in both engines, so ceil agrees
    * bit-exactly).
    */
  def ivfCellsFor(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt)

  /** Corpus-size-scaled variant of the parameterized overload below:
    * one scalar count sizes the plane count by [[lshPlanesFor]]. The
    * count is a columnless parquet-footer scan — O(files) driver work,
    * the same sanctioned-scalar class as tfidf's corpus count.
    */
  def embeddingDedupPairs(embs: DataFrame, idCol: String, vecCol: String,
                          tables: Int, threshold: Double): DataFrame =
    embeddingDedupPairs(embs, idCol, vecCol, tables,
      lshPlanesFor(embs.count()), threshold)

  /** Embedding cosine near-dup pairs via random-hyperplane LSH: `tables`
    * independent bucketings of `planes` sign bits each; same-bucket pairs
    * in any table are candidates; exact cosine (double) verifies. Bucket
    * id is the shuffle key; per-bucket work is |bucket|², controlled by
    * `planes` and split 16 ways by the candidate salt. Fixed `planes` is
    * a per-corpus tuning knob — prefer the sizing overload above, which
    * scales it with the corpus.
    */
  def embeddingDedupPairs(embs: DataFrame, idCol: String, vecCol: String,
                          tables: Int, planes: Int, threshold: Double): DataFrame = {
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    // candidates carry ids only: the salted join must not replicate the
    // (wide) vector payload 16x — vectors re-join by id for the verify
    val bucketed = base.select(col("id"),
      posexplode(array((0 until tables).map(t =>
        HashExpressions.hyperplaneSig(col("v"), t, planes)): _*)).as(Seq("tbl", "bucket")))
    val cand = saltedSelfCandidates(bucketed, Seq("tbl", "bucket"), tag = "d5")
    verifiedCosPairs(cand, base, threshold, tag = "d5")
  }

  /** Shared exact-cosine verify tail of the embedding dedup family
    * (d5/d10): re-join the vectors by id onto the ids-only candidates,
    * keep pairs at/above `threshold`, report the 6-dp rounded cosine.
    * `base` must be (id, v).
    *
    * Loose-threshold posture: at loose τ over clustered embeddings the
    * PAIR LIST ITSELF is the dangerous output — in-cell pair space is
    * Θ(n^1.5) under the √n cell sizing (gen10 measured 92.8M rows at
    * τ=0.4, exactly the envelope), and the time per pair stays flat.
    * The verify streams (join → filter → project, nothing pinned), so
    * the operator is safe at any density — but a CONSUMER that holds
    * the result should be the bounded ones: d12 `dedupSurvivors`
    * spools the pairs to disk and reduces them to a Θ(n) manifest,
    * d15/st12 fold them into per-doc verdicts. The emitted
    * `<tag>.pairs_out` Metrics count (one partial aggregate on rows
    * already flowing past) is the density alarm a cluster operator
    * watches to route loose-τ runs that way.
    */
  private def verifiedCosPairs(cand: DataFrame, base: DataFrame,
                               threshold: Double,
                               tag: String = "pairs"): DataFrame =
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        HashExpressions.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .observe(graft.Metrics.observeName(s"$tag.pairs_out"),
        count(lit(1)).as("n_pairs"))

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster embeddings
    * into Voronoi cells and flag same-cell pairs whose exact cosine
    * clears `threshold`. The published recipe — k-means the corpus,
    * then compare only within a cluster — with the k-means replaced by
    * the engine's deterministic coarse quantizer: cells are the
    * `nCentroids` corpus rows with the smallest md5(id) (the exact
    * [[Similarity.ivfTopK]] centroid contract — stateless, reproducible
    * on every executor, and replayable by the DuckDB oracle).
    *
    * Structurally DISTINCT from [[embeddingDedupPairs]]: d5 buckets by
    * random-hyperplane sign bits (many tables, bitwise locality), this
    * partitions by nearest-centroid (one cell per vector, geometric
    * locality) — the two candidate generators miss different pair
    * classes, which is why production pipelines run both. Scale
    * posture: the centroid set is dim-scale and broadcasts; assignment
    * is a map-side argmax + one per-id window; candidates carry IDS
    * ONLY through the 16-way-salted same-cell join (the d5 rule — never
    * replicate the vector payload into the pair space); vectors re-join
    * by id for the exact-cosine verify. Cell population is bounded by
    * nCentroids ∝ corpus size (the IVF sizing rule), and the salt keeps
    * a degenerate cell from serializing into one task.
    */
  /** Corpus-size-scaled variant: one scalar count sizes the cell count
    * by [[ivfCellsFor]] (see [[embeddingDedupPairs]]'s sizing overload
    * for the sanctioned-scalar rationale).
    */
  def semanticDedupPairs(embs: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame =
    semanticDedupPairs(embs, idCol, vecCol, ivfCellsFor(embs.count()), threshold)

  def semanticDedupPairs(embs: DataFrame, idCol: String, vecCol: String,
                         nCentroids: Int, threshold: Double): DataFrame = {
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    // the a3/a6 coarse-sampling contract, one definition for all consumers
    val cents = Similarity.md5Sample(embs, idCol, vecCol, nCentroids, "cid", "cw")
    semanticDedupPairs(base, cents, threshold)
  }

  /** Frozen-centroid variant: `cents` is an explicit (cid, cw) centroid
    * relation instead of a sample of `embs` itself — the reference
    * semantics of the incremental path ([[incrementalSemanticPairs]]
    * must equal THIS over corpus ∪ batch with the LANDED centroids,
    * restricted to batch-involving pairs; the parity spec pins it).
    * `embs` must be (id, v).
    */
  def semanticDedupPairs(embs: DataFrame, cents: DataFrame,
                         threshold: Double): DataFrame = {
    val base = embs.select(col("id"), col("v"))
    val cand = saltedSelfCandidates(assignCells(base, cents), Seq("cid"), tag = "d10")
    verifiedCosPairs(cand, base, threshold, tag = "d10")
  }

  /** Nearest-centroid assignment (id, cid) for `base` = (id, v) against
    * `cents` = (cid, cw): argmax exact cosine, ties to the smaller cid —
    * the [[Similarity.ivfTopK]] ordering, shared by the self-join d10,
    * the landed-index build and the incremental probe so an ordering
    * tweak can never desynchronize them. The argmax is a PARTIAL
    * AGGREGATE — `min(struct(-cos, cid))` — not a per-id window: a
    * window must SORT all n·cells scored rows before its rank filter,
    * while the agg keeps one running winner per id map-side, so only
    * (id, winner) ever reaches the exchange (measured 33× on the
    * corpus-sized assignment at gen10 — the window sort was the single
    * largest cost in the whole semantic family). min(struct) is
    * order-identical to (cos DESC, cid ASC): negation flips the sort
    * direction exactly, and cid breaks ties ascending in both
    * spellings. cosineF is zero-guarded and never null, but a NaN
    * vector COMPONENT still yields a NaN cosine — and plain negation
    * would then flip the winner (NaN sorts greatest: a desc window
    * ranks it first, a negated-asc aggregate last), silently
    * desynchronizing a landed index from its oracle. nanvl pins NaN to
    * +∞ BEFORE the negation, so both spellings (and DuckDB, where NaN
    * likewise sorts greatest) agree on NaN-first — a contract
    * violation stays bit-visible instead of flipping argmax winners.
    */
  private[graft] def assignCells(base: DataFrame, cents: DataFrame): DataFrame =
    base.join(broadcast(cents))
      .select(col("id"), col("cid"),
        HashExpressions.cosine(col("v"), col("cw")).as("__cc"))
      .groupBy("id")
      .agg(min(struct(negate(nanvl(col("__cc"), lit(Double.PositiveInfinity))),
        col("cid"))).as("__m"))
      .select(col("id"), col("__m.cid").as("cid"))

  /** Survivor-mode dedup (d12) — the composed operator production
    * actually runs: near-dup PAIRS (any generator: d2/d3/d5/d10) →
    * connected components → keep-min-id, emitting one row PER DOCUMENT
    * `(doc_id, cluster_id, survivor)`. Documents in no pair are their
    * own singleton cluster (survivor = true), so the output is the
    * complete keep/drop manifest a pipeline filters the corpus by —
    * Θ(n) rows regardless of how pair-dense the duplicate clusters are.
    *
    * Scale posture: the pair list is the dangerous intermediate — at a
    * loose threshold it is Θ(n²/k) (the r14 d5 measurement) and must
    * not sit in executor storage for the whole component iteration. So
    * the pairs are evaluated ONCE into a disk spool (the candidate/
    * verify machinery never re-runs), and [[dedupClusters]] reads edges
    * from the spool: executor memory holds only the CURRENT round's
    * contracted edge set (which shrinks toward one edge per non-root
    * node), with the every-3rd-round checkpoint bounding lineage.
    * `allIds` must be a single-column frame of every document id.
    */
  def dedupSurvivors(allIds: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = allIds.sparkSession
    val idName = allIds.columns.head
    val spool = graft.sources.Spool.dir(spark, "d12_pairs")
    val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", pairs.schema.fields(0).dataType),
      org.apache.spark.sql.types.StructField("id_b", pairs.schema.fields(1).dataType)))
    pairs.select(col(pairs.columns(0)).as("id_a"), col(pairs.columns(1)).as("id_b"))
      .write.mode(SaveMode.Overwrite).parquet(spool)
    // explicit schema: an empty pair set may land zero part files (the
    // d9 precedent), and the empty relation is the correct answer
    val edges = spark.read.schema(edgeSchema).parquet(spool)
    val labels = dedupClusters(edges)
    allIds.select(col(idName).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("survivor", col("doc_id") === col("cluster_id"))
  }

  // --- incremental (arriving-batch-vs-landed-corpus) dedup (d11) -----------
  // The production shape: a pipeline lands a 100 TB corpus ONCE as a
  // queryable index, then every arriving batch probes that index without
  // recomputing a single corpus signature. The reference's analog is the
  // skip-existing anti-join of its ingest (deep-field pages.py:92-116 —
  // "don't refetch what the cache already holds"); here the same idea is
  // applied to near-dup state at corpus scale.

  /** Land the d3 MinHash/LSH index for `docs` as BUCKETED parquet tables
    * under `dir` (catalog names `<tableBase>_sigs` / `_bands` /
    * `_meta`):
    *
    *  - `_sigs` (id, sig) bucketed by id — the verify side;
    *  - `_bands` (id, band, bh, bkey) bucketed by bkey =
    *    xxhash64(band, bh) — the probe side. A LARGE arriving batch can
    *    shuffle-join on bkey co-located with these buckets (no
    *    index-side exchange, the PlanAuditSpec bucketed-landing payoff);
    *    a small batch broadcasts and the buckets just bound task sizes;
    *  - `_meta` one row (n, k, bands, n_docs) so a probe can never run
    *    with drifted parameters.
    *
    * Band rows derive from the LANDED sigs table, so signatures are
    * computed exactly once per corpus document and the index is
    * internally consistent even if `docs` is nondeterministic upstream.
    */
  def landMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, k: Int, bands: Int,
                       tableBase: String, dir: String,
                       nBuckets: Int = 32): MinhashMeta = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val spark = docs.sparkSession
    val rows = k / bands
    // meta's n_docs rides the signature write as an observe() aggregate —
    // a partial count on rows already flowing into the writer — instead
    // of a separate count() job re-reading the just-landed table (guide
    // §1.2: a pass that only re-counts what a previous pass wrote is a
    // pass removed; at corpus scale that re-read is a full table scan)
    val obs = org.apache.spark.sql.Observation()
    graft.sources.Sinks.bucketed(
      minhashSignatures(docs, idCol, textCol, n, k)
        .observe(obs, count(lit(1)).as("n")),
      s"${tableBase}_sigs", "id", nBuckets, path = Some(s"$dir/sigs"))
    val landedSigs = spark.table(s"${tableBase}_sigs")
    graft.sources.Sinks.bucketed(
      bandRows(landedSigs, bands, rows)
        .withColumn("bkey", xxhash64(col("band"), col("bh"))),
      s"${tableBase}_bands", "bkey", nBuckets, path = Some(s"$dir/bands"))
    val nDocs = observedCount(obs, "n")(landedSigs.count())
    val meta = MinhashMeta(n, k, bands, nDocs, nBuckets, s"$dir/meta")
    writeMeta(spark, tableBase, meta)
    // the land KNOWS the meta it just wrote — returning it saves every
    // ingest loop the per-drain readMinhashMeta head() job + catalog query
    meta
  }

  /** Absorb an arriving batch into a landed [[landMinhashIndex]] — the
    * continuous-ingest loop: after probing ([[incrementalMinhashPairs]]),
    * the batch's signatures and band rows APPEND to the bucketed index
    * tables, so the NEXT arrival probes corpus ∪ everything absorbed and
    * no landed document is ever re-signed. Appends go through the same
    * bucketed writer with the landed bucket spec (one new file per
    * touched bucket per batch — bkey co-location and bucket pruning keep
    * working; when small-file counts accumulate,
    * [[compactMinhashIndex]] rewrites each bucket back to one file).
    * Meta's `n_docs` advances so downstream sizing reads
    * the true corpus size. Ids must be disjoint from everything already
    * absorbed — same contract as the probe.
    */
  def absorbMinhashBatch(spark: SparkSession, newDocs: DataFrame,
                         idCol: String, textCol: String,
                         tableBase: String): Unit = {
    val meta = readMinhashMeta(spark, tableBase)
    val bSigs = minhashSignatures(newDocs, idCol, textCol, meta.n, meta.k)
      .localCheckpoint() // one batch-sized pass; both appends + the count reuse it
    writeMeta(spark, tableBase, absorbMinhashCore(spark, bSigs, tableBase, meta))
  }

  /** A landed index's one-row `_meta` table: `columns` is the row, by
    * column name, and `metaPath` the table's resolved location. Every
    * field is frozen at land time except `n_docs`, which advances on
    * each absorb — advisory state (sizing and staleness, never probe
    * input), so an ingest loop that is the index's only writer threads
    * the meta through its cycles and writes it once after the drain.
    */
  private[graft] trait IndexMeta {
    def metaPath: String
    def columns: Seq[(String, Any)]
  }

  /** The one `_meta` codec: write `meta` as `<tableBase>_meta`, one row
    * of non-null Int/Long columns named by `meta.columns`.
    */
  private[graft] def writeMeta(spark: SparkSession, tableBase: String,
                               meta: IndexMeta): Unit = {
    val schema = StructType(meta.columns.map {
      case (c, _: Int) => StructField(c, IntegerType, nullable = false)
      case (c, _)      => StructField(c, LongType, nullable = false)
    })
    spark.createDataFrame(
        java.util.List.of(Row.fromSeq(meta.columns.map(_._2))), schema)
      .write.mode(SaveMode.Overwrite).option("path", meta.metaPath)
      .saveAsTable(s"${tableBase}_meta")
  }

  /** Read `<tableBase>_meta` back: `decode` gets the row (read its
    * fields by column name) and the table's resolved location.
    */
  private[graft] def readMeta[M](spark: SparkSession, tableBase: String)
                               (decode: (Row, String) => M): M =
    decode(spark.table(s"${tableBase}_meta").head(),
      tableLocation(spark, s"${tableBase}_meta"))

  /** A landed MinHash index's `_meta` row (n, k, bands, n_docs,
    * n_buckets) plus its location — cacheable across a per-micro-batch
    * ingest loop so each batch skips the meta `head()` job and the
    * `DESCRIBE FORMATTED` catalog query.
    */
  private[graft] final case class MinhashMeta(n: Int, k: Int, bands: Int,
                                              nDocs: Long, nBuckets: Int,
                                              metaPath: String) extends IndexMeta {
    def bandRowCount: Int = k / bands
    def columns: Seq[(String, Any)] = Seq("n" -> n, "k" -> k, "bands" -> bands,
      "n_docs" -> nDocs, "n_buckets" -> nBuckets)
  }

  private[graft] def readMinhashMeta(spark: SparkSession,
                                     tableBase: String): MinhashMeta =
    readMeta(spark, tableBase)((r, loc) => MinhashMeta(r.getAs[Int]("n"),
      r.getAs[Int]("k"), r.getAs[Int]("bands"), r.getAs[Long]("n_docs"),
      r.getAs[Int]("n_buckets"), loc))

  /** Append precomputed batch signatures (and their band rows) to the
    * index; returns the advanced meta, which the caller writes (the
    * standalone absorb at once, an ingest loop after its drain).
    *
    * Write order is a crash-safety contract: `_bands` BEFORE `_sigs`.
    * The st9 redelivery guard anti-joins arrivals against `_sigs` ids,
    * so the guard key must commit LAST — a crash between the two
    * appends then leaves the batch absent from `_sigs`, the replay
    * re-absorbs it, and the duplicate band rows it re-appends are
    * harmless (the probe's candidate side is distinct-ed; compaction
    * rewrites them away). The reverse order would leave
    * sigs-without-bands: the guard drops the replayed batch and every
    * later arrival silently misses pairs against it.
    */
  private def absorbMinhashCore(spark: SparkSession, bSigs: DataFrame,
                                tableBase: String,
                                meta: MinhashMeta): MinhashMeta = {
    // join-free append plans: AQE off folds each append's exchange+write
    // into ONE job (see withAqeOff; the explicit repartition pins the
    // partition count either way, so the file layout is identical)
    withDesc(spark, "cycle: absorb bands") { withAqeOff(bSigs.sparkSession) {
      graft.sources.Sinks.bucketed(
        bandRows(bSigs, meta.bands, meta.bandRowCount)
          .withColumn("bkey", xxhash64(col("band"), col("bh"))),
        s"${tableBase}_bands", "bkey", meta.nBuckets, mode = SaveMode.Append)
    } }
    // the batch count rides the append as an observe() aggregate — no
    // separate count() job per absorb (the streaming loops' cost is the
    // per-micro-batch job floor)
    val obs = org.apache.spark.sql.Observation()
    withDesc(spark, "cycle: absorb sigs") { withAqeOff(bSigs.sparkSession) {
      graft.sources.Sinks.bucketed(
        bSigs.observe(obs, count(lit(1)).as("n")), s"${tableBase}_sigs", "id",
        meta.nBuckets, mode = SaveMode.Append)
    } }
    val advanced =
      meta.copy(nDocs = meta.nDocs + observedCount(obs, "n")(bSigs.count()))
    // The bucketed append refreshes by PATH only; a reader that already
    // resolved these tables holds an identifier-keyed cached relation
    // whose file listing predates this append (observed: a streaming
    // probe loop missing every row the previous batch absorbed).
    // Invalidate by table identifier so the next probe lists afresh.
    spark.catalog.refreshTable(s"${tableBase}_sigs")
    spark.catalog.refreshTable(s"${tableBase}_bands")
    advanced
  }

  /** Read a row count that rode a (synchronous) write action as an
    * `observe()` aggregate. When the writer's input is provably empty,
    * PropagateEmptyRelation removes the CollectMetrics node with the
    * rest of the subtree and the observation completes METRIC-LESS —
    * fall back to `recount`, which in exactly that case scans an empty
    * (or batch-sized) input. Never a second corpus pass: non-empty
    * writes always report the metric.
    */
  private[graft] def observedCount(obs: org.apache.spark.sql.Observation,
                                   key: String)(recount: => Long): Long =
    obs.get.get(key).map(_.asInstanceOf[Long]).getOrElse(recount)

  /** Catalog location of `table` (the URI string Spark records). */
  private[operators] def tableLocation(spark: SparkSession, table: String): String =
    spark.sql(s"DESCRIBE FORMATTED $table")
      .filter(col("col_name") === "Location").head().getString(1)

  private def asLocalPath(loc: String): java.nio.file.Path = {
    val uri = new java.net.URI(loc)
    if (uri.getScheme == null) java.nio.file.Paths.get(loc)
    else java.nio.file.Paths.get(uri)
  }

  private def parquetFileCount(loc: String): Long = {
    val s = java.nio.file.Files.walk(asLocalPath(loc))
    try s.filter(p => p.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  /** Compaction generation of a bucketed index table, tracked as a table
    * property (`graft.compact.gen`, absent = 0) rather than parsed from
    * the path — a user-supplied index dir that legitimately ends in
    * `_c<digits>` must not be mangled by a suffix heuristic.
    */
  private def tableGen(spark: SparkSession, t: String): Int =
    spark.sql(s"SHOW TBLPROPERTIES $t")
      .filter(col("key") === "graft.compact.gen")
      .collect().headOption.map(_.getString(1).toInt).getOrElse(0)

  /** Rewrite one bucketed index table to one file per (non-empty)
    * bucket; returns (files_before, files_after).
    *
    * The input is read by PATH, NOT via `spark.table(t)`: the catalog
    * relation's bucket spec already satisfies
    * `HashPartitioning(bucketCol, nBuckets)`, so Catalyst elides the
    * user `repartition` — and then, with no operator left that requires
    * the distribution, disables the bucketed scan too. The writer then
    * receives scan-order partitions and emits one file per (task,
    * bucket): a "compaction" that compacts nothing, silently (probe
    * results stay bit-identical either way). A path read carries no
    * bucket spec, so the repartition Exchange survives planning
    * (PlanAuditSpec pins both plan shapes) and — because `repartition`
    * uses the same hash family as the bucketed writer's bucket-id
    * assignment — each output task holds exactly one bucket's rows and
    * writes exactly one file.
    *
    * The rewrite stages to a versioned sibling directory (`…_c1`,
    * `…_c2`, …; generation from [[tableGen]]) under a temp catalog
    * name, then swaps rename-aside → rename-over → drop-aside, so a
    * catalog entry pointing at live index data exists at every step: a
    * crash before the first rename leaves the live table untouched; a
    * crash mid-swap leaves the data reachable under the `_precompact` /
    * `_compacting` names (all tables are external — drops and renames
    * never move or delete files); only after the swap completes are the
    * old files deleted.
    */
  private[operators] def compactBucketedTable(spark: SparkSession, t: String,
                                   bcol: String, nBuckets: Int,
                                   transform: DataFrame => DataFrame = identity)
      : (Long, Long) = {
    val oldLoc = tableLocation(spark, t)
    val before = parquetFileCount(oldLoc)
    val gen = tableGen(spark, t)
    val base = if (gen == 0) oldLoc else {
      val sfx = s"_c$gen"
      require(oldLoc.endsWith(sfx),
        s"$t: location $oldLoc does not end with recorded generation suffix $sfx")
      oldLoc.dropRight(sfx.length)
    }
    val newLoc = s"${base}_c${gen + 1}"
    val staged = s"${t}_compacting"
    val aside = s"${t}_precompact"
    spark.sql(s"DROP TABLE IF EXISTS $staged")
    spark.sql(s"DROP TABLE IF EXISTS $aside")
    graft.sources.Sinks.bucketed(
      transform(spark.read.schema(spark.table(t).schema).parquet(oldLoc)),
      staged, bcol, nBuckets, path = Some(newLoc))
    spark.sql(s"ALTER TABLE $staged SET TBLPROPERTIES ('graft.compact.gen'='${gen + 1}')")
    spark.sql(s"ALTER TABLE $t RENAME TO $aside")
    spark.sql(s"ALTER TABLE $staged RENAME TO $t")
    spark.sql(s"DROP TABLE $aside") // external: catalog entry only, files stay
    graft.sources.Spool.deleteRecursively(asLocalPath(oldLoc))
    spark.catalog.refreshTable(t)
    (before, parquetFileCount(newLoc))
  }

  /** Compact the listed (suffix, bucket column) tables of a landed
    * index — the one body behind [[compactMinhashIndex]],
    * [[compactSemanticIndex]] and [[Similarity.compactIvfPqIndex]]:
    * each table goes through [[compactBucketedTable]] at the bucket
    * count its `_meta` row records, and Metrics `tag` reports
    * `<suffix>_files_before` / `_files_after` per table.
    */
  private[operators] def compactIndex(spark: SparkSession, tableBase: String,
                                      tag: String)(tables: (String, String)*): Unit = {
    val nBuckets = spark.table(s"${tableBase}_meta").head().getAs[Int]("n_buckets")
    val counts = tables.flatMap { case (sfx, bcol) =>
      val (before, after) =
        compactBucketedTable(spark, s"${tableBase}_$sfx", bcol, nBuckets)
      Seq(s"${sfx}_files_before" -> before, s"${sfx}_files_after" -> after)
    }
    graft.Metrics.set(tag, counts: _*)
  }

  /** Compact a landed [[landMinhashIndex]] back to one file per bucket.
    *
    * Every [[absorbMinhashBatch]] appends ~one new file per touched
    * bucket, so after B batches a bucket's probe-side scan opens O(B)
    * small files — the classic ingest small-files debt.
    * [[compactBucketedTable]] rewrites each index table once; probe
    * results are bit-identical before and after (spec-pinned), bucket
    * pruning and bkey co-location keep working — only the file count
    * changes. Cadence is the operator's choice; the `d11.compact`
    * Metrics entry reports files before/after per table.
    */
  def compactMinhashIndex(spark: SparkSession, tableBase: String): Unit =
    compactIndex(spark, tableBase, "d11.compact")("sigs" -> "id", "bands" -> "bkey")

  /** Near-dup pairs INVOLVING an arriving batch, probed against a landed
    * [[landMinhashIndex]] — bit-identical to running [[minhashLshPairs]]
    * over (corpus ∪ batch) and keeping the pairs with at least one batch
    * member (a spec pins the parity), at the cost of the BATCH, not the
    * corpus:
    *
    *  - batch signatures/bands are computed fresh (one pass over the
    *    batch, cached — it is batch-sized by definition);
    *  - batch×corpus candidates stream the landed band index past the
    *    batch bands — with `broadcastBatch` (the default, right whenever
    *    the batch fits the broadcast budget) the index scan never
    *    shuffles at all; a corpus-sized batch flips to a shuffle join
    *    whose index side is already bucketed on the join key bkey;
    *  - batch-internal candidates reuse the d3 salted self-join on the
    *    tiny batch side;
    *  - the verify re-joins signatures by id from landed-sigs ∪ batch-
    *    sigs: the candidate set is batch-proportional, so AQE broadcasts
    *    it into the fixed-width sig scans.
    *
    * Ids must be disjoint between batch and corpus (arriving data has
    * new ids; a re-landed id would self-pair and is dropped defensively).
    */
  def incrementalMinhashPairs(spark: SparkSession, newDocs: DataFrame,
                              idCol: String, textCol: String,
                              tableBase: String, threshold: Double,
                              broadcastBatch: Boolean = true): DataFrame = {
    val meta = readMinhashMeta(spark, tableBase)
    // localCheckpoint, not cache(): a cache() entry lives in the shared
    // CacheManager until an explicit unpersist that a lazy-returning
    // probe has nowhere to place, so a per-micro-batch caller (st9)
    // would accumulate every batch's signatures in executor storage for
    // the session. Checkpoint blocks are owned by the RDD and reclaimed
    // by the ContextCleaner once the probe's plan is garbage.
    val bSigs = minhashSignatures(newDocs, idCol, textCol, meta.n, meta.k)
      .localCheckpoint()
    probeMinhashCore(spark, bSigs, tableBase, meta, threshold, broadcastBatch)
  }

  /** Probe the index with precomputed batch signatures (the shared core
    * of [[incrementalMinhashPairs]] and [[probeAbsorbMinhashBatch]]).
    */
  private def probeMinhashCore(spark: SparkSession, bSigs: DataFrame,
                               tableBase: String, meta: MinhashMeta,
                               threshold: Double,
                               broadcastBatch: Boolean): DataFrame = {
    val idxSigs = spark.table(s"${tableBase}_sigs")
    val idxBands = spark.table(s"${tableBase}_bands")
    val bBands = bandRows(bSigs, meta.bands, meta.bandRowCount)
      .withColumn("bkey", xxhash64(col("band"), col("bh")))
    val probe = if (broadcastBatch) broadcast(bBands) else bBands
    // Index-bucket pruning: the batch's distinct bkey set (batch-sized —
    // |batch|·bands values, one driver-side collect, the same sanctioned
    // class as d9's sketch head()) becomes an InSet filter on the scan's
    // BUCKET column, so Spark's bucket pruning skips every index FILE
    // whose bucket holds none of the batch's keys. With nBuckets sized
    // to the corpus (thousands at 100 TB), a small batch touches
    // ~|batch|·bands/nBuckets of the index files and the probe's IO is
    // batch-proportional, not corpus-proportional. Guarded by KEY COUNT
    // against BOTH failure modes ([[pruneKeyCap]]): k keys over B
    // buckets hit an expected 1−(1−1/B)^k of them, so past k ≈ B·ln4
    // the filter skips <25% of files while its literal list still taxes
    // every Catalyst transform (measured: a useless 7.9k-literal InSet
    // at B=32 added ~4 s of planning per probe — r16 IncBench; ~80k
    // literals added minutes across st9's gen1 micro-batches in r15).
    // Past the cap, scan the index unfiltered and let the join do the
    // work — the prune is a file-skip optimization, never a correctness
    // ingredient.
    val maxInSetKeys = pruneKeyCap(meta.nBuckets)
    val idxPruned = {
      // broadcastBatch ⇒ bBands ships whole anyway, so collecting its
      // bkey column (and deduping driver-side) is bounded by the same
      // contract — and skips the distinct's exchange + AQE stage job
      // that the limit-collect spelling paid per micro-batch. The
      // shuffle-join path (corpus-sized batch) keeps the capped
      // distinct+limit collect: an unbounded bkey collect there would
      // be corpus-proportional driver traffic.
      val bkeys =
        if (broadcastBatch) withDesc(spark, "d11: probe bkeys") {
          bBands.select("bkey").collect()
        }.map(_.getLong(0)).distinct
        else withDesc(spark, "d11: probe bkeys") {
          bBands.select("bkey").distinct().limit(maxInSetKeys + 1).collect()
        }.map(_.getLong(0))
      graft.Metrics.set("d11", "probe_bkeys" -> bkeys.length.toLong,
        "prune_cap" -> maxInSetKeys.toLong,
        "bucket_pruned" -> (bkeys.length <= maxInSetKeys))
      if (bkeys.length > maxInSetKeys) idxBands
      else idxBands.filter(col("bkey").isInCollection(bkeys.toSeq))
    }
    // join includes bkey FIRST so the shuffle regime co-locates with the
    // index buckets; band+bh make the match exact (bkey alone could
    // collide)
    // no distinct on cross alone: the final distinct below dedups the
    // union, and its partial (map-side) aggregate already collapses the
    // per-band duplicates before the exchange — a pre-distinct here was
    // a second full exchange of the same rows (plan: 2 Exchange → 1 on
    // the cross branch; r19)
    val cross = idxPruned.as("c").join(probe.as("p"),
        col("c.bkey") === col("p.bkey") && col("c.band") === col("p.band") &&
          col("c.bh") === col("p.bh") && col("c.id") =!= col("p.id"))
      .select(least(col("c.id"), col("p.id")).as("id_a"),
        greatest(col("c.id"), col("p.id")).as("id_b"))
    // saltedSelfJoin, not saltedSelfCandidates: the union's distinct is
    // the single dedup point for BOTH branches (one exchange instead of
    // a per-branch distinct exchange each + the union re-aggregate)
    val intra = saltedSelfJoin(bBands.select("id", "band", "bh"),
      Seq("band", "bh"), tag = "d11")
    val cand = cross.union(intra).distinct()
    minhashVerify(cand, idxSigs.unionByName(bSigs), meta.k, threshold)
  }

  /** Max InSet literals for the probe-side bucket prune: k distinct keys
    * over B buckets hit an expected `B·(1−(1−1/B)^k)` of them, so the
    * prune's file-skip benefit decays exponentially in k/B — at
    * k = B·ln4 the expected skip is already down to 25%, while the
    * LITERAL COST of the filter grows linearly (every Catalyst
    * transform walks the In list's children; a large list taxes
    * planning long before execution). Cap at that break-even, under an
    * absolute 8192 planning-cost ceiling for corpus-sized bucket
    * counts.
    */
  private[operators] def pruneKeyCap(nBuckets: Int): Int =
    math.min(8192, math.ceil(nBuckets * math.log(4.0)).toInt)

  /** Run `f` (an action over a JOIN-FREE plan — scan/project/repartition/
    * aggregate, no strategy decisions for AQE to make) with adaptive
    * execution off: AQE materializes every exchange as its own Spark job,
    * so a 2-stage append pays two scheduling rounds for zero adaptivity.
    * Never wrap a plan with joins — join strategy selection is the thing
    * AQE is FOR (the r20 drain-wide AQE-off experiment measured 2×
    * slower: static planning picked the wrong shapes).
    */
  private[graft] def withAqeOff[T](spark: SparkSession)(f: => T): T = {
    // NOTE: pass the session the action will EXECUTE under — inside
    // foreachBatch that is the stream's CLONED session (batch.sparkSession),
    // whose SQLConf is a snapshot: setting the conf on the outer session
    // there is a silent no-op (measured r20).
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Label the jobs `f` submits (guide §1.5) — thread-local, restored
    * after; purely diagnostic (JobProf/UI attribution for the
    * sum-of-small-jobs ingest cycles).
    */
  private[graft] def withDesc[T](spark: SparkSession, d: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(d)
    try f finally sc.setJobDescription(prev)
  }

  /** The batch-proportional redelivery guard shared by the landed-index
    * absorbs and the streaming ingest loops: drop every `base` row
    * whose `id` already exists in the id-BUCKETED `landedTable`. The
    * batch's distinct ids (a batch-sized, bounded collect) become an
    * InSet filter on the table's bucket column, so Spark's bucket
    * pruning skips every index file the batch's ids cannot hash into —
    * guard IO stays flat in corpus size at fixed batch size. Capped by
    * [[pruneKeyCap]] (the d11 break-even: past ~nBuckets·ln4
    * keys the expected file skip is under 25% while the InSet literal
    * taxes every Catalyst transform) — past the cap the anti-join runs
    * against the unfiltered id column, which is still a single-column
    * pruned scan. The prune is a file-skip device, never a correctness
    * ingredient: a landed row with an id IN the batch always survives
    * the InSet, so the anti-join result is identical either way.
    *
    * `idCol` names the BATCH side's key column; the landed index
    * tables' bucket column is always `id`.
    */
  private[graft] def prunedIdGuard(spark: SparkSession, base: DataFrame,
                                   landedTable: String, nBuckets: Int,
                                   tag: String, idCol: String = "id"): DataFrame = {
    val landed = spark.table(landedTable).select(col("id"))
    val cap = Dedup.pruneKeyCap(nBuckets)
    val ids = base.select(col(idCol).as("id")).distinct().limit(cap + 1).collect()
    graft.Metrics.set(tag, "batch_ids" -> ids.length.toLong,
      "prune_cap" -> cap.toLong, "bucket_pruned" -> (ids.length <= cap))
    val slice = if (ids.length > cap) landed
      else landed.filter(col("id").isInCollection(ids.map(_.getLong(0)).toSeq))
    base.join(slice.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Per-micro-batch spelling of [[prunedIdGuard]] for the six ingest
    * loops: returns the guarded batch, or None when nothing survives the
    * guard (the skip-cycle signal). Same anti-join semantics — every
    * `base` row whose id is already in `landedTable` is dropped — at a
    * lower per-batch JOB cost: instead of materializing a batch-wide
    * anti-join (localCheckpoint) and then asking `isEmpty` (three jobs
    * per micro-batch), it collects the landed ∩ batch id INTERSECTION
    * (batch-bounded by construction — the same sanctioned driver-collect
    * class as the batch-id prune itself) and decides driver-side. In the
    * no-replay common case the intersection is empty and the batch
    * passes through UNTOUCHED — no anti-join in the plan, no checkpoint
    * pass over the batch, and downstream consumers re-read the arrival
    * file directly (it is already materialized input).
    *
    *  - under the [[pruneKeyCap]]: the batch's distinct ids are fully
    *    known, the bucket-pruned InSet slice IS the intersection (one
    *    file-skipping job), and the fresh-id remainder filter carries at
    *    most cap literals — every case decided with ZERO extra jobs;
    *  - past the cap (gate-scale batches over small bucket counts): the
    *    intersection comes from one semi-join of the landed id column
    *    against the broadcast batch ids; a non-empty intersection with
    *    unknowable remainder (partial replay of a large batch — only
    *    reachable after a crash) falls back to the checkpointed
    *    anti-join, the exact pre-r20 path.
    */
  private[graft] def guardedBatch(spark: SparkSession, base: DataFrame,
                                  landedTable: String, nBuckets: Int,
                                  tag: String, idCol: String = "id"): Option[DataFrame] = {
    val landed = spark.table(landedTable).select(col("id"))
    val cap = Dedup.pruneKeyCap(nBuckets)
    // ONE narrow collect of the raw id column, dedup driver-side: the
    // distinct+limit spelling paid an exchange (plus its AQE stage job)
    // the collect doesn't need, and the loops' own probe contract
    // already broadcasts the whole batch, so a batch-bounded id collect
    // is strictly smaller than what each cycle ships anyway
    val ids = withDesc(spark, s"$tag: batch ids") {
      base.select(col(idCol).as("id")).collect()
    }.map(_.getLong(0)).distinct
    graft.Metrics.set(tag, "batch_ids" -> ids.length.toLong,
      "prune_cap" -> cap.toLong, "bucket_pruned" -> (ids.length <= cap))
    if (ids.isEmpty) return None // empty batch: nothing to probe or absorb
    val slice = if (ids.length <= cap)
      landed.filter(col("id").isInCollection(ids.toSeq)) // file-skipping InSet
    else landed
    // landed ∩ batch, via a semi-join against the LOCAL RELATION of the
    // collected ids: a LocalTableScan broadcast builds driver-side with
    // NO Spark job, so the intersect costs exactly one scan job
    // the join strategy is PINNED by the broadcast hint (a LocalRelation
    // build side), so AQE contributes only an extra stage job — off
    val existing = withDesc(spark, s"$tag: landed-intersect") {
      import spark.implicits._
      withAqeOff(spark) {
        slice.join(broadcast(ids.toSeq.toDF("id")), Seq("id")).collect()
      }
    }.map(_.getLong(0)).toSet
    if (existing.isEmpty) Some(base)
    else {
      val freshIds = ids.filterNot(existing)
      if (freshIds.isEmpty) None // full replay: skip the cycle
      else if (freshIds.length <= cap)
        Some(base.filter(col(idCol).isInCollection(freshIds.toSeq)))
      else {
        // huge fresh remainder (partial replay of a large batch): a
        // literal filter would tax every downstream transform — take
        // the pre-r20 checkpointed anti-join instead
        val fresh = withDesc(spark, s"$tag: replay anti-join") {
          base.join(landed.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
            .localCheckpoint()
        }
        if (fresh.isEmpty) None else Some(fresh)
      }
    }
  }

  /** One full ingest cycle — probe, spool the pairs, absorb — with a
    * SINGLE signature pass over the batch (the separate
    * [[incrementalMinhashPairs]] + [[absorbMinhashBatch]] calls each
    * recompute them). This is the st9 per-micro-batch loop body; at a
    * few seconds per micro-batch the duplicated signature job and the
    * two per-call meta reads are the dominant fixed overhead, not the
    * data.
    *
    * Ordering is the correctness heart: the pair spool append
    * MATERIALIZES the probe before the absorb appends the batch to the
    * index — absorbing first would let the probe's lazily-listed index
    * scan see the batch's own rows and emit self-pairs. `meta` is the
    * loop's threaded index meta (the land's, then each cycle's return),
    * so a cycle pays no meta `head()`, `DESCRIBE FORMATTED` or meta
    * write — the loop writes the meta once after its drain; safe
    * whenever this loop is the index's only writer, which the
    * disjoint-ids contract already demands.
    */
  def probeAbsorbMinhashBatch(spark: SparkSession, newDocs: DataFrame,
                              idCol: String, textCol: String,
                              tableBase: String, threshold: Double,
                              pairsDir: String, meta: MinhashMeta): MinhashMeta = {
    val bSigs = withDesc(spark, "cycle: batch signatures") {
      minhashSignatures(newDocs, idCol, textCol, meta.n, meta.k)
        .localCheckpoint()
    }
    // no repartition(1): the probe's final distinct is the plan's last
    // exchange and AQE coalescing already collapses its batch-sized
    // output — the explicit single-file exchange was one more AQE stage
    // job per micro-batch for the same spool content
    withDesc(spark, "cycle: probe+spool") {
      probeMinhashCore(spark, bSigs, tableBase, meta, threshold, broadcastBatch = true)
        .write.mode(SaveMode.Append).parquet(pairsDir)
    }
    absorbMinhashCore(spark, bSigs, tableBase, meta)
  }

  /** Keep/drop classification of an arriving batch against a landed
    * [[landMinhashIndex]] — the decision the pair stream exists to
    * feed, made first-class (the near-dup generalization of
    * [[incrementalExactDedup]]'s skip-existing contract; the
    * reference's analog is pages.py:92-116's don't-refetch rule).
    *
    * A batch doc is a DUPLICATE iff it near-dups (the probe's τ) any
    * EARLIER document: every landed doc is earlier than every arrival,
    * and within a batch arrival order is id order. `dup_of` is the
    * minimum such earlier neighbor (deterministic; landed and batch
    * ids are disjoint by the probe's contract), NULL for survivors —
    * `is_new` mirrors it. Dropping a doc does NOT shield later docs
    * that matched only it: the rule is "similar to any earlier doc",
    * the same set-based semantics as [[dedupSurvivors]]'s components
    * restricted to one hop, so the result is order-deterministic and
    * SQL-expressible (the d14 oracle) rather than a sequential greedy
    * chain.
    *
    * Cost is the probe's (batch-proportional): pairs are
    * batch-involving by construction, the batch id set broadcasts
    * twice (membership + the final left join), and the min-neighbor
    * aggregate runs over the batch-sized pair sliver.
    */
  def incrementalSurvivors(spark: SparkSession, newDocs: DataFrame,
                           idCol: String, textCol: String,
                           tableBase: String, threshold: Double): DataFrame = {
    val batch = newDocs.select(col(idCol).cast("long").as("doc_id"))
    val pairs = incrementalMinhashPairs(spark, newDocs, idCol, textCol,
      tableBase, threshold)
    earliestNeighborFold(batch, pairs, "doc_id")
  }

  /** One full ingest-classification cycle — probe, fold the pairs into
    * the [[incrementalSurvivors]] keep/drop decision, spool the
    * per-doc verdicts, absorb — with a single signature pass over the
    * batch (the st11 per-micro-batch loop body; the classification
    * twin of [[probeAbsorbMinhashBatch]], same ordering contract: the
    * spool append materializes the probe before the absorb mutates the
    * index it scanned). The batch is classified against the index AS
    * LANDED WHEN IT ARRIVED — docs already absorbed from earlier
    * micro-batches count as earlier neighbors, smaller-id batch mates
    * count as earlier, later arrivals never shield or condemn — so the
    * drained stream equals a single arrival-ordered fold over the full
    * pair algebra (the st11 oracle), whatever the chunking.
    */
  def classifyAbsorbMinhashBatch(spark: SparkSession, newDocs: DataFrame,
                                 idCol: String, textCol: String,
                                 tableBase: String, threshold: Double,
                                 classDir: String, meta: MinhashMeta): MinhashMeta = {
    val bSigs = minhashSignatures(newDocs, idCol, textCol, meta.n, meta.k)
      .localCheckpoint()
    val pairs = probeMinhashCore(spark, bSigs, tableBase, meta, threshold,
      broadcastBatch = true)
    // fold over the FULL batch, not bSigs: a doc too short to shingle
    // (< n tokens) has no signature and can never pair, but it still
    // arrived and its verdict row (trivially is_new) must exist
    // no repartition(1): see probeAbsorbMinhashBatch
    withDesc(spark, "cycle: verdict spool") {
      earliestNeighborFold(newDocs.select(col(idCol).cast("long").as("doc_id")),
          pairs, "doc_id")
        .write.mode(SaveMode.Append).parquet(classDir)
    }
    absorbMinhashCore(spark, bSigs, tableBase, meta)
  }

  /** The earlier-neighbor fold shared by [[incrementalSurvivors]] and
    * [[incrementalSemanticSurvivors]]: classify each batch id against
    * batch-involving pairs — dup iff some pair links it to a non-batch
    * (i.e. landed, hence earlier) partner or a smaller batch id;
    * `dup_of` = the minimum such partner. `batch` holds one column
    * named `outId`; both joins against it broadcast (the batch is
    * probe-sized by contract).
    */
  private def earliestNeighborFold(batch: DataFrame, pairs: DataFrame,
                                   outId: String): DataFrame = {
    // both directions via ONE explode, not a self-union: the union
    // referenced the pairs plan twice and relied on ReuseExchange to
    // dedupe the probe underneath (measured: it does, today — gen10
    // times are unchanged). The single reference doesn't gamble on
    // that analysis, keeps the plan half the size, and can never
    // re-run map-side verify work that sits above the last exchange.
    val partners = pairs.select(explode(array(
        struct(col("id_a").as("x"), col("id_b").as("e")),
        struct(col("id_b").as("x"), col("id_a").as("e")))).as("__p"))
      .select(col("__p.x").as("x"), col("__p.e").as("e"))
    val earlier = partners
      .join(broadcast(batch.withColumnRenamed(outId, "x")), Seq("x"))
      .join(broadcast(batch.select(col(outId).as("e"),
        lit(true).as("e_in_batch"))), Seq("e"), "left")
      .filter(col("e_in_batch").isNull || col("e") < col("x"))
    val dups = earlier.groupBy("x").agg(min("e").as("dup_of"))
      .withColumnRenamed("x", outId)
    batch.join(dups, Seq(outId), "left")
      .select(col(outId), col("dup_of"), col("dup_of").isNull.as("is_new"))
  }

  // --- incremental SEMANTIC dedup (d13): the embedding twin of d11 ---------
  // d11 freezes the MinHash band algebra at land time; here the frozen
  // state is the coarse quantizer itself (SemDeDup's k-means stand-in):
  // centroids are sampled from the CORPUS once, every later arrival is
  // assigned against those same centroids, and re-quantization (new
  // centroids for a corpus that outgrew its cells) is an explicit
  // re-land — exactly how production vector stores version their IVF
  // lists. Bit-parity contract: probe ≡ the frozen-centroid
  // [[semanticDedupPairs]] over corpus ∪ batch restricted to
  // batch-involving pairs (spec-pinned).

  /** Land the d10 semantic-dedup state for `embs` as tables under `dir`
    * (catalog names `<tableBase>_cents` / `_assign` / `_vecs` /
    * `_meta`):
    *
    *  - `_cents` (cid, cw): the md5-sampled corpus centroids,
    *    [[ivfCellsFor]]-sized — dim-scale, broadcasts into every probe;
    *  - `_assign` (id, cid) bucketed by cid — the candidate side: a
    *    probe joins same-cell on cid with zero index-side shuffle, and
    *    the batch's cid InSet prunes index FILES via bucket pruning;
    *  - `_vecs` (id, v) bucketed by id — the exact-cosine verify side;
    *  - `_meta` one row (n_docs, n_cents, n_buckets).
    *
    * Assignments derive from the LANDED centroid table, so the probe's
    * argmax and the index's argmax read bit-identical centroid rows
    * (parquet roundtrips doubles exactly).
    */
  def landSemanticIndex(embs: DataFrame, idCol: String, vecCol: String,
                        tableBase: String, dir: String,
                        nBuckets: Int = 32): SemanticMeta = {
    val spark = embs.sparkSession
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    // the `_vecs` re-layout lands FIRST, with the corpus count riding it
    // as an observe() aggregate: the separate up-front count() was a
    // full corpus pass spent only to size the centroid sample (guide
    // §1.2 — at 100 TB that pass reads the whole corpus once more than
    // necessary). `_vecs` depends on nothing the count feeds, so the
    // land does 3 corpus-reads (vecs, sample, assign) instead of 4.
    val obs = org.apache.spark.sql.Observation()
    graft.sources.Sinks.bucketed(base.observe(obs, count(lit(1)).as("n")),
      s"${tableBase}_vecs", "id", nBuckets, path = Some(s"$dir/vecs"))
    val nDocs = observedCount(obs, "n")(base.count())
    Similarity.md5Sample(embs, idCol, vecCol, ivfCellsFor(nDocs), "cid", "cw")
      .write.mode(SaveMode.Overwrite).option("path", s"$dir/cents")
      .saveAsTable(s"${tableBase}_cents")
    val landedCents = spark.table(s"${tableBase}_cents")
    graft.sources.Sinks.bucketed(assignCells(base, landedCents),
      s"${tableBase}_assign", "cid", nBuckets, path = Some(s"$dir/assign"))
    // the frozen cell count rides meta (not a per-absorb _cents scan):
    // ivfCellsFor(nDocs) clamps at the corpus size, so the sample can
    // hold fewer rows than the formula on tiny corpora — record the
    // formula value, the thing staleness is measured against
    val meta = SemanticMeta(nDocs, nBuckets, ivfCellsFor(nDocs), s"$dir/meta")
    writeMeta(spark, tableBase, meta)
    meta
  }

  /** The quantizer-staleness advisory (the missing half of the frozen-
    * quantizer versioning contract): absorbs grow `n_docs` while the
    * coarse quantizer stays frozen at its land-time size, so once the
    * corpus outgrows the [[ivfCellsFor]] sizing by 2× — i.e. a fresh
    * land would allocate at least DOUBLE the cells — in-cell verify
    * cost and quantization distortion have drifted a factor past
    * design and a re-land (the explicit re-quantization) is due.
    * Surfaced as Metrics `<family>.stale` (`stale`, `n_docs`,
    * `frozen_cents`, `sized_cells`) on every absorb; advisory only —
    * absorbs never mutate the quantizer, and probe bit-parity holds
    * regardless (spec-pinned).
    */
  private[operators] def staleAdvisory(family: String, nDocs: Long,
                                       frozenCents: Int): Unit =
    graft.Metrics.set(s"$family.stale",
      "stale" -> (ivfCellsFor(nDocs) >= 2L * frozenCents),
      "n_docs" -> nDocs,
      "frozen_cents" -> frozenCents.toLong,
      "sized_cells" -> ivfCellsFor(nDocs).toLong)

  /** Semantic near-dup pairs INVOLVING an arriving batch of embeddings,
    * probed against a landed [[landSemanticIndex]] — bit-identical to
    * the frozen-centroid [[semanticDedupPairs]] over (corpus ∪ batch)
    * restricted to pairs with ≥ 1 batch member, at the cost of the
    * batch:
    *
    *  - the centroid table broadcasts into the batch's argmax
    *    assignment (one map-side pass over the batch);
    *  - batch×corpus candidates join the landed assign table same-cell
    *    on cid — broadcast probe by default (zero index-side shuffle),
    *    with the batch's distinct-cid InSet pruning index files (the
    *    d11 prune, same 8k literal cap and Metrics evidence under
    *    `d13`); a corpus-sized batch flips to a shuffle join co-located
    *    with the cid buckets;
    *  - batch-internal candidates reuse the d10 salted same-cell self-
    *    join on the batch assignment;
    *  - the exact-cosine verify re-joins vectors by id from landed-vecs
    *    ∪ batch-vecs (candidates are ids-only — the d5/d10 rule).
    *
    * Ids must be disjoint between batch and corpus.
    */
  def incrementalSemanticPairs(spark: SparkSession, newEmbs: DataFrame,
                               idCol: String, vecCol: String,
                               tableBase: String, threshold: Double,
                               broadcastBatch: Boolean = true): DataFrame = {
    val cents = spark.table(s"${tableBase}_cents")
    val bBase = newEmbs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bAssign = assignCells(bBase, cents).localCheckpoint()
    val nBuckets = numBucketsOf(spark, s"${tableBase}_assign")
    // the capped distinct-cid collect (this entry point admits
    // corpus-sized batches via broadcastBatch = false, so the collect
    // must stay bounded; the streaming cycles resolve cids driver-side)
    val cids = withDesc(spark, "d13: probe cids") {
      bAssign.select("cid").distinct().limit(pruneKeyCap(nBuckets) + 1).collect()
    }.map(_.getLong(0))
    probeSemanticCore(spark, bBase, bAssign, cids, tableBase,
      nBuckets, threshold, broadcastBatch)
  }

  /** Keep/drop classification of an arriving embedding batch against a
    * landed [[landSemanticIndex]] — the embedding twin of
    * [[incrementalSurvivors]] (d15 : d13 :: d14 : d11): a batch vector
    * is a duplicate iff it semantically near-dups (frozen-centroid
    * same-cell, exact cosine ≥ τ) any EARLIER vector — any landed one,
    * or a smaller-id batch mate — with `dup_of` the minimum such
    * neighbor and NULL for survivors. Same set-based "similar to any
    * earlier" semantics (order-deterministic, SQL-expressible), same
    * batch-proportional cost: the [[incrementalSemanticPairs]] probe
    * plus two broadcast membership joins and a batch-sized aggregate.
    */
  def incrementalSemanticSurvivors(spark: SparkSession, newEmbs: DataFrame,
                                   idCol: String, vecCol: String,
                                   tableBase: String,
                                   threshold: Double): DataFrame = {
    val batch = newEmbs.select(col(idCol).cast("long").as("vec_id"))
    val pairs = incrementalSemanticPairs(spark, newEmbs, idCol, vecCol,
      tableBase, threshold)
    earliestNeighborFold(batch, pairs, "vec_id")
  }

  /** Bucket count of a bucketed table from its catalog description — a
    * driver-side catalog command, no Spark job (the probe wants
    * nBuckets for [[pruneKeyCap]] without paying a meta-row read).
    */
  private def numBucketsOf(spark: SparkSession, table: String): Int =
    spark.sql(s"DESCRIBE FORMATTED $table")
      .filter(col("col_name") === "Num Buckets").head().getString(1).trim.toInt

  /** Probe the semantic index with a precomputed batch assignment (the
    * shared core of [[incrementalSemanticPairs]] and
    * [[probeAbsorbSemanticBatch]]). `bBase` is the batch's (id, v)
    * projection — the exact-cosine verify side; `bAssign` its
    * checkpointed (id, cid, v?) cell assignment.
    */
  private def probeSemanticCore(spark: SparkSession, bBase: DataFrame,
                                bAssign: DataFrame, bCids: Array[Long],
                                tableBase: String,
                                nBuckets: Int, threshold: Double,
                                broadcastBatch: Boolean): DataFrame = {
    val idxAssign = spark.table(s"${tableBase}_assign")
    val idxVecs = spark.table(s"${tableBase}_vecs")
    val probe = if (broadcastBatch) broadcast(bAssign) else bAssign
    // the d11 prune with the d11 cap rationale (pruneKeyCap): skip the
    // InSet when the batch's cell set covers the buckets anyway. `bCids`
    // comes from the caller — the streaming cycles read it off their
    // already-collected batch assignment with zero extra jobs
    val maxInSetKeys = pruneKeyCap(nBuckets)
    val idxPruned = {
      graft.Metrics.set("d13", "probe_cids" -> bCids.length.toLong,
        "prune_cap" -> maxInSetKeys.toLong,
        "bucket_pruned" -> (bCids.length <= maxInSetKeys))
      if (bCids.length > maxInSetKeys) idxAssign
      else idxAssign.filter(col("cid").isInCollection(bCids.toSeq))
    }
    // no distinct on cross alone: a vector lives in exactly ONE cell
    // (keep-1 assignment), so a (batch, landed) pair arises from at most
    // one cell and cross is duplicate-free by construction — the old
    // pre-distinct was a full exchange that removed nothing; the final
    // union distinct still dedups cross-vs-intra (r19)
    val cross = idxPruned.as("c").join(probe.as("p"),
        col("c.cid") === col("p.cid") && col("c.id") =!= col("p.id"))
      .select(least(col("c.id"), col("p.id")).as("id_a"),
        greatest(col("c.id"), col("p.id")).as("id_b"))
    // saltedSelfJoin, not saltedSelfCandidates: one dedup point (the
    // union's distinct) for both branches — see probeMinhashCore
    val intra = saltedSelfJoin(bAssign, Seq("cid"), tag = "d13")
    val cand = cross.union(intra).distinct()
    verifiedCosPairs(cand, idxVecs.unionByName(bBase), threshold, tag = "d13")
  }

  /** Absorb an arriving embedding batch into a landed
    * [[landSemanticIndex]]: assign against the FROZEN centroids, append
    * (id, cid) and (id, v) through the bucketed writers, advance meta
    * `n_docs`, refresh the table cache (the [[absorbMinhashBatch]]
    * visibility lesson). Cell populations grow past the
    * [[ivfCellsFor]] sizing as absorption proceeds — when they do,
    * re-landing IS the re-quantization (new centroids sized to the
    * grown corpus); meta's n_docs vs the landed centroid count is the
    * signal to watch.
    */
  def absorbSemanticBatch(spark: SparkSession, newEmbs: DataFrame,
                          idCol: String, vecCol: String,
                          tableBase: String): Unit = {
    val meta = readSemanticMeta(spark, tableBase)
    val cents = spark.table(s"${tableBase}_cents")
    val bBase = newEmbs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .localCheckpoint() // one batch-sized pass; both appends + count reuse it
    writeMeta(spark, tableBase,
      absorbSemanticCore(spark, bBase, assignCells(bBase, cents), tableBase, meta))
  }

  /** A landed semantic index's `_meta` row (n_docs, n_buckets,
    * n_cents) plus its location — the d13 twin of [[MinhashMeta]].
    */
  private[graft] final case class SemanticMeta(nDocs: Long, nBuckets: Int,
                                               nCents: Int, metaPath: String)
      extends IndexMeta {
    def columns: Seq[(String, Any)] =
      Seq("n_docs" -> nDocs, "n_buckets" -> nBuckets, "n_cents" -> nCents)
  }

  private[graft] def readSemanticMeta(spark: SparkSession,
                                      tableBase: String): SemanticMeta =
    readMeta(spark, tableBase) { (r, loc) =>
      // back-compat: an index landed before n_cents joined the meta row
      // (r18) has a 2-field row — landed state is durable, so absorb/probe
      // must still read it; the frozen-centroid count IS the _cents table's
      // cardinality (dim-scale, one count) whenever the meta predates it
      val nCents = if (r.schema.fieldNames.contains("n_cents")) r.getAs[Int]("n_cents")
        else spark.table(s"${tableBase}_cents").count().toInt
      SemanticMeta(r.getAs[Long]("n_docs"), r.getAs[Int]("n_buckets"), nCents, loc)
    }

  /** Append a precomputed batch (vectors + their frozen-centroid
    * assignment) to the semantic index; returns the advanced meta, which
    * the caller writes (see [[absorbMinhashCore]]).
    *
    * Write order is the d13 crash contract, mirroring
    * [[absorbMinhashCore]]: `_assign` BEFORE `_vecs`, because the st10
    * redelivery guard anti-joins arrivals against `_vecs` ids — the
    * guard key commits last, so a crash between the appends is replayed
    * as a full re-absorb whose duplicate assign rows the probe's
    * distinct-ed candidate side absorbs (and compaction rewrites away).
    */
  private def absorbSemanticCore(spark: SparkSession, bBase: DataFrame,
                                 bAssign: DataFrame, tableBase: String,
                                 meta: SemanticMeta): SemanticMeta = {
    // join-free appends: one job each under AQE-off (absorbMinhashCore)
    withDesc(spark, "cycle: absorb assign") { withAqeOff(bAssign.sparkSession) {
      graft.sources.Sinks.bucketed(bAssign,
        s"${tableBase}_assign", "cid", meta.nBuckets, mode = SaveMode.Append)
    } }
    // batch count rides the append (no separate count() job per absorb)
    val obs = org.apache.spark.sql.Observation()
    withDesc(spark, "cycle: absorb vecs") { withAqeOff(bBase.sparkSession) {
      graft.sources.Sinks.bucketed(bBase.observe(obs, count(lit(1)).as("n")),
        s"${tableBase}_vecs", "id", meta.nBuckets, mode = SaveMode.Append)
    } }
    val advanced =
      meta.copy(nDocs = meta.nDocs + observedCount(obs, "n")(bBase.count()))
    staleAdvisory("d13", advanced.nDocs, meta.nCents)
    spark.catalog.refreshTable(s"${tableBase}_assign")
    spark.catalog.refreshTable(s"${tableBase}_vecs")
    advanced
  }

  /** One full semantic ingest cycle — assign once, probe, spool the
    * pairs, absorb — the st10 per-micro-batch loop body and the d13
    * twin of [[probeAbsorbMinhashBatch]] (see there for the
    * materialize-before-absorb ordering and the threaded-meta contract).
    * `cents` is the loop's one driver-side snapshot of the FROZEN
    * centroid table ([[Similarity.localTable]]), so each cycle's
    * assignment broadcast builds without a Spark job (exact by the
    * frozen-at-land contract). The loop's guarded batch re-evaluates
    * for free (it is the arrival file), so the (id, v) projection needs
    * no checkpoint of its own.
    */
  def probeAbsorbSemanticBatch(spark: SparkSession, newEmbs: DataFrame,
                               idCol: String, vecCol: String,
                               tableBase: String, threshold: Double,
                               pairsDir: String, meta: SemanticMeta,
                               cents: DataFrame): SemanticMeta = {
    val bBase = newEmbs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val (bAssign, bCids) = batchAssignLocal(spark, bBase, cents)
    // no repartition(1): see probeAbsorbMinhashBatch
    withDesc(spark, "cycle: probe+spool") {
      probeSemanticCore(spark, bBase, bAssign, bCids, tableBase, meta.nBuckets,
          threshold, broadcastBatch = true)
        .write.mode(SaveMode.Append).parquet(pairsDir)
    }
    absorbSemanticCore(spark, bBase, bAssign, tableBase, meta)
  }

  /** The per-micro-batch (id → cell) assignment as a driver-side
    * LocalRelation plus its distinct cell ids: batch-sized by the ingest
    * contract (the probe broadcasts it whole regardless), so ONE collect
    * feeds the probe's broadcast (job-free build from local rows), the
    * absorb's assign append, and the cid prune — replacing a
    * localCheckpoint job + a distinct-cid collect (with its exchange)
    * per micro-batch. Values roundtrip bit-exactly (two long columns).
    */
  private def batchAssignLocal(spark: SparkSession, bBase: DataFrame,
                               cents: DataFrame): (DataFrame, Array[Long]) = {
    val plan = assignCells(bBase, cents)
    val rows = withDesc(spark, "cycle: batch assign") { plan.collect() }
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), plan.schema),
      rows.map(_.getLong(1)).distinct)
  }

  /** One full semantic ingest-classification cycle — assign once,
    * probe, fold into the [[incrementalSemanticSurvivors]] keep/drop
    * decision, spool the per-vector verdicts, absorb — the st12
    * per-micro-batch loop body (st12 : st10 :: st11 : st9; see
    * [[classifyAbsorbMinhashBatch]] for the arrival-ordered earlier
    * rule and the materialize-before-absorb contract, and
    * [[probeAbsorbSemanticBatch]] for `meta` and `cents`).
    */
  def classifyAbsorbSemanticBatch(spark: SparkSession, newEmbs: DataFrame,
                                  idCol: String, vecCol: String,
                                  tableBase: String, threshold: Double,
                                  classDir: String, meta: SemanticMeta,
                                  cents: DataFrame): SemanticMeta = {
    val bBase = newEmbs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val (bAssign, bCids) = batchAssignLocal(spark, bBase, cents)
    val pairs = probeSemanticCore(spark, bBase, bAssign, bCids, tableBase,
      meta.nBuckets, threshold, broadcastBatch = true)
    // no repartition(1): see probeAbsorbMinhashBatch
    withDesc(spark, "cycle: verdict spool") {
      earliestNeighborFold(bBase.select(col("id").as("vec_id")), pairs, "vec_id")
        .write.mode(SaveMode.Append).parquet(classDir)
    }
    absorbSemanticCore(spark, bBase, bAssign, tableBase, meta)
  }

  /** Compact a landed [[landSemanticIndex]] back to one file per bucket
    * — the d13 twin of [[compactMinhashIndex]], retiring the same
    * small-file debt [[absorbSemanticBatch]] accumulates (one file per
    * touched bucket per batch, on both `_assign` and `_vecs`). Shares
    * [[compactBucketedTable]]: path read so the repartition Exchange
    * survives the bucket-spec elision, versioned sibling directory,
    * rename-aside swap. Centroids and meta are untouched — compaction
    * never re-quantizes (that is an explicit re-land). Probe results
    * are bit-identical before and after (spec-pinned); the
    * `d13.compact` Metrics entry reports files before/after per table.
    */
  def compactSemanticIndex(spark: SparkSession, tableBase: String): Unit =
    compactIndex(spark, tableBase, "d13.compact")("assign" -> "cid", "vecs" -> "id")

  /** Land the d1 exact-dedup state — (content_sha, keep_id, n_copies),
    * bucketed by the digest — as the `<tableBase>_sha` table under
    * `dir/sha`.
    */
  def landShaIndex(docs: DataFrame, idCol: String, textCol: String,
                   tableBase: String, dir: String, nBuckets: Int = 32): Unit =
    graft.sources.Sinks.bucketed(
      exactDedup(docs, idCol, textCol),
      s"${tableBase}_sha", "content_sha", nBuckets, path = Some(s"$dir/sha"))

  /** Classify an arriving batch against a landed [[landShaIndex]]: per
    * batch doc, the corpus survivor sharing its content (if any), the
    * minimum same-content id WITHIN the batch, and whether the doc is
    * genuinely new (no corpus copy, first of its content in the batch) —
    * the skip-existing decision every ingest makes, with zero corpus
    * re-hash. Join shape: the landed index streams past the BROADCAST
    * distinct batch digests (no corpus shuffle), and the surviving
    * matches — batch-proportional — broadcast back onto the batch.
    */
  def incrementalExactDedup(spark: SparkSession, newDocs: DataFrame,
                            idCol: String, textCol: String,
                            tableBase: String): DataFrame = {
    val idx = spark.table(s"${tableBase}_sha")
    val batch = newDocs.select(col(idCol).as("doc_id"),
      sha2(col(textCol).cast("binary"), 256).as("content_sha"))
    val matches = idx.join(broadcast(batch.select("content_sha").distinct()),
      Seq("content_sha")).select(col("content_sha"), col("keep_id").as("corpus_keep_id"))
    val wSha = org.apache.spark.sql.expressions.Window.partitionBy("content_sha")
    batch
      .withColumn("batch_keep_id", min("doc_id").over(wSha))
      .join(broadcast(matches), Seq("content_sha"), "left")
      .select(col("doc_id"), col("content_sha"), col("corpus_keep_id"),
        col("batch_keep_id"),
        (col("corpus_keep_id").isNull && col("doc_id") === col("batch_keep_id"))
          .as("is_new"))
  }
}
