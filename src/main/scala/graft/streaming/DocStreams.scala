package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}

/** Streaming ingest over the `documents` table: the continuous-arrival
  * twin of the d11 incremental dedup (SURVEY.md §2.4 st9).
  *
  * The reference's ingest is skip-what-the-cache-holds batch polling
  * (deep-field pages.py:92-116); at corpus scale the same contract is a
  * STREAM of arriving documents deduplicated against a landed index
  * that each arrival then joins. This operator is that loop end-to-end:
  * land once, then per micro-batch probe → emit pairs → absorb.
  */
object DocStreams {

  private val qid = new AtomicInteger(0)

  /** Arrival chunk count for the six ingest-loop drains (st9–st14):
    * every loop splits its arrival slice into this many single-file
    * drops (id mod [[ArrivalChunks]]), each one micro-batch. THE shared
    * constant: the st11/st12/st13 oracles' arrival-order fold and the
    * StreamingSpec scalar folds all derive their chunk rule from it, so
    * the cadence can move without the two sides drifting. 3 is the
    * floor that still exercises every cross-batch contract (landed vs
    * arrival, earlier-chunk vs same-chunk-mate, multi-absorb
    * visibility) — each drain's cost is dominated by the per-micro-
    * batch scheduling floor, so fewer chunks is the direct gate-cost
    * lever (r16 VERDICT #6; 4 → 3 cut ~25% of each drain).
    */
  val ArrivalChunks = 3

  /** The two corpora the drains ingest: the arrival-drop kind, the id
    * and payload columns, and the table reader.
    */
  private final case class Corpus(kind: String, idCol: String, payload: String,
                                  table: (SparkSession, String) => DataFrame)

  private val Docs = Corpus("docs", "doc_id", "text", graft.sources.Tables.documents)
  private val Embs = Corpus("embs", "vec_id", "embedding", graft.sources.Tables.embeddings)

  /** One drain's landed index as [[ingestLoop]] drives it: the meta the
    * land returned (`()` for an index without a meta table), the
    * id-bucketed guard table's suffix and bucket count, the index's
    * compaction and catalog table suffixes, and the per-micro-batch
    * `cycle` — probe the guarded batch (with its batch id), spool the
    * answers, absorb it — which returns the advanced meta.
    */
  private final case class Drain[M](landed: M, guard: String, guardBuckets: Int,
                                    compact: () => Unit, tables: Seq[String])(
                                    val cycle: (M, DataFrame, Long) => M)

  /** The ingest loop behind st9–st14. Lands the `doc_id/vec_id % 5 < 3`
    * slice of `corpus` through `land` (given the slice, the catalog
    * table base, the index dir and the output dir), drops the remaining
    * rows as [[ArrivalChunks]] single-file arrivals, and drains them as
    * a file stream, `maxFilesPerTrigger = 1` so each file is one
    * micro-batch — the landed-drop layout a real deployment tails. Each
    * micro-batch, inside `foreachBatch`, passes the batch-proportional
    * redelivery guard ([[Dedup.guardedBatch]], driver-resolved: in the
    * no-replay common case the batch passes through without an
    * anti-join, a checkpoint pass or an isEmpty job) and runs the
    * drain's cycle on what survives. Returns the distinct output spool,
    * which outlives the catalog tables dropped here.
    *
    * Compaction cadence: every `autoCompactEvery` completed cycles
    * (0 = never; the caller owns cadence) the loop fires the index's
    * compaction, so file counts stay bounded without a caller-driven
    * call; Metrics `<st>.autocompact` reports how often it fired.
    * Firing AFTER a completed cycle is what makes this safe inside an
    * at-least-once `foreachBatch`: the cycle's redelivery-guard key
    * (sigs/vecs/docs — always the LAST append of the cycle) is durable
    * before the compactor runs, so a replay of any pre-compaction batch
    * is dropped by the guard and never observes the collapsed state
    * (the st13 "at rest" contract holds batch-by-batch).
    *
    * The meta threads through the cycles (this loop is the index's only
    * writer), so each micro-batch pays zero meta jobs, and the advanced
    * meta is written once after the drain — in a finally: a mid-drain
    * failure otherwise widened the documented one-batch n_docs crash
    * window to the whole drain (rows absorbed, meta at its land-time
    * value), so the loop persists whatever it reached (n_docs stays
    * advisory either way).
    */
  private def ingestLoop[M](spark: SparkSession, dir: String, st: String,
                            corpus: Corpus, outSub: String, outSchema: StructType,
                            autoCompactEvery: Int, rootDir: Option[String])
                           (land: (DataFrame, String, String, String) => Drain[M])
      : DataFrame = {
    val id = qid.incrementAndGet()
    val tableBase = s"graft_${st}_$id"
    val root = rootDir.getOrElse(graft.sources.Spool.tempRoot(s"${st}_$id"))
    val rows = corpus.table(spark, dir).select(corpus.idCol, corpus.payload)
    val outDir = s"$root/$outSub"
    val drain = land(rows.filter(col(corpus.idCol) % 5 < 3), tableBase,
      s"$root/idx", outDir)
    val arriveDir = arrivalDrops(dir, corpus.kind, corpus.idCol)(
      rows.filter(col(corpus.idCol) % 5 >= 3))
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(arriveDir)
    var meta = drain.landed
    var cycles = 0
    val q = EventStreams.withDrainConf(spark) {
      stream.writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Dedup.guardedBatch(spark, batch, s"${tableBase}_${drain.guard}",
            drain.guardBuckets, s"$st.guard", corpus.idCol).foreach { fresh =>
            meta = drain.cycle(meta, fresh, batchId)
            cycles += 1
            if (autoCompactEvery > 0 && cycles % autoCompactEvery == 0) drain.compact()
          }
        }
        .start()
    }
    try q.processAllAvailable() finally {
      try q.stop()
      finally meta match {
        case m: Dedup.IndexMeta if meta != drain.landed => Dedup.writeMeta(spark, tableBase, m)
        case _ =>
      }
    }
    graft.Metrics.set(s"$st.autocompact",
      "fired" -> (if (autoCompactEvery > 0) cycles / autoCompactEvery else 0).toLong)
    drain.tables.foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${tableBase}_$s"))
    spark.read.schema(outSchema).parquet(outDir).distinct()
  }

  /** The d11 MinHash index the st9/st11 drains land and absorb into,
    * with `cycle` (meta, guarded batch) as their micro-batch body.
    */
  private def minhashDrain(spark: SparkSession, slice: DataFrame, tableBase: String,
                           idx: String)(cycle: (Dedup.MinhashMeta, DataFrame) =>
                             Dedup.MinhashMeta): Drain[Dedup.MinhashMeta] = {
    val meta = Dedup.landMinhashIndex(slice, "doc_id", "text", n = 3, k = 64,
      bands = 16, tableBase, idx)
    Drain(meta, "sigs", meta.nBuckets, () => Dedup.compactMinhashIndex(spark, tableBase),
      Seq("sigs", "bands", "meta"))((m, fresh, _) => cycle(m, fresh))
  }

  /** The d13 semantic index the st10/st12 drains land and absorb into,
    * with `cycle` (meta, guarded batch, centroid snapshot) as their
    * micro-batch body. One driver-side snapshot of the FROZEN centroid
    * table serves every cycle, so each assignment broadcast builds
    * without a Spark job.
    */
  private def semanticDrain(spark: SparkSession, slice: DataFrame, tableBase: String,
                            idx: String)(cycle: (Dedup.SemanticMeta, DataFrame,
                              DataFrame) => Dedup.SemanticMeta): Drain[Dedup.SemanticMeta] = {
    val meta = Dedup.landSemanticIndex(slice, "vec_id", "embedding", tableBase, idx)
    val cents = Similarity.localTable(spark, s"${tableBase}_cents")
    Drain(meta, "vecs", meta.nBuckets, () => Dedup.compactSemanticIndex(spark, tableBase),
      Seq("cents", "assign", "vecs", "meta"))((m, fresh, _) => cycle(m, fresh, cents))
  }

  private val pairSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("est_jaccard", DoubleType)))

  /** st9: streaming incremental near-dup dedup. The corpus slice
    * (doc_id % 5 < 3) lands once as the bucketed d3 MinHash index; the
    * remaining documents arrive as a FILE SEQUENCE (one parquet file per
    * arrival chunk, `maxFilesPerTrigger = 1` so each file is one
    * micro-batch — the landed-drop layout a real deployment tails).
    * Each micro-batch, inside `foreachBatch`:
    *
    *  1. anti-join the batch against the index's landed ids — the
    *     redelivery guard: a replayed micro-batch (foreachBatch is
    *     at-least-once) re-absorbs nothing and re-emits only pairs the
    *     trailing distinct absorbs, the st6 keys-not-transactions
    *     pattern;
    *  2. probe via [[Dedup.incrementalMinhashPairs]] — pairs against
    *     corpus ∪ everything already absorbed, batch-proportional cost;
    *  3. append the pairs to a result spool;
    *  4. [[Dedup.absorbMinhashBatch]] the batch so later arrivals pair
    *     against it.
    *
    * Every pair with ≥1 arriving member is emitted exactly once — when
    * its later-arriving side is processed (same-batch pairs via the
    * probe's intra-batch leg) — so the drained union equals the d3
    * algebra over ALL documents restricted to arrival-involving pairs,
    * regardless of chunk processing order. That set is the DuckDB
    * oracle.
    */
  def streamIncrementalDedup(spark: SparkSession, dir: String,
                             autoCompactEvery: Int = 0,
                             rootDir: Option[String] = None): DataFrame =
    ingestLoop(spark, dir, "st9", Docs, "pairs", pairSchema, autoCompactEvery,
      rootDir) { (slice, tableBase, idx, out) =>
      minhashDrain(spark, slice, tableBase, idx)((meta, fresh) =>
        Dedup.probeAbsorbMinhashBatch(spark, fresh, "doc_id", "text", tableBase,
          threshold = 0.5, pairsDir = out, meta))
    }

  private val cosPairSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("cos", DoubleType)))

  /** st10: streaming incremental SEMANTIC dedup — the embedding twin of
    * [[streamIncrementalDedup]], closing the §2.4 loop for the d13
    * index the way st9 closes it for d11. The corpus slice
    * (vec_id % 5 < 3) lands once via [[Dedup.landSemanticIndex]] — the
    * coarse quantizer is FROZEN there, so every arriving micro-batch
    * assigns against the same centroids (the IVF-list versioning
    * contract; re-quantization is an explicit re-land, never something
    * a stream does implicitly). The remaining vectors arrive as a file
    * sequence, one micro-batch each; per batch, behind the `_vecs`
    * anti-join redelivery guard: probe (same-cell candidates, exact-
    * cosine verify) → spool pairs → absorb. Every arrival-involving
    * pair is emitted exactly once — by the micro-batch of its
    * later-arriving member — so the drained union equals the
    * frozen-centroid d10 algebra over ALL vectors restricted to
    * arrival-involving pairs, whatever the chunk order. That set is
    * the DuckDB oracle.
    */
  def streamSemanticDedup(spark: SparkSession, dir: String,
                          threshold: Double = 0.4,
                          autoCompactEvery: Int = 0,
                          rootDir: Option[String] = None): DataFrame =
    ingestLoop(spark, dir, "st10", Embs, "pairs", cosPairSchema, autoCompactEvery,
      rootDir) { (slice, tableBase, idx, out) =>
      semanticDrain(spark, slice, tableBase, idx)((meta, fresh, cents) =>
        Dedup.probeAbsorbSemanticBatch(spark, fresh, "vec_id", "embedding",
          tableBase, threshold, pairsDir = out, meta, cents))
    }

  /** JVM-global arrival-drop cache: the chunked drop files are a pure
    * function of (table dir, family kind, the shared chunk rule) and
    * immutable once written, so the six ingest loops over the same
    * corpus share ONE set of drops per kind instead of each
    * re-filtering the corpus once per chunk — the drops are input
    * FIXTURES (the landed file sequence a real deployment tails), not
    * operator work, and each loop still runs its own stream/checkpoint
    * over them. Drops always carry ordered mtimes; the order-free
    * loops (st9/st10) simply don't depend on them.
    */
  private val arrivalCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def arrivalDrops(dir: String, kind: String, idCol: String)
                          (arrivals: => DataFrame): String =
    // keyed by every input the drop files are a function of: source dir,
    // family kind, chunk count AND the id column (the arrival slice
    // `% 5 >= 3` is the loops' shared fixture contract — a future loop
    // with a different slice must use a different `kind`)
    arrivalCache.computeIfAbsent(s"$dir|$kind|$idCol|$ArrivalChunks", _ => {
      val root = graft.sources.Spool.tempRoot(s"drops_$kind")
      writeOrderedChunks(root, s"${kind}_", ArrivalChunks, idCol)(arrivals)
      root
    })

  /** Write `arrivals` as one single-file drop per chunk with STRICTLY
    * INCREASING modification times, so the file stream's
    * timestamp-ordered listing processes chunks in chunk order — st9/
    * st10's pair oracles are arrival-order-free so they never needed
    * this, but the st11/st12 classification oracles fold over arrival
    * order, which must therefore be deterministic.
    */
  private def writeOrderedChunks(root: String, prefix: String, chunks: Int,
                                 idCol: String)(arrivals: DataFrame): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val base = System.currentTimeMillis()
    (0 until chunks).foreach { i =>
      val dest = s"$root/$prefix$i.parquet"
      graft.GenData.writeSingleParquetFile(dest)(
        arrivals.filter(pmod(col(idCol), lit(chunks)) === i))
      Files.setLastModifiedTime(Paths.get(dest),
        FileTime.fromMillis(base + i * 2000L))
    }
  }

  private def classSchema(idCol: String) = StructType(Seq(
    StructField(idCol, LongType), StructField("dup_of", LongType),
    StructField("is_new", BooleanType)))

  /** st11: streaming ingest keep/drop classification — the continuous
    * twin of the d14 [[Dedup.incrementalSurvivors]] decision, run
    * inside the st9 loop: corpus (doc_id % 5 < 3) lands once as the
    * bucketed MinHash index; arrivals drop as a timestamp-ordered file
    * sequence, one micro-batch each; per batch, behind the `_sigs`
    * redelivery guard, [[Dedup.classifyAbsorbMinhashBatch]] probes,
    * folds the pairs into per-doc verdicts — dup iff the doc near-dups
    * anything ALREADY IN THE INDEX (corpus or an earlier arrival) or a
    * smaller-id batch mate, `dup_of` = the minimum such neighbor —
    * spools the verdicts, and absorbs the batch. Every arrival is
    * classified exactly once against the index as of its arrival, so
    * the drained stream equals a single arrival-ordered fold over the
    * full pair algebra (the DuckDB oracle): earlier(e, x) ⇔ e landed,
    * or e's chunk precedes x's, or same chunk with e < x.
    */
  def streamIncrementalSurvivors(spark: SparkSession, dir: String,
                                 autoCompactEvery: Int = 0,
                                 rootDir: Option[String] = None): DataFrame =
    ingestLoop(spark, dir, "st11", Docs, "class", classSchema("doc_id"),
      autoCompactEvery, rootDir) { (slice, tableBase, idx, out) =>
      minhashDrain(spark, slice, tableBase, idx)((meta, fresh) =>
        Dedup.classifyAbsorbMinhashBatch(spark, fresh, "doc_id", "text", tableBase,
          threshold = 0.5, classDir = out, meta))
    }

  private val cleanSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("clean_text", StringType),
    StructField("n_dropped", LongType)))

  /** st13: streaming line-level boilerplate dedup — the continuous twin
    * of the d16/d17 cross-document repeated-segment stage. The corpus
    * slice (doc_id % 5 < 3) lands once as the segment-df index
    * ([[Dedup.landSegDfIndex]]); the remaining docs arrive as a
    * timestamp-ordered file sequence, one micro-batch each. Per batch,
    * behind the `_docs` redelivery guard,
    * [[Dedup.classifyAbsorbSegBatch]] cleans each doc against the df
    * state AS OF ITS ARRIVAL — a segment instance is dropped iff
    * `earlier_hosts + 1 >= minDf`, where earlier = landed, an earlier
    * chunk, or a smaller-id batch mate — spools the cleaned doc, and
    * absorbs the batch's df deltas (batch_id-tagged for at-least-once
    * idempotence; see landSegDfIndex's contract). The first minDf-1
    * hosts of a repeated segment keep their copy — d17's keep-first
    * rule generalized to arrival order, which is the only causal
    * option for a stream (emitted text cannot be retro-edited).
    * Drained stream ≡ one arrival-ordered fold over the full segment
    * algebra — the DuckDB oracle.
    */
  def streamLineDedup(spark: SparkSession, dir: String,
                      window: Int = 10, minDf: Int = 2,
                      autoCompactEvery: Int = 0,
                      rootDir: Option[String] = None): DataFrame =
    ingestLoop(spark, dir, "st13", Docs, "clean", cleanSchema, autoCompactEvery,
      rootDir) { (slice, tableBase, idx, out) =>
      Dedup.landSegDfIndex(spark, slice, "doc_id", "text", window, tableBase, idx)
      // safe mid-stream despite compactSegDfIndex's at-rest contract: the
      // loop compacts only AFTER classifyAbsorbSegBatch committed the
      // `_docs` guard key (see ingestLoop)
      Drain((), "docs", Dedup.SegBuckets, () => Dedup.compactSegDfIndex(spark, tableBase),
        Seq("segdf", "docs"))((_, fresh, batchId) =>
        Dedup.classifyAbsorbSegBatch(spark, fresh, "doc_id", "text", tableBase,
          batchId, window, minDf, out))
    }

  /** st12: streaming semantic ingest classification — the embedding
    * twin of [[streamIncrementalSurvivors]] (st12 : st10 :: st11 :
    * st9): frozen-centroid cell index landed once from the
    * vec_id % 5 < 3 slice, arrivals drop as a timestamp-ordered file
    * sequence, and each micro-batch is classified against the index as
    * of its arrival (dup iff exact cosine ≥ τ against a landed vector,
    * an earlier arrival, or a smaller-id batch mate) before being
    * absorbed. Drained stream ≡ the arrival-ordered fold over the
    * frozen-centroid pair algebra.
    */
  def streamSemanticSurvivors(spark: SparkSession, dir: String,
                              threshold: Double = 0.4,
                              autoCompactEvery: Int = 0,
                              rootDir: Option[String] = None): DataFrame =
    ingestLoop(spark, dir, "st12", Embs, "class", classSchema("vec_id"),
      autoCompactEvery, rootDir) { (slice, tableBase, idx, out) =>
      semanticDrain(spark, slice, tableBase, idx)((meta, fresh, cents) =>
        Dedup.classifyAbsorbSemanticBatch(spark, fresh, "vec_id", "embedding",
          tableBase, threshold, classDir = out, meta, cents))
    }

  private val verdictSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("neighbor_id", LongType),
    StructField("adc_fp", LongType), StructField("rank", LongType)))

  /** st14: streaming vector ingest over the LANDED a10 IVF-PQ index —
    * the d13→st10 pattern applied to the flagship vector store: the
    * corpus slice (vec_id % 5 < 3) lands once via
    * [[graft.operators.Similarity.landIvfPqIndex]] (centroids AND PQ
    * codebook frozen there — re-quantization is an explicit re-land,
    * never something a stream does implicitly); the remaining vectors
    * arrive as a timestamp-ordered file sequence, one micro-batch
    * each. Per batch, behind the `_vecs` redelivery guard,
    * [[graft.operators.Similarity.probeAbsorbIvfPqBatch]] answers each
    * arrival's ADC top-k AGAINST THE INDEX AS OF ITS ARRIVAL (landed ∪
    * earlier chunks — batch mates are not yet in the index, so never
    * candidates), spools the verdicts, and absorbs the batch so later
    * arrivals see it. Drained stream ≡ one arrival-ordered fold over
    * the frozen-quantizer a10 algebra (earlier(e, x) ⇔ e landed or e's
    * chunk precedes x's — the DuckDB oracle), and ≡ the same cycles
    * replayed as plain batch calls (spec-pinned).
    */
  def streamIvfPqIngest(spark: SparkSession, dir: String,
                        k: Int = 5, nProbe: Int = 4,
                        autoCompactEvery: Int = 0,
                        rootDir: Option[String] = None): DataFrame =
    ingestLoop(spark, dir, "st14", Embs, "verdicts", verdictSchema, autoCompactEvery,
      rootDir) { (slice, tableBase, idx, out) =>
      // cell count sized by the LANDED corpus (ivfCellsFor, the d13/d10
      // rule): a fixed nCentroids makes every probe scan nProbe/nCents of
      // the corpus PER QUERY — at gen10 that was 30k candidates for each
      // of 27k arrivals in a batch, the exact blow-up class the sqrt
      // sizing exists to stop (r18; the oracle replays the same formula).
      // The sized land derives the count from its own `_vecs` write, so
      // no separate landed.count() corpus pass is needed (r19)
      val meta = Similarity.landIvfPqIndexSized(slice, "vec_id", "embedding",
        Dedup.ivfCellsFor, m = 4, kCodes = 16, tableBase, idx)
      // one driver-side snapshot of the FROZEN quantizer tables (cents,
      // cb): every cycle's probe/encode broadcasts then build job-free
      val quant = (Similarity.localTable(spark, s"${tableBase}_cents"),
        Similarity.localTable(spark, s"${tableBase}_cb"))
      // guard on the id-bucketed _vecs side table — id-keyed, so a
      // replay with a CHANGED vector is dropped like any other (the
      // codes-side sub-0 guard this replaced was corpus-proportional and
      // blind to those)
      Drain(meta, "vecs", meta.nBuckets, () => Similarity.compactIvfPqIndex(spark, tableBase),
        Seq("cents", "cb", "codes", "vecs", "meta"))((m, fresh, _) =>
        Similarity.probeAbsorbIvfPqBatch(spark, fresh, "vec_id", "embedding",
          tableBase, k, nProbe, verdictsDir = out, m, quant))
    }
}
