package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.StreamParams
import graft.operators.{AsOfJoin, BloomJoin, Bpe, Clustering, Curation,
  DataQuality, Dedup, ExactOutliers, GridOutliers, IntervalJoin, JoinRouter,
  KMeans, Layout, Multimodal, Relational, Retrieval, Similarity, Skew,
  Sketches, Sq8, TextAnalysis}
import graft.sources.Sources
import graft.streaming.{DedupStream, EmbDedupStream, FrequentItems,
  FrequentItemsStream, ReservoirAgg}

/** Driver contract — see /root/repo/SURVEY.md §7 + FIXTURES.md.
  *
  * Every deterministic query appears both here (Spark) and in [[oracleSql]]
  * (DuckDB) with byte-identical derivation expressions and matching output
  * column names/aliases; the driver hash-compares the two on sf0.01.
  */
object SparkEntry {

  // Fixture-1 outlier parameters (FIXTURES.md): pinned from the sf0.1 point
  // density so the grid join stays selective at the bench scale.
  val D = 0.5
  val M = 10
  val K = 10

  /** Fixed literal centers for the oracle-checkable radius query (J3/A6):
    * the deterministic stand-in for MRFFT's randomized center set. */
  val FixedCenters: Seq[(Double, Double)] =
    Seq((10.0, 10.0), (25.0, 50.0), (40.0, 90.0), (15.0, 75.0), (45.0, 25.0))

  /** Fixture-3 stream parameters (FIXTURES.md shape; φ lowered to 0.025 so the
    * frequent set is non-empty at every sf — the item distribution flattens to
    * ~uniform-over-50 beyond sf0.001). */
  val SP: StreamParams = StreamParams(1000L, 0.025, 0.01, 0.1)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    GridOutliers.summary(Sources.points2d(spark, "/root/testdata/sf0.001"), D, M)

  /** Replay directories already (re)written by THIS JVM — the fixture
    * cache's invalidation boundary. Per-JVM, not per-filesystem: a marker
    * file surviving in tmpdir across JVMs could serve a STALE replay after
    * the source table is regenerated (the only cross-JVM cached fixture in
    * the repo would then gate old data against a fresh oracle). Within one
    * JVM the source table is immutable, so bench reps and sibling gates
    * still share one write. `computeIfAbsent` gives both halves of the
    * r10 ADVICE fix: a FAILED write adds no mapping (the next caller
    * retries instead of streaming a partial directory), and a concurrent
    * first caller blocks until the fixture is completely written. */
  private val replayWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Fresh per-invocation /tmp artifact path (r13 verdict #3 — bench
    * reps re-run the gate lambda, so a mutable artifact must never be
    * shared across invocations): `<prefix>_<sfKey>_<seq>`, tearing down
    * the PREVIOUS invocation's tree so /tmp never accretes across reps. */
  private val gateSeq = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  private def freshGatePath(s: SparkSession, prefix: String,
                            dir: String): String = {
    val key = s"${prefix}_${Sources.pathKey(dir)}"
    val seq = gateSeq.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicLong(0L)).incrementAndGet()
    val parent = new java.io.File(System.getProperty("java.io.tmpdir"))
    val prior = new java.io.File(parent, s"${key}_${seq - 1}").getAbsolutePath
    new org.apache.hadoop.fs.Path(prior)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(prior), true): Unit
    new java.io.File(parent, s"${key}_$seq").getAbsolutePath
  }

  private def replayFixture(prefix: String, dir: String,
                            write: String => Unit): String = {
    val replay = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${Sources.pathKey(dir)}").getAbsolutePath
    replayWritten.computeIfAbsent(replay, { r => write(r); r })
  }

  /** The document table as a deterministic 4-file parquet replay (1 file
    * per micro-batch under maxFilesPerTrigger=1, so streaming state spans
    * batches). Written once per JVM per sfDir — the replay content is a
    * pure function of the static test table, and both ingest-dedup gates
    * (and every bench rep) read the same fixture, so re-materializing it
    * per invocation would time the parquet writer, not the operator. */
  private def docReplayStream(s: SparkSession, dir: String): DataFrame = {
    val replay = replayFixture("graft_dedup_stream", dir, path =>
      Sources.documents(s, dir).select(col("doc_id").cast("long"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(path))
    s.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(replay)
  }

  /** The document table WITH its source column as a deterministic 4-file
    * replay — the [[docReplayStream]] treatment for the per-feed drift
    * monitor (which keys state by (source, token)). */
  private def docSourceReplayStream(s: SparkSession, dir: String): DataFrame = {
    val replay = replayFixture("graft_drift_stream", dir, path =>
      Sources.documents(s, dir)
        .select(col("doc_id").cast("long"), col("text"), col("source"))
        .repartition(4).write.mode("overwrite").parquet(path))
    s.readStream.schema("doc_id BIGINT, text STRING, source STRING")
      .option("maxFilesPerTrigger", 1).parquet(replay)
  }

  /** The embeddings table as a deterministic 4-file replay — the
    * [[docReplayStream]] treatment for the embedding ingest screen. */
  private def embReplayStream(s: SparkSession, dir: String): DataFrame = {
    val replay = replayFixture("graft_emb_stream", dir, path =>
      Sources.embeddings(s, dir).select(col("vec_id").cast("long"), col("emb"))
        .repartition(4).write.mode("overwrite").parquet(path))
    s.readStream.schema("vec_id BIGINT, emb ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1).parquet(replay)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sources (S1-S3) ----
    "q_points" -> ((s, dir) =>
      Sources.points2d(s, dir).orderBy("id")),
    // ---- MRApproxOutliers pipeline (C2: A1, J2/A3, P5/P6/A4, T2) ----
    "q_cells" -> ((s, dir) =>
      GridOutliers.cellCounts(Sources.points2d(s, dir), D).orderBy("i", "j")),
    "q_cells_centered" -> ((s, dir) =>
      GridOutliers.cellCounts(Sources.points2dCentered(s, dir), D).orderBy("i", "j")),
    "q_cell_stats" -> ((s, dir) =>
      GridOutliers.neighborStats(
        GridOutliers.cellCounts(Sources.points2d(s, dir), D)).orderBy("i", "j")),
    "q_outlier_summary" -> ((s, dir) =>
      GridOutliers.summary(Sources.points2d(s, dir), D, M)),
    "q_topk_cells" -> ((s, dir) =>
      GridOutliers.topKCells(Sources.points2d(s, dir), D, K)),
    // ---- ExactOutliers (C1/J1) ----
    // Sources.spread: parallelize the kernel's map side (scale-adaptive
    // scan floor — no-op past one scan split); its exchange runs as a job
    // of its own when the kernel DataFrame is built
    "q_exact_outliers" -> ((s, dir) =>
      ExactOutliers.outliers(Sources.spread(Sources.points2d(s, dir)), D, M, K)),
    "q_exact_outlier_count" -> ((s, dir) =>
      ExactOutliers.outlierCount(Sources.spread(Sources.points2d(s, dir)), D, M)),
    // ---- MRFFT / k-center clustering (C3/C4, J3, A6) ----
    "q_radius_fixed_centers" -> ((s, dir) =>
      Sources.points2d(s, dir).agg(
        max(Clustering.minDistToCenters2d(col("x"), col("y"), FixedCenters)).as("radius"))),
    // MRFFT is iterative (not SQL-expressible as a query), but the
    // fixed-partitioning variant makes its centers DETERMINISTIC, so the
    // radius gets a full hash-checked oracle: the sf0.01 centers are pinned
    // as literals in the SQL (regenerate with `runMain graft.Pins`).
    // If the pipeline ever produces different centers, the radius — and the
    // hash — change, and the gate fails loudly.
    "q_mrfft_radius" -> ((s, dir) => {
      val pts = Sources.points2d(s, dir)
      val vecs = pts.select(col("id"), array(col("x"), col("y")).as("vec"))
      Clustering.radius(vecs, Clustering.mrfftCentersDeterministic(vecs, 8, 8))
    }),
    "q_mrfft_embeddings" -> ((s, dir) => {
      val vecs = Sources.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("emb").as("vec"))
      Clustering.radius(vecs, Clustering.mrfftCentersDeterministic(vecs, 8, 4))
    }),
    "q_hw2_pipeline" -> ((s, dir) =>
      Clustering.hw2Pipeline(Sources.points2d(s, dir), 8, 8, M)),
    // ---- frequent items over the item stream fixture (C5-C7, §2.7, §2.10) ----
    "q_freq_exact" -> ((s, dir) =>
      FrequentItems.exactFrequent(Sources.streamItems(s, dir), SP.n, SP.phi)),
    "q_freq_compare" -> ((s, dir) =>
      FrequentItems.compareReport(Sources.streamItems(s, dir), SP.n, SP.phi, SP.eps)),
    "q_sticky_det" -> ((s, dir) =>
      FrequentItems.stickyDeterministic(Sources.streamItems(s, dir), SP)),
    // §2.10 promoted into the hash gate: a deterministic FILE-REPLAY run of
    // the Structured Streaming pipeline (readStream → foreachBatch fold →
    // stop-at-n), whose final exact-counts state must hash-match the BATCH
    // twin's oracle (q_freq_exact's SQL). The replay holds exactly the first
    // n items, so the guard-before-add overshoot window is empty and the
    // folded multiset equals the batch prefix regardless of how the file
    // source carves micro-batches.
    "q_freq_stream" -> ((s, dir) => {
      import s.implicits._
      // keyed on the FULL sfDir path via md5 (not String.hashCode, whose
      // 32-bit value can collide two sfDirs onto one replay directory)
      val replay = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_freq_stream_${Sources.pathKey(dir)}").getAbsolutePath
      Sources.streamItems(s, dir).orderBy("seq").limit(SP.n.toInt)
        .select(col("seq").cast("long"), col("item").cast("long"))
        .repartition(4).write.mode("overwrite").parquet(replay)
      val stream = s.readStream.schema("seq BIGINT, item BIGINT")
        .option("maxFilesPerTrigger", 1).parquet(replay)
      val (state, query) = FrequentItemsStream.run(stream, SP, seed = 42L,
        queryName = "q_freq_stream")
      val stopped = query.awaitTermination(120000)
      if (query.isActive) query.stop()
      // loud gate, not a silent partial answer: a timed-out replay or a
      // short fixture would otherwise surface as a hash mismatch blamed on
      // the streaming operator (or pass silently under a rows-only check)
      require(stopped && state.processed == SP.n,
        s"q_freq_stream replay incomplete: stopped=$stopped, " +
          s"processed=${state.processed} of ${SP.n}")
      state.trueFrequent.toDF("item", "cnt").orderBy("item")
    }),
    // Seeded randomized samplers: rows-only driver check + property specs.
    "q_reservoir" -> ((s, dir) =>
      FrequentItems.reservoirEstimate(Sources.streamItems(s, dir), SP, seed = 42L)),
    "q_reservoir_merge" -> ((s, dir) => {
      import s.implicits._
      val items = Sources.streamItems(s, dir).orderBy("seq").limit(SP.n.toInt)
        .select(col("seq").cast("long"), col("item").cast("long")).as[(Long, Long)]
      val sample = items.select(new ReservoirAgg(SP.reservoirSize, salt = 42L).toColumn)
        .head()
      sample.distinct.sorted.toSeq.toDF("item")
    }),
    // ---- M7 extensions: text analysis ----
    "q_token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(Sources.documents(s, dir))),
    "q_lang_id" -> ((s, dir) => TextAnalysis.langId(Sources.documents(s, dir))),
    "q_quality" -> ((s, dir) => TextAnalysis.qualityScore(Sources.documents(s, dir))),
    "q_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Sources.documents(s, dir))),
    "q_char_classes" -> ((s, dir) => TextAnalysis.charClasses(Sources.documents(s, dir))),
    "q_doc_stats" -> ((s, dir) => TextAnalysis.docStats(Sources.documents(s, dir))),
    "q_scrub" -> ((s, dir) => TextAnalysis.scrub(Sources.documents(s, dir))),
    // ---- M7 extensions: dedup ----
    "q_dedup_groups" -> ((s, dir) => Dedup.exactGroups(Sources.documents(s, dir))),
    "q_dedup_summary" -> ((s, dir) => Dedup.dedupSummary(Sources.documents(s, dir))),
    "q_minhash_lsh" -> ((s, dir) => Dedup.minhashLshPairs(Sources.documents(s, dir))),
    "q_minhash_est" -> ((s, dir) => Dedup.minhashEstimates(Sources.documents(s, dir))),
    "q_dedup_clusters" -> ((s, dir) => Dedup.nearDupClusters(Sources.documents(s, dir))),
    "q_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccardPairs(Sources.documents(s, dir))),
    "q_simhash" -> ((s, dir) => Dedup.simhash(Sources.documents(s, dir))),
    "q_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(Sources.documents(s, dir))),
    "q_pair_degrees" -> ((s, dir) => Dedup.pairDegrees(Sources.documents(s, dir))),
    "q_source_leak" -> ((s, dir) => Dedup.crossSourceLeak(Sources.documents(s, dir))),
    "q_dedup_retention" -> ((s, dir) => Dedup.dedupRetention(Sources.documents(s, dir))),
    "q_dedup_tokens" -> ((s, dir) =>
      Dedup.dedupTokenSavings(Sources.documents(s, dir))),
    "q_assortativity" -> ((s, dir) =>
      Dedup.assortativity(Sources.documents(s, dir))),
    "q_incr_dedup" -> ((s, dir) =>
      Dedup.incrementalDedup(Sources.documents(s, dir), "src17")),
    // dedup ON INGEST: documents replayed as a 4-file stream (1 file per
    // micro-batch, so duplicate groups SPAN batches and the keyed state is
    // genuinely exercised); the converged state store must equal the batch
    // md5-groupBy bit for bit — order-free fold, so a full hash gate holds
    "q_dedup_stream" -> ((s, dir) =>
      DedupStream.runReplay(docReplayStream(s, dir),
        s"q_dedup_stream_${Sources.pathKey(dir)}")),
    // NEAR-dup screen on ingest: same 4-file replay; keyed (band, bsig)
    // bucket state emits each candidate pair when its later endpoint
    // arrives, verified downstream against the corpus signature store —
    // must equal the batch q_minhash_lsh bit for bit (same oracle)
    "q_neardup_stream" -> ((s, dir) =>
      DedupStream.nearDupReplay(docReplayStream(s, dir),
        Sources.documents(s, dir),
        s"q_neardup_stream_${Sources.pathKey(dir)}")),
    // offline state audit: drain the same replay into a CHECKPOINT, read
    // the state store back as a batch DF (Spark's statestore source) —
    // gates the serialize→commit→batch-read round trip with the same
    // oracle as q_dedup_stream
    "q_state_audit" -> ((s, dir) =>
      // cache identity (replay dir + content fingerprint) is derived from
      // the stream itself inside stateAudit — nothing caller-asserted
      DedupStream.stateAudit(docReplayStream(s, dir))),
    // the COMPOSED ingest pipeline: exact → lexical → semantic screens
    // chained (each stage's drained survivors semi-join-gate the next
    // stage's stream); output labels every doc with the stage that
    // dropped it — hash-gated against the equivalent batch composition
    "q_ingest_pipeline" -> ((s, dir) =>
      streaming.IngestPipeline.run(
        docReplayStream(s, dir), docReplayStream(s, dir),
        embReplayStream(s, dir),
        Sources.documents(s, dir), Sources.embeddings(s, dir),
        s"q_ingest_${Sources.pathKey(dir)}")),
    "q_sorted_neighbors" -> ((s, dir) =>
      Dedup.sortedNeighborPairs(Sources.documents(s, dir))),
    "q_editdist_pairs" -> ((s, dir) =>
      // Sources.spread: the per-doc lowercase+histogram kernel and the
      // banded self-join otherwise root on a one-split scan (r15,
      // VERDICT #7 — 8-vs-32-core ratio 0.94)
      Dedup.editDistancePairs(Sources.spread(Sources.documents(s, dir)))),
    // ---- M7 extensions: similarity search ----
    "q_ann_topk" -> ((s, dir) => Similarity.annBruteForce(Sources.embeddings(s, dir))),
    "q_hard_negatives" -> ((s, dir) => Similarity.hardNegatives(Sources.embeddings(s, dir))),
    "q_audio_meta" -> ((s, dir) => Multimodal.audioMeta(Sources.documents(s, dir))),
    "q_video_meta" -> ((s, dir) => Multimodal.videoMeta(Sources.documents(s, dir))),
    "q_vocab_coverage" -> ((s, dir) => TextAnalysis.vocabCoverage(Sources.documents(s, dir))),
    "q_bpe_pairs" -> ((s, dir) => TextAnalysis.bpePairs(Sources.documents(s, dir))),
    "q_bpe_merges" -> ((s, dir) => Bpe.bpeMerges(Sources.documents(s, dir))),
    "q_bpe_encode" -> ((s, dir) => Bpe.bpeEncode(Sources.documents(s, dir))),
    "q_tok_lengths" -> ((s, dir) => TextAnalysis.tokenLengths(Sources.documents(s, dir))),
    "q_lm_score" -> ((s, dir) =>
      // Sources.spread: the per-doc bigram explode otherwise roots on a
      // one-split scan (r15, VERDICT #7 — 8-vs-32-core ratio 0.90)
      TextAnalysis.lmScore(Sources.spread(Sources.documents(s, dir)))),
    "q_holdout_ppl" -> ((s, dir) =>
      TextAnalysis.holdoutLmScore(Sources.documents(s, dir))),
    "q_signal_corr" -> ((s, dir) =>
      TextAnalysis.signalCorrelation(Sources.documents(s, dir))),
    "q_coverage_gap" -> ((s, dir) =>
      DataQuality.coverageGaps(Sources.documents(s, dir))),
    "q_augment" -> ((s, dir) =>
      TextAnalysis.augmentDropout(Sources.documents(s, dir))),
    "q_pii_scan" -> ((s, dir) => TextAnalysis.piiScan(Sources.documents(s, dir))),
    "q_doc_entropy" -> ((s, dir) => TextAnalysis.charEntropy(Sources.documents(s, dir))),
    "q_doc_meta" -> ((s, dir) => DataQuality.docMeta(Sources.documents(s, dir))),
    "q_emb_dims" -> ((s, dir) => DataQuality.embDims(Sources.embeddings(s, dir))),
    "q_dim_stats" -> ((s, dir) => DataQuality.dimStats(Sources.embeddings(s, dir))),
    "q_lang_confusion" -> ((s, dir) =>
      TextAnalysis.langConfusion(Sources.documents(s, dir))),
    "q_split_drift" -> ((s, dir) =>
      DataQuality.splitDrift(Sources.documents(s, dir))),
    "q_emb_norms" -> ((s, dir) => DataQuality.embNorms(Sources.embeddings(s, dir))),
    "q_emb_cov" -> ((s, dir) => DataQuality.embCovariance(Sources.embeddings(s, dir))),
    "q_rate_anomaly" -> ((s, dir) => Relational.rateAnomaly(s, dir)),
    "q_join_card" -> ((s, dir) => Relational.joinCardCheck(s, dir)),
    "q_session_stats" -> ((s, dir) => Relational.sessionStats(s, dir)),
    "q_search" -> ((s, dir) => TextAnalysis.keywordSearch(Sources.documents(s, dir))),
    // BM25 retrieval (integer-scaled whole-bit form — Retrieval scaladoc)
    // + the composed retrieve->dedup->pack RAG context builder
    "q_bm25" -> ((s, dir) => Retrieval.bm25TopK(Sources.documents(s, dir))),
    "q_rag_pipeline" -> ((s, dir) => Retrieval.ragPack(Sources.documents(s, dir))),
    // FREE-TEXT retrieval (r14): a caller-supplied (qid, text) query
    // table — derived from the % 101 = 5 doc slice so the oracle can
    // replicate it — scored with no self-exclusion (caller id space)
    "q_bm25_freeq" -> ((s, dir) => {
      val docs = Sources.documents(s, dir)
      val queries = docs.filter(col("doc_id") % 101 === 5)
        .select(col("doc_id").as("qid"), col("text"))
      Retrieval.bm25TopKQueries(docs, queries)
    }),
    // the PERSISTED lexicon: build the inverted-index artifact, serve
    // BM25 from its partition-pruned posting buckets — every stored
    // number is an exact integer, so the serve rides the q_bm25 oracle
    // verbatim (no pins)
    "q_bm25_served" -> ((s, dir) => {
      val lex = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_lex_${Sources.pathKey(dir)}").getAbsolutePath
      val docs = Sources.documents(s, dir)
      Retrieval.persistLexicon(docs, lex)
      Retrieval.bm25Served(docs, lex)
    }),
    // the CLOSED lexicon lifecycle: upsert accrues staleness under the
    // frozen statistics, the exact-integer trigger fires, the rebuild
    // remedy retrains the statistics over the grown corpus — after which
    // serving equals the full-corpus chain (the q_bm25 oracle verbatim)
    "q_lexicon_lifecycle" -> ((s, dir) => {
      val lex = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_lex_lc_${Sources.pathKey(dir)}").getAbsolutePath
      val docs = Sources.documents(s, dir)
      Retrieval.persistLexicon(docs.filter(col("doc_id") % 4 =!= 3), lex)
      Retrieval.upsertLexicon(docs.filter(col("doc_id") % 4 === 3), lex,
        deliveryId = "lc-delta")
      // delta/base = 1/3 > 1/5: the trigger must fire and rebuild
      require(Retrieval.maintainLexicon(docs, lex) == "rebuild",
        "lexicon lifecycle gate: the staleness trigger must fire")
      Retrieval.bm25Served(docs, lex)
    }),
    // BM25 quality gauge: precision/recall@10 against the deterministic
    // term-overlap pseudo-relevance set (>= 2 shared indexable terms)
    "q_retrieval_eval" -> ((s, dir) =>
      Retrieval.retrievalEval(Sources.documents(s, dir))),
    // HYBRID lexical+semantic retrieval (r14): integer-exact RRF over the
    // q_bm25 and q_ann_topk rank chains (doc_id == vec_id by corpus
    // construction)
    "q_hybrid_rrf" -> ((s, dir) => Retrieval.hybridTopK(
      Sources.documents(s, dir), Sources.embeddings(s, dir))),
    // the SERVED hybrid: lexical leg from the published lexicon's pruned
    // buckets, semantic leg from the published index's SQ8 byte codes —
    // the fusion a deployment actually ships, priced at SQ8 recall
    "q_hybrid_served" -> ((s, dir) => {
      val lex = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_lex_hy_${Sources.pathKey(dir)}").getAbsolutePath
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_idx_hy_${Sources.pathKey(dir)}").getAbsolutePath
      val docs = Sources.documents(s, dir)
      val emb = Sources.embeddings(s, dir)
      // the two artifact builds touch disjoint roots — overlap them
      // (guide §2.6; both gates are job-latency-bound)
      graft.sources.Par.join(
        Retrieval.persistLexicon(docs, lex),
        operators.Imi.persistIndex(emb, idx, withSq8 = true)): Unit
      Retrieval.hybridServed(docs, emb, lex, idx)
    }),
    // MAP@10 in the exact-integer discipline (scaled floor-div average
    // precision over the same pseudo-relevance set)
    "q_map_eval" -> ((s, dir) => Retrieval.mapEval(Sources.documents(s, dir))),
    // keyword-in-context snippets for the BM25 hits (the result-page
    // surface) — pure 1-based instr/substring string arithmetic
    "q_snippets" -> ((s, dir) => Retrieval.snippets(Sources.documents(s, dir))),
    // incremental document delivery under FROZEN collection statistics
    // (the frozen-books discipline applied to retrieval): the oracle
    // recomputes (N, S, df, idf) on the base split only, in plain SQL
    "q_bm25_upsert" -> ((s, dir) => {
      val lex = freshGatePath(s, "graft_lex_up", dir)
      val docs = Sources.documents(s, dir)
      Retrieval.persistLexicon(docs.filter(col("doc_id") % 4 =!= 3), lex)
      Retrieval.upsertLexicon(docs.filter(col("doc_id") % 4 === 3), lex,
        deliveryId = "up-delta")
      Retrieval.bm25Served(docs, lex)
    }),
    // STREAMING lexicon upsert (r14): the delta arrives as micro-batches,
    // each a committed frozen-vocab append — the drained artifact is
    // carving-invariant, so the serve rides the q_bm25_upsert oracle
    "q_lexicon_upsert_stream" -> ((s, dir) => {
      val lex = freshGatePath(s, "graft_lex_us", dir)
      val docs = Sources.documents(s, dir)
      Retrieval.persistLexicon(docs.filter(col("doc_id") % 4 =!= 3), lex)
      streaming.LexiconUpsertStream.run(
        docReplayStream(s, dir).filter(col("doc_id") % 4 === 3), lex)
      Retrieval.bm25Served(docs, lex)
    }),
    // LEXICON COMPACTION (r14): two upsert deliveries fragment the
    // artifact, the compaction rewrites dl/postings under the FROZEN
    // stats/vocab and re-derives the bucket count — served scores must
    // be bit-identical to the uncompacted upsert chain, so the gate
    // rides the q_bm25_upsert oracle verbatim
    "q_lexicon_compact" -> ((s, dir) => {
      val lex = freshGatePath(s, "graft_lex_cp", dir)
      val docs = Sources.documents(s, dir)
      Retrieval.persistLexicon(docs.filter(col("doc_id") % 4 =!= 3), lex)
      Retrieval.upsertLexicon(docs.filter(col("doc_id") % 8 === 3), lex,
        deliveryId = "cp-d1")
      Retrieval.upsertLexicon(docs.filter(col("doc_id") % 8 === 7), lex,
        deliveryId = "cp-d2")
      Retrieval.compactLexicon(s, lex)
      Retrieval.bm25Served(docs, lex)
    }),
    // SQ8 scalar-quantized ANN tier: trained ranges -> byte codes ->
    // exact integer-dot serving + recall gauge
    "q_sq8_codes" -> ((s, dir) => Sq8.codes(Sources.embeddings(s, dir))),
    "q_sq8_topk" -> ((s, dir) => Sq8.topK(Sources.embeddings(s, dir))),
    "q_sq8_recall" -> ((s, dir) => Sq8.recall(Sources.embeddings(s, dir))),
    // SQ8 tier persisted INTO the versioned index artifact: stored
    // trained ranges + ~1 B/dim code table, published/compacted/forgotten
    // with everything else. Fresh full-corpus persist => stored ranges ==
    // in-query training (deterministic min/max), so serve rides the
    // q_sq8_topk chain verbatim
    "q_sq8_served" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_sq8_idx_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb, idx, withSq8 = true)
      operators.Imi.annSq8Served(emb, idx)
    }),
    // SQ8 under upsert: the delivery is encoded with the STORED (frozen)
    // base ranges — the oracle retrains ranges on the base split only and
    // encodes the full corpus with them (no pins: min/max deterministic)
    "q_sq8_upsert" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_sq8_up_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb.filter(col("vec_id") % 4 =!= 3), idx,
        withSq8 = true)
      operators.Imi.upsertIndex(emb.filter(col("vec_id") % 4 === 3), idx)
      operators.Imi.annSq8Served(emb, idx)
    }),
    // SQ8 honors right-to-be-forgotten: tombstoned ids are anti-joined
    // out of the code-table scan like every other serving tier
    "q_sq8_forget" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_sq8_fg_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb, idx, withSq8 = true)
      operators.Imi.deleteFromIndex(
        emb.filter(col("vec_id") % 7 === 2).select("vec_id"), idx)
      operators.Imi.annSq8Served(emb, idx)
    }),
    // per-source token-distribution drift (exact-integer TVD)
    "q_token_drift" -> ((s, dir) =>
      DataQuality.tokenDriftBySource(Sources.documents(s, dir))),
    // the streaming twin: keyed (source, token) count state folded over
    // the document replay; the TVD computed FROM the converged state
    // equals the batch monitor bit for bit (order-free sum), so it rides
    // the q_token_drift oracle verbatim
    "q_token_drift_stream" -> ((s, dir) =>
      graft.streaming.DriftStream.tokenDriftReplay(
        docSourceReplayStream(s, dir),
        s"q_token_drift_stream_${Sources.pathKey(dir)}")),
    "q_dataset_card" -> ((s, dir) =>
      TextAnalysis.datasetCard(Sources.documents(s, dir))),
    "q_packing_stats" -> ((s, dir) =>
      Curation.packingStats(Sources.documents(s, dir))),
    "q_pair_sim_hist" -> ((s, dir) =>
      Dedup.pairSimHistogram(Sources.documents(s, dir))),
    "q_cooccur" -> ((s, dir) => TextAnalysis.cooccurLift(Sources.documents(s, dir))),
    "q_heavy_hitters" -> ((s, dir) =>
      Sketches.heavyHitters(Sources.documents(s, dir))),
    "q_priority_sample" -> ((s, dir) =>
      Curation.prioritySample(Sources.documents(s, dir))),
    "q_kcore" -> ((s, dir) => Dedup.kcore(Sources.documents(s, dir))),
    "q_pr_curve" -> ((s, dir) => DataQuality.prCurve(Sources.documents(s, dir))),
    "q_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(Sources.documents(s, dir))),
    "q_top_per_source" -> ((s, dir) =>
      TextAnalysis.topPerSource(Sources.documents(s, dir))),
    "q_source_checksums" -> ((s, dir) =>
      DataQuality.sourceChecksums(Sources.documents(s, dir))),
    "q_quantile_acc" -> ((s, dir) =>
      Sketches.quantileAccuracy(Sources.events(s, dir))),
    "q_compaction_plan" -> ((s, dir) =>
      Layout.compactionPlan(Sources.documents(s, dir))),
    "q_compaction_exec" -> ((s, dir) => {
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_compact_${Sources.pathKey(dir)}").getAbsolutePath
      Layout.compactExecute(Sources.documents(s, dir), out)
    }),
    "q_snapshot_diff" -> ((s, dir) => DataQuality.snapshotDiff(s, dir)),
    "q_ab_srm" -> ((s, dir) => Relational.abSrm(s, dir)),
    "q_feature_hash" -> ((s, dir) =>
      TextAnalysis.featureHash(Sources.documents(s, dir))),
    "q_split_leakage" -> ((s, dir) =>
      Similarity.splitLeakage(Sources.embeddings(s, dir))),
    "q_emb_clip" -> ((s, dir) =>
      Similarity.embClip(Sources.embeddings(s, dir))),
    "q_table_stats" -> ((s, dir) => DataQuality.docStats(s, dir)),
    "q_corpus_build" -> ((s, dir) => Curation.corpusBuild(s, dir)),
    "q_kanonymity" -> ((s, dir) =>
      DataQuality.kAnonymity(Sources.documents(s, dir))),
    "q_diversity" -> ((s, dir) =>
      DataQuality.diversity(Sources.documents(s, dir))),
    "q_contam_attr" -> ((s, dir) =>
      Curation.contamAttribution(Sources.documents(s, dir))),
    "q_ccnet_buckets" -> ((s, dir) =>
      Curation.ccnetBuckets(Sources.documents(s, dir))),
    "q_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaRecall(Sources.embeddings(s, dir))),
    "q_neyman" -> ((s, dir) =>
      Curation.neymanAllocation(Sources.documents(s, dir))),
    "q_mrr" -> ((s, dir) => Similarity.mrr(Sources.embeddings(s, dir))),
    "q_forget" -> ((s, dir) =>
      DataQuality.forgetAudit(Sources.documents(s, dir))),
    "q_robust_stats" -> ((s, dir) =>
      DataQuality.robustStats(Sources.documents(s, dir))),
    "q_burstiness" -> ((s, dir) =>
      TextAnalysis.burstiness(Sources.documents(s, dir))),
    "q_ivm" -> ((s, dir) => Relational.incrementalView(s, dir)),
    "q_emb_outliers" -> ((s, dir) => Similarity.embOutliers(Sources.embeddings(s, dir))),
    "q_epochs" -> ((s, dir) => Curation.epochPlan(Sources.documents(s, dir))),
    "q_ann_ivf" -> ((s, dir) => Similarity.annIvf(Sources.embeddings(s, dir))),
    "q_pq_codes" -> ((s, dir) => Similarity.pqPackedCodes(Sources.embeddings(s, dir))),
    "q_pq_adc" -> ((s, dir) => Similarity.pqAdcTopk(Sources.embeddings(s, dir))),
    "q_pq_recall" -> ((s, dir) => Similarity.pqRecall(Sources.embeddings(s, dir))),
    "q_ivfpq" -> ((s, dir) => Similarity.annIvfPq(Sources.embeddings(s, dir))),
    "q_ivfpq_recall" -> ((s, dir) => Similarity.ivfPqRecall(Sources.embeddings(s, dir))),
    "q_ann_recall" -> ((s, dir) => Similarity.annRecall(Sources.embeddings(s, dir))),
    "q_ann_imi" -> ((s, dir) => operators.Imi.annImi(Sources.embeddings(s, dir))),
    "q_imi_recall" -> ((s, dir) => operators.Imi.imiRecall(Sources.embeddings(s, dir))),
    "q_imi_stats" -> ((s, dir) => operators.Imi.imiStats(Sources.embeddings(s, dir))),
    // the per-delivery drift statistic (no ground truth needed): TVD
    // contribution per coarse cell between bootstrap and arrival
    // occupancy under the frozen index — the cheap reindex trigger the
    // recall gauge (q_emb_stream_recall) calibrates
    "q_index_drift" -> ((s, dir) => operators.Imi.indexDrift(Sources.embeddings(s, dir))),
    // the same statistic SERVED from the stored artifact: bootstrap
    // occupancy off the persisted members, arrivals assigned with the
    // reloaded books — the per-delivery shape a deployment runs
    "q_index_drift_served" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_drift_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb, idx)
      operators.Imi.indexDriftServed(emb, idx)
    }),
    // the reindex REMEDY: retrain on what the corpus has become and
    // serve the rebuilt artifact (drift trigger → this is the response;
    // ScaleProof proves the recall it buys back)
    "q_reindex" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_reindex_${Sources.pathKey(dir)}").getAbsolutePath
      val drifted = Similarity.driftedCorpus(Sources.embeddings(s, dir))
      operators.Imi.persistIndex(drifted, idx)
      operators.Imi.annImiServed(drifted, idx)
    }),
    // the CLOSED lifecycle loop in one gate (r11 "what's missing" #1):
    // bootstrap → drifted delivery → drift trigger fires → reindex
    // remedy → drift re-measured at 0.0 and the decay gauge's recall
    // recovered to the retrained bound — the q_ingest_pipeline
    // composition discipline applied to the stored index
    "q_index_lifecycle" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_lifecycle_${Sources.pathKey(dir)}").getAbsolutePath
      operators.IndexLifecycle.run(Sources.embeddings(s, dir), idx)
    }),
    // the artifact HEALTH row an ops dashboard polls: physical/live/
    // pending-forget counts plus the realized-cell and max-occupancy
    // signals that trigger compaction — read off the persisted tables
    "q_index_manifest" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_manifest_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb, idx, withSq8 = true)
      operators.Imi.deleteFromIndex(emb.filter(col("vec_id") % 7 === 2), idx)
      operators.Imi.indexManifest(s, idx)
    }),
    "q_imi_pq" -> ((s, dir) => operators.Imi.annImiPq(Sources.embeddings(s, dir))),
    // train→persist→serve: the stored-artifact probe must hash-match the
    // self-contained retrain (same oracle as q_ann_imi)
    "q_ann_served" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_idx_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb, idx)
      operators.Imi.annImiServed(emb, idx)
    }),
    // INCREMENTAL upsert into the stored index: bootstrap on the % 4 ≠ 3
    // base split, assign the % 4 = 3 delivery with the STORED books and
    // append — serving the merged artifact must equal one bulk assignment
    // of the full corpus under the frozen base books (the oracle replays
    // that bulk pass from the base-trained ImiUpsertPins)
    "q_ann_upsert" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_upsert_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb.filter(col("vec_id") % 4 =!= 3), idx)
      operators.Imi.upsertIndex(emb.filter(col("vec_id") % 4 === 3), idx)
      operators.Imi.annImiServed(emb, idx)
    }),
    // tombstoned deletes (right-to-be-forgotten against the stored
    // index): logical delete = serve-time anti-join of the tombstone
    // table — the deleted members must vanish from every top-k
    "q_ann_forget" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_forget_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb, idx, withSq8 = true)
      operators.Imi.deleteFromIndex(emb.filter(col("vec_id") % 7 === 2), idx)
      operators.Imi.annImiServed(emb, idx)
    }),
    // physical delete: compaction applies the tombstones to the layout
    // and clears them — serving the rewritten artifact must be identical
    "q_ann_forget_compact" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_forgetc_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb, idx, withSq8 = true)
      operators.Imi.deleteFromIndex(emb.filter(col("vec_id") % 7 === 2), idx)
      operators.Imi.compactIndex(s, idx)
      operators.Imi.annImiServed(emb, idx)
    }),
    // compaction after upserts: rewriting the fragmented member layout
    // (one file set per delivery) into one clustered file set per cell
    // must not change a single served row — same oracle as q_ann_upsert
    "q_ann_compact" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_compact_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb.filter(col("vec_id") % 4 =!= 3), idx)
      // three deliveries → three file sets per touched cell, then compact
      operators.Imi.upsertIndex(emb.filter(col("vec_id") % 12 === 3), idx)
      operators.Imi.upsertIndex(emb.filter(col("vec_id") % 12 === 7), idx)
      operators.Imi.upsertIndex(emb.filter(col("vec_id") % 12 === 11), idx)
      operators.Imi.compactIndex(s, idx)
      operators.Imi.annImiServed(emb, idx)
    }),
    // the delta arriving as a STREAM: per-micro-batch foreachBatch
    // upserts with the stored books converge to the same merged artifact
    // under any carving — same oracle as q_ann_upsert
    "q_ann_upsert_stream" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_upstream_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb.filter(col("vec_id") % 4 =!= 3), idx)
      streaming.IndexUpsertStream.run(
        embReplayStream(s, dir).filter(col("vec_id") % 4 === 3), idx)
      operators.Imi.annImiServed(emb, idx)
    }),
    // the COMPRESSED tier of the upserted index: codes encoded with the
    // STORED base-trained PQ books, served by reconstruction — the
    // upsert == bulk invariance on the 8-byte read path
    "q_imi_pq_upsert" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_pqup_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb.filter(col("vec_id") % 4 =!= 3), idx)
      operators.Imi.upsertIndex(emb.filter(col("vec_id") % 4 === 3), idx)
      operators.Imi.annImiPqServed(emb, idx)
    }),
    // the stored COMPRESSED tier: candidates reconstructed from the
    // persisted packed codes must reproduce the in-query ADC retrain
    "q_imi_pq_served" -> ((s, dir) => {
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_imi_idx2_${Sources.pathKey(dir)}").getAbsolutePath
      val emb = Sources.embeddings(s, dir)
      operators.Imi.persistIndex(emb, idx)
      operators.Imi.annImiPqServed(emb, idx)
    }),
    "q_neardup_cos" -> ((s, dir) => Similarity.neardupCosine(Sources.embeddings(s, dir))),
    "q_kmeans" -> ((s, dir) => KMeans.kmeans(Sources.embeddings(s, dir))),
    // ---- M7 extensions: multimodal plumbing (stub decode) ----
    "q_media_meta" -> ((s, dir) => Multimodal.mediaMeta(Sources.documents(s, dir))),
    // ---- general relational surface (Catalyst showcase) ----
    "q1_pricing" -> ((s, dir) => Relational.pricingSummary(s, dir)),
    "q_join_revenue" -> ((s, dir) => Relational.revenueByNation(s, dir)),
    "q_top_orders" -> ((s, dir) => Relational.topOrdersPerCustomer(s, dir)),
    "q_events_daily" -> ((s, dir) => Relational.eventsDaily(s, dir)),
    "q_stickiness" -> ((s, dir) => Relational.stickiness(s, dir)),
    "q_trigrams" -> ((s, dir) => Relational.eventTrigrams(s, dir)),
    "q_streaks" -> ((s, dir) => Relational.activeStreaks(s, dir)),
    "q_concurrency" -> ((s, dir) => Relational.peakConcurrency(s, dir)),
    "q_pareto" -> ((s, dir) => Relational.paretoDeciles(s, dir)),
    "q_events_ts" -> ((s, dir) => Relational.eventsTsCanary(s, dir)),
    "q_value_histogram" -> ((s, dir) => Relational.valueHistogram(s, dir)),
    "q_parquet_roundtrip" -> ((s, dir) => Sources.parquetRoundTrip(s, dir)),
    "q_json_roundtrip" -> ((s, dir) => Sources.jsonRoundTrip(s, dir)),
    "q_orc_roundtrip" -> ((s, dir) => Sources.orcRoundTrip(s, dir)),
    "q_hopping" -> ((s, dir) => Relational.eventsHopping(s, dir)),
    "q_events_json" -> ((s, dir) => Relational.eventsJsonStats(s, dir)),
    "q_sessions" -> ((s, dir) => Relational.sessionize(s, dir)),
    "q_dedup_keep" -> ((s, dir) => Dedup.dedupedDocIds(Sources.documents(s, dir))),
    "q_vocab" -> ((s, dir) => TextAnalysis.vocabulary(Sources.documents(s, dir))),
    "q_unigram" -> ((s, dir) => TextAnalysis.unigramScore(Sources.documents(s, dir))),
    "q_bigram_lift" -> ((s, dir) => TextAnalysis.bigramLift(Sources.documents(s, dir))),
    "q_cms_tokens" -> ((s, dir) =>
      Sketches.cmsTokenEstimates(Sources.documents(s, dir))),
    "q_hll_daily" -> ((s, dir) =>
      Sketches.hllCumulative(Sources.events(s, dir), "user_id")),
    "q_hll_users" -> ((s, dir) =>
      Sketches.hllDistinct(Sources.events(s, dir), "user_id")),
    "q_quantile_sketch" -> ((s, dir) =>
      Sketches.quantileSketch(Sources.events(s, dir), "event_type", "value")),
    // ---- round-2 relational widening ----
    "q_rollup" -> ((s, dir) => Relational.pricingRollup(s, dir)),
    "q_semi_anti" -> ((s, dir) => Relational.customersSemiAnti(s, dir)),
    "q_upsert" -> ((s, dir) => Relational.userProfileUpsert(s, dir)),
    "q_pivot" -> ((s, dir) => Relational.docsPivot(s, dir)),
    "q_rolling" -> ((s, dir) => Relational.eventsRolling(s, dir)),
    "q_setops" -> ((s, dir) => Relational.docsSetOps(s, dir)),
    "q_asof" -> ((s, dir) => AsOfJoin.eventsAsOfOrders(s, dir)),
    "q_tfidf" -> ((s, dir) => TextAnalysis.tfidfTopTerms(Sources.documents(s, dir))),
    "q_tfidf_pairs" -> ((s, dir) =>
      TextAnalysis.tfidfCosinePairs(Sources.documents(s, dir))),
    // Approximate sketches (HLL++/quantile): rows-only by design.
    "q_sketch_stats" -> ((s, dir) => Relational.sketchStats(s, dir)),
    // ---- round-2 training-pipeline depth ----
    "q_neardup_blocked" -> ((s, dir) =>
      Similarity.neardupCosineBlocked(Sources.embeddings(s, dir))),
    "q_clean_corpus" -> ((s, dir) =>
      TextAnalysis.cleanCorpus(Sources.documents(s, dir))),
    "q_frames" -> ((s, dir) => Multimodal.frameIndex(Sources.documents(s, dir))),
    "q_interval_join" -> ((s, dir) => IntervalJoin.eventPairs(s, dir)),
    "q5_region" -> ((s, dir) => Relational.revenueByRegion(s, dir)),
    "q_sql_pricing" -> ((s, dir) => Relational.pricingSummarySql(s, dir)),
    "q_split" -> ((s, dir) =>
      TextAnalysis.deterministicSplit(Sources.documents(s, dir))),
    // ---- round-3 relational widening ----
    "q_cube" -> ((s, dir) => Relational.pricingCube(s, dir)),
    "q_lag_delta" -> ((s, dir) => Relational.eventLagDeltas(s, dir)),
    "q_percentiles" -> ((s, dir) => Relational.valuePercentiles(s, dir)),
    "q_weekly" -> ((s, dir) => Relational.ordersWeekly(s, dir)),
    "q_string_agg" -> ((s, dir) => Relational.langSources(s, dir)),
    "q_range_window" -> ((s, dir) => Relational.eventsRangeWindow(s, dir)),
    // ---- round-3 training-pipeline depth ----
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(Sources.documents(s, dir))),
    "q_emb_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Sources.embeddings(s, dir))),
    "q_dedup_survivors" -> ((s, dir) =>
      Dedup.nearDupSurvivors(Sources.documents(s, dir))),
    // ---- round-4 corpus curation ----
    "q_stratified" -> ((s, dir) => Curation.stratifiedSample(Sources.documents(s, dir))),
    "q_group_cap" -> ((s, dir) => Curation.groupCap(Sources.documents(s, dir))),
    "q_packing" -> ((s, dir) => Curation.packSequences(Sources.documents(s, dir))),
    "q_decontam" -> ((s, dir) => Curation.decontaminate(Sources.documents(s, dir))),
    "q_ngram_novelty" -> ((s, dir) => Curation.ngramNovelty(Sources.documents(s, dir))),
    "q_dedup_best" -> ((s, dir) => Dedup.bestOfCluster(Sources.documents(s, dir))),
    "q_quality_dups" -> ((s, dir) =>
      Curation.qualityDupProfile(Sources.documents(s, dir))),
    "q_lsh_tuning" -> ((s, dir) => Dedup.lshTuning(Sources.documents(s, dir))),
    // the FULL-corpus recall gauge (Dedup.lshRecall) is deliberately NOT a
    // contract query (r9 verdict #3): its exact side evaluates the prefix
    // join over the whole corpus — the one gauge a 100 TB tuning loop never
    // re-runs — and its information is carried by the sampled twin below
    // plus the ScaleProof bracket check (lsh_recall_sampled_brackets_full)
    // and Round9Spec's sampled-equals-filtered-full exactness contract.
    "q_lsh_recall_sampled" -> ((s, dir) => Dedup.lshRecallSampled(Sources.documents(s, dir))),
    "q_oov_rate" -> ((s, dir) => TextAnalysis.oovRate(Sources.documents(s, dir))),
    "q_key_skew" -> ((s, dir) =>
      Skew.keySkewProfile(Sources.events(s, dir), "user_id")),
    "q_text_norm" -> ((s, dir) =>
      TextAnalysis.textNormAudit(Sources.documents(s, dir))),
    "q_dist_match" -> ((s, dir) =>
      Curation.lengthMatchSample(Sources.documents(s, dir))),
    "q_decontam_bloom" -> ((s, dir) =>
      Curation.decontaminateBloom(Sources.documents(s, dir))),
    "q_quality_quantile" -> ((s, dir) =>
      Curation.qualityQuantileFilter(Sources.documents(s, dir))),
    // ---- round-5 skew tools: salted plans must equal the unsalted answer ----
    // the token stream is the power-law key (stopwords are the hot keys); the
    // oracles are the PLAIN group-by / join — salting is result-identical
    "q_skew_tokens" -> ((s, dir) =>
      Skew.saltedCount(TextAnalysis.tokens(Sources.documents(s, dir)), "tok", 8)
        .orderBy("tok")),
    // ---- round-5 widening: embedding LSH, CSV sink, grouping sets ----
    "q_emb_lsh" -> ((s, dir) =>
      Similarity.embLshCodes(Sources.embeddings(s, dir))),
    "q_emb_lsh_pairs" -> ((s, dir) =>
      Similarity.embLshPairs(Sources.embeddings(s, dir))),
    "q_emb_lsh_recall" -> ((s, dir) =>
      Similarity.embLshRecall(Sources.embeddings(s, dir))),
    // EMBEDDING near-dup screen on ingest (the third ingest modality):
    // arriving vectors probe the batch-trained sign-LSH index; (band, cid)
    // cell state pairs each arrival with Hamming-≤1 residents — equals the
    // batch q_emb_lsh_pairs bit for bit (same oracle)
    "q_emb_stream" -> ((s, dir) =>
      EmbDedupStream.nearDupReplay(embReplayStream(s, dir),
        Sources.embeddings(s, dir),
        s"q_emb_stream_${Sources.pathKey(dir)}")),
    // recall DECAY of the frozen index the semantic screen probes: the
    // drifted corpus routed through the bootstrap-trained cells, scored
    // against brute-force truth — the reindex-trigger gauge (read next to
    // q_emb_lsh_recall, the retrained-at-bootstrap figure)
    "q_emb_stream_recall" -> ((s, dir) =>
      Similarity.embStreamRecall(Sources.spread(Sources.embeddings(s, dir)))),
    "q_csv_roundtrip" -> ((s, dir) => Sources.csvRoundTrip(s, dir)),
    "q_grouping_sets" -> ((s, dir) => Relational.docsGroupingSets(s, dir)),
    "q_chunks" -> ((s, dir) =>
      TextAnalysis.chunkIndex(Sources.documents(s, dir))),
    "q_mode" -> ((s, dir) => Relational.eventTypeMode(s, dir)),
    "q_cum_users" -> ((s, dir) => Relational.cumulativeUsers(s, dir)),
    // ---- round-7 widening: sequence/cohort analytics + join reduction ----
    "q_funnel" -> ((s, dir) => Relational.funnel(s, dir)),
    "q_transitions" -> ((s, dir) => Relational.eventTransitions(s, dir)),
    "q_cohorts" -> ((s, dir) => Relational.cohortRetention(s, dir)),
    "q_bloom_join" -> ((s, dir) => BloomJoin.bloomSemiJoinRevenue(s, dir)),
    "q_scd2" -> ((s, dir) => Relational.scd2History(s, dir)),
    "q_routed_join" -> ((s, dir) => JoinRouter.supplierRevenue(s, dir)),
    "q_dq_audit" -> ((s, dir) => DataQuality.audit(s, dir)),
    "q_bigrams" -> ((s, dir) =>
      TextAnalysis.bigramCounts(Sources.documents(s, dir))),
    "q_top_similar" -> ((s, dir) =>
      Dedup.topSimilar(Sources.documents(s, dir))),
    // ---- round-5 widening: sampling, mixing, pair-graph, prefix join ----
    "q_weighted_sample" -> ((s, dir) =>
      Curation.weightedSample(Sources.documents(s, dir))),
    "q_mixture" -> ((s, dir) =>
      Curation.mixtureSample(Sources.documents(s, dir))),
    "q_triangles" -> ((s, dir) =>
      Dedup.triangleCounts(Sources.documents(s, dir))),
    "q_pagerank" -> ((s, dir) =>
      Dedup.pageRank(Sources.documents(s, dir))),
    "q_zorder" -> ((s, dir) =>
      Layout.zorderPoints(Sources.points2d(s, dir))),
    "q_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(Sources.documents(s, dir))),
    // ---- round-6 widening: span dedup, int8 quantization, SemDedup,
    // containment, corpus stopwords ----
    "q_dup_spans" -> ((s, dir) =>
      TextAnalysis.dupSpans(Sources.documents(s, dir))),
    "q_line_dedup" -> ((s, dir) =>
      TextAnalysis.lineDedup(Sources.documents(s, dir))),
    "q_substring_dedup" -> ((s, dir) =>
      TextAnalysis.substringDedup(Sources.spread(Sources.documents(s, dir)))),
    "q_top_spans" -> ((s, dir) =>
      TextAnalysis.topSpans(Sources.documents(s, dir))),
    "q_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(Sources.documents(s, dir))),
    "q_ngram_containment" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(Sources.documents(s, dir))),
    "q_stopwords" -> ((s, dir) =>
      TextAnalysis.stopwords(Sources.documents(s, dir))),
    "q_emb_quant" -> ((s, dir) =>
      Similarity.quantizeInt8(Sources.embeddings(s, dir))),
    "q_semdedup" -> ((s, dir) =>
      Similarity.semdedupSurvivors(Sources.embeddings(s, dir))),
    "q_skew_join" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(Sources.documents(s, dir))
      val build = toks.filter(col("tok").isin("the", "a", "of", "and"))
        .select(col("tok")).distinct()
        .withColumn("w", length(col("tok")).cast("long"))
      Skew.saltedJoin(toks, build, "tok", 8)
        .select(col("doc_id"), col("tok"), col("w"))
        .orderBy("doc_id", "tok")
    }),
  )

  // ---------------------------------------------------------------------------
  // Oracle SQL (DuckDB). `<sfDir>` is substituted by the driver (FIXTURES.md §4).
  // ---------------------------------------------------------------------------

  /** Fixture-1 point derivation — must stay textually in sync with
    * [[Sources.points2d]]. */
  private val P =
    "SELECT l_orderkey*10+l_linenumber AS id, l_quantity AS x, " +
      "l_extendedprice/1000.0 AS y FROM '<sfDir>/lineitem.parquet'"

  /** Fixture-3 item-stream derivation (first n items in arrival order) — must
    * stay textually in sync with [[Sources.streamItems]] + the stop-at-n gate. */
  private val S =
    s"SELECT event_id AS seq, user_id % 50 AS item FROM '<sfDir>/events.parquet' " +
      s"ORDER BY seq LIMIT ${SP.n}"

  /** `scala.util.hashing.byteswap64` replayed in SQL (r7 verdict #3: the
    * bottom-m reservoir is a pure function of this mix, so the merged
    * sample is hash-gateable). byteswap64(v) = C·reverseBytes(C·v) in
    * uint64 arithmetic with C = 0x9e3775cd9e3775cd: products run in
    * HUGEINT with the 32×32 split (a·b mod 2⁶⁴ = a₀b₀ + ((a₀b₁+a₁b₀) mod
    * 2³²)·2³² mod 2⁶⁴ — a full 64×64 HUGEINT product would overflow
    * int128), reverseBytes is the 8-byte digit swap. Verified
    * value-for-value against the JVM on seqs 0..4. */
  private def bswapMulSql(u: String): String =
    s"""(($u % 4294967296) * 2654434765
       | + ((($u % 4294967296) * 2654434765 + ($u // 4294967296) * 2654434765)
       |    % 4294967296) * 4294967296) % 18446744073709551616""".stripMargin
  private def bswapRevSql(u: String): String =
    s"""( ($u // 72057594037927936) % 256
       | + (($u // 281474976710656) % 256) * 256
       | + (($u // 1099511627776) % 256) * 65536
       | + (($u // 4294967296) % 256) * 16777216
       | + (($u // 16777216) % 256) * 4294967296
       | + (($u // 65536) % 256) * 1099511627776
       | + (($u // 256) % 256) * 281474976710656
       | + ($u % 256) * 72057594037927936 )""".stripMargin

  /** Grid cell CTE over a point relation alias `p` — λ = D/(2√2) written with
    * the same expression shape as [[GridOutliers.cellify]] for bit equality. */
  private def cellsSql(m: Int = M): String =
    s"""c AS (SELECT CAST(FLOOR(x / ($D / (2 * SQRT(2)))) AS BIGINT) AS i,
       |            CAST(FLOOR(y / ($D / (2 * SQRT(2)))) AS BIGINT) AS j,
       |            COUNT(*) AS size
       |       FROM p GROUP BY 1, 2)""".stripMargin

  private val offs7 =
    """offs AS (SELECT di, dj
      |           FROM (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) a(di),
      |                (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) b(dj))""".stripMargin

  private val contrib =
    """contrib AS (SELECT c.i + di AS ci, c.j + dj AS cj,
      |                   SUM(CASE WHEN ABS(di) <= 1 AND ABS(dj) <= 1 THEN size END) AS n3,
      |                   SUM(size) AS n7
      |              FROM c, offs GROUP BY 1, 2)""".stripMargin

  private val statsSql =
    s"""WITH p AS ($P), ${cellsSql()}, $offs7, $contrib,
       |st AS (SELECT c.i, c.j, c.size,
       |              CAST(contrib.n3 AS BIGINT) AS n3, CAST(contrib.n7 AS BIGINT) AS n7
       |         FROM c JOIN contrib ON c.i = contrib.ci AND c.j = contrib.cj)""".stripMargin

  private val exactBalls =
    s"""WITH p AS ($P),
       |a AS (SELECT id, x, y, CAST(FLOOR(x / $D) AS BIGINT) AS bi,
       |             CAST(FLOOR(y / $D) AS BIGINT) AS bj FROM p),
       |offs AS (SELECT di, dj FROM (VALUES (-1),(0),(1)) q(di),
       |                            (VALUES (-1),(0),(1)) r(dj)),
       |balls AS (SELECT a.id, CAST(COUNT(*) AS BIGINT) AS ball_size
       |            FROM a JOIN offs ON TRUE
       |                 JOIN a b ON b.bi = a.bi + offs.di AND b.bj = a.bj + offs.dj
       |           WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= $D*$D
       |           GROUP BY a.id)""".stripMargin

  /** Exact-frequent oracle, shared by the batch query (q_freq_exact) and
    * its streaming file-replay twin (q_freq_stream). */
  private val freqExactSql =
    s"""WITH s AS ($S),
       |g AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY item)
       |SELECT item, cnt FROM g
       | WHERE cnt >= CAST(${SP.phi} AS DOUBLE) * CAST(${SP.n} AS DOUBLE)
       | ORDER BY item""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_points" ->
      s"WITH p AS ($P) SELECT id, x, y FROM p ORDER BY id",
    "q_cells" ->
      s"WITH p AS ($P), ${cellsSql()} SELECT i, j, size FROM c ORDER BY i, j",
    "q_cells_centered" ->
      s"""WITH p0 AS ($P),
         |p AS (SELECT id, x - 25.0 AS x, y - 50.0 AS y FROM p0),
         |${cellsSql()} SELECT i, j, size FROM c ORDER BY i, j""".stripMargin,
    "q_cell_stats" ->
      s"$statsSql SELECT i, j, size, n3, n7 FROM st ORDER BY i, j",
    "q_outlier_summary" ->
      s"""$statsSql
         |SELECT (SELECT COUNT(*) FROM p) AS n_points,
         |       CAST(COALESCE(SUM(CASE WHEN n3 <= $M AND n7 <= $M THEN size END), 0) AS BIGINT) AS sure_outliers,
         |       CAST(COALESCE(SUM(CASE WHEN n3 <= $M AND n7 > $M THEN size END), 0) AS BIGINT) AS uncertain_points
         |  FROM st""".stripMargin,
    "q_topk_cells" ->
      s"WITH p AS ($P), ${cellsSql()} SELECT i, j, size FROM c ORDER BY size, i, j LIMIT $K",
    "q_exact_outliers" ->
      s"$exactBalls SELECT id, ball_size FROM balls WHERE ball_size <= $M ORDER BY ball_size, id LIMIT $K",
    "q_exact_outlier_count" ->
      s"$exactBalls SELECT CAST(COUNT(*) AS BIGINT) AS n_outliers FROM balls WHERE ball_size <= $M",
    "q_radius_fixed_centers" -> {
      val dists = FixedCenters.map { case (cx, cy) =>
        s"SQRT((x-$cx)*(x-$cx)+(y-$cy)*(y-$cy))"
      }
      s"WITH p AS ($P) SELECT MAX(LEAST(${dists.mkString(", ")})) AS radius FROM p"
    },
    // The MRFFT oracles verify the DETERMINISTIC pipeline end to end: the
    // pinned sf0.01 centers ([[MrfftPins]]) are inlined as literals, so the
    // hash matches iff the distributed pipeline reproduces those exact
    // centers AND the radius fold is bit-identical. Literals are
    // parenthesized: a negative center would otherwise make `x--0.5`,
    // which SQL lexes as a comment.
    "q_mrfft_radius" -> {
      val dists = MrfftPins.points2dK8L8.map { c =>
        s"SQRT((x-(${c(0)}))*(x-(${c(0)}))+(y-(${c(1)}))*(y-(${c(1)})))"
      }
      s"WITH p AS ($P) SELECT MAX(LEAST(${dists.mkString(", ")})) AS radius FROM p"
    },
    // list_sum(list_transform(list_zip(...))) is the verified bit-exact twin
    // of the unrolled left-assoc element_at fold in minDistToCenters (same
    // IEEE add order; see the ANN cosine oracles).
    "q_mrfft_embeddings" -> {
      val dists = MrfftPins.embeddingsK8L4.map { c =>
        val lst = c.mkString("[", ", ", "]")
        s"SQRT(list_sum(list_transform(list_zip(emb, $lst), z -> (z[1]-z[2])*(z[1]-z[2]))))"
      }
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
        "FROM '<sfDir>/embeddings.parquet') " +
        s"SELECT MAX(LEAST(${dists.mkString(", ")})) AS radius FROM e"
    },
    // End-to-end HW2 gate: the oracle recomputes the deterministic MRFFT
    // radius from the SAME pinned centers as q_mrfft_radius, then mirrors the
    // full grid classification with D = radius. Hash-matches iff the
    // distributed pipeline reproduces the pinned centers, the radius fold is
    // bit-identical AND the downstream grid pass buckets identically.
    "q_hw2_pipeline" -> {
      val dists = MrfftPins.points2dK8L8.map { c =>
        s"SQRT((x-(${c(0)}))*(x-(${c(0)}))+(y-(${c(1)}))*(y-(${c(1)})))"
      }
      s"""WITH p AS ($P),
         |rad AS (SELECT MAX(LEAST(${dists.mkString(", ")})) AS r FROM p),
         |c AS (SELECT CAST(FLOOR(x / ((SELECT r FROM rad) / (2 * SQRT(2)))) AS BIGINT) AS i,
         |             CAST(FLOOR(y / ((SELECT r FROM rad) / (2 * SQRT(2)))) AS BIGINT) AS j,
         |             COUNT(*) AS size
         |        FROM p GROUP BY 1, 2),
         |$offs7, $contrib,
         |st AS (SELECT c.i, c.j, c.size,
         |              CAST(contrib.n3 AS BIGINT) AS n3, CAST(contrib.n7 AS BIGINT) AS n7
         |         FROM c JOIN contrib ON c.i = contrib.ci AND c.j = contrib.cj)
         |SELECT (SELECT COUNT(*) FROM p) AS n_points,
         |       CAST(COALESCE(SUM(CASE WHEN n3 <= $M AND n7 <= $M THEN size END), 0) AS BIGINT) AS sure_outliers,
         |       CAST(COALESCE(SUM(CASE WHEN n3 <= $M AND n7 > $M THEN size END), 0) AS BIGINT) AS uncertain_points,
         |       (SELECT r FROM rad) AS radius,
         |       CAST(8 AS INT) AS k
         |  FROM st""".stripMargin
    },
    // Z-order keys: quantize/clamp mirrors Layout.zorderPoints; the
    // interleave is the same generated integer expression on both sides
    "q_zorder" -> {
      val qi = "LEAST(GREATEST(CAST(FLOOR(x) AS BIGINT), 0), 65535)"
      val qj = "LEAST(GREATEST(CAST(FLOOR(y) AS BIGINT), 0), 65535)"
      s"""WITH p AS ($P),
         |q AS (SELECT id, x, y, $qi AS qi, $qj AS qj FROM p)
         |SELECT id, x, y, ${graft.operators.Layout.zvalueSql("qi", "qj")} AS zval
         |  FROM q ORDER BY id""".stripMargin
    },
    "q_freq_exact" -> freqExactSql,
    // the streaming file-replay twin converges to the BATCH answer: same SQL
    "q_freq_stream" -> freqExactSql,
    // mergeable bottom-m reservoir: key = byteswap64(seq ^ 42) is a bijection
    // (three invertible uint64 steps), so "the m smallest keys" is a unique,
    // order-free set both engines agree on bit-for-bit
    "q_reservoir_merge" ->
      s"""WITH s AS ($S),
         |x0 AS (SELECT item, CAST(xor(seq, 42) AS HUGEINT) AS u FROM s),
         |m1 AS (SELECT item, ${bswapMulSql("u")} AS u FROM x0),
         |rb AS (SELECT item, ${bswapRevSql("u")} AS u FROM m1),
         |m2 AS (SELECT item, ${bswapMulSql("u")} AS u FROM rb),
         |keyed AS (SELECT item,
         |                 CAST(CASE WHEN u >= 9223372036854775808
         |                           THEN u - 18446744073709551616
         |                           ELSE u END AS BIGINT) AS k
         |            FROM m2),
         |bottom AS (SELECT item FROM keyed ORDER BY k LIMIT ${SP.reservoirSize})
         |SELECT DISTINCT CAST(item AS BIGINT) AS item FROM bottom
         | ORDER BY item""".stripMargin,
    "q_freq_compare" ->
      s"""WITH s AS ($S),
         |g AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY item),
         |est AS (SELECT item, cnt AS est_cnt FROM g
         |         WHERE cnt >= (CAST(${SP.phi} AS DOUBLE) - CAST(${SP.eps} AS DOUBLE)) * CAST(${SP.n} AS DOUBLE)),
         |tru AS (SELECT item AS t_item FROM g
         |         WHERE cnt >= CAST(${SP.phi} AS DOUBLE) * CAST(${SP.n} AS DOUBLE))
         |SELECT est.item, est.est_cnt,
         |       CASE WHEN t_item IS NOT NULL THEN '+' ELSE '-' END AS mark
         |  FROM est LEFT JOIN tru ON est.item = tru.t_item
         | ORDER BY item""".stripMargin,
    "q_sticky_det" ->
      s"""WITH s AS ($S),
         |coins AS (SELECT seq, item,
         |                 CAST(('0x' || substr(md5(CAST(seq AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |            FROM s),
         |adm AS (SELECT item AS a_item, MIN(seq) AS s0 FROM coins
         |         WHERE h < (LN(1/(CAST(${SP.phi} AS DOUBLE)*CAST(${SP.delta} AS DOUBLE)))/CAST(${SP.eps} AS DOUBLE)
         |                    / CAST(${SP.n} AS DOUBLE)) * 1152921504606846976.0
         |         GROUP BY item),
         |cnts AS (SELECT s.item, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM s JOIN adm ON s.item = adm.a_item AND s.seq >= adm.s0
         |          GROUP BY s.item)
         |SELECT item, cnt FROM cnts
         | WHERE cnt > (CAST(${SP.phi} AS DOUBLE) - CAST(${SP.eps} AS DOUBLE)) * CAST(${SP.n} AS DOUBLE)
         | ORDER BY item""".stripMargin,
  ) ++ ExtensionOracles.sql ++ RelationalOracles.sql
}
