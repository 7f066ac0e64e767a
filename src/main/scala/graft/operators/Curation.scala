package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashes
import graft.sources.Sources

/** Corpus-curation operators for a training-data pipeline (north-star
  * extension, SURVEY.md §7.1 M7): deterministic stratified sampling,
  * per-group balanced capping, sequence packing, and benchmark
  * decontamination. Like the rest of M7, everything is reproducible by
  * construction — sampling/ranking decisions are pure md5-derived functions
  * of the data ([[Hashes]]), never `rand()` — so every operator carries an
  * exact DuckDB oracle twin and is invariant to partitioning, retries and
  * cluster size, the property an auditable data pipeline needs.
  */
object Curation {

  /** Per-language sampling percentages (pct of 100) for
    * [[stratifiedSample]] — the up/down-weighting step that rebalances a
    * multilingual crawl before training. */
  val DefaultRates: Seq[(String, Int)] =
    Seq("en" -> 50, "fr" -> 80, "de" -> 80, "es" -> 80)

  private def keyHash(id: Column, salt: String): Column =
    Hashes.h60(concat(id.cast("string"), lit(":" + salt)))

  /** Deterministic stratified sample: a document survives iff
    * `h60(doc_id:salt) mod 100 < pct(lang)` — an exact, reproducible
    * Bernoulli sample per stratum. One narrow codegen'd filter (no shuffle,
    * no RNG state), so it scales embarrassingly at 100 TB and the sample is
    * stable across runs, engines and repartitioning — the property
    * `df.sample()` (partition-seeded) does not give. */
  def stratifiedSample(docs: DataFrame, rates: Seq[(String, Int)] = DefaultRates,
                       defaultPct: Int = 20, salt: String = "strat1"): DataFrame = {
    val pct = rates.foldRight(lit(defaultPct)) { case ((lang, p), els) =>
      when(col("lang") === lang, p).otherwise(els)
    }
    docs.filter(keyHash(col("doc_id"), salt) % 100 < pct)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Weight-proportional deterministic Bernoulli sample: a document is kept
    * with probability min(1, n_chars/denom) — the length-weighted draw a
    * mixture builder uses when the budget is counted in TOKENS, not
    * documents (a 10× longer document contributes 10× the training tokens,
    * so it is drawn 10× as often). The keep decision is a pure 64-bit
    * integer comparison, `h60(doc_id:salt) < least(n_chars, denom) ·
    * ⌊2⁶⁰/denom⌋` — no floating point anywhere, so any engine reproduces
    * the sample bit-for-bit and it is invariant to partitioning and
    * retries. One narrow codegen'd filter; nothing shuffles. The `least`
    * cap keeps the product under 2⁶⁰ for any document length (engines
    * disagree on BIGINT overflow: Spark wraps, DuckDB errors). */
  def weightedSample(docs: DataFrame, denom: Long = 2000L,
                     salt: String = "wsamp1"): DataFrame = {
    val scale = (1L << 60) / denom
    docs.filter(keyHash(col("doc_id"), salt)
        < least(col("n_chars"), lit(denom)) * scale)
      .select("doc_id", "n_chars", "lang")
      .orderBy("doc_id")
  }

  /** FIXED-SIZE weight-proportional sample without replacement
    * (Efraimidis–Spirakis A-ES priority sampling) — the complement of
    * [[weightedSample]]'s Bernoulli draw: when the mixture recipe says
    * "exactly k documents, drawn ∝ length", a Bernoulli rate can only hit k
    * in expectation. A-ES ranks every document by u^(1/w) with u uniform on
    * (0,1] and keeps the top k; equivalently (and numerically safer for
    * tiny u^...) by the monotone transform ln(u)/w. The u here is the
    * md5-derived [[keyHash]] scaled by the exact power of two 2⁶⁰ — fully
    * deterministic, so the sample is reproducible across runs, engines and
    * partitionings, which `df.sample` (partition-seeded RNG) is not.
    *
    * Scale shape: one narrow codegen'd key projection, then
    * `orderBy(key).limit(k)` — Spark plans TakeOrderedAndProject
    * (per-partition top-k heaps merged on the driver, k rows each), NOT a
    * global sort; nothing wider than k·partitions ever moves. Ties broken
    * by doc_id so the k-th boundary is deterministic even under equal keys.
    * Output is integer-only (doc_id, n_chars); the double key stays
    * internal, so 1-ulp libm divergence between engines cannot surface in
    * the gate unless it actually flips a rank at the boundary — checked
    * exactly by the DuckDB twin on the static corpus. */
  def prioritySample(docs: DataFrame, k: Int = 100,
                     salt: String = "prio1"): DataFrame = {
    val u = (keyHash(col("doc_id"), salt) + 1).cast("double") /
      lit(1152921504606846976.0) // 2^60: exact scaling into (0, 1]
    docs.select(col("doc_id"), col("n_chars"),
        (log(u) / col("n_chars").cast("double")).as("aes_key"))
      .orderBy(col("aes_key").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  /** Temperature-rebalanced language mixing — the multilingual data-mix
    * step that flattens a skewed crawl toward uniform before training: each
    * language's draw share is q_l ∝ n_l^τ with τ = 1/2 (the standard
    * sampling-temperature form), so a document of language l survives with
    * p_l = target·q_l / n_l — head languages are downsampled harder than
    * tail ones. Rates above 1 saturate (Bernoulli thinning cannot
    * upsample); replication-based upsampling is a separate layout step.
    *
    * Cross-engine determinism without trusting transcendentals: the only
    * non-rational op is `sqrt`, which IEEE 754 requires to be EXACTLY
    * rounded (unlike pow/log), and the per-language weight is immediately
    * integer-quantized (⌊√n_l · 2²⁰⌋), so the normalizing sum is an
    * integer sum — order-free — and the keep rate is one int→double
    * division with a fixed expression shape. Keep decision:
    * h60(doc_id:salt)/2⁶⁰ < p_l, where dividing by 2⁶⁰ is exact.
    *
    * Scale shape: one tiny aggregation (|langs| rows) broadcast back onto
    * the corpus as a map-side join + narrow filter — the corpus itself
    * never shuffles. */
  def mixtureSample(docs: DataFrame, target: Long = 300L,
                    salt: String = "mix1"): DataFrame = {
    val quant = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .withColumn("s_l", floor(sqrt(col("n_l").cast("double")) * 1048576.0))
    val tot = quant.agg(sum(col("s_l")).as("s_tot"))
    // the DENOMINATOR multiplies in double (each int converts exactly-
    // rounded, the product rounds once — identical in any IEEE engine):
    // s_tot·n_l as int64 overflows at ~1e9 docs per language, where Spark
    // would wrap negative (silently dropping the whole head language) and
    // DuckDB would error. The numerator stays int64: s_l·target < 2^63
    // for any corpus that fits in BIGINT doc counts.
    val rates = quant.crossJoin(broadcast(tot))
      .select(col("lang"),
        ((col("s_l") * target).cast("double") /
          (col("s_tot").cast("double") * col("n_l").cast("double"))).as("p_keep"))
    docs.join(broadcast(rates), "lang")
      .filter(keyHash(col("doc_id"), salt).cast("double")
        / 1152921504606846976.0 < col("p_keep"))
      .select(col("doc_id"), col("lang"), col("p_keep"))
      .orderBy("doc_id")
  }

  /** Balanced per-group cap: keep at most `cap` documents per source,
    * chosen by deterministic hash order (a reproducible "random N per
    * domain" — the standard anti-domination step against crawl-heavy
    * sources). rank ties are impossible (rank includes doc_id).
    *
    * Scale shape: `row_number <= cap` over a window is planned as a
    * WindowGroupLimit in Spark 4 — each map task pre-trims its partition to
    * the top `cap` rows per group BEFORE the exchange, so a source with 10⁹
    * docs ships ~cap rows per upstream partition, not its whole group. */
  def groupCap(docs: DataFrame, cap: Int = 40, salt: String = "cap1"): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(keyHash(col("doc_id"), salt).asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .orderBy("source", "rk")
  }

  /** Sequence packing (concat-and-chunk): documents are laid out per
    * language in deterministic doc_id order and cut into training sequences
    * of `budget` tokens; a document's bin is its exclusive running token
    * count integer-divided by the budget. Output (doc_id, lang, n_tokens,
    * bin).
    *
    * The running sum is order-serial BY DESIGN (packing is a sequential
    * layout decision); at corpus scale the partition key grows a shard
    * component — pack per (lang, shard) with shard = hash-range of doc_id —
    * which this operator expresses unchanged via a composite partition
    * column. Window input is one shuffle keyed by the partition column. */
  def packSequences(docs: DataFrame, budget: Long = 2048L): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_excl", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"cum_excl div ${budget}L").as("bin"))
      .orderBy("doc_id")
  }

  /** Packing-efficiency rollup — the utilization number a sequence-packing
    * choice is judged by: over [[packSequences]]' bins (SAME derivation,
    * so the two gates describe one packing), per language the bin count,
    * exact token mass, and mean fill fraction; a low fill means the budget
    * wastes context window, the cost driver of a training run. The open
    * (last) bin per language is legitimately under-filled — `n_full_bins`
    * rides so a reader can separate tail effect from systematic waste.
    * The |docs| bin table collapses map-side to |bins| then |langs| rows.
    * Output (lang, n_bins, n_full_bins, n_tokens, mean_fill). */
  def packingStats(docs: DataFrame, budget: Long = 2048L): DataFrame = {
    val bins = packSequences(docs, budget)
      .groupBy("lang", "bin").agg(sum(col("n_tokens")).as("bin_tokens"))
    val lastBin = bins.groupBy("lang").agg(max(col("bin")).as("last_bin"))
    bins.join(lastBin, "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_bins"),
        sum(when(col("bin") < col("last_bin"), 1L).otherwise(0L))
          .as("n_full_bins"),
        sum(col("bin_tokens")).as("n_tokens"))
      .select(col("lang"), col("n_bins"), col("n_full_bins"), col("n_tokens"),
        (col("n_tokens").cast("double") /
          (col("n_bins") * budget).cast("double")).as("mean_fill"))
      .orderBy("lang")
  }

  /** Per-language quality-quantile filter: keep each language's top
    * `keepFrac` of documents by [[TextAnalysis.qualityScore]] — the relative
    * (quantile) form of quality gating, which unlike a fixed threshold
    * survives per-language score-distribution shifts. `percent_rank` depends
    * only on the quality VALUES (ties share a rank), so the output is
    * deterministic and oracle-checkable; the quality double itself is
    * bit-portable (established by the q_quality gate). One window exchange
    * keyed by lang; the quality inputs partial-aggregate map-side. */
  def qualityQuantileFilter(docs: DataFrame, keepFrac: Double = 0.5): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("quality").desc)
    docs.select(col("doc_id"), col("lang"))
      .join(TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality")), "doc_id")
      .withColumn("pct", percent_rank().over(w))
      .filter(col("pct") <= keepFrac)
      .select(col("doc_id"), col("lang"), col("quality"), col("pct"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: for every non-benchmark document, the
    * fraction of its distinct 9-gram shingles that occur in ANY benchmark
    * document ([[Dedup.docSignatures]] kernel provides the per-doc shingle
    * hash sets in one narrow pass). The benchmark set here is the
    * deterministic stand-in `doc_id % 97 == 0` — in production it is the
    * eval/test corpora. Output (doc_id, n_shingles, n_hit, overlap,
    * contaminated); documents shorter than the shingle width carry no
    * shingles and are excluded, like every shingle-based operator.
    *
    * Scale shape: benchmark corpora are tiny next to training corpora, so
    * the distinct benchmark-shingle set is explicitly `broadcast()` and the
    * hit count is a map-side semi-join + per-doc aggregation — the training
    * corpus is read once and never shuffled wider than |docs| rows. */
  def decontaminate(docs: DataFrame, threshold: Double = 0.2): DataFrame = {
    // checkpoint: the signature table feeds three consumers below — without
    // materialization each would re-run the md5 shingle kernel (see the
    // hygiene note in Dedup.lshPairs)
    val sig = Dedup.docSignatures(docs, h = 0).localCheckpoint()
      .withColumn("is_bench", col("doc_id") % 97 === 0)
    val benchShingles = broadcast(
      sig.filter(col("is_bench")).select(explode(col("hs")).as("s")).distinct())
    val train = sig.filter(!col("is_bench"))
    val hits = train.select(col("doc_id"), explode(col("hs")).as("s"))
      .join(benchShingles, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    train.select(col("doc_id"), col("c").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("overlap",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
      .withColumn("contaminated", col("overlap") >= threshold)
      .orderBy("doc_id")
  }

  /** Neyman-allocation sampling plan — the statistically optimal way to
    * spend a fixed labeling/eval budget across strata: allocate
    * proportionally to N_h·σ_h (big AND internally varied strata earn more
    * samples; a huge but homogeneous crawl earns few). Everything stays in
    * exact integer arithmetic: N_h·σ_h = √(n·Σx² − (Σx)²) with the
    * variance numerator an order-free int64 sum and ONE correctly-rounded
    * IEEE sqrt+floor per stratum (exact cross-engine at these magnitudes;
    * past ~3·10⁹ chars per stratum the products move to DECIMAL(38,0) —
    * the same documented swap as splitDrift); the final allocation is an
    * integer `div` against the broadcast weight total. One |strata|-row
    * aggregation, a 1-row broadcast back — nothing wider than |strata|
    * ever shuffles at any corpus size. Output
    * (source, n, sx, v, w, alloc) ordered by source. */
  def neymanAllocation(docs: DataFrame, budget: Long = 100L): DataFrame = {
    val st = docs.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("n_chars")).as("sx"),
      sum(col("n_chars") * col("n_chars")).as("sxx"))
    val w = st
      .withColumn("v", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("w", floor(sqrt(col("v").cast("double"))).cast("long"))
      .drop("sxx")
    w.crossJoin(broadcast(w.agg(sum(col("w")).as("wtot"))))
      .select(col("source"), col("n"), col("sx"), col("v"), col("w"),
        expr(s"($budget * w) div wtot").as("alloc"))
      .orderBy("source")
  }

  /** Contamination attribution — for every contaminated document (same
    * overlap definition and threshold as [[decontaminate]]), WHICH
    * benchmark document it leaks: the bench doc sharing the most distinct
    * 9-gram shingle hashes, ties broken by smallest bench id. This is the
    * report a decontamination incident actually needs — "train doc X is
    * 80% eval doc Y" — not just the boolean the filter uses. Same scale
    * shape as decontaminate: the benchmark side is tiny by premise, so
    * both the distinct-shingle set AND the (bench_id, shingle) table are
    * broadcast; the training corpus is read once, never shuffled wider
    * than its own shingle stream, and the per-candidate top-1 window runs
    * on |contaminated|·|bench| rows at most. Output (doc_id, n_shingles,
    * n_hit, bench_id, n_shared) ordered by doc_id. */
  def contamAttribution(docs: DataFrame, threshold: Double = 0.2): DataFrame = {
    val sig = Dedup.docSignatures(docs, h = 0).localCheckpoint()
      .withColumn("is_bench", col("doc_id") % 97 === 0)
    val benchEx = broadcast(sig.filter(col("is_bench"))
      .select(col("doc_id").as("bench_id"), explode(col("hs")).as("s")))
    val benchSet = broadcast(benchEx.select("s").distinct())
    val train = sig.filter(!col("is_bench"))
    val trainEx = train.select(col("doc_id"), explode(col("hs")).as("s"))
    val hits = trainEx.join(benchSet, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("n_shared").desc, col("bench_id"))
    val top = trainEx.join(benchEx, "s")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    train.select(col("doc_id"), col("c").as("n_shingles"))
      .join(hits, "doc_id")
      .filter(col("n_hit").cast("double") / col("n_shingles").cast("double")
        >= threshold)
      .join(top, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        col("bench_id"), col("n_shared"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing — the head/middle/tail split the
    * CCNet pipeline cuts per language over an LM quality score, here the
    * self-trained bigram conditional surprisal of
    * [[TextAnalysis.lmScore]] (exact whole-bit integer form, so the
    * DuckDB twin is bit-identical). Per language, documents are ranked by
    * bits-per-bigram ascending (fluent first) with doc_id as the total
    * tie-break, and ntile(3) labels the terciles head/middle/tail —
    * downstream mixtures typically train on head+middle and sample tail.
    * The exact per-lang rank is the audit-time choice; at 100 TB the
    * deployed swap is approx tercile THRESHOLDS from a quantile sketch
    * broadcast onto a narrow scan (same labels up to sketch error, no
    * global sort) — the same exact-vs-sketch trade every quantile gate in
    * this library documents. Output (doc_id, lang, n_bigrams,
    * bits_per_bigram, bucket); docs with <2 tokens carry no bigrams and
    * are excluded like every bigram operator. */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("bits_per_bigram"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .join(TextAnalysis.lmScore(docs)
        .select(col("doc_id"), col("n_bigrams"), col("bits_per_bigram")),
        "doc_id")
      .withColumn("t", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("bits_per_bigram"),
        when(col("t") === 1, "head").when(col("t") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Length-matched deterministic resampling — distribution matching, the
    * move a calibration or ablation run makes when its sample must have the
    * HOLDOUT's length profile rather than the train split's (any gap
    * between the two is exactly what [[DataQuality.splitDrift]] measures;
    * this operator removes it by construction). Per 100-char length band,
    * the train side is thinned to the holdout's relative mass with the
    * standard cap at 1 (a subsampler cannot up-weight an under-represented
    * band): keep fraction f_b = min(1, (n_ho_b·n_tr)/(n_ho·n_tr_b)),
    * realized as an integer threshold thr_b = min(2²⁰,
    * (2²⁰·n_ho_b·n_tr) div (n_ho·n_tr_b)) against the doc's 20-bit hash
    * coin — fully deterministic, reproducible across engines and
    * partitionings, and exact in int64 up to ~3M docs a side (beyond that
    * the products move to DECIMAL(38,0), the [[DataQuality.splitDrift]]
    * note). Shapes: one |bands| aggregation, the tiny band table broadcast
    * back onto the train scan, one filtered re-aggregation. Output per
    * band: (band, n_tr, n_ho, thr, n_kept). */
  def lengthMatchSample(docs: DataFrame): DataFrame = {
    val sided = docs.select(col("doc_id"),
      expr("n_chars div 100").as("band"),
      (Hashes.h60(col("doc_id").cast("string")) % 10 < 8).as("is_tr"))
    val bands = sided.groupBy("band").agg(
      sum(when(col("is_tr"), 1L).otherwise(0L)).as("n_tr"),
      sum(when(!col("is_tr"), 1L).otherwise(0L)).as("n_ho"))
    val tot = bands.agg(sum(col("n_tr")).as("t_tr"), sum(col("n_ho")).as("t_ho"))
    val thr = bands.crossJoin(broadcast(tot))
      .select(col("band"), col("n_tr"), col("n_ho"),
        when(col("n_tr") === 0L, 0L)
          .otherwise(least(lit(1L << 20),
            expr(s"(${1L << 20} * n_ho * t_tr) div (t_ho * n_tr)")))
          .as("thr"))
    val kept = sided.filter(col("is_tr"))
      .join(broadcast(thr.select("band", "thr")), "band")
      .filter(Hashes.h60(col("doc_id").cast("string")) % (1L << 20) < col("thr"))
      .groupBy("band").agg(count(lit(1)).as("n_kept"))
    thr.join(kept, Seq("band"), "left")
      .select(col("band"), col("n_tr"), col("n_ho"), col("thr"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("band")
  }

  /** Duplication-by-quality-band profile — the curation diagnostic that
    * decides whether quality filtering and dedup are redundant or
    * complementary on a given corpus: per fixed-width quality band
    * (floor(20·quality) — VALUE bands, not rank deciles, so the whole
    * profile is one map-side-combining aggregation with no corpus-wide
    * sort anywhere), the count of exact-duplicate docs (non-min-id members
    * of a text group, [[TextAnalysis.cleanCorpus]]'s keeper rule).
    * Template/boilerplate mass concentrating in low bands means dedup
    * subsumes part of the quality gate; a flat profile means they prune
    * independent sets. quality is bit-gated by q_quality, so banding on it
    * is engine-stable. Output (q_band, n_docs, n_dups, dup_frac). */
  def qualityDupProfile(docs: DataFrame): DataFrame = {
    val qual = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val keepers = docs.groupBy(col("text")).agg(min(col("doc_id")).as("keeper"))
    val flagged = docs.select(col("doc_id"), col("text"))
      .join(keepers, "text")
      .select(col("doc_id"), (col("doc_id") =!= col("keeper")).as("is_dup"))
    qual.join(flagged, "doc_id")
      .select(floor(col("quality") * 20.0).cast("long").as("q_band"),
        col("is_dup"))
      .groupBy("q_band")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .withColumn("dup_frac",
        col("n_dups").cast("double") / col("n_docs").cast("double"))
      .orderBy("q_band")
  }

  /** Eval-set n-gram novelty — the memorization screen run on a HELD-OUT
    * split (Carlini-style): for every val/test document under the engine's
    * deterministic hash split ([[TextAnalysis.deterministicSplit]]'s rule,
    * re-derived here so the gate composes the two operators), the fraction
    * of its distinct 9-gram shingles that never occur in ANY train-split
    * document. Low novelty means the "held-out" doc is effectively in the
    * training set and its eval numbers measure memorization, not
    * generalization. Where [[decontaminate]] screens TRAIN docs against a
    * tiny benchmark set (broadcast side = benchmark), here the reference
    * set is the TRAIN SPLIT — huge by construction — so the join is a
    * plain shuffle equi-join on the 60-bit shingle hash: the eval side
    * carries |eval docs|·|shingles| rows, the train side one row per
    * distinct shingle, and nothing wider than the shingle incidence ever
    * exchanges. Same [[Dedup.docSignatures]] kernel as every shingle
    * operator. Output (doc_id, split, n_shingles, n_seen, novelty) for
    * eval docs with ≥1 shingle; novelty = 1 - n_seen/n_shingles, one IEEE
    * subtract-of-division. */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val sig = Dedup.docSignatures(docs, h = 0).localCheckpoint()
      .withColumn("bucket", Hashes.h60(col("doc_id").cast("string")) % 10)
    val trainSh = sig.filter(col("bucket") < 8)
      .select(explode(col("hs")).as("s")).distinct()
    val eval = sig.filter(col("bucket") >= 8)
      .withColumn("split", when(col("bucket") === 8, "val").otherwise("test"))
    val hits = eval.select(col("doc_id"), explode(col("hs")).as("s"))
      .join(trainSh, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    eval.select(col("doc_id"), col("split"), col("c").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novelty", lit(1.0) -
        col("n_seen").cast("double") / col("n_shingles").cast("double"))
      .orderBy("doc_id")
  }

  /** Mixture epoch planning: given a token budget, how often is each source
    * repeated (seen per "epoch" of the mixture)? Weights follow the
    * temperature-½ discipline of [[mixtureSample]] (integer-quantized
    * √tokens — the up-weighting of small high-quality sources every LLM
    * data recipe applies), but where mixtureSample emits a SAMPLE, this
    * emits the PLAN: allocated tokens and the repeat factor (×1000) per
    * source, the artifact a training launch reviews. Every output column is
    * exact int64 arithmetic (the one √ is IEEE-correctly-rounded by
    * standard, the same move mixtureSample gates on) — no float
    * accumulation anywhere. One tiny aggregation over |sources| cells. */
  def epochPlan(docs: DataFrame, targetTokens: Long = 2000000L): DataFrame = {
    val counts = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("s_w",
        floor(sqrt(col("n_tokens").cast("double")) * 1048576.0).cast("long"))
    val tot = counts.agg(sum(col("s_w")).as("s_tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("s_w"),
        expr(s"(s_w * ${targetTokens}L) div s_tot").as("alloc_tokens"))
      .withColumn("epochs_x1000",
        expr("(alloc_tokens * 1000L) div n_tokens"))
      .orderBy("source")
  }

  /** Bloom-filter decontamination — the broadcast-compact variant of
    * [[decontaminate]] for when even the benchmark shingle TABLE is too wide
    * to join against cheaply: the benchmark set is folded into an m-bit Bloom
    * bitset (default 2²⁰ bits = 128 KB regardless of corpus size) and every
    * training document tests its shingles against the broadcast bits in a
    * zero-shuffle mapPartitions pass — no join, no exchange, output is
    * |train docs| rows straight out of the kernel.
    *
    * Deterministic and fully hash-gated: the 4 bit positions of a shingle
    * are fixed 20-bit windows of its md5-derived h60 (`(h >> {0,13,26,39})
    * & (2²⁰−1)`) — pure integer ops the DuckDB oracle replays exactly, since
    * "bit is set" ≡ "position ∈ the distinct benchmark-position set". False
    * positives are inherent to the structure (n_bloom_hit ≥ the exact n_hit,
    * asserted in spec) and the oracle reproduces them bit-for-bit. */
  def decontaminateBloom(docs: DataFrame, threshold: Double = 0.2,
                         mBits: Int = 1 << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = Dedup.docSignatures(docs, h = 0).localCheckpoint()
      .withColumn("is_bench", col("doc_id") % 97 === 0)
    val mask = (mBits - 1).toLong
    val shifts = Array(0, 13, 26, 39)
    // benchmark corpora are tiny next to training corpora (the same premise
    // as decontaminate's broadcast): fold their distinct shingle hashes into
    // the driver-side bitset once
    val bits = new java.util.BitSet(mBits)
    sig.filter(col("is_bench")).select(explode(col("hs")).as("s"))
      .distinct().as[Long].collect()
      .foreach(s => shifts.foreach(sh => bits.set(((s >>> sh) & mask).toInt)))
    val bc = spark.sparkContext.broadcast(bits)
    sig.filter(!col("is_bench"))
      .select(col("doc_id"), col("c"), col("hs"))
      .as[(Long, Long, Array[Long])]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (id, c, hs) =>
          var hits = 0L
          var i = 0
          while (i < hs.length) {
            val s = hs(i)
            var k = 0
            var all = true
            while (all && k < shifts.length) {
              if (!b.get(((s >>> shifts(k)) & mask).toInt)) all = false
              k += 1
            }
            if (all) hits += 1
            i += 1
          }
          (id, c, hits)
        }
      }
      .toDF("doc_id", "n_shingles", "n_bloom_hit")
      .withColumn("contaminated",
        col("n_bloom_hit").cast("double") / col("n_shingles").cast("double")
          >= threshold)
      .orderBy("doc_id")
  }

  /** End-to-end corpus build — the COMPOSED pipeline every other operator
    * here is a stage of, verified as one query: raw → cleaned
    * ([[graft.operators.TextAnalysis.cleanCorpus]]: exact-dedup keepers +
    * quality/length gates) → decontaminated ([[decontaminate]] over the
    * cleaned corpus: benchmark docs and ≥20%-overlap docs dropped) →
    * mixture-sampled ([[mixtureSample]] over the decontaminated corpus —
    * note the temperature weights derive from the SURVIVORS' language
    * counts, which is the point of composing rather than intersecting
    * independent runs). Output: one row per stage with document count and
    * char mass — the funnel a corpus release reports. The stage joins are
    * all on doc_id (key-only exchanges); every stage reuses the operator
    * the surface already gates individually, so this query is the proof
    * the library COMPOSES: a user chains the same public functions. */
  def corpusBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    def stage(name: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars_sum"))
        .select(lit(name).as("stage"), col("n_docs"), col("chars_sum"))
    // each stage frame feeds TWO consumers (its funnel row and the next
    // stage's operator) inside one final action — checkpoint so the heavy
    // stage subtrees run once, not once per consumer branch (r15 job
    // diet; plan surgery only, the funnel values are unchanged)
    val cleaned = docs.join(
      graft.operators.TextAnalysis.cleanCorpus(docs).select("doc_id"), "doc_id")
      .localCheckpoint()
    val decon = cleaned.join(
      decontaminate(cleaned).filter(!col("contaminated")).select("doc_id"),
      "doc_id")
      .localCheckpoint()
    val mixed = decon.join(
      mixtureSample(decon, target = 100L).select("doc_id"), "doc_id")
    stage("1_raw", docs)
      .unionByName(stage("2_cleaned", cleaned))
      .unionByName(stage("3_decontaminated", decon))
      .unionByName(stage("4_mixed", mixed))
      .orderBy("stage")
  }
}
