package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan posture gates for the 100 TB design point: every contract
  * query must plan without an unbounded pair space, and scans must receive
  * pushed filters where the query is selective. These run on sf0.001 (plan
  * shape is scale-invariant; only the data volume differs). */
class PlanPostureSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = name match {
    // q_dedup_clusters materializes eagerly at construction (the CC size
    // gate collects the pair list), so its final plan is just the trivial
    // driver-local labels. Gate the REAL join pipeline instead: the
    // MinHash-LSH pair generation it consumes.
    case "q_dedup_clusters" | "q_dedup_survivors" =>
      graft.operators.Dedup.minhashLshPairs(
        graft.sources.Sources.documents(spark, dir))
        .queryExecution.executedPlan.toString
    case _ =>
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  /** Nested-loop joins that are deliberate and bounded: ANN scoring
    * crossJoins against an explicitly broadcast tiny side (query vectors /
    * coarse centroids); summary queries combine two SINGLE-ROW aggregates
    * (semi x anti counts, n_true x n_found) — a 1x1 join by
    * construction. Every other query must stay free of nested-loop pair
    * spaces. */
  private val deliberateNestedLoop = Set("q_ann_topk", "q_ann_ivf",
    "q_bm25", "q_rag_pipeline", // SINGLE-ROW corpus (n, s) stats x the posting rows
    "q_bm25_served", "q_bm25_upsert", "q_lexicon_lifecycle", "q_retrieval_eval", // the stored/derived 1-row stats x the posting rows
    // r14 retrieval widening: all ride the same SINGLE-ROW (n, s) stats
    // crossJoin (and the hybrids also the SQ8/brute broadcast-query side)
    "q_bm25_freeq", "q_lexicon_compact", "q_lexicon_upsert_stream",
    "q_hybrid_rrf", "q_hybrid_served", "q_map_eval", "q_snippets",
    // SQ8 family: the 5-row encoded query side and the 1-row packed-ranges
    // side broadcast against the code scan, as q_ann_topk
    "q_sq8_codes", "q_sq8_topk", "q_sq8_recall",
    "q_sq8_served", "q_sq8_upsert", "q_sq8_forget",
    "q_token_drift", "q_token_drift_stream", // SINGLE-ROW corpus total x |sources| totals
    "q_hard_negatives", // broadcast query side x candidate scan, as q_ann_topk

    "q_ann_recall", // brute-force ground-truth side of the recall measure
    "q_matryoshka", // |dims| brute chains x the broadcast query side, as q_ann_topk
    "q_mrr", // the same broadcast-query brute ordering as q_ann_topk
    "q_pq_adc", // ADC scan x the broadcast 5-row query side
    "q_pq_recall", // exact-L2 ground-truth side of the PQ recall measure
    "q_ivfpq_recall", // brute-force ground-truth side of the composed-index recall
    "q_neardup_blocked", "q_semi_anti",
    "q_hll_users", // n_exact x (s, v_zero): two SINGLE-ROW aggregates
    "q_mixture", // |langs| rates x the SINGLE-ROW quantized-weight total
    "q_bigram_lift", // SINGLE-ROW unigram/bigram totals x the pair counts
    "q_unigram", // SINGLE-ROW corpus-token total x the per-token rows
    "q_hll_daily", // |days| x 256-bucket register spine: both sides tiny by construction
    "q_dq_audit", // each check combines two SINGLE-ROW aggregates (n_rows x n_bad)
    "q_vocab_coverage", // |ks| coverage rows x the SINGLE-ROW corpus total
    "q_epochs", // |sources| rows x the SINGLE-ROW weight total
    "q_bpe_pairs", // top-k pair rows x the SINGLE-ROW pair-occurrence total
    "q_rate_anomaly", // |hours| rows x SINGLE-ROW median x SINGLE-ROW MAD
    "q_split_drift", // |lengths| cum rows x the SINGLE-ROW split totals
    "q_dist_match", // |bands| rows x the SINGLE-ROW corpus split totals
    "q_lsh_tuning", // SINGLE-ROW candidate/verified x SINGLE-ROW doc count
    "q_lsh_recall_sampled", // SINGLE-ROW sampled exact-pair count x SINGLE-ROW caught count
    "q_emb_lsh_recall", // SINGLE-ROW n_true x n_found x n_hit, as q_lsh_recall
    "q_emb_stream_recall", // same SINGLE-ROW count crossJoin shape
    "q_index_drift", // SINGLE-ROW totals broadcast onto <= kSide cells
    "q_index_drift_served", // same SINGLE-ROW totals shape off the artifact
    "q_index_lifecycle", // SINGLE-ROW tvd/recall scalars crossJoined into one row
    "q_index_manifest", // SINGLE-ROW artifact health counters crossJoined
    "q_imi_recall", // brute-force ground-truth side, as q_ann_recall
    "q_join_card", // SINGLE-ROW histogram estimate x SINGLE-ROW actual count
    "q_cooccur", // pair rows x the SINGLE-ROW pair/unigram totals (as q_bigram_lift)
    "q_search", // matched tf rows x the SINGLE-ROW corpus doc count
    "q_dataset_card", // SINGLE-ROW docs agg x SINGLE-ROW token agg
    "q_source_overlap", // |sources| sizes x |sources| sizes: both tiny by construction
    "q_heavy_hitters", // candidate counts x the SINGLE-ROW token total
    "q_pr_curve", // |bins| curve rows x the SINGLE-ROW positive total
    "q_corpus_build", // inherits q_mixture's |langs| x SINGLE-ROW total stage
    "q_diversity", // |classes| rows x the SINGLE-ROW total-bits aggregate
    "q_neyman", // |strata| rows x the SINGLE-ROW weight total
    "q_burstiness", // |vocab| rows x the SINGLE-ROW doc count
    "q_pareto", // 10 curve rows x the SINGLE-ROW event total
    "q_coverage_gap") // |langs| x |sources| grid: both axes tiny by construction

  test("no contract query plans a CartesianProduct") {
    for (name <- SparkEntry.queries.keys) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  test("nested-loop joins appear only where a tiny side is deliberately broadcast") {
    for (name <- SparkEntry.queries.keys if !deliberateNestedLoop(name)) {
      val plan = planOf(name)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans an unexpected nested-loop join:\n$plan")
    }
  }

  test("the HW1 outlier counts plan no broadcast exchange") {
    for (name <- Seq("q_exact_outlier_count", "q_outlier_summary")) {
      val plan = planOf(name)
      assert(!plan.contains("BroadcastExchange"), s"$name plans a broadcast:\n$plan")
    }
  }

  test("q_ann_imi candidates ride a broadcast equi-join on the fine cell") {
    // the member table never shuffles: the ≤ nprobeSuper·nprobeSub·|Q|
    // probe rows broadcast and the join keys on (scell, sub)
    val plan = planOf("q_ann_imi")
    assert(plan.contains("BroadcastHashJoin [scell"),
      s"IMI candidate join must broadcast the probe side on (scell, sub):\n$plan")
  }

  test("the lexicon serve prunes the posting read to the query terms' buckets") {
    // the partition filter must reach the SCAN (directory-level pruning),
    // not run as a post-scan filter — the property that makes a 100 TB
    // posting table affordable; the artifact is (re)built by the gate
    val plan = planOf("q_bm25_served")
    assert("PartitionFilters: \\[[^\\]]*bucket#".r.findFirstIn(plan).isDefined,
      s"q_bm25_served must prune posting buckets at the scan:\n$plan")
  }

  test("selective scans push their filters into the parquet reader") {
    val plan = planOf("q1_pricing")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q1_pricing must push the shipdate predicate to the scan:\n$plan")
  }

  test("q5_region broadcasts its tiny dimensions (no shuffle for nation/region)") {
    val plan = planOf("q5_region")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2,
      s"q5_region must broadcast nation and region (found $broadcasts):\n$plan")
  }

  test("q_emb_centroids aggregates with exactly one hash exchange (map-side partials)") {
    val plan = planOf("q_emb_centroids")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"centroid agg must shuffle once, partial-aggregated (found $exchanges):\n$plan")
  }

  test("kmeans plans one hash exchange: literal-center assignment is shuffle-free") {
    // the whole Lloyd round reads the corpus once per assignment with centers
    // as literals; only the |clusters| cells of the final agg may shuffle
    val plan = planOf("q_kmeans")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"kmeans must shuffle only the final per-cluster agg (found $hashEx):\n$plan")
  }

  test("pruned column sets reach the scan (no full-width reads for narrow queries)") {
    val plan = planOf("q_token_counts")
    // documents has (doc_id, text, lang, source, n_chars, ...); token counting
    // needs only (doc_id, text)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"q_token_counts must read only doc_id+text:\n$plan")
  }

  test("priority sample plans per-partition top-k, not a global sort") {
    // A-ES keeps k rows: TakeOrderedAndProject merges per-partition heaps
    // on the driver; a global Sort exchange before the limit would move
    // the corpus to rank 100 rows
    val plan = planOf("q_priority_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_priority_sample must plan TakeOrderedAndProject:\n$plan")
  }

  test("feature hashing aggregates with exactly one hash exchange") {
    // the bucket projection is in-row; only the per-doc rollup may shuffle,
    // map-side partial-aggregated
    val plan = planOf("q_feature_hash")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"q_feature_hash must shuffle once (found $hashEx):\n$plan")
  }

  test("hash sampling and per-row stats stay narrow: no exchange but the presentation sort") {
    // a sample/per-row-stat operator that shuffles before its final ORDER BY
    // would serialize the corpus through the cluster for a row-local decision
    for (name <- Seq("q_stratified", "q_char_classes", "q_split", "q_scrub")) {
      val plan = planOf(name)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
      val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).size
      assert(hashEx == 0 && rangeEx <= 1,
        s"$name must plan as filter/project + one sort exchange " +
          s"(found $hashEx hash + $rangeEx range):\n$plan")
    }
  }
}
