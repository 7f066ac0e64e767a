package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashes

/** Per-document shingle digest produced by [[Dedup.docSignatures]]:
  * `sig(k)` = MinHash variant k (min of [[Hashes.mix60]] over the distinct
  * shingle hashes), `hs` = the distinct 60-bit shingle hashes themselves,
  * `c = hs.length`. */
private[graft] case class DocSig(doc_id: Long, sig: Array[Long],
                                 hs: Array[Long], c: Long)
/** Deduplication operators for a training-data pipeline (north-star
  * extension, SURVEY.md §7.1 M7): exact hash dedup, MinHash+LSH, SimHash and
  * DF-capped n-gram Jaccard near-dup detection.
  *
  * Scale design: nothing here ever materializes the n² pair space.
  *  - exact dedup is one hash aggregation;
  *  - MinHash/LSH generates candidates only where a band signature collides
  *    (equi-join on the band key → shuffled hash join);
  *  - n-gram Jaccard prunes the inverted index by document frequency before
  *    pairing, bounding each posting list (the classic stop-shingle cap);
  *  - SimHash pairs join on a coarse prefix bucket before the Hamming check.
  * All hashes are md5-derived ([[Hashes]]) so every operator has an exact
  * DuckDB oracle twin.
  */
object Dedup {

  /** Exact duplicate groups (`dropDuplicates` inverted): content hash,
    * surviving doc (min id), multiplicity — only groups with >1 member. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)
      .orderBy("h")

  /** Deduplicated corpus: the `dropDuplicates`-style survivor set with a
    * DETERMINISTIC keeper (min doc_id per distinct text — `dropDuplicates`
    * itself keeps an arbitrary row, which would not be oracle-checkable). */
  def dedupedDocIds(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
      .orderBy("doc_id")

  /** Corpus-level dedup summary: total docs, distinct texts, redundant docs. */
  def dedupSummary(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("text")).as("n_distinct"),
      (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"))

  /** Per-document shingle/MinHash kernel: ONE narrow pass over the document
    * table computes, per doc, the distinct 9-gram shingle hashes, their count
    * and all `h` MinHash variant minima — no explode, no shuffle, nothing
    * wider than |docs| rows ever exists.
    *
    * This is the genuine per-partition-imperative case: a document's shingles
    * all live in its own row, so the declarative alternative (explode to a
    * |docs|·|len| incidence table, hash-aggregate h mins + collect_list back
    * per doc) manufactures a 2.8M-row (sf0.1) intermediate and a wide shuffle
    * only to rebuild exactly this per-doc state. At 100 TB the kernel stays
    * embarrassingly parallel (per-doc work, zero exchange); hashes are
    * [[Hashes.h60Jvm]]/[[Hashes.mix60Jvm]], bit-identical to the Column/SQL
    * twins (HashesSpec), so the DuckDB oracles are unchanged.
    * Output: (doc_id, sig[h], hs[], c); docs shorter than k emit nothing
    * (matching the explode form, where they produce no shingle rows). */
  private[graft] def docSignatures(docs: DataFrame, h: Int = 16,
                                   k: Int = 9): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rs = (0 until h).map(v => (v * 7 + 3) % 60).toArray
    val cs = (0 until h).map(Hashes.mixConst60).toArray
    // spread the MD5 shingle kernel (optimization r14 — the suite's most
    // shared compute funnel; see Sources.spread for the A/B evidence)
    graft.sources.Sources.spread(
        docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          if (t == null || t.length < k) Iterator.empty
          else {
            val seen = new java.util.HashSet[String](1 << 11)
            val hs = scala.collection.mutable.ArrayBuilder.make[Long]
            val sig = Array.fill(h)(Long.MaxValue)
            var i = 0
            while (i <= t.length - k) {
              val s = t.substring(i, i + k)
              if (seen.add(s)) {
                val b = Hashes.h60Jvm(md, s)
                hs += b
                var j = 0
                while (j < h) {
                  val m = Hashes.mix60Jvm(b, rs(j), cs(j))
                  if (m < sig(j)) sig(j) = m
                  j += 1
                }
              }
              i += 1
            }
            // sorted ascending: the verify paths count pair overlaps with
            // [[graft.functions.SortedInterCount]]'s zero-allocation merge
            // (one sort per DOC here amortizes over every PAIR downstream);
            // all other consumers are order-free (explode / array_min /
            // set-compare specs)
            val hsArr = hs.result()
            java.util.Arrays.sort(hsArr)
            // adjacent-dedup after the sort: two distinct in-doc shingles
            // colliding under h60 (~|doc|²/2⁶¹) would otherwise leave a
            // duplicated VALUE in hs, breaking SortedInterCount's
            // distinct-set precondition. One linear pass makes the
            // ENGINE-side invariants unconditional: hs strictly
            // increasing, c = hs.length = |distinct hashes|. Oracle
            // equality stays conditional on no in-doc collision (the
            // DuckDB twins count distinct STRINGS) — see the layered
            // contract note on [[graft.functions.SortedInterCount]].
            var w = 0
            var r = 0
            while (r < hsArr.length) {
              if (w == 0 || hsArr(r) != hsArr(w - 1)) { hsArr(w) = hsArr(r); w += 1 }
              r += 1
            }
            val dedup = if (w == hsArr.length) hsArr
                        else java.util.Arrays.copyOf(hsArr, w)
            Iterator.single(DocSig(id, sig, dedup, dedup.length.toLong))
          }
        }
      }
      .toDF()
  }

  /** MinHash signatures: for each of `h` hash variants k, the min 60-bit
    * mixed hash over the doc's distinct 9-gram shingles.
    * Output: (doc_id, k, mh). Unfolds the [[docSignatures]] kernel. */
  def minhashSignatures(docs: DataFrame, h: Int = 16): DataFrame =
    docSignatures(docs, h)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("k", "mh")))

  /** MinHash LSH near-dup pairs: band the signature (bands of `rows` hashes),
    * join docs whose band signature collides, then verify candidates with the
    * exact Jaccard over their distinct shingle sets. Output:
    * (a, b, jaccard) for verified pairs with jaccard ≥ threshold. */
  def minhashLshPairs(docs: DataFrame, h: Int = 16, rows: Int = 4,
                      threshold: Double = 0.5): DataFrame =
    lshPairs(docs, h, rows, threshold).orderBy("a", "b")

  /** Cross-source duplicate-leakage matrix over the verified near-dup pair
    * graph — the provenance view a corpus audit runs before mixing sources:
    * a diagonal entry (src, src) counts internal near-dups (template reuse
    * within one crawl), an off-diagonal entry (src_a, src_b) counts pairs
    * straddling two sources — i.e. content leaking between crawls, the
    * signal that two "independent" sources overlap and their mixture
    * weights double-count. Pair endpoints map to sources via two equi-joins
    * whose right side is the 2-column (doc_id, source) projection; the pair
    * is normalized (LEAST, GREATEST) so each unordered source pair lands in
    * one cell, and the final aggregation is over |pairs| rows into at most
    * |sources|² cells — nothing here outgrows the already-bounded LSH pair
    * list at any corpus size. Output (src_a, src_b, pairs). */
  def crossSourceLeak(docs: DataFrame, h: Int = 16, rows: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    lshPairs(docs, h, rows, threshold)
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Source-pair shingle CONTAINMENT matrix — the set-level complement of
    * [[crossSourceLeak]]: where that counts verified near-dup DOCUMENT
    * pairs, this measures how much of source A's distinct 9-gram shingle
    * SPACE appears anywhere in source B (|S_A ∩ S_B| / |S_A|, directed —
    * a small source fully contained in a crawl shows 1.0 in one direction
    * and noise in the other, exactly the asymmetry mixture design needs
    * before double-counting a "distinct" source). Shapes: the distinct
    * (source, shingle-hash) table is one explode + distinct off the shared
    * [[docSignatures]] kernel; the intersection is a self-equi-join on the
    * 60-bit hash whose output is bounded by |shingles|·|sources|² with
    * |sources| a small constant; the final matrix is |sources|² rows with
    * zero-intersection pairs kept (a complete matrix, not just observed
    * overlaps). One IEEE division per cell. Output
    * (src_a, src_b, n_a, n_inter, containment) over ordered pairs a ≠ b. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sig = docSignatures(docs, h = 0).localCheckpoint()
    val ss = sig.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), explode(col("hs")).as("s")).distinct()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = ss.withColumnRenamed("source", "src_a")
      .join(ss.withColumnRenamed("source", "src_b"), "s")
      .filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .crossJoin(broadcast(sizes.select(col("source").as("src_b"))))
      .filter(col("src_a") =!= col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .withColumn("containment",
        col("n_inter").cast("double") / col("n_a").cast("double"))
      .orderBy("src_a", "src_b")
  }

  /** Incremental ingestion dedup: classify each document of an incoming
    * batch (source == batchSource) against the existing corpus (every other
    * source) as `exact_dup` (byte-identical text exists in the corpus),
    * `near_dup` (a corpus doc shares an LSH band and verifies at
    * jaccard ≥ threshold), or `new`. This is the shape a continuously-fed
    * 100 TB pipeline actually runs: the full self-join dedup
    * ([[minhashLshPairs]]) happens once to bootstrap, then every arriving
    * batch is screened against the standing corpus — work proportional to
    * the BATCH, never corpus².
    *
    * Scale shape: the exact path joins on the 128-bit text digest, so the
    * exchange moves 16-byte keys, not document bytes; the near path
    * equi-joins the batch's band table (|batch|·h/rows short rows) against
    * the corpus band table — in production the corpus side is the
    * precomputed, bucketed signature store written by the bootstrap run, so
    * a batch screen is a probe into it, and candidate verification fetches
    * only the matched corpus docs' signature rows. Both sides here derive
    * from one [[docSignatures]] kernel pass over the union. `match_id` =
    * the smallest matching corpus doc_id (exact match wins over near). Output
    * (doc_id, status, match_id) for every batch doc, doc_id-ordered. */
  def incrementalDedup(docs: DataFrame, batchSource: String,
                       h: Int = 16, rows: Int = 4,
                       threshold: Double = 0.5): DataFrame = {
    val ids = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("source"), col("text"))
    val batch = ids.filter(col("source") === batchSource)
    val corpus = ids.filter(col("source") =!= batchSource)
    val exact = batch.select(col("doc_id"), md5(col("text")).as("hsh"))
      .join(corpus.select(md5(col("text")).as("hsh"), col("doc_id").as("cid")),
        "hsh")
      .groupBy("doc_id").agg(min(col("cid")).as("em"))
    val docAgg = docSignatures(docs, h).localCheckpoint()
    val srcOf = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("source"))
    val bands = bandTable(docAgg, h, rows).join(srcOf, "doc_id")
    val cand = bands.filter(col("source") === batchSource).as("x")
      .join(bands.filter(col("source") =!= batchSource).as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val near = cand
      .join(docAgg.as("ca"), col("a") === col("ca.doc_id"))
      .join(docAgg.as("cb"), col("b") === col("cb.doc_id"))
      .withColumn("inter",
        graft.functions.SortedInterCount.sortedInterCount(col("ca.hs"), col("cb.hs")))
      .filter((col("inter").cast("double") /
        (col("ca.c") + col("cb.c") - col("inter")).cast("double")) >= threshold)
      .groupBy(col("a").as("doc_id")).agg(min(col("b")).as("nm"))
    batch.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("em").isNotNull, lit("exact_dup"))
          .when(col("nm").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("em"), col("nm")).as("match_id"))
      .orderBy("doc_id")
  }

  /** Degree of each document in the verified near-dup pair graph — the
    * standard triage view before cluster merge (hub documents = boilerplate
    * templates). One unionAll of the two endpoint columns + one hash
    * aggregation over |pairs| rows, nothing wider than the pair list itself.
    * Output (doc_id, degree) for every doc incident to ≥1 verified pair. */
  def pairDegrees(docs: DataFrame, h: Int = 16, rows: Int = 4,
                  threshold: Double = 0.5): DataFrame = {
    // both endpoint projections consume the pair list; eager-checkpoint it so
    // the LSH pipeline runs once (|pairs| rows, tiny — same rationale as the
    // docAgg checkpoint in lshPairs)
    val p = lshPairs(docs, h, rows, threshold).localCheckpoint()
    p.select(col("a").as("doc_id"))
      .unionAll(p.select(col("b").as("doc_id")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("degree"))
      .orderBy("doc_id")
  }

  /** Degree assortativity of the near-dup pair graph — does duplication
    * concentrate (hubs link hubs: template families, r > 0) or radiate
    * (hubs link leaves: one canonical doc with many variants, r < 0)?
    * Standard Newman assortativity: Pearson correlation of endpoint
    * degrees over the DIRECTED edge list (each undirected pair counted in
    * both orientations). Every sum is an exact int64 over |2·pairs| rows
    * — m, Σx, Σx², Σxy — and r is one fixed expression tree of IEEE ops
    * (two correctly-rounded sqrts), bit-identical cross-engine. Same
    * verified pair list as every dedup-graph gate. Output one row
    * (m, sx, sxx, sxy, r); r is null on a degree-regular graph (zero
    * variance). */
  def assortativity(docs: DataFrame, h: Int = 16, rows: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    val p = lshPairs(docs, h, rows, threshold).localCheckpoint()
    val directed = p.select(col("a").as("u"), col("b").as("v"))
      .unionAll(p.select(col("b").as("u"), col("a").as("v")))
    val deg = directed.groupBy("u").agg(count(lit(1)).as("d"))
    val e = directed
      .join(deg.select(col("u"), col("d").as("dx")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dy")), "v")
    // by symmetry of the directed list Σy = Σx and Σy² = Σx², so the two
    // denominator factors are EQUAL and r collapses to ONE integer
    // division — no sqrt at all
    e.agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("m"), col("sx"), col("sxx"), col("sxy"),
        when(col("m") * col("sxx") =!= col("sx") * col("sx"),
          (col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("r"))
  }

  /** Per-document triangle participation in the SimHash near-dup pair graph
    * — the local-clustering view that separates genuine duplicate CLIQUES
    * (template families, mirrored sites: their pairs close into triangles)
    * from incidental chain links that connected-components would merge
    * anyway. Output (doc_id, n_tri) for every doc in ≥1 triangle.
    *
    * Degree-ordered node-iterator (Schank & Wagner's forward algorithm):
    * orient every edge from its lower-(degree, id) endpoint, so each
    * triangle has exactly one source vertex with out-edges to both others,
    * and close wedges against the undirected list. Wedges per vertex are
    * out-degree², and the degree orientation bounds total wedge volume by
    * O(m^1.5) — on a power-law dedup graph at corpus scale a boilerplate
    * hub of degree 10⁶ would otherwise emit 10¹² wedges; oriented, its
    * wedges land on its (low-degree) neighbors instead. Plans as three
    * equi-joins over the |edges| list; nothing driver-side. */
  def triangleCounts(docs: DataFrame, maxHamming: Int = 2): DataFrame = {
    // the edge list feeds degrees, wedges (twice) and the closing probe;
    // eager-checkpoint so the SimHash pipeline runs once (|pairs| rows)
    val e = simhashPairs(docs, maxHamming).select("a", "b").localCheckpoint()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"))
    // wedge targets ordered by id (x.w < y.w), so the closing edge probe
    // matches e's canonical a < b orientation directly
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.w") < col("y.w"))
      .select(col("x.u").as("t1"), col("x.w").as("t2"), col("y.w").as("t3"))
    wedges.join(e, col("t2") === col("a") && col("t3") === col("b"))
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      .orderBy("doc_id")
  }

  /** k-core of the SimHash near-dup graph: the maximal subgraph where every
    * vertex keeps degree ≥ k — the standard "dense boilerplate region"
    * extractor (triangles find individual dense pockets; the k-core is the
    * global fixpoint a template-removal pass acts on). Output (doc_id, deg)
    * for every core member with its within-core degree.
    *
    * Peeling runs a FIXED `rounds` iterations (remove sub-k vertices,
    * restrict edges, repeat) rather than a driver-side converged-yet loop:
    * peeling is idempotent once stable, so extra rounds are no-op joins on
    * an already-final edge list, and the fixed unroll makes the DuckDB twin
    * an exact CTE chain (same trick as the fixed-point PageRank oracle).
    * DedupGraphSpec asserts one more round changes nothing at test scale, so
    * the output IS the k-core, not a partial peel; at 100 TB you would swap
    * the constant for a cheap `count()` convergence probe per round —
    * real-world cores stabilize in a handful of rounds because each round
    * removes whole pendant trees, not single vertices.
    *
    * Scale shape: each round is one degree aggregation + two semi-joins on
    * the CURRENT edge list, which only shrinks; `localCheckpoint` per round
    * cuts the lineage so the plan depth stays O(1) per round instead of
    * compounding (the iterative-algorithm hygiene Spark needs — without it
    * round r replays rounds 1..r-1). */
  def kcore(docs: DataFrame, k: Int = 2, rounds: Int = 8,
            maxHamming: Int = 2): DataFrame = {
    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
    var e = simhashPairs(docs, maxHamming).select("a", "b").localCheckpoint()
    for (_ <- 1 to rounds) {
      val surv = sym(e).groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("v")
      e = e.join(surv.select(col("v").as("a")), "a")
        .join(surv.select(col("v").as("b")), "b")
        .select("a", "b").localCheckpoint()
    }
    sym(e).groupBy("v").agg(count(lit(1)).as("deg"))
      .select(col("v").as("doc_id"), col("deg"))
      .orderBy("doc_id")
  }

  /** Top-k most similar documents per document — the per-item similarity
    * view over the verified MinHash-LSH pair graph (dedup review UIs and
    * "nearest neighbor" audits consume this, not the raw pair list).
    * Symmetrize the verified pairs, rank per doc by (jaccard desc, nbr
    * asc — the tie-break keeps the window deterministic), keep k. One
    * window exchange over 2·|pairs| rows. */
  def topSimilar(docs: DataFrame, k: Int = 3, h: Int = 16, rows: Int = 4,
                 threshold: Double = 0.5): DataFrame = {
    // both symmetrization branches consume the pair list; eager-checkpoint
    // so the LSH pipeline runs once (same rationale as pairDegrees)
    val p = lshPairs(docs, h, rows, threshold).localCheckpoint()
    val sym = p.select(col("a").as("doc_id"), col("b").as("nbr"), col("jaccard"))
      .unionAll(p.select(col("b").as("doc_id"), col("a").as("nbr"), col("jaccard")))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jaccard").desc, col("nbr").asc)
    sym.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("doc_id", "nbr", "jaccard", "rk")
      .orderBy("doc_id", "rk")
  }

  /** Fixed-point PageRank over the (symmetrized) SimHash near-dup pair
    * graph — the centrality triage that ranks boilerplate template hubs
    * above incidental near-dups, complementing [[pairDegrees]] (volume) and
    * [[triangleCounts]] (local clustering). Nodes are documents incident to
    * ≥1 pair; output (doc_id, rank) after `iters` damped rounds.
    *
    * All arithmetic is 64-bit INTEGER — ranks live at 2⁴⁰ fixed-point
    * scale, each round is r'(v) = (15·B + 85·Σ_{u→v} (r(u) div deg(u)))
    * div 100 with B = 2⁴⁰ div |V| — so the iteration is deterministic to
    * the bit in any engine (integer sums are order-free; there is no FP
    * accumulation to diverge) and the DuckDB oracle replays all `iters`
    * rounds as unrolled CTEs and hash-matches exactly. Floor losses shave
    * < |V|·iters units off the 2⁴⁰ mass — spec-bounded, never divergent.
    *
    * Scale shape: one edges⨝ranks equi-join + one hash aggregation per
    * round over the |edges| list (never a transitive structure); the
    * symmetric graph has no dangling nodes by construction. Lineage is
    * truncated with a localCheckpoint every 10 rounds — without it a
    * long-horizon run (50+ rounds) pays quadratic Catalyst analysis cost on
    * one ever-deeper lazy plan, exactly the failure mode
    * [[connectedComponents]]'s distributed branch guards against
    * (Round6Spec proves iters=25 stays linear and hash-stable). */
  def pageRank(docs: DataFrame, iters: Int = 5, maxHamming: Int = 2): DataFrame = {
    val e0 = simhashPairs(docs, maxHamming).select("a", "b").localCheckpoint()
    val edges = e0.unionAll(e0.select(col("b").as("a"), col("a").as("b")))
    val deg = edges.groupBy("a").agg(count(lit(1)).as("deg"))
    // |V| is graph metadata (one scalar), not point data; the edge list is
    // already checkpointed so this costs one tiny aggregation
    val n = deg.count()
    val base = (1L << 40) / math.max(n, 1L)
    val edgesD = edges.join(deg, "a").localCheckpoint()
    var ranks = deg.select(col("a").as("v"), lit(base).as("r"))
    for (round <- 1 to iters) {
      ranks = edgesD.join(ranks.withColumnRenamed("v", "a"), "a")
        .select(col("b").as("v"), expr("r div deg").as("c"))
        .groupBy("v").agg(sum(col("c")).as("s"))
        .select(col("v"), expr(s"(15 * ${base}L + 85 * s) div 100").as("r"))
      // checkpointing is plan surgery only — the |V|-row rank vector is
      // materialized as-is, so the hash-gated result is unchanged
      if (round % 10 == 0 && round < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("v").as("doc_id"), col("r").as("rank")).orderBy("doc_id")
  }

  /** [[minhashLshPairs]] without the presentation sort (cluster-merge input).
    *
    * Everything per-doc comes from the [[docSignatures]] kernel (cached:
    * |docs| rows of long arrays); the only exchanges left are the band
    * equi-join over |docs|·(h/rows) short rows and the candidate verification
    * joins back to the per-doc table (AQE broadcasts it). Band signatures are
    * slices of the sig array; verification intersects the two distinct
    * hash SETS per candidate row — integer counts, so the jaccard double
    * divides identically to the oracle's string-join-count formulation. */
  /** LSH band table (doc_id, band, bsig) from a [[docSignatures]] table —
    * each signature sliced into h/rows bands, the band's hashes joined into
    * one string key. Shared by [[lshCandidates]] (self-join form) and
    * [[incrementalDedup]] (cross-set form) so both band identically. */
  private def bandTable(docAgg: DataFrame, h: Int, rows: Int): DataFrame = {
    val nBands = (h + rows - 1) / rows
    val bandCols = array((0 until nBands).map { bd =>
      struct(lit(bd).as("band"),
        concat_ws("-", transform(slice(col("sig"), bd * rows + 1, rows),
          _.cast("string"))).as("bsig"))
    }: _*)
    docAgg.select(col("doc_id"), explode(bandCols).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
  }

  /** Banded LSH candidate pairs (a < b, distinct) over a [[docSignatures]]
    * table — the shared front half of [[lshPairs]] and [[minhashEstimates]].
    * With `sampleMod`, the x-side is pre-filtered to the [[samplePred]] doc
    * sample (pairs canonicalized via least/greatest — see
    * [[prefixJaccardPairsImpl]] for the shared argument). */
  private def lshCandidates(docAgg: DataFrame, h: Int, rows: Int,
                            sampleMod: Option[Int] = None): DataFrame = {
    val bands = bandTable(docAgg, h, rows)
    sampleMod match {
      case None =>
        bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
      case Some(mod) =>
        bands.filter(samplePred(mod)).as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
              col("x.doc_id") =!= col("y.doc_id"))
          .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
            greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
          .distinct()
    }
  }

  private def lshPairs(docs: DataFrame, h: Int, rows: Int,
                       threshold: Double): DataFrame = {
    // localCheckpoint (eager), not cache(): the per-doc table is scanned by
    // three consumers inside the RETURNED lazy plan, so a cache() here could
    // never be unpersisted and would leak into the caller's session (the
    // cache-hygiene contract, CacheHygieneSpec). The checkpoint runs the
    // kernel once up front, stores |docs| rows, truncates lineage, and its
    // blocks are freed by the ContextCleaner when the plan is GC'd.
    val docAgg = docSignatures(docs, h).localCheckpoint()
    lshPairsFrom(docAgg, h, rows, threshold)
  }

  /** [[lshPairs]] over an already-materialized signature table — the
    * [[prefixJaccardPairsFrom]] counterpart for [[lshRecall]]'s shared
    * checkpoint. `sampleMod` (the [[samplePred]] draw) restricts the band
    * self-join's query side to sampled docs pre-join, with `!=` +
    * least/greatest canonicalization so a pair surfaces through whichever
    * endpoint is sampled — band collision is symmetric in the pair, so the
    * sampled output is EXACTLY the full verified-pair set filtered to
    * `a∈S ∨ b∈S`, while the quadratic band join and the O(|doc|)
    * array-intersect verify shrink to the sample fraction. */
  private def lshPairsFrom(docAgg: DataFrame, h: Int, rows: Int,
                           threshold: Double,
                           sampleMod: Option[Int] = None): DataFrame =
    verifyCandidates(lshCandidates(docAgg, h, rows, sampleMod), docAgg, threshold)

  /** Exact-Jaccard verification of a candidate (a, b) pair table against a
    * [[docSignatures]] table — the shared back half of every banded route:
    * [[lshPairsFrom]]'s batch self-join AND the streaming ingest screen
    * ([[graft.streaming.DedupStream.nearDupReplay]]), which emits the same
    * candidate set from keyed bucket state and verifies it here against
    * the signature store. */
  private[graft] def verifyCandidates(cand: DataFrame, docAgg: DataFrame,
                                      threshold: Double): DataFrame =
    cand
      .join(docAgg.as("ca"), col("a") === col("ca.doc_id"))
      .join(docAgg.as("cb"), col("b") === col("cb.doc_id"))
      .withColumn("inter",
        graft.functions.SortedInterCount.sortedInterCount(col("ca.hs"), col("cb.hs")))
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("ca.c") + col("cb.c") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Per-doc LSH band rows (band, bsig, doc_id) straight off the
    * [[docSignatures]] kernel — bit-identical keys to [[bandTable]], but
    * WITHOUT the checkpoint (stateless transforms only), so it composes
    * onto a STREAMING document source: this is the banding the ingest
    * screen runs per micro-batch. */
  private[graft] def bandRows(docs: DataFrame, h: Int, rows: Int): DataFrame =
    bandTable(docSignatures(docs, h), h, rows)

  /** Verified-pair similarity histogram — the threshold-selection view: the
    * distribution of exact Jaccards over the verified near-dup pairs, in
    * 0.05-wide value bands (floor(20·j) — the jaccard double is bit-gated
    * by q_minhash_lsh, so banding on it is engine-stable). A mass of pairs
    * hugging the verify threshold means the threshold is doing real work
    * (and a small move changes the dedup a lot); a bimodal histogram says
    * the corpus separates cleanly. |pairs| rows → ≤ 21 cells, map-side.
    * Output (j_band, n_pairs, min_j, max_j). */
  def pairSimHistogram(docs: DataFrame, h: Int = 16, rows: Int = 4,
                       threshold: Double = 0.5): DataFrame =
    lshPairs(docs, h, rows, threshold)
      .select(floor(col("jaccard") * 20.0).cast("long").as("j_band"),
        col("jaccard"))
      .groupBy("j_band")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_j"), max(col("jaccard")).as("max_j"))
      .orderBy("j_band")

  /** LSH tuning summary — the precision number an engineer reads before
    * scaling a dedup config: for the shipped (h, rows) banding, how many
    * candidate pairs did the bands surface and what fraction verified at
    * the Jaccard threshold? Too-low precision means the verify stage (the
    * expensive O(|doc|) part) burns compute on band noise — the knob is
    * more rows per band; near-1.0 precision with few candidates suggests
    * recall is being left on the table — fewer rows. One row out; both
    * counts come off the SAME candidate/verify chain the pair gates use,
    * so the tuning view can never describe a different run. Output
    * (n_docs, n_candidates, n_verified, prec). */
  def lshTuning(docs: DataFrame, h: Int = 16, rows: Int = 4,
                threshold: Double = 0.5): DataFrame = {
    val docAgg = docSignatures(docs, h).localCheckpoint()
    val nd = docAgg.agg(count(lit(1)).as("n_docs"))
    lshCandidates(docAgg, h, rows)
      .join(docAgg.as("ca"), col("a") === col("ca.doc_id"))
      .join(docAgg.as("cb"), col("b") === col("cb.doc_id"))
      .withColumn("inter",
        graft.functions.SortedInterCount.sortedInterCount(col("ca.hs"), col("cb.hs")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("ca.c") + col("cb.c") - col("inter")).cast("double"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= threshold, 1L).otherwise(0L))
          .as("n_verified"))
      .crossJoin(broadcast(nd))
      .select(col("n_docs"), col("n_candidates"), col("n_verified"),
        (col("n_verified").cast("double") / col("n_candidates").cast("double"))
          .as("prec"))
  }

  /** LSH recall against EXACT ground truth — the missing half of
    * [[lshTuning]]'s precision: of all pairs at Jaccard ≥ tNum/tDen (the
    * no-miss [[prefixJaccardPairs]] AllPairs/PPJoin answer — computable
    * exactly, which is precisely why the threshold is higher than the LSH
    * verify threshold), how many did the banding surface? The caught set
    * intersects the two ALREADY-GATED pair lists (a high-threshold exact
    * pair is in the verified LSH list iff its band collided, since its
    * Jaccard clears the verify threshold by construction), so the recall
    * number can never describe different runs than the pair gates grade.
    * One row; both sides reuse the shared signature kernel. Output
    * (n_exact, n_caught, recall). */
  def lshRecall(docs: DataFrame, h: Int = 16, rows: Int = 4,
                tNum: Int = 4, tDen: Int = 5): DataFrame = {
    // ONE shingle-kernel checkpoint feeds both sides: the h-variant table
    // is a superset of the h=0 one (hs/c identical regardless of h), so
    // the exact AllPairs side reads the same base the banded side bands
    val docAgg = docSignatures(docs, h).localCheckpoint()
    val exact = prefixJaccardPairsFrom(
        docAgg.select(col("doc_id"), col("hs"), col("c")), tNum, tDen)
      .select("a", "b").localCheckpoint()
    val lsh = lshPairsFrom(docAgg, h, rows, 0.5).select(col("a"), col("b"))
    val caught = exact.join(lsh, Seq("a", "b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(caught.agg(count(lit(1)).as("n_caught"))))
      .select(col("n_exact"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** [[lshRecall]] on a deterministic 1/`sampleMod` doc sample — the gauge
    * a 100 TB tuning loop actually re-runs after every banding change. The
    * full gauge's exact side evaluates the prefix join over the WHOLE
    * corpus, which is the right no-miss dedup algorithm but overkill for a
    * recall estimate: every ANN recall gate in the suite samples its query
    * set precisely so ground truth stays linear, and this is the same
    * treatment for the MinHash banding. Ground truth = all pairs at
    * Jaccard ≥ tNum/tDen touching the sample (md5-selected,
    * [[samplePred]], so the DuckDB twin replays membership exactly);
    * caught = those surfaced by the banded chain, whose band join and
    * O(|doc|) verify are restricted to the SAME sample (band collision is
    * symmetric in the pair, so the restriction is exact — both quadratic
    * sides shrink to the sample fraction while the linear signature/df
    * builds stay corpus-wide). The sampled estimator is
    * unbiased per pair — each true pair is kept with the same inclusion
    * rule regardless of whether the banding catches it. Output
    * (n_exact, n_caught, recall). */
  def lshRecallSampled(docs: DataFrame, h: Int = 16, rows: Int = 4,
                       tNum: Int = 4, tDen: Int = 5,
                       sampleMod: Int = 4): DataFrame = {
    val docAgg = docSignatures(docs, h).localCheckpoint()
    val exact = prefixJaccardPairsImpl(
        docAgg.select(col("doc_id"), col("hs"), col("c")), tNum, tDen,
        Some(sampleMod))
      .select("a", "b").localCheckpoint()
    // the banded side is sampled with the SAME predicate: every exact pair
    // touches the sample, so restricting the LSH pair set to sample-touching
    // pairs cannot change the caught count — and it shrinks the band join +
    // array-intersect verify (the gauge's dominant cost) to the sample
    // fraction, which is the whole point of the sampled twin
    val lsh = lshPairsFrom(docAgg, h, rows, 0.5, Some(sampleMod))
      .select(col("a"), col("b"))
    val caught = exact.join(lsh, Seq("a", "b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(caught.agg(count(lit(1)).as("n_caught"))))
      .select(col("n_exact"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** MinHash Jaccard ESTIMATE for the LSH candidate pairs: the fraction of
    * the `h` signature positions on which two documents agree — the unbiased
    * MinHash estimator of their true Jaccard. This is the verification a
    * 100 TB dedup run actually ships: the exact check ([[minhashLshPairs]])
    * re-intersects the full shingle sets per candidate (join against two
    * |doc|-sized arrays), while the estimate touches only the h-long
    * signatures already in hand — candidate-verification cost drops from
    * O(|doc|) to O(h) per pair, at the standard ±1/√h accuracy trade.
    * Output (a, b, n_agree, jaccard_est). */
  def minhashEstimates(docs: DataFrame, h: Int = 16, rows: Int = 4): DataFrame = {
    val docAgg = docSignatures(docs, h).localCheckpoint()
    lshCandidates(docAgg, h, rows)
      .join(docAgg.as("ca"), col("a") === col("ca.doc_id"))
      .join(docAgg.as("cb"), col("b") === col("cb.doc_id"))
      .select(col("a"), col("b"),
        // codegen'd positional-equality fold (r9): the interpreted
        // aggregate(zip_with(...)) HOF pair ran outside whole-stage
        // codegen on the O(h)-per-candidate verify path; an integer
        // count has no order/rounding freedom, so the swap is exact
        graft.functions.PosEqCount.posEqCount(col("ca.sig"), col("cb.sig"))
          .as("n_agree"))
      .select(col("a"), col("b"), col("n_agree"),
        (col("n_agree").cast("double") / lit(h.toDouble)).as("jaccard_est"))
      .orderBy("a", "b")
  }

  /** Shared DF-capped posting-list machinery for [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: candidate (a, b) pairs with their shingle
    * intersection count and both docs' surviving-set sizes (ca, cb). */
  private def ngramInterSizes(docs: DataFrame, dfCap: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Posting-list form: ONE exchange keyed on the shingle hash builds, per
    // shingle, the sorted doc list, and candidate pairs are generated in
    // place from each list — never via an incidence self-join (the earlier
    // form shuffled + checkpointed the 2.8M-row (sf0.1) incidence twice and
    // hash-probed it against itself; this one moves it once).
    // The incidence carries the 60-bit shingle HASH ([[docSignatures]]
    // kernel), not the raw 9-char string: the md5 work happens once,
    // partition-locally, and every exchange moves fixed 8-byte longs. DF
    // counts, intersections and jaccard values are identical to the string
    // form (the oracle keeps it) — distinct shingles keep distinct hashes at
    // any realistic corpus size (60-bit birthday bound).
    // Stop-shingle safety at scale: [[graft.functions.BoundedCollectList]]
    // saturates each posting buffer at dfCap+1 entries, so a df-10⁹ stop
    // shingle at corpus scale costs one bounded buffer, not a df-sized list
    // (and no per-key sort, unlike a row_number window). Lists that reach
    // dfCap+1 are exactly the stop shingles; dropping them is the oracle's
    // global-df filter, and any surviving list is complete (saturation can't
    // truncate below the bound).
    val sh = docSignatures(docs, h = 0)
      .select(col("doc_id"), explode(col("hs")).as("s"))
    val posts = sh
      .groupBy("s")
      .agg(graft.functions.BoundedCollectList
        .boundedCollectList(col("doc_id"), dfCap + 1).as("ds"))
      .filter(size(col("ds")) <= dfCap)
      .select("ds")
      // localCheckpoint, not cache (hygiene, see [[lshPairs]]): consumed by
      // both the pair generator and the per-doc size aggregation below.
      .localCheckpoint()
    val sizes = posts.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
    // each list is ascending and duplicate-free (one row per doc per
    // shingle), so emitting (ds(i), ds(j)) for i < j yields each unordered
    // pair exactly once per shared shingle, already oriented a < b. A narrow
    // mapPartitions over the checkpointed lists, not posexplode+slice: the
    // declarative form materialized O(L) sliced array copies per list (two
    // generate stages); this emits the same tuple stream in place.
    val pairs = posts
      .as[Array[Long]]
      .mapPartitions { it =>
        it.flatMap { ds =>
          val n = ds.length
          if (n < 2) Iterator.empty
          else Iterator.range(0, n - 1).flatMap { i =>
            val a = ds(i)
            Iterator.range(i + 1, n).map(j => (a, ds(j)))
          }
        }
      }
      .toDF("a", "b")
    val inter = pairs.groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("ca"), col("a") === col("ca.doc_id"))
      .join(sizes.as("cb"), col("b") === col("cb.doc_id"))
      .select(col("a"), col("b"), col("inter"),
        col("ca.c").as("ca"), col("cb.c").as("cb"))
  }

  /** DF-capped n-gram Jaccard near-dup pairs: inverted index over shingles
    * whose document frequency ≤ `dfCap` (stop-shingle pruning — bounds every
    * posting list, hence the pair fan-out, at any corpus size); Jaccard is
    * computed over the SAME capped shingle sets. Output (a, b, jaccard). */
  def ngramJaccardPairs(docs: DataFrame, dfCap: Int = 20,
                        threshold: Double = 0.3): DataFrame =
    ngramInterSizes(docs, dfCap)
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("ca") + col("cb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("a", "b")

  /** DF-capped n-gram CONTAINMENT pairs — the asymmetric companion of
    * [[ngramJaccardPairs]]: containment = max(inter/|A|, inter/|B|) flags a
    * document largely CONTAINED in another (quote-expansion, page-in-page
    * boilerplate, excerpt duplication) that symmetric Jaccard dilutes away
    * — the Broder resemblance/containment pair. Same posting-list
    * machinery, same integer-over-integer correctly-rounded divisions, so
    * fully hash-gated. Output (a, b, inter, containment). */
  def ngramContainmentPairs(docs: DataFrame, dfCap: Int = 20,
                            threshold: Double = 0.5): DataFrame =
    ngramInterSizes(docs, dfCap)
      .select(col("a"), col("b"), col("inter"),
        greatest(
          col("inter").cast("double") / col("ca").cast("double"),
          col("inter").cast("double") / col("cb").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy("a", "b")

  /** Exact Jaccard set-similarity join via prefix filtering — the
    * AllPairs/PPJoin candidate generation (Bayardo et al. WWW'07; Xiao et
    * al. WWW'08) over the FULL distinct 9-gram shingle sets. The third
    * similarity-join mechanism in this file, completing the trade-off
    * space: [[minhashLshPairs]] is probabilistic (bands can miss a true
    * pair), [[ngramJaccardPairs]] redefines the measure over DF-capped sets
    * (stop shingles are dropped from the sets themselves); this one returns
    * EVERY pair with true Jaccard ≥ t over the uncapped sets, exactly.
    *
    * The threshold is a RATIONAL tNum/tDen so every pruning bound is pure
    * 64-bit integer arithmetic — ⌈c·t⌉ = (c·tNum + tDen − 1) div tDen and
    * t/(1+t) = tNum/(tNum+tDen) — because a candidate filter is only
    * allowed to be wrong in the safe direction, and float rounding of
    * ceil(0.8·c) is not (one-too-high silently drops a true pair on BOTH
    * engine and oracle). Three stacked filters:
    *  1. prefix (rarest-first order by global df): J ≥ t pairs must share
    *     one of each other's first c − ⌈t·c⌉ + 1 shingles — a boilerplate
    *     shingle with df 10⁹ sorts LAST and lands in almost no prefix,
    *     which is what keeps the join bounded at corpus scale;
    *  2. length: t·|A| ≤ |B| (and symmetrically) — a pair whose sizes
    *     differ by more than t can't reach the threshold at any overlap;
    *  3. positional (PPJoin): a prefix match at positions (rnₓ, rn_y) caps
    *     the achievable overlap at 1 + min(cₓ−rnₓ, c_y−rn_y), which must
    *     reach ⌈(cₓ+c_y)·t/(1+t)⌉ — matches deep in both prefixes with
    *     short suffixes can't close the gap.
    * Measured on the dense sf0.1 corpus: 7.7M candidates naked → 92k with
    * the filters (the true answer is 256 pairs). Candidates are verified
    * with the exact intersection over the kernel's per-doc hash sets;
    * PrefixJoinSpec asserts the result equals brute force. Cost: one
    * incidence exchange for df, one window per doc, a prefix equi-join,
    * and |cand| verification rows. */
  def prefixJaccardPairs(docs: DataFrame, tNum: Int = 4, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tNum < tDen, s"threshold $tNum/$tDen outside (0,1)")
    val docAgg = docSignatures(docs, h = 0).localCheckpoint()
      .select(col("doc_id"), col("hs"), col("c"))
    prefixJaccardPairsFrom(docAgg, tNum, tDen)
  }

  /** [[prefixJaccardPairs]] over an already-materialized (doc_id, hs, c)
    * signature table — lets [[lshRecall]] feed BOTH its sides from ONE
    * shingle-kernel checkpoint instead of each building its own (the
    * kernel's md5-per-shingle pass was the query's duplicated cost). */
  private def prefixJaccardPairsFrom(docAgg: DataFrame, tNum: Int,
                                     tDen: Int): DataFrame =
    prefixJaccardPairsImpl(docAgg, tNum, tDen, sampleMod = None)

  /** Deterministic doc sample predicate for the sampled recall gauge —
    * md5-derived ([[graft.functions.Hashes.h60]]) so the DuckDB twin
    * replays membership exactly and the draw is independent of doc_id
    * assignment order. */
  private[graft] def samplePred(mod: Int): org.apache.spark.sql.Column =
    pmod(Hashes.h60(concat(lit("lsr:"), col("doc_id").cast("string"))),
      lit(mod.toLong)) === 0L

  /** [[prefixJaccardPairsFrom]], optionally restricted to pairs touching a
    * deterministic 1/mod doc sample: the QUERY side of the self-join is
    * filtered to sampled docs pre-join (the other side stays full, and the
    * orientation flips to `!=` + least/greatest canonicalization so a pair
    * is found through whichever endpoint is sampled). The prefix filter's
    * no-miss guarantee is symmetric in the pair — a qualifying pair shares
    * a shingle inside BOTH prefixes under the one corpus-global (df, h)
    * order — so the sampled output is EXACTLY the full pair set filtered
    * to `a∈S ∨ b∈S`. The df/prefix build stays corpus-wide (it must: the
    * prefix order is global), but that part is linear; the quadratic-ish
    * candidate join and O(|doc|) verify shrink to the sample fraction —
    * the shape a 100 TB tuning loop re-runs. */
  private def prefixJaccardPairsImpl(docAgg: DataFrame, tNum: Int,
                                     tDen: Int, sampleMod: Option[Int]): DataFrame = {
    val inc = docAgg.select(col("doc_id"), col("c"), explode(col("hs")).as("h"))
    val dfs = inc.groupBy("h").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("h").asc)
    // df is corpus-global (the prefix order must be), but the df-join +
    // per-doc window pipeline is per-DOC work: rn ranks a doc's own
    // shingles, so dropping OTHER docs up front cannot change it — the
    // sampled x-side builds its prefix table from the filtered incidence
    // and pays 1/mod of the join/window/sort, not just of the join probe
    def mkPref(src: DataFrame): DataFrame = src.join(dfs, "h")
      .withColumn("rn", row_number().over(w).cast("long"))
      // ⌈c·t⌉ in exact integers; prefix keeps rn ≤ c − ⌈c·t⌉ + 1
      .filter(col("rn") <= col("c") - expr(s"(c * $tNum + ${tDen - 1}) div $tDen") + 1L)
      .select(col("doc_id"), col("h"), col("c"), col("rn"))
    val pref = mkPref(inc)
    // Candidate self-join on the prefix incidence with the length and
    // positional (PPJoin) filters fused into the join condition as pure
    // integer compares. The self-join DOES plan its two sides as full
    // copies of the upstream pipeline, but that pipeline is all codegen'd
    // narrow work over ≤|inc| rows — measured min-of-5 at sf0.1: 3.1 s vs
    // 7.9 s for a per-shingle posting-list emit (the object aggregation +
    // typed-encoder boundary cost more than the duplicated codegen) and vs
    // 16 s for an eager pref checkpoint (materialization beat AQE's
    // broadcast planning). Matched-pair volume is self-limiting: a doc
    // keeps a shingle only if it falls in its rarest (1−t) fraction, so
    // globally-hot shingles join almost nothing (max 29 docs share a
    // prefix shingle on the dense sf0.1 corpus; 142k matches / 92k
    // candidates for a 256-pair answer).
    val need = tNum + tDen // α ≥ ⌈(cx+cy)·tNum/need⌉ ⟺ need·α ≥ tNum·(cx+cy)
    val symFilters =
      col("y.c") * tDen >= col("x.c") * tNum &&
        col("x.c") * tDen >= col("y.c") * tNum &&
        ((lit(1L) + least(col("x.c") - col("x.rn"), col("y.c") - col("y.rn"))) * need
          >= (col("x.c") + col("y.c")) * tNum)
    val cand = sampleMod match {
      case None =>
        pref.as("x").join(pref.as("y"),
            col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id") &&
              symFilters)
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
      case Some(mod) =>
        // query side filtered to the sample pre-join (whole docs, so the
        // filter sits below the window too); `!=` + canonicalize so a pair
        // surfaces through whichever endpoint is sampled
        mkPref(inc.filter(samplePred(mod))).as("x").join(pref.as("y"),
            col("x.h") === col("y.h") && col("x.doc_id") =!= col("y.doc_id") &&
              symFilters)
          .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
            greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
          .distinct()
    }
    cand
      .join(docAgg.as("ca"), col("a") === col("ca.doc_id"))
      .join(docAgg.as("cb"), col("b") === col("cb.doc_id"))
      .withColumn("inter",
        graft.functions.SortedInterCount.sortedInterCount(col("ca.hs"), col("cb.hs")))
      // threshold test in exact integers too; the reported double divides
      // identically on both engines
      .filter(col("inter") * tDen >= (col("ca.c") + col("cb.c") - col("inter")) * tNum)
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("ca.c") + col("cb.c") - col("inter")).cast("double")).as("jaccard"))
      .orderBy("a", "b")
  }

  /** Connected components over an undirected pair list — the cluster-merge
    * step after near-dup pair generation (two docs 0.4-similar to a common
    * third belong to one dedup group even if not directly paired).
    *
    * Min-label propagation with pointer jumping, to fixpoint: every round
    * each vertex first adopts the smallest label among itself and its
    * neighbors (one shuffled join + aggregation over the EDGE list — never
    * a transitive-closure materialization), then SHORTCUTS by adopting its
    * label's own label (`l(u) := l(l(u))`, one more equi-join). The jump is
    * the classic PRAM shortcut: labels always point to a smaller vertex of
    * the same component, so jumping halves chain depth and the round count
    * drops from O(component diameter) to O(log diameter) — the difference
    * between "any near-dup cluster" and "a 100k-long boilerplate chain a
    * 100 TB crawl will eventually contain" (the chain would need 100k
    * neighbor-only rounds, but ~20 jumped ones; ScaleProof's
    * `cc_chain_stress` drives exactly that shape). At the joint fixpoint
    * the neighbor step forces equal labels across every edge and
    * `l(x) ≤ x` forces the shared label to be the component minimum, so
    * convergence implies exactness. The driver only ever sees the single
    * convergence counter. Output: (doc_id, cluster_id = min doc_id in the
    * component), for every doc incident to a pair. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 100,
                          driverThreshold: Long = 4_000_000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col("a").cast("long"), col("b").cast("long")).cache()
    // Size-gated strategy (the same explicit switch the reference applies to
    // its exact-outlier path): a near-dup pair graph is a vanishing fraction
    // of the corpus — when it fits the driver comfortably, a local
    // union-find in one collect beats rounds of distributed joins whose
    // per-round job overhead dominates tiny data. Past the threshold, the
    // distributed min-label loop below takes over. The gate is a single
    // limit(threshold+1) job: if fewer rows arrive, they ARE the whole edge
    // list (no separate count pass over the upstream pair pipeline).
    val lim = math.min(driverThreshold, Int.MaxValue - 1L).toInt + 1
    val head = p.as[(Long, Long)].limit(lim).collect()
    if (head.length <= driverThreshold) {
      p.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      // iterative find: walk to the root, then compress in a second pass
      // (recursion would overflow on chain-shaped graphs near the threshold)
      def find(x0: Long): Long = {
        parent.getOrElseUpdate(x0, x0)
        var r = x0
        while (parent(r) != r) r = parent(r)
        var x = x0
        while (parent(x) != r) { val nx = parent(x); parent(x) = r; x = nx }
        r
      }
      head.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.map(v => (v, find(v))).toDF("doc_id", "cluster_id")
        .orderBy("doc_id")
    } else {
      // hash-partitioned ON THE PROBE KEY before caching: every round's
      // neighbor-min join requires distribution by v, so the cached
      // partitioning satisfies it and only the (smaller) label side moves —
      // the "reuse one partitioning across stages" rule applied to the one
      // relation every iteration rescans
      val edges = p.select(col("a").as("u"), col("b").as("v"))
        .unionByName(p.select(col("b").as("u"), col("a").as("v")))
        .repartition(col("v"))
        .cache()
      var labels = edges.select(col("u").as("id"))
        .distinct()
        .select(col("id"), col("id").as("lbl"))
        .localCheckpoint()
      // Convergence gauge: labels only ever DECREASE, so the round changed
      // something iff the exact label total dropped — one tiny aggregation
      // instead of a full self-join diff per round. decimal(38,0): 4M+
      // labels of ~1e18 ids overflow an int64 sum, and a wrapped total
      // could alias a real change to "no change" and exit early with wrong
      // labels.
      def labelTotal(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
      var prevTotal = labelTotal(labels)
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        val neighborMin = edges
          .join(labels, edges("v") === labels("id"))
          .groupBy(col("u").as("id")).agg(min(col("lbl")).as("nlbl"))
        val hopped = labels.join(neighborMin, "id")
          .select(col("id"), least(col("lbl"), col("nlbl")).as("lbl"))
        // pointer jump: adopt the label's own label. Left join + coalesce:
        // a label is always a vertex id present in `hopped` (it entered via
        // some edge), but the outer form keeps a root's self-label total
        // rather than relying on that invariant for row retention.
        // localCheckpoint (eager) truncates the per-round lineage — without
        // it each iteration's plan nests the previous one and analysis time
        // grows quadratically with the round count
        val next = hopped.as("x")
          .join(hopped.select(col("id").as("jid"), col("lbl").as("jlbl")).as("y"),
            col("x.lbl") === col("y.jid"), "left")
          .select(col("x.id").as("id"),
            coalesce(col("y.jlbl"), col("x.lbl")).as("lbl"))
          .localCheckpoint()
        val nextTotal = labelTotal(next)
        converged = nextTotal.compareTo(prevTotal) == 0
        prevTotal = nextTotal
        labels.unpersist()
        labels = next
        round += 1
      }
      edges.unpersist()
      p.unpersist()
      // a silent exit here would hand the caller plausible but WRONG labels
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents: not converged after $maxRounds rounds " +
            "(component diameter exceeds maxRounds) — raise maxRounds")
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        .orderBy("doc_id")
    }
  }

  /** Driver-contract instance: clusters over the MinHash-LSH verified pairs
    * (the unsorted pair stream — cluster merge needs no presentation sort). */
  def nearDupClusters(docs: DataFrame): DataFrame =
    connectedComponents(lshPairs(docs, 16, 4, 0.5))

  /** Near-dup dedup survivors: every document except the non-representative
    * members of each near-dup cluster (representative = the cluster label =
    * min doc_id in the component). Composes the LSH pair stream, the cluster
    * merge and a left_anti join — the full "dedup a corpus" pipeline as one
    * call; the anti join's right side is only the clustered docs (tiny next
    * to the corpus), so AQE broadcasts it at any corpus size. */
  def nearDupSurvivors(docs: DataFrame, h: Int = 16, rows: Int = 4,
                       threshold: Double = 0.5): DataFrame =
    docs.join(droppedMembers(docs, h, rows, threshold), Seq("doc_id"), "left_anti")
      .select(col("doc_id")).orderBy("doc_id")

  /** Non-representative near-dup cluster members — the docs a dedup run
    * DROPS. The one copy of the drop rule, shared by [[nearDupSurvivors]]
    * and [[dedupRetention]] so the retention view can never summarize a
    * different dedup run than the survivor list it claims to describe. */
  private def droppedMembers(docs: DataFrame, h: Int, rows: Int,
                             threshold: Double): DataFrame =
    connectedComponents(lshPairs(docs, h, rows, threshold))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))

  /** Best-of-cluster survivor selection — the keep-the-BEST policy real
    * dedup runs ship (C4/RefinedWeb keep a quality-chosen representative,
    * not the lowest id): per near-dup cluster, the member with the highest
    * [[TextAnalysis.qualityScore]] survives (tie → min doc_id, a total
    * order); unclustered docs survive as their own representative. Same
    * cluster merge as [[nearDupSurvivors]] (min-id labels stay the CLUSTER
    * KEY — only the SELECTION rule changes), so the oracle composes the
    * shared recursive-closure CTEs with the shared quality CTEs and can
    * never grade a divergent clustering. Scale: the per-cluster window
    * runs on clustered docs only (tiny next to the corpus); the singleton
    * side is one anti-join + the quality projection. Output
    * (doc_id, cluster_id, quality) of survivors. */
  def bestOfCluster(docs: DataFrame, h: Int = 16, rows: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    val labels = connectedComponents(lshPairs(docs, h, rows, threshold))
    val qual = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val best = labels.join(qual, "doc_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
          .orderBy(col("quality").desc, col("doc_id").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality"))
    val singles = docs.select("doc_id")
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(qual, "doc_id")
      .select(col("doc_id"), col("doc_id").as("cluster_id"), col("quality"))
    best.unionByName(singles).orderBy("doc_id")
  }

  /** Per-source dedup retention — the number the mixture designer reads off
    * a dedup run: how much of each source survives near-dup removal. A
    * boilerplate-heavy crawl retains far less than a curated source, and
    * mixture weights computed on PRE-dedup counts silently over-weight it;
    * this view closes that loop. Composes the same cluster merge as
    * [[nearDupSurvivors]]: dropped docs = non-representative cluster
    * members (tiny next to the corpus, so the membership join broadcasts at
    * any scale), then one aggregation over |docs| rows into |sources|
    * cells. retention = survivors/docs divides the same small integers in
    * both engines — bit-identical. Output (source, n_docs, n_survivors,
    * retention). */
  def dedupRetention(docs: DataFrame, h: Int = 16, rows: Int = 4,
                     threshold: Double = 0.5): DataFrame = {
    val dropped = droppedMembers(docs, h, rows, threshold)
      .withColumn("is_drop", lit(1L))
    docs.select(col("doc_id"), col("source"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_drop"), lit(0L))).as("n_dropped"))
      .select(col("source"), col("n_docs"),
        (col("n_docs") - col("n_dropped")).as("n_survivors"),
        ((col("n_docs") - col("n_dropped")).cast("double") /
          col("n_docs").cast("double")).as("retention"))
      .orderBy("source")
  }

  /** Dedup ROI in TOKENS — the number the training-cost ledger reads,
    * where [[dedupRetention]] counts documents: per source, token mass
    * before dedup, the mass carried by dropped (non-representative)
    * cluster members, the surviving mass, and the savings fraction. Same
    * shared cluster chain as the other three dedup-cluster gates (this
    * view can never describe a different dedup run), one extra narrow
    * token-count projection joined on doc_id. Output (source,
    * tokens_before, tokens_dropped, tokens_after, savings). */
  def dedupTokenSavings(docs: DataFrame, h: Int = 16, rows: Int = 4,
                        threshold: Double = 0.5): DataFrame = {
    val dropped = droppedMembers(docs, h, rows, threshold)
      .withColumn("is_drop", lit(1L))
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(sum(col("nt")).as("tokens_before"),
        sum(when(col("is_drop").isNotNull, col("nt")).otherwise(0L))
          .as("tokens_dropped"))
      .select(col("source"), col("tokens_before"), col("tokens_dropped"),
        (col("tokens_before") - col("tokens_dropped")).as("tokens_after"),
        (col("tokens_dropped").cast("double") /
          col("tokens_before").cast("double")).as("savings"))
      .orderBy("source")
  }

  /** 32-bit SimHash over whitespace tokens (with multiplicity): per bit b,
    * sign-sum of token-hash bits; simhash bit b set iff the sum is positive.
    *
    * Per-document kernel, same rationale as [[docSignatures]]: a doc's tokens
    * live in its own row, so the declarative form (explode tokens, 32
    * parallel sign-sums, re-aggregate) shuffles a |docs|·|tokens| incidence
    * to rebuild per-doc state this narrow pass computes in place. Token split
    * is `split(" ", -1)` — identical to Spark's `split(text, " ")` (regex,
    * trailing empties kept); hash is [[Hashes.h32Jvm]] = the h32 Column twin;
    * null texts emit nothing (explode-of-null semantics). */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          if (t == null) Iterator.empty
          else {
            val cnt = new Array[Int](32)
            val toks = t.split(" ", -1)
            var ti = 0
            while (ti < toks.length) {
              val th = Hashes.h32Jvm(md, toks(ti))
              var b = 0
              while (b < 32) {
                if (((th >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
                b += 1
              }
              ti += 1
            }
            var sh = 0L
            var b = 0
            while (b < 32) { if (cnt(b) > 0) sh |= 1L << b; b += 1 }
            Iterator.single((id, sh))
          }
        }
      }
      .toDF("doc_id", "simhash")
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxHamming (< 8).
    *
    * Candidate generation is an EXACT band trick, not a heuristic: the 32-bit
    * simhash splits into 8 bands of 4 bits; ≤ 7 flipped bits can touch at most
    * 7 bands, so every qualifying pair agrees on at least one whole band and
    * is found by the (band_id, band_value) equi-join — a shuffled hash join,
    * never a cartesian. The oracle can therefore use the naive quadratic SQL:
    * both produce identical pair sets. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 2): DataFrame = {
    // maxHamming+1 bands: ≤ maxHamming flips touch at most maxHamming bands,
    // so one band is always intact. Fewer, wider bands = exponentially fewer
    // spurious bucket collisions (width 11 → 2048 buckets vs width 4 → 16).
    val nBands = maxHamming + 1
    val width = (32 + nBands - 1) / nBands
    val mask = (1 << width) - 1
    // localCheckpoint, not cache — multiply scanned by the returned plan
    // (bands + both verify joins); see the hygiene note in [[lshPairs]].
    val sh = simhash(docs).localCheckpoint()
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(typedlit((0 until nBands).toList)).as("bd"))
      .withColumn("bv", expr(s"shiftright(simhash, bd * $width) & $mask"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bd") === col("y.bd") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cand
      .join(sh.as("sa"), col("a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        expr("bit_count(sa.simhash ^ sb.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("a", "b")
  }

  /** Sorted-neighborhood near-dup candidates (Hernández-Stolfo SNM): sort the
    * corpus by a normalized prefix key, slide a window of `w` positions over
    * the sort order, and verify every in-window pair by edit distance on a
    * bounded normalized prefix. The classic record-linkage method the MinHash
    * family doesn't subsume — it catches short edits near the document head
    * that shingle Jaccard dilutes away, at linear candidate volume (≤ w−1
    * pairs per row, data-independent).
    *
    * Scale shape: SNM needs a TOTAL order, which naively is one global
    * window. Here the rank is composed in two distributed levels — a
    * `row_number` per 4-char-prefix bucket (bucket = prefix of the sort key,
    * so bucket order ∘ in-bucket order ≡ the global (key, doc_id) order) plus
    * a cumulative bucket-count offset computed by a window over the
    * distinct-bucket table (|buckets| rows — driver-scale, same convention as
    * the grid-cell and top-k windows). The windowed pairing is then an
    * equi-join on rank-block ⌊(rank−1)/w⌋ probing blocks {k, k+1}, never a
    * cartesian; a pair is matched exactly once because ranks are unique and
    * the probe covers the build block once. A corpus whose texts share one
    * 4-char prefix degenerates to a single window partition — widen the
    * bucket prefix with the sort-key length if the head distribution is that
    * skewed.
    *
    * Output: (a, b, lev) for rank-adjacent pairs (distance < `w`) with
    * levenshtein(prefix_a, prefix_b) ≤ `maxLev`, ordered by (a, b). */
  def sortedNeighborPairs(docs: DataFrame, w: Int = 8, keyLen: Int = 40,
                          normLen: Int = 64, maxLev: Int = 12): DataFrame = {
    val d = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"),
        lower(substring(col("text"), 1, keyLen)).as("key"),
        lower(substring(col("text"), 1, normLen)).as("norm"))
      .withColumn("bucket", substring(col("key"), 1, 4))
    val withRn = d.withColumn("rn",
      row_number().over(Window.partitionBy("bucket").orderBy("key", "doc_id"))
        .cast("long"))
    val offsets = withRn.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("bucket", "off")
    // one row per doc, scanned by both join sides — pin it (hygiene note in
    // [[lshPairs]])
    val ranked = withRn.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("norm"), (col("off") + col("rn")).as("rank"))
      .localCheckpoint()
    val probes = ranked
      .select(col("doc_id").as("a"), col("norm").as("na"), col("rank").as("ra"),
        explode(typedlit(Seq(0L, 1L))).as("o"))
      .select(col("a"), col("na"), col("ra"),
        (expr(s"(ra - 1) div ${w}L") + col("o")).as("pk"))
    val build = ranked.select(col("doc_id").as("b"), col("norm").as("nb"),
      col("rank").as("rb"), expr(s"(rank - 1) div ${w}L").as("bk"))
    probes
      .join(build.hint("shuffle_hash"),
        col("pk") === col("bk") && col("rb") > col("ra") &&
          col("rb") - col("ra") <= lit((w - 1).toLong))
      .select(col("a"), col("b"), col("na"), col("nb"))
      // spread the DP: AQE coalesces the few-MB block join to ~1 partition,
      // which serialized the verify (jstack r10: levenshteinDistance was
      // the top executor frame at ~1 effective core); the editDistancePairs
      // stage-2 treatment moves it onto all cores
      .repartition(col("a"), col("b"))
      // threshold DP (early-exit at maxLev, −1 when exceeded): identical
      // lev values for every kept pair, O(maxLev·len) band instead of the
      // O(len²) matrix for the dominant rejected candidates
      .withColumn("lev",
        levenshtein(col("na"), col("nb"), maxLev).cast("long"))
      .filter(col("lev") >= 0L)
      .select(col("a"), col("b"), col("lev"))
      .orderBy("a", "b")
  }

  /** Short-text edit-distance near-dup pairs: all pairs of documents of at
    * most `maxChars` characters whose full lowercased texts are within
    * `maxDist` edits. The third near-dup verifier alongside Jaccard (set
    * overlap) and SimHash (bit distance) — edit distance is the only one
    * that respects token ORDER, so it separates true edits from shuffles.
    *
    * Scale shape: levenshtein(a, b) ≤ k forces |len(a) − len(b)| ≤ k, so
    * banding length into width-`maxDist` buckets makes a pair's bands differ
    * by at most 1 — probing {band−1, band, band+1} turns the length predicate
    * into an equi-join (the Δ-bucket trick of [[IntervalJoin]]; each
    * unordered pair matched once via `a < b`, the probe hitting the build
    * band exactly once). Candidates are bounded by band density, never n².
    *
    * The verify stage is staged from cheap to exact — the r6 lesson, where
    * full-matrix DP on every band candidate cost 102 s to keep 81 pairs
    * (a 2,852:1 verify-to-result ratio) and ran on ≤|bands| cores:
    *
    *  1. char-histogram lower bound: one edit moves ≤2 units of character
    *     mass, so lev ≥ ⌈L1(hist(a), hist(b))/2⌉ — a 64-lane integer fold
    *     per pair (bucketing chars mod 64 only shrinks L1, so the bound
    *     stays admissible) prunes the bulk of candidates before any DP;
    *  2. repartition the survivors off the band key — the length-band join
    *     key has only ~|maxChars/maxDist| distinct values, so without this
    *     the DP stage's parallelism is capped at |bands|, not |cores|;
    *  3. threshold DP: `levenshtein(a, b, maxDist)` early-exits at the
    *     threshold (an O(maxDist·len) band instead of the O(len²) matrix,
    *     −1 when exceeded), and only survivors of (1) pay it.
    *
    * Per-pair verify cost is bounded by `maxDist`·`maxChars` cells. The
    * `maxChars` gate is the honest contract: quadratic-in-length DP belongs
    * to short text (titles, headers, queries) — route long docs to the
    * shingle family.
    *
    * Output: (a, b, lev), ordered by (a, b). */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 16,
                        maxChars: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // 64-bucket char histogram computed once per DOC inside the same
    // narrow kernel pass that lowercases (r10: the previous
    // aggregate(split(t,''), transform(...)) column form allocated an
    // interpreted 64-lane array copy PER CHARACTER on a near-serial scan
    // — ~5 CPU-s and the whole query's wall at sf0.1; the JVM loop is a
    // plain counter bump per codepoint). Bucketing codepoints mod 64
    // only shrinks the pair-stage L1, so the lev ≥ L1/2 bound stays
    // admissible and the final (a, b, lev) set is bit-identical — the
    // histogram exists only to prune, the oracle never sees it.
    val d = docs
      .filter(col("text").isNotNull && length(col("text")) <= maxChars)
      .select(col("doc_id").cast("long").as("doc_id"),
        lower(col("text")).as("t"),
        length(col("text")).cast("long").as("len"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        it.map { case (id, t, len) =>
          val hist = new Array[Long](64)
          var i = 0
          while (i < t.length) {
            val cp = t.codePointAt(i)
            hist(cp % 64) += 1L
            i += Character.charCount(cp)
          }
          (id, t, len, len / maxDist, hist)
        }
      }
      .toDF("doc_id", "t", "len", "band", "hist")
      .localCheckpoint()
    val probes = d
      .select(col("doc_id").as("a"), col("t").as("ta"), col("len").as("la"),
        col("hist").as("ha"), col("band"),
        explode(typedlit(Seq(-1L, 0L, 1L))).as("o"))
      .select(col("a"), col("ta"), col("la"), col("ha"),
        (col("band") + col("o")).as("pk"))
    val build = d.select(col("doc_id").as("b"), col("t").as("tb"),
      col("len").as("lb"), col("hist").as("hb"), col("band").as("bk"))
    probes
      .join(build.hint("shuffle_hash"),
        col("pk") === col("bk") && col("a") < col("b") &&
          abs(col("la") - col("lb")) <= lit(maxDist.toLong))
      // stage 1: admissible histogram bound — pairs it rejects never pay
      // DP; the codegen'd 64-lane L1 fold replaces the interpreted
      // zip_with HOF on the per-candidate path (graft.functions.L1Dist)
      .filter(graft.functions.L1Dist.l1Dist(col("ha"), col("hb")) <=
        lit((2L * maxDist)))
      .select(col("a"), col("b"), col("ta"), col("tb"))
      // stage 2: spread the DP over all cores, not |bands| join partitions
      .repartition(col("a"), col("b"))
      // stage 3: banded early-exit DP; −1 encodes "exceeded maxDist"
      .withColumn("lev",
        levenshtein(col("ta"), col("tb"), maxDist).cast("long"))
      .filter(col("lev") >= 0L)
      .select(col("a"), col("b"), col("lev"))
      .orderBy("a", "b")
  }
}
