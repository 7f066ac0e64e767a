package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashes

/** Text-analysis operators for a training-data pipeline (north-star extension,
  * SURVEY.md §7.1 M7): tokenization, token counting, language ID, quality
  * scoring, document fingerprinting. Everything is built-in column algebra
  * (codegen'd, no UDFs) and has a DuckDB oracle twin; all shuffles are
  * per-document aggregations keyed by doc_id, so the operators scale linearly
  * and partition-locally at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens with multiplicity: (doc_id, tok). The testdata is
    * single-space separated; for general corpora swap the delimiter for a
    * regex split at the source boundary. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))

  /** Distinct character k-gram shingles: (doc_id, s). The basis for Jaccard /
    * MinHash dedup and fingerprinting.
    *
    * Declarative form — dedup stays PARTITION-LOCAL (`array_distinct` inside
    * the row before explode): a document's shingles all live in its own row,
    * so a global `.distinct()` — a full shuffle of the |doc|·|len| incidence
    * table — would do the same work with an extra wide stage. The hashed
    * analogue ([[Dedup.docSignatures]]) owns the only imperative shingle
    * loop in the codebase; this column form is its independent cross-check
    * (HashesSpec) and the string-level API. */
  def charShingles(docs: DataFrame, k: Int = 9): DataFrame =
    docs.select(col("doc_id").cast("long"), col("text"))
      .filter(col("text").isNotNull && length(col("text")) >= k)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), length(col("text")) - (k - 1)),
            i => col("text").substr(i, lit(k))))).as("s"))

  /** Repetition metrics per document (the Gopher-style repetition filters a
    * training-data pipeline applies before dedup): distinct-token ratio and
    * the fraction of bigram occurrences taken by the single most frequent
    * bigram. Docs with fewer than 2 tokens carry no bigram and are dropped.
    * Both ratios are single IEEE divisions of exact integer counts, so the
    * doubles are bit-portable; everything partial-aggregates map-side. */
  def repetition(docs: DataFrame): DataFrame = {
    val arr = docs
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 2)
    val tokStats = arr.select(col("doc_id"), explode(col("arr")).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_distinct"))
    val bgStats = arr
      .select(col("doc_id"), col("arr"),
        explode(sequence(lit(1), size(col("arr")) - 1)).as("i"))
      .select(col("doc_id"),
        concat(element_at(col("arr"), col("i")), lit(" "),
          element_at(col("arr"), col("i") + 1)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram"))
    tokStats.join(bgStats, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double")).as("distinct_ratio"),
        (col("top_bigram").cast("double") / col("n_bigrams").cast("double")).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Overlapping token-window chunking — the splitter that turns documents
    * into training/retrieval sequences: windows of `width` tokens advancing
    * by `stride` (so `width − stride` tokens of overlap carry context
    * across boundaries). Chunk count is exact integer arithmetic,
    * ⌈max(n − overlap, 1) / stride⌉ — short docs yield one (short) chunk,
    * and the final partial window is kept (training data wants the tail,
    * not a silent drop). Output (doc_id, chunk_no, n_chunk_tokens,
    * chunk_text), fully hash-gated since slicing and joining are
    * engine-exact string ops.
    *
    * Scale shape: one narrow codegen'd pass — split, a sequence explode
    * bounded by the chunk count, and per-row array slices; nothing
    * shuffles, fan-out is output-proportional. Null texts emit nothing
    * (like every shingle/token operator here — without the filter,
    * size(null) = -1 would fabricate a (doc_id, 0, -1, "") row that no
    * oracle reproduces). */
  def chunkIndex(docs: DataFrame, width: Int = 40, stride: Int = 30): DataFrame = {
    val overlap = width - stride
    require(stride > 0 && overlap >= 0, s"need 0 < stride <= width")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        expr(s"(greatest(n_toks - $overlap, 1L) + ${stride - 1}) div $stride"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_no"))
      .withColumn("win",
        slice(col("toks"), (col("chunk_no") * stride + 1).cast("int"), lit(width)))
      .select(col("doc_id"), col("chunk_no"),
        size(col("win")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("win")).as("chunk_text"))
      .orderBy("doc_id", "chunk_no")
  }

  /** Duplicated token-window spans across the corpus — the window form of
    * exact-substring training-data dedup (Lee et al. '22: repeated SPANS
    * are memorization hot spots even when whole documents differ; cf.
    * C4's line-level dedup). Every `width`-token window at `stride` tokens
    * (full windows only — docs shorter than `width` carry none) is keyed by
    * its text; a window seen in ≥2 DISTINCT docs marks all its occurrences.
    * Output per doc: (doc_id, n_windows, n_dup, dup_frac) with dup_frac one
    * IEEE division of exact counts.
    *
    * Scale shape: the window incidence is |docs|·(tokens/stride) rows; the
    * df aggregation holds one row per DISTINCT window (map-side partials do
    * the heavy lifting) and the mark join is a plain equi-join back on the
    * window key. At 100 TB the key would be the 64-bit content hash (the
    * [[Dedup]] h60 family) instead of the window string — same plan, ~10x
    * lighter exchange; the string key here keeps the oracle exact. */
  def dupSpans(docs: DataFrame, width: Int = 4, stride: Int = 2): DataFrame = {
    require(width > 0 && stride > 0, "need positive width and stride")
    val wins = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .filter(col("n_toks") >= width)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          expr(s"(n_toks - $width) div $stride"))).as("w"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"),
          (col("w") * stride + 1).cast("int"), lit(width))).as("win"))
    val df = wins.groupBy("win")
      .agg(count_distinct(col("doc_id")).as("ndocs"))
    wins.join(df, "win")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_windows").cast("double"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Top duplicated token windows — the WHAT of boilerplate: where
    * [[dupSpans]] scores each doc by how much of it is duplicated, this
    * names the most-repeated spans themselves (license headers, nav bars,
    * template chrome — the strings a cleaning rule would actually target).
    * Same window incidence as dupSpans (shared derivation, two gated
    * consumers), then one hash aggregation per distinct window and a
    * TakeOrderedAndProject top-k under the total order (occurrences desc,
    * window asc) — the global frequency order never materializes past k
    * rows. Windows must appear in ≥`minDocs` DISTINCT docs (default 2 —
    * within-doc repetition is [[repetition]]'s signal, not boilerplate;
    * minDocs=1 exists for the ScaleProof closed form, where replication
    * promotes single-doc windows across the default threshold). Output
    * (win, n_occ, n_docs). */
  def topSpans(docs: DataFrame, width: Int = 4, stride: Int = 2,
               k: Int = 20, minDocs: Int = 2): DataFrame = {
    require(width > 0 && stride > 0 && k > 0 && minDocs > 0,
      "need positive parameters")
    val wins = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .filter(col("n_toks") >= width)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          expr(s"(n_toks - $width) div $stride"))).as("w"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"),
          (col("w") * stride + 1).cast("int"), lit(width))).as("win"))
    wins.groupBy("win")
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_occ").desc, col("win").asc)
      .limit(k)
  }

  /** Span-level dedup TRANSFORM — the C4-style cleaner that [[dupSpans]]
    * only detects: every token covered by a corpus-frequent window (the
    * same width/stride incidence, hot = seen in ≥ `minDocs` DISTINCT
    * docs) is REMOVED from its document, and the cleaned text survives
    * with original token order and spacing. This closes the
    * detect→execute loop the way the compaction executor closed the
    * planner's (plan → write): `q_dup_spans` says how much of each doc is
    * boilerplate, this produces the corpus with the boilerplate stripped.
    *
    * Shape: the window incidence and the hot-window df aggregation are
    * exactly [[dupSpans]]'s (one |docs|·(tokens/stride) exchange + one
    * per-distinct-window aggregate); hot window STARTS then group back to
    * one bounded per-doc list (≤ n_toks/stride entries — the same in-row
    * bound as the token array itself), and a mapPartitions kernel marks
    * the covered positions and reassembles the survivors in one narrow
    * pass — no per-token rows, no window re-scan. The cleaned text is
    * emitted as its md5 fingerprint ([[graft.functions.Hashes.h60Jvm]],
    * bit-equal to the SQL twin) so the gate proves CONTENT and token
    * ORDER of every cleaned doc while the output stays fixed-width.
    * Output (doc_id, n_toks, n_removed, clean_fp). */
  def lineDedup(docs: DataFrame, width: Int = 4, stride: Int = 2,
                minDocs: Int = 2): DataFrame = {
    require(width > 0 && stride > 0 && minDocs > 1,
      "need positive width/stride and minDocs >= 2")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), split(col("text"), " ").as("toks"))
    val wins = base
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .filter(col("n_toks") >= width)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          expr(s"(n_toks - $width) div $stride"))).as("w"))
      .select(col("doc_id"), col("w"),
        concat_ws(" ", slice(col("toks"),
          (col("w") * stride + 1).cast("int"), lit(width))).as("win"))
    val hot = wins.groupBy("win")
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("win")
    val hotStarts = wins.join(hot, "win")
      .groupBy("doc_id").agg(collect_list(col("w")).as("ws"))
    base.join(hotStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("ws"), array().cast("array<long>")).as("ws"))
      .as[(Long, Seq[String], Seq[Long])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, toks, ws) =>
          val n = toks.length
          val covered = new Array[Boolean](n)
          ws.foreach { w =>
            var p = (w * stride).toInt
            val end = math.min(n, p + width)
            while (p < end) { covered(p) = true; p += 1 }
          }
          val sb = new java.lang.StringBuilder
          var kept = 0L
          var i = 0
          while (i < n) {
            if (!covered(i)) {
              if (kept > 0) sb.append(' ')
              sb.append(toks(i))
              kept += 1
            }
            i += 1
          }
          (id, n.toLong, n - kept, Hashes.h60Jvm(md, sb.toString))
        }
      }
      .toDF("doc_id", "n_toks", "n_removed", "clean_fp")
      .orderBy("doc_id")
  }

  /** EXACT-SUBSTRING dedup (Lee et al. '22, "Deduplicating Training Data
    * Makes Language Models Better"): every token inside a VERBATIM
    * cross-doc repeat of ≥ `minLen` tokens is removed — the
    * variable-length guarantee [[lineDedup]]'s fixed width-4/stride-2
    * grid approximates (a shared run can straddle two grid windows
    * without ever equalling one; Round10Spec pins exactly that case).
    *
    * The published method builds a corpus suffix array and scans sorted
    * suffixes for long shared prefixes — inherently single-machine. The
    * distributed equivalence this operator rests on: a position is inside
    * some cross-doc repeated substring of length ≥ minLen IFF it is
    * covered by a STRIDE-1 minLen-token gram that occurs in ≥ 2 distinct
    * docs (⇐ a repeat of length L ≥ minLen contributes its L−minLen+1
    * grams, whose coverage union is exactly its L positions; ⇒ a hot
    * gram IS such a repeat). So sorted-suffix neighborhoods reduce to one
    * gram-key aggregation — the [[dupSpans]] shape at stride 1, with the
    * gram keyed by its 60-bit hash ([[graft.functions.Hashes]]) so the
    * shuffle carries int64s, not minLen-token strings (at 100 TB the
    * gram table is corpus-token-linear and the df aggregation map-side
    * combines; the per-doc start list is bounded by the token count —
    * the same in-row bound as the token array itself).
    *
    * Output (doc_id, n_toks, n_removed, max_span, clean_fp): max_span is
    * the longest covered run (the variable-length evidence — ≥ minLen
    * whenever anything matched), clean_fp the md5-h60 of the survivor
    * text, proving CONTENT and token ORDER of every cleaned doc.
    * `minLen` defaults to 4 at gate scale; the published setting for a
    * real crawl corpus is ~50. */
  def substringDedup(docs: DataFrame, minLen: Int = 4): DataFrame = {
    require(minLen > 0, "need positive minLen")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), split(col("text"), " ").as("toks"))
    val grams = base
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .filter(col("n_toks") >= minLen)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("n_toks") - minLen)).as("p"))
      .select(col("doc_id"), col("p"),
        Hashes.h60(concat_ws(" ",
          slice(col("toks"), (col("p") + 1).cast("int"), lit(minLen)))).as("g"))
    val hot = grams.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val hotStarts = grams.join(hot, "g")
      .groupBy("doc_id").agg(collect_list(col("p")).as("ps"))
    base.join(hotStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("ps"), array().cast("array<long>")).as("ps"))
      .as[(Long, Seq[String], Seq[Long])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, toks, ps) =>
          val n = toks.length
          val covered = new Array[Boolean](n)
          ps.foreach { p0 =>
            var p = p0.toInt
            val end = math.min(n, p + minLen)
            while (p < end) { covered(p) = true; p += 1 }
          }
          val sb = new java.lang.StringBuilder
          var kept = 0L
          var maxSpan = 0L
          var run = 0L
          var i = 0
          while (i < n) {
            if (covered(i)) {
              run += 1
              if (run > maxSpan) maxSpan = run
            } else {
              run = 0L
              if (kept > 0) sb.append(' ')
              sb.append(toks(i))
              kept += 1
            }
            i += 1
          }
          (id, n.toLong, n - kept, maxSpan, Hashes.h60Jvm(md, sb.toString))
        }
      }
      .toDF("doc_id", "n_toks", "n_removed", "max_span", "clean_fp")
      .orderBy("doc_id")
  }

  /** Corpus-level bigram counts — the n-gram LM statistic (conditional-
    * probability tables, contamination screens, boilerplate detection all
    * start here). Adjacent-token pairs come from zipping each doc's token
    * array against its own 1-shifted slice IN ROW (no positional self-join
    * of an exploded table), then one hash aggregation over the pair
    * stream; `minCount` mirrors the usual LM pruning threshold. */
  def bigramCounts(docs: DataFrame, minCount: Long = 2L): DataFrame =
    docs.select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy("w1", "w2")

  /** Per-doc unigram-LM scoring against the corpus's own token
    * distribution — the self-trained proxy for the CCNet/Gopher-style
    * "language-model quality" filter. Per token, the surprisal
    * -log2 p(tok) is quantized to WHOLE BITS via exact integer bit
    * lengths (floor_log2(x) = length(bin(x)) - 1, pure string-of-bits
    * arithmetic both engines compute identically), so every aggregate is
    * an exact int64 sum — order-free, hash-gateable — and only the final
    * per-doc means divide. A doc of corpus-typical tokens scores low
    * mean_bits; rare/garbled text scores high; `n_hapax` counts tokens
    * whose corpus frequency is 1 (the OOV-ish tail). One tokens pass, one
    * (doc_id, tok) aggregation, one token-frequency aggregation, and a
    * broadcast one-row total — map-side partials carry everything at
    * corpus scale. Output (doc_id, n_tokens, sum_cf, surprisal_bits,
    * n_hapax, mean_cf, mean_bits). */
  def unigramScore(docs: DataFrame): DataFrame = {
    val tf = tokens(docs).groupBy("doc_id", "tok").agg(count(lit(1)).as("m"))
    val cf = tf.groupBy("tok").agg(sum(col("m")).as("cf"))
    val tot = cf.agg((length(bin(sum(col("cf")))) - 1).cast("long").as("tbits"))
    tf.join(cf, "tok")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(
        sum(col("m")).as("n_tokens"),
        sum(col("m") * col("cf")).as("sum_cf"),
        sum(col("m") * (col("tbits") -
          (length(bin(col("cf"))) - 1).cast("long"))).as("surprisal_bits"),
        sum(when(col("cf") === 1L, col("m")).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("sum_cf"),
        col("surprisal_bits"), col("n_hapax"),
        (col("sum_cf").cast("double") / col("n_tokens").cast("double"))
          .as("mean_cf"),
        (col("surprisal_bits").cast("double") / col("n_tokens").cast("double"))
          .as("mean_bits"))
      .orderBy("doc_id")
  }

  /** Bigram association strength (PMI's argument, kept in ratio space):
    * lift = p(w1,w2) / (p(w1)·p(w2)) — the phrase-mining signal that
    * separates collocations ("machine learning") from chance adjacency.
    * The log is deliberately NOT taken: every input is an exact integer
    * count, so the pinned expression tree (one division per probability,
    * one multiply, one final division) is correctly-rounded double
    * arithmetic both engines reproduce bit-identically, where a
    * transcendental log would gate on libm rounding. Unigram and bigram
    * totals are corpus scalars (broadcast one-row frames); the only wide
    * exchanges are the two count aggregations and the two tiny
    * frequency joins. Output (w1, w2, c_ab, c_a, c_b, lift),
    * c_ab ≥ minCount. */
  def bigramLift(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    val uni = tokens(docs).groupBy("tok").agg(count(lit(1)).as("c"))
    val nu = uni.agg(sum(col("c")).as("nu"))
    val pairs = docs.select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val nb = pairs.agg(count(lit(1)).as("nb"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(nb))
      .crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab").cast("double") / col("nb").cast("double")) /
          ((col("c_a").cast("double") / col("nu").cast("double")) *
            (col("c_b").cast("double") / col("nu").cast("double"))))
          .as("lift"))
      .orderBy("w1", "w2")
  }

  /** Windowed co-occurrence lift — [[bigramLift]] widened from strict
    * adjacency to a ±`window` token neighborhood: the skip-gram statistic
    * (word2vec's training signal, phrase/topic mining's raw material) that
    * catches collocations adjacency misses ("neural … network" with a
    * modifier between). Pairs are generated IN ROW — one zip of the token
    * array against its d-shifted slice per offset d ≤ window, unordered
    * via (least, greatest) so each unordered pair lands on one key — and
    * rows multiply only at the explode feeding a partial aggregate. Same
    * exact-ratio discipline as bigramLift (no log; one pinned expression
    * tree of integer-count divisions). Output
    * (wa, wb, c_ab, c_a, c_b, lift), c_ab ≥ minCount. */
  def cooccurLift(docs: DataFrame, window: Int = 2,
                  minCount: Long = 5L): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val uni = tokens(docs).groupBy("tok").agg(count(lit(1)).as("c"))
    val nu = uni.agg(sum(col("c")).as("nu"))
    val arr = docs.select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val pairCols = (1 to window).map { d =>
      val len = greatest(size(col("t")) - d, lit(0))
      zip_with(
        slice(col("t"), lit(1), len),
        slice(col("t"), lit(d + 1), len),
        (x, y) => struct(least(x, y).as("wa"), greatest(x, y).as("wb")))
    }
    val pairs = arr.select(explode(flatten(array(pairCols: _*))).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    val np = pairs.agg(count(lit(1)).as("np"))
    pairs.groupBy("wa", "wb").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .join(uni.select(col("tok").as("wa"), col("c").as("c_a")), "wa")
      .join(uni.select(col("tok").as("wb"), col("c").as("c_b")), "wb")
      .crossJoin(broadcast(np))
      .crossJoin(broadcast(nu))
      .select(col("wa"), col("wb"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab").cast("double") / col("np").cast("double")) /
          ((col("c_a").cast("double") / col("nu").cast("double")) *
            (col("c_b").cast("double") / col("nu").cast("double"))))
          .as("lift"))
      .orderBy("wa", "wb")
  }

  /** Token counts: whitespace tokens + a chars/4 BPE-style estimate (the
    * published rule-of-thumb for English BPE vocabularies). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens_ws"),
      length(col("text")).cast("long").as("n_chars"),
      ceil(length(col("text")) / lit(4.0)).cast("long").as("n_tokens_bpe"))
      .orderBy("doc_id")

  /** Occurrences of `term` in `text` via the replace-length identity —
    * branch-free, codegen'd, and byte-identical across engines. */
  private def occPlain(text: Column, term: String): Column =
    (length(text) - length(replace(text, lit(term), lit("")))) / lit(term.length)

  /** Stopword marker lists per language for the n-gram language heuristic.
    * Padded with spaces so they only match whole tokens mid-string. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of "),
    "fr" -> Seq(" le ", " la ", " et "),
    "de" -> Seq(" der ", " die ", " und "),
    "es" -> Seq(" el ", " los ", " y "))

  /** Language ID by stopword-marker counting (n-gram heuristic): the language
    * with the highest marker count wins, earlier entry winning ties;
    * `und` (undetermined) when no marker fires. */
  def langId(docs: DataFrame): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val counts = LangMarkers.map { case (lang, terms) =>
      lang -> terms.map(t => occPlain(padded, t)).reduce(_ + _)
    }
    val best = counts.tail.foldLeft(counts.head._2)((acc, c) => greatest(acc, c._2))
    val pred = counts.foldRight(lit("und")) { case ((lang, c), els) =>
      when(c === best && best > 0, lang).otherwise(els)
    }
    // foldRight gives earlier languages precedence on ties
    val cols = col("doc_id") +:
      (counts.map { case (l, c) => c.cast("long").as(s"c_$l") } :+ pred.as("lang_pred"))
    docs.select(cols: _*).orderBy("doc_id")
  }

  /** Keyword search — the retrieval surface over the corpus: score every
    * document for a literal term set by Σ tf·idf_bits (whole-bit integer
    * idf = floor_log2(N) − floor_log2(df), the engine's libm-free
    * discipline; OR semantics — any matching term scores) and return the
    * top-k under the (score desc, doc_id) total order. Shapes: the term
    * filter prunes the token incidence AT THE SCAN to |terms|-matching
    * rows, the df table is |terms| rows (broadcast), and the top-k is a
    * TakeOrderedAndProject — at 100 TB this is one selective scan + one
    * tiny aggregation, the inverted-index-free search a batch engine can
    * honestly ship. Output (doc_id, n_terms, score). */
  def keywordSearch(docs: DataFrame,
                    terms: Seq[String] = Seq("data", "model", "learning"),
                    k: Int = 10): DataFrame = {
    require(terms.nonEmpty && k > 0, "need terms and positive k")
    val nd = docs.agg(count(lit(1)).as("nd"))
    val tf = tokens(docs).filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("tok").agg(count_distinct(col("doc_id")).as("df"))
    tf.join(broadcast(dft), "tok")
      .crossJoin(broadcast(nd))
      .withColumn("idf_bits", ((length(bin(col("nd"))) - 1) -
        (length(bin(col("df"))) - 1)).cast("long"))
      .groupBy("doc_id")
      .agg(count_distinct(col("tok")).as("n_terms"),
        sum(col("tf") * col("idf_bits")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** One-row dataset card — the summary artifact a corpus release ships
    * (HuggingFace dataset-card numbers): document/token/type counts,
    * language and source cardinalities, exact-duplicate mass, total
    * character volume, and mean tokens per document. Everything is one
    * token-incidence aggregation plus one docs aggregation (both all
    * map-side partials); the single IEEE op is the final mean. Output
    * (n_docs, n_tokens, n_types, n_langs, n_sources, n_exact_dups,
    * total_chars, tokens_per_doc). */
  def datasetCard(docs: DataFrame): DataFrame = {
    val t = tokens(docs).agg(count(lit(1)).as("n_tokens"),
      count_distinct(col("tok")).as("n_types"))
    docs.agg(count(lit(1)).as("n_docs"),
        count_distinct(col("text")).as("n_texts"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"))
      .crossJoin(broadcast(t))
      .select(col("n_docs"), col("n_tokens"), col("n_types"),
        col("n_langs"), col("n_sources"),
        (col("n_docs") - col("n_texts")).as("n_exact_dups"),
        col("total_chars"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("tokens_per_doc"))
  }

  /** Whitespace/encoding normalization audit — the first cleaning pass a
    * raw crawl needs and the LAST thing anyone checks when token counts
    * disagree between pipelines: per doc, counts of tabs, multi-space
    * runs, and non-ASCII bytes' code points, plus a 60-bit fingerprint of
    * the CANONICAL form (whitespace runs collapsed, ends trimmed) and a
    * `changed` flag. The fingerprint makes the gate non-vacuous on an
    * already-clean corpus (it proves normalization is the identity exactly
    * where it should be), and two corpora whose `norm_fp` multisets agree
    * tokenize identically regardless of raw whitespace. All patterns are
    * RE2∩Java (character classes + bounded repetition); one narrow
    * codegen'd projection, zero shuffles. Output
    * (doc_id, n_tabs, n_multispace, n_nonascii, norm_fp, changed). */
  def textNormAudit(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(col("text"), " {2,}", " "))
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\t"), lit(0)))
        .cast("long").as("n_tabs"),
      size(regexp_extract_all(col("text"), lit(" {2,}"), lit(0)))
        .cast("long").as("n_multispace"),
      size(regexp_extract_all(col("text"), lit("[^\\x00-\\x7F]"), lit(0)))
        .cast("long").as("n_nonascii"),
      Hashes.h60(norm).as("norm_fp"),
      (norm =!= col("text")).as("changed"))
      .orderBy("doc_id")
  }

  /** Declared-vs-predicted language confusion matrix — the metadata-trust
    * audit: corpus metadata (`lang`) routinely disagrees with content
    * (mislabeled crawls, code-switched docs, template pages), and mixture
    * weights keyed on a wrong `lang` column silently skew the training
    * distribution. Composes [[langId]]'s content heuristic with the
    * declared column into |langs|·(|langs|+1) matrix cells; diagonal mass
    * = trustworthy metadata, off-diagonal rows = the labels to re-check.
    * One narrow scoring projection + one tiny hash aggregation — no
    * shuffle wider than the matrix at any corpus size. Output
    * (lang_decl, lang_pred, n_docs). */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .join(docs.select(col("doc_id"), col("lang").as("lang_decl")), "doc_id")
      .groupBy("lang_decl", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang_decl", "lang_pred")

  /** Pattern scrubbing (PII-redaction shape): count and redact emails,
    * long digit runs, and a configurable forbidden term in one narrow
    * codegen'd projection — the standard pre-training privacy pass. The
    * patterns are written in the regex subset Java and RE2 interpret
    * identically (character classes + bounded repetition, no backrefs or
    * lookaround), so the DuckDB oracle matches byte-for-byte. Per-row
    * work only — no shuffle at any corpus size. */
  def scrub(docs: DataFrame, term: String = "spark"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    val num = "[0-9]{3,}"
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), email, "<EMAIL>"),
        num, "<NUM>"),
      term, "<TERM>")
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(num)).cast("long").as("n_num"),
        regexp_count(col("text"), lit(term)).cast("long").as("n_term"),
        length(scrubbed).cast("long").as("scrub_len"))
      .orderBy("doc_id")
  }

  /** Quality score from surface statistics (length, lexical diversity,
    * stopword rate): the standard cheap pre-filter in front of model-based
    * quality classifiers. Components exposed for inspection; the composite is
    * a fixed linear blend computed in a mirrored operation order. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(docs)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"),
        sum(when(col("tok").isin("the", "a", "of", "and"), 1L).otherwise(0L)).as("n_stop"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(toks, "doc_id")
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct"), col("n_stop"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio"))
      .withColumn("quality",
        lit(0.5) * col("ttr") +
          lit(0.3) * least(col("stop_ratio") * lit(10.0), lit(1.0)) +
          lit(0.2) * least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)))
      .orderBy("doc_id")
  }

  /** Character-class histogram per document — the punctuation/digit surface
    * statistics that complement [[qualityScore]] (a high punct or digit
    * ratio flags boilerplate, code, tables and spam before any model-based
    * filter). Counts use the regex replace-length identity (codegen'd,
    * branch-free, identical in DuckDB with the 'g' flag); punct is the
    * residual class, and the ratio is one IEEE division of exact integer
    * counts. Purely per-row: no shuffle at any scale. */
  def charClasses(docs: DataFrame): DataFrame = {
    def nClass(re: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"), re, ""))).cast("long")
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nClass("[A-Za-z]").as("n_alpha"),
        nClass("[0-9]").as("n_digit"),
        nClass(" ").as("n_space"))
      .withColumn("n_punct",
        col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / col("n_chars").cast("double"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: min 60-bit hash over the distinct character
    * 9-gram shingles — the single-hash case of MinHash, the winnowing-style
    * content id used for fast near-dup prefiltering.
    *
    * Served by the shared [[Dedup.docSignatures]] kernel: `hs` already holds
    * the distinct shingle hashes ([[Hashes.h60Jvm]], bit-equal to the h60
    * Column twin — HashesSpec), so the fingerprint is `array_min(hs)` with no
    * second shingle pass. */
  def fingerprint(docs: DataFrame): DataFrame =
    Dedup.docSignatures(docs, h = 0)
      .select(col("doc_id"), array_min(col("hs")).as("fp"))
      .orderBy("doc_id")

  /** Corpus vocabulary statistics: per token, document frequency and
    * collection frequency — the inputs to stopword lists, IDF weights and
    * tokenizer audits. One shuffle on the token key. */
  def vocabulary(docs: DataFrame): DataFrame =
    tokens(docs)
      .groupBy("tok")
      .agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("cf"))
      .orderBy("tok")

  /** Corpus-derived stopword list — the df-threshold rule every tokenizer/
    * quality pipeline bootstraps from its own corpus (a token present in
    * ≥ `minDfFrac` of documents carries no topical signal): document
    * frequency per token, kept when df/|docs| reaches the threshold. The
    * fraction is one integer-over-integer correctly-rounded double
    * division, so the operator is fully hash-gated; |docs| is one driver
    * scalar (corpus metadata, not point data). One hash aggregation over
    * the token stream — map-side partials carry the load at any corpus
    * size. Output (tok, df, df_frac). */
  def stopwords(docs: DataFrame, minDfFrac: Double = 0.5): DataFrame = {
    val n = docs.count()
    // built on [[vocabulary]] (whose doc already names stopword lists as
    // its consumer) so the df definition lives in exactly one place
    vocabulary(docs)
      .withColumn("df_frac", col("df").cast("double") / lit(n.toDouble))
      .filter(col("df_frac") >= minDfFrac)
      .select("tok", "df", "df_frac")
      .orderBy("tok")
  }

  /** Top-k terms per document by a tf·idf-style weight. The weight is
    * tf/df — i.e. tf·idf with the linear idf = 1/df — chosen because the
    * integer-over-integer double division is correctly rounded and therefore
    * bit-identical across engines, where ln-based idf would hang the oracle
    * hash on last-ulp libm differences. Rankings are tie-broken by token. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = tokens(docs).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("weight").desc, col("tok").asc)
    tf.join(df, "tok")
      .withColumn("weight", col("tf").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "tok", "tf", "df", "weight", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Sparse TF-IDF cosine similarity pairs via a posting-list join — the
    * lexical document-similarity member between the set-overlap family
    * (n-gram Jaccard/containment) and the dense-embedding family
    * (`Similarity.neardupCosine`): weighted bag-of-words, so shared RARE
    * vocabulary counts more than shared boilerplate.
    *
    * Determinism contract (the same moves as [[unigramScore]] /
    * [[tfidfTopTerms]]): idf is the WHOLE-BIT form floor(log2(N/df)) —
    * exact via binary-string length, no libm — making every weight, norm
    * and dot product an int64; the cosine threshold is tested in exact
    * integer space ((tDen·num)² ≥ (tNum)²·ssa·ssb, squared through
    * decimal(37,0) headroom) so no float boundary decides membership; the
    * reported cosine is IEEE ops over exact ints (sqrt is
    * correctly-rounded), bit-identical cross-engine.
    *
    * Scale shape: tokens with df > dfCap are EXCLUDED from the measure by
    * contract (they are the boilerplate cosine should ignore — whole-bit
    * idf already zeroes df > N/2), which caps the posting-list join at
    * Σ_t df_t² ≤ dfCap·Σ df_t — linear in corpus for fixed cap, never n².
    * Norms and postings come off one checkpointed posting table.
    *
    * Output: (a, b, num, cos) for pairs with cos ≥ tNum/tDen.
    *
    * [[tfidfPostings]] is the shared (doc_id, tok, w) posting table —
    * public so ScaleProof's replication closed form counts the same
    * vector-bearing docs the pair join sees. */
  def tfidfPostings(docs: DataFrame, dfCap: Long = 50L): DataFrame = {
    val tf = tokens(docs).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct(col("doc_id")).as("n"))
    tf.join(dfTab.filter(col("df") <= dfCap), "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("bits", (length(bin(expr("n div df"))) - 1).cast("long"))
      .filter(col("bits") >= 1L)
      .select(col("doc_id"), col("tok"), (col("tf") * col("bits")).as("w"))
  }

  def tfidfCosinePairs(docs: DataFrame, dfCap: Long = 50L,
                       tNum: Int = 1, tDen: Int = 2): DataFrame = {
    val post = tfidfPostings(docs, dfCap)
      .localCheckpoint() // three readers: both join sides + norms
    val norms = post.groupBy("doc_id").agg(sum(col("w") * col("w")).as("ss"))
    val dots = post.as("x").join(post.as("y"),
        col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(sum(col("x.w") * col("y.w")).as("num"))
    dots
      .join(norms.select(col("doc_id").as("a"), col("ss").as("ssa")), "a")
      .join(norms.select(col("doc_id").as("b"), col("ss").as("ssb")), "b")
      .filter(
        (col("num") * tDen.toLong).cast("decimal(18,0)") *
          (col("num") * tDen.toLong).cast("decimal(18,0)") >=
          (col("ssa") * (tNum.toLong * tNum)).cast("decimal(18,0)") *
            col("ssb").cast("decimal(18,0)"))
      .select(col("a"), col("b"), col("num"),
        (col("num").cast("double") /
          (sqrt(col("ssa").cast("double")) * sqrt(col("ssb").cast("double"))))
          .as("cos"))
      .orderBy("a", "b")
  }

  /** Per-(lang, source) corpus statistics over the document table. */
  def docStats(docs: DataFrame): DataFrame =
    docs.groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min(col("n_chars")).cast("long").as("min_chars"),
        max(col("n_chars")).cast("long").as("max_chars"))
      .orderBy("lang", "source")

  /** Deterministic train/val/test split: a doc's bucket is a pure function
    * of its id (md5-derived, mirrored in SQL), so the split is reproducible
    * across runs, engines and re-partitioning — the property a training
    * pipeline needs that `randomSplit` (plan-and-partitioning-dependent)
    * does not give. 80/10/10 by hash mod 10. */
  def deterministicSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        (Hashes.h60(col("doc_id").cast("string")) % 10).as("bucket"))
      .select(col("doc_id"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** End-to-end corpus cleaning — the composed pipeline a training-data run
    * executes as one job: exact-dedup to min-id keepers, then surface-quality
    * and length gates. Output: surviving (doc_id, n_tokens, quality). Each
    * stage is one of the operators above; composing them keeps everything in
    * a single Catalyst plan (shared scan, pipelined filters) instead of
    * materializing between stages. */
  def cleanCorpus(docs: DataFrame, minQuality: Double = 0.4,
                  minChars: Long = 50L): DataFrame = {
    val keepers = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    qualityScore(docs)
      .join(keepers, "doc_id")
      .filter(col("quality") >= minQuality && col("n_chars") >= minChars)
      .select("doc_id", "n_tokens", "quality")
      .orderBy("doc_id")
  }

  private[operators] def h60(c: Column): Column = Hashes.h60(c)

  /** Vocabulary coverage curve — the tokenizer-design metric: what fraction
    * of the corpus token stream does a top-k vocabulary cover? Built on
    * [[vocabulary]]'s cf counts: rank by (cf desc, tok), keep rank ≤ max(k)
    * (Spark plans the rank-filter as a distributed WindowGroupLimit top-k,
    * so the global order never materializes more than max(k) rows per
    * partition), then one tiny aggregate per requested k over the ≤ max(k)
    * surviving rows. All coverage numerators/denominators are exact int64
    * token counts; the ratio is one IEEE division. Output
    * (k, top_cf, total_cf, coverage). */
  def vocabCoverage(docs: DataFrame,
                    ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    val v = vocabulary(docs).select("tok", "cf")
    val w = Window.orderBy(col("cf").desc, col("tok").asc)
    val top = v.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= ks.max)
    val total = v.agg(sum(col("cf")).as("total_cf"))
    ks.map(k => top.filter(col("rk") <= k)
        .agg(sum(col("cf")).as("top_cf"))
        .select(lit(k.toLong).as("k"), col("top_cf")))
      .reduce(_.unionAll(_))
      .crossJoin(total)
      .select(col("k"), col("top_cf"), col("total_cf"),
        (col("top_cf").cast("double") / col("total_cf").cast("double"))
          .as("coverage"))
      .orderBy("k")
  }

  /** Per-document out-of-vocabulary rate under a top-k corpus vocabulary —
    * the other half of [[vocabCoverage]]'s tokenizer-design story: coverage
    * says what fraction of the STREAM a vocab absorbs; this says which
    * DOCS fall outside it (code, tables, other languages — the docs a
    * word-level model garbles and a subword budget must fund). Same
    * rank-filter vocabulary (row_number ≤ k plans as a distributed
    * WindowGroupLimit — the global cf order materializes only to k rows);
    * membership is one equi-join of the token incidence against the k-row
    * vocab (broadcast at any corpus size), then a per-doc aggregation.
    * Exact int64 counts, one IEEE division. Output
    * (doc_id, n_tokens, n_oov, oov_frac). */
  def oovRate(docs: DataFrame, k: Int = 1000): DataFrame = {
    val v = vocabulary(docs).select("tok", "cf")
    val w = Window.orderBy(col("cf").desc, col("tok").asc)
    val vocabK = v.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("tok"), lit(true).as("in_v"))
    tokens(docs)
      .join(broadcast(vocabK), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_frac"))
      .orderBy("doc_id")
  }

  /** BPE tokenizer-training pair statistics — the counting kernel of
    * byte-pair-encoding training (Sennrich et al. 2016): within each
    * whitespace token, every adjacent character pair counted across the
    * corpus with multiplicity; the top-k pairs are the merge candidates of
    * BPE iteration 1. A full BPE train is a driver loop of k merges over
    * exactly this kernel (count → argmax → apply merge → recount); the
    * kernel is the distributed, shuffle-bearing part, so its shape is what
    * matters at 100 TB: one narrow in-row expansion (the pair array is built
    * inside the scan partition, rows only multiply at the explode that
    * feeds a partial aggregate), one hash aggregation on the pair key, then
    * a TakeOrderedAndProject top-k — the global order never materializes.
    * Counts are exact int64; pair_frac is one IEEE division per output row.
    * Deterministic tie-break (count desc, pair asc).
    * Output (pair, pair_count, pair_frac). */
  def bpePairs(docs: DataFrame, k: Int = 50): DataFrame = {
    val pairs = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
    val counts = pairs.groupBy("pair").agg(count(lit(1)).as("pair_count"))
    val total = counts.agg(sum(col("pair_count")).as("total_pairs"))
    counts.orderBy(col("pair_count").desc, col("pair").asc).limit(k)
      .crossJoin(total)
      .select(col("pair"), col("pair_count"),
        (col("pair_count").cast("double") / col("total_pairs").cast("double"))
          .as("pair_frac"))
      .orderBy(col("pair_count").desc, col("pair").asc)
  }

  /** Bigram language-model document score — the CCNet/KenLM-style
    * perplexity filter of an LLM data pipeline, in the exact-integer bit
    * discipline of [[unigramScore]]: per bigram occurrence, the
    * conditional surprisal -log2 p(w2|w1) with p = c(w1 w2)/c(w1 ·) is
    * quantized to whole bits via integer bit lengths
    * (floor_log2(c(w1 ·)) - floor_log2(c(w1 w2)), always ≥ 0 since the
    * context count dominates), so the per-doc aggregate is an order-free
    * exact int64 sum and only the final per-doc mean divides. Repetitive
    * or corpus-typical continuations score near 0 bits; rare/garbled
    * continuations score high — the doc-level ranking a perplexity filter
    * thresholds. Shapes: two count aggregations ((doc, w1, w2) then
    * (w1, w2)), a tiny left-context rollup, and joins that stay on the
    * bigram key — map-side partials carry everything at corpus scale.
    * Docs with fewer than 2 tokens carry no bigram and drop, as in
    * [[repetition]]. Output (doc_id, n_bigrams, cond_bits,
    * bits_per_bigram). */
  def lmScore(docs: DataFrame): DataFrame = {
    val arr = docs.select(col("doc_id"), split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 2)
    val dbg = arr
      .select(col("doc_id"), col("arr"),
        explode(sequence(lit(1), size(col("arr")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("arr"), col("i")).as("w1"),
        element_at(col("arr"), col("i") + 1).as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
    val cab = dbg.groupBy("w1", "w2").agg(sum(col("m")).as("c_ab"))
    val ca = cab.groupBy("w1").agg(sum(col("c_ab")).as("c_a"))
    dbg.join(cab, Seq("w1", "w2")).join(broadcast(ca), Seq("w1"))
      .groupBy("doc_id")
      .agg(
        sum(col("m")).as("n_bigrams"),
        sum(col("m") * ((length(bin(col("c_a"))) - 1).cast("long") -
          (length(bin(col("c_ab"))) - 1).cast("long"))).as("cond_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("cond_bits"),
        (col("cond_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("bits_per_bigram"))
      .orderBy("doc_id")
  }

  /** PII scan + scrub — the redaction pass a training-data pipeline runs
    * before anything else: per doc, counts of email-shaped, IPv4-shaped and
    * long-digit-run matches, plus a 60-bit fingerprint of the SCRUBBED text
    * (emails → `<EMAIL>`, then IPs → `<IP>`, then runs → `<NUM>`, in that
    * pinned order — the fingerprint makes the gate non-vacuous on a clean
    * corpus: it proves the scrub is the identity exactly where it should
    * be, while PiiSpec poisons documents to prove each pattern fires).
    * Patterns are deliberately RE2∩Java-regex (character classes and
    * bounded repetition only — no lookaround, no backreferences) so both
    * engines match identically. One narrow projection, no shuffle at all.
    * Output (doc_id, n_emails, n_ips, n_digit_runs, scrub_fp). */
  def piiScan(docs: DataFrame): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
    val runRe = "\\d{6,}"
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      runRe, "<NUM>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(ipRe), lit(0)))
        .cast("long").as("n_ips"),
      size(regexp_extract_all(col("text"), lit(runRe), lit(0)))
        .cast("long").as("n_digit_runs"),
      Hashes.h60(scrubbed).as("scrub_fp"))
      .orderBy("doc_id")
  }

  /** Character-distribution entropy per document — the compressibility
    * quality signal (binary junk, mojibake and repeated filler collapse to
    * low entropy; natural text sits in a narrow band). Same whole-bit
    * integer discipline as [[unigramScore]]: each char occurrence
    * contributes floor_log2(n) - floor_log2(m) bits (m = its count in the
    * doc, n = doc length), so the per-doc sum is an exact order-free int64
    * and only the final bits-per-char divides.
    *
    * Shape: one mapPartitions histogram kernel — the per-doc codepoint
    * counts live in an in-row LongMap and never become rows (the r8
    * per-char `explode(transform(sequence(...)))` form materialized
    * |chars| generate-stage rows for a per-doc scalar; the kernel is the
    * repo's established in-row idiom, cf. [[graft.operators.Dedup]]'s
    * docSignatures). Codepoint iteration matches Spark/DuckDB `length`
    * semantics (code points, not UTF-16 units), the bit arithmetic is the
    * same whole-bit integer form, and the sum order is irrelevant by
    * construction — so the kernel is bit-identical to the column form and
    * the hash gate carries over unchanged.
    * Output (doc_id, n_chars, entropy_bits, bits_per_char). */
  def charEntropy(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(length(col("text")) >= 1)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val counts = scala.collection.mutable.LongMap.empty[Long]
          var n = 0L
          var i = 0
          while (i < text.length) {
            val cp = text.codePointAt(i)
            counts(cp.toLong) = counts.getOrElse(cp.toLong, 0L) + 1L
            n += 1
            i += Character.charCount(cp)
          }
          val fln = 63L - java.lang.Long.numberOfLeadingZeros(n)
          var bits = 0L
          counts.foreachValue { m =>
            bits += m * (fln - (63L - java.lang.Long.numberOfLeadingZeros(m)))
          }
          (id, n, bits, bits.toDouble / n.toDouble)
        }
      }
      .toDF("doc_id", "n_chars", "entropy_bits", "bits_per_char")
      .orderBy("doc_id")
  }

  /** Inverted-index artifact: per indexed token, document frequency and a
    * fingerprint of the SORTED posting list — the retrieval-side data
    * structure [[keywordSearch]] scores against, materialized as a
    * verifiable table. Postings are fingerprinted (h60 of the
    * comma-joined sorted doc_id list) rather than emitted as arrays: the
    * gate then proves list CONTENT and ORDER bit-exactly while the output
    * stays fixed-width.
    *
    * Scale posture: only tokens with df ∈ [minDf, maxDf] are indexed —
    * the standard banding real systems apply (singleton tokens carry no
    * retrieval value; stopword-grade tokens get elided or dedicated
    * structures, never a collect_list — the same hot-key discipline as
    * [[graft.functions.BoundedCollectList]]). The per-token aggregation
    * buffer is therefore ≤ maxDf ids by construction. Incidence dedup is
    * PARTITION-LOCAL (`array_distinct` in-row before explode, the shingle
    * trick) so the only wide exchanges are the df count and the bounded
    * posting build. */
  def invertedIndex(docs: DataFrame, minDf: Long = 5,
                    maxDf: Long = 500): DataFrame = {
    val incidence = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val dfs = incidence.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    incidence.join(dfs, "tok")
      .groupBy("tok", "df")
      .agg(Hashes.h60(array_join(
        transform(sort_array(collect_list(col("doc_id"))), _.cast("string")),
        ",")).as("postings_fp"))
      .select("tok", "df", "postings_fp")
      .orderBy("tok")
  }

  /** Group-wise top-k: the k highest-quality documents per source under the
    * (quality desc, doc_id) total order — the "best exemplars per slice"
    * retrieval every curation review and few-shot-selection pass runs.
    * rank ≤ k over a partitioned window lets Spark plan WindowGroupLimit:
    * each input partition keeps only its local top-k per group BEFORE the
    * window exchange, so the shuffle carries ≤ k·|sources| rows per
    * partition instead of the corpus — the property that makes grouped
    * top-k viable at 100 TB. Output (source, doc_id, quality, rk). */
  def topPerSource(docs: DataFrame, k: Int = 3): DataFrame = {
    val q = qualityScore(docs).select("doc_id", "quality")
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
    docs.select("doc_id", "source").join(q, "doc_id")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("source", "doc_id", "quality", "rk")
      .orderBy("source", "rk")
  }

  /** Feature hashing (the "hashing trick"): per document, token counts
    * folded into a FIXED `dims`-wide dense vector by hashing each token to
    * a bucket — the featurization production text classifiers use when
    * the vocabulary is unbounded: no vocab build pass, no dictionary to
    * broadcast, memory per row constant in corpus size. Collisions are the
    * accepted trade (two tokens sharing a bucket add) — deterministic
    * here, so the gate hashes them identically. One map-side-combined
    * aggregation keyed by doc_id; the bucket expression is codegen'd.
    * Output (doc_id, f0..f{dims-1}) exact int64 counts. */
  def featureHash(docs: DataFrame, dims: Int = 8): DataFrame = {
    val b = tokens(docs)
      .withColumn("bucket", Hashes.h60(col("tok")) % dims)
    val aggs = (0 until dims).map(i =>
      sum(when(col("bucket") === i, 1L).otherwise(0L)).as(s"f$i"))
    b.groupBy("doc_id").agg(aggs.head, aggs.tail: _*).orderBy("doc_id")
  }

  /** Token-length distribution — the tokenizer "fertility" audit (mean
    * chars-per-token and the length histogram decide subword vocabulary
    * budgets): per character length, total token occurrences and distinct
    * token types. One hash aggregation keyed by an in-row integer; both
    * counts exact int64. Output (tok_len, n_tokens, n_types). */
  def tokenLengths(docs: DataFrame): DataFrame =
    tokens(docs)
      .select(col("tok"), length(col("tok")).cast("long").as("tok_len"))
      .groupBy("tok_len")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
      .orderBy("tok_len")

  /** Held-out LM scoring — the cross-split twin of [[lmScore]] and the
    * shape of a real quality/memorization eval: the bigram LM is trained
    * ONLY on the train split (stable hash coin, the same 80/20 rule every
    * split operator here uses) and scores the EVAL split's documents.
    * Bigrams the train LM never saw cannot be scored (their conditional
    * count is zero) and are reported as `n_oov` instead of silently
    * skewing the average — the eval-side number a corpus report needs
    * next to the in-split score. Whole-bit integer surprisal as in
    * lmScore (exact floor_log2 sums, no libm), ONE division. Shapes: the
    * train-count tables are token-keyed aggregates joined onto the eval
    * bigram stream — the same narrow equi-joins lmScore plans. Output
    * (doc_id, n_bigrams, n_scored, n_oov, cond_bits, bits_per_scored);
    * eval docs whose bigrams are all OOV carry bits_per_scored null. */
  def holdoutLmScore(docs: DataFrame): DataFrame = {
    val sided = docs.select(col("doc_id"), col("text"),
      (Hashes.h60(col("doc_id").cast("string")) % 10 < 8).as("is_tr"))
    def bigrams(d: DataFrame): DataFrame = d
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 2)
      .select(col("doc_id"), col("arr"),
        explode(sequence(lit(1), size(col("arr")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("arr"), col("i")).as("w1"),
        element_at(col("arr"), col("i") + 1).as("w2"))
    val trBg = bigrams(sided.filter(col("is_tr")))
    val cab = trBg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val ca = cab.groupBy("w1").agg(sum(col("c_ab")).as("c_a"))
    bigrams(sided.filter(!col("is_tr")))
      .join(cab, Seq("w1", "w2"), "left")
      .join(broadcast(ca), Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c_ab").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("c_ab").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("c_ab").isNotNull,
          (length(bin(col("c_a"))) - 1).cast("long") -
            (length(bin(col("c_ab"))) - 1).cast("long")).otherwise(0L))
          .as("cond_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("n_scored"),
        col("n_oov"), col("cond_bits"),
        when(col("n_scored") > 0,
          col("cond_bits").cast("double") / col("n_scored").cast("double"))
          .as("bits_per_scored"))
      .orderBy("doc_id")
  }

  /** Deterministic augmentation — token dropout with reproducible hash
    * coins, the contrastive/regularization view generator that must be
    * REPLAYABLE (the same doc always augments identically, across reruns
    * and partitionings — a seeded RNG per partition cannot promise that;
    * a per-(doc, position) hash coin can). Each token survives unless
    * h60(doc:pos:salt) lands in the drop band (~10%); survivors reassemble
    * in position order and the gate hashes the REBUILT STRING, so both
    * the coin and the reassembly are verified cross-engine. One narrow
    * pass: posexplode → filter → per-doc sorted re-collect (the only
    * shuffle, keyed by doc_id). Output (doc_id, n_tokens, n_kept,
    * aug_fp). */
  def augmentDropout(docs: DataFrame, salt: String = "aug1"): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("keep",
        Hashes.h60(concat_ws(":", col("doc_id"), col("pos"), lit(salt)))
          % 10 =!= 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("keep"),
          struct(col("pos"), col("tok"))))).as("kept"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        Hashes.h60(concat_ws(" ",
          transform(col("kept"), x => x.getField("tok")))).as("aug_fp"))
      .orderBy("doc_id")

  /** Signal agreement — exact Spearman rank correlation between the two
    * quality signals this library computes ([[qualityScore]]'s heuristic
    * vs [[lmScore]]'s LM surprisal, fluent-first): the number that decides
    * whether a second filter stage adds information or re-ranks the same
    * ordering. Ranks are row_numbers over total orders (signal, doc_id),
    * Σd² is an exact int64 sum, and ρ = 1 − 6Σd²/(n(n²−1)) is two IEEE
    * ops — bit-identical cross-engine. The global rank is the audit-time
    * exact form (|docs| rows through one window each); the 100 TB swap is
    * sketch-ranked binning, the same trade every exact-rank gate here
    * documents. Output one row (n, sum_d2, rho). */
  def signalCorrelation(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs).select(col("doc_id"), col("quality"))
    val l = lmScore(docs).select(col("doc_id"), col("bits_per_bigram"))
    val joined = q.join(l, "doc_id")
    val ranked = joined
      .withColumn("r1", row_number()
        .over(Window.orderBy(col("quality").desc, col("doc_id"))).cast("long"))
      .withColumn("r2", row_number()
        .over(Window.orderBy(col("bits_per_bigram").asc, col("doc_id")))
        .cast("long"))
    ranked.agg(count(lit(1)).as("n"),
        sum((col("r1") - col("r2")) * (col("r1") - col("r2"))).as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        (lit(1.0) - (col("sum_d2") * 6L).cast("double") /
          (col("n") * (col("n") * col("n") - 1L)).cast("double")).as("rho"))
  }

  /** Token burstiness — the variance-to-mean ratio (index of dispersion)
    * of each token's per-document count over ALL documents (zeros
    * included): Poisson scatter gives VMR ≈ 1, content words clump
    * (VMR ≫ 1), and boilerplate template tokens sit uniformly (VMR < 1).
    * This is the lexical signal frequency alone cannot see — two tokens
    * with identical corpus counts separate cleanly when one concentrates
    * in a few documents. Exact integer numerator over the implicit-zeros
    * form: VMR = (N·Σm² − T²) / (N·T) with every sum an order-free int64
    * (the per-doc token matrix is never densified — zeros enter only
    * through N), ONE double division at the end. Shapes: one |doc·type|
    * aggregation collapsing to |vocab| rows, a 1-row broadcast. Output
    * (tok, df, total, m2, vmr) ordered by tok. */
  def burstiness(docs: DataFrame): DataFrame =
    tokens(docs)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("m"))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"), sum(col("m")).as("total"),
        sum(col("m") * col("m")).as("m2"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("tok"), col("df"), col("total"), col("m2"),
        ((col("n_docs") * col("m2") - col("total") * col("total"))
          .cast("double") /
          (col("n_docs") * col("total")).cast("double")).as("vmr"))
      .orderBy("tok")
}
