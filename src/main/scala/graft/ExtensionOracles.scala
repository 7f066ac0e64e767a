package graft

/** DuckDB oracle SQL for the M7 extension operators (documents/embeddings).
  * Every string mirrors its Spark twin's expression shapes exactly — operand
  * order, cast points, fold direction — so double-typed outputs hash-match.
  * `<sfDir>` is substituted by the driver (FIXTURES.md §4). */
object ExtensionOracles {

  private val DOCS = "'<sfDir>/documents.parquet'"

  /** Distinct char 9-gram shingles; per-doc ranges via scalar
    * range()+unnest (no fixed series bound — any document length works). */
  private val SH =
    s"""sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 9) AS s
       |         FROM (SELECT doc_id, text,
       |                      unnest(range(1, length(text) - 7)) AS i
       |                 FROM $DOCS))""".stripMargin

  private val EMB =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM '<sfDir>/embeddings.parquet')"

  /** SimHash code CTE chain (word tokens → 32-bit code per doc) — the ONE
    * copy of the simhash pipeline SQL; q_simhash, q_simhash_pairs,
    * q_triangles and q_pagerank all build on it, so the four gates can
    * never validate against divergent graphs. Mirrors
    * [[graft.operators.Dedup.simhash]] bit-for-bit. */
  private def simhashCodes: String =
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
       |th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS th FROM t),
       |bt AS (SELECT b FROM generate_series(0, 31) g(b)),
       |sg AS (SELECT doc_id, b, SUM(((th >> b) & 1) * 2 - 1) AS sgn FROM th, bt GROUP BY doc_id, b),
       |s AS (SELECT doc_id,
       |             CAST(SUM(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |        FROM sg GROUP BY doc_id)""".stripMargin

  /** [[simhashCodes]] + the near-dup edge list (a < b, hamming ≤ 2) with
    * the hamming distance exposed. */
  private def simhashEdges: String =
    s"""$simhashCodes,
       |e AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |             CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |        FROM s x JOIN s y ON x.doc_id < y.doc_id
       |       WHERE bit_count(xor(x.simhash, y.simhash)) <= 2)""".stripMargin

  /** SQL twin of [[graft.operators.Similarity.embLshCodes]]'s 16-bit code:
    * one CASE term per hyperplane, planes inlined as DOUBLE[] literals. */
  private def lshCodeSql: String =
    graft.operators.Similarity.signPlanes(16, 64).zipWithIndex.map { case (p, k) =>
      val lst = p.mkString("[", ", ", "]")
      s"CASE WHEN list_sum(list_transform(list_zip(emb, $lst), z -> z[1]*z[2])) >= 0" +
        s" THEN CAST(${1L << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")

  /** Pinned trained IVF coarse-quantizer centers ([[IvfPins]], regenerate
    * with `runMain graft.Pins`) as a DuckDB VALUES relation.
    * Elements are printed with an E0 suffix so DuckDB lexes them as DOUBLE
    * directly: a plain decimal literal becomes DECIMAL(19,18), whose cast to
    * DOUBLE is not correctly rounded (measured: ~12% of full-mantissa values
    * off by 1 ulp), while E-notation parses via strtod — bit-identical with
    * the JVM's shortest-round-trip Double.toString. (The MrfftPins literals
    * never hit this because FFT centers are data points, float32-aligned
    * with zero low mantissa bits; k-means centroids are full-mantissa
    * means.) */
  private def centCteFrom(pins: Seq[(Long, Seq[Double])]): String = {
    def dlit(d: Double): String = {
      val s = d.toString
      if (s.contains("E") || s.contains("e")) s else s + "E0"
    }
    val rows = pins.map { case (cid, cv) =>
      s"(CAST($cid AS BIGINT), [${cv.map(dlit).mkString(", ")}])"
    }.mkString(", ")
    s"cent AS (SELECT cid, cv FROM (VALUES $rows) t(cid, cv))"
  }

  private def ivfCentCte: String = centCteFrom(IvfPins.embeddingsK16I2)

  /** The RETRAINED banding cells of the lifecycle loop's recovery leg —
    * [[IvfDriftPins]], trained on the drifted corpus (regenerate with
    * `runMain graft.Pins`). */
  private def ivfDriftCentCte: String =
    centCteFrom(IvfDriftPins.embeddingsDriftK32I2)

  /** IVF assignment + probe chain ending in `cells` / `probes` — shared
    * by the cosine-IVF gates and q_ivfpq so every consumer probes the
    * identical trained cells. */
  private def ivfProbeCtes: String =
    s"""$EMB,
       |$ivfCentCte,
       |asn AS (SELECT e.vec_id, e.emb, c.cid, ${cosSql("e.emb", "c.cv")} AS ccos FROM e, cent c),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank FROM asn),
       |cells AS (SELECT vec_id AS nid, emb AS nv, cid FROM rk WHERE crank = 1),
       |probes AS (SELECT vec_id AS qid, emb AS qv, cid FROM rk WHERE vec_id < 5 AND crank <= 2)""".stripMargin

  /** IVF probe→score→rank chain ending in ranked (qid, nid, rank) rows `r`
    * — shared by q_ann_ivf and q_ann_recall so the recall gate measures
    * exactly the index pipeline q_ann_ivf hash-verifies. */
  private def ivfTopkCtes: String =
    s"""$ivfProbeCtes,
       |sc AS (SELECT p.qid, c.nid, MAX(${cosSql("p.qv", "c.nv")}) AS cos
       |         FROM cells c JOIN probes p ON c.cid = p.cid
       |        WHERE c.nid <> p.qid GROUP BY p.qid, c.nid),
       |r AS (SELECT qid, nid,
       |             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
       |        FROM sc)""".stripMargin

  /** Brute-force cosine top-k chain (queries `bq`, scored `bs`, ranked
    * `br`) WITHOUT the leading embeddings CTE, so it can be appended to a
    * WITH list that already defines `e` — shared by q_ann_topk and
    * q_ann_recall (the recall gate's ground truth IS the q_ann_topk
    * answer). */
  private def bruteTopkCtesNoEmb: String =
    s"""bq AS (SELECT vec_id AS qid, emb AS qv FROM e WHERE vec_id < 5),
       |bs AS (SELECT bq.qid, e.vec_id AS nid, ${cosSql("bq.qv", "e.emb")} AS cos
       |         FROM e, bq WHERE e.vec_id <> bq.qid),
       |br AS (SELECT qid, nid, cos,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
       |         FROM bs)""".stripMargin

  private def bruteTopkCtes: String = s"$EMB,\n$bruteTopkCtesNoEmb"

  /** Pinned-center cell assignment ending in `cells` (vec_id, emb, cid) —
    * the coarse-quantizer blocking every celled chain starts from
    * ([[blockedPairCtes]], the banded LSH chain). */
  private def cellAsnCtes: String =
    s"""$EMB,
       |$ivfCentCte,
       |asn AS (SELECT e.vec_id, e.emb, c.cid, ${cosSql("e.emb", "c.cv")} AS ccos FROM e, cent c),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank FROM asn),
       |cells AS (SELECT vec_id, emb, cid FROM rk WHERE crank = 1)""".stripMargin

  /** The trained-IVF blocked near-dup pair chain (cells via pinned centers,
    * within-cell scored pairs in `s`) — shared by q_neardup_blocked and
    * q_semdedup so the two gates can never verify divergent blockings. */
  private def blockedPairCtes: String =
    s"""$cellAsnCtes,
       |s AS (SELECT x.vec_id AS a, y.vec_id AS b, ${cosSql("x.emb", "y.emb")} AS cos
       |        FROM cells x JOIN cells y ON x.cid = y.cid AND x.vec_id < y.vec_id)""".stripMargin

  /** SQL twin of [[graft.operators.Similarity.embLshPairs]]'s banded
    * blocking: 16 bands × 8 sign bits (plane k = band·8+bit, md5-derived
    * ±1 literals inlined), composed with the pinned-center cell id — the
    * (band, bv, cid) join key whose cardinality grows with the corpus
    * (r7 verdict #1: the old 4×4-bit banding had 64 possible keys TOTAL,
    * candidates ~n²/8 by construction). Ends in verified pairs `v`. */
  private def lshBandCaseSql: String = {
    val planes = graft.operators.Similarity.signPlanes(16 * 8, 64)
    def bandSql(b: Int): String = (0 until 8).map { j =>
      val lst = planes(b * 8 + j).mkString("[", ", ", "]")
      s"CASE WHEN list_sum(list_transform(list_zip(emb, $lst), z -> z[1]*z[2])) >= 0" +
        s" THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    "CASE t.band " +
      (0 until 16).map(b => s"WHEN $b THEN (${bandSql(b)})").mkString(" ") + " END"
  }

  private def lshPairCtes: String =
    s"""$cellAsnCtes,
       |c2 AS (SELECT vec_id, emb, cid FROM rk WHERE crank <= 4),
       |bnd AS (SELECT vec_id, cid, t.band AS band, $lshBandCaseSql AS bv
       |          FROM c2, (VALUES ${(0 until 16).map(b => s"($b)").mkString(",")}) t(band)),
       |prb AS (SELECT vec_id, cid, band,
       |               CASE WHEN f.j < 0 THEN bv
       |                    ELSE xor(bv, CAST(1 AS BIGINT) << f.j) END AS pv
       |          FROM bnd, (VALUES (-1),(0),(1),(2),(3),(4),(5),(6),(7)) f(j)),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |           FROM prb x JOIN bnd y
       |             ON x.band = y.band AND x.pv = y.bv AND x.cid = y.cid
       |                AND x.vec_id < y.vec_id),
       |v AS (SELECT cand.a, cand.b, ${cosSql("ea.emb", "eb.emb")} AS cos
       |        FROM cand JOIN e ea ON cand.a = ea.vec_id
       |                  JOIN e eb ON cand.b = eb.vec_id)""".stripMargin

  /** The [[lshPairCtes]] chain over the DETERMINISTIC DRIFTED corpus of
    * `q_emb_stream_recall` (originals ∪ reversed-coordinate copy at
    * vec_id + 10⁶ — [[graft.operators.Similarity.driftedCorpus]]), with
    * the cells still assigned by the BOOTSTRAP-pinned centers
    * ([[IvfPins]] — trained on the originals only): the frozen index the
    * streaming screen probes, replayed over vectors it never trained on.
    * list_reverse is a pure permutation of the DOUBLE[] cast, so the
    * drifted literals are bit-identical to the engine's
    * `reverse(col("emb"))`. */
  private def driftedLshPairCtes: String =
    driftedLshPairCtesWith(ivfCentCte)

  /** The drifted-corpus banded chain with a PLUGGABLE cell codebook:
    * [[ivfCentCte]] (bootstrap-trained — the frozen screen the decay
    * gauge reads) or [[ivfDriftCentCte]] (retrained on the grown corpus —
    * the lifecycle loop's recovered screen). Everything else — drifted
    * corpus `de`, banding planes, Hamming-≤1 multi-probe, exact-cosine
    * verify `v` — is shared, so the two recall legs differ ONLY by what
    * the index was trained on. */
  private def driftedLshPairCtesWith(centCte: String): String =
    s"""$EMB,
       |de AS (SELECT vec_id, emb FROM e
       |       UNION ALL
       |       SELECT vec_id + 1000000 AS vec_id, list_reverse(emb) AS emb FROM e),
       |$centCte,
       |asn AS (SELECT de.vec_id, de.emb, c.cid, ${cosSql("de.emb", "c.cv")} AS ccos FROM de, cent c),
       |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank FROM asn),
       |c2 AS (SELECT vec_id, emb, cid FROM rk WHERE crank <= 4),
       |bnd AS (SELECT vec_id, cid, t.band AS band, $lshBandCaseSql AS bv
       |          FROM c2, (VALUES ${(0 until 16).map(b => s"($b)").mkString(",")}) t(band)),
       |prb AS (SELECT vec_id, cid, band,
       |               CASE WHEN f.j < 0 THEN bv
       |                    ELSE xor(bv, CAST(1 AS BIGINT) << f.j) END AS pv
       |          FROM bnd, (VALUES (-1),(0),(1),(2),(3),(4),(5),(6),(7)) f(j)),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |           FROM prb x JOIN bnd y
       |             ON x.band = y.band AND x.pv = y.bv AND x.cid = y.cid
       |                AND x.vec_id < y.vec_id),
       |v AS (SELECT cand.a, cand.b, ${cosSql("ea.emb", "eb.emb")} AS cos
       |        FROM cand JOIN de ea ON cand.a = ea.vec_id
       |                  JOIN de eb ON cand.b = eb.vec_id)""".stripMargin

  /** Pinned product-space IMI quantizer ([[ImiPins]], regenerate with
    * `runMain graft.Pins`) and its full probe chain — member
    * table `mem` (per vector: argmin-L2 first-half cell × argmin-L2
    * second-half cell, the [[graft.operators.KMeans.trainSubCenters]]
    * assignment discipline) and ranked probe results `ir` (per query:
    * the 8 JOINT-nearest fine cells by d1+d2 — the multi-sequence probe,
    * replayed here as a full kSide² rank since the oracle only ever runs
    * at gate scale — members ranked by exact cosine) — shared by
    * q_ann_imi, q_imi_stats and q_imi_recall so the
    * recall gate measures exactly the ranking the topk gate
    * hash-verifies. Tie-breaks mirror the kernel's (d asc, cid asc)
    * struct order: ROW_NUMBER ... ORDER BY d, cid. */
  private def imiProbeCtes: String =
    imiProbeCtesFor(ImiPins.b1K4I2, ImiPins.b2K4I2)

  /** [[imiProbeCtes]] over the UPSERT-bootstrap pins ([[ImiUpsertPins]] —
    * books trained on the vec_id % 4 ≠ 3 base split, regenerate with
    * `runMain graft.Pins`): the q_ann_upsert oracle assigns
    * the FULL corpus with the frozen base-trained books, which is the
    * upsert-≡-bulk invariance itself — under frozen books, per-row
    * assignment is a pure function, so (persisted base members + appended
    * delta members) must equal one bulk pass over everything. */
  private def imiUpsertProbeCtes: String =
    imiProbeCtesFor(ImiUpsertPins.b1K4I2, ImiUpsertPins.b2K4I2)

  /** One named CTE computing the EXACT-arithmetic occupancy TVD between
    * a bootstrap corpus and an arrival batch, both assigned under the
    * same pinned books — the q_index_drift statistic reduced to its
    * scalar (Σ|n_boot·t_arr − n_arr·t_boot| / (2·t_boot·t_arr): integer
    * sums, ONE final division — bit-deterministic under any aggregation
    * order, mirroring [[graft.operators.Imi.driftTvd]]). */
  private def driftTvdCte(name: String,
                          book1: Seq[(Long, Seq[Double])],
                          book2: Seq[(Long, Seq[Double])],
                          bootEmbCte: String, arrEmbCte: String): String =
    s"""$name AS (
       |WITH boot AS (WITH ${imiProbeCtesFor(book1, book2, embCte = bootEmbCte)}
       |  SELECT scell, sub, CAST(COUNT(*) AS BIGINT) AS n_boot FROM mem GROUP BY scell, sub),
       |arr AS (WITH ${imiProbeCtesFor(book1, book2, embCte = arrEmbCte)}
       |  SELECT scell, sub, CAST(COUNT(*) AS BIGINT) AS n_arr FROM mem GROUP BY scell, sub),
       |j AS (SELECT COALESCE(boot.scell, arr.scell) AS scell,
       |             COALESCE(boot.sub, arr.sub) AS sub,
       |             COALESCE(n_boot, 0) AS n_boot, COALESCE(n_arr, 0) AS n_arr
       |        FROM boot FULL JOIN arr
       |          ON boot.scell = arr.scell AND boot.sub = arr.sub),
       |t AS (SELECT SUM(n_boot) AS t_boot, SUM(n_arr) AS t_arr FROM j)
       |SELECT CASE WHEN t.t_boot * t.t_arr = 0 THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(SUM(ABS(j.n_boot * t.t_arr - j.n_arr * t.t_boot)) AS DOUBLE)
       |                 / (2.0 * CAST(t.t_boot AS DOUBLE) * CAST(t.t_arr AS DOUBLE)) END AS tvd
       |  FROM j, t GROUP BY t.t_boot, t.t_arr)""".stripMargin

  /** The recall tail of the drifted banded chain (truth over `de`, found
    * from `v`) reduced to the scalar — shared by the lifecycle gate's two
    * recall legs. */
  private def driftedRecallTail: String =
    s"""xp AS (SELECT x.vec_id AS a, y.vec_id AS b
       |         FROM de x JOIN de y ON x.vec_id < y.vec_id
       |        WHERE ${cosSql("x.emb", "y.emb")} >= 0.45),
       |f AS (SELECT a, b FROM v WHERE cos >= 0.45),
       |h AS (SELECT f.a FROM f JOIN xp ON f.a = xp.a AND f.b = xp.b),
       |n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM xp) AS n_true,
       |             (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_hit)
       |SELECT CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
       |  FROM n""".stripMargin

  private def imiProbeCtesFor(book1: Seq[(Long, Seq[Double])],
                              book2: Seq[(Long, Seq[Double])],
                              memFilter: String = "TRUE",
                              embCte: String = EMB): String = {
    def dlit(d: Double): String = {
      val s = d.toString
      if (s.contains("E") || s.contains("e")) s else s + "E0"
    }
    def bookRows(book: Seq[(Long, Seq[Double])]): String = book.map {
      case (cid, cv) => s"(CAST($cid AS BIGINT), [${cv.map(dlit).mkString(", ")}])"
    }.mkString(", ")
    def halfAsn(prefix: String, book: String, slice: String,
                cellCol: String): String =
      s"""${prefix}a AS (SELECT e.vec_id, e.emb, b.cid,
         |              ${sqdistSql(slice, "b.cv")} AS d FROM e, $book b),
         |${prefix}r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM ${prefix}a),
         |${prefix}c AS (SELECT vec_id, emb, cid AS $cellCol FROM ${prefix}r WHERE rk = 1)""".stripMargin
    s"""$embCte,
       |b1 AS (SELECT cid, cv FROM (VALUES ${bookRows(book1)}) t(cid, cv)),
       |b2 AS (SELECT cid, cv FROM (VALUES ${bookRows(book2)}) t(cid, cv)),
       |${halfAsn("h1", "b1", "list_slice(e.emb, 1, 32)", "scell")},
       |${halfAsn("h2", "b2", "list_slice(e.emb, 33, 64)", "sub")},
       |mem AS (SELECT a.vec_id AS nid, a.emb AS nv, a.scell, b.sub
       |          FROM h1c a JOIN h2c b ON a.vec_id = b.vec_id
       |         WHERE $memFilter),
       |p1qa AS (SELECT e.vec_id AS qid, e.emb AS qv, b.cid,
       |              ${sqdistSql("list_slice(e.emb, 1, 32)", "b.cv")} AS d
       |         FROM e, b1 b WHERE e.vec_id < 5),
       |p2qa AS (SELECT e.vec_id AS qid, b.cid,
       |              ${sqdistSql("list_slice(e.emb, 33, 64)", "b.cv")} AS d
       |         FROM e, b2 b WHERE e.vec_id < 5),
       |pj AS (SELECT q1.qid, q1.qv, q1.cid AS scell, q2.cid AS sub, q1.d + q2.d AS d
       |         FROM p1qa q1 JOIN p2qa q2 ON q1.qid = q2.qid),
       |pjr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, scell, sub) AS rk FROM pj),
       |prb AS (SELECT qid, qv, scell, sub FROM pjr WHERE rk <= 8),
       |isc AS (SELECT p.qid, m.nid, ${cosSql("p.qv", "m.nv")} AS cos
       |          FROM prb p JOIN mem m ON p.scell = m.scell AND p.sub = m.sub
       |         WHERE m.nid <> p.qid),
       |ir AS (SELECT qid, nid,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
       |         FROM isc)""".stripMargin
  }

  /** Pinned per-subspace PQ codebooks ([[PqPins]], regenerate with
    * `runMain graft.Pins`) as one (s, cid, cv) VALUES relation —
    * the same E0-literal discipline as [[ivfCentCte]]. */
  private def pqCentCte: String = pqCentCteFor(PqPins.embeddingsM8K16I2)

  private def pqCentCteFor(pins: Seq[(Int, Seq[(Long, Seq[Double])])]): String = {
    def dlit(d: Double): String = {
      val s = d.toString
      if (s.contains("E") || s.contains("e")) s else s + "E0"
    }
    val rows = pins.flatMap { case (s, book) =>
      book.map { case (cid, cv) =>
        s"(CAST($s AS INT), CAST($cid AS BIGINT), [${cv.map(dlit).mkString(", ")}])"
      }
    }.mkString(", ")
    s"pqc AS (SELECT s, cid, cv FROM (VALUES $rows) t(s, cid, cv))"
  }

  private def sqdistSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), z -> (z[1]-z[2])*(z[1]-z[2])))"

  /** PQ encode chain ending in (vec_id, codes LIST) rows `enc` — shared by
    * q_pq_codes and q_pq_adc so the ADC gate can never verify codes a
    * divergent encoder produced. Mirrors
    * [[graft.operators.Similarity.pqEncode]]: per (vector, subspace),
    * argmin squared distance over the 16 pinned sub-centers with the
    * (d asc, cid asc) tie-break. */
  private def pqEncCtes: String = s"$EMB,\n$pqEncCtesNoEmb"

  /** [[pqEncCtes]] without the leading embeddings CTE, so it can compose
    * with a WITH list that already defines `e` (q_ivfpq). */
  private def pqEncCtesNoEmb: String =
    pqEncCtesNoEmbFor(PqPins.embeddingsM8K16I2)

  private def pqEncCtesNoEmbFor(
      pins: Seq[(Int, Seq[(Long, Seq[Double])])]): String =
    s"""${pqCentCteFor(pins)},
       |pa AS (SELECT e.vec_id, c.s, c.cid,
       |              ${sqdistSql("list_slice(e.emb, c.s*8 + 1, c.s*8 + 8)", "c.cv")} AS d
       |         FROM e, pqc c),
       |prk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn FROM pa),
       |enc AS (SELECT vec_id, list(cid ORDER BY s) AS codes FROM prk WHERE rn = 1 GROUP BY vec_id)""".stripMargin

  /** The ADC chain on top of [[pqEncCtes]]: reconstructions `rec` (list
    * concat in subspace order), query set `q`, scored `sc`, ranked `rkd` —
    * shared by q_pq_adc and q_pq_recall so the recall gate measures
    * exactly the ADC ranking q_pq_adc hash-verifies. The single sqdist
    * fold over all 64 reconstructed dims is the same index-order
    * summation as the engine's SqDiffSum over the flattened
    * reconstruction, so the raw adc doubles hash bit-identically. */
  /** The reconstruction CTE `rec` over `enc`+`pqc` (list concat in
    * subspace order) — shared by the ADC chain and q_ivfpq. */
  private def pqRecCte: String =
    s"""rec AS (SELECT n.vec_id,
       |               c0.cv || c1.cv || c2.cv || c3.cv || c4.cv || c5.cv || c6.cv || c7.cv AS rv
       |          FROM enc n
       |          JOIN pqc c0 ON c0.s = 0 AND c0.cid = n.codes[1]
       |          JOIN pqc c1 ON c1.s = 1 AND c1.cid = n.codes[2]
       |          JOIN pqc c2 ON c2.s = 2 AND c2.cid = n.codes[3]
       |          JOIN pqc c3 ON c3.s = 3 AND c3.cid = n.codes[4]
       |          JOIN pqc c4 ON c4.s = 4 AND c4.cid = n.codes[5]
       |          JOIN pqc c5 ON c5.s = 5 AND c5.cid = n.codes[6]
       |          JOIN pqc c6 ON c6.s = 6 AND c6.cid = n.codes[7]
       |          JOIN pqc c7 ON c7.s = 7 AND c7.cid = n.codes[8])""".stripMargin

  private def pqAdcCtes: String =
    s"""$pqEncCtes,
       |$pqRecCte,
       |q AS (SELECT vec_id AS qid, emb AS qv FROM e WHERE vec_id < 5),
       |sc AS (SELECT q.qid, r.vec_id AS nid, ${sqdistSql("q.qv", "r.rv")} AS adc
       |         FROM q, rec r WHERE r.vec_id <> q.qid),
       |rkd AS (SELECT qid, nid, adc,
       |               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS BIGINT) AS rank
       |          FROM sc)""".stripMargin

  /** IVF-PQ probe→reconstruct→score→rank chain ending in ranked
    * (qid, nid, cos, rank) rows `pr` — shared by q_ivfpq and
    * q_ivfpq_recall so the recall gate measures exactly the composed
    * index q_ivfpq hash-verifies. */
  private def ivfPqCtes: String =
    s"""$ivfProbeCtes,
       |$pqEncCtesNoEmb,
       |$pqRecCte,
       |psc AS (SELECT p.qid, c.nid, MAX(${cosSql("p.qv", "r2.rv")}) AS cos
       |          FROM cells c
       |          JOIN rec r2 ON c.nid = r2.vec_id
       |          JOIN probes p ON c.cid = p.cid
       |         WHERE c.nid <> p.qid GROUP BY p.qid, c.nid),
       |pr AS (SELECT qid, nid, cos,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
       |         FROM psc)""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"(list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2])) / " +
      s"(SQRT(list_sum(list_transform($a, v -> v*v))) * " +
      s"SQRT(list_sum(list_transform($b, v -> v*v)))))"

  /** DF-capped n-gram candidate machinery (rare shingles, per-doc sizes,
    * pair intersections) — shared by q_ngram_jaccard and
    * q_ngram_containment, mirroring [[graft.operators.Dedup]]'s
    * ngramInterSizes. */
  private def ngramCtes: String =
    s"""$SH,
       |rare AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM sh GROUP BY s) WHERE df <= 20),
       |rsh AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM rsh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS inter
       |            FROM rsh x JOIN rsh y ON x.s = y.s AND x.doc_id < y.doc_id
       |           GROUP BY x.doc_id, y.doc_id)""".stripMargin

  private val jaccardSelect =
    """SELECT i.a, i.b,
      |       CAST(i.inter AS DOUBLE)/CAST(ca.c + cb.c - i.inter AS DOUBLE) AS jaccard
      |  FROM inter i JOIN sz ca ON i.a = ca.doc_id JOIN sz cb ON i.b = cb.doc_id""".stripMargin

  /** The full MinHash-LSH candidate+verify CTE chain (shared by
    * q_minhash_lsh and q_dedup_clusters); mirrors [[graft.operators.Dedup]]
    * bit-for-bit — base h60 per shingle, rotate+xor variant k, 4-row bands,
    * exact Jaccard via shingle intersection. */
  /** The signature+banding CTE prefix (shingles → 60-bit hashes → h=16
    * minima → 4-row band signatures, ending in `bands`) — factored out of
    * [[minhashCtes]] so the cross-set incremental gate (q_incr_dedup) bands
    * with the exact same SQL as the self-join pair gates. */
  private def minhashBandCtes: String =
    s"""$SH,
       |ks AS (SELECT k, (k*7+3)%60 AS r,
       |              CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS c
       |         FROM generate_series(0, 15) g(k)),
       |bh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS b FROM sh),
       |mh AS (SELECT doc_id, k,
       |              MIN(xor(((b) >> (r)) | (((b) & ((CAST(1 AS BIGINT) << (r)) - 1)) << (60 - (r))), c)) AS mh
       |         FROM bh, ks GROUP BY doc_id, k),
       |bands AS (SELECT doc_id, CAST(FLOOR(k / CAST(4 AS DOUBLE)) AS INT) AS band,
       |                 string_agg(CAST(mh AS VARCHAR), '-' ORDER BY k) AS sig
       |            FROM mh GROUP BY 1, 2)""".stripMargin

  private def minhashCtes: String =
    s"""$minhashBandCtes,
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |           FROM bands x JOIN bands y
       |             ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM sh GROUP BY doc_id),
       |inter AS (SELECT cand.a, cand.b, CAST(COUNT(*) AS BIGINT) AS inter
       |            FROM cand JOIN sh sa ON cand.a = sa.doc_id
       |                      JOIN sh sb ON cand.b = sb.doc_id AND sa.s = sb.s
       |           GROUP BY cand.a, cand.b)""".stripMargin

  /** Verified near-dup pairs CTE (named `vp`): the LSH candidates with
    * exact Jaccard ≥ 0.5 — the ONE copy of the verification predicate,
    * shared by q_minhash_lsh, q_source_leak and (via [[ccLabCtes]]) the
    * whole cluster family, so no gate can verify a divergent pair set. */
  private def verifiedPairsCte: String =
    s"""vp AS ($jaccardSelect
       |        WHERE CAST(i.inter AS DOUBLE)/CAST(ca.c + cb.c - i.inter AS DOUBLE) >= 0.5)""".stripMargin

  /** Recursive transitive-closure chain over the verified LSH pairs,
    * ending in per-doc labels `lab` (cluster id = min reachable doc_id) —
    * the ONE copy of the cluster-merge SQL, shared by q_dedup_clusters,
    * q_dedup_survivors and q_dedup_retention so the three gates can never
    * verify divergent clusterings. Callers must open WITH RECURSIVE. */
  private def ccLabCtes: String =
    s"""$minhashCtes,
       |$verifiedPairsCte,
       |edges AS (SELECT a AS u, b AS w FROM vp UNION SELECT b AS u, a AS w FROM vp),
       |verts AS (SELECT DISTINCT u AS v FROM edges),
       |reach(v, r) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT e.u, rc.r FROM edges e JOIN reach rc ON e.w = rc.v),
       |lab AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)""".stripMargin

  /** Per-doc quality CTE chain ending in `qq(doc_id, quality)` — the
    * q_quality formula as a reusable block for the gates that compose
    * quality with other operators (best-of-cluster selection, the
    * quality-band dup profile). Names are q-prefixed to never collide
    * with the minhash/closure chains. */
  private def qualityCtes: String =
    s"""qt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
       |qg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |              CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
       |              CAST(SUM(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |         FROM qt GROUP BY doc_id),
       |qj AS (SELECT d.doc_id, g.n_tokens,
       |              CAST(g.n_distinct AS DOUBLE)/CAST(g.n_tokens AS DOUBLE) AS ttr,
       |              CAST(g.n_stop AS DOUBLE)/CAST(g.n_tokens AS DOUBLE) AS stop_ratio
       |         FROM $DOCS d JOIN qg g ON d.doc_id = g.doc_id),
       |qq AS (SELECT doc_id,
       |              CAST(0.5 AS DOUBLE)*ttr
       |                + CAST(0.3 AS DOUBLE)*LEAST(stop_ratio*CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
       |                + CAST(0.2 AS DOUBLE)*LEAST(CAST(n_tokens AS DOUBLE)/CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS quality
       |         FROM qj)""".stripMargin

  val sql: Map[String, String] = Map(
    // ---- text analysis ----
    "q_token_counts" ->
      s"""SELECT doc_id,
         |       CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
         |       CAST(length(text) AS BIGINT) AS n_chars,
         |       CAST(CEIL(length(text) / CAST(4 AS DOUBLE)) AS BIGINT) AS n_tokens_bpe
         |  FROM $DOCS ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""WITH d AS (SELECT doc_id, ' ' || text || ' ' AS p FROM $DOCS),
         |c AS (SELECT doc_id,
         |  (length(p)-length(replace(p,' the ','')))/5 + (length(p)-length(replace(p,' a ','')))/3 + (length(p)-length(replace(p,' of ','')))/4 AS c_en,
         |  (length(p)-length(replace(p,' le ','')))/4 + (length(p)-length(replace(p,' la ','')))/4 + (length(p)-length(replace(p,' et ','')))/4 AS c_fr,
         |  (length(p)-length(replace(p,' der ','')))/5 + (length(p)-length(replace(p,' die ','')))/5 + (length(p)-length(replace(p,' und ','')))/5 AS c_de,
         |  (length(p)-length(replace(p,' el ','')))/4 + (length(p)-length(replace(p,' los ','')))/5 + (length(p)-length(replace(p,' y ','')))/3 AS c_es
         |  FROM d)
         |SELECT doc_id,
         |       CAST(c_en AS BIGINT) AS c_en, CAST(c_fr AS BIGINT) AS c_fr,
         |       CAST(c_de AS BIGINT) AS c_de, CAST(c_es AS BIGINT) AS c_es,
         |       CASE WHEN c_en = GREATEST(c_en, c_fr, c_de, c_es) AND GREATEST(c_en, c_fr, c_de, c_es) > 0 THEN 'en'
         |            WHEN c_fr = GREATEST(c_en, c_fr, c_de, c_es) AND GREATEST(c_en, c_fr, c_de, c_es) > 0 THEN 'fr'
         |            WHEN c_de = GREATEST(c_en, c_fr, c_de, c_es) AND GREATEST(c_en, c_fr, c_de, c_es) > 0 THEN 'de'
         |            WHEN c_es = GREATEST(c_en, c_fr, c_de, c_es) AND GREATEST(c_en, c_fr, c_de, c_es) > 0 THEN 'es'
         |            ELSE 'und' END AS lang_pred
         |  FROM c ORDER BY doc_id""".stripMargin,
    // declared-vs-predicted language confusion matrix: the q_lang_id
    // heuristic as a CTE, joined to the declared lang column
    "q_lang_confusion" ->
      s"""WITH d AS (SELECT doc_id, ' ' || text || ' ' AS p FROM $DOCS),
         |c AS (SELECT doc_id,
         |  (length(p)-length(replace(p,' the ','')))/5 + (length(p)-length(replace(p,' a ','')))/3 + (length(p)-length(replace(p,' of ','')))/4 AS c_en,
         |  (length(p)-length(replace(p,' le ','')))/4 + (length(p)-length(replace(p,' la ','')))/4 + (length(p)-length(replace(p,' et ','')))/4 AS c_fr,
         |  (length(p)-length(replace(p,' der ','')))/5 + (length(p)-length(replace(p,' die ','')))/5 + (length(p)-length(replace(p,' und ','')))/5 AS c_de,
         |  (length(p)-length(replace(p,' el ','')))/4 + (length(p)-length(replace(p,' los ','')))/5 + (length(p)-length(replace(p,' y ','')))/3 AS c_es
         |  FROM d),
         |pr AS (SELECT doc_id,
         |       CASE WHEN c_en = GREATEST(c_en, c_fr, c_de, c_es) AND GREATEST(c_en, c_fr, c_de, c_es) > 0 THEN 'en'
         |            WHEN c_fr = GREATEST(c_en, c_fr, c_de, c_es) AND GREATEST(c_en, c_fr, c_de, c_es) > 0 THEN 'fr'
         |            WHEN c_de = GREATEST(c_en, c_fr, c_de, c_es) AND GREATEST(c_en, c_fr, c_de, c_es) > 0 THEN 'de'
         |            WHEN c_es = GREATEST(c_en, c_fr, c_de, c_es) AND GREATEST(c_en, c_fr, c_de, c_es) > 0 THEN 'es'
         |            ELSE 'und' END AS lang_pred
         |  FROM c)
         |SELECT doc.lang AS lang_decl, pr.lang_pred,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM pr JOIN $DOCS doc ON pr.doc_id = doc.doc_id
         | GROUP BY doc.lang, pr.lang_pred
         | ORDER BY lang_decl, lang_pred""".stripMargin,
    // exact two-sample KS between train/holdout length distributions:
    // split rule mirrors q_split; CDF gap via integer cross-multiplication
    "q_split_drift" ->
      s"""WITH b AS (SELECT n_chars,
         |                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8 AS is_tr
         |             FROM $DOCS),
         |g AS (SELECT n_chars,
         |             CAST(SUM(CASE WHEN is_tr THEN 1 ELSE 0 END) AS BIGINT) AS c_tr,
         |             CAST(SUM(CASE WHEN is_tr THEN 0 ELSE 1 END) AS BIGINT) AS c_ho
         |        FROM b GROUP BY n_chars),
         |c AS (SELECT CAST(SUM(c_tr) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tr,
         |             CAST(SUM(c_ho) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ho
         |        FROM g),
         |t AS (SELECT CAST(SUM(c_tr) AS BIGINT) AS n_train,
         |             CAST(SUM(c_ho) AS BIGINT) AS n_holdout FROM g)
         |SELECT t.n_train, t.n_holdout,
         |       CAST(MAX(ABS(cum_tr * t.n_holdout - cum_ho * t.n_train)) AS BIGINT) AS d_scaled,
         |       CAST(MAX(ABS(cum_tr * t.n_holdout - cum_ho * t.n_train)) AS DOUBLE)
         |         / CAST(t.n_train * t.n_holdout AS DOUBLE) AS ks
         |  FROM c, t GROUP BY t.n_train, t.n_holdout""".stripMargin,
    // embedding squared-norm histogram: self-dot via the same
    // list_sum(list_transform(list_zip)) fold the ANN oracles pin
    "q_emb_norms" ->
      s"""WITH $EMB,
         |s AS (SELECT list_sum(list_transform(list_zip(emb, emb), z -> z[1]*z[2])) AS sq FROM e)
         |SELECT CAST(FLOOR(sq * 64.0) AS BIGINT) AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       MIN(sq) AS min_sq, MAX(sq) AS max_sq
         |  FROM s GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_quality" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         |             CAST(SUM(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |        FROM t GROUP BY doc_id),
         |j AS (SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         |             g.n_tokens, g.n_distinct, g.n_stop,
         |             CAST(g.n_distinct AS DOUBLE)/CAST(g.n_tokens AS DOUBLE) AS ttr,
         |             CAST(g.n_stop AS DOUBLE)/CAST(g.n_tokens AS DOUBLE) AS stop_ratio
         |        FROM $DOCS d JOIN g ON d.doc_id = g.doc_id)
         |SELECT doc_id, n_chars, n_tokens, n_distinct, n_stop, ttr, stop_ratio,
         |       CAST(0.5 AS DOUBLE)*ttr
         |         + CAST(0.3 AS DOUBLE)*LEAST(stop_ratio*CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
         |         + CAST(0.2 AS DOUBLE)*LEAST(CAST(n_tokens AS DOUBLE)/CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS quality
         |  FROM j ORDER BY doc_id""".stripMargin,
    "q_char_classes" ->
      s"""WITH c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |       CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
         |       CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_space
         |  FROM $DOCS)
         |SELECT doc_id, n_chars, n_alpha, n_digit, n_space,
         |       n_chars - n_alpha - n_digit - n_space AS n_punct,
         |       CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio
         |  FROM c ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""WITH $SH
         |SELECT doc_id, MIN(CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS fp
         |  FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_doc_stats" ->
      s"""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
         |       CAST(MAX(n_chars) AS BIGINT) AS max_chars
         |  FROM $DOCS GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // ---- dedup ----
    "q_dedup_groups" ->
      s"""SELECT md5(text) AS h, MIN(doc_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS n_dups
         |  FROM $DOCS GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,
    // streaming twin: the converged per-hash state store must equal the
    // batch groupBy exactly (min/sum fold is order-free) — ALL groups, not
    // just duplicates, because the state tracks every distinct document
    "q_dedup_stream" ->
      s"""SELECT md5(text) AS h, MIN(doc_id) AS keeper,
         |       CAST(COUNT(*) AS BIGINT) AS n_copies
         |  FROM $DOCS GROUP BY md5(text) ORDER BY h""".stripMargin,
    // the statestore read-back of the drained checkpoint must equal the
    // same converged state
    "q_state_audit" ->
      s"""SELECT md5(text) AS h, MIN(doc_id) AS keeper,
         |       CAST(COUNT(*) AS BIGINT) AS n_copies
         |  FROM $DOCS GROUP BY md5(text) ORDER BY h""".stripMargin,
    "q_dedup_summary" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
         |       CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_dup_docs
         |  FROM $DOCS""".stripMargin,
    "q_minhash_lsh" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte
         |SELECT a, b, jaccard FROM vp ORDER BY a, b""".stripMargin,
    // the streaming ingest screen converges to the batch LSH exactly
    // (carving-invariant bucket membership + the same verify kernel), so
    // it rides the same oracle
    "q_neardup_stream" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte
         |SELECT a, b, jaccard FROM vp ORDER BY a, b""".stripMargin,
    // cross-source leakage matrix over the SAME verified pair set as
    // q_minhash_lsh (shared verifiedPairsCte): endpoint sources, pair
    // normalized LEAST/GREATEST, counted per source pair
    "q_source_leak" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte,
         |src AS (SELECT doc_id, source FROM $DOCS)
         |SELECT LEAST(x.source, y.source) AS src_a,
         |       GREATEST(x.source, y.source) AS src_b,
         |       CAST(COUNT(*) AS BIGINT) AS pairs
         |  FROM vp JOIN src x ON vp.a = x.doc_id JOIN src y ON vp.b = y.doc_id
         | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // incremental ingestion screen: batch = src17, corpus = every other
    // source; exact = digest equi-join, near = cross-set band join over the
    // SAME banding prefix as the pair gates (shared minhashBandCtes), then
    // the same jaccard-≥-0.5 verification shape; exact wins precedence
    "q_incr_dedup" ->
      s"""WITH $minhashBandCtes,
         |src AS (SELECT doc_id, source, text FROM $DOCS),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |           FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
         |           JOIN src sx ON x.doc_id = sx.doc_id
         |           JOIN src sy ON y.doc_id = sy.doc_id
         |          WHERE sx.source = 'src17' AND sy.source <> 'src17'),
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT cand.a, cand.b, CAST(COUNT(*) AS BIGINT) AS inter
         |            FROM cand JOIN sh sa ON cand.a = sa.doc_id
         |                      JOIN sh sb ON cand.b = sb.doc_id AND sa.s = sb.s
         |           GROUP BY cand.a, cand.b),
         |near AS (SELECT i.a AS doc_id, MIN(i.b) AS m
         |           FROM inter i JOIN sz ca ON i.a = ca.doc_id JOIN sz cb ON i.b = cb.doc_id
         |          WHERE CAST(i.inter AS DOUBLE)/CAST(ca.c + cb.c - i.inter AS DOUBLE) >= CAST(0.5 AS DOUBLE)
         |          GROUP BY i.a),
         |exact AS (SELECT b.doc_id, MIN(c.doc_id) AS m
         |            FROM src b JOIN src c ON md5(b.text) = md5(c.text)
         |           WHERE b.source = 'src17' AND c.source <> 'src17'
         |           GROUP BY b.doc_id)
         |SELECT b.doc_id AS doc_id,
         |       CASE WHEN e.m IS NOT NULL THEN 'exact_dup'
         |            WHEN n.m IS NOT NULL THEN 'near_dup'
         |            ELSE 'new' END AS status,
         |       COALESCE(e.m, n.m) AS match_id
         |  FROM src b LEFT JOIN exact e ON b.doc_id = e.doc_id
         |             LEFT JOIN near n ON b.doc_id = n.doc_id
         | WHERE b.source = 'src17'
         | ORDER BY b.doc_id""".stripMargin,
    // sorted-neighborhood method: the oracle ranks with ONE global window —
    // the engine's two-level bucket rank composes to the identical
    // (key, doc_id) total order, so the w-window pair sets must agree
    "q_sorted_neighbors" ->
      s"""WITH d AS (SELECT doc_id, lower(substr(text, 1, 40)) AS key,
         |                  lower(substr(text, 1, 64)) AS norm
         |             FROM $DOCS WHERE text IS NOT NULL),
         |r AS (SELECT doc_id, norm,
         |             row_number() OVER (ORDER BY key, doc_id) AS rank
         |        FROM d)
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |       CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS lev
         |  FROM r a JOIN r b ON b.rank > a.rank AND b.rank - a.rank <= 7
         | WHERE levenshtein(a.norm, b.norm) <= 12
         | ORDER BY a, b""".stripMargin,
    // short-text edit-distance near-dups: the oracle is the naive quadratic
    // join the engine's Δ-band equi-join must reproduce pair-for-pair
    "q_editdist_pairs" ->
      s"""WITH d AS (SELECT doc_id, lower(text) AS t,
         |                  CAST(length(text) AS BIGINT) AS len
         |             FROM $DOCS WHERE text IS NOT NULL AND length(text) <= 200)
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |       CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 16
         | WHERE levenshtein(a.t, b.t) <= 16
         | ORDER BY a, b""".stripMargin,
    // clusters = connected components over the verified LSH pairs, via a
    // recursive transitive closure (cluster id = min reachable doc_id) —
    // the engine's iterative min-label propagation must land on the same
    // fixpoint
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $ccLabCtes
         |SELECT doc_id, cluster_id FROM lab ORDER BY doc_id""".stripMargin,
    // survivors = all docs minus non-representative cluster members
    // (representative = min doc_id = the cluster label) — same recursive
    // closure as q_dedup_clusters, then an anti-join against the corpus
    "q_dedup_survivors" ->
      s"""WITH RECURSIVE $ccLabCtes
         |SELECT d.doc_id FROM $DOCS d
         | WHERE NOT EXISTS (SELECT 1 FROM lab
         |                    WHERE lab.doc_id = d.doc_id AND lab.cluster_id <> lab.doc_id)
         | ORDER BY doc_id""".stripMargin,
    // LSH tuning summary: candidate/verified counts off the SAME chain the
    // pair gates use; sz = docs with >=1 shingle (the signature domain)
    "q_lsh_tuning" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sz) AS n_docs,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM vp) AS n_verified,
         |       CAST((SELECT COUNT(*) FROM vp) AS DOUBLE)
         |         / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE) AS prec""".stripMargin,
    // (the full-corpus q_lsh_recall oracle was retired with its contract
    // entry — r9 verdict #3; the sampled twin below is the recall gate)
    // sampled LSH recall: same brute-force einter ground truth restricted
    // to pairs touching the md5-selected 1/4 doc sample (the engine's
    // samplePred twin — membership replays exactly)
    "q_lsh_recall_sampled" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte,
         |einter AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS inter
         |             FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |            GROUP BY 1, 2),
         |samp AS (SELECT doc_id FROM sz
         |          WHERE ${graft.functions.Hashes.h60Sql("'lsr:' || CAST(doc_id AS VARCHAR)")} % 4 = 0),
         |ex AS (SELECT einter.a, einter.b FROM einter
         |         JOIN sz ca ON einter.a = ca.doc_id
         |         JOIN sz cb ON einter.b = cb.doc_id
         |        WHERE einter.inter * 5 >= (ca.c + cb.c - einter.inter) * 4
         |          AND (einter.a IN (SELECT doc_id FROM samp)
         |               OR einter.b IN (SELECT doc_id FROM samp))),
         |hit AS (SELECT ex.a FROM ex JOIN vp ON ex.a = vp.a AND ex.b = vp.b)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_caught,
         |       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         |         / CAST((SELECT COUNT(*) FROM ex) AS DOUBLE) AS recall""".stripMargin,
    // keyword search: whole-bit idf, OR semantics, (score desc, doc_id)
    // total order, top-10
    "q_search" ->
      s"""WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM $DOCS),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS)
         |        WHERE tok IN ('data', 'model', 'learning')
         |        GROUP BY doc_id, tok),
         |dft AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY tok)
         |SELECT tf.doc_id,
         |       CAST(COUNT(DISTINCT tf.tok) AS BIGINT) AS n_terms,
         |       CAST(SUM(tf.tf * ((length(bin(nd.nd)) - 1) - (length(bin(dft.df)) - 1))) AS BIGINT) AS score
         |  FROM tf JOIN dft ON tf.tok = dft.tok, nd
         | GROUP BY tf.doc_id
         | ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // one-row dataset card: two aggregations, one IEEE mean
    "q_dataset_card" ->
      s"""WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |                  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
         |             FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM $DOCS)),
         |d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(COUNT(DISTINCT text) AS BIGINT) AS n_texts,
         |             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |             CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |        FROM $DOCS)
         |SELECT d.n_docs, t.n_tokens, t.n_types, d.n_langs, d.n_sources,
         |       d.n_docs - d.n_texts AS n_exact_dups, d.total_chars,
         |       CAST(t.n_tokens AS DOUBLE) / CAST(d.n_docs AS DOUBLE) AS tokens_per_doc
         |  FROM d, t""".stripMargin,
    // windowed (±2) skip-gram co-occurrence lift: unordered pairs via
    // LEAST/GREATEST, same pinned ratio tree as q_bigram_lift
    "q_cooccur" ->
      s"""WITH u AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
         |             FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM $DOCS)
         |            GROUP BY tok),
         |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM u),
         |a AS (SELECT string_split(text, ' ') AS t FROM $DOCS
         |       WHERE len(string_split(text, ' ')) >= 2),
         |p AS (SELECT LEAST(t[CAST(w.i AS INT)], t[CAST(w.i AS INT) + v.d]) AS wa,
         |             GREATEST(t[CAST(w.i AS INT)], t[CAST(w.i AS INT) + v.d]) AS wb
         |        FROM a, (VALUES (1), (2)) v(d),
         |             LATERAL unnest(generate_series(1, len(t) - v.d)) w(i)),
         |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM p),
         |g AS (SELECT wa, wb, CAST(COUNT(*) AS BIGINT) AS c_ab
         |        FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         |SELECT g.wa, g.wb, g.c_ab, ua.c AS c_a, ub.c AS c_b,
         |       (CAST(g.c_ab AS DOUBLE) / CAST(np.np AS DOUBLE))
         |         / ((CAST(ua.c AS DOUBLE) / CAST(nu.nu AS DOUBLE))
         |            * (CAST(ub.c AS DOUBLE) / CAST(nu.nu AS DOUBLE))) AS lift
         |  FROM g JOIN u ua ON g.wa = ua.tok JOIN u ub ON g.wb = ub.tok, np, nu
         | ORDER BY wa, wb""".stripMargin,
    // per-doc OOV rate under the top-1000 (cf desc, tok) vocabulary
    "q_oov_rate" ->
      s"""WITH v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf
         |             FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM $DOCS)
         |            GROUP BY tok),
         |vk AS (SELECT tok FROM (SELECT tok, ROW_NUMBER() OVER (ORDER BY cf DESC, tok) AS rk FROM v)
         |        WHERE rk <= 1000),
         |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS)
         |SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN vk.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       CAST(SUM(CASE WHEN vk.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS oov_frac
         |  FROM dt LEFT JOIN vk ON dt.tok = vk.tok
         | GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin,
    // whitespace/encoding normalization audit; 'g' flag mirrors Spark's
    // always-global regexp_replace
    "q_text_norm" ->
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '\\t')) AS BIGINT) AS n_tabs,
         |       CAST(len(regexp_extract_all(text, ' {2,}')) AS BIGINT) AS n_multispace,
         |       CAST(len(regexp_extract_all(text, '[^\\x00-\\x7F]')) AS BIGINT) AS n_nonascii,
         |       CAST(('0x' || substr(md5(trim(regexp_replace(text, ' {2,}', ' ', 'g'))), 1, 15)) AS BIGINT) AS norm_fp,
         |       trim(regexp_replace(text, ' {2,}', ' ', 'g')) <> text AS changed
         |  FROM $DOCS ORDER BY doc_id""".stripMargin,
    // length-matched deterministic resampling: integer band thresholds,
    // 20-bit hash coins, split rule mirrors q_split
    "q_dist_match" ->
      s"""WITH s AS (SELECT doc_id, n_chars // 100 AS band,
         |                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8 AS is_tr,
         |                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 AS coin
         |             FROM $DOCS),
         |b AS (SELECT band, CAST(SUM(CASE WHEN is_tr THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
         |             CAST(SUM(CASE WHEN is_tr THEN 0 ELSE 1 END) AS BIGINT) AS n_ho
         |        FROM s GROUP BY band),
         |t AS (SELECT CAST(SUM(n_tr) AS BIGINT) AS t_tr, CAST(SUM(n_ho) AS BIGINT) AS t_ho FROM b),
         |th AS (SELECT band, n_tr, n_ho,
         |              CASE WHEN n_tr = 0 THEN CAST(0 AS BIGINT)
         |                   ELSE LEAST(CAST(1048576 AS BIGINT),
         |                              (1048576 * n_ho * t.t_tr) // (t.t_ho * n_tr)) END AS thr
         |         FROM b, t),
         |k AS (SELECT s.band, CAST(COUNT(*) AS BIGINT) AS n_kept
         |        FROM s JOIN th ON s.band = th.band
         |       WHERE s.is_tr AND s.coin < th.thr GROUP BY s.band)
         |SELECT th.band AS band, th.n_tr, th.n_ho, th.thr,
         |       COALESCE(k.n_kept, CAST(0 AS BIGINT)) AS n_kept
         |  FROM th LEFT JOIN k ON th.band = k.band ORDER BY th.band""".stripMargin,
    // best-of-cluster selection: same closure, SELECTION by quality
    // (tie → min doc_id); singletons survive as their own representative
    "q_dedup_best" ->
      s"""WITH RECURSIVE $ccLabCtes,
         |$qualityCtes,
         |bestc AS (SELECT lab.doc_id, lab.cluster_id, qq.quality,
         |                 ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
         |                     ORDER BY qq.quality DESC, lab.doc_id) AS rn
         |            FROM lab JOIN qq ON lab.doc_id = qq.doc_id)
         |SELECT doc_id, cluster_id, quality FROM bestc WHERE rn = 1
         |UNION ALL
         |SELECT d.doc_id AS doc_id, d.doc_id AS cluster_id, qq.quality
         |  FROM $DOCS d JOIN qq ON d.doc_id = qq.doc_id
         | WHERE NOT EXISTS (SELECT 1 FROM lab WHERE lab.doc_id = d.doc_id)
         | ORDER BY doc_id""".stripMargin,
    // duplication-by-quality-band: value bands on the bit-gated quality,
    // exact-dup flag = non-min-id member of a text group
    "q_quality_dups" ->
      s"""WITH $qualityCtes,
         |k AS (SELECT text, MIN(doc_id) AS keeper FROM $DOCS GROUP BY text),
         |f AS (SELECT d.doc_id, d.doc_id <> k.keeper AS is_dup
         |        FROM $DOCS d JOIN k ON d.text = k.text)
         |SELECT CAST(FLOOR(qq.quality * 20.0) AS BIGINT) AS q_band,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN f.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |       CAST(SUM(CASE WHEN f.is_dup THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS dup_frac
         |  FROM qq JOIN f ON qq.doc_id = f.doc_id
         | GROUP BY 1 ORDER BY q_band""".stripMargin,
    // per-source retention after near-dup removal: same closure, dropped =
    // non-representative members, aggregated per source
    "q_dedup_retention" ->
      s"""WITH RECURSIVE $ccLabCtes,
         |sel AS (SELECT d.source,
         |               CASE WHEN EXISTS (SELECT 1 FROM lab
         |                                  WHERE lab.doc_id = d.doc_id
         |                                    AND lab.cluster_id <> lab.doc_id)
         |                    THEN 1 ELSE 0 END AS dropped
         |          FROM $DOCS d)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(*) - SUM(dropped) AS BIGINT) AS n_survivors,
         |       CAST(COUNT(*) - SUM(dropped) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS retention
         |  FROM sel GROUP BY source ORDER BY source""".stripMargin,
    // degree assortativity of the verified near-dup graph: directed edge
    // list, integer moment sums, ONE division (symmetric denominator)
    "q_assortativity" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte,
         |de AS (SELECT a AS u, b AS v FROM vp UNION ALL SELECT b AS u, a AS v FROM vp),
         |dg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM de GROUP BY u),
         |e AS (SELECT dx.d AS dx, dy.d AS dy
         |        FROM de JOIN dg dx ON de.u = dx.u JOIN dg dy ON de.v = dy.u),
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
         |             CAST(SUM(dx) AS BIGINT) AS sx,
         |             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         |             CAST(SUM(dx * dy) AS BIGINT) AS sxy FROM e)
         |SELECT m, sx, sxx, sxy,
         |       CASE WHEN m * sxx <> sx * sx
         |            THEN CAST(m * sxy - sx * sx AS DOUBLE)
         |                   / CAST(m * sxx - sx * sx AS DOUBLE)
         |       END AS r
         |  FROM g""".stripMargin,
    // token-mass dedup ROI: same closure, dropped members' token counts
    "q_dedup_tokens" ->
      s"""WITH RECURSIVE $ccLabCtes,
         |tk AS (SELECT doc_id, source,
         |              CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |         FROM $DOCS),
         |sel AS (SELECT tk.source, tk.nt,
         |               CASE WHEN EXISTS (SELECT 1 FROM lab
         |                                  WHERE lab.doc_id = tk.doc_id
         |                                    AND lab.cluster_id <> lab.doc_id)
         |                    THEN 1 ELSE 0 END AS dropped
         |          FROM tk)
         |SELECT source, CAST(SUM(nt) AS BIGINT) AS tokens_before,
         |       CAST(SUM(CASE WHEN dropped = 1 THEN nt ELSE 0 END) AS BIGINT) AS tokens_dropped,
         |       CAST(SUM(nt) - SUM(CASE WHEN dropped = 1 THEN nt ELSE 0 END) AS BIGINT) AS tokens_after,
         |       CAST(SUM(CASE WHEN dropped = 1 THEN nt ELSE 0 END) AS DOUBLE)
         |         / CAST(SUM(nt) AS DOUBLE) AS savings
         |  FROM sel GROUP BY source ORDER BY source""".stripMargin,
    // ---- repetition metrics (bigrams via per-doc index ranges; 1-based
    // list subscripts pair token i with i+1, mirroring element_at) ----
    "q_repetition" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr FROM $DOCS
         |            WHERE length(string_split(text, ' ')) >= 2),
         |t AS (SELECT doc_id, unnest(arr) AS tok FROM d),
         |ts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |              CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
         |         FROM t GROUP BY doc_id),
         |b AS (SELECT doc_id,
         |             arr[CAST(i AS INT)] || ' ' || arr[CAST(i+1 AS INT)] AS bg
         |        FROM (SELECT doc_id, arr, unnest(range(1, length(arr))) AS i FROM d)),
         |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2),
         |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |              CAST(MAX(c) AS BIGINT) AS top_bigram FROM bc GROUP BY doc_id)
         |SELECT ts.doc_id, ts.n_tokens,
         |       CAST(ts.n_distinct AS DOUBLE)/CAST(ts.n_tokens AS DOUBLE) AS distinct_ratio,
         |       CAST(bs.top_bigram AS DOUBLE)/CAST(bs.n_bigrams AS DOUBLE) AS top_bigram_frac
         |  FROM ts JOIN bs ON ts.doc_id = bs.doc_id ORDER BY ts.doc_id""".stripMargin,
    // ---- exact order-independent centroids: float coords scaled by 2^30
    // and floored to exact BIGINTs (float·2^k is exact in double; FLOOR
    // sidesteps the engines' different double→int rounding), integer-summed,
    // divided back out in two identical IEEE ops ----
    "q_emb_centroids" ->
      s"""WITH x AS (SELECT CAST(label AS BIGINT) AS label, embedding AS emb,
         |                  unnest(range(0, length(embedding))) AS dim
         |             FROM '<sfDir>/embeddings.parquet'),
         |q AS (SELECT label, dim,
         |             CAST(FLOOR(CAST(emb[CAST(dim+1 AS INT)] AS DOUBLE) * 1073741824.0) AS BIGINT) AS qe
         |        FROM x)
         |SELECT label, CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
         |       (CAST(SUM(qe) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1073741824.0 AS centroid
         |  FROM q GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    // ---- Count-Min sketch: md5-derived hash rows make every counter and
    // estimate deterministic, so the oracle rebuilds the whole sketch ----
    "q_cms_tokens" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
         |             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
         |        FROM t GROUP BY tok),
         |ks AS (SELECT j, (j*7+3)%60 AS r,
         |              CAST(('0x' || substr(md5(CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) AS c
         |         FROM generate_series(0, 3) g(j)),
         |bk AS (SELECT v.tok, v.cnt, ks.j,
         |              xor(((h) >> (r)) | (((h) & ((CAST(1 AS BIGINT) << (r)) - 1)) << (60 - (r))), c) & 1023 AS b
         |         FROM v, ks),
         |cms AS (SELECT j, b, CAST(SUM(cnt) AS BIGINT) AS m FROM bk GROUP BY j, b)
         |SELECT bk.tok, bk.cnt AS exact, CAST(MIN(cms.m) AS BIGINT) AS est
         |  FROM bk JOIN cms ON bk.j = cms.j AND bk.b = cms.b
         | WHERE bk.cnt >= 50
         | GROUP BY bk.tok, bk.cnt ORDER BY tok""".stripMargin,
    // Mergeable histogram quantile sketch: the oracle rebuilds the bucket
    // state and inverts the CDF at the same integer-exact thresholds
    "q_quantile_sketch" ->
      s"""WITH h AS (SELECT event_type,
         |                  CAST(FLOOR(value / 5.0) AS BIGINT) AS bucket,
         |                  CAST(COUNT(*) AS BIGINT) AS cnt
         |             FROM '<sfDir>/events.parquet' GROUP BY 1, 2),
         |c AS (SELECT event_type, bucket, cnt,
         |             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         |             SUM(cnt) OVER (PARTITION BY event_type) AS n
         |        FROM h)
         |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         |       MIN(CASE WHEN cum * 2 >= n THEN (bucket + 1) * 5.0 END) AS p50,
         |       MIN(CASE WHEN cum * 10 >= n * 9 THEN (bucket + 1) * 5.0 END) AS p90,
         |       MIN(CASE WHEN cum * 100 >= n * 99 THEN (bucket + 1) * 5.0 END) AS p99
         |  FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // HLL registers via the shared binary-string rho; harmonic sum over
    // exact int64 terms; the two final IEEE ops replay identically
    "q_hll_daily" ->
      s"""WITH h AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
         |                  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |             FROM '<sfDir>/events.parquet'),
         |x AS (SELECT day, (h >> 52) & 255 AS bucket,
         |             h & ((CAST(1 AS BIGINT) << 52) - 1) AS low FROM h),
         |r AS (SELECT day, bucket, CASE WHEN low = 0 THEN 53
         |                               ELSE strpos(lpad(bin(low), 52, '0'), '1') END AS rho
         |        FROM x),
         |daily AS (SELECT day, bucket, MAX(rho) AS rho FROM r GROUP BY 1, 2),
         |days AS (SELECT DISTINCT day FROM h),
         |spine AS (SELECT g AS bucket FROM generate_series(0, 255) t(g)),
         |cum AS (SELECT g.day, g.bucket,
         |               CAST(MAX(COALESCE(daily.rho, 0)) OVER (PARTITION BY g.bucket ORDER BY g.day
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS reg
         |          FROM (SELECT d.day, s.bucket FROM days d CROSS JOIN spine s) g
         |          LEFT JOIN daily ON g.day = daily.day AND g.bucket = daily.bucket),
         |perday AS (SELECT day,
         |                  CAST(SUM(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS s,
         |                  CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
         |             FROM cum GROUP BY 1),
         |firsts AS (SELECT user_id, MIN(epoch_ns(ts) // 86400000000000) AS day
         |             FROM '<sfDir>/events.parquet' GROUP BY 1),
         |newu AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS nu FROM firsts GROUP BY 1),
         |ecum AS (SELECT d.day,
         |                CAST(SUM(COALESCE(n.nu, 0)) OVER (ORDER BY d.day
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_exact_cum
         |           FROM days d LEFT JOIN newu n ON d.day = n.day)
         |SELECT p.day, e.n_exact_cum, p.v_zero,
         |       (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 9007199254740992.0 / CAST(p.s AS DOUBLE) AS raw_est
         |  FROM perday p JOIN ecum e ON p.day = e.day ORDER BY p.day""".stripMargin,
    "q_hll_users" ->
      s"""WITH h AS (SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |             FROM '<sfDir>/events.parquet'),
         |x AS (SELECT (h >> 52) & 255 AS bucket,
         |             h & ((CAST(1 AS BIGINT) << 52) - 1) AS low FROM h),
         |r AS (SELECT bucket, CASE WHEN low = 0 THEN 53
         |                          ELSE strpos(lpad(bin(low), 52, '0'), '1') END AS rho
         |        FROM x),
         |regs AS (SELECT bucket, MAX(rho) AS reg FROM r GROUP BY bucket),
         |spine AS (SELECT g AS bucket FROM generate_series(0, 255) t(g)),
         |f AS (SELECT CAST(COALESCE(regs.reg, 0) AS INT) AS reg
         |        FROM spine LEFT JOIN regs ON spine.bucket = regs.bucket),
         |s AS (SELECT CAST(SUM(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS s,
         |             CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
         |        FROM f),
         |e AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
         |        FROM '<sfDir>/events.parquet')
         |SELECT e.n_exact, s.v_zero,
         |       (0.7213/(1.0 + 1.079/256.0)) * 65536.0 * 9007199254740992.0 / CAST(s.s AS DOUBLE) AS raw_est
         |  FROM e, s""".stripMargin,
    // ---- k-means (Lloyd): the oracle recomputes the full iteration chain —
    // init centers = k lowest vec_ids, one quantized-integer centroid update,
    // final assignment — with the same fold/cast shapes as the engine, so the
    // gate holds without any pinning ----
    "q_kmeans" ->
      s"""WITH $EMB,
         |c0 AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < 8),
         |d1 AS (SELECT e.vec_id, c0.cid,
         |              list_sum(list_transform(list_zip(e.emb, c0.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
         |         FROM e CROSS JOIN c0),
         |a1 AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid,
         |                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |           FROM d1) WHERE rn = 1),
         |x1 AS (SELECT a1.cid, e.emb, unnest(range(0, length(e.emb))) AS dim
         |         FROM a1 JOIN e ON a1.vec_id = e.vec_id),
         |m1 AS (SELECT cid, dim, COUNT(*) AS n,
         |              SUM(CAST(FLOOR(CAST(emb[CAST(dim+1 AS INT)] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS qsum
         |         FROM x1 GROUP BY cid, dim),
         |c1 AS (SELECT cid,
         |              list((CAST(qsum AS DOUBLE)/CAST(n AS DOUBLE))/1073741824.0 ORDER BY dim) AS cv
         |         FROM m1 GROUP BY cid),
         |d2 AS (SELECT e.vec_id, c1.cid,
         |              list_sum(list_transform(list_zip(e.emb, c1.cv), z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
         |         FROM e CROSS JOIN c1),
         |a2 AS (SELECT vec_id, cid, d FROM (
         |         SELECT vec_id, cid, d,
         |                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |           FROM d2) WHERE rn = 1)
         |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(CAST(FLOOR(d * 1048576.0) AS BIGINT)) AS BIGINT) AS qcost
         |  FROM a2 GROUP BY cid ORDER BY cid""".stripMargin,
    // degree of each doc in the verified LSH pair graph
    "q_pair_degrees" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM (SELECT a AS doc_id FROM vp UNION ALL SELECT b AS doc_id FROM vp)
         | GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // pattern scrub: RE2 and java.util.regex agree on this regex subset
    "q_scrub" ->
      s"""SELECT doc_id,
         |       CAST(length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_email,
         |       CAST(length(regexp_extract_all(text, '[0-9]{3,}')) AS BIGINT) AS n_num,
         |       CAST(length(regexp_extract_all(text, 'spark')) AS BIGINT) AS n_term,
         |       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
         |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
         |            '[0-9]{3,}', '<NUM>', 'g'),
         |            'spark', '<TERM>', 'g')) AS BIGINT) AS scrub_len
         |  FROM $DOCS ORDER BY doc_id""".stripMargin,
    // sink round trip: the oracle is the UNWRITTEN source — any loss in the
    // partitioned write/read cycle breaks the hash
    "q_parquet_roundtrip" ->
      s"SELECT doc_id, text, lang, source, n_chars FROM $DOCS ORDER BY doc_id",
    "q_json_roundtrip" ->
      s"SELECT doc_id, text, lang, source, n_chars FROM $DOCS ORDER BY doc_id",
    "q_orc_roundtrip" ->
      s"SELECT doc_id, text, lang, source, n_chars FROM $DOCS ORDER BY doc_id",
    "q_ngram_jaccard" ->
      s"""WITH $ngramCtes
         |$jaccardSelect
         | WHERE CAST(i.inter AS DOUBLE)/CAST(ca.c + cb.c - i.inter AS DOUBLE) >= 0.3
         | ORDER BY a, b""".stripMargin,
    // asymmetric companion: containment = max(inter/|A|, inter/|B|) over the
    // SAME DF-capped shingle machinery (shared CTEs — the two gates can
    // never verify divergent candidate sets)
    "q_ngram_containment" ->
      s"""WITH $ngramCtes
         |SELECT i.a, i.b, i.inter,
         |       GREATEST(CAST(i.inter AS DOUBLE)/CAST(ca.c AS DOUBLE),
         |                CAST(i.inter AS DOUBLE)/CAST(cb.c AS DOUBLE)) AS containment
         |  FROM inter i JOIN sz ca ON i.a = ca.doc_id JOIN sz cb ON i.b = cb.doc_id
         | WHERE GREATEST(CAST(i.inter AS DOUBLE)/CAST(ca.c AS DOUBLE),
         |                CAST(i.inter AS DOUBLE)/CAST(cb.c AS DOUBLE)) >= 0.5
         | ORDER BY a, b""".stripMargin,
    // corpus-derived stopwords: df threshold at half the corpus
    "q_stopwords" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |g AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY tok),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM $DOCS)
         |SELECT tok, df,
         |       CAST(df AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE) AS df_frac
         |  FROM g
         | WHERE CAST(df AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE) >= 0.5
         | ORDER BY tok""".stripMargin,
    "q_simhash" ->
      s"""WITH $simhashCodes
         |SELECT doc_id, simhash FROM s ORDER BY doc_id""".stripMargin,
    "q_simhash_pairs" ->
      s"""WITH $simhashEdges
         |SELECT a, b, hamming FROM e ORDER BY a, b""".stripMargin,
    // ---- similarity search ----
    "q_ann_topk" ->
      s"""WITH $bruteTopkCtes
         |SELECT qid, nid, rank, cos FROM br WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // Matryoshka prefix-dim recall: per prefix width, the same brute
    // chain over sliced vectors, overlapped against the full-dim top-10
    "q_matryoshka" -> {
      val dims = Seq(8, 16, 32)
      val chains = dims.map { d =>
        s"""s$d AS (SELECT bq.qid, e.vec_id AS nid,
           |              ${cosSql(s"bq.qv[1:$d]", s"e.emb[1:$d]")} AS cos
           |         FROM e, bq WHERE e.vec_id <> bq.qid),
           |r$d AS (SELECT qid, nid,
           |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
           |         FROM s$d)""".stripMargin
      }.mkString(",\n")
      val union = dims.map(d =>
        s"SELECT CAST($d AS BIGINT) AS dim, qid, nid FROM r$d WHERE rank <= 10")
        .mkString("\nUNION ALL\n")
      s"""WITH $bruteTopkCtes,
         |$chains,
         |u AS ($union),
         |f AS (SELECT qid, nid FROM br WHERE rank <= 10),
         |ov AS (SELECT u.dim, u.qid, CAST(COUNT(f.nid) AS BIGINT) AS n_overlap
         |         FROM u LEFT JOIN f ON u.qid = f.qid AND u.nid = f.nid
         |        GROUP BY 1, 2)
         |SELECT dim, qid, n_overlap,
         |       CAST(n_overlap AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
         |  FROM ov ORDER BY dim, qid""".stripMargin
    },
    // MRR over the same brute cosine ordering as q_ann_topk: first
    // same-label rank per query, reciprocal as one integer division
    "q_mrr" ->
      s"""WITH el AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
         |              FROM '<sfDir>/embeddings.parquet'),
         |hq AS (SELECT vec_id AS qid, label AS qlabel, emb AS qv
         |         FROM el WHERE vec_id < 5),
         |hs AS (SELECT hq.qid, hq.qlabel, el.label AS nlabel, el.vec_id AS nid,
         |              ${cosSql("hq.qv", "el.emb")} AS cos
         |         FROM el, hq WHERE el.vec_id <> hq.qid),
         |hr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                      ORDER BY cos DESC, nid) AS BIGINT) AS rank
         |         FROM hs),
         |f AS (SELECT qid, qlabel, CAST(MIN(rank) AS BIGINT) AS first_rank
         |        FROM hr WHERE nlabel = qlabel GROUP BY 1, 2)
         |SELECT qid, qlabel, first_rank,
         |       CAST(1 AS DOUBLE) / CAST(first_rank AS DOUBLE) AS rr
         |  FROM f ORDER BY qid""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH el AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
         |              FROM '<sfDir>/embeddings.parquet'),
         |hq AS (SELECT vec_id AS qid, label AS qlabel, emb AS qv
         |         FROM el WHERE vec_id < 5),
         |hs AS (SELECT hq.qid, el.vec_id AS nid, el.label AS nlabel,
         |              ${cosSql("hq.qv", "el.emb")} AS cos
         |         FROM el, hq
         |        WHERE el.vec_id <> hq.qid AND el.label <> hq.qlabel),
         |hr AS (SELECT qid, nid, nlabel, cos,
         |              CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
         |         FROM hs)
         |SELECT qid, nid, nlabel, rank, cos FROM hr
         | WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH $ivfTopkCtes
         |SELECT qid, nid, rank FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // IVF recall@k: |IVF top-10 ∩ brute-force top-10| per query — both
    // sides are the SAME CTE chains the q_ann_ivf / q_ann_topk gates
    // verify, so this gate can never measure recall of a divergent index
    "q_ann_recall" ->
      s"""WITH $ivfTopkCtes,
         |$bruteTopkCtesNoEmb,
         |h AS (SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS hits
         |        FROM r JOIN br ON r.qid = br.qid AND r.nid = br.nid
         |       WHERE r.rank <= 10 AND br.rank <= 10 GROUP BY r.qid)
         |SELECT bq.qid, COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
         |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
         |  FROM bq LEFT JOIN h ON bq.qid = h.qid ORDER BY bq.qid""".stripMargin,
    // product-space IMI: pinned half-space codebooks, full product
    // assignment + probe replayed from literals
    "q_ann_imi" ->
      s"""WITH $imiProbeCtes
         |SELECT qid, nid, rank FROM ir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // serving the PERSISTED index must reproduce the self-contained
    // retrain exactly — the q_ann_imi oracle IS the q_ann_served oracle
    "q_ann_served" ->
      s"""WITH $imiProbeCtes
         |SELECT qid, nid, rank FROM ir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // serving (persisted base + UPSERTED delta) must equal one bulk
    // assignment of the full corpus under the frozen base-trained books —
    // the oracle replays exactly that bulk pass from the upsert pins
    "q_ann_upsert" ->
      s"""WITH $imiUpsertProbeCtes
         |SELECT qid, nid, rank FROM ir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // compacting the upserted member layout must not change a single
    // served row — same artifact content, fewer files: the q_ann_upsert
    // oracle IS the q_ann_compact oracle
    "q_ann_compact" ->
      s"""WITH $imiUpsertProbeCtes
         |SELECT qid, nid, rank FROM ir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // tombstoned deletes: the served index is the q_ann_imi chain with
    // the deleted members filtered out of `mem` — queries still probe
    // (the probe set is caller-provided), but a deleted vector is never
    // retrievable. Same oracle for the logical path (serve-time
    // anti-join) and the physical one (tombstones applied at compaction)
    "q_ann_forget" ->
      s"""WITH ${imiProbeCtesFor(ImiPins.b1K4I2, ImiPins.b2K4I2,
              memFilter = "a.vec_id % 7 <> 2")}
         |SELECT qid, nid, rank FROM ir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    "q_ann_forget_compact" ->
      s"""WITH ${imiProbeCtesFor(ImiPins.b1K4I2, ImiPins.b2K4I2,
              memFilter = "a.vec_id % 7 <> 2")}
         |SELECT qid, nid, rank FROM ir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // the delta arriving as a STREAM (per-micro-batch foreachBatch
    // upserts) converges to the same merged artifact — append order and
    // carving cannot change a pure per-row assignment, so it rides the
    // q_ann_upsert oracle verbatim
    "q_ann_upsert_stream" ->
      s"""WITH $imiUpsertProbeCtes
         |SELECT qid, nid, rank FROM ir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // the COMPRESSED tier of the upserted index: members assigned and
    // PQ-encoded with the STORED base-trained books (ImiUpsertPins +
    // PqUpsertPins), candidates ranked by their reconstructions — the
    // q_imi_pq composition under the upsert invariance
    "q_imi_pq_upsert" ->
      s"""WITH $imiUpsertProbeCtes,
         |${pqEncCtesNoEmbFor(PqUpsertPins.baseM8K16I2)},
         |$pqRecCte,
         |pisc AS (SELECT p.qid, m.nid, ${cosSql("p.qv", "r.rv")} AS cos
         |           FROM prb p JOIN mem m ON p.scell = m.scell AND p.sub = m.sub
         |           JOIN rec r ON r.vec_id = m.nid
         |          WHERE m.nid <> p.qid),
         |pir AS (SELECT qid, nid, cos,
         |               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
         |          FROM pisc)
         |SELECT qid, nid, cos, rank FROM pir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // index-drift statistic: bootstrap vs arrival occupancy shares under
    // the frozen pinned books, per coarse cell — both assignments are the
    // pinned q_ann_imi chain, arrivals via the reversed-copy drift CTE
    "q_index_drift" ->
      s"""WITH boot AS (WITH ${imiProbeCtesFor(ImiPins.b1K4I2, ImiPins.b2K4I2)}
         |  SELECT scell, sub, CAST(COUNT(*) AS BIGINT) AS n_boot FROM mem GROUP BY scell, sub),
         |arr AS (WITH ${imiProbeCtesFor(ImiPins.b1K4I2, ImiPins.b2K4I2,
              embCte = "e AS (SELECT vec_id + 1000000 AS vec_id, " +
                "list_reverse(CAST(embedding AS DOUBLE[])) AS emb " +
                "FROM '<sfDir>/embeddings.parquet')")}
         |  SELECT scell, sub, CAST(COUNT(*) AS BIGINT) AS n_arr FROM mem GROUP BY scell, sub),
         |j AS (SELECT COALESCE(boot.scell, arr.scell) AS scell,
         |             COALESCE(boot.sub, arr.sub) AS sub,
         |             COALESCE(n_boot, 0) AS n_boot, COALESCE(n_arr, 0) AS n_arr
         |        FROM boot FULL JOIN arr
         |          ON boot.scell = arr.scell AND boot.sub = arr.sub),
         |t AS (SELECT SUM(n_boot) AS t_boot, SUM(n_arr) AS t_arr FROM j)
         |SELECT j.scell, j.sub, j.n_boot, j.n_arr,
         |       CAST(j.n_boot AS DOUBLE) / CAST(t.t_boot AS DOUBLE) AS boot_share,
         |       CAST(j.n_arr AS DOUBLE) / CAST(t.t_arr AS DOUBLE) AS arr_share,
         |       ABS(CAST(j.n_boot AS DOUBLE) / CAST(t.t_boot AS DOUBLE)
         |           - CAST(j.n_arr AS DOUBLE) / CAST(t.t_arr AS DOUBLE)) / 2.0 AS contrib
         |  FROM j, t ORDER BY j.scell, j.sub""".stripMargin,
    // the drift statistic SERVED from the stored artifact (bootstrap
    // occupancy read off the persisted member table, arrivals assigned
    // with the reloaded stored books): stored books == pinned training
    // when the artifact was persisted from the gate corpus, so the
    // self-contained oracle gates the artifact read path too
    "q_index_drift_served" ->
      s"""WITH boot AS (WITH ${imiProbeCtesFor(ImiPins.b1K4I2, ImiPins.b2K4I2)}
         |  SELECT scell, sub, CAST(COUNT(*) AS BIGINT) AS n_boot FROM mem GROUP BY scell, sub),
         |arr AS (WITH ${imiProbeCtesFor(ImiPins.b1K4I2, ImiPins.b2K4I2,
              embCte = "e AS (SELECT vec_id + 1000000 AS vec_id, " +
                "list_reverse(CAST(embedding AS DOUBLE[])) AS emb " +
                "FROM '<sfDir>/embeddings.parquet')")}
         |  SELECT scell, sub, CAST(COUNT(*) AS BIGINT) AS n_arr FROM mem GROUP BY scell, sub),
         |j AS (SELECT COALESCE(boot.scell, arr.scell) AS scell,
         |             COALESCE(boot.sub, arr.sub) AS sub,
         |             COALESCE(n_boot, 0) AS n_boot, COALESCE(n_arr, 0) AS n_arr
         |        FROM boot FULL JOIN arr
         |          ON boot.scell = arr.scell AND boot.sub = arr.sub),
         |t AS (SELECT SUM(n_boot) AS t_boot, SUM(n_arr) AS t_arr FROM j)
         |SELECT j.scell, j.sub, j.n_boot, j.n_arr,
         |       CAST(j.n_boot AS DOUBLE) / CAST(t.t_boot AS DOUBLE) AS boot_share,
         |       CAST(j.n_arr AS DOUBLE) / CAST(t.t_arr AS DOUBLE) AS arr_share,
         |       ABS(CAST(j.n_boot AS DOUBLE) / CAST(t.t_boot AS DOUBLE)
         |           - CAST(j.n_arr AS DOUBLE) / CAST(t.t_arr AS DOUBLE)) / 2.0 AS contrib
         |  FROM j, t ORDER BY j.scell, j.sub""".stripMargin,
    // the REINDEX remedy: when the drift trigger fires, retrain on what
    // the corpus has become (originals ∪ drifted arrivals) and serve the
    // rebuilt artifact — the oracle replays sizing-over-the-grown-corpus,
    // training (pinned drifted-trained books), assignment and probe
    "q_reindex" ->
      s"""WITH ${imiProbeCtesFor(ImiReindexPins.b1K6I2, ImiReindexPins.b2K6I2,
              embCte = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
                "FROM '<sfDir>/embeddings.parquet' UNION ALL " +
                "SELECT vec_id + 1000000 AS vec_id, " +
                "list_reverse(CAST(embedding AS DOUBLE[])) AS emb " +
                "FROM '<sfDir>/embeddings.parquet')")}
         |SELECT qid, nid, rank FROM ir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // the CLOSED lifecycle loop, trigger → remedy → re-measure, in one
    // gate: tf = drift of the drifted delivery under the BOOTSTRAP pins
    // (exceeds the threshold → reindex_triggered), tr = drift of a
    // post-drift delivery against the REINDEXED pins over the grown
    // corpus (back to 0.0 exactly), rf/rr = the decay gauge's recall
    // under the frozen vs retrained banding cells (recovery). Four
    // independently-scoped nested WITH chains, composed exactly like
    // q_ingest_pipeline's stages.
    "q_index_lifecycle" -> {
      val driftedArrCte = "e AS (SELECT vec_id + 1000000 AS vec_id, " +
        "list_reverse(CAST(embedding AS DOUBLE[])) AS emb " +
        "FROM '<sfDir>/embeddings.parquet')"
      val grownCte = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
        "FROM '<sfDir>/embeddings.parquet' UNION ALL " +
        "SELECT vec_id + 1000000 AS vec_id, " +
        "list_reverse(CAST(embedding AS DOUBLE[])) AS emb " +
        "FROM '<sfDir>/embeddings.parquet')"
      s"""WITH ${driftTvdCte("tf", ImiPins.b1K4I2, ImiPins.b2K4I2,
             EMB, driftedArrCte)},
         |${driftTvdCte("tr", ImiReindexPins.b1K6I2, ImiReindexPins.b2K6I2,
             grownCte, grownCte)},
         |rf AS (WITH ${driftedLshPairCtesWith(ivfCentCte)},
         |$driftedRecallTail),
         |rr AS (WITH ${driftedLshPairCtesWith(ivfDriftCentCte)},
         |$driftedRecallTail)
         |SELECT tf.tvd AS tvd_frozen,
         |       CAST(CASE WHEN tf.tvd > ${graft.operators.IndexLifecycle.TvdThreshold}
         |                 THEN 1 ELSE 0 END AS BIGINT) AS reindex_triggered,
         |       tr.tvd AS tvd_reindexed,
         |       rf.recall AS recall_frozen,
         |       rr.recall AS recall_retrained
         |  FROM tf, tr, rf, rr""".stripMargin
    },
    // the artifact health row: totals from the corpus, live = members
    // minus the %7 tombstone delivery, cells/occupancy from the pinned
    // member-assignment chain (verifying the stored layout's content,
    // not just its row counts)
    "q_index_manifest" ->
      s"""WITH $imiProbeCtes,
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members FROM mem),
         |pend AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pending
         |           FROM e WHERE vec_id % 7 = 2),
         |cells AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells
         |            FROM (SELECT DISTINCT scell, sub FROM mem)),
         |mx AS (SELECT CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_cell
         |         FROM (SELECT COUNT(*) AS c FROM mem GROUP BY scell, sub))
         |SELECT tot.n_members, tot.n_members - pend.n_pending AS n_live,
         |       pend.n_pending, cells.n_cells, mx.max_cell
         |  FROM tot, pend, cells, mx""".stripMargin,
    "q_imi_stats" ->
      s"""WITH $imiProbeCtes
         |SELECT scell, CAST(COUNT(DISTINCT sub) AS BIGINT) AS n_subs,
         |       CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM mem GROUP BY scell ORDER BY scell""".stripMargin,
    "q_imi_recall" ->
      s"""WITH $imiProbeCtes,
         |$bruteTopkCtesNoEmb,
         |h AS (SELECT ir.qid, CAST(COUNT(*) AS BIGINT) AS hits
         |        FROM ir JOIN br ON ir.qid = br.qid AND ir.nid = br.nid
         |       WHERE ir.rank <= 10 AND br.rank <= 10 GROUP BY ir.qid)
         |SELECT bq.qid, COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
         |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
         |  FROM bq LEFT JOIN h ON bq.qid = h.qid ORDER BY bq.qid""".stripMargin,
    // IMI + PQ-ADC (the capped-budget serving shape): the SAME member
    // assignment and joint-nearest probe walk as q_ann_imi (mem/prb off
    // the pinned half-space books), but candidates score as their PQ
    // reconstructions (the pinned q_pq_codes encode chain) — cosine
    // against the concatenated sub-centers, the q_ivfpq metric discipline
    "q_imi_pq" ->
      s"""WITH $imiProbeCtes,
         |$pqEncCtesNoEmb,
         |$pqRecCte,
         |pisc AS (SELECT p.qid, m.nid, ${cosSql("p.qv", "r.rv")} AS cos
         |           FROM prb p JOIN mem m ON p.scell = m.scell AND p.sub = m.sub
         |           JOIN rec r ON r.vec_id = m.nid
         |          WHERE m.nid <> p.qid),
         |pir AS (SELECT qid, nid, cos,
         |               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
         |          FROM pisc)
         |SELECT qid, nid, cos, rank FROM pir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // serving the persisted compressed tier (stored packed codes +
    // reloaded books) must reproduce the in-query ADC retrain exactly —
    // the q_imi_pq oracle IS the q_imi_pq_served oracle
    "q_imi_pq_served" ->
      s"""WITH $imiProbeCtes,
         |$pqEncCtesNoEmb,
         |$pqRecCte,
         |pisc AS (SELECT p.qid, m.nid, ${cosSql("p.qv", "r.rv")} AS cos
         |           FROM prb p JOIN mem m ON p.scell = m.scell AND p.sub = m.sub
         |           JOIN rec r ON r.vec_id = m.nid
         |          WHERE m.nid <> p.qid),
         |pir AS (SELECT qid, nid, cos,
         |               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank
         |          FROM pisc)
         |SELECT qid, nid, cos, rank FROM pir WHERE rank <= 10
         | ORDER BY qid, rank""".stripMargin,
    // PQ codes: per-vector 8 sub-codes from the pinned trained codebooks,
    // packed little-endian into one int64 nibble word (exact integer ops —
    // scalar, so the hash gate digests it; lists aren't hashable there)
    "q_pq_codes" ->
      s"""WITH $pqEncCtes
         |SELECT vec_id,
         |       CAST(codes[1] + codes[2]*16 + codes[3]*256 + codes[4]*4096 +
         |            codes[5]*65536 + codes[6]*1048576 + codes[7]*16777216 +
         |            codes[8]*268435456 AS BIGINT) AS code
         |  FROM enc ORDER BY vec_id""".stripMargin,
    "q_pq_adc" ->
      s"""WITH $pqAdcCtes
         |SELECT qid, nid, adc, rank FROM rkd WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // PQ recall@k against the EXACT squared-L2 top-k (ADC's own metric):
    // both sides are the SAME CTE chains the q_pq_adc gate verifies
    "q_pq_recall" ->
      s"""WITH $pqAdcCtes,
         |bs AS (SELECT q.qid, e.vec_id AS nid, ${sqdistSql("q.qv", "e.emb")} AS d
         |         FROM q, e WHERE e.vec_id <> q.qid),
         |br AS (SELECT qid, nid,
         |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
         |         FROM bs),
         |h AS (SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS hits
         |        FROM rkd r JOIN br ON r.qid = br.qid AND r.nid = br.nid
         |       WHERE r.rank <= 10 AND br.rank <= 10 GROUP BY r.qid)
         |SELECT q.qid, COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
         |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
         |  FROM q LEFT JOIN h ON q.qid = h.qid ORDER BY q.qid""".stripMargin,
    // IVF-PQ: the q_ann_ivf probe chain over the q_pq_codes candidate
    // payload — members of probed cells ranked by cosine against their
    // codebook RECONSTRUCTIONS (identical codes => identical recon => real
    // cosine ties, broken by nid on both sides)
    "q_ivfpq" ->
      s"""WITH $ivfPqCtes
         |SELECT qid, nid, cos, rank FROM pr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // IVF-PQ recall@k vs the brute-force cosine ground truth: folds probe
    // misses AND quantization error into one gauge; both sides are the
    // SAME CTE chains the q_ivfpq / q_ann_topk gates verify
    "q_ivfpq_recall" ->
      s"""WITH $ivfPqCtes,
         |$bruteTopkCtesNoEmb,
         |h AS (SELECT pr.qid, CAST(COUNT(*) AS BIGINT) AS hits
         |        FROM pr JOIN br ON pr.qid = br.qid AND pr.nid = br.nid
         |       WHERE pr.rank <= 10 AND br.rank <= 10 GROUP BY pr.qid)
         |SELECT bq.qid, COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
         |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
         |  FROM bq LEFT JOIN h ON bq.qid = h.qid ORDER BY bq.qid""".stripMargin,
    "q_neardup_cos" ->
      s"""WITH $EMB,
         |s AS (SELECT x.vec_id AS a, y.vec_id AS b, ${cosSql("x.emb", "y.emb")} AS cos
         |        FROM e x JOIN e y ON x.vec_id < y.vec_id)
         |SELECT a, b, cos FROM s WHERE cos >= 0.45 ORDER BY a, b""".stripMargin,
    "q_neardup_blocked" ->
      s"""WITH $blockedPairCtes
         |SELECT a, b, cos FROM s WHERE cos >= 0.45 ORDER BY a, b""".stripMargin,
    // SemDedup survivors: drop every vector whose blocked-pair `b` side has
    // a verified near-dup with a lower id (keep-lowest-id, the exact-dedup
    // family's rule); same CTE chain as q_neardup_blocked
    "q_semdedup" ->
      s"""WITH $blockedPairCtes
         |SELECT vec_id FROM e
         | WHERE vec_id NOT IN (SELECT b FROM s WHERE cos >= 0.45)
         | ORDER BY vec_id""".stripMargin,
    // int8 quantization: every step is one IEEE op (divide, +0.5, floor,
    // multiply back, abs) executed identically by both engines; the summed
    // floors are exact integers, so list_sum's double accumulation equals
    // the engine's int64 fold below 2^53
    "q_emb_quant" ->
      s"""WITH $EMB,
         |q AS (SELECT vec_id, emb,
         |             list_max(list_transform(emb, v -> ABS(v))) / 127.0 AS scale
         |        FROM e)
         |SELECT vec_id, scale,
         |       CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(len(list_filter(emb, v -> ABS(FLOOR(v/scale + 0.5)) = 127.0)) AS BIGINT)
         |        END AS n_sat,
         |       CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(list_sum(list_transform(emb,
         |                 v -> FLOOR(ABS(v - FLOOR(v/scale + 0.5)*scale) * 1073741824.0))) AS BIGINT)
         |        END AS err_q
         |  FROM q ORDER BY vec_id""".stripMargin,
    // duplicated token-window spans (width 4, stride 2, full windows only):
    // window text is the key, df counts DISTINCT docs, per-doc dup fraction
    // is one IEEE division of exact counts
    "q_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $DOCS
         |            WHERE text IS NOT NULL),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
         |        FROM t WHERE len(toks) >= 4),
         |w AS (SELECT doc_id, array_to_string(toks[(i*2+1):(i*2+4)], ' ') AS win
         |        FROM (SELECT doc_id, toks,
         |                     unnest(range(0, (n_toks - 4) // 2 + 1)) AS i
         |                FROM n)),
         |d AS (SELECT win, COUNT(DISTINCT doc_id) AS ndocs FROM w GROUP BY win),
         |j AS (SELECT w.doc_id, d.ndocs FROM w JOIN d ON w.win = d.win)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         |       CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS dup_frac
         |  FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // span-level dedup transform: the q_dup_spans incidence marks hot
    // (≥2-doc) windows, their covered token positions are removed, and
    // the survivor text fingerprints under the md5 h60 — content AND
    // token order of every cleaned doc ride the hash
    "q_line_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $DOCS
         |            WHERE text IS NOT NULL),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
         |w AS (SELECT doc_id, i AS w, array_to_string(toks[(i*2+1):(i*2+4)], ' ') AS win
         |        FROM (SELECT doc_id, toks,
         |                     unnest(range(0, (n_toks - 4) // 2 + 1)) AS i
         |                FROM n WHERE n_toks >= 4)),
         |d AS (SELECT win FROM (SELECT win, COUNT(DISTINCT doc_id) AS nd
         |                         FROM w GROUP BY win) WHERE nd >= 2),
         |hw AS (SELECT DISTINCT w.doc_id, w.w FROM w JOIN d ON w.win = d.win),
         |cov AS (SELECT DISTINCT doc_id, CAST(hw.w * 2 + v.p AS BIGINT) AS pos
         |          FROM hw, (VALUES (1), (2), (3), (4)) v(p)),
         |pos AS (SELECT n.doc_id, CAST(q.pos AS BIGINT) AS pos,
         |               toks[CAST(q.pos AS INT)] AS tok
         |          FROM n, LATERAL unnest(generate_series(1, CAST(n_toks AS INT))) q(pos)),
         |kept AS (SELECT pos.doc_id, pos.pos, pos.tok FROM pos
         |          WHERE NOT EXISTS (SELECT 1 FROM cov
         |                             WHERE cov.doc_id = pos.doc_id AND cov.pos = pos.pos)),
         |cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |              string_agg(tok, ' ' ORDER BY pos) AS ct
         |         FROM kept GROUP BY doc_id)
         |SELECT n.doc_id, n.n_toks,
         |       n.n_toks - COALESCE(cl.n_kept, 0) AS n_removed,
         |       ${graft.functions.Hashes.h60Sql("COALESCE(cl.ct, '')")} AS clean_fp
         |  FROM n LEFT JOIN cl ON n.doc_id = cl.doc_id
         | ORDER BY n.doc_id""".stripMargin,
    // exact-substring dedup: stride-1 minLen=4 gram incidence keyed by
    // the 60-bit gram hash; hot (≥2-doc) gram coverage is the exact set
    // of positions inside cross-doc verbatim repeats of ≥4 tokens;
    // max_span = longest covered island (gaps-and-islands: pos − rn);
    // survivors fingerprint under the md5 h60 — content AND order gated
    "q_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $DOCS
         |            WHERE text IS NOT NULL),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
         |g AS (SELECT doc_id, i AS p,
         |             ${graft.functions.Hashes.h60Sql("array_to_string(toks[(i+1):(i+4)], ' ')")} AS gm
         |        FROM (SELECT doc_id, toks,
         |                     unnest(range(0, n_toks - 4 + 1)) AS i
         |                FROM n WHERE n_toks >= 4)),
         |hot AS (SELECT gm FROM (SELECT gm, COUNT(DISTINCT doc_id) AS nd
         |                          FROM g GROUP BY gm) WHERE nd >= 2),
         |hs AS (SELECT DISTINCT g.doc_id, g.p FROM g JOIN hot ON g.gm = hot.gm),
         |cov AS (SELECT DISTINCT doc_id, CAST(hs.p + v.o AS BIGINT) AS pos
         |          FROM hs, (VALUES (1), (2), (3), (4)) v(o)),
         |pos AS (SELECT n.doc_id, CAST(q.pos AS BIGINT) AS pos,
         |               toks[CAST(q.pos AS INT)] AS tok
         |          FROM n, LATERAL unnest(generate_series(1, CAST(n_toks AS INT))) q(pos)),
         |kept AS (SELECT pos.doc_id, pos.pos, pos.tok FROM pos
         |          WHERE NOT EXISTS (SELECT 1 FROM cov
         |                             WHERE cov.doc_id = pos.doc_id AND cov.pos = pos.pos)),
         |cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |              string_agg(tok, ' ' ORDER BY pos) AS ct
         |         FROM kept GROUP BY doc_id),
         |isl AS (SELECT doc_id,
         |               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |          FROM cov),
         |mx AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_span
         |         FROM (SELECT doc_id, grp, COUNT(*) AS cnt
         |                 FROM isl GROUP BY doc_id, grp) GROUP BY doc_id)
         |SELECT n.doc_id, n.n_toks,
         |       n.n_toks - COALESCE(cl.n_kept, 0) AS n_removed,
         |       COALESCE(mx.max_span, CAST(0 AS BIGINT)) AS max_span,
         |       ${graft.functions.Hashes.h60Sql("COALESCE(cl.ct, '')")} AS clean_fp
         |  FROM n LEFT JOIN cl ON n.doc_id = cl.doc_id
         |  LEFT JOIN mx ON n.doc_id = mx.doc_id
         | ORDER BY n.doc_id""".stripMargin,
    // top duplicated windows: same incidence as q_dup_spans, top-k under
    // the (occurrences desc, window asc) total order
    "q_top_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $DOCS
         |            WHERE text IS NOT NULL),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
         |        FROM t WHERE len(toks) >= 4),
         |w AS (SELECT doc_id, array_to_string(toks[(i*2+1):(i*2+4)], ' ') AS win
         |        FROM (SELECT doc_id, toks,
         |                     unnest(range(0, (n_toks - 4) // 2 + 1)) AS i
         |                FROM n))
         |SELECT win, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM w GROUP BY win
         |HAVING COUNT(DISTINCT doc_id) >= 2
         | ORDER BY n_occ DESC, win LIMIT 20""".stripMargin,
    // source-pair shingle containment matrix: distinct (source, hash)
    // incidence off the SH kernel, complete directed matrix with zero
    // intersections kept
    "q_source_overlap" ->
      s"""WITH $SH,
         |ss AS (SELECT DISTINCT d.source,
         |              CAST(('0x' || substr(md5(sh.s), 1, 15)) AS BIGINT) AS h
         |         FROM sh JOIN $DOCS d ON sh.doc_id = d.doc_id),
         |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ss GROUP BY source),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |                 CAST(COUNT(*) AS BIGINT) AS n_inter
         |            FROM ss a JOIN ss b ON a.h = b.h AND a.source <> b.source
         |           GROUP BY a.source, b.source)
         |SELECT sa.source AS src_a, sb.source AS src_b, sa.n AS n_a,
         |       COALESCE(inter.n_inter, CAST(0 AS BIGINT)) AS n_inter,
         |       CAST(COALESCE(inter.n_inter, 0) AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
         |  FROM sizes sa JOIN sizes sb ON sa.source <> sb.source
         |  LEFT JOIN inter ON inter.src_a = sa.source AND inter.src_b = sb.source
         | ORDER BY src_a, src_b""".stripMargin,
    // ---- composed training pipeline: dedup keepers + quality + length
    // gates (expression shapes identical to q_quality + q_dedup_keep) ----
    "q_clean_corpus" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         |             CAST(SUM(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |        FROM t GROUP BY doc_id),
         |j AS (SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         |             g.n_tokens,
         |             CAST(g.n_distinct AS DOUBLE)/CAST(g.n_tokens AS DOUBLE) AS ttr,
         |             CAST(g.n_stop AS DOUBLE)/CAST(g.n_tokens AS DOUBLE) AS stop_ratio
         |        FROM $DOCS d JOIN g ON d.doc_id = g.doc_id),
         |q AS (SELECT doc_id, n_chars, n_tokens,
         |             CAST(0.5 AS DOUBLE)*ttr
         |               + CAST(0.3 AS DOUBLE)*LEAST(stop_ratio*CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
         |               + CAST(0.2 AS DOUBLE)*LEAST(CAST(n_tokens AS DOUBLE)/CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS quality
         |        FROM j),
         |k AS (SELECT MIN(doc_id) AS doc_id FROM $DOCS GROUP BY text)
         |SELECT q.doc_id AS doc_id, q.n_tokens, q.quality
         |  FROM q JOIN k ON q.doc_id = k.doc_id
         | WHERE q.quality >= CAST(0.4 AS DOUBLE) AND q.n_chars >= 50
         | ORDER BY q.doc_id""".stripMargin,
    // ---- frame sampling index (stride 64, frame 32, over UTF-8 bytes;
    // per-doc frame ranges via scalar range()+unnest — i*64 < n ⟺
    // i < ceil(n/64) for integer i, so no fixed series bound) ----
    "q_frames" ->
      s"""WITH m AS (SELECT doc_id,
         |                  CAST((CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 15 END)
         |                       + octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n
         |             FROM $DOCS),
         |f AS (SELECT doc_id, n,
         |             unnest(range(0, CAST(CEIL(n / CAST(64 AS DOUBLE)) AS BIGINT))) AS i
         |        FROM m)
         |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_no,
         |       CAST(LEAST(32, n - i*64) AS BIGINT) AS frame_len
         |  FROM f ORDER BY media_id, frame_no""".stripMargin,
    // ---- multimodal: the engine writes REAL PNG/JPEG headers (33/15
    // bytes) around the UTF-8 payload and parses them back; the oracle
    // replays the dimension arithmetic the writer embeds and the fixed
    // header sizes the parser sees, so a bug in either the header writer or
    // the parser breaks this hash ----
    "q_media_meta" ->
      s"""WITH m AS (SELECT doc_id,
         |                  CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n
         |             FROM $DOCS)
         |SELECT doc_id AS media_id,
         |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind,
         |       CAST((CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 15 END) + n AS BIGINT) AS n_bytes,
         |       CAST(64 + (n % 576) AS BIGINT) AS width,
         |       CAST(48 + ((n * 7) % 432) AS BIGINT) AS height,
         |       CAST(1 AS BIGINT) AS n_frames
         |  FROM m ORDER BY media_id""".stripMargin,
    // the WAV twin: the engine writes a REAL 44-byte RIFF/PCM header and
    // chunk-walks it back; the oracle replays the rate/channel arithmetic
    // and the parsed-field sample/duration integer math
    // MP4 box-walk metadata: every field replays the writer's arithmetic
    // from the payload length (the parse itself is JVM-side; the gate
    // proves writer ∘ walker == the declared closed form)
    "q_video_meta" ->
      s"""WITH m AS (SELECT doc_id,
         |                  CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n
         |             FROM $DOCS)
         |SELECT doc_id AS media_id,
         |       CAST(140 + n AS BIGINT) AS n_bytes,
         |       CAST(3 AS BIGINT) AS n_boxes,
         |       CAST(600 + (n * 7) % 9000 AS BIGINT) AS timescale,
         |       CAST(n * 25 AS BIGINT) AS duration_ticks,
         |       CAST((n * 25 * 1000) // (600 + (n * 7) % 9000) AS BIGINT) AS duration_ms,
         |       n AS mdat_bytes
         |  FROM m ORDER BY media_id""".stripMargin,
    "q_audio_meta" ->
      s"""WITH m AS (SELECT doc_id,
         |                  CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n
         |             FROM $DOCS)
         |SELECT doc_id AS media_id,
         |       CAST(44 + n AS BIGINT) AS n_bytes,
         |       CAST(8000 + (n * 13) % 36000 AS BIGINT) AS sample_rate,
         |       CAST(1 + n % 2 AS BIGINT) AS n_channels,
         |       CAST(16 AS BIGINT) AS bits,
         |       CAST(n // ((1 + n % 2) * 2) AS BIGINT) AS n_samples,
         |       CAST((n // ((1 + n % 2) * 2)) * 1000
         |            // (8000 + (n * 13) % 36000) AS BIGINT) AS duration_ms
         |  FROM m ORDER BY media_id""".stripMargin,
    // embedding-space outlier screen over the SAME pinned trained centers
    // the IVF gates verify (a divergent codebook breaks both)
    "q_emb_outliers" ->
      s"""WITH $EMB,
         |$ivfCentCte,
         |oas AS (SELECT e.vec_id, c.cid, ${cosSql("e.emb", "c.cv")} AS ccos FROM e, cent c),
         |obest AS (SELECT vec_id, cid, ccos FROM (
         |            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
         |              FROM oas) WHERE crank = 1),
         |orr AS (SELECT vec_id, cid, ccos,
         |               CAST(ROW_NUMBER() OVER (ORDER BY ccos ASC, vec_id) AS BIGINT) AS rank
         |          FROM obest)
         |SELECT vec_id, cid, ccos, rank FROM orr
         | WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "q_epochs" ->
      s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |                  CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |             FROM $DOCS GROUP BY source),
         |w AS (SELECT c.*, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1048576.0) AS BIGINT) AS s_w
         |        FROM c),
         |t AS (SELECT CAST(SUM(s_w) AS BIGINT) AS s_tot FROM w)
         |SELECT source, n_docs, n_tokens, s_w,
         |       CAST((s_w * 2000000) // t.s_tot AS BIGINT) AS alloc_tokens,
         |       CAST(((s_w * 2000000) // t.s_tot) * 1000 // n_tokens AS BIGINT) AS epochs_x1000
         |  FROM w, t ORDER BY source""".stripMargin,
    "q_minhash_est" ->
      s"""WITH $minhashCtes,
         |est AS (SELECT cand.a, cand.b,
         |               CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         |          FROM cand JOIN mh ma ON cand.a = ma.doc_id
         |                    JOIN mh mb ON cand.b = mb.doc_id AND ma.k = mb.k
         |         GROUP BY cand.a, cand.b)
         |SELECT a, b, n_agree, CAST(n_agree AS DOUBLE) / 16.0 AS jaccard_est
         |  FROM est ORDER BY a, b""".stripMargin,
    // ---- corpus curation (round 4): deterministic hash sampling/capping,
    // sequence packing, benchmark decontamination ----
    "q_stratified" ->
      s"""SELECT doc_id, lang FROM $DOCS
         | WHERE ${graft.functions.Hashes.h60Sql("CAST(doc_id AS VARCHAR) || ':strat1'")} % 100 <
         |       CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 80
         |                 WHEN 'de' THEN 80 WHEN 'es' THEN 80 ELSE 20 END
         | ORDER BY doc_id""".stripMargin,
    "q_group_cap" ->
      s"""WITH r AS (SELECT doc_id, source,
         |                  CAST(ROW_NUMBER() OVER (PARTITION BY source
         |                       ORDER BY ${graft.functions.Hashes.h60Sql("CAST(doc_id AS VARCHAR) || ':cap1'")}, doc_id)
         |                    AS BIGINT) AS rk
         |             FROM $DOCS)
         |SELECT doc_id, source, rk FROM r WHERE rk <= 40 ORDER BY source, rk""".stripMargin,
    "q_packing" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |             FROM $DOCS)
         |SELECT doc_id, lang, n_tokens,
         |       CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 2048 AS bin
         |  FROM t ORDER BY doc_id""".stripMargin,
    // packing-efficiency rollup over the SAME bin derivation as q_packing
    "q_packing_stats" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |             FROM $DOCS),
         |p AS (SELECT lang, n_tokens,
         |             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 2048 AS bin
         |        FROM t),
         |bins AS (SELECT lang, bin, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
         |           FROM p GROUP BY lang, bin),
         |lb AS (SELECT lang, CAST(MAX(bin) AS BIGINT) AS last_bin FROM bins GROUP BY lang)
         |SELECT bins.lang, CAST(COUNT(*) AS BIGINT) AS n_bins,
         |       CAST(SUM(CASE WHEN bins.bin < lb.last_bin THEN 1 ELSE 0 END) AS BIGINT) AS n_full_bins,
         |       CAST(SUM(bin_tokens) AS BIGINT) AS n_tokens,
         |       CAST(SUM(bin_tokens) AS DOUBLE) / CAST(COUNT(*) * 2048 AS DOUBLE) AS mean_fill
         |  FROM bins JOIN lb ON bins.lang = lb.lang
         | GROUP BY bins.lang ORDER BY bins.lang""".stripMargin,
    // verified-pair similarity histogram over the SAME vp chain as
    // q_minhash_lsh: 0.05-wide value bands on the bit-gated jaccard
    "q_pair_sim_hist" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte
         |SELECT CAST(FLOOR(jaccard * 20.0) AS BIGINT) AS j_band,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       MIN(jaccard) AS min_j, MAX(jaccard) AS max_j
         |  FROM vp GROUP BY 1 ORDER BY j_band""".stripMargin,
    // exact heavy hitters: the oracle is the DEFINITION (full group-by +
    // threshold) — the gate passes iff the engine's Misra–Gries candidate
    // screen + candidate-restricted verify pass loses nothing
    "q_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t)
         |SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM t, n GROUP BY tok, n.n HAVING COUNT(*) * 200 > n.n
         | ORDER BY tok""".stripMargin,
    // A-ES priority sample: identical md5-derived u and ln(u)/w ranking;
    // integer-only output so libm ulps can only matter if they flip the
    // k-th rank boundary — which this exact compare proves they don't
    "q_priority_sample" ->
      s"""WITH d AS (SELECT doc_id, n_chars FROM $DOCS),
         |keyed AS (SELECT doc_id, n_chars,
         |             ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':prio1'), 1, 15)) AS BIGINT) + 1)
         |                / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS aes_key
         |        FROM d),
         |topk AS (SELECT doc_id, n_chars FROM keyed
         |          ORDER BY aes_key DESC, doc_id LIMIT 100)
         |SELECT doc_id, n_chars FROM topk ORDER BY doc_id""".stripMargin,
    // 2-core of the SimHash graph: the peel loop is unrolled to the same
    // fixed 8 rounds as the engine (the PageRank-oracle trick); round 9
    // being a no-op is asserted in DedupGraphSpec, not here
    "q_kcore" -> {
      // MATERIALIZED: each round references its predecessor 3× (degree scan
      // + two survivor joins); DuckDB inlines plain CTEs, so without the
      // hint the 8-round chain expands 3⁸ leaf scans of the parquet and
      // dies on file handles — materialization makes it linear, mirroring
      // the engine's per-round localCheckpoint
      val rounds = (1 to 8).map { i =>
        s"""v$i AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e${i - 1}
           |                       UNION ALL SELECT b AS v FROM e${i - 1}) s
           |       GROUP BY v HAVING COUNT(*) >= 2),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |          JOIN v$i x ON e.a = x.v JOIN v$i y ON e.b = y.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH $simhashEdges,
         |e0 AS MATERIALIZED (SELECT a, b FROM e),
         |$rounds,
         |sym AS (SELECT a AS v FROM e8 UNION ALL SELECT b AS v FROM e8)
         |SELECT v AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM sym GROUP BY v ORDER BY doc_id""".stripMargin
    },
    // PR curve of the stopword-rate English detector vs the lang label:
    // integer-scaled score (floor division) so bucketing is exact; the two
    // ratios are each one integer division
    "q_pr_curve" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(SUM(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |        FROM t GROUP BY doc_id),
         |s AS (SELECT ((g.n_stop * 1000000) // g.n_tokens) // 50000 AS bin,
         |             CASE WHEN d.lang = 'en' THEN CAST(1 AS BIGINT)
         |                  ELSE CAST(0 AS BIGINT) END AS pos
         |        FROM g JOIN $DOCS d ON g.doc_id = d.doc_id),
         |bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |                CAST(SUM(pos) AS BIGINT) AS n_pos FROM s GROUP BY bin),
         |c AS (SELECT bin, n,
         |             CAST(SUM(n_pos) OVER (ORDER BY bin DESC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         |             CAST(SUM(n - n_pos) OVER (ORDER BY bin DESC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
         |        FROM bins),
         |ap AS (SELECT CAST(SUM(pos) AS BIGINT) AS all_pos FROM s)
         |SELECT bin, n, tp, fp,
         |       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS "precision",
         |       CAST(tp AS DOUBLE) / CAST(all_pos AS DOUBLE) AS recall
         |  FROM c, ap ORDER BY bin DESC""".stripMargin,
    // inverted index: df-banded posting-list fingerprints — the oracle
    // rebuilds each sorted posting string and hashes it the same way, so
    // the gate proves list content AND order
    "q_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM $DOCS),
         |d AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM t GROUP BY tok
         |       HAVING COUNT(*) >= 5 AND COUNT(*) <= 500),
         |p AS (SELECT t.tok, string_agg(CAST(t.doc_id AS VARCHAR), ','
         |               ORDER BY t.doc_id) AS s
         |        FROM t JOIN d ON t.tok = d.tok GROUP BY t.tok)
         |SELECT d.tok, d.df,
         |       ${graft.functions.Hashes.h60Sql("p.s")} AS postings_fp
         |  FROM d JOIN p ON d.tok = p.tok ORDER BY d.tok""".stripMargin,
    // grouped top-k by the shared quality blend under the (quality desc,
    // doc_id) total order
    "q_top_per_source" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         |             CAST(SUM(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |        FROM t GROUP BY doc_id),
         |q AS (SELECT d.doc_id, d.source,
         |             CAST(0.5 AS DOUBLE)*(CAST(g.n_distinct AS DOUBLE)/CAST(g.n_tokens AS DOUBLE))
         |               + CAST(0.3 AS DOUBLE)*LEAST((CAST(g.n_stop AS DOUBLE)/CAST(g.n_tokens AS DOUBLE))*CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
         |               + CAST(0.2 AS DOUBLE)*LEAST(CAST(g.n_tokens AS DOUBLE)/CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS quality
         |        FROM $DOCS d JOIN g ON d.doc_id = g.doc_id),
         |r AS (SELECT source, doc_id, quality,
         |             CAST(ROW_NUMBER() OVER (PARTITION BY source
         |               ORDER BY quality DESC, doc_id) AS BIGINT) AS rk
         |        FROM q)
         |SELECT source, doc_id, quality, rk FROM r WHERE rk <= 3
         | ORDER BY source, rk""".stripMargin,
    // order-free per-source content checksums: XOR of md5-derived text
    // hashes — both engines skip NULLs in aggregates identically
    "q_source_checksums" ->
      s"""WITH h AS (SELECT source, ${graft.functions.Hashes.h60Sql("text")} AS h,
         |                  n_chars FROM $DOCS)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(bit_xor(h) AS BIGINT) AS xor_fp,
         |       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
         |  FROM h GROUP BY source ORDER BY source""".stripMargin,
    // exact-vs-sketch quantile accuracy: the same histogram chain as
    // q_quantile_sketch joined to percentile_disc ground truth; the
    // within_bound theorem column must hash true in both engines
    "q_quantile_acc" ->
      s"""WITH h AS (SELECT event_type,
         |                  CAST(FLOOR(value / 5.0) AS BIGINT) AS bucket,
         |                  CAST(COUNT(*) AS BIGINT) AS cnt
         |             FROM '<sfDir>/events.parquet' GROUP BY 1, 2),
         |c AS (SELECT event_type, bucket, cnt,
         |             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         |             SUM(cnt) OVER (PARTITION BY event_type) AS n
         |        FROM h),
         |est AS (SELECT event_type,
         |               MIN(CASE WHEN cum * 2 >= n THEN (bucket + 1) * 5.0 END) AS est_p50,
         |               MIN(CASE WHEN cum * 10 >= n * 9 THEN (bucket + 1) * 5.0 END) AS est_p90
         |          FROM c GROUP BY event_type),
         |ex AS (SELECT event_type,
         |              percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS ex_p50,
         |              percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS ex_p90
         |         FROM '<sfDir>/events.parquet' GROUP BY event_type)
         |SELECT ex.event_type, ex.ex_p50, est.est_p50,
         |       est.est_p50 - ex.ex_p50 AS err_p50,
         |       ex.ex_p90, est.est_p90,
         |       est.est_p90 - ex.ex_p90 AS err_p90,
         |       (est.est_p50 > ex.ex_p50 AND est.est_p50 - ex.ex_p50 <= 5.0
         |        AND est.est_p90 > ex.ex_p90 AND est.est_p90 - ex.ex_p90 <= 5.0)
         |         AS within_bound
         |  FROM ex JOIN est ON ex.event_type = est.event_type
         | ORDER BY ex.event_type""".stripMargin,
    // compaction planner: exact integer ceil division in both engines
    "q_compaction_plan" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         |       (CAST(SUM(n_chars) AS BIGINT) + 65535) // 65536 AS n_files,
         |       CAST(SUM(n_chars) AS DOUBLE)
         |         / CAST(((CAST(SUM(n_chars) AS BIGINT) + 65535) // 65536) * 65536 AS DOUBLE)
         |         AS mean_fill
         |  FROM $DOCS GROUP BY lang ORDER BY lang""".stripMargin,
    // compaction EXECUTION: the oracle replays the deterministic first-char
    // file assignment (within-lang doc_id-ordered running char sum) and
    // asserts the filesystem achieved it — n_files_written has no SQL
    // source, so the oracle emits the assignment count for BOTH columns:
    // the gate fails unless the writer produced exactly one physical file
    // per (lang, file_idx) group and lost no rows or chars
    "q_compaction_exec" ->
      s"""WITH a AS (SELECT lang, n_chars,
         |                  (SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang ORDER BY doc_id
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                   - CAST(n_chars AS BIGINT)) // 65536 AS file_idx
         |             FROM $DOCS),
         |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         |             CAST(COUNT(DISTINCT file_idx) AS BIGINT) AS n_assigned
         |        FROM a GROUP BY lang)
         |SELECT lang, n_docs, chars_sum,
         |       (chars_sum + 65535) // 65536 AS n_files,
         |       n_assigned AS n_files_assigned, n_assigned AS n_files_written,
         |       n_docs AS docs_written, chars_sum AS chars_written
         |  FROM g ORDER BY lang""".stripMargin,
    // snapshot diff: the oracle rebuilds the identical derived v2 (salted
    // md5 delete/revise/re-add coins) and classifies via full outer join
    "q_snapshot_diff" ->
      s"""WITH v1 AS (SELECT doc_id, text FROM $DOCS),
         |kept AS (SELECT doc_id, text FROM v1
         |          WHERE ${graft.functions.Hashes.h60Sql("CAST(doc_id AS VARCHAR) || ':v2del'")} % 20 <> 0),
         |revised AS (SELECT doc_id,
         |                   CASE WHEN ${graft.functions.Hashes.h60Sql("CAST(doc_id AS VARCHAR) || ':v2chg'")} % 10 = 0
         |                        THEN COALESCE(text, '') || ' [rev2]' ELSE text END AS text
         |              FROM kept),
         |added AS (SELECT doc_id + 1000000000 AS doc_id, text FROM v1
         |           WHERE ${graft.functions.Hashes.h60Sql("CAST(doc_id AS VARCHAR) || ':v2add'")} % 25 = 0),
         |v2 AS (SELECT * FROM revised UNION ALL SELECT * FROM added),
         |o AS (SELECT doc_id AS k, COALESCE(${graft.functions.Hashes.h60Sql("text")}, -1) AS h_old FROM v1),
         |n AS (SELECT doc_id AS k, COALESCE(${graft.functions.Hashes.h60Sql("text")}, -1) AS h_new FROM v2),
         |d AS (SELECT CASE WHEN o.h_old IS NULL THEN 'added'
         |                  WHEN n.h_new IS NULL THEN 'removed'
         |                  WHEN o.h_old = n.h_new THEN 'unchanged'
         |                  ELSE 'changed' END AS change_type
         |        FROM o FULL OUTER JOIN n ON o.k = n.k)
         |SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM d GROUP BY change_type ORDER BY change_type""".stripMargin,
    // A/B SRM: identical salted assignment, exact integer counts, the
    // chi-square statistic written with the same operand order
    "q_ab_srm" ->
      s"""WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev
         |             FROM '<sfDir>/events.parquet' GROUP BY user_id),
         |a AS (SELECT user_id, n_ev,
         |             ${graft.functions.Hashes.h60Sql("CAST(user_id AS VARCHAR) || ':exp1'")} % 2 AS arm
         |        FROM u),
         |s AS (SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_a,
         |             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS users_b,
         |             CAST(SUM(CASE WHEN arm = 0 THEN n_ev ELSE 0 END) AS BIGINT) AS events_a,
         |             CAST(SUM(CASE WHEN arm = 1 THEN n_ev ELSE 0 END) AS BIGINT) AS events_b
         |        FROM a),
         |e AS (SELECT *, CAST(users_a + users_b AS DOUBLE) / 2.0 AS expected FROM s)
         |SELECT users_a, users_b, events_a, events_b,
         |       ((CAST(users_a AS DOUBLE) - expected) * (CAST(users_a AS DOUBLE) - expected)
         |        + (CAST(users_b AS DOUBLE) - expected) * (CAST(users_b AS DOUBLE) - expected))
         |         / expected AS chi2,
         |       (((CAST(users_a AS DOUBLE) - expected) * (CAST(users_a AS DOUBLE) - expected)
         |        + (CAST(users_b AS DOUBLE) - expected) * (CAST(users_b AS DOUBLE) - expected))
         |         / expected > 3.841) AS srm
         |  FROM e""".stripMargin,
    // hashing-trick featurization: same md5-derived buckets, CASE sums
    "q_feature_hash" -> {
      val cols = (0 until 8).map(i =>
        s"CAST(SUM(CASE WHEN bucket = $i THEN 1 ELSE 0 END) AS BIGINT) AS f$i")
        .mkString(",\n         |       ")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |b AS (SELECT doc_id, ${graft.functions.Hashes.h60Sql("tok")} % 8 AS bucket FROM t)
         |SELECT doc_id,
         |       $cols
         |  FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // ANALYZE-style column statistics: one aggregate per column, unioned
    "q_table_stats" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
           |       CAST(MIN($c) AS VARCHAR) AS min_s,
           |       CAST(MAX($c) AS VARCHAR) AS max_s
           |  FROM $DOCS""".stripMargin
      Seq("doc_id", "lang", "source", "n_chars").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    // composed corpus-build funnel: the clean/decontam/mixture chains
    // threaded (each stage's CTEs read the PREVIOUS stage's survivors —
    // note the mixture weights derive from survivor language counts)
    "q_corpus_build" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         |             CAST(SUM(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |        FROM t GROUP BY doc_id),
         |j AS (SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS len_chars,
         |             g.n_tokens,
         |             CAST(g.n_distinct AS DOUBLE)/CAST(g.n_tokens AS DOUBLE) AS ttr,
         |             CAST(g.n_stop AS DOUBLE)/CAST(g.n_tokens AS DOUBLE) AS stop_ratio
         |        FROM $DOCS d JOIN g ON d.doc_id = g.doc_id),
         |q AS (SELECT doc_id, len_chars, n_tokens,
         |             CAST(0.5 AS DOUBLE)*ttr
         |               + CAST(0.3 AS DOUBLE)*LEAST(stop_ratio*CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
         |               + CAST(0.2 AS DOUBLE)*LEAST(CAST(n_tokens AS DOUBLE)/CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS quality
         |        FROM j),
         |k AS (SELECT MIN(doc_id) AS doc_id FROM $DOCS GROUP BY text),
         |cln AS (SELECT q.doc_id FROM q JOIN k ON q.doc_id = k.doc_id
         |         WHERE q.quality >= CAST(0.4 AS DOUBLE) AND q.len_chars >= 50),
         |cd AS MATERIALIZED (SELECT d.doc_id, d.text, d.lang, d.n_chars
         |        FROM $DOCS d JOIN cln ON d.doc_id = cln.doc_id),
         |sh2 AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 9) AS s
         |          FROM (SELECT doc_id, text,
         |                       unnest(range(1, length(text) - 7)) AS i FROM cd)),
         |hh2 AS MATERIALIZED (SELECT doc_id,
         |               CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh2),
         |b2 AS (SELECT DISTINCT h FROM hh2 WHERE doc_id % 97 = 0),
         |tot2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
         |           FROM hh2 WHERE doc_id % 97 <> 0 GROUP BY doc_id),
         |hit2 AS (SELECT hh2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |           FROM hh2 JOIN b2 ON hh2.h = b2.h
         |          WHERE hh2.doc_id % 97 <> 0 GROUP BY hh2.doc_id),
         |keep3 AS (SELECT t2.doc_id FROM tot2 t2
         |            LEFT JOIN hit2 ON t2.doc_id = hit2.doc_id
         |           WHERE CAST(COALESCE(hit2.n_hit, 0) AS DOUBLE)
         |                 / CAST(t2.n_sh AS DOUBLE) < CAST(0.2 AS DOUBLE)),
         |dd AS MATERIALIZED (SELECT cd.doc_id, cd.lang, cd.n_chars
         |        FROM cd JOIN keep3 ON cd.doc_id = keep3.doc_id),
         |c4 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM dd GROUP BY lang),
         |q4 AS (SELECT lang, n_l,
         |              CAST(FLOOR(SQRT(CAST(n_l AS DOUBLE)) * 1048576.0) AS BIGINT) AS s_l
         |         FROM c4),
         |t4 AS (SELECT CAST(SUM(s_l) AS BIGINT) AS s_tot FROM q4),
         |r4 AS (SELECT lang,
         |              CAST(s_l * 100 AS DOUBLE)
         |                / (CAST(s_tot AS DOUBLE) * CAST(n_l AS DOUBLE)) AS p_keep
         |         FROM q4, t4),
         |mm AS (SELECT dd.doc_id, dd.n_chars FROM dd JOIN r4 ON dd.lang = r4.lang
         |        WHERE CAST(${graft.functions.Hashes.h60Sql("CAST(dd.doc_id AS VARCHAR) || ':mix1'")} AS DOUBLE)
         |              / 1152921504606846976.0 < r4.p_keep)
         |SELECT * FROM (
         |  SELECT '1_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS chars_sum FROM $DOCS
         |  UNION ALL
         |  SELECT '2_cleaned', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM cd
         |  UNION ALL
         |  SELECT '3_decontaminated', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM dd
         |  UNION ALL
         |  SELECT '4_mixed', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM mm
         |) ORDER BY stage""".stripMargin,
    "q_quality_quantile" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         |             CAST(SUM(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |        FROM t GROUP BY doc_id),
         |q AS (SELECT d.doc_id, d.lang,
         |             CAST(0.5 AS DOUBLE)*(CAST(g.n_distinct AS DOUBLE)/CAST(g.n_tokens AS DOUBLE))
         |               + CAST(0.3 AS DOUBLE)*LEAST((CAST(g.n_stop AS DOUBLE)/CAST(g.n_tokens AS DOUBLE))*CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
         |               + CAST(0.2 AS DOUBLE)*LEAST(CAST(g.n_tokens AS DOUBLE)/CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS quality
         |        FROM $DOCS d JOIN g ON d.doc_id = g.doc_id),
         |r AS (SELECT doc_id, lang, quality,
         |             PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality DESC) AS pct
         |        FROM q)
         |SELECT doc_id, lang, quality, pct FROM r WHERE pct <= 0.5 ORDER BY doc_id""".stripMargin,
    // ---- skew tools (round 5): the salted plans must reproduce the plain
    // unsalted answers bit-for-bit — the oracle IS the unsalted query ----
    "q_skew_tokens" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS)
         |SELECT tok, CAST(COUNT(*) AS BIGINT) AS "count"
         |  FROM t GROUP BY tok ORDER BY tok""".stripMargin,
    "q_skew_join" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |b AS (SELECT DISTINCT tok FROM t WHERE tok IN ('the','a','of','and'))
         |SELECT t.doc_id, t.tok, CAST(length(t.tok) AS BIGINT) AS w
         |  FROM t JOIN b ON t.tok = b.tok ORDER BY t.doc_id, t.tok""".stripMargin,
    // sign-random-projection LSH: the ±1 hyperplanes are md5-derived
    // (Similarity.signPlanes) and inlined as literals; list_sum over the
    // zip is the verified bit-exact twin of the DotProduct fold
    "q_emb_lsh" ->
      s"""WITH $EMB
         |SELECT vec_id, $lshCodeSql AS code FROM e ORDER BY vec_id""".stripMargin,
    "q_emb_lsh_pairs" ->
      s"""WITH $lshPairCtes
         |SELECT a, b, cos FROM v WHERE cos >= 0.45 ORDER BY a, b""".stripMargin,
    // the streaming embedding ingest screen converges to the batch banded
    // chain exactly (Hamming-≤1 cell state = the multi-probe self-join,
    // carving-invariant; same trained index, same cosine verify), so it
    // rides the same oracle
    "q_emb_stream" ->
      s"""WITH $lshPairCtes
         |SELECT a, b, cos FROM v WHERE cos >= 0.45 ORDER BY a, b""".stripMargin,
    // recall gauge for the banded chain: exact all-pairs ground truth `xp`,
    // banded verified pairs from the SAME chain the pairs gate verifies
    "q_emb_lsh_recall" ->
      s"""WITH $lshPairCtes,
         |xp AS (SELECT x.vec_id AS a, y.vec_id AS b
         |         FROM e x JOIN e y ON x.vec_id < y.vec_id
         |        WHERE ${cosSql("x.emb", "y.emb")} >= 0.45),
         |f AS (SELECT a, b FROM v WHERE cos >= 0.45),
         |h AS (SELECT f.a FROM f JOIN xp ON f.a = xp.a AND f.b = xp.b),
         |n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM xp) AS n_true,
         |             (SELECT CAST(COUNT(*) AS BIGINT) FROM f) AS n_found,
         |             (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_hit)
         |SELECT n_true, n_found, n_hit,
         |       CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE)
         |            ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
         |  FROM n""".stripMargin,
    // the COMPOSED ingest pipeline: exact → lexical → semantic, each
    // stage's survivors gating the next — composed verbatim from the
    // q_dedup_stream (md5 groupBy), q_minhash_lsh (vp) and
    // q_emb_lsh_pairs (v) chains; the nested WITH scopes keep the two
    // chains' same-named CTEs (cand) apart. Drop rule per stage: a
    // verified pair among that stage's survivors drops its higher-id
    // endpoint (keep-lowest — banding is per-doc and collision pairwise,
    // so survivor-restricted pairs == full-corpus pairs ∩ survivors²)
    "q_ingest_pipeline" ->
      s"""WITH d AS (SELECT doc_id FROM $DOCS),
         |x AS (SELECT MIN(doc_id) AS keeper FROM $DOCS GROUP BY md5(text)),
         |s1 AS (SELECT keeper AS doc_id FROM x),
         |lex AS (WITH $minhashCtes,
         |        $verifiedPairsCte
         |        SELECT a, b FROM vp),
         |drop2 AS (SELECT DISTINCT l.b AS doc_id FROM lex l
         |           JOIN s1 pa ON l.a = pa.doc_id JOIN s1 pb ON l.b = pb.doc_id),
         |s2 AS (SELECT doc_id FROM s1 EXCEPT SELECT doc_id FROM drop2),
         |sem AS (WITH $lshPairCtes SELECT a, b FROM v WHERE cos >= 0.45),
         |drop3 AS (SELECT DISTINCT m.b AS doc_id FROM sem m
         |           JOIN s2 pa ON m.a = pa.doc_id JOIN s2 pb ON m.b = pb.doc_id)
         |SELECT d.doc_id,
         |       CASE WHEN s1.doc_id IS NULL THEN 'exact'
         |            WHEN d2.doc_id IS NOT NULL THEN 'lexical'
         |            WHEN d3.doc_id IS NOT NULL THEN 'semantic'
         |            ELSE 'kept' END AS stage
         |  FROM d LEFT JOIN s1 ON d.doc_id = s1.doc_id
         |         LEFT JOIN drop2 d2 ON d.doc_id = d2.doc_id
         |         LEFT JOIN drop3 d3 ON d.doc_id = d3.doc_id
         | ORDER BY d.doc_id""".stripMargin,
    // frozen-index recall DECAY: the q_emb_lsh_recall shape over the
    // drifted corpus, cells still pinned at the BOOTSTRAP training — the
    // gap against q_emb_lsh_recall is the reindex-trigger signal
    "q_emb_stream_recall" ->
      s"""WITH $driftedLshPairCtes,
         |xp AS (SELECT x.vec_id AS a, y.vec_id AS b
         |         FROM de x JOIN de y ON x.vec_id < y.vec_id
         |        WHERE ${cosSql("x.emb", "y.emb")} >= 0.45),
         |f AS (SELECT a, b FROM v WHERE cos >= 0.45),
         |h AS (SELECT f.a FROM f JOIN xp ON f.a = xp.a AND f.b = xp.b),
         |n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM xp) AS n_true,
         |             (SELECT CAST(COUNT(*) AS BIGINT) FROM f) AS n_found,
         |             (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_hit)
         |SELECT n_true, n_found, n_hit,
         |       CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE)
         |            ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
         |  FROM n""".stripMargin,
    "q_csv_roundtrip" ->
      s"SELECT doc_id, text, lang, source, n_chars FROM $DOCS ORDER BY doc_id",
    // semantic cross-split leakage: the q_emb_lsh_pairs chain + salted
    // split assignment, keeping only pairs that cross the boundary
    "q_split_leakage" ->
      s"""WITH $lshPairCtes,
         |p AS (SELECT a, b, cos,
         |             CASE WHEN ${graft.functions.Hashes.h60Sql("CAST(a AS VARCHAR) || ':split1'")} % 10 < 8
         |                  THEN 'train' ELSE 'eval' END AS sa,
         |             CASE WHEN ${graft.functions.Hashes.h60Sql("CAST(b AS VARCHAR) || ':split1'")} % 10 < 8
         |                  THEN 'train' ELSE 'eval' END AS sb
         |        FROM v WHERE cos >= 0.45)
         |SELECT CASE WHEN sa = 'eval' THEN a ELSE b END AS eval_id,
         |       CASE WHEN sa = 'eval' THEN b ELSE a END AS train_id, cos
         |  FROM p WHERE sa <> sb ORDER BY eval_id, train_id""".stripMargin,
    // per-dim winsorization audit: exact discrete p1/p99 + outlier mass
    "q_emb_clip" ->
      s"""WITH $EMB,
         |d0 AS (SELECT emb, unnest(range(0, length(emb))) AS dim FROM e),
         |dv AS (SELECT CAST(dim AS BIGINT) AS dim,
         |              emb[CAST(dim + 1 AS INT)] AS v FROM d0),
         |th AS (SELECT dim, quantile_disc(v, 0.01) AS lo,
         |              quantile_disc(v, 0.99) AS hi
         |         FROM dv GROUP BY dim)
         |SELECT dv.dim, MAX(th.lo) AS lo, MAX(th.hi) AS hi,
         |       CAST(SUM(CASE WHEN dv.v < th.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
         |       CAST(SUM(CASE WHEN dv.v > th.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
         |  FROM dv JOIN th ON dv.dim = th.dim
         | GROUP BY dv.dim ORDER BY dv.dim""".stripMargin,
    // corpus bigram counts: 1-based positional pairing over the token list
    "q_bigrams" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM $DOCS),
         |b AS (SELECT toks[i] AS w1, toks[i+1] AS w2
         |        FROM t, unnest(range(1, len(toks))) u(i)
         |       WHERE len(toks) >= 2)
         |SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM b GROUP BY w1, w2 HAVING COUNT(*) >= 2
         | ORDER BY w1, w2""".stripMargin,
    // unigram surprisal in whole bits: floor_log2 via exact bin-string
    // lengths, so every aggregate is an exact int64 sum and only the final
    // per-doc means divide — mirrors TextAnalysis.unigramScore
    // Sparse TF-IDF cosine pairs: whole-bit idf (bin-length floor-log2),
    // exact-integer threshold (squared through HUGEINT), IEEE cosine
    "q_tfidf_pairs" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
         |d AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
         |p AS (SELECT tf.doc_id, tf.tok,
         |             tf.tf * CAST(length(bin(n.n // d.df)) - 1 AS BIGINT) AS w
         |        FROM tf JOIN d ON tf.tok = d.tok, n
         |       WHERE d.df <= 50 AND length(bin(n.n // d.df)) - 1 >= 1),
         |nm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS ss FROM p GROUP BY 1),
         |pr AS (SELECT x.doc_id AS a, y.doc_id AS b,
         |              CAST(SUM(x.w * y.w) AS BIGINT) AS num
         |         FROM p x JOIN p y ON x.tok = y.tok AND x.doc_id < y.doc_id
         |        GROUP BY 1, 2)
         |SELECT pr.a, pr.b, pr.num,
         |       CAST(pr.num AS DOUBLE) /
         |         (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))) AS cos
         |  FROM pr JOIN nm na ON pr.a = na.doc_id
         |  JOIN nm nb ON pr.b = nb.doc_id
         | WHERE CAST(2 * pr.num AS HUGEINT) * CAST(2 * pr.num AS HUGEINT)
         |       >= CAST(na.ss AS HUGEINT) * CAST(nb.ss AS HUGEINT)
         | ORDER BY a, b""".stripMargin,
    "q_unigram" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS m FROM t GROUP BY doc_id, tok),
         |cf AS (SELECT tok, CAST(SUM(m) AS BIGINT) AS cf FROM tf GROUP BY tok),
         |tot AS (SELECT CAST(length(bin(CAST(SUM(cf) AS BIGINT))) - 1 AS BIGINT) AS tbits FROM cf),
         |g AS (SELECT tf.doc_id,
         |             CAST(SUM(tf.m) AS BIGINT) AS n_tokens,
         |             CAST(SUM(tf.m * cf.cf) AS BIGINT) AS sum_cf,
         |             CAST(SUM(tf.m * (tot.tbits - (length(bin(cf.cf)) - 1))) AS BIGINT) AS surprisal_bits,
         |             CAST(SUM(CASE WHEN cf.cf = 1 THEN tf.m ELSE 0 END) AS BIGINT) AS n_hapax
         |        FROM tf JOIN cf ON tf.tok = cf.tok, tot
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, n_tokens, sum_cf, surprisal_bits, n_hapax,
         |       CAST(sum_cf AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_cf,
         |       CAST(surprisal_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_bits
         |  FROM g ORDER BY doc_id""".stripMargin,
    // bigram lift = p(ab)/(p(a)p(b)) with the log deliberately untaken —
    // exact integer counts, pinned division/multiply order, no libm gate;
    // mirrors TextAnalysis.bigramLift cast-for-cast
    "q_bigram_lift" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM $DOCS),
         |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
         |          FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
         |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uni),
         |p AS (SELECT toks[i] AS w1, toks[i+1] AS w2
         |        FROM t, unnest(range(1, len(toks))) u(i)
         |       WHERE len(toks) >= 2),
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM p),
         |bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
         |         FROM p GROUP BY w1, w2 HAVING COUNT(*) >= 5)
         |SELECT bg.w1, bg.w2, bg.c_ab, a.c AS c_a, b.c AS c_b,
         |       (CAST(bg.c_ab AS DOUBLE) / CAST(nb.nb AS DOUBLE)) /
         |       ((CAST(a.c AS DOUBLE) / CAST(nu.nu AS DOUBLE)) *
         |        (CAST(b.c AS DOUBLE) / CAST(nu.nu AS DOUBLE))) AS lift
         |  FROM bg JOIN uni a ON bg.w1 = a.tok
         |          JOIN uni b ON bg.w2 = b.tok, nb, nu
         | ORDER BY bg.w1, bg.w2""".stripMargin,
    // per-doc top-k similar over the verified LSH pair graph: symmetrize,
    // rank by (jaccard desc, nbr asc), keep 3 — same window both engines
    "q_top_similar" ->
      s"""WITH $minhashCtes,
         |$verifiedPairsCte,
         |sym AS (SELECT a AS doc_id, b AS nbr, jaccard FROM vp
         |        UNION ALL SELECT b AS doc_id, a AS nbr, jaccard FROM vp),
         |r AS (SELECT doc_id, nbr, jaccard,
         |             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |                  ORDER BY jaccard DESC, nbr ASC) AS BIGINT) AS rk
         |        FROM sym)
         |SELECT doc_id, nbr, jaccard, rk FROM r WHERE rk <= 3
         | ORDER BY doc_id, rk""".stripMargin,
    // overlapping token-window chunking: integer chunk count, 1-based
    // inclusive list slice (DuckDB clamps past-end like Spark's slice)
    "q_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $DOCS
         |            WHERE text IS NOT NULL),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
         |c AS (SELECT doc_id, toks,
         |             unnest(range(0, (GREATEST(n_toks - 10, 1) + 29) // 30)) AS chunk_no
         |        FROM n)
         |SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
         |       CAST(len(toks[(chunk_no*30 + 1):(chunk_no*30 + 40)]) AS BIGINT) AS n_chunk_tokens,
         |       array_to_string(toks[(chunk_no*30 + 1):(chunk_no*30 + 40)], ' ') AS chunk_text
         |  FROM c ORDER BY doc_id, chunk_no""".stripMargin,
    // weight-proportional Bernoulli sample: pure 64-bit integer comparison,
    // no floating point — the LEAST cap mirrors the Spark side's overflow
    // guard bit-for-bit
    "q_weighted_sample" ->
      s"""SELECT doc_id, n_chars, lang FROM $DOCS
         | WHERE ${graft.functions.Hashes.h60Sql("CAST(doc_id AS VARCHAR) || ':wsamp1'")}
         |       < LEAST(n_chars, 2000) * ${(1L << 60) / 2000L}
         | ORDER BY doc_id""".stripMargin,
    // temperature mixing (τ = 1/2): IEEE sqrt is exactly rounded, the
    // quantized weights sum as integers (order-free), and /2^60 is exact —
    // every double here is bit-identical to the Spark side
    "q_mixture" ->
      s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM $DOCS GROUP BY lang),
         |q AS (SELECT lang, n_l,
         |             CAST(FLOOR(SQRT(CAST(n_l AS DOUBLE)) * 1048576.0) AS BIGINT) AS s_l
         |        FROM c),
         |t AS (SELECT CAST(SUM(s_l) AS BIGINT) AS s_tot FROM q),
         |r AS (SELECT lang,
         |             CAST(s_l * 300 AS DOUBLE)
         |               / (CAST(s_tot AS DOUBLE) * CAST(n_l AS DOUBLE)) AS p_keep
         |        FROM q, t)
         |SELECT d.doc_id, d.lang, r.p_keep
         |  FROM $DOCS d JOIN r ON d.lang = r.lang
         | WHERE CAST(${graft.functions.Hashes.h60Sql("CAST(d.doc_id AS VARCHAR) || ':mix1'")} AS DOUBLE)
         |       / 1152921504606846976.0 < r.p_keep
         | ORDER BY doc_id""".stripMargin,
    // triangle participation on the SimHash pair graph: the oracle counts
    // each triangle once via the a<b<c canonical form — orientation-free,
    // so it is independent of the engine's degree-ordered evaluation
    "q_triangles" ->
      s"""WITH $simhashEdges,
         |tri AS (SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
         |          FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
         |          JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         |u AS (SELECT unnest([v1, v2, v3]) AS doc_id FROM tri)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri
         |  FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // fixed-point PageRank: every round is integer arithmetic (2^40-scale
    // ranks, floor divisions), so the oracle unrolls all 5 rounds as CTEs
    // and every rank value hash-matches to the bit
    "q_pagerank" -> {
      val rounds = (1 to 5).map { i =>
        s"""pr$i AS (SELECT sym.b AS v,
           |             (15 * (SELECT base FROM bb)
           |              + 85 * CAST(SUM(pr${i - 1}.r // d.deg) AS BIGINT)) // 100 AS r
           |        FROM sym JOIN pr${i - 1} ON sym.a = pr${i - 1}.v
           |             JOIN d ON sym.a = d.a
           |       GROUP BY sym.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH $simhashEdges,
         |sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         |d AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY a),
         |bb AS (SELECT (CAST(1 AS BIGINT) << 40) // COUNT(*) AS base FROM d),
         |pr0 AS (SELECT a AS v, (SELECT base FROM bb) AS r FROM d),
         |$rounds
         |SELECT v AS doc_id, r AS "rank" FROM pr5 ORDER BY doc_id""".stripMargin
    },
    // prefix-filtered exact Jaccard join: the oracle is the BRUTE-FORCE
    // definition over full shingle sets — the gate passes iff the engine's
    // prefix/length/positional candidate pruning loses nothing. The
    // threshold test is the same exact integer form (t = 4/5)
    "q_prefix_jaccard" ->
      s"""WITH $SH,
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS inter
         |            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |           GROUP BY 1, 2)
         |$jaccardSelect
         | WHERE i.inter * 5 >= (ca.c + cb.c - i.inter) * 4
         | ORDER BY a, b""".stripMargin,
    // Bloom decontamination: "bit is set" ≡ "20-bit window ∈ the distinct
    // benchmark-position set", so the oracle replays the bitset exactly —
    // false positives and all
    "q_decontam_bloom" ->
      s"""WITH $SH,
         |hh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
         |b AS (SELECT DISTINCT h FROM hh WHERE doc_id % 97 = 0),
         |pos AS (SELECT DISTINCT (h >> sh) & 1048575 AS p
         |          FROM b, (VALUES (0),(13),(26),(39)) v(sh)),
         |tr AS (SELECT doc_id, h FROM hh WHERE doc_id % 97 <> 0),
         |hit AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hit
         |          FROM tr
         |         WHERE ((h >> 0) & 1048575) IN (SELECT p FROM pos)
         |           AND ((h >> 13) & 1048575) IN (SELECT p FROM pos)
         |           AND ((h >> 26) & 1048575) IN (SELECT p FROM pos)
         |           AND ((h >> 39) & 1048575) IN (SELECT p FROM pos)
         |         GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |          FROM tr GROUP BY doc_id)
         |SELECT t.doc_id, t.n_shingles,
         |       COALESCE(hit.n_bloom_hit, CAST(0 AS BIGINT)) AS n_bloom_hit,
         |       (CAST(COALESCE(hit.n_bloom_hit, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)) >= 0.2 AS contaminated
         |  FROM tot t LEFT JOIN hit ON t.doc_id = hit.doc_id
         | ORDER BY t.doc_id""".stripMargin,
    // eval-split n-gram novelty: split rule mirrors q_split; shingle hashes
    // mirror the docSignatures kernel (same md5-60bit family as q_decontam)
    "q_ngram_novelty" ->
      s"""WITH $SH,
         |hh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
         |sp AS (SELECT doc_id,
         |              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bucket
         |         FROM $DOCS),
         |tr AS (SELECT DISTINCT hh.h FROM hh JOIN sp ON hh.doc_id = sp.doc_id
         |        WHERE sp.bucket < 8),
         |ev AS (SELECT doc_id, CASE WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
         |         FROM sp WHERE bucket >= 8),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM hh GROUP BY doc_id),
         |hit AS (SELECT hh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_seen
         |          FROM hh JOIN tr ON hh.h = tr.h
         |          JOIN ev ON hh.doc_id = ev.doc_id
         |         GROUP BY hh.doc_id)
         |SELECT ev.doc_id, ev.split, tot.n_shingles,
         |       COALESCE(hit.n_seen, CAST(0 AS BIGINT)) AS n_seen,
         |       CAST(1 AS DOUBLE) - CAST(COALESCE(hit.n_seen, 0) AS DOUBLE) / CAST(tot.n_shingles AS DOUBLE) AS novelty
         |  FROM ev JOIN tot ON ev.doc_id = tot.doc_id
         |  LEFT JOIN hit ON ev.doc_id = hit.doc_id
         | ORDER BY ev.doc_id""".stripMargin,
    // Spearman agreement between the heuristic quality and LM surprisal
    // signals: exact integer Sd2, rho in two IEEE ops
    "q_signal_corr" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         |             CAST(SUM(CASE WHEN tok IN ('the','a','of','and') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
         |        FROM t GROUP BY doc_id),
         |q AS (SELECT d.doc_id,
         |             CAST(0.5 AS DOUBLE)*(CAST(g.n_distinct AS DOUBLE)/CAST(g.n_tokens AS DOUBLE))
         |               + CAST(0.3 AS DOUBLE)*LEAST((CAST(g.n_stop AS DOUBLE)/CAST(g.n_tokens AS DOUBLE))*CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
         |               + CAST(0.2 AS DOUBLE)*LEAST(CAST(g.n_tokens AS DOUBLE)/CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS quality
         |        FROM $DOCS d JOIN g ON d.doc_id = g.doc_id),
         |a AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $DOCS
         |       WHERE len(string_split(text, ' ')) >= 2),
         |bg AS (SELECT doc_id, toks[CAST(u.i AS INTEGER)] AS w1,
         |              toks[CAST(u.i AS INTEGER) + 1] AS w2
         |         FROM a, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)),
         |dbg AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS m
         |          FROM bg GROUP BY doc_id, w1, w2),
         |cab AS (SELECT w1, w2, CAST(SUM(m) AS BIGINT) AS c_ab FROM dbg GROUP BY w1, w2),
         |ca AS (SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY w1),
         |lm AS (SELECT dbg.doc_id,
         |              CAST(SUM(dbg.m * ((length(bin(ca.c_a)) - 1) -
         |                                (length(bin(cab.c_ab)) - 1))) AS BIGINT) AS cond_bits,
         |              CAST(SUM(dbg.m) AS BIGINT) AS n_bigrams
         |         FROM dbg
         |         JOIN cab ON dbg.w1 = cab.w1 AND dbg.w2 = cab.w2
         |         JOIN ca ON dbg.w1 = ca.w1
         |        GROUP BY dbg.doc_id),
         |j AS (SELECT q.doc_id, q.quality,
         |             CAST(lm.cond_bits AS DOUBLE) / CAST(lm.n_bigrams AS DOUBLE) AS bpb
         |        FROM q JOIN lm ON q.doc_id = lm.doc_id),
         |r AS (SELECT doc_id,
         |             CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS r1,
         |             CAST(ROW_NUMBER() OVER (ORDER BY bpb ASC, doc_id) AS BIGINT) AS r2
         |        FROM j)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2,
         |       CAST(1 AS DOUBLE) - CAST(SUM((r1 - r2) * (r1 - r2)) * 6 AS DOUBLE)
         |         / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE) AS rho
         |  FROM r""".stripMargin,
    // incremental view maintenance identity: merge(base,batch) must equal
    // the recompute; the consistent flag rides in the gate
    "q_ivm" ->
      s"""WITH v AS (SELECT lang, doc_id,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |             FROM $DOCS),
         |b AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(nt) AS BIGINT) AS n_tokens
         |        FROM v WHERE doc_id % 10 <> 0 GROUP BY lang),
         |d AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(nt) AS BIGINT) AS n_tokens
         |        FROM v WHERE doc_id % 10 = 0 GROUP BY lang),
         |m AS (SELECT COALESCE(b.lang, d.lang) AS lang,
         |             COALESCE(b.n_docs, 0) + COALESCE(d.n_docs, 0) AS n_docs,
         |             COALESCE(b.n_tokens, 0) + COALESCE(d.n_tokens, 0) AS n_tokens
         |        FROM b FULL OUTER JOIN d ON b.lang = d.lang),
         |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS g_docs,
         |             CAST(SUM(nt) AS BIGINT) AS g_tokens
         |        FROM v GROUP BY lang)
         |SELECT m.lang, CAST(m.n_docs AS BIGINT) AS n_docs,
         |       CAST(m.n_tokens AS BIGINT) AS n_tokens,
         |       (m.n_docs = g.g_docs AND m.n_tokens = g.g_tokens) AS consistent
         |  FROM m FULL OUTER JOIN g ON m.lang = g.lang
         | ORDER BY m.lang""".stripMargin,
    // robust per-source stats: exact discrete percentiles + integer
    // winsorized sum, one division
    "q_robust_stats" ->
      s"""WITH thr AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |                    CAST(percentile_disc(0.01) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p01,
         |                    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p50,
         |                    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p99
         |               FROM $DOCS GROUP BY source),
         |w AS (SELECT d.source, thr.n, thr.p01, thr.p50, thr.p99,
         |             CAST(SUM(GREATEST(thr.p01, LEAST(thr.p99, d.n_chars))) AS BIGINT) AS wins_sum
         |        FROM $DOCS d JOIN thr ON d.source = thr.source
         |       GROUP BY 1, 2, 3, 4, 5)
         |SELECT source, n, p01, p50, p99, wins_sum,
         |       CAST(wins_sum AS DOUBLE) / CAST(n AS DOUBLE) AS wins_mean
         |  FROM w ORDER BY source""".stripMargin,
    // token burstiness: implicit-zeros index of dispersion, exact integer
    // numerator, one division
    "q_burstiness" ->
      s"""WITH tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS m
         |              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $DOCS)
         |             GROUP BY doc_id, tok),
         |g AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         |             CAST(SUM(m) AS BIGINT) AS total,
         |             CAST(SUM(m * m) AS BIGINT) AS m2
         |        FROM tf GROUP BY tok),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM $DOCS)
         |SELECT tok, df, total, m2,
         |       CAST(nd.n_docs * m2 - total * total AS DOUBLE)
         |         / CAST(nd.n_docs * total AS DOUBLE) AS vmr
         |  FROM g, nd ORDER BY tok""".stripMargin,
    // right-to-be-forgotten audit: survivors' XOR fingerprint proves the
    // deletion landed (a residual row flips it); counts ride along
    "q_forget" ->
      s"""WITH h AS (SELECT source,
         |                  ${graft.functions.Hashes.h60Sql("CAST(doc_id AS VARCHAR) || ':' || text")} AS h,
         |                  doc_id % 101 = 0 AS del
         |             FROM $DOCS)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before,
         |       CAST(SUM(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
         |       CAST(SUM(CASE WHEN NOT del THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
         |       CAST(bit_xor(CASE WHEN NOT del THEN h ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS xor_after
         |  FROM h GROUP BY source ORDER BY source""".stripMargin,
    // Neyman allocation: integer variance numerator + one IEEE sqrt/floor
    // per stratum, integer div against the weight total
    "q_neyman" ->
      s"""WITH st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |                   CAST(SUM(n_chars) AS BIGINT) AS sx,
         |                   CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
         |              FROM $DOCS GROUP BY 1),
         |w AS (SELECT source, n, sx, n * sxx - sx * sx AS v,
         |             CAST(FLOOR(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))) AS BIGINT) AS w
         |        FROM st),
         |t AS (SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM w)
         |SELECT source, n, sx, v, w, (100 * w) // wtot AS alloc
         |  FROM w, t ORDER BY source""".stripMargin,
    // deterministic token-dropout augmentation: per-(doc,pos) hash coins,
    // survivors reassembled in position order, rebuilt string hashed
    "q_augment" ->
      s"""WITH a AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $DOCS),
         |t AS (SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos,
         |             toks[CAST(u.i AS INTEGER)] AS tok
         |        FROM a, LATERAL unnest(generate_series(1, len(toks))) AS u(i)),
         |k AS (SELECT doc_id, pos, tok,
         |             (${graft.functions.Hashes.h60Sql(
                           "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) || ':aug1'")} % 10 <> 0) AS keep
         |        FROM t),
         |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |             string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY pos) AS aug
         |        FROM k GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_kept,
         |       ${graft.functions.Hashes.h60Sql("COALESCE(aug, '')")} AS aug_fp
         |  FROM g ORDER BY doc_id""".stripMargin,
    // coverage-gap grid: full lang x source cross join, zero cells flagged
    "q_coverage_gap" ->
      s"""WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
         |             FROM $DOCS GROUP BY 1, 2),
         |l AS (SELECT DISTINCT lang FROM $DOCS),
         |s AS (SELECT DISTINCT source FROM $DOCS)
         |SELECT l.lang, s.source,
         |       CAST(COALESCE(c.c, 0) AS BIGINT) AS n_docs,
         |       c.c IS NULL AS missing
         |  FROM l CROSS JOIN s
         |  LEFT JOIN c ON l.lang = c.lang AND s.source = c.source
         | ORDER BY l.lang, s.source""".stripMargin,
    // k-anonymity audit: quasi-identifier classes (lang, source, 100-char
    // length bucket) with population and the sub-k re-identifiability flag
    "q_kanonymity" ->
      s"""SELECT lang, source, len_bucket, n_docs, n_docs < 5 AS at_risk
         |  FROM (SELECT lang, source,
         |               CAST(FLOOR(n_chars / 100) AS BIGINT) AS len_bucket,
         |               CAST(COUNT(*) AS BIGINT) AS n_docs
         |          FROM $DOCS GROUP BY 1, 2, 3)
         | ORDER BY lang, source, len_bucket""".stripMargin,
    // corpus-balance report per axis: exact floor_log2 whole-bit entropy
    // (same integer form as q_unigram/q_doc_entropy — no libm), one final
    // integer division per double
    "q_diversity" ->
      s"""WITH cl AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_c
         |              FROM $DOCS GROUP BY 1),
         |cs AS (SELECT source AS cls, CAST(COUNT(*) AS BIGINT) AS n_c
         |         FROM $DOCS GROUP BY 1),
         |al AS (SELECT 'lang' AS axis, CAST(COUNT(*) AS BIGINT) AS n_classes,
         |              CAST(SUM(n_c) AS BIGINT) AS n_docs,
         |              MAX(n_c) AS max_class, MIN(n_c) AS min_class,
         |              CAST(SUM(n_c * (tb.tbits - (length(bin(n_c)) - 1))) AS BIGINT) AS x
         |         FROM cl, (SELECT CAST(length(bin(SUM(n_c))) - 1 AS BIGINT) AS tbits
         |                     FROM cl) tb
         |        GROUP BY tb.tbits),
         |asrc AS (SELECT 'source' AS axis, CAST(COUNT(*) AS BIGINT) AS n_classes,
         |              CAST(SUM(n_c) AS BIGINT) AS n_docs,
         |              MAX(n_c) AS max_class, MIN(n_c) AS min_class,
         |              CAST(SUM(n_c * (tb.tbits - (length(bin(n_c)) - 1))) AS BIGINT) AS x
         |         FROM cs, (SELECT CAST(length(bin(SUM(n_c))) - 1 AS BIGINT) AS tbits
         |                     FROM cs) tb
         |        GROUP BY tb.tbits)
         |SELECT axis, n_classes, n_docs, max_class, min_class,
         |       CAST(max_class AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share,
         |       x AS entropy_bits,
         |       CAST(x AS DOUBLE) / CAST(n_docs AS DOUBLE) AS bits_per_doc
         |  FROM (SELECT * FROM al UNION ALL SELECT * FROM asrc)
         | ORDER BY axis""".stripMargin,
    // contamination attribution: per contaminated doc (q_decontam's exact
    // overlap gate), the benchmark doc sharing the most shingle hashes
    // (ties -> smallest bench id)
    "q_contam_attr" ->
      s"""WITH $SH,
         |hh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
         |be AS (SELECT doc_id AS bench_id, h FROM hh WHERE doc_id % 97 = 0),
         |b AS (SELECT DISTINCT h FROM be),
         |tr AS (SELECT doc_id, h FROM hh WHERE doc_id % 97 <> 0),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |          FROM tr GROUP BY doc_id),
         |hit AS (SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |          FROM tr JOIN b ON tr.h = b.h GROUP BY tr.doc_id),
         |p AS (SELECT tr.doc_id, be.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         |        FROM tr JOIN be ON tr.h = be.h GROUP BY 1, 2),
         |top AS (SELECT doc_id, bench_id, n_shared,
         |               ROW_NUMBER() OVER (PARTITION BY doc_id
         |                                  ORDER BY n_shared DESC, bench_id) AS rn
         |          FROM p)
         |SELECT t.doc_id, t.n_shingles, hit.n_hit, top.bench_id, top.n_shared
         |  FROM tot t
         |  JOIN hit ON t.doc_id = hit.doc_id
         |  JOIN top ON t.doc_id = top.doc_id AND top.rn = 1
         | WHERE CAST(hit.n_hit AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
         |       >= CAST(0.2 AS DOUBLE)
         | ORDER BY t.doc_id""".stripMargin,
    "q_decontam" ->
      s"""WITH $SH,
         |hh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
         |b AS (SELECT DISTINCT h FROM hh WHERE doc_id % 97 = 0),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |          FROM hh WHERE doc_id % 97 <> 0 GROUP BY doc_id),
         |hit AS (SELECT hh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |          FROM hh JOIN b ON hh.h = b.h
         |         WHERE hh.doc_id % 97 <> 0 GROUP BY hh.doc_id)
         |SELECT t.doc_id, t.n_shingles,
         |       COALESCE(hit.n_hit, CAST(0 AS BIGINT)) AS n_hit,
         |       CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) AS overlap,
         |       (CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)) >= 0.2 AS contaminated
         |  FROM tot t LEFT JOIN hit ON t.doc_id = hit.doc_id
         | ORDER BY t.doc_id""".stripMargin,
    // ---- round 13: BM25 retrieval (integer-scaled, whole-bit idf) ----
    // mirrors graft.operators.Retrieval.bm25TopK: k1=6/5, b=3/4, contrib
    // = (idf*tf*44*S*1024) // (20*tf*S + 6*S + 18*dl*N), order-free
    // integer sum per (qid, doc) — every operand int64, no libm anywhere
    "q_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT qid, doc_id, score, rank FROM rk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // serve-from-artifact == the in-query chain (stored counts are exact
    // integers; same whole-bit idf, same floor-divided contributions)
    "q_bm25_served" ->
      s"""WITH $bm25Ctes
         |SELECT qid, doc_id, score, rank FROM rk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // upsert -> trigger -> rebuild: after the remedy the statistics are
    // the full corpus's again, so the serve IS the q_bm25 chain
    "q_lexicon_lifecycle" ->
      s"""WITH $bm25Ctes
         |SELECT qid, doc_id, score, rank FROM rk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // P/R@10 against the term-overlap pseudo-relevance set (>= 2 shared
    // distinct indexable query terms; NOT what BM25 optimizes, so the
    // gauge discriminates rankings rather than echoing the score)
    "q_retrieval_eval" ->
      s"""WITH $bm25Ctes,
         |rel AS (SELECT tm.qid, tf.doc_id
         |          FROM tf JOIN terms tm ON tf.tok = tm.tok
         |         WHERE tf.doc_id <> tm.qid
         |         GROUP BY tm.qid, tf.doc_id
         |        HAVING COUNT(DISTINCT tf.tok) >= 2),
         |nr AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
         |h AS (SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS hits
         |        FROM rk r JOIN rel ON r.qid = rel.qid AND r.doc_id = rel.doc_id
         |       WHERE r.rank <= 10 GROUP BY r.qid),
         |qs AS (SELECT DISTINCT doc_id AS qid FROM tf WHERE doc_id < 5)
         |SELECT qs.qid,
         |       COALESCE(nr.n_rel, CAST(0 AS BIGINT)) AS n_rel,
         |       COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
         |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS precision,
         |       CASE WHEN COALESCE(nr.n_rel, 0) = 0 THEN CAST(0.0 AS DOUBLE)
         |            ELSE CAST(COALESCE(h.hits, 0) AS DOUBLE) /
         |                 CAST(COALESCE(nr.n_rel, 1) AS DOUBLE) END AS recall
         |  FROM qs
         |  LEFT JOIN nr ON qs.qid = nr.qid
         |  LEFT JOIN h ON qs.qid = h.qid ORDER BY qs.qid""".stripMargin,
    // upsert under FROZEN stats: (N, S, df, idf) from the % 4 <> 3 base
    // split; postings and lengths over the merged corpus
    "q_bm25_upsert" ->
      s"""WITH ${bm25CtesFor("doc_id % 4 <> 3")}
         |SELECT qid, doc_id, score, rank FROM rk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // HYBRID RRF (r14): fuse the bm25 rank chain (rk) with the brute
    // cosine rank chain (br) — contrib = 1e6 // (60 + rank), exact int64,
    // order-free sum; a system that missed the doc contributes 0
    "q_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |$EMB,
         |$bruteTopkCtesNoEmb,
         |lx AS (SELECT qid, doc_id, rank AS lrank FROM rk WHERE rank <= 10),
         |sm AS (SELECT qid, nid AS doc_id, rank AS srank FROM br WHERE rank <= 10),
         |fu AS (SELECT COALESCE(lx.qid, sm.qid) AS qid,
         |              COALESCE(lx.doc_id, sm.doc_id) AS doc_id,
         |              CAST(COALESCE(1000000 // (60 + lx.lrank), 0) +
         |                   COALESCE(1000000 // (60 + sm.srank), 0) AS BIGINT) AS fused
         |         FROM lx FULL OUTER JOIN sm
         |           ON lx.qid = sm.qid AND lx.doc_id = sm.doc_id),
         |fr AS (SELECT qid, doc_id, fused,
         |              CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                   ORDER BY fused DESC, doc_id) AS BIGINT) AS rank
         |         FROM fu)
         |SELECT qid, doc_id, fused, rank FROM fr
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // the SERVED hybrid (r14): lexical leg = the bm25 chain (stored
    // integers are exact), semantic leg = the SQ8 code-distance chain
    // (stored ranges/codes are exact), same integer RRF fusion
    "q_hybrid_served" ->
      s"""WITH $bm25Ctes,
         |$sq8TopkCtes,
         |lx AS (SELECT qid, doc_id, rank AS lrank FROM rk WHERE rank <= 10),
         |sm AS (SELECT qid, nid AS doc_id, rank AS srank FROM srk WHERE rank <= 10),
         |fu AS (SELECT COALESCE(lx.qid, sm.qid) AS qid,
         |              COALESCE(lx.doc_id, sm.doc_id) AS doc_id,
         |              CAST(COALESCE(1000000 // (60 + lx.lrank), 0) +
         |                   COALESCE(1000000 // (60 + sm.srank), 0) AS BIGINT) AS fused
         |         FROM lx FULL OUTER JOIN sm
         |           ON lx.qid = sm.qid AND lx.doc_id = sm.doc_id),
         |fr AS (SELECT qid, doc_id, fused,
         |              CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                   ORDER BY fused DESC, doc_id) AS BIGINT) AS rank
         |         FROM fu)
         |SELECT qid, doc_id, fused, rank FROM fr
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // MAP@10 (r14): scaled integer average precision — hit i at rank r_i
    // contributes (i * 1e6) // (r_i * min(n_rel, 10)); order-free int sum
    "q_map_eval" ->
      s"""WITH $bm25Ctes,
         |rel AS (SELECT tm.qid, tf.doc_id
         |          FROM tf JOIN terms tm ON tf.tok = tm.tok
         |         WHERE tf.doc_id <> tm.qid
         |         GROUP BY tm.qid, tf.doc_id
         |        HAVING COUNT(DISTINCT tf.tok) >= 2),
         |nr AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
         |ht AS (SELECT r.qid, r.rank,
         |              CAST(ROW_NUMBER() OVER (PARTITION BY r.qid
         |                   ORDER BY r.rank) AS BIGINT) AS h
         |         FROM rk r JOIN rel ON r.qid = rel.qid AND r.doc_id = rel.doc_id
         |        WHERE r.rank <= 10),
         |apq AS (SELECT ht.qid, CAST(COUNT(*) AS BIGINT) AS hits,
         |               CAST(SUM((ht.h * 1000000) //
         |                    (ht.rank * least(nr.n_rel, 10))) AS BIGINT) AS ap_scaled
         |          FROM ht JOIN nr ON ht.qid = nr.qid GROUP BY ht.qid),
         |qs AS (SELECT DISTINCT doc_id AS qid FROM tf WHERE doc_id < 5)
         |SELECT qs.qid,
         |       COALESCE(nr.n_rel, CAST(0 AS BIGINT)) AS n_rel,
         |       COALESCE(apq.hits, CAST(0 AS BIGINT)) AS hits,
         |       COALESCE(apq.ap_scaled, CAST(0 AS BIGINT)) AS ap_scaled,
         |       CAST(COALESCE(apq.ap_scaled, 0) AS DOUBLE) / 1000000.0 AS ap
         |  FROM qs
         |  LEFT JOIN nr ON qs.qid = nr.qid
         |  LEFT JOIN apq ON qs.qid = apq.qid ORDER BY qs.qid""".stripMargin,
    // SNIPPETS (r14): per hit, the highest-idf query phrase the text
    // literally contains + a fixed window around it (strpos/substr are
    // 1-based in both engines; a hit with no literal phrase drops)
    "q_snippets" ->
      s"""WITH $bm25Ctes,
         |hx AS (SELECT r.qid, r.doc_id, r.rank, d.text
         |         FROM rk r JOIN $DOCS d ON r.doc_id = d.doc_id
         |        WHERE r.rank <= 10),
         |cand AS (SELECT hx.qid, hx.doc_id, hx.rank, tm.tok, tm.idf, hx.text,
         |                CAST(strpos(hx.text, tm.tok) AS BIGINT) AS pos
         |           FROM hx JOIN terms tm ON hx.qid = tm.qid
         |          WHERE strpos(hx.text, tm.tok) > 0),
         |pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, doc_id
         |                ORDER BY idf DESC, tok) AS rn
         |           FROM cand)
         |SELECT qid, doc_id, rank, tok AS term, pos,
         |       substr(text, greatest(1, pos - 20), 60) AS snippet
         |  FROM pick WHERE rn = 1 ORDER BY qid, rank""".stripMargin,
    // STREAMING lexicon upsert (r14): micro-batch carving is invisible
    // under frozen stats (pure per-doc appends), so the oracle is
    // q_bm25_upsert's verbatim
    "q_lexicon_upsert_stream" ->
      s"""WITH ${bm25CtesFor("doc_id % 4 <> 3")}
         |SELECT qid, doc_id, score, rank FROM rk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // LEXICON COMPACTION (r14): frozen stats/vocab, rewritten tables,
    // re-derived bucket count — served scores are BIT-IDENTICAL to the
    // uncompacted upsert chain, so the oracle is q_bm25_upsert's verbatim
    "q_lexicon_compact" ->
      s"""WITH ${bm25CtesFor("doc_id % 4 <> 3")}
         |SELECT qid, doc_id, score, rank FROM rk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // FREE-TEXT query surface (r14): caller-supplied (qid, text) queries —
    // here derived from the % 101 = 5 doc slice so the oracle is
    // SQL-expressible — scored with NO self-exclusion (caller qids are
    // not corpus doc ids; a query equal to a corpus doc retrieves it)
    "q_bm25_freeq" ->
      s"""WITH ${bm25CtesFor("TRUE", "tf.doc_id % 101 = 5", selfExclude = false)}
         |SELECT qid, doc_id, score, rank FROM rk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // composed retrieve -> exact-dup collapse -> greedy budget pack
    "q_rag_pipeline" ->
      s"""WITH $bm25Ctes,
         |hits AS (SELECT qid, doc_id, score, rank FROM rk WHERE rank <= 10),
         |wc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
         |         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |                 FROM $DOCS) GROUP BY doc_id),
         |hx AS (SELECT h.qid, h.doc_id, h.rank, d2.text, wc.n_tokens
         |         FROM hits h
         |         JOIN $DOCS d2 ON h.doc_id = d2.doc_id
         |         JOIN wc ON h.doc_id = wc.doc_id),
         |ded AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, text ORDER BY rank) AS copy_rn
         |          FROM hx),
         |pk AS (SELECT qid, doc_id, rank, n_tokens,
         |              CAST(SUM(n_tokens) OVER (PARTITION BY qid ORDER BY rank
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |         FROM ded WHERE copy_rn = 1)
         |SELECT qid, doc_id, rank, n_tokens, cum_tokens,
         |       cum_tokens <= 256 AS packed
         |  FROM pk ORDER BY qid, rank""".stripMargin,
    // ---- round 13: SQ8 scalar quantization tier ----
    "q_sq8_codes" ->
      s"""WITH $sq8Ctes
         |SELECT vec_id, pos, code FROM c ORDER BY vec_id, pos""".stripMargin,
    "q_sq8_topk" ->
      s"""WITH $sq8TopkCtes
         |SELECT qid, nid, d2, rank FROM srk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // serve-from-artifact == in-query chain (stored ranges = deterministic
    // min/max training on the same corpus; shared d2 kernel)
    "q_sq8_served" ->
      s"""WITH $sq8TopkCtes
         |SELECT qid, nid, d2, rank FROM srk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // upsert under FROZEN stored ranges: ranges train on the % 4 <> 3
    // base split only, the full corpus encodes against them
    "q_sq8_upsert" ->
      s"""WITH ${sq8TopkCtesFor("ex.vec_id % 4 <> 3", "TRUE")}
         |SELECT qid, nid, d2, rank FROM srk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // forgotten ids leave the candidate scan (deleted vectors may still
    // QUERY — the query set comes from the caller, not the index)
    "q_sq8_forget" ->
      s"""WITH ${sq8TopkCtesFor("TRUE", "n.vec_id % 7 <> 2")}
         |SELECT qid, nid, d2, rank FROM srk
         | WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // SQ8 recall@k against the EXACT squared-L2 top-k (code-space L2's
    // own metric — the q_pq_recall truth pairing)
    "q_sq8_recall" ->
      s"""WITH $sq8TopkCtes,
         |bs AS (SELECT q0.vec_id AS qid, e2.vec_id AS nid,
         |              ${sqdistSql("q0.emb", "e2.emb")} AS d
         |         FROM e q0, e e2
         |        WHERE q0.vec_id < 5 AND e2.vec_id <> q0.vec_id),
         |br AS (SELECT qid, nid,
         |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
         |         FROM bs),
         |h AS (SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS hits
         |        FROM srk r JOIN br ON r.qid = br.qid AND r.nid = br.nid
         |       WHERE r.rank <= 10 AND br.rank <= 10 GROUP BY r.qid)
         |SELECT q1.qid, COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
         |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
         |  FROM (SELECT vec_id AS qid FROM e WHERE vec_id < 5) q1
         |  LEFT JOIN h ON q1.qid = h.qid ORDER BY q1.qid""".stripMargin,
    // ---- round 13: per-source token drift (exact-integer TVD) ----
    // the streaming replay twin converges to the BATCH answer: same SQL
    "q_token_drift_stream" -> tokenDriftSql,
    "q_token_drift" -> tokenDriftSql,
  )

  private def tokenDriftSql: String =
      s"""WITH t AS (SELECT d.doc_id, d.source, unnest(string_split(d.text, ' ')) AS tok
         |             FROM $DOCS d),
         |ca AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_all FROM t GROUP BY tok),
         |cs AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_src FROM t GROUP BY 1, 2),
         |sa AS (SELECT CAST(SUM(c_all) AS BIGINT) AS s_all FROM ca),
         |ss AS (SELECT source, CAST(SUM(c_src) AS BIGINT) AS s_src FROM cs GROUP BY source),
         |gap AS (SELECT ss.source, ss.s_src, sa.s_all,
         |               ABS(sa.s_all * COALESCE(cs.c_src, 0) - ss.s_src * ca.c_all) AS g
         |          FROM ca CROSS JOIN ss CROSS JOIN sa
         |          LEFT JOIN cs ON cs.source = ss.source AND cs.tok = ca.tok)
         |SELECT source, s_src AS n_tokens,
         |       CAST(SUM(g) AS BIGINT) AS tvd_num,
         |       CAST(CAST(SUM(g) AS BIGINT) AS DOUBLE) /
         |       (CAST(2 AS DOUBLE) * CAST(s_all AS DOUBLE) * CAST(s_src AS DOUBLE)) AS tvd
         |  FROM gap GROUP BY source, s_src, s_all ORDER BY source""".stripMargin

  /** BM25 CTE chain ending in ranked (qid, doc_id, score, rank) rows
    * `rk` (plus `dl` for the pack stage) — shared by q_bm25 and
    * q_rag_pipeline so the composed gate packs exactly the ranking
    * q_bm25 hash-verifies. Mirrors [[graft.operators.Retrieval]]. */
  private def bm25Ctes: String = bm25CtesFor("TRUE")

  /** [[bm25Ctes]] with the collection statistics (doc count, total
    * tokens, document frequencies — hence idf) restricted to the docs
    * matching `statsFilter`, while lengths and postings stay
    * corpus-wide: the FROZEN-statistics upsert gate's oracle.
    * `queryFilter` picks the query set (the free-text gate derives its
    * queries from a different doc slice); `selfExclude = false` is the
    * free-text convention — caller qids are not corpus doc ids, so every
    * candidate stays. */
  private def bm25CtesFor(statsFilter: String,
                          queryFilter: String = "tf.doc_id < 5",
                          selfExclude: Boolean = true): String =
    s"""ba AS (SELECT doc_id, string_split(text, ' ') AS a FROM $DOCS
       |        WHERE len(string_split(text, ' ')) >= 2),
       |t AS (SELECT doc_id, a[i] || ' ' || a[i + 1] AS tok
       |        FROM ba, unnest(range(1, len(a))) AS u(i)),
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY doc_id),
       |corp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS s
       |           FROM dl WHERE $statsFilter),
       |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
       |dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
       |         WHERE $statsFilter GROUP BY tok),
       |voc AS (SELECT tok, CAST(length(bin(n // df)) - 1 AS BIGINT) AS idf
       |          FROM dft, corp
       |         WHERE df * 10 <= n AND length(bin(n // df)) - 1 >= 1),
       |terms AS (SELECT qid, tok, idf FROM (
       |            SELECT tf.doc_id AS qid, tf.tok, v.idf,
       |                   ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY tf.tok) AS rn
       |              FROM tf JOIN voc v ON tf.tok = v.tok
       |             WHERE $queryFilter) WHERE rn <= 6),
       |sc AS (SELECT tm.qid, tf.doc_id,
       |              CAST(SUM((tm.idf * tf.tf * 44 * corp.s * 1024) //
       |                       (20 * tf.tf * corp.s + 6 * corp.s + 18 * dl.dl * corp.n))
       |                   AS BIGINT) AS score
       |         FROM tf
       |         JOIN terms tm ON tf.tok = tm.tok
       |         JOIN dl ON tf.doc_id = dl.doc_id
       |         CROSS JOIN corp
       |        WHERE ${if (selfExclude) "tf.doc_id <> tm.qid" else "TRUE"}
       |        GROUP BY tm.qid, tf.doc_id),
       |rk AS (SELECT qid, doc_id, score,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |                   ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |         FROM sc)""".stripMargin

  /** SQ8 CTE chain ending in per-dim codes `c` (vec_id, pos, code) —
    * mirrors [[graft.operators.Sq8]]: per-dim min/max ranges, then
    * clamp(floor((x-mn)*255/(mx-mn) + 1/2), 0, 255), constant dims 0.
    * `pos` is 0-based to match Spark's posexplode. */
  private def sq8Ctes: String =
    s"""$EMB,
       |ex AS (SELECT vec_id, unnest(emb) AS x,
       |              CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS pos
       |         FROM e),
       |rg AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY pos),
       |c AS (SELECT ex.vec_id, ex.pos,
       |             CASE WHEN rg.mx = rg.mn THEN CAST(0 AS BIGINT)
       |                  ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
       |                       CAST(floor((ex.x - rg.mn) * 255.0 / (rg.mx - rg.mn) + 0.5) AS BIGINT)))
       |             END AS code
       |        FROM ex JOIN rg ON ex.pos = rg.pos)""".stripMargin

  /** [[sq8Ctes]] + the integer code-distance serving chain ending in
    * ranked (qid, nid, d2, rank) rows `srk` — shared by q_sq8_topk,
    * q_sq8_recall and the artifact-serve gates. `rangeFilter` restricts
    * which rows TRAIN the ranges (the frozen-stored-ranges upsert gate);
    * `candFilter` restricts the candidate scan (the forget gate). */
  private def sq8TopkCtes: String = sq8TopkCtesFor("TRUE", "TRUE")

  private def sq8TopkCtesFor(rangeFilter: String,
                             candFilter: String): String =
    s"""$EMB,
       |ex AS (SELECT vec_id, unnest(emb) AS x,
       |              CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS pos
       |         FROM e),
       |rg AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex
       |        WHERE $rangeFilter GROUP BY pos),
       |c AS (SELECT ex.vec_id, ex.pos,
       |             CASE WHEN rg.mx = rg.mn THEN CAST(0 AS BIGINT)
       |                  ELSE least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
       |                       CAST(floor((ex.x - rg.mn) * 255.0 / (rg.mx - rg.mn) + 0.5) AS BIGINT)))
       |             END AS code
       |        FROM ex JOIN rg ON ex.pos = rg.pos),
       |sdot AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
       |                CAST(SUM((q.code - n.code) * (q.code - n.code)) AS BIGINT) AS d2
       |           FROM c q JOIN c n ON q.pos = n.pos
       |          WHERE q.vec_id < 5 AND n.vec_id <> q.vec_id AND ($candFilter)
       |          GROUP BY q.vec_id, n.vec_id),
       |srk AS (SELECT qid, nid, d2,
       |               CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |                    ORDER BY d2, nid) AS BIGINT) AS rank
       |          FROM sdot)""".stripMargin
}
