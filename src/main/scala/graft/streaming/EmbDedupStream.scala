package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Similarity

/** EMBEDDING-space near-dup screen on ingest — the third ingest modality,
  * completing the family: [[DedupStream.runReplay]] (exact, content hash),
  * [[DedupStream.candidateStream]] (lexical, MinHash bands), and this
  * (semantic, sign-LSH over vectors — the SemDedup/paraphrase tier n-gram
  * machinery cannot see).
  *
  * Deployment shape: a stream never trains — each arriving vector PROBES a
  * batch-trained index through [[Similarity.lshStreamBander]], which
  * carries the batch chain's route flip: flat trained cells under the
  * cell cap, the hierarchical product index's packed fine cells past it
  * (bit-identical (cid, band, bv) keys either way; the hierarchical
  * route's streamed/batch candidate equality is spec-forced at gate
  * scale via rawKOverride).
  *
  * State: keyed by (band, cid) — one resident (vec_id, bv) per vector per
  * band per probed cell, exactly the rows the batch band table
  * materializes, sharded by cell. An arrival pairs with residents at
  * Hamming(bv) ≤ 1 — the single-bit multi-probe widening of the batch
  * join (Lv et al.'07) — so each unordered pair surfaces exactly when its
  * later endpoint arrives (Hamming and shared-cell are symmetric, hence
  * carving-invariant). Per-arrival compute is |cell residents| XOR+popcount
  * per band — bounded by `cellCap`, never by corpus size: occupancy is
  * pinned by the index sizing only AT BOOTSTRAP (the index trains once;
  * as the stream grows the corpus every cell's occupancy grows with it —
  * the flat-cap occupancy disease, r10 verdict #2), so an arrival that
  * would push a cell past the cap FAILS the query loudly with the remedy
  * (reindex with current sizing), exactly the
  * [[DedupStream.candidateStream]] bucketCap discipline. */
object EmbDedupStream {

  final case class BandArrival(vec_id: Long, cid: Long, band: Int, bv: Long)
  final case class CellResidents(ids: Array[Long], bvs: Array[Long])
  final case class CandPair(a: Long, b: Long)

  /** Default per-(band, cid) resident bound. The contract index sizing
    * pins bootstrap occupancy at ~32 members/cell × the multi-probe width,
    * so 4096 residents ≈ a corpus that grew ~100× past the index's
    * training set — the point where the frozen index needs retraining
    * anyway (the recall-decay gauge `q_emb_stream_recall` is the trigger
    * signal; this cap is the hard stop). */
  val CellCap = 4096

  private def hd1(x: Long, y: Long): Boolean =
    java.lang.Long.bitCount(x ^ y) <= 1

  /** Attach the keyed cell state to a streaming (vec_id, emb) source.
    * `bander` is the batch-trained index probe from
    * [[Similarity.lshStreamBander]]. Emits one candidate pair per
    * (new arrival × Hamming-≤1 resident) per touched (band, cid) group; a
    * pair colliding in several bands/cells emits once per collision (the
    * batch self-join dedups the same way — `distinct()` downstream).
    * Emission is a LAZY iterator over (fresh × prior) index pairs —
    * nothing quadratic is buffered in the state call. */
  def candidateStream(vecs: DataFrame,
                      bander: DataFrame => DataFrame,
                      cellCap: Int = CellCap): Dataset[CandPair] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // spreadStream: the 128-plane sign-fold kernel otherwise runs as ONE
    // task per micro-batch (r15 job profile, now `graft.Prof`, ~0.5-0.8 s
    // serial each); the banded output feeds the keyed cell-state shuffle,
    // so partitioning cannot change the emitted candidate set
    bander(graft.sources.Sources.spreadStream(vecs))
      .as[BandArrival]
      .groupByKey(r => (r.band, r.cid))
      .flatMapGroupsWithState[CellResidents, CandPair](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), batch: Iterator[BandArrival],
         state: GroupState[CellResidents]) =>
          val st = state.getOption.getOrElse(
            CellResidents(Array.empty[Long], Array.empty[Long]))
          val seen = st.ids.toSet
          // a vector bands once per (band, cid); replays / at-least-once
          // delivery must not re-admit a resident
          val fresh = batch.filter(r => !seen.contains(r.vec_id)).toArray
            .distinctBy(_.vec_id).sortBy(_.vec_id)
          if (st.ids.length + fresh.length > cellCap)
            throw new IllegalStateException(
              s"sign-LSH ingest cell overflow: ${st.ids.length}+${fresh.length} " +
                s"residents exceeds cellCap=$cellCap — the frozen index's cell " +
                "occupancy has outgrown its training corpus; reindex with " +
                "current sizing (q_emb_stream_recall is the early signal)")
          state.update(CellResidents(st.ids ++ fresh.map(_.vec_id),
            st.bvs ++ fresh.map(_.bv)))
          // lazy: each fresh arrival pairs with every Hamming-≤1 PRIOR
          // member (state residents first, then earlier fresh arrivals)
          fresh.iterator.zipWithIndex.flatMap { case (f, i) =>
            st.ids.indices.iterator
              .filter(j => hd1(f.bv, st.bvs(j)))
              .map { j =>
                val r = st.ids(j)
                if (r < f.vec_id) CandPair(r, f.vec_id)
                else CandPair(f.vec_id, r)
              } ++
              fresh.iterator.take(i) // new × new, ids ascending by the sort
                .filter(e => hd1(f.bv, e.bv))
                .map(e => CandPair(e.vec_id, f.vec_id))
          }
      }
  }

  /** VERIFIED semantic emission on ingest (r10 verdict, "what's missing"
    * #3): the cell screen chained, IN-STREAM, into the exact-cosine verify
    * as a stream-static join against the corpus vector store — the
    * [[DedupStream.verifiedStream]] treatment for the semantic modality,
    * sharing [[Similarity.verifyCosCandidates]]' join + codegen'd cosine
    * with the batch chain. Stateless per emission; the static side is the
    * (vec_id, emb) table (in deployment: the `members` table of the
    * persisted index artifact, [[graft.operators.Imi.persistIndex]]). */
  def verifiedStream(vecs: DataFrame, embBatch: DataFrame,
                     bander: DataFrame => DataFrame,
                     threshold: Double = 0.45,
                     cellCap: Int = CellCap): DataFrame =
    Similarity.verifyCosCandidates(
      candidateStream(vecs, bander, cellCap).toDF(), embBatch, threshold,
      sorted = false)

  /** Drain a STATIC embedding replay through the VERIFIED screen — each
    * emitted candidate is cosine-verified in-stream against the batch
    * corpus ([[verifiedStream]]); the drain read only dedups band/cell
    * collisions and orders. The index is trained batch-side from the same
    * corpus ([[Similarity.lshStreamBander]] — deterministic, so the
    * stream's band keys equal the batch chain's on either route), which
    * makes the result equal the batch [[Similarity.embLshPairs]] bit for
    * bit: `q_emb_stream` rides `q_emb_lsh_pairs`'s DuckDB oracle
    * verbatim. */
  def nearDupReplay(stream: DataFrame, embBatch: DataFrame, queryName: String,
                    threshold: Double = 0.45): DataFrame =
    nearDupReplayWith(stream,
      // checkpoint the static verify side so the incremental planner
      // doesn't re-scan the parquet per micro-batch join
      embBatch.select(col("vec_id"), col("emb")).localCheckpoint(),
      Similarity.lshStreamBander(embBatch), queryName, threshold)

  /** [[nearDupReplay]] with the static verify side and the trained bander
    * PRE-built — the seam that lets a composed pipeline
    * ([[IngestPipeline]]) train the index concurrently with an earlier
    * stage's drain (guide §2.6) instead of serially between them. */
  private[graft] def nearDupReplayWith(stream: DataFrame, vecs: DataFrame,
                    bander: DataFrame => DataFrame, queryName: String,
                    threshold: Double = 0.45): DataFrame = {
    val spark = stream.sparkSession
    // ephemeral checkpoint on tmpfs (see SparkLocal.freshStreamCheckpoint)
    val ckpt = graft.SparkLocal.freshStreamCheckpoint(queryName)
    // state partitions sized to the replay fixture (r15 — see
    // Sources.withDrainPartitions)
    graft.sources.Sources.withDrainPartitions(stream) {
      val query = verifiedStream(stream, vecs, bander, threshold).writeStream
        .queryName(queryName)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .format("memory")
        .start()
      try query.processAllAvailable()
      finally {
        query.stop()
        graft.SparkLocal.removeScratch(ckpt)
      }
    }
    // a pair colliding in several bands/cells is emitted (and verified to
    // the identical cosine) once per collision — distinct, as the batch
    // self-join does; drop the sink view after materializing (r10 ADVICE)
    try spark.table(queryName).distinct().orderBy("a", "b").localCheckpoint()
    finally spark.catalog.dropTempView(queryName)
  }
}
