package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Token-distribution drift ON INGEST — the streaming twin of
  * [[graft.operators.DataQuality.tokenDriftBySource]], completing the
  * ingest family's pattern (every batch monitor gets a streaming form):
  * a deployment watches each feed's token distribution AS DOCUMENTS
  * ARRIVE, not on a nightly batch pass, because a feed that flips
  * language or topic mid-day should page before a training run reads it.
  *
  * Scale shape: keyed state is one int64 counter per DISTINCT
  * (source, token) — sharded across executors by key, bounded by
  * vocabulary × feeds, never stream length. The fold is a pure SUM —
  * commutative/associative — so arrival order and micro-batch carving
  * cannot change the converged counts: after any replay of the same
  * document set the state equals the batch per-(source, token) counts
  * exactly, and the TVD computed FROM that state equals
  * `q_token_drift`'s batch answer bit for bit (same exact-integer TVD,
  * same single final division) — which is why the streaming gate rides
  * the batch oracle verbatim. */
object DriftStream {

  final case class TokArrival(source: String, tok: String)
  final case class TokCount(source: String, tok: String, cnt: Long)

  /** Attach the keyed count state to a streaming document source
    * (doc_id, text, source). Emits the updated (source, tok, cnt) row
    * for every key touched in a micro-batch; `cnt` strictly increases on
    * every touching batch, so a memory-sink reader picks the converged
    * row per key by max cnt (the [[DedupStream.runReplay]] contract). */
  def tokenCountStream(docs: DataFrame): Dataset[TokCount] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spreadStream: tokenize+explode otherwise runs as ONE task per
    // micro-batch (r15 job profile, now `graft.Prof`, ~0.5 s serial each);
    // the token rows feed the keyed count shuffle, so partitioning cannot
    // change the sums
    graft.sources.Sources.spreadStream(docs)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .as[TokArrival]
      .groupByKey(a => (a.source, a.tok))
      .flatMapGroupsWithState[TokCount, TokCount](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: (String, String), batch: Iterator[TokArrival],
         state: GroupState[TokCount]) =>
          var n = state.getOption.map(_.cnt).getOrElse(0L)
          batch.foreach(_ => n += 1L)
          val next = TokCount(key._1, key._2, n)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Drain a finite document replay to completion and report per-source
    * drift from the CONVERGED streaming counts — (source, n_tokens,
    * tvd_num, tvd), the exact-integer TVD of
    * [[graft.operators.DataQuality.tokenDriftBySource]] computed with
    * the drained state as the one source of truth (both the per-source
    * and the corpus-wide distributions aggregate from it, so the gate
    * verifies the streaming counts end to end — a single dropped or
    * double-counted token moves the int64 numerator). */
  def tokenDriftReplay(stream: DataFrame, queryName: String): DataFrame = {
    val spark = stream.sparkSession
    // ephemeral checkpoint on tmpfs (see SparkLocal.freshStreamCheckpoint)
    val ckpt = graft.SparkLocal.freshStreamCheckpoint(queryName)
    // state partitions sized to the replay fixture (r15 — see
    // Sources.withDrainPartitions)
    graft.sources.Sources.withDrainPartitions(stream) {
      val query = tokenCountStream(stream).toDF().writeStream
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
    val counts =
      try {
        spark.table(queryName)
          .groupBy("source", "tok")
          .agg(max(col("cnt")).as("c_src")) // converged row: max of the strictly-increasing emits
          .localCheckpoint()
      } finally spark.catalog.dropTempView(queryName)
    val cAll = counts.groupBy("tok").agg(sum(col("c_src")).as("c_all"))
    val sAll = cAll.agg(sum(col("c_all")).as("s_all"))
    val sSrc = counts.groupBy("source").agg(sum(col("c_src")).as("s_src"))
    cAll.crossJoin(broadcast(sSrc))
      .join(counts, Seq("source", "tok"), "left")
      .crossJoin(broadcast(sAll))
      .select(col("source"), col("s_src"), col("s_all"),
        abs(col("s_all") * coalesce(col("c_src"), lit(0L)) -
          col("s_src") * col("c_all")).as("gap"))
      .groupBy("source", "s_src", "s_all")
      .agg(sum(col("gap")).as("tvd_num"))
      .select(col("source"), col("s_src").as("n_tokens"), col("tvd_num"),
        (col("tvd_num").cast("double") /
          (lit(2.0) * col("s_all").cast("double") * col("s_src").cast("double")))
          .as("tvd"))
      .orderBy("source")
  }
}
