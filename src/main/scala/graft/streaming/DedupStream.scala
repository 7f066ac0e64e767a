package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Exact dedup ON INGEST — the streaming twin of
  * [[graft.operators.Dedup.exactGroups]] (north-star extension; the
  * reference's streaming surface is processing-time sampling only,
  * SURVEY.md §2.10). A 100 TB pipeline dedups as data ARRIVES: holding the
  * corpus and re-running batch dedup per delivery re-pays the full groupBy
  * every time (q_incr_dedup's batch-proportional screen fixes the COST, but
  * still runs on a schedule); the streaming form keeps the content-hash →
  * (keeper, multiplicity) state resident and folds each micro-batch in.
  *
  * Scale shape: state lives in the state store keyed by content hash —
  * sharded across executors, one ~40-byte row per DISTINCT document, never
  * stream length, and RocksDB-backed state (StateRecoverySpec's config)
  * spills it off-heap. The fold is commutative/associative (min over ids,
  * sum over counts), so arrival order and micro-batch carving CANNOT change
  * the converged state — after any replay of the same document set the
  * state equals the batch `md5 groupBy` exactly, which is what lets
  * `q_dedup_stream` carry a full DuckDB hash gate rather than a rows-only
  * check. Near-dup-on-ingest takes the same shape keyed by (band, minhash
  * slice) — the banded key of [[graft.operators.Dedup]]'s LSH — with the
  * verify step downstream; the exact tier here is what every published
  * ingest stack runs first (it absorbs the mass, r8 LshSkewProof).
  */
object DedupStream {

  final case class DocArrival(h: String, doc_id: Long)

  /** Per-content-hash streaming state: surviving doc (min id seen) and
    * multiplicity so far. `n_copies` strictly increases on every batch that
    * touches the key, so a memory-sink reader picks the final row per hash
    * by max `n_copies` (the emit ordinal, same contract as
    * [[EventTime.UserProfile.n_merges]]). */
  final case class HashGroup(h: String, keeper: Long, n_copies: Long)

  /** Attach the keyed dedup state to a streaming document source
    * (doc_id, text). Emits the updated (hash, keeper, multiplicity) row for
    * every content hash touched in a micro-batch. */
  def groupStream(docs: DataFrame): Dataset[HashGroup] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(md5(col("text")).as("h"), col("doc_id").cast("long"))
      .as[DocArrival]
      .groupByKey(_.h)
      .flatMapGroupsWithState[HashGroup, HashGroup](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (h: String, batch: Iterator[DocArrival], state: GroupState[HashGroup]) =>
          var keeper = state.getOption.map(_.keeper).getOrElse(Long.MaxValue)
          var n = state.getOption.map(_.n_copies).getOrElse(0L)
          batch.foreach { d =>
            n += 1L
            if (d.doc_id < keeper) keeper = d.doc_id
          }
          val next = HashGroup(h, keeper, n)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Drain `df` (built over a finite replay stream) through a named memory
    * sink, hand the sink table to `read`, MATERIALIZE its result
    * (localCheckpoint — the returned frame must not lazily re-read the
    * sink), then drop the sink's temp view so distinct gate/bench
    * invocations don't accumulate pinned driver row sets for the life of
    * the session (r10 ADVICE). */
  private def drainToTable(df: DataFrame, queryName: String)
                          (read: DataFrame => DataFrame): DataFrame = {
    val spark = df.sparkSession
    // ephemeral checkpoint on tmpfs, not the virtual-disk tmpdir Spark's
    // temporary-checkpoint fallback uses (optimization r15 — the WAL +
    // state-delta round trips are per-micro-batch latency; see
    // SparkLocal.freshStreamCheckpoint)
    val ckpt = graft.SparkLocal.freshStreamCheckpoint(queryName)
    // state partitions sized to the replay fixture, not the session core
    // count (r15 — see Sources.withDrainPartitions)
    graft.sources.Sources.withDrainPartitions(df) {
      val query = df.writeStream
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
    try read(spark.table(queryName)).localCheckpoint()
    finally spark.catalog.dropTempView(queryName)
  }

  /** Drain a STATIC replay source to completion and return the converged
    * dedup state — (h, keeper, n_copies) per distinct document, ordered by
    * hash, which must equal the batch `md5(text) groupBy` bit for bit.
    * `processAllAvailable` is the right termination for a finite replay
    * directory (blocks until every file is consumed); the q_freq_stream
    * stop-at-n machinery is for the reference's unbounded-socket contract
    * and does not apply here. */
  def runReplay(stream: DataFrame, queryName: String): DataFrame =
    drainToTable(groupStream(stream).toDF(), queryName) { t =>
      // the memory sink APPENDS one row per (hash, touching batch); the
      // converged row per hash is the one with max n_copies (strictly
      // increasing — each arrival is counted exactly once, so the max is
      // unique and this read is deterministic under any batch carving)
      t.groupBy("h")
        .agg(max_by(struct(col("n_copies"), col("keeper")), col("n_copies")).as("s"))
        .select(col("h"), col("s.keeper").as("keeper"),
          col("s.n_copies").as("n_copies"))
        .orderBy("h")
    }

  /** Per-source state-audit checkpoints already drained by THIS JVM — the
    * [[graft.SparkEntry]] replay-fixture discipline applied to the
    * checkpoint (r10 ADVICE: a fresh drain per invocation leaked one full
    * state checkpoint per bench rep). The key is DERIVED from the
    * stream's own source directory plus a content fingerprint (r11
    * ADVICE: a caller-supplied key could silently alias two different
    * streams onto one drained state, and never invalidated if the replay
    * was rewritten); `computeIfAbsent` both blocks concurrent first
    * callers and refuses to cache a FAILED drain (the compute throws →
    * no mapping). */
  private val auditCkpts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test seam: total drains this JVM has run — a cache HIT leaves it
    * unchanged, so specs can pin both halves of the key contract (same
    * replay amortizes; a rewritten replay re-drains). */
  private[graft] val auditDrains = new java.util.concurrent.atomic.AtomicLong(0)

  /** The temp checkpoint dirs this JVM drained, removed on shutdown (r11
    * ADVICE: they otherwise accumulate for the JVM lifetime — within a
    * session they must persist, the cache reads them per rep). */
  private val auditCkptDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val auditCleanupHook: Unit = {
    sys.addShutdownHook {
      auditCkptDirs.forEach { d =>
        def rec(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rec))
          f.delete(): Unit
        }
        rec(new java.io.File(d))
      }
    }: Unit
  }

  /** (name, length, mtime, head-CRC) digest of the replay directory's
    * files: the content half of the cache key, so a REWRITTEN replay at
    * the same path misses and re-drains instead of serving stale state.
    * The CRC32 of each file's first 64 KB closes the r12 residual: on a
    * filesystem with 1 s mtime granularity, an in-place rewrite within
    * the same second with equal file sizes would otherwise fingerprint
    * identically (replay fixtures are small, so the head read is cheap
    * and driver-bounded: ≤ |files| × 64 KB). */
  private def contentFingerprint(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val parts = fs.listStatus(p).filter(_.isFile)
      .map { st =>
        val crc = new java.util.zip.CRC32()
        val in = fs.open(st.getPath)
        try {
          // loop to 64 KB or EOF (r13 ADVICE): Hadoop checksum/buffered
          // streams may legally return far fewer bytes than requested per
          // read() call — a single call could CRC a few hundred bytes and
          // miss exactly the in-place same-second rewrite this exists for
          val buf = new Array[Byte](65536)
          var off = 0
          var n = in.read(buf, 0, buf.length)
          while (n > 0) {
            off += n
            n = if (off < buf.length) in.read(buf, off, buf.length - off) else -1
          }
          if (off > 0) crc.update(buf, 0, off)
        } finally in.close()
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}:${crc.getValue}"
      }
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** OFFLINE STATE AUDIT — the ops surface a running ingest-dedup
    * deployment is actually interrogated through: drain the stream into a
    * CHECKPOINT (state is the product; no row sink), then read the state
    * store back as a batch DataFrame via Spark's `statestore` source.
    * This is how an operator answers "what does my dedup currently know"
    * without touching the live query — and the read-back converged state
    * must STILL equal the batch md5-groupBy (same oracle as
    * `q_dedup_stream`), which gates the entire checkpoint round trip
    * (serialize → commit → batch read) rather than the in-flight
    * emissions. The drained checkpoint is cached per (source directory,
    * content fingerprint) — derived from the stream itself, never
    * caller-asserted. */
  def stateAudit(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    def drain(): String = {
      auditDrains.incrementAndGet(): Unit
      auditCleanupHook
      // on tmpfs with the other streaming checkpoints (r15): this one
      // PERSISTS for the JVM (the statestore source reads it back per
      // rep) — the shutdown hook removes it, and SparkLocal's stale
      // sweep catches a crashed JVM's leftovers
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(graft.SparkLocal.localDir),
        "graft_dedup_state_audit").toString
      auditCkptDirs.add(ckpt): Unit
      // state partitions sized to the replay fixture (r15 — see
      // Sources.withDrainPartitions)
      graft.sources.Sources.withDrainPartitions(stream) {
        val query = groupStream(stream).writeStream
          .outputMode("update")
          // every partition must be consumed or the state commit is rejected
          // (STATE_STORE_COMMIT_VALIDATION_FAILED) — count() is the full drain
          .foreachBatch { (ds: Dataset[HashGroup], _: Long) => ds.count(): Unit }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        val stopped = query.awaitTermination(120000)
        try require(stopped, "state-audit drain did not finish")
        finally if (query.isActive) query.stop()
      }
      ckpt
    }
    val ckpt = graft.sources.Sources.replaySourceDir(stream) match {
      case Some(src) =>
        auditCkpts.computeIfAbsent(
          s"$src#${contentFingerprint(spark, src)}", _ => drain())
      case None => drain()
    }
    spark.read.format("statestore").load(ckpt)
      .select(col("value.groupState.h").as("h"),
        col("value.groupState.keeper").as("keeper"),
        col("value.groupState.n_copies").as("n_copies"))
      .orderBy("h")
  }

  final case class BandArrival(band: Int, bsig: String, doc_id: Long)
  final case class BucketMembers(members: Array[Long])
  final case class CandPair(a: Long, b: Long)

  /** NEAR-dup candidate screen on ingest — the streaming front half of
    * [[graft.operators.Dedup.minhashLshPairs]]. Each arriving document is
    * shingled/MinHashed/banded per micro-batch (stateless kernel, the
    * bit-identical band keys of the batch `bandTable`); keyed state per
    * (band, bsig) bucket holds the member doc ids, and a new arrival emits
    * one candidate pair per existing member — so each unordered pair
    * surfaces exactly when its LATER endpoint arrives, and the union of
    * emissions equals the batch band self-join's candidate set under ANY
    * micro-batch carving.
    *
    * Scale shape: state is the bucket-membership table the batch route
    * also materializes — O(n·nBands) ids total, sharded by bucket key.
    * `bucketCap` bounds any ONE bucket's state and quadratic emission; an
    * arrival past the cap FAILS the query loudly (an IllegalStateException
    * naming the bucket size and remedy — never a silent candidate drop,
    * which would quietly cost recall). A binding cap means hot-band skew,
    * whose production mitigation is exact-dedup-first + df-capped shingles
    * (the r8 LshSkewProof finding: exact dedup absorbs the mass that makes
    * bands hot) — the gate-scale spec asserts the cap never binds at the
    * contract parameters. Emission is a LAZY iterator over (fresh × prior)
    * index pairs (r10 ADVICE: a near-cap bucket would otherwise buffer up
    * to ~cap²/2 pair objects in one state call before the loud cap even
    * binds). */
  def candidateStream(docs: DataFrame, h: Int = 16, rows: Int = 4,
                      bucketCap: Int = 4096): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spreadStream: the shingle+MinHash kernel otherwise runs as ONE task
    // per micro-batch (0.4-0.9 s serial each in the r15 job profile, now
    // `graft.Prof`); the banded output feeds the keyed state shuffle, so
    // partitioning cannot change the emitted candidate set
    graft.operators.Dedup.bandRows(
        graft.sources.Sources.spreadStream(docs), h, rows)
      .as[BandArrival]
      .groupByKey(r => (r.band, r.bsig))
      .flatMapGroupsWithState[BucketMembers, CandPair](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, String), batch: Iterator[BandArrival],
         state: GroupState[BucketMembers]) =>
          val prev = state.getOption.map(_.members).getOrElse(Array.empty[Long])
          val prevSet = prev.toSet
          // distinct within the batch, excluding ids already in state (a
          // doc bands once per (band,bsig), but replays/at-least-once
          // delivery must not double-emit); sorted so the emission order
          // is deterministic
          val fresh = batch.map(_.doc_id).toArray.distinct
            .filterNot(prevSet.contains).sorted
          val room = math.max(0, bucketCap - prev.length)
          if (fresh.length > room)
            throw new IllegalStateException(
              s"LSH ingest bucket overflow: ${prev.length}+${fresh.length} members " +
                s"exceeds bucketCap=$bucketCap — hot band; run exact-dedup-first " +
                "(LshSkewProof) or raise the cap")
          state.update(BucketMembers(prev ++ fresh))
          // lazy: each fresh member pairs with every PRIOR member (state
          // residents first, then earlier fresh arrivals), one pair per
          // step of the iterator — nothing is buffered
          fresh.iterator.zipWithIndex.flatMap { case (d, i) =>
            prev.iterator.map(p =>
              if (p < d) CandPair(p, d) else CandPair(d, p)) ++
              fresh.iterator.take(i).map(e => CandPair(e, d))
          }
      }
  }

  /** VERIFIED near-dup emission on ingest (r10 verdict, "what's missing"
    * #3): the candidate screen chained, IN-STREAM, into the exact-Jaccard
    * verify as a stream-static join against the persisted signature store
    * — so the streaming query emits verified (a, b, jaccard) pairs, not
    * candidates, and the post-drain step is a plain read. The static side
    * is the [[graft.operators.Dedup.docSignatures]] table (in deployment:
    * the parquet signature artifact the bootstrap run wrote, exactly as
    * the persisted ANN index family); the join + [[graft.functions
    * .SortedInterCount]] merge are the SAME
    * [[graft.operators.Dedup.verifyCandidates]] kernel the batch route
    * runs — stateless per emission, so it composes onto the stateful
    * screen without growing state. A pair colliding in several bands is
    * verified once per collision (bounded by nBands); the drain read
    * dedups exactly as the batch self-join does. */
  def verifiedStream(docs: DataFrame, docAgg: DataFrame, h: Int = 16,
                     rows: Int = 4, threshold: Double = 0.5,
                     bucketCap: Int = 4096): DataFrame =
    graft.operators.Dedup.verifyCandidates(
      candidateStream(docs, h, rows, bucketCap).toDF(), docAgg, threshold)

  /** Drain a STATIC document replay through the VERIFIED screen
    * ([[verifiedStream]] — candidates verified in-stream against the
    * corpus signature store, the stream-static join). The result must
    * equal the batch [[graft.operators.Dedup.minhashLshPairs]] bit for bit
    * — same candidate set (bucket membership is carving-invariant), same
    * verify kernel — which is what lets `q_neardup_stream` ride the SAME
    * DuckDB oracle as `q_minhash_lsh`. `docsBatch` stands in for the
    * production signature store (in deployment: the parquet artifact the
    * bootstrap run wrote, as the persisted ANN index family). */
  def nearDupReplay(stream: DataFrame, docsBatch: DataFrame, queryName: String,
                    h: Int = 16, rows: Int = 4,
                    threshold: Double = 0.5): DataFrame =
    // the signature table is the verify join's static side — checkpoint it
    // so the per-doc MD5+MinHash kernel runs once, not once per
    // micro-batch, exactly as the batch lshPairs path
    nearDupReplayWith(stream,
      graft.operators.Dedup.docSignatures(docsBatch, h).localCheckpoint(),
      queryName, h, rows, threshold)

  /** [[nearDupReplay]] with the signature store PRE-materialized — the
    * seam that lets a composed pipeline ([[IngestPipeline]]) build the
    * static verify side concurrently with an earlier stage's drain
    * (guide §2.6) instead of serially between them. */
  private[graft] def nearDupReplayWith(stream: DataFrame, docAgg: DataFrame,
                    queryName: String, h: Int = 16, rows: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    drainToTable(verifiedStream(stream, docAgg, h, rows, threshold), queryName) {
      // distinct: a pair colliding in several bands is emitted (and
      // verified to the identical jaccard) once per band — the batch
      // self-join dedups the same way
      _.distinct().orderBy("a", "b")
    }
  }
}
