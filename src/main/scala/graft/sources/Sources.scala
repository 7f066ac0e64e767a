package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Source-boundary loaders (SURVEY.md §2.1 S1-S4, FIXTURES.md).
  *
  * The reference reads raw CSV point files (`big_data_computing_1.py:152-156`)
  * and a socket integer stream (`big_data_computing_3.py:62`). The driver
  * supplies deterministic parquet testdata instead; these loaders derive the
  * reference input shapes from it with expressions mirrored verbatim in the
  * DuckDB oracle SQL so both engines see bit-identical inputs.
  */
object Sources {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Scan-parallelism floor for compute-dense kernels over sub-split
    * inputs (optimization r14, guide §2.6/§6): the fixture tables are
    * single-row-group parquet files, so a scan-rooted pipeline runs as
    * ONE task no matter how many cores the session has — and a heavy
    * per-row kernel above it (MD5 shingling, 128-plane sign folds,
    * distance verification) serializes on one core. When the input is
    * smaller than one scan split — i.e. splitting can never parallelize
    * it — spread it across the session's default parallelism with a
    * DETERMINISTIC hash repartition on the leading key column (every
    * caller leads with its high-cardinality id; a keyless round-robin
    * would pay sortBeforeRepartition). Scale-adaptive by construction:
    * past one split (128 MB default) the condition is false and NO
    * exchange is added — a 100 TB table parallelizes by splitting.
    * Deliberately OPT-IN per kernel funnel, not global: a measured
    * full-suite A/B of a global source-level spread showed the exchange
    * is a net LOSS for cheap scan+agg queries (+0.2-0.4 s of stage
    * latency each), for partitionBy artifact writers (task-count ×
    * partition-value small-file explosion) and for streaming gates (the
    * exchange re-executes per micro-batch), while the shingle/LSH/
    * distance kernels won 0.3-1.7 s each. Results are partitioning-
    * independent for every consumer (order-free aggregations, explicit
    * orderBys), which the oracle gate re-proves. The floor is
    * overridable (`graft.spread.minBytes`, r14 ADVICE) so a Verify pass
    * with the floor at 0 can value-check the spread-ACTIVE plan shapes
    * against the oracle even at oracle scale, where the default floor
    * makes every call site a no-op; `-1` disables spread outright (the
    * before-plan dump switch). */
  private[graft] def spreadMinBytes: Long =
    sys.props.get("graft.spread.minBytes").fold(256L << 10) { v =>
      // no fallback to the default: a floor-0 Verify pass that silently
      // ran at the default floor would check the wrong plan shapes
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft.spread.minBytes must be a byte count (or -1 to disable spread), got '$v'"))
    }
  def spread(df: DataFrame): DataFrame =
    // Streaming frames pass through untouched: probing
    // queryExecution.optimizedPlan.stats on a streaming DataFrame throws
    // AnalysisException ("Queries with streaming sources must be executed
    // with writeStream.start()"), and the measured A/B showed the exchange
    // is a per-micro-batch LOSS on streaming gates anyway.
    if (df.isStreaming) df
    else {
      val floor = spreadMinBytes
      val spark = df.sparkSession
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val oneSplit = spark.sessionState.conf.filesMaxPartitionBytes
      if (floor < 0L || bytes < BigInt(floor) || bytes >= BigInt(oneSplit)) df
      else df.repartition(spark.sparkContext.defaultParallelism,
        col(df.columns.head))
    }

  /** STREAM-side twin of [[spread]] (optimization r15): a replayed
    * micro-batch arrives as ONE file split, so a compute-dense stateless
    * kernel between the source and the stateful shuffle (MD5 shingling +
    * MinHash banding, 128-plane sign folds, tokenize+explode) runs as one
    * task per batch — 0.4-0.9 s serial per micro-batch in the r15 job
    * profile (now `graft.Prof`) of q_ingest_pipeline/q_neardup_stream. Spreading the stream side
    * itself (unlike r14's static-side spread, whose exchange re-executed
    * per batch for no per-batch gain) parallelizes exactly the per-batch
    * work; the kernels' outputs feed a keyed stateful shuffle, so results
    * are partitioning-independent (each group's fold is order-free or
    * explicitly sorted). Size cannot be probed on a streaming frame
    * (optimizedPlan.stats throws), so this is opt-in per kernel, keyed on
    * the same leading-id hash as [[spread]] and honouring the same `-1`
    * kill switch. */
  def spreadStream(df: DataFrame): DataFrame =
    if (!df.isStreaming || spreadMinBytes < 0L) df
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col(df.columns.head))

  /** The file-replay directory behind a streaming frame, if any — the
    * size probe for [[withDrainPartitions]] (a streaming frame's
    * optimizedPlan.stats cannot be read, but its SOURCE directory can be
    * sized). Non-file sources (MemoryStream specs) return None. */
  private def replaySourceDir(df: DataFrame): Option[String] =
    // the ANALYZED plan: a raw `readStream...parquet(path)` frame's
    // un-analyzed plan is still an UnresolvedDataSource leaf (it only
    // resolves to StreamingRelation under analysis, which is safe to
    // force on a streaming frame — only EXECUTION throws)
    df.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.streaming.runtime
          .StreamingRelation(ds, _, _) => ds.options.get("path")
    }.flatten

  /** Scale-adaptive STATE-partition sizing for a finite-replay drain
    * (optimization r15, guide §2.2/§1): the stateful operator's shuffle
    * partition count is pinned from `spark.sql.shuffle.partitions` when
    * the query starts, and EVERY state partition then costs a fixed
    * per-micro-batch state-store open + delta-file commit — measured
    * 60-240 ms of summed commit wall per batch at 32 partitions against
    * ~620 state rows (the per-store costs grow superlinearly with
    * concurrent stores: provider-map and local-filesystem contention),
    * i.e. a KB-scale replay pays far more in state plumbing than in
    * compute, and the r14 driver's 8-vs-32-core ratios ≈ 1.0 on every
    * streaming gate say exactly this. Size the stateful shuffle to the
    * replay directory's bytes — one partition per 128 KiB, min 2 —
    * CLAMPED to the session's configured count, so a production-scale
    * replay saturates back to the session ceiling and nothing here is a
    * local-core-count tune. The override lasts from query start through
    * the drain (the conf is read once at stream start; concurrent BATCH
    * work in an overlapped pipeline briefly plans reduces at the drain's
    * count — AQE still re-splits skew, and the overlapped builds are
    * KB-scale too). Restored in finally. Non-file sources keep the
    * session default untouched. */
  def withDrainPartitions[T](df: DataFrame)(body: => T): T = {
    val spark = df.sparkSession
    val derived = replaySourceDir(df).flatMap { src =>
      try {
        val p = new org.apache.hadoop.fs.Path(src)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val bytes = fs.getContentSummary(p).getLength
        val ceilCount = spark.sessionState.conf.numShufflePartitions
        Some(math.max(2L, math.min(ceilCount.toLong,
          (bytes + (128L << 10) - 1) / (128L << 10))).toInt)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    derived match {
      case None => body
      case Some(n) =>
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, n.toString)
        try body finally spark.conf.set(key, prev)
    }
  }

  /** The events table with `ts` NORMALIZED to epoch nanoseconds (long) —
    * the single source boundary every event-time operator reads through.
    *
    * Testdata generations have shipped `events.ts` under two different
    * physical parquet types: TIMESTAMP(NANOS) (reads as long under the
    * `nanosAsLong` legacy conf — round ≤5) and timestamp[us] (reads as
    * TIMESTAMP_NTZ — round 6, which broke every `ts`-arithmetic query at
    * analysis time because integer math on a timestamp column doesn't
    * resolve). The engine cannot control the generator, so the type
    * decision lives HERE, once, instead of as an assumption spread over a
    * dozen operators:
    *
    *  - `LongType` (nanos-as-long read): passthrough.
    *  - `TimestampType` (µs instant): `unix_micros * 1000` — timezone-free.
    *  - `TimestampNTZType` (µs wall-clock): the wall-clock digits are the
    *    value; `unix_micros(cast(ts as timestamp))` equals those digits'
    *    epoch micros only when the session timezone is UTC (the cast
    *    interprets wall time in session tz). All graft sessions pin UTC
    *    (`SparkLocal.session`); the require makes a drifted caller fail
    *    loudly here rather than produce host-timezone-shifted nanos.
    *
    * Any OTHER physical type fails loudly with the drift explanation — the
    * schema canary (`q_events_ts`) hash-gates min/max/count of the
    * normalized nanos against DuckDB's `epoch_ns` so a future generator
    * change surfaces as one named failure, not nine mysterious ones. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType      => raw
      case TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is TIMESTAMP_NTZ: normalization to epoch nanos needs " +
            "spark.sql.session.timeZone=UTC (use SparkLocal.session)")
        raw.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => sys.error(
        s"events.ts: unhandled physical type $other — testdata generator " +
          "drifted again; extend Sources.events (the ONE place ts physical " +
          "type is interpreted)")
    }
  }

  /** Fixture 1 — 2-D point set for HW1 outlier detection.
    * SQL twin: `SELECT l_orderkey*10+l_linenumber AS id, l_quantity AS x,
    * l_extendedprice/1000.0 AS y FROM lineitem`. */
  def points2d(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
      col("l_quantity").as("x"),
      (col("l_extendedprice") / 1000.0).as("y"))

  /** Fixture 1b — centered variant with negative coordinates, exercising the
    * floor-vs-truncate trap (SURVEY.md §7.3.1). Constant offsets keep the
    * derivation bit-exact across engines (no order-dependent avg). */
  def points2dCentered(spark: SparkSession, sfDir: String): DataFrame =
    points2d(spark, sfDir).select(
      col("id"), (col("x") - 25.0).as("x"), (col("y") - 50.0).as("y"))

  /** Fixture 2 — d-dimensional points for FFT: 64-dim embeddings as doubles. */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings").select(
      col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))

  /** Fixture 3 — integer item stream for HW3 frequent items:
    * `SELECT event_id AS seq, user_id % 50 AS item FROM events ORDER BY seq`. */
  def streamItems(spark: SparkSession, sfDir: String): DataFrame =
    // via the normalized loader for uniformity; ts is pruned away, so the
    // normalization projection costs nothing here
    events(spark, sfDir).select(
      col("event_id").as("seq"), (col("user_id") % 50).as("item"))

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")

  /** Partitioned parquet sink — the lake-layout writer a training pipeline
    * ships curated corpora through. `partitionBy` gives directory-level
    * partition pruning to every downstream reader (a `WHERE lang='en'` scan
    * touches only that subtree's files). */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partCols: _*).parquet(path)

  /** Collision-free temp-dir key for sink round trips: md5 of the FULL
    * sfDir path (String.hashCode is 32-bit — two sfDirs could collide onto
    * one scratch directory and cross-contaminate their round trips). */
  private[graft] def pathKey(sfDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)

  /** Sink round trip: write documents partitioned by lang, read the layout
    * back, and return the full table — the losslessness gate for the writer
    * (the oracle is the unwritten source, so any encode/partition-column
    * drift breaks the hash). */
  def parquetRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_sink_${pathKey(sfDir)}").getAbsolutePath
    writePartitioned(documents(spark, sfDir), out, Seq("lang"))
    spark.read.parquet(out)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  /** Shared round-trip shape for the single-format sinks: write the document
    * table in `fmt`, read it back under the source schema (schema-on-read —
    * no inference drift), return the full table for the losslessness gate. */
  private def roundTripVia(spark: SparkSession, sfDir: String,
                           fmt: String): DataFrame = {
    val src = documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_sink_${fmt}_${pathKey(sfDir)}").getAbsolutePath
    src.write.mode("overwrite").format(fmt).save(out)
    spark.read.schema(src.schema).format(fmt).load(out).orderBy("doc_id")
  }

  /** JSON-lines sink round trip (the interchange format crawl pipelines
    * hand off in); oracle = the unwritten source. */
  def jsonRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    roundTripVia(spark, sfDir, "json")

  /** ORC sink round trip (the second columnar lake format Spark ships);
    * oracle = the unwritten source. Scan-level ORC pushdown is asserted in
    * SinkSpec. */
  def orcRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    roundTripVia(spark, sfDir, "orc")

  /** CSV sink round trip (the third row format, after JSON lines): written
    * with an explicit header and read back under the source schema, so
    * neither inference nor column order can drift; oracle = the unwritten
    * source. The writer quotes embedded delimiters/quotes/newlines per
    * RFC 4180 and the reader parses multi-line quoted records
    * (`multiLine`, otherwise a quoted embedded newline silently splits one
    * record into two corrupt rows). Known format limit: CSV cannot
    * distinguish an empty string from NULL on read-back — a corpus relying
    * on that distinction belongs in parquet/ORC/JSON, not CSV. */
  def csvRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val src = documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // Enforce the format limit as a loud precondition instead of a silent
    // ''→NULL rewrite on read-back: a corpus that violates it fails here
    // with the format explanation, not downstream as a phantom hash
    // mismatch. limit(1), not count(): CollectLimit short-circuits on the
    // first violation and in the clean case scans only the text column —
    // the cheapest probe that can prove the property.
    require(src.filter(col("text") === "").limit(1).isEmpty,
      "csvRoundTrip precondition violated: corpus contains empty-string " +
        "text — CSV cannot distinguish '' from NULL on read-back; use the " +
        "parquet/ORC/JSON sinks for this corpus")
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_sink_csv_${pathKey(sfDir)}").getAbsolutePath
    src.write.mode("overwrite").option("header", "true").csv(out)
    spark.read.schema(src.schema)
      .option("header", "true").option("multiLine", "true").csv(out)
      .orderBy("doc_id")
  }

  /** Reference-format CSV-of-points reader (`big_data_computing_1.py:152-156`,
    * `"x,y"` lines): kept so a user of the reference can point the library at
    * their existing files. Parses once at the boundary into the fixed schema. */
  def pointsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(
      monotonically_increasing_id().as("id"),
      split(col("value"), ",").getItem(0).cast("double").as("x"),
      split(col("value"), ",").getItem(1).cast("double").as("y"))

  /** d-dim CSV reader (`big_data_computing_2.py:10-12` strToFloats). */
  def vectorsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(
      monotonically_increasing_id().as("id"),
      split(col("value"), ",").cast("array<double>").as("vec"))
}
