package graft

import org.apache.spark.sql.SparkSession

/** Shared local-mode session tuning.
  *
  * The container's /tmp sits on a virtual disk whose burst throughput
  * collapses intermittently (observed 2–10x whole-stage stalls on
  * shuffle-write-heavy stages, in both driver-side and local runs). Shuffle
  * and spill files need no durability, so the harness points
  * `spark.local.dir` at tmpfs when available.
  */
object SparkLocal {

  /** One session builder for every harness main (Verify/Bench/Prof/
    * ScaleProof/SkewProof/Explain/Pins). Before round 7 the same
    * six config lines were copy-pasted across ten mains and drifted: Bench
    * never pinned the session timezone, so any timestamp-typed read outside
    * the Verify gate would have been host-timezone-dependent. Centralizing
    * makes the config a single point of truth:
    *
    *  - `session.timeZone=UTC` — pinned EVERYWHERE. `Sources.events`
    *    normalizes TIMESTAMP/TIMESTAMP_NTZ columns to epoch nanos via a
    *    session-tz-dependent cast; UTC makes that cast the identity the
    *    DuckDB oracles (`epoch_ns(ts)`) compute.
    *  - `nanosAsLong` — testdata generations have shipped `events.ts` as
    *    both TIMESTAMP(NANOS) and timestamp[us]; with this set, nanos read
    *    as long and micros read as TIMESTAMP_NTZ, and the source loader
    *    handles both (the round-6 regression was exactly this drift).
    *  - shuffle partitions = thread count — local[n] has n execution slots;
    *    the 200 default just multiplies scheduling overhead.
    *  - AQE on — the runtime re-planner we rely on at cluster scale;
    *    keeping it on locally means the measured plans are the shipped plans.
    */
  def session(threads: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
              extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ContextCleaner frees localCheckpoint/broadcast blocks only after the
      // owning object is GC'd; the default periodic-GC interval (30 min)
      // outlives an entire harness run, so a big heap accumulates dead
      // checkpoint blocks from hundreds of self-contained queries and the
      // eventual collections land INSIDE later queries' timed reps (measured
      // 23-29 s total GC per bench run vs 1.7 s on the roomier driver heap).
      // One minute keeps the reaping off the measured path.
      .config("spark.cleaner.periodicGC.interval", "1min")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Sweeps stale dirs once per JVM, at first use: a sweep on every call
    * would let a JVM older than the cutoff delete its own live dirs (the
    * JVM-long audit checkpoint, or Spark's `blockmgr-*` dir, whose
    * top-level mtime stops changing once its subdirs exist). */
  lazy val localDir: String = {
    val shm = new java.io.File("/dev/shm/graft-spark")
    if ((shm.isDirectory || shm.mkdirs()) && shm.canWrite) {
      sweepStale(shm, maxAgeMs = 2L * 3600 * 1000)
      shm.getAbsolutePath
    } else System.getProperty("java.io.tmpdir")
  }

  /** Fresh scratch dir for a FINITE replay drain's streaming checkpoint,
    * on the same tmpfs as shuffle (optimization r15, guide §6 I/O
    * placement): every micro-batch writes an offset WAL entry, a commit
    * log entry and one state-store delta file per shuffle partition —
    * dozens of small filesystem round trips per batch. Spark's fallback
    * temporary checkpoint lands on java.io.tmpdir, the container's
    * virtual disk with intermittent burst collapse, while a gate
    * replay's checkpoint needs NO durability: the drain IS the
    * computation and the caller deletes the dir right after
    * ([[removeScratch]]). A production stream that must survive a
    * restart passes its own durable checkpointLocation instead — this
    * helper is only the default for the ephemeral-drain surfaces. */
  def freshStreamCheckpoint(prefix: String): String = {
    val base = new java.io.File(localDir, "stream-ckpt")
    base.mkdirs()
    java.nio.file.Files.createTempDirectory(base.toPath, prefix)
      .toString
  }

  /** Delete a [[freshStreamCheckpoint]] dir (best-effort; a leaked dir is
    * swept by [[sweepStale]] in the next JVM anyway). */
  private[graft] def removeScratch(dir: String): Unit =
    deleteRec(new java.io.File(dir))

  /** tmpfs is RAM: blockmgr/spark temp dirs leaked by killed JVMs must not
    * accumulate across runs. Spark removes its own dirs on clean stop; this
    * sweeps anything older than `maxAgeMs` (never the live run's dirs). */
  private def sweepStale(root: java.io.File, maxAgeMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - maxAgeMs
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.lastModified() < cutoff)
      .foreach(deleteRec)
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }
}
