package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.ExactOutliers

/** Straggler evidence for the exact-outlier kernel under deliberate cell
  * skew (r5 verdict #8): the kernel serializes each cell's pair loop in one
  * task (geometry bounds the work but AQE cannot rebalance it), while the
  * join form ([[ExactOutliers.ballCountsJoin]]) materializes candidate
  * pairs as rows that AQE's skew-join CAN split.
  *
  * Fixture: the organic sf0.1 point table (60k points, ~26k occupied
  * cells) plus `SPARK_GRAFT_HOT` points (default 100k) packed into ONE
  * D-cell — a hot cell whose ~1e10 intra-cell pair evaluations dominate
  * the total. The join form buckets on that D-cell; the kernel sees it as
  * 3x3 Λ-cells of one block, whose residents all scan the same 100k-point
  * window, so both forms evaluate the same pairs. Both forms run with AQE
  * on; per-task wall times are
  * listener-collected so the output shows the straggler directly
  * (task_max vs task_p50). The two forms must agree bit-for-bit on every
  * ball count — the A/B is only honest if it computes the same answer.
  *
  * Output: one JSON line recorded as a BASELINE.md footnote with the
  * documented crossover threshold.
  */
private[graft] object SkewMeasure {
  final class TaskTimes extends SparkListener {
    val ms = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) ms.add(t.taskInfo.duration): Unit
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def pctl(ts: Seq[Long], q: Double): Long =
    if (ts.isEmpty) 0L else ts((q * (ts.size - 1)).toInt)

  def fmt(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
}

object SkewProof {
  import SkewMeasure.{TaskTimes, timed}

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hotN = sys.env.getOrElse("SPARK_GRAFT_HOT", "100000").toInt
    val spark = SparkLocal.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      extraConf = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        // knobs for the A/B: AQE's skew detection is INPUT-bytes-based, and a
        // hot cell's 4 MB of rows sits far below the 256 MB default even when
        // its join OUTPUT is 1e10 rows — lower these to force a split and
        // measure whether the join form can win at all
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "256m"),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
          sys.env.getOrElse("SPARK_GRAFT_SKEW_FACTOR", "5.0"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "64m"),
        "spark.sql.autoBroadcastJoinThreshold" ->
          sys.env.getOrElse("SPARK_GRAFT_BROADCAST", "10m")))
    val d = SparkEntry.D
    val m = SparkEntry.M

    // hot cell: hotN points on a deterministic sub-grid inside the single
    // D-cell at (200, 200)..(200.5, 200.5) — far outside the organic data's
    // coordinate range, so the hot cell's geometry is pure
    val side = math.ceil(math.sqrt(hotN.toDouble)).toLong
    val hot = spark.range(hotN).select(
      (col("id") + 10000000L).as("id"),
      (lit(200.0) + (col("id") % side).cast("double") * lit(0.4 / side)).as("x"),
      // integer `div`, not SQL's fractional `/`: the row index of the
      // side x side sub-grid (the recorded r6 numbers used a continuous
      // y-fill variant — same single hot cell, same 1e10 pair count)
      (lit(200.0) + expr(s"id div ${side}L").cast("double") * lit(0.4 / side)).as("y"))
    val points = graft.sources.Sources.points2d(spark, sfDir)
      .unionAll(hot).localCheckpoint()
    val n = points.count()

    def run(form: String): (Map[Long, Long], (Long, Long), Double, Seq[Long]) = {
      val tt = new TaskTimes
      spark.sparkContext.addSparkListener(tt)
      val df = form match {
        case "kernel" => ExactOutliers.ballCounts(points, d)
        case _ => ExactOutliers.ballCountsJoin(points, d)
      }
      // one pass computes both the outlier map (tiny) and a full-table
      // checksum (n rows, sum of all ball sizes) so the equality check
      // covers EVERY count, not just the outlier tail
      val ((rows, sums), t) = timed {
        val b = df.localCheckpoint()
        val out = b.filter(col("ball_size") <= m).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val s = b.agg(count(lit(1)), sum(col("ball_size"))).head()
        (out, (s.getLong(0), s.getLong(1)))
      }
      spark.sparkContext.removeSparkListener(tt)
      import scala.jdk.CollectionConverters._
      (rows, sums, t, tt.ms.asScala.toSeq.sorted)
    }

    val (kRes, kSum, kT, kTasks) = run("kernel")
    val (jRes, jSum, jT, jTasks) = run("join")
    val agree = kRes == jRes && kSum == jSum

    def p(ts: Seq[Long], q: Double): Long = SkewMeasure.pctl(ts, q)
    def fmt(x: Double) = SkewMeasure.fmt(x)
    println(s"""{"metric":"skew_proof","n_points":$n,"hot_cell_points":$hotN,""" +
      s""""skew_threshold":"${sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "256m")}",""" +
      s""""advisory":"${sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "64m")}",""" +
      s""""n_outliers":${kRes.size},"forms_agree":$agree,""" +
      s""""kernel_s":${fmt(kT)},"join_s":${fmt(jT)},""" +
      s""""kernel_task_p50_ms":${p(kTasks, 0.5)},"kernel_task_max_ms":${kTasks.lastOption.getOrElse(0L)},""" +
      s""""join_task_p50_ms":${p(jTasks, 0.5)},"join_task_max_ms":${jTasks.lastOption.getOrElse(0L)}}""")
    spark.stop()
    if (!agree) sys.exit(1)
  }
}

/** Hot-band straggler evidence for the MinHash LSH band join (r7 verdict
  * #7, the [[SkewProof]] treatment extended to the dedup chain): a
  * boilerplate family of F byte-identical documents shares every MinHash
  * signature, so ALL its band rows collapse into ONE (band, bsig) bucket
  * and the band self-join must emit F(F−1)/2 candidate pairs from a
  * single join key — the canonical dedup hot key (think license headers
  * or scraped nav chrome at 100 TB).
  *
  * Three timed runs, AQE skew-join on: (a) the organic sf corpus,
  * (b) organic + family (the hot band), (c) the production mitigation —
  * EXACT dedup first (keep-lowest-id, [[graft.operators.Dedup
  * .dedupedDocIds]]), which collapses the family to one survivor BEFORE
  * any signature exists; near-dup LSH then runs on distinct texts only.
  * Correctness closes the A/B honestly: the family text is alien to the
  * corpus and exact copies share every shingle, so
  * |pairs(hot)| = |pairs(organic)| + C(F,2) exactly, and the mitigated
  * count equals the DEDUPED-organic count (the surviving family
  * representative verifies against nothing; exact dedup also collapses
  * the corpus's own deliberate byte-identical dups, so the raw organic
  * count is not the right reference). Per-task wall times expose the
  * straggler (task_max vs task_p50) in each form.
  *
  * Output: one `skew_proof_lsh` JSON line recorded in BASELINE.md. */
object LshSkewProof {
  import SkewMeasure.{TaskTimes, fmt, pctl, timed}

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val famN = sys.env.getOrElse("SPARK_GRAFT_HOT_DOCS", "2000").toInt
    val spark = SparkLocal.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      extraConf = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          sys.env.getOrElse("SPARK_GRAFT_SKEW_THRESHOLD", "256m"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "64m")))
    import graft.operators.Dedup
    // alien vocabulary: no organic shingle can collide at the verify stage
    val boiler = (0 until 40).map(i => s"zqxboilerplate$i").mkString(" ")
    val organic = graft.sources.Sources.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val family = spark.range(famN).select(
      (col("id") + 50000000L).as("doc_id"), lit(boiler).as("text"))
    val hot = organic.unionAll(family).localCheckpoint()

    def run(df: org.apache.spark.sql.DataFrame): (Long, Double, Seq[Long]) = {
      val tt = new TaskTimes
      spark.sparkContext.addSparkListener(tt)
      val (n, t) = timed(Dedup.minhashLshPairs(df).count())
      spark.sparkContext.removeSparkListener(tt)
      import scala.jdk.CollectionConverters._
      (n, t, tt.ms.asScala.toSeq.sorted)
    }

    val (orgN, orgT, orgTasks) = run(organic)
    val (hotN2, hotT, hotTasks) = run(hot)
    // mitigation: exact dedup first — survivors only, then the same chain
    val (mitN, mitT, mitTasks) = run(
      hot.join(Dedup.dedupedDocIds(hot), Seq("doc_id"), "left_semi")
        .localCheckpoint())
    // the mitigation's honest reference: exact dedup collapses ORGANIC
    // byte-identical texts too (the corpus ships deliberate exact dups), so
    // the expected count is the deduped-organic chain, not the raw one
    val (orgDedupN, _, _) = run(
      organic.join(Dedup.dedupedDocIds(organic), Seq("doc_id"), "left_semi")
        .localCheckpoint())

    val closedForm = hotN2 == orgN + famN.toLong * (famN - 1) / 2
    val mitigated = mitN == orgDedupN
    println(s"""{"metric":"skew_proof_lsh","n_docs":${organic.count()},""" +
      s""""family_docs":$famN,"organic_pairs":$orgN,"hot_pairs":$hotN2,""" +
      s""""mitigated_pairs":$mitN,"organic_deduped_pairs":$orgDedupN,""" +
      s""""closed_form":$closedForm,"mitigated_eq_deduped_organic":$mitigated,""" +
      s""""organic_s":${fmt(orgT)},"hot_s":${fmt(hotT)},"mitigated_s":${fmt(mitT)},""" +
      s""""organic_task_p50_ms":${pctl(orgTasks, 0.5)},"organic_task_max_ms":${orgTasks.lastOption.getOrElse(0L)},""" +
      s""""hot_task_p50_ms":${pctl(hotTasks, 0.5)},"hot_task_max_ms":${hotTasks.lastOption.getOrElse(0L)},""" +
      s""""mitigated_task_p50_ms":${pctl(mitTasks, 0.5)},"mitigated_task_max_ms":${mitTasks.lastOption.getOrElse(0L)}}""")
    spark.stop()
    if (!closedForm || !mitigated) sys.exit(1)
  }
}
