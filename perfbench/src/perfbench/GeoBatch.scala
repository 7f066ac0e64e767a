package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, ExactOutliers, GridOutliers}
import graft.sources.Sources

/** geo_batch: one pass makes the calls `Hw1Main` and `Hw2Main` make, in
  * their order, on a seeded 2-D point file (the exact pass without the
  * CLI's n ≤ 200k gate). */
object GeoBatch {
  // HW1: (D, M)-outliers, K reported; HW2: MRFFT with KC centers; L partitions
  val D = 0.5
  val M = 4
  val K = 10
  val KC = 50
  val L = 8

  /** What one pass returned, kept for the checks. */
  final case class Out(n: Long, exact: Long, outliers: Seq[(Long, Long)],
                       summary: (Long, Long, Long), top: Seq[(Long, Long, Long)],
                       centers: Seq[Array[Double]], radius: Double,
                       summaryR: (Long, Long, Long), cachedBytes: Long, r1Ms: Long)

  private def row3(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))

  def pass(spark: SparkSession, rec: Recorder, path: String, seed: Long): Out = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    try {
      val (points, n) = rec.call("read") {
        val p = Sources.pointsCsv(spark, path).repartition(L).cache()
        cached += p
        (p, p.count())
      }
      val outliers = rec.call("exact_outliers") {
        ExactOutliers.outliers(points, D, M, K).collect()
      }.map(r => (r.getAs[Number]("id").longValue, r.getAs[Number]("ball_size").longValue)).toSeq
      val exact = rec.call("exact_count") {
        ExactOutliers.outlierCount(points, D, M).head().getLong(0)
      }
      val summary = rec.call("grid_summary")(row3(GridOutliers.summary(points, D, M).head()))
      val top = rec.call("topk_cells") {
        GridOutliers.topKCells(points, D, K).collect()
      }.map(r => (r.getAs[Number]("i").longValue, r.getAs[Number]("j").longValue, r.getAs[Number]("size").longValue)).toSeq
      val vecs = points.select(col("id"), array(col("x"), col("y")).as("vec")).cache()
      cached += vecs
      val (centers, r1Ms, _) = rec.call("mrfft")(Clustering.mrfftCentersRandomTimed(vecs, KC, L, seed))
      val radius = rec.call("radius")(Clustering.radius(vecs, centers).head().getDouble(0))
      val summaryR = rec.call("grid_summary_r")(row3(GridOutliers.summary(points, radius, M).head()))
      val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      Out(n, exact, outliers, summary, top, centers, radius, summaryR, bytes, r1Ms)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  def check(res: Result, o: Out, nExpected: Long): Unit = {
    val (nPoints, sure, uncertain) = o.summary
    res.check("n_points", o.n == nExpected && nPoints == nExpected && o.summaryR._1 == nExpected,
      s"read ${o.n}, summary ${o.summary}, summary_r ${o.summaryR}, expected $nExpected")
    res.check("sure<=exact<=sure+uncertain", sure <= o.exact && o.exact <= sure + uncertain,
      s"sure $sure exact ${o.exact} uncertain $uncertain")
    res.check("outliers_first_k", o.outliers.length == math.min(K.toLong, o.exact) &&
      o.outliers.forall(_._2 <= M) &&
      o.outliers.zip(o.outliers.drop(1)).forall { case (x, y) => Ordering[(Long, Long)].lteq((x._2, x._1), (y._2, y._1)) },
      s"${o.outliers}")
    res.check("topk_order", o.top.length == K &&
      o.top.zip(o.top.drop(1)).forall { case ((i1, j1, s1), (i2, j2, s2)) =>
        Ordering[(Long, Long, Long)].lteq((s1, i1, j1), (s2, i2, j2)) }, s"${o.top}")
    res.check("centers_count", o.centers.length == KC, s"${o.centers.length}")
    res.check("radius_positive", o.radius > 0.0 && !o.radius.isNaN, s"${o.radius}")
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val rec = new Recorder(spark, res, progress = false)
    val n = a.param("n").toLong
    val path = a.inFile("points.csv")
    // untimed warm-up: passes on separate warm-up points, then two on the
    // timed points. Spark inlines their centers and radius as literals into
    // the code it generates, so that code is compiled here (the first timed
    // pass otherwise compiled 5-27 classes the others did not), and the
    // first pass on new points still ran about 10% slower than the rest
    for (w <- 1 to a.param("warm").toInt)
      rec.inPass(-1)(res.guard("warm-up")(pass(spark, rec, a.inFile("warm_points.csv"), a.seed + w)))
    for (_ <- 1 to 2)
      rec.inPass(-1)(res.guard("warm-up")(pass(spark, rec, path, a.seed)))
    val byPass = mutable.LinkedHashMap.empty[Int, Out]
    val (t0, ps) = Main.timedPasses(rec, res, a, minPasses = 3) { idx =>
      // every pass replays Hw2Main with the run's seed, so the centers, and
      // the code Spark generates around them, repeat from pass to pass
      byPass(idx) = pass(spark, rec, path, a.seed)
      println(rec.calls.filter(_.pass == idx).map(c => f"${c.name}=${c.ms}%.0f").mkString("calls ", " ", ""))
      // the heap probe (three full collections 200 ms apart) after every
      // third pass only: after each pass it took a fifth of the timed phase
      if (idx % 3 == 2) Jvm.liveHeapMb() else Double.NaN
    }
    val outs = byPass.values.toSeq
    // untimed checks
    outs.foreach(check(res, _, n))
    val inputPoints: Set[(Double, Double)] = {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().map { l =>
        val Array(x, y) = l.split(","); (x.toDouble, y.toDouble)
      }.toSet finally src.close()
    }
    res.check("centers_are_input_points",
      outs.forall(_.centers.forall(c => inputPoints((c(0), c(1))))), "a center is not an input point")
    crossCheck(spark, res, path, a.seed)

    val timed = rec.calls.filter(_.pass >= 0).toSeq
    Main.passE2e(rec, res, a, t0, ps)
    val csvBytes = java.nio.file.Files.size(java.nio.file.Paths.get(path)).toDouble
    res.metric("store_amp", Stats.median(outs.map(_.cachedBytes / csvBytes)), "ratio")
    // Per timed pass, lat: how long Hw1Main's whole report takes (read
    // through topk_cells); serve: how long its two outlier counts take
    // (exact_count and grid_summary, the exact and the approximate answer).
    // Percentiles over single calls mix four call types of 0.2-1 s each
    // and swung by 0.26-0.31 (quartile spread) over ten runs; these sums
    // hold within 0.1-0.2.
    def perPass(names: Set[String]) =
      ps.map(p => timed.filter(c => c.pass == p.idx && names(c.name)).map(_.ms).sum)
    val hw1 = perPass(Set("read", "exact_outliers", "exact_count", "grid_summary", "topk_cells"))
    res.metric("lat_p50_ms", Stats.q(hw1, 0.5), "ms")
    res.metric("lat_p95_ms", Stats.q(hw1, 0.95), "ms")
    val counts = perPass(Set("exact_count", "grid_summary"))
    res.metric("serve_p50_ms", Stats.q(counts, 0.5), "ms")
    res.metric("serve_p90_ms", Stats.q(counts, 0.9), "ms")
    res.metric("fail_frac", res.failFrac, "ratio")
    res.metric("samples.passes", ps.length.toDouble, "count")

    if (rec.traced) {
      rec.drain()
      rec.addSparkSpans()
      val tracedIdx = ps.filter(_.traced).map(_.idx).toSet
      val tc = timed.filter(c => tracedIdx(c.pass))
      def of(name: String) = tc.filter(_.name == name)
      val reads = of("read").map(c => rec.stats(Seq(c)))
      res.metric("sources.read_s", Stats.median(of("read").map(_.ms / 1000.0)), "s")
      res.metric("sources.input_mb", Stats.median(reads.map(_.inputMb)), "MB")
      for (name <- Seq("exact_outliers", "exact_count", "grid_summary", "topk_cells",
                       "radius", "grid_summary_r"))
        Main.callLayer(rec, res, s"operators.$name", of(name), a.threads, withSkew = true)
      // R1 (the distributed coreset round) and R2 (the driver-side FFT) are
      // one call; the library returns where R1 ends.
      val (r1, r2) = of("mrfft").filter(c => byPass.contains(c.pass)).map { c =>
        val cut = c.startMs + math.min(c.ms, byPass(c.pass).r1Ms.toDouble)
        (c.copy(endMs = cut), c.copy(startMs = cut, group = ""))
      }.unzip
      Main.callLayer(rec, res, "operators.mrfft_r1", r1, a.threads, withSkew = true)
      Main.callLayer(rec, res, "operators.mrfft_r2", r2, a.threads, withSkew = true)
      Main.traceLayer(rec, res, ps)
      rec.writeSpans(a.out.resolve("spans.jsonl"), s"geo_batch-${a.seed}")
    }
  }

  /** The kernel's ball counts against the plain join formulation on a
    * seeded subsample (untimed; both sides are small and compared on the
    * driver). */
  def crossCheck(spark: SparkSession, res: Result, path: String, seed: Long): Unit = {
    val sample = Sources.pointsCsv(spark, path).sample(withReplacement = false, 0.05, seed)
      .localCheckpoint()
    def counts(df: DataFrame) = df.select(col("id"), col("ball_size").cast("long")).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val kernel = counts(ExactOutliers.ballCounts(sample, D))
    val join = counts(ExactOutliers.ballCountsJoin(sample, D))
    res.check("ball_counts_kernel_vs_join", kernel.nonEmpty && kernel == join,
      s"${(kernel.toSet diff join.toSet).size} differing rows over ${join.size} sampled points")
    val cnt = ExactOutliers.outlierCount(sample, D, M).head().getLong(0)
    val viaJoin = join.values.count(_ <= M).toLong
    res.check("outlier_count_kernel_vs_join", cnt == viaJoin, s"kernel $cnt join $viaJoin")
  }
}
