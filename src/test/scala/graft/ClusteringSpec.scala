package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Clustering

class ClusteringSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def dist(a: Array[Double], b: Array[Double]) = math.sqrt(Clustering.sqdist(a, b))

  // 4 well-separated unit-radius clusters: OPT for k=4 is ~sqrt(2)
  private val clusterCenters = Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0))
  private val rng = new scala.util.Random(7)
  private val pts: IndexedSeq[Array[Double]] = clusterCenters.flatMap { case (cx, cy) =>
    (1 to 50).map(_ => Array(cx + rng.nextDouble() * 2 - 1, cy + rng.nextDouble() * 2 - 1))
  }.toIndexedSeq

  private def radiusOf(centers: Seq[Array[Double]], ps: Seq[Array[Double]]): Double =
    ps.map(p => centers.map(c => dist(p, c)).min).max

  test("sequentialFFT returns min(k,n) centers, all from the input") {
    val cs = Clustering.sequentialFFT(pts, 4)
    assert(cs.length == 4)
    assert(cs.forall(c => pts.exists(_.sameElements(c))))
    assert(Clustering.sequentialFFT(pts.take(2), 5).length == 2)
    assert(Clustering.sequentialFFT(IndexedSeq.empty, 3).isEmpty)
  }

  test("sequentialFFT 2-approximation on separated clusters, any first center") {
    val opt = math.sqrt(2.0) // max dist within a unit box from its best center
    for (first <- Seq(0, 57, 199)) {
      val cs = Clustering.sequentialFFT(pts, 4, first)
      assert(radiusOf(cs, pts) <= 2 * opt + 1e-9, s"first=$first")
    }
  }

  test("radius bound is permutation invariant within the approximation factor") {
    val shuffled = new scala.util.Random(13).shuffle(pts)
    val r1 = radiusOf(Clustering.sequentialFFT(pts, 4), pts)
    val r2 = radiusOf(Clustering.sequentialFFT(shuffled, 4), pts)
    assert(r1 <= 2 * math.sqrt(2.0) + 1e-9 && r2 <= 2 * math.sqrt(2.0) + 1e-9)
  }

  test("MRFFT coreset round stays within 4x OPT and matches column-math radius") {
    val df = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "vec")
    val centers = Clustering.mrfftCentersDeterministic(df, 4, 4)
    assert(centers.length == 4)
    val rLocal = radiusOf(centers, pts)
    assert(rLocal <= 4 * math.sqrt(2.0) + 1e-9)
    val rSpark = Clustering.radius(df, centers).head().getDouble(0)
    assert(math.abs(rSpark - rLocal) < 1e-9,
      "Spark column-math radius must agree with the driver-side computation")
  }

  test("deterministic MRFFT: identical centers across runs, radius inside the approximation bracket") {
    val raw = graft.sources.Sources.points2d(spark, "/root/testdata/sf0.001")
      .select(col("id"), array(col("x"), col("y")).as("vec"))
    val c1 = Clustering.mrfftCentersDeterministic(raw, 8, 8)
    val c2 = Clustering.mrfftCentersDeterministic(raw, 8, 8)
    assert(c1.length == c2.length &&
      c1.zip(c2).forall { case (a, b) => a.sameElements(b) },
      "fixed-partitioning MRFFT must be bit-for-bit repeatable")
    // bracket against full sequential FFT on the same data: r_seq is a
    // 2-approx (OPT >= r_seq/2) and any k-center radius >= OPT, so
    // r_seq/2 <= r_mrfft; the composable-coreset bound gives
    // r_mrfft <= 4*OPT <= 4*r_seq.
    val all = raw.select(col("vec").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray).toIndexedSeq
    val rSeq = radiusOf(Clustering.sequentialFFT(all, 8), all)
    val rMr = radiusOf(c1, all)
    assert(rMr >= rSeq / 2 - 1e-9 && rMr <= 4 * rSeq + 1e-9,
      s"mrfft radius $rMr outside [${rSeq / 2}, ${4 * rSeq}] (r_seq=$rSeq)")
  }

  test("hw2 pipeline: radius feeds the grid-outlier summary") {
    val df = pts.zipWithIndex.map { case (p, i) => (i.toLong, p(0), p(1)) }.toDF("id", "x", "y")
    val row = Clustering.hw2Pipeline(df, 4, 4, 3).head()
    assert(row.getLong(0) == pts.length)
    // with D = clustering radius (~sqrt2), the dense unit clusters are not outliers
    assert(row.getLong(1) == 0)
  }
}
