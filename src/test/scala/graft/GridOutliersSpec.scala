package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ExactOutliers, GridOutliers}

class GridOutliersSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private val pts: Seq[(Long, Double, Double)] =
    (1L to 300L).map(i => (i, rng.nextDouble() * 20 - 10, rng.nextDouble() * 20 - 10)) ++
      Seq((901L, 55.0, 55.0), (902L, -55.0, -55.0), (903L, 55.1, 55.1)) // isolated
  private def df = pts.toDF("id", "x", "y")

  test("cellify floors toward -inf for negative coordinates") {
    val d = 1.0
    val lam = GridOutliers.lambda(d)
    val rows = GridOutliers.cellify(Seq((1L, -0.1, -0.1), (2L, 0.1, 0.1)).toDF("id", "x", "y"), d)
      .select("id", "i", "j").collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) == (-1L, -1L))
    assert(rows(2L) == (0L, 0L))
    assert(math.floor(-0.1 / lam) == -1.0)
  }

  test("grid approximation brackets the exact outliers (sure ⊆ exact ⊆ sure ∪ uncertain)") {
    val d = 2.0; val m = 3
    val exact = ExactOutliers.ballCounts(df, d)
      .filter(col("ball_size") <= m).select("id").as[Long].collect().toSet
    val cells = GridOutliers.classifiedCells(df, d, m)
    val byCell = GridOutliers.cellify(df, d).select("id", "i", "j")
      .as[(Long, Long, Long)].collect().map { case (id, i, j) => id -> (i, j) }.toMap
    val sureCells = cells.filter(col("sure_outlier")).select("i", "j").as[(Long, Long)].collect().toSet
    val uncCells = cells.filter(col("uncertain")).select("i", "j").as[(Long, Long)].collect().toSet
    val inSure = byCell.collect { case (id, c) if sureCells(c) => id }.toSet
    val inSureOrUnc = byCell.collect { case (id, c) if sureCells(c) || uncCells(c) => id }.toSet
    assert(inSure.subsetOf(exact), "every point in a sure cell must be a true (D,M)-outlier")
    assert(exact.subsetOf(inSureOrUnc), "every true outlier must lie in a sure or uncertain cell")
    assert(exact.nonEmpty, "fixture should actually contain outliers")
  }

  test("summary counts match classified cell sums and total") {
    val row = GridOutliers.summary(df, 2.0, 3).head()
    assert(row.getLong(0) == pts.length)
    assert(row.getLong(1) >= 2) // the isolated points are sure outliers
    assert(row.getLong(1) + row.getLong(2) <= pts.length)
  }

  test("topKCells is ascending by (size, i, j) and bounded by K") {
    val rows = GridOutliers.topKCells(df, 2.0, 5)
      .select("size", "i", "j").as[(Long, Long, Long)].collect()
    assert(rows.length == 5)
    assert(rows.sameElements(rows.sortBy(identity)))
  }

  test("exact ball counts are self-inclusive and match a brute-force check") {
    val d = 2.0
    val brute = pts.map { case (id, x, y) =>
      id -> pts.count { case (_, x2, y2) =>
        (x - x2) * (x - x2) + (y - y2) * (y - y2) <= d * d
      }.toLong
    }.toMap
    val got = ExactOutliers.ballCounts(df, d)
      .as[(Long, Long)].collect().toMap
    assert(got == brute)
    assert(got.values.forall(_ >= 1), "ball includes the point itself")
  }

  test("a null coordinate counts in n_points but has no cell stats and no ball") {
    val d = 2.0; val m = 3
    val withNull = (pts.map { case (id, x, y) => (id, Option(x), y) } :+ ((999L, None, 1.0)))
      .toDF("id", "x", "y")
    val base = GridOutliers.summary(df, d, m).head()
    val row = GridOutliers.summary(withNull, d, m).head()
    assert(row.getLong(0) == pts.length + 1, "n_points is the oracle's COUNT(*)")
    assert(row.getLong(1) == base.getLong(1) && row.getLong(2) == base.getLong(2))
    val stats = GridOutliers.neighborStats(GridOutliers.cellCounts(withNull, d))
    assert(stats.filter(col("i").isNull || col("j").isNull).count() == 0)
    assert(stats.count() == GridOutliers.cellCounts(df, d).count())
    val balls = ExactOutliers.ballCounts(withNull, d).select("id").as[Long].collect()
    assert(!balls.contains(999L))
    assert(balls.length == pts.length)
  }

  test("neighborStats and summary have no 32-bit cell-index limit") {
    // cells 2^32 apart on i share their low 32 bits: packing (i, j) into one
    // long would merge them; ±2^40 puts the block index itself past 32 bits
    val far = 1L << 40
    val cells = Seq((5L, 7L, 2L), (5L + (1L << 32), 7L, 3L), (6L + (1L << 32), 8L, 1L),
      (far, -far, 4L), (far + 3, -far - 3, 1L), (-far - 64, far + 63, 5L), (-far - 65, far + 64, 1L))
    val got = GridOutliers.neighborStats(cells.toDF("i", "j", "size"))
      .select("i", "j", "size", "n3", "n7").as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((5L, 7L, 2L, 2L, 2L),
      (5L + (1L << 32), 7L, 3L, 4L, 4L), (6L + (1L << 32), 8L, 1L, 4L, 4L),
      (far, -far, 4L, 4L, 5L), (far + 3, -far - 3, 1L, 1L, 5L),
      (-far - 64, far + 63, 5L, 6L, 6L), (-far - 65, far + 64, 1L, 6L, 6L)))
    // the same geometry from points: coordinates past 2^31 cells of side
    // Λ, brute-forced on the driver with the operator's floor(x / Λ)
    val d = 1.0; val m = 1
    val lam = GridOutliers.lambda(d)
    val big = Seq((1L, 3e11, -3e11), (2L, 3e11 + lam / 2, -3e11), (3L, 3e11 + 2.5 * lam, -3e11),
      (4L, -3e11, 3e11), (5L, -3e11 + 10 * lam, 3e11), (6L, 1.0, 1.0))
    val cellOf = big.map { case (_, x, y) => (math.floor(x / lam).toLong, math.floor(y / lam).toLong) }
    assert(cellOf.exists(_._1 > (1L << 31)), "the fixture must exceed 32-bit cell indices")
    val sizes = cellOf.groupMapReduce(identity)(_ => 1L)(_ + _)
    def window(c: (Long, Long), r: Int) =
      (for (di <- -r to r; dj <- -r to r) yield sizes.getOrElse((c._1 + di, c._2 + dj), 0L)).sum
    val sure = sizes.collect { case (c, s) if window(c, 1) <= m && window(c, 3) <= m => s }.sum
    val unc = sizes.collect { case (c, s) if window(c, 1) <= m && window(c, 3) > m => s }.sum
    val row = GridOutliers.summary(big.toDF("id", "x", "y"), d, m).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((big.length.toLong, sure, unc)))
    assert(sure > 0 && unc > 0, "the fixture must classify both ways")
    val balls = big.map { case (id, x, y) =>
      id -> big.count { case (_, x2, y2) => (x - x2) * (x - x2) + (y - y2) * (y - y2) <= d * d }.toLong
    }.toMap
    assert(ExactOutliers.ballCounts(big.toDF("id", "x", "y"), d).as[(Long, Long)].collect().toMap == balls)
    assert(balls.values.exists(_ > 1), "the fixture must hold a pair within D")
  }

  /** (n_points, sure, uncertain) of `rows` brute-forced on the driver with
    * the operator's floor(x / Λ); a point with a null coordinate counts in
    * n_points only. */
  private def bruteSummary(rows: Seq[(Long, Option[Double], Option[Double])], d: Double, m: Int) = {
    val lam = GridOutliers.lambda(d)
    val sizes = rows.collect { case (_, Some(x), Some(y)) => (math.floor(x / lam).toLong, math.floor(y / lam).toLong) }
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    def window(c: (Long, Long), r: Int) =
      (for (di <- -r to r; dj <- -r to r) yield sizes.getOrElse((c._1 + di, c._2 + dj), 0L)).sum
    val sure = sizes.collect { case (c, s) if window(c, 1) <= m && window(c, 3) <= m => s }.sum
    val unc = sizes.collect { case (c, s) if window(c, 1) <= m && window(c, 3) > m => s }.sum
    (rows.length.toLong, sure, unc)
  }

  test("summary equals a driver-side brute force on Λ-cell and block edges, duplicates and nulls") {
    val rng = new scala.util.Random(1717)
    for (d <- List(0.5, 2.0); m <- List(2, 4)) {
      val lam = GridOutliers.lambda(d)
      // on a Λ-cell edge, one cell off it, or up to 3Λ off a block edge
      // (multiples of 64Λ), in all four quadrants
      def coord(): Double = {
        val e = (rng.nextInt(7) - 3) * 64 * lam
        Seq(e, e - lam, e + lam, e + (rng.nextInt(9) - 4) * lam,
          e - rng.nextDouble() * 3 * lam, e + rng.nextDouble() * 3 * lam)(rng.nextInt(6))
      }
      val bases = List.fill(400)((coord(), coord()))
      // every 5th point is repeated up to three times: duplicate coordinates
      val pts = bases.zipWithIndex.flatMap { case (p, k) => List.fill(if (k % 5 == 0) 1 + rng.nextInt(3) else 1)(p) }
      val rows = pts.zipWithIndex.map { case ((x, y), k) => (k.toLong, Option(x), Option(y)) } ++
        Seq((-1L, None, Some(1.0)), (-2L, Some(1.0), None), (-3L, None, None))
      val row = GridOutliers.summary(rows.toDF("id", "x", "y"), d, m).head()
      val want = bruteSummary(rows, d, m)
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) == want, s"d=$d m=$m")
      assert(want._2 > 0 && want._3 > 0, s"the fixture must classify both ways (d=$d m=$m)")
    }
  }

  test("neighborStats equals brute-force N3/N7 on a cell table with sizes > 1") {
    val rng = new scala.util.Random(1718)
    def coord(): Long = (rng.nextInt(5) - 2) * 64L + rng.nextInt(9) - 4
    val keyed = List.fill(300)((coord(), coord())).distinct.map { case (i, j) => (i, j, 2L + rng.nextInt(6)) }
    // a cell given in two rows merges into one; rows with a null index
    // have no stats
    val repeated = keyed.take(5).map { case (i, j, _) => (i, j, 3L) }
    val rows = (keyed ++ repeated).map { case (i, j, s) => (Option(i), Option(j), s) } ++
      Seq((None, Some(1L), 4L), (Some(1L), None, 5L), (None, None, 6L))
    val size = (keyed ++ repeated).groupMapReduce(c => (c._1, c._2))(_._3)(_ + _)
    def window(i: Long, j: Long, r: Int): Long =
      (for (di <- -r to r; dj <- -r to r) yield size.getOrElse((i + di, j + dj), 0L)).sum
    val want = size.map { case ((i, j), s) => (i, j, s, window(i, j, 1), window(i, j, 3)) }.toSet
    val got = GridOutliers.neighborStats(rows.toDF("i", "j", "size"))
      .select("i", "j", "size", "n3", "n7").as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length == size.size)
    assert(got.toSet == want)
  }

  test("topKCells sorts a null cell index last, as the oracle's ORDER BY") {
    // Λ = 1: cells (0, 5), (3, 2) and (null, 5) hold one point each, (1, 1) two
    val d = 2.0 * math.sqrt(2.0)
    assert(GridOutliers.lambda(d) == 1.0)
    val rows = Seq((1L, Option(0.5), 5.5), (2L, None, 5.5), (3L, Option(3.5), 2.5),
      (4L, Option(1.5), 1.5), (5L, Option(1.25), 1.75)).toDF("id", "x", "y")
    def top(k: Int) = GridOutliers.topKCells(rows, d, k).select("size", "i", "j").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))).toSeq
    assert(top(2) == Seq((1L, Some(0L), 5L), (1L, Some(3L), 2L)))
    assert(top(4) == Seq((1L, Some(0L), 5L), (1L, Some(3L), 2L), (1L, None, 5L), (2L, Some(1L), 1L)))
  }
}
