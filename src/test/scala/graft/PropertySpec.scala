package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, ExactOutliers, GridOutliers}
import graft.streaming.ReservoirBuf

/** Property-based checks (SURVEY.md §5.2.3). Pure-Scala properties run at
  * full ScalaCheck volume via Prop.forAll; the Spark-facing containment
  * property samples a bounded number of generated point sets through the real
  * pipeline. */
class PropertySpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def check(p: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: $res")
  }

  test("floor-cell property: cellOf(-x) == -cellOf(x) - 1 off grid lines") {
    // guards the floor-vs-truncate trap (SURVEY.md §7.3.1)
    val lam = GridOutliers.lambda(1.0)
    check(Prop.forAll(Gen.choose(0.001, 500.0)) { x =>
      (x / lam == math.floor(x / lam)) ||
        math.floor(-x / lam).toLong == -math.floor(x / lam).toLong - 1
    }, "floor-cell")
  }

  test("reservoir buffer: bottom-m invariant under arbitrary insert orders") {
    val gen = Gen.zip(Gen.listOf(Gen.zip(Gen.long, Gen.long)), Gen.chooseNum(1, 16))
    check(Prop.forAll(gen) { case (entries, m) =>
      val distinctKeys = entries.distinctBy(_._1)
      val buf = distinctKeys.foldLeft(ReservoirBuf(Array.empty, Array.empty)) {
        case (b, (k, v)) => b.insert(k, v, m)
      }
      val expect = distinctKeys.sortBy(_._1).take(m)
      buf.keys.toList == expect.map(_._1) && buf.items.toList == expect.map(_._2)
    }, "reservoir-bottom-m")
  }

  test("prefix join equals the quadratic definition on random corpora (sampled)") {
    // random corpora from a tiny vocabulary (heavy overlap forces pairs) at
    // random rational thresholds; reference is a plain-Scala quadratic pass
    // over STRING shingle sets — independent of the engine's hashed kernel,
    // its window prefix order, and all three candidate filters
    val rng = new scala.util.Random(20260813L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsln", "zetaa")
    for (trial <- 1 to 6) {
      val (tn, td) = Seq((1, 2), (2, 3), (4, 5), (9, 10))(rng.nextInt(4))
      val docs = (0 until (10 + rng.nextInt(12))).map { i =>
        val text = Seq.fill(2 + rng.nextInt(10))(
          vocab(rng.nextInt(vocab.size))).mkString(" ")
        (i.toLong, text, "en", "src", text.length.toLong)
      }
      val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      val got = Dedup.prefixJaccardPairs(df, tn, td).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = docs.map { case (id, text, _, _, _) =>
        id -> text.sliding(9).toSet.filter(_.length == 9)
      }.filter(_._2.nonEmpty)
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size
        uni = sa.size + sb.size - inter
        if inter.toLong * td >= uni.toLong * tn
      } yield (a, b, inter.toDouble / uni.toDouble)).toSet
      assert(got == want,
        s"trial $trial (t=$tn/$td, ${docs.size} docs): " +
          s"missing=${want -- got}, extra=${got -- want}")
    }
  }

  test("capped ball counts keep the outlier report exact (early-exit cap)") {
    // the r14 kernel early-exit: capAbove=Some(m) may stop a point's
    // per-cell scan once its partial reaches m+1 — the ≤ m filter and the
    // surviving ball_size values must be bit-identical to the uncapped run
    val rng = new scala.util.Random(1414)
    for (d <- List(1.0, 2.0, 3.5)) {
      val m = 3
      val n = 60 + rng.nextInt(120)
      val pts = List.fill(n)((rng.nextDouble() * 30 - 15, rng.nextDouble() * 30 - 15))
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y")
      val full = ExactOutliers.ballCounts(df, d)
        .filter(col("ball_size") <= m)
        .select("id", "ball_size").as[(Long, Long)].collect().toMap
      val capped = ExactOutliers.ballCounts(df, d, capAbove = Some(m))
        .filter(col("ball_size") <= m)
        .select("id", "ball_size").as[(Long, Long)].collect().toMap
      assert(capped === full,
        s"capped outlier report diverged at d=$d: " +
          s"missing=${full.keySet -- capped.keySet}, " +
          s"extra=${capped.keySet -- full.keySet}")
    }
  }

  // both HW1 kernels group Λ-cells into 64x64 blocks with a 3-cell ring;
  // the block-edge fixtures crowd the block edges (exact multiples
  // included) in all four quadrants, spanning at least three blocks per axis
  private val side = 64

  /** Capped and uncapped ball counts of `rows` against brute force with the
    * oracle's expression; a row with a null x has no ball and is in none. */
  private def assertBallCounts(rows: Seq[(Long, Option[Double], Double)], d: Double, m: Int): Unit = {
    val df = rows.toDF("id", "x", "y")
    val pts = rows.collect { case (_, Some(x), y) => (x, y) }
    val brute = rows.collect { case (id, Some(x), y) => (id, x, y) }.groupMapReduce(_._1) {
      case (_, x, y) =>
        pts.count { case (x2, y2) => (x - x2) * (x - x2) + (y - y2) * (y - y2) <= d * d }.toLong
    }(_ + _)
    val full = ExactOutliers.ballCounts(df, d)
      .select("id", "ball_size").as[(Long, Long)].collect().toMap
    val wrong = brute.filter { case (id, b) => !full.get(id).contains(b) }
    val sameIds = full.keySet == brute.keySet
    assert(sameIds && wrong.isEmpty, s"uncapped ball counts diverged at d=$d: " +
      wrong.take(5).map { case (id, b) => s"id $id: ${full.get(id)} vs $b" })
    val capped = ExactOutliers.ballCounts(df, d, capAbove = Some(m))
      .select("id", "ball_size").as[(Long, Long)].collect().toMap
    assert(capped.keySet == brute.keySet)
    brute.foreach { case (id, b) =>
      if (b <= m) assert(capped(id) == b, s"capped id $id: ${capped(id)} vs $b (d=$d)")
      else assert(capped(id) > m, s"capped id $id fell to ${capped(id)} <= $m (d=$d)")
    }
  }

  /** Every 7th point repeats an id: the ball count of an id is the sum over
    * its points, as the oracle's GROUP BY id. */
  private def withIds(pts: Seq[(Option[Double], Double)]): Seq[(Long, Option[Double], Double)] =
    pts.zipWithIndex.map { case ((x, y), i) => ((if (i % 7 == 0) i / 7 else i).toLong, x, y) }

  test("block-edge property: capped and uncapped ball counts equal brute force") {
    // edges at multiples of 16·D: the 16-cell blocks of D-cells that the
    // ball counts routed on before they moved onto the Λ-grid
    val rng = new scala.util.Random(16161)
    def edgeCoord(unit: Double): Double =
      if (rng.nextBoolean()) (rng.nextInt(9) - 4) * 16 * unit
      else if (rng.nextBoolean()) {
        val e = (rng.nextInt(9) - 4) * 16 * unit
        Seq(e - unit, e + unit, e - rng.nextDouble() * 1.5 * unit,
          e + rng.nextDouble() * 1.5 * unit)(rng.nextInt(4))
      } else (rng.nextDouble() * 9 - 4.5) * 16 * unit
    for (d <- List(1.0, 0.5))
      assertBallCounts(withIds(List.fill(500)((Some(edgeCoord(d)), edgeCoord(d)))), d, 3)
  }

  test("Λ-geometry property: capped and uncapped ball counts equal brute force") {
    // a D whose Λ = d / (2√2) rounds up, so a point's Λ-cell index can
    // fall one below its exact-arithmetic cell
    def roundsUp(d: Double): Boolean = {
      val mc = new java.math.MathContext(60)
      val exact = new java.math.BigDecimal(d).divide(java.math.BigDecimal.valueOf(8).sqrt(mc), mc)
      new java.math.BigDecimal(GridOutliers.lambda(d)).compareTo(exact) > 0
    }
    val dUp = Iterator.from(1).map(k => 0.5 + k / 1024.0).find(roundsUp).get
    val rng = new scala.util.Random(16163)
    for (d <- List(1.0, dUp)) {
      val lam = GridOutliers.lambda(d)
      // Λ-block edges (multiples of 16Λ) in all four quadrants, nine blocks
      // per axis, with points on, one cell off and up to 3Λ off the edge
      def edge(): Double = {
        val e = (rng.nextInt(9) - 4) * side * lam
        Seq(e, e - lam, e + lam, e - rng.nextDouble() * 3 * lam,
          e + rng.nextDouble() * 3 * lam)(rng.nextInt(5))
      }
      // lattice pairs exactly D apart on an axis, around the block corner
      // at the origin, in all four quadrants
      val lattice = for (a <- -7 to 7; b <- -7 to 7) yield (a * d, b * d)
      // partners of edge points: exactly D apart on an axis and on a 3-4-5
      // diagonal, and 3Λ = 1.06·D apart on an axis and on a diagonal
      val offsets = Seq((d, 0.0), (0.0, -d), (0.6 * d, 0.8 * d), (-0.8 * d, 0.6 * d),
        (3 * lam, 0.0), (0.0, -3 * lam), (3 * lam, 3 * lam))
      val bases = List.fill(150)((edge(), edge()))
      val partners = bases.map { case (x, y) =>
        val (dx, dy) = offsets(rng.nextInt(offsets.size)); (x + dx, y + dy) }
      val pts = (lattice ++ bases ++ partners).map { case (x, y) => (Option(x), y) }
      assertBallCounts(withIds(pts) :+ ((-1L, None, 0.0)), d, 3)
    }
  }

  test("block-edge property: N3/N7 equal brute force over the cell table") {
    val rng = new scala.util.Random(16162)
    def edgeCell(): Long = {
      val e = (rng.nextInt(9) - 4) * side.toLong
      if (rng.nextInt(3) == 0) e + rng.nextInt(9) - 4 else e + rng.nextInt(side)
    }
    val cells = List.fill(900)((edgeCell(), edgeCell())).distinct
      .map { case (i, j) => (i, j, 1L + rng.nextInt(5)) }
    val size = cells.map { case (i, j, s) => (i, j) -> s }.toMap
    def window(i: Long, j: Long, r: Int): Long =
      (for (di <- -r to r; dj <- -r to r) yield size.getOrElse((i + di, j + dj), 0L)).sum
    val want = cells.map { case (i, j, s) => (i, j, s, window(i, j, 1), window(i, j, 3)) }.toSet
    val got = GridOutliers.neighborStats(cells.toDF("i", "j", "size"))
      .select("i", "j", "size", "n3", "n7").as[(Long, Long, Long, Long, Long)].collect()
    val wrong = got.toSet diff want
    val sameCount = got.length == cells.length
    assert(sameCount && wrong.isEmpty, s"N3/N7 diverged: ${wrong.take(5)}")
  }

  test("grid containment holds on random point sets (sure ⊆ exact ⊆ sure ∪ uncertain)") {
    val rng = new scala.util.Random(4242)
    for (d <- List(1.0, 2.0, 3.0, 1.5, 2.5)) {
      val m = 3
      val n = 30 + rng.nextInt(90)
      val pts = List.fill(n)((rng.nextDouble() * 40 - 20, rng.nextDouble() * 40 - 20))
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "x", "y")
      val exact = ExactOutliers.ballCounts(df, d)
        .filter(col("ball_size") <= m).select("id").as[Long].collect().toSet
      val cellOf = GridOutliers.cellify(df, d).select("id", "i", "j")
        .as[(Long, Long, Long)].collect().map { case (id, i, j) => id -> (i, j) }.toMap
      val cls = GridOutliers.classifiedCells(df, d, m)
      val sure = cls.filter(col("sure_outlier")).select("i", "j").as[(Long, Long)].collect().toSet
      val unc = cls.filter(col("uncertain")).select("i", "j").as[(Long, Long)].collect().toSet
      cellOf.foreach { case (id, c) =>
        if (sure(c)) assert(exact.contains(id), s"sure-cell point $id must be a true outlier (d=$d)")
      }
      exact.foreach { id =>
        assert(sure(cellOf(id)) || unc(cellOf(id)), s"true outlier $id must be sure or uncertain (d=$d)")
      }
    }
  }
}
