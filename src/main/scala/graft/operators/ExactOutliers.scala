package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact (D,M)-outlier detection (SURVEY.md §2.9 C1, §2.3 J1).
  *
  * Reference: `ExactOutliers` at `big_data_computing_1.py:30-53` — a
  * driver-side O(n²) nested loop, gated to n ≤ 200,000 (`:178`). Rebuilt as a
  * distributed grid-bucketed count: points are bucketed into cells of side
  * D and each point scans its 3x3 cell neighborhood (any point within
  * distance D lies in an adjacent cell) — never a cartesian. Pair count is
  * n · E[ball size], not n², so the plan survives 100x scale-up.
  *
  * Semantics preserved exactly:
  *  - ball counts are self-inclusive (counts start at 1,
  *    `big_data_computing_1.py:33`): the self-pair (dist 0 ≤ D) stays in.
  *  - distance predicate is inclusive `dist ≤ D` (`:37`), compared in squared
  *    form with the same expression shape as the oracle for bit equality.
  */
object ExactOutliers {

  private val offsets3x3: Seq[(Int, Int)] =
    for { di <- -1 to 1; dj <- -1 to 1 } yield (di, dj)

  /** |B(p,D)| per point: (id, ball_size), self-inclusive
    * (`big_data_computing_1.py:33`).
    *
    * Shape: cells have side D, so every point within D of a point lies in
    * its 3x3 cell window. Cells are grouped into blocks of
    * [[BlockHalo.Side]]² cells; each point goes to its own block and to each
    * neighbour block whose 1-cell halo covers it (≈1.3 rows per point, see
    * [[BlockHalo]]), ONE hash exchange on the block co-locates a block's
    * points with its halo, and a per-partition kernel counts `dist² ≤ D²`
    * matches in tight loops over primitive double arrays. Inside a block the
    * points are counting-sorted by cell, so a cell's 3x3 window is three
    * contiguous runs, copied once into the arrays its residents scan. The
    * n·E[ball] candidate pairs (104M at sf0.1) exist only as loop
    * iterations inside the kernel, never as materialized rows — the genuine
    * per-partition-imperative case; it benched ~4x faster than the
    * equivalent equi-join + 104M-row filter/aggregate plan. AQE can't
    * rebalance a skewed block here, but a block's work is bounded by
    * geometry (≤ |block|·|3x3 occupancy|) and blocks hash-spread across
    * partitions. Measured under DELIBERATE skew (`graft.SkewProof`, one
    * 100k-point hot cell = 1e10 intra-cell pairs, 4 vCPUs, BASELINE.md):
    * kernel 19 s / 16 s max task (that one cell's loop) vs
    * [[ballCountsJoin]] 266 s / 199 s max task — AQE skew-join never fires
    * because its detection is INPUT-bytes based (the hot partition is ~4 MB,
    * far under the 256 MB threshold) while the blow-up is join OUTPUT; even
    * force-split at a 1 MB threshold the join form lost 5x. The join form
    * would win only when one cell holds input bytes past AQE's splitter AND
    * the rest of the table is idle-parallel — at which point the right fix
    * is a smaller D (cell geometry), not rows.
    *
    * The distance predicate keeps the oracle's exact expression shape —
    * `(x-ox)*(x-ox)+(y-oy)*(y-oy) <= d*d`, same IEEE multiply/add order — so
    * results stay bit-identical to the SQL twin. Each point yields one row;
    * duplicate ids merge in a final |points|-row sum, matching the oracle's
    * GROUP BY id. A point with a null coordinate has no cell and no row.
    *
    * Note on a rejected optimization (measured, not assumed): materializing
    * each unordered pair once — half-space cell offsets + lexicographic
    * same-cell dedup, crediting both endpoints — halves the distance
    * evaluations but benched 2-4x SLOWER in the join form (the credit
    * fan-out doubles aggregation input; the disjunctive same-cell predicate
    * rides the hot loop). In the kernel the same idea loses to branch
    * mispredicts and the extra owner-index bookkeeping. */
  def ballCounts(points: DataFrame, d: Double,
                 capAbove: Option[Int] = None): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val d2 = d * d
    // Early-exit cap (guide §1.2 "per-task work"): when the caller only
    // needs balls of size ≤ M exactly (the outlier queries), a point whose
    // count reaches M+1 is already provably a non-outlier, so the kernel
    // stops scanning its remaining candidates. Survivors (count ≤ M) never
    // hit the cap, so their reported ball_size stays EXACT; capped points
    // report M+1 and are dropped by the ≤ M filter exactly as before. With
    // E[candidates] ≫ M this bounds kernel work per resident at
    // O(scan-until-M+1-hits) instead of O(|3x3 occupancy|). None (the
    // default) keeps the exact full counts for every caller that reads ball
    // sizes beyond the threshold (specs, SkewProof).
    val cap = capAbove.map(_ + 1L).getOrElse(Long.MaxValue)
    val w = BlockHalo.width(1)
    val cells = points.select(
        col("id").cast("long").as("id"),
        col("x").cast("double").as("x"), col("y").cast("double").as("y"),
        floor(col("x") / lit(d)).cast("long").as("ci"),
        floor(col("y") / lit(d)).cast("long").as("cj"))
      .filter(col("ci").isNotNull && col("cj").isNotNull)
    BlockHalo.route(cells, col("ci"), col("cj"), halo = 1)
      .select(
        // the block packs into one long (blk_i<<32 | blk_j), collision-free
        // while cell indices fit 32 bits; a loud guard instead of a silent
        // block merge past that
        when(abs(col("ci")) < lit(1L << 31) && abs(col("cj")) < lit(1L << 31),
          shiftleft(col("blk_i"), 32).bitwiseOR(col("blk_j").bitwiseAND(lit(0xffffffffL))))
          .otherwise(raise_error(lit(
            "ExactOutliers: cell index exceeds 32 bits (coordinate/D >= 2^31) — " +
              "the packed block key would collide; use a larger D or rescale"))).as("blk"),
        col("loc"), col("id"), col("x"), col("y"))
      .repartition(col("blk"))
      .as[(Long, Int, java.lang.Long, Double, Double)]
      .mapPartitions { it =>
        // a block's rows: its own cells' points and its halo; residents are
        // the own-cell rows that carry an id
        final class Block {
          val loc = scala.collection.mutable.ArrayBuilder.make[Int]
          val x = scala.collection.mutable.ArrayBuilder.make[Double]
          val y = scala.collection.mutable.ArrayBuilder.make[Double]
          val id = scala.collection.mutable.ArrayBuilder.make[Long]
          val res = scala.collection.mutable.ArrayBuilder.make[Boolean]
        }
        val blocks = new scala.collection.mutable.LongMap[Block]
        it.foreach { case (blk, loc, id, x, y) =>
          var b = blocks.getOrNull(blk)
          if (b == null) { b = new Block; blocks.update(blk, b) }
          val resident = id != null && BlockHalo.owned(loc, 1)
          b.loc += loc; b.x += x; b.y += y
          b.id += (if (resident) id.longValue() else 0L); b.res += resident
        }
        blocks.valuesIterator.flatMap { b =>
          val loc = b.loc.result(); val x = b.x.result(); val y = b.y.result()
          val id = b.id.result(); val res = b.res.result()
          // counting sort by cell: cell c's rows are start(c) until
          // start(c+1), and a window row's three cells are adjacent locs
          val start = new Array[Int](w * w + 1)
          loc.foreach(c => start(c + 1) += 1)
          var c = 1
          while (c <= w * w) { start(c) += start(c - 1); c += 1 }
          val next = java.util.Arrays.copyOf(start, w * w)
          val sx = new Array[Double](loc.length); val sy = new Array[Double](loc.length)
          val sid = new Array[Long](loc.length); val sres = new Array[Boolean](loc.length)
          var k = 0
          while (k < loc.length) {
            val p = next(loc(k)); next(loc(k)) = p + 1
            sx(p) = x(k); sy(p) = y(k); sid(p) = id(k); sres(p) = res(k)
            k += 1
          }
          val outId = scala.collection.mutable.ArrayBuilder.make[Long]
          val outCnt = scala.collection.mutable.ArrayBuilder.make[Long]
          c = 0
          while (c < w * w) {
            // the cell's residents share one copy of its 3x3 window
            var wx: Array[Double] = null; var wy: Array[Double] = null
            k = start(c)
            while (k < start(c + 1)) {
              if (sres(k)) {
                if (wx == null) { wx = window(sx, start, c, w); wy = window(sy, start, c, w) }
                outId += sid(k); outCnt += ballCount(sx(k), sy(k), wx, wy, d2, cap)
              }
              k += 1
            }
            c += 1
          }
          outId.result().iterator.zip(outCnt.result().iterator)
        }
      }
      .toDF("id", "cnt")
      .groupBy(col("id"))
      .agg(sum(col("cnt")).as("ball_size"))
  }

  /** The points of cell `c`'s 3x3 window in a block counting-sorted by
    * cell (`start` as in [[ballCounts]]): three runs of three adjacent
    * cells, copied into one array. */
  private def window(s: Array[Double], start: Array[Int], c: Int, w: Int): Array[Double] = {
    val out = new Array[Double]((-1 to 1).map(di => start(c + di * w + 2) - start(c + di * w - 1)).sum)
    var o = 0
    for (di <- -1 to 1) {
      val from = start(c + di * w - 1); val n = start(c + di * w + 2) - from
      System.arraycopy(s, from, out, o, n)
      o += n
    }
    out
  }

  /** How many points of (wx, wy) lie within √d2 of (px, py), counting up
    * to `cap`. A small method over whole arrays, so the JIT compiles it
    * with its bounds checks hoisted: the same loop over sub-ranges, inlined
    * in the kernel, made SkewProof's hot-cell task 1.4× slower
    * (BASELINE.md). */
  private def ballCount(px: Double, py: Double, wx: Array[Double], wy: Array[Double],
                        d2: Double, cap: Long): Long = {
    var n = 0L
    var i = 0
    while (i < wx.length && n < cap) {
      val dx = px - wx(i); val dy = py - wy(i)
      if (dx * dx + dy * dy <= d2) n += 1L
      i += 1
    }
    n
  }

  /** Equi-join form of [[ballCounts]] — the AQE-skew-eligible alternative
    * the kernel doc references. Candidate pairs exist as ROWS (resident ⨝
    * probe on the cell key, then the same inclusive dist² filter and a
    * per-id count), so Spark's AQE skew-join can split a hot cell's pair
    * volume across tasks, where the kernel serializes that cell in one
    * task. On organic fixtures the kernel wins ~4x (loop iterations beat
    * materialized rows); past a single-cell pair share of the total this
    * form wins — `graft.SkewProof` measures both on a deliberate hot-cell
    * fixture and BASELINE.md records the crossover. Results are
    * bit-identical (same expression shapes). */
  def ballCountsJoin(points: DataFrame, d: Double): DataFrame = {
    val bucketed = points.select(
      col("id").cast("long").as("id"),
      col("x").cast("double").as("x"), col("y").cast("double").as("y"),
      floor(col("x") / lit(d)).cast("long").as("bi"),
      floor(col("y") / lit(d)).cast("long").as("bj"))
    val probes = bucketed
      .select(col("x").as("px"), col("y").as("py"), col("bi"), col("bj"),
        explode(typedlit(offsets3x3)).as("o"))
      .select((col("bi") + col("o._1")).as("pi"),
        (col("bj") + col("o._2")).as("pj"), col("px"), col("py"))
    bucketed.join(probes,
        col("bi") === col("pi") && col("bj") === col("pj"))
      .filter((col("x") - col("px")) * (col("x") - col("px")) +
        (col("y") - col("py")) * (col("y") - col("py")) <= lit(d * d))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("ball_size"))
  }

  /** Outliers: |B(p,D)| ≤ M (`big_data_computing_1.py:42-44`), first K in
    * ascending (ball_size, id) order (`:48-53`, tie-break made deterministic). */
  def outliers(points: DataFrame, d: Double, m: Int, k: Int): DataFrame =
    ballCounts(points, d, capAbove = Some(m))
      .filter(col("ball_size") <= m)
      .orderBy(col("ball_size").asc, col("id").asc)
      .limit(k)

  /** Total outlier count (`big_data_computing_1.py:46-47`). */
  def outlierCount(points: DataFrame, d: Double, m: Int): DataFrame =
    ballCounts(points, d, capAbove = Some(m))
      .filter(col("ball_size") <= m)
      .agg(count(lit(1)).as("n_outliers"))
}
