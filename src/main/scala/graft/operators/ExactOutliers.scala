package graft.operators

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact (D,M)-outlier detection (SURVEY.md §2.9 C1, §2.3 J1).
  *
  * Reference: `ExactOutliers` at `big_data_computing_1.py:30-53` — a
  * driver-side O(n²) nested loop, gated to n ≤ 200,000 (`:178`). Rebuilt as a
  * distributed grid-bucketed count: points are bucketed into the Λ-cells
  * of the grid summary ([[GridOutliers]]) and each point scans its 7x7 cell
  * window (any point within distance D lies in it) — never a cartesian.
  * Pair count is n · E[ball size], not n², so the plan survives 100x
  * scale-up.
  *
  * Semantics preserved exactly:
  *  - ball counts are self-inclusive (counts start at 1,
  *    `big_data_computing_1.py:33`): the self-pair (dist 0 ≤ D) stays in.
  *  - distance predicate is inclusive `dist ≤ D` (`:37`), compared in squared
  *    form with the same expression shape as the oracle for bit equality.
  */
object ExactOutliers {

  /** |B(p,D)| per point: (id, ball_size), self-inclusive
    * (`big_data_computing_1.py:33`).
    *
    * Shape: the points take the Λ-cells of [[GridOutliers.cellify]]
    * (Λ = D/(2√2)), the one HW1 grid. Every point within D of p lies in
    * p's 7x7 Λ-window, because 3Λ = 1.06·D; that 6% margin absorbs the
    * rounding of `floor(x / Λ)` and of Λ itself, and the window covers
    * 6.1 D² where a 3x3 window of D-cells covers 9 D². One Spark job does
    * the rest, on the cellified points' own RDD ([[BlockHalo]]): each map
    * task reads its rows through `InternalRow` getters and ships one record
    * of primitive arrays per block (the points of the block and of its
    * 3-cell ring, ≈1.2 copies per point); one hash shuffle puts a block's
    * records in one task, and a kernel counts `dist² ≤ D²` matches in tight
    * loops over primitive double arrays. Inside a block the points are
    * counting-sorted by cell, so a cell's 7x7 window is seven runs of seven
    * adjacent cells, copied once into the arrays its residents scan. The
    * n·E[ball] candidate pairs (104M at sf0.1) exist only as loop
    * iterations inside the kernel, never as materialized rows — the
    * genuine per-partition-imperative case; it benched ~4x faster than the
    * equivalent equi-join + 104M-row filter/aggregate plan. A second hash
    * shuffle of one (ids, counts) record per kernel task and target
    * partition sums the counts of a repeated id, matching the oracle's
    * GROUP BY id. Nothing about a block's work is rebalanced at run time,
    * but it is bounded by geometry (≤ |block|·|7x7 occupancy|) and blocks
    * hash-spread across partitions. Measured under DELIBERATE skew
    * (`graft.SkewProof`, one 100k-point hot D-cell = 1e10 intra-cell pairs,
    * 4 vCPUs, BASELINE.md): kernel 18 s / 16 s max task (that cell's loop)
    * vs [[ballCountsJoin]] 224 s / 192 s max task — AQE skew-join never
    * fires because its detection is INPUT-bytes based (the hot partition is
    * ~4 MB, far under the 256 MB threshold) while the blow-up is join
    * OUTPUT; even force-split at a 1 MB threshold the join form lost 5x.
    * The join form would win only when one cell holds input bytes past
    * AQE's splitter AND the rest of the table is idle-parallel — at which
    * point the right fix is a smaller D (cell geometry), not rows.
    *
    * Taking the cellified points' RDD executes their plan when this
    * DataFrame is built: an exchange in it, such as the `Sources.spread`
    * repartition of `q_exact_outliers`, runs then as a job of its own. The
    * tails of [[outliers]] and [[outlierCount]] stay Catalyst plans over
    * the returned DataFrame.
    *
    * The distance predicate keeps the oracle's exact expression shape —
    * `(x-ox)*(x-ox)+(y-oy)*(y-oy) <= d*d`, same IEEE multiply/add order — so
    * results stay bit-identical to the SQL twin. A point with a null
    * coordinate has no cell and no row; a point with a null id counts in
    * its neighbours' balls but has no row of its own. The block index is
    * never packed, so the cell index keeps its full 64-bit range.
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
    // Early-exit cap (guide §1.2 "per-task work"): when the caller only
    // needs balls of size ≤ M exactly (the outlier queries), a point whose
    // count reaches M+1 is already provably a non-outlier, so the kernel
    // stops scanning its remaining candidates. Survivors (count ≤ M) never
    // hit the cap, so their reported ball_size stays EXACT; capped points
    // report M+1 and are dropped by the ≤ M filter exactly as before. With
    // E[candidates] ≫ M this bounds kernel work per resident at
    // O(scan-until-M+1-hits) instead of O(|7x7 occupancy|). None (the
    // default) keeps the exact full counts for every caller that reads ball
    // sizes beyond the threshold (specs, SkewProof).
    val cap = capAbove.map(_ + 1L).getOrElse(Long.MaxValue)
    val cells = GridOutliers.cellify(points.select(
        col("id").cast("long").as("id"),
        col("x").cast("double").as("x"), col("y").cast("double").as("y")), d)
      .select("id", "x", "y", "i", "j")
    val n = BlockHalo.partitions(spark)
    val counts = BlockHalo.shuffle(cells.queryExecution.toRdd.mapPartitions(new RoutePoints), n)(
        new CountBalls(d * d, cap, n))
      .partitionBy(new HashPartitioner(n))
      .mapPartitions(new SumById)
    spark.createDataFrame(counts, StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("ball_size", LongType, nullable = false))))
  }

  /** One map task's copies of the points for one block, column by column;
    * `hasId` is false for a point with a null id. */
  private final class PointRun(val locs: Array[Int], val ids: Array[Long], val hasId: Array[Boolean],
                               val xs: Array[Double], val ys: Array[Double]) extends Serializable

  /** Rows (id, x, y, i, j) to one [[PointRun]] per block; a row with a null
    * cell index has no copy. A named class, not a lambda: `SparkContext.clean`
    * reads a lambda's enclosing class file with ASM on every job. */
  private final class RoutePoints
      extends (Iterator[InternalRow] => Iterator[((Long, Long), PointRun)]) with Serializable {
    private final class Builder {
      val locs = new mutable.ArrayBuilder.ofInt; val ids = new mutable.ArrayBuilder.ofLong
      val hasId = new mutable.ArrayBuilder.ofBoolean
      val xs = new mutable.ArrayBuilder.ofDouble; val ys = new mutable.ArrayBuilder.ofDouble
      def result() = new PointRun(locs.result(), ids.result(), hasId.result(), xs.result(), ys.result())
    }

    def apply(rows: Iterator[InternalRow]): Iterator[((Long, Long), PointRun)] = {
      val blocks = mutable.HashMap.empty[(Long, Long), Builder]
      rows.foreach { r =>
        if (!r.isNullAt(3) && !r.isNullAt(4)) {
          val hasId = !r.isNullAt(0)
          val id = if (hasId) r.getLong(0) else 0L
          val x = r.getDouble(1); val y = r.getDouble(2)
          BlockHalo.copies(r.getLong(3), r.getLong(4), (bi, bj, loc) => {
            val b = blocks.getOrElseUpdate((bi, bj), new Builder)
            b.locs += loc; b.ids += id; b.hasId += hasId; b.xs += x; b.ys += y
          })
        }
      }
      blocks.iterator.map { case (blk, b) => blk -> b.result() }
    }
  }

  /** Per partition: the ball counts of each block's own points, as one
    * (ids, counts) record per target partition of the id merge. */
  private final class CountBalls(d2: Double, cap: Long, partitions: Int)
      extends (Iterator[((Long, Long), PointRun)] => Iterator[(Int, (Array[Long], Array[Long]))])
      with Serializable {
    def apply(records: Iterator[((Long, Long), PointRun)]): Iterator[(Int, (Array[Long], Array[Long]))] = {
      val ids = Array.fill(partitions)(new mutable.ArrayBuilder.ofLong)
      val counts = Array.fill(partitions)(new mutable.ArrayBuilder.ofLong)
      BlockHalo.byBlock(records).valuesIterator.foreach { runs =>
        // counting sort by loc: cell c's points are start(c) until start(c+1)
        val start = new Array[Long](BlockHalo.Width * BlockHalo.Width + 1)
        runs.foreach(_.locs.foreach(c => start(c + 1) += 1))
        var c = 1
        while (c < start.length) { start(c) += start(c - 1); c += 1 }
        val n = start.last.toInt
        val next = start.map(_.toInt)
        val sloc = new Array[Int](n); val sid = new Array[Long](n); val has = new Array[Boolean](n)
        val sx = new Array[Double](n); val sy = new Array[Double](n)
        runs.foreach { r =>
          var q = 0
          while (q < r.locs.length) {
            val p = next(r.locs(q)); next(r.locs(q)) += 1
            sloc(p) = r.locs(q); sid(p) = r.ids(q); has(p) = r.hasId(q); sx(p) = r.xs(q); sy(p) = r.ys(q)
            q += 1
          }
        }
        // visit the occupied cells only, run by run: most of a block's
        // Width² locs are empty, and a loop over all of them doubled the
        // kernel's task time on the geo_batch points
        var k = 0
        while (k < n) {
          val cell = sloc(k)
          val end = start(cell + 1).toInt
          if (BlockHalo.owned(cell)) {
            // the cell's residents share one copy of its 7x7 window
            val wx = window(sx, start, cell); val wy = window(sy, start, cell)
            while (k < end) {
              if (has(k)) {
                val t = Math.floorMod(java.lang.Long.hashCode(sid(k)), partitions)
                ids(t) += sid(k); counts(t) += ballCount(sx(k), sy(k), wx, wy, d2, cap)
              }
              k += 1
            }
          }
          k = end
        }
      }
      Iterator.range(0, partitions).filter(t => ids(t).length > 0)
        .map(t => t -> (ids(t).result(), counts(t).result()))
    }
  }

  /** Per partition of the id merge: one Row (id, ball_size) per id, its
    * counts summed. */
  private final class SumById extends (Iterator[(Int, (Array[Long], Array[Long]))] => Iterator[Row])
      with Serializable {
    def apply(records: Iterator[(Int, (Array[Long], Array[Long]))]): Iterator[Row] = {
      val sums = mutable.LongMap.empty[Long]
      records.foreach { case (_, (ids, counts)) =>
        var q = 0
        while (q < ids.length) { sums(ids(q)) = sums.getOrElse(ids(q), 0L) + counts(q); q += 1 }
      }
      sums.iterator.map { case (id, n) => Row(id, n) }
    }
  }

  /** The points of cell `c`'s 7x7 window in a block counting-sorted by
    * cell (`start` as in [[ballCounts]]): seven runs of seven adjacent
    * cells, copied into one array centre row first (di = 0, -1, 1, -2, 2,
    * -3, 3). A capped resident then meets its near neighbours before the
    * far rows, which lie mostly beyond D; the count is min(|ball|, cap) in
    * any order. */
  private def window(s: Array[Double], start: Array[Long], c: Int): Array[Double] = {
    val r = BlockHalo.Halo
    val out = new Array[Double](BlockHalo.windowSum(start, c, r).toInt)
    var o = 0
    for (t <- 0 to 2 * r) {
      val di = if (t % 2 == 1) -(t + 1) / 2 else t / 2
      val from = start(c + di * BlockHalo.Width - r).toInt
      val n = start(c + di * BlockHalo.Width + r + 1).toInt - from
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
    * bit-identical (same expression shapes). It keeps its own geometry,
    * D-cells and their 3x3 window, so it checks the kernel's Λ-grid from
    * outside. */
  def ballCountsJoin(points: DataFrame, d: Double): DataFrame = {
    val offsets3x3 = for { di <- -1 to 1; dj <- -1 to 1 } yield (di, dj)
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
