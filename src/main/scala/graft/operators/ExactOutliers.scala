package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact (D,M)-outlier detection (SURVEY.md §2.9 C1, §2.3 J1).
  *
  * Reference: `ExactOutliers` at `big_data_computing_1.py:30-53` — a
  * driver-side O(n²) nested loop, gated to n ≤ 200,000 (`:178`). Rebuilt as a
  * distributed grid-bucketed distance self-join: points are bucketed into
  * cells of side D, each point probes its 3x3 cell neighborhood (any point
  * within distance D lies in an adjacent cell), and the join is a plain
  * equi-join on cell keys that Catalyst executes as a shuffled hash / sort-merge
  * join — never a cartesian. Pair count is n · E[ball size], not n², so the
  * plan survives 100x scale-up; skewed cells are handled by AQE skew-join.
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
    * Shape: each point is replicated to the 9 cells of its 3x3 neighborhood
    * (any point within D of a cell lies in an adjacent cell), replicas headed
    * for unoccupied cells are dropped before the shuffle, ONE hash exchange
    * co-locates each cell's residents with every replica that can reach it,
    * and a per-partition kernel counts `dist² ≤ D²` matches in tight loops
    * over primitive double arrays. Shuffle volume is ≤ 9·n fixed-width rows
    * (≈3·n after pruning) regardless of ball sizes; the n·E[ball] candidate
    * pairs (104M at sf0.1) exist only as loop iterations inside the kernel,
    * never as materialized rows — that's the genuine per-partition-imperative
    * case, and it benched ~4x faster than the equivalent equi-join +
    * 104M-row filter/aggregate plan. AQE can't rebalance a skewed cell here,
    * but a cell's work is bounded by geometry (≤ |cell|·|3x3 occupancy|) and
    * cells hash-spread across partitions. Measured under DELIBERATE skew
    * (`graft.SkewProof`, one 100k-point hot cell = 1e10 intra-cell pairs):
    * kernel 16.5 s / 12 s max task vs [[ballCountsJoin]] 124.6 s / 68 s max
    * task — AQE skew-join never fires because its detection is INPUT-bytes
    * based (the hot partition is ~4 MB, far under the 256 MB threshold)
    * while the blow-up is join OUTPUT; even force-split at a 1 MB threshold
    * the join form loses 5x (74.6 s / 46 s max task). The join form would
    * win only when one cell holds input bytes past AQE's splitter AND the
    * rest of the table is idle-parallel — at which point the right fix is a
    * smaller D (cell geometry) or salting the kernel's cell key, not rows.
    *
    * The distance predicate keeps the oracle's exact expression shape —
    * `(x-ox)*(x-ox)+(y-oy)*(y-oy) <= d*d`, same IEEE multiply/add order — so
    * results stay bit-identical to the SQL twin. Duplicate ids merge in a
    * final |points|-row sum, matching the oracle's GROUP BY id.
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
    // Early-exit cap (optimization r14, guide §1.2 "per-task work"): when
    // the caller only needs balls of size ≤ M exactly (the outlier
    // queries), a point whose PER-CELL partial reaches M+1 is already
    // provably a non-outlier (its cross-cell total is ≥ M+1 > M), so the
    // kernel stops scanning that point's remaining candidates. Survivors
    // (total ≤ M) never hit the cap in any cell, so their partials — and
    // the reported ball_size — stay EXACT; capped points sum to ≥ M+1 and
    // are dropped by the ≤ M filter exactly as before. With E[candidates]
    // ≫ M this bounds kernel work per resident at O(scan-until-M+1-hits)
    // instead of O(|3x3 occupancy|) — the denser the cell, the bigger the
    // cut. None (the default) keeps the exact full counts for every
    // caller that reads ball sizes beyond the threshold (specs,
    // SkewProof).
    val cap = capAbove.map(_ + 1L).getOrElse(Long.MaxValue)
    val bucketed = points.select(
      col("id").cast("long").as("id"),
      col("x").cast("double").as("x"), col("y").cast("double").as("y"),
      floor(col("x") / lit(d)).cast("long").as("bi"),
      floor(col("y") / lit(d)).cast("long").as("bj"))
    val replicas = bucketed
      .select(col("id"), col("x"), col("y"), col("bi"), col("bj"),
        explode(typedlit(offsets3x3)).as("o"))
      .select(
        (col("bi") + col("o._1")).as("pi"),
        (col("bj") + col("o._2")).as("pj"),
        (col("o._1") === 0 && col("o._2") === 0).as("own"),
        col("id"), col("x"), col("y"))
    // Occupied-cell pruning (measured ~2/3 of replica rows on this fixture's
    // integer-x grid): a replica headed for an empty cell can never be
    // probed, so a broadcast semi-join against the occupied-cell directory
    // drops it BEFORE the shuffle. The directory is |occupied cells| ≈
    // covered-area/D² — bounded by data geometry, not row count, so it stays
    // broadcastable for any clustered dataset; only near-uniform sparsity,
    // where |cells| → |points|, grows it toward the point count. A point's
    // own-cell replica always survives (its cell is occupied by itself).
    replicas.join(
        broadcast(bucketed.select(col("bi").as("ci"), col("bj").as("cj")).distinct()),
        col("pi") === col("ci") && col("pj") === col("cj"), "left_semi")
      // slim the shuffle row to (packed cell key, nullable id, x, y): the
      // probe cell packs into one long (bi<<32 | bj — collision-free while
      // cell indices fit 32 bits, i.e. coordinate/D < 2^31) and the `own`
      // flag rides id's nullability (only own replicas carry an id at all),
      // cutting ~1/3 of the exchange bytes of the suite's largest shuffle
      .select(
        // loud guard instead of a silent cell merge: packing is only
        // collision-free while cell indices fit 32 bits (coordinate/D < 2^31)
        when(abs(col("pi")) < lit(1L << 31) && abs(col("pj")) < lit(1L << 31),
          shiftleft(col("pi"), 32).bitwiseOR(col("pj").bitwiseAND(lit(0xffffffffL))))
          .otherwise(raise_error(lit(
            "ExactOutliers: cell index exceeds 32 bits (coordinate/D >= 2^31) — " +
              "the packed cell key would collide; use a larger D or rescale"))).as("k"),
        when(col("own"), col("id")).as("oid"), col("x"), col("y"))
      .repartition(col("k"))
      .as[(Long, java.lang.Long, Double, Double)]
      .mapPartitions { it =>
        // per-cell buffers: residents (id,x,y — the `own` replicas) and every
        // replica reaching the cell (x,y only; includes the residents' own)
        final class Cell {
          val oid = scala.collection.mutable.ArrayBuilder.make[Long]
          val ox = scala.collection.mutable.ArrayBuilder.make[Double]
          val oy = scala.collection.mutable.ArrayBuilder.make[Double]
          val cx = scala.collection.mutable.ArrayBuilder.make[Double]
          val cy = scala.collection.mutable.ArrayBuilder.make[Double]
        }
        // open-addressed LongMap on the packed key: the earlier
        // java.util.HashMap keyed on a boxed (Long, Long) allocated a tuple
        // + two boxed longs per probed row on 32 threads — pure GC churn
        val cells = new scala.collection.mutable.LongMap[Cell](1 << 10)
        it.foreach { case (key, boxedId, x, y) =>
          var c = cells.getOrNull(key)
          if (c == null) { c = new Cell; cells.update(key, c) }
          c.cx += x; c.cy += y
          if (boxedId != null) { c.oid += boxedId.longValue(); c.ox += x; c.oy += y }
        }
        cells.valuesIterator.flatMap { c =>
          val oid = c.oid.result(); val ox = c.ox.result(); val oy = c.oy.result()
          val cx = c.cx.result(); val cy = c.cy.result()
          (0 until oid.length).iterator.map { k =>
            val x = ox(k); val y = oy(k)
            var cnt = 0L
            var i = 0
            while (i < cx.length && cnt < cap) {
              val dx = x - cx(i); val dy = y - cy(i)
              if (dx * dx + dy * dy <= d2) cnt += 1L
              i += 1
            }
            (oid(k), cnt)
          }
        }
      }
      .toDF("id", "cnt")
      .groupBy(col("id"))
      .agg(sum(col("cnt")).as("ball_size"))
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
