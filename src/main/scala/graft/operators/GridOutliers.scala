package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MRApproxOutliers, Spark-native (SURVEY.md §2.9 C2).
  *
  * Reference: `big_data_computing_1.py:78-114` (HW1 variant with random-key
  * 2-round aggregation) and `big_data_computing_2.py:84-113` (HW2 variant with
  * a hand-rolled mapPartitions combiner). Both collapse here into declarative
  * DataFrame aggregations: Catalyst's HashAggregateExec already performs
  * partial (map-side) + final aggregation, so the reference's manual
  * MapReduce-round discipline is deleted rather than ported (SURVEY.md §4).
  *
  * The driver-side `collectAsMap` + closure-captured dict used for the 3x3/7x7
  * neighborhood sums (`big_data_computing_1.py:87,91-96`) is replaced by a
  * block-halo kernel (SURVEY.md §2.3 J2): the cell table is routed to blocks
  * of cells with a 3-cell halo and each block answers its own cells'
  * windows from a prefix sum over its cells. Fully distributed, no
  * point-scale data ever crosses to the driver, and the plan survives a
  * 100x scale-up where the collected map would OOM the driver.
  */
object GridOutliers {

  /** Grid side Λ = D / (2·√2) (`big_data_computing_1.py:62`). Must be written
    * identically in the DuckDB oracle (`D / (2 * SQRT(2))`) for bit equality. */
  def lambda(d: Double): Double = d / (2.0 * math.sqrt(2.0))

  /** Cell assignment (`big_data_computing_1.py:54-65`): i = ⌊x/Λ⌋, j = ⌊y/Λ⌋.
    * `floor`, never an integer cast: Python `//` floors toward −∞, Scala
    * `.toLong` truncates toward 0 and would mis-bucket negative coordinates
    * (SURVEY.md §7.3.1). */
  def cellify(points: DataFrame, d: Double): DataFrame = {
    val lam = lambda(d)
    points
      .withColumn("i", floor(col("x") / lit(lam)).cast("long"))
      .withColumn("j", floor(col("y") / lit(lam)).cast("long"))
  }

  /** Per-cell counts (`big_data_computing_1.py:80-83` A1/A2): one built-in
    * partial+final hash aggregation replaces the reference's 2-round dance. */
  def cellCounts(points: DataFrame, d: Double): DataFrame =
    cellify(points, d).groupBy("i", "j").agg(count(lit(1)).as("size"))

  /** N3/N7 neighborhood sums (`big_data_computing_1.py:91-98` A3/J2), one
    * row per non-empty cell: (i, j, size, n3, n7). A cell with a null index
    * has no neighborhood and no row. */
  def neighborStats(cells: DataFrame): DataFrame =
    neighborhoods(cells).filter(col("i").isNotNull && col("j").isNotNull)

  /** [[neighborStats]] plus one row (null, null, size, null, null) per cell
    * with a null index, so that [[summary]] counts every point from the
    * same pass.
    *
    * Each cell row goes to its block of [[BlockHalo.Side]]² cells and to
    * the neighbour blocks whose 3-cell ring covers it ([[BlockHalo]]); ONE
    * hash exchange on the two block-index columns co-locates a block with
    * its ring, and each own cell reads N3 and N7 as 3 and 7 range sums of
    * the block's size prefix over the cells. That state is bounded per
    * block at any scale, and the cell index is never packed, so it keeps
    * its full 64-bit range. */
  private def neighborhoods(cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    BlockHalo.route(cells, col("i"), col("j"))
      .select(col("blk_i"), col("blk_j"), col("loc"), col("size").cast("long"))
      .repartition(col("blk_i"), col("blk_j"))
      .as[(java.lang.Long, java.lang.Long, Int, Long)]
      .mapPartitions { it =>
        val none: java.lang.Long = null
        val (unkeyed, keyed) = it.toArray.partition(r => r._1 == null || r._2 == null)
        unkeyed.iterator.map(r => (none, none, r._4, none, none)) ++
          BlockHalo.assemble(keyed.iterator)(r => (r._1.longValue, r._2.longValue), _._3, _._4)
            .flatMap { b =>
              b.rows.iterator.filter(r => BlockHalo.owned(r._3)).map { case (_, _, loc, size) =>
                (java.lang.Long.valueOf(BlockHalo.cell(b.blkI, loc / BlockHalo.Width - BlockHalo.Halo)),
                  java.lang.Long.valueOf(BlockHalo.cell(b.blkJ, loc % BlockHalo.Width - BlockHalo.Halo)),
                  size, java.lang.Long.valueOf(BlockHalo.windowSum(b.prefix, loc, 1)),
                  java.lang.Long.valueOf(BlockHalo.windowSum(b.prefix, loc, 3)))
              }
            }
      }
      .toDF("i", "j", "size", "n3", "n7")
  }

  private def classify(stats: DataFrame, m: Int): DataFrame =
    stats
      .withColumn("sure_outlier", col("n3") <= m && col("n7") <= m)
      .withColumn("uncertain", col("n3") <= m && col("n7") > m)

  /** Cell stats + sure/uncertain classification (P5/P6,
    * `big_data_computing_1.py:101-103`). */
  def classifiedCells(points: DataFrame, d: Double, m: Int): DataFrame =
    classify(neighborStats(cellCounts(points, d)), m)

  /** Single-row summary (`big_data_computing_1.py:109-111` A4): total points,
    * points in sure-outlier cells, points in uncertain cells. One distributed
    * pass, vs the reference's two collect()s + driver sums: n_points is the
    * size sum over every cell group, the null-coordinate group included (the
    * oracle's COUNT(*)), which classifies as neither. */
  def summary(points: DataFrame, d: Double, m: Int): DataFrame =
    classify(neighborhoods(cellCounts(points, d)), m).agg(
      coalesce(sum(col("size")), lit(0L)).as("n_points"),
      coalesce(sum(when(col("sure_outlier"), col("size"))), lit(0L)).as("sure_outliers"),
      coalesce(sum(when(col("uncertain"), col("size"))), lit(0L)).as("uncertain_points"))

  /** K smallest non-empty cells (`big_data_computing_1.py:112-114` T2), with
    * the (size, i, j) tie-break made explicit and deterministic — the
    * reference's chained RDD sorts have no stability contract (SURVEY.md §2.6). */
  def topKCells(points: DataFrame, d: Double, k: Int): DataFrame =
    cellCounts(points, d)
      .orderBy(col("size").asc, col("i").asc, col("j").asc)
      .limit(k)
}
