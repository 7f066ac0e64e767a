package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** MRApproxOutliers, Spark-native (SURVEY.md §2.9 C2).
  *
  * Reference: `big_data_computing_1.py:78-114` (HW1 variant with random-key
  * 2-round aggregation) and `big_data_computing_2.py:84-113` (HW2 variant with
  * a hand-rolled mapPartitions combiner). The cell table collapses here
  * into one declarative aggregation ([[cellCounts]]): Catalyst's
  * HashAggregateExec already performs partial (map-side) + final
  * aggregation, so the reference's manual MapReduce-round discipline is
  * deleted rather than ported (SURVEY.md §4).
  *
  * The driver-side `collectAsMap` + closure-captured dict used for the 3x3/7x7
  * neighborhood sums (`big_data_computing_1.py:87,91-96`) is replaced by a
  * block-halo kernel (SURVEY.md §2.3 J2): weighted cells, or the points
  * themselves with weight 1, are routed to blocks of cells with a 3-cell
  * halo, and each block answers its own cells' windows from a prefix sum
  * over its cells. Fully distributed, no point-scale data ever crosses to
  * the driver, and the plan survives a 100x scale-up where the collected
  * map would OOM the driver.
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
    * row per non-empty cell: (i, j, size, n3, n7). Rows of one cell merge
    * into one. A cell with a null index has no neighborhood and no row. */
  def neighborStats(cells: DataFrame): DataFrame =
    windowStats(cells.select(col("i").cast("long"), col("j").cast("long"), col("size").cast("long")))
      .filter(col("i").isNotNull && col("j").isNotNull)

  /** The N3/N7 kernel of [[neighborStats]] and [[summary]] over weighted
    * cell rows (i, j, size): one row (i, j, size, n3, n7) per occupied
    * cell, size the cell's summed weight, plus one row (null, null, size,
    * null, null) for the rows with a null index, so that [[summary]] counts
    * every point from the same pass.
    *
    * One Spark job, on the rows' own RDD ([[BlockHalo]]): each map task
    * reads its rows through `InternalRow` getters, sums their weights per
    * (block, loc) the way MRApproxOutliers aggregates cells, and ships one
    * record of primitive arrays per block it touches, a cell going to its
    * block and to the neighbour blocks whose 3-cell ring covers it. One
    * hash shuffle puts a block's records in one task, and each own cell
    * reads N3 and N7 as 3 and 7 range sums of the block's weight prefix
    * over the cells. That state is bounded per block at any scale, and the
    * cell index is never packed, so it keeps its full 64-bit range. Taking
    * the rows' RDD executes their plan when this DataFrame is built, so an
    * exchange in it (the aggregation of [[cellCounts]] for [[neighborStats]])
    * runs then, as a job of its own. */
  private def windowStats(weighted: DataFrame): DataFrame = {
    val spark = weighted.sparkSession
    val stats = BlockHalo.shuffle(weighted.queryExecution.toRdd.mapPartitions(new RouteWeights),
      BlockHalo.partitions(spark))(new NeighborSums)
    spark.createDataFrame(stats, StructType(Seq(
      StructField("i", LongType), StructField("j", LongType),
      StructField("size", LongType, nullable = false),
      StructField("n3", LongType), StructField("n7", LongType))))
  }

  /** Weights summed per loc of one block in one map task, one entry per
    * loc. Under [[BlockHalo.NoBlock]], the one entry at loc -1 holds the
    * weight of the rows with a null index. */
  private final class CellWeights(val locs: Array[Int], val weights: Array[Long]) extends Serializable

  /** Rows (i, j, size) to one [[CellWeights]] per block. A named class, not
    * a lambda: `SparkContext.clean` reads a lambda's enclosing class file
    * with ASM on every job. A null size fails the task. */
  private final class RouteWeights
      extends (Iterator[InternalRow] => Iterator[((Long, Long), CellWeights)]) with Serializable {
    def apply(rows: Iterator[InternalRow]): Iterator[((Long, Long), CellWeights)] = {
      val blocks = mutable.HashMap.empty[(Long, Long), (mutable.ArrayBuilder.ofInt, mutable.ArrayBuilder.ofLong)]
      var unkeyed = 0L
      rows.foreach { r =>
        if (r.isNullAt(2)) throw new NullPointerException("null `size` in an N3/N7 cell row")
        val w = r.getLong(2)
        if (r.isNullAt(0) || r.isNullAt(1)) unkeyed += w
        else BlockHalo.copies(r.getLong(0), r.getLong(1), (bi, bj, loc) => {
          val (locs, weights) = blocks.getOrElseUpdate((bi, bj),
            (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofLong))
          locs += loc; weights += w
        })
      }
      // one entry per loc: sum into a dense scratch, then read the touched
      // locs back in first-touch order and clear them
      val sum = new Array[Long](BlockHalo.Width * BlockHalo.Width)
      val seen = new Array[Boolean](sum.length)
      val keyed = blocks.iterator.map { case (blk, (locB, weightB)) =>
        val locs = locB.result(); val weights = weightB.result()
        val touched = new mutable.ArrayBuilder.ofInt
        var q = 0
        while (q < locs.length) {
          val c = locs(q)
          if (!seen(c)) { seen(c) = true; touched += c }
          sum(c) += weights(q)
          q += 1
        }
        val out = touched.result()
        val ws = out.map { c => val s = sum(c); sum(c) = 0L; seen(c) = false; s }
        blk -> new CellWeights(out, ws)
      }
      keyed ++ (if (unkeyed != 0L) Iterator.single(BlockHalo.NoBlock -> new CellWeights(Array(-1), Array(unkeyed)))
                else Iterator.empty)
    }
  }

  /** Per partition: one Row (i, j, size, n3, n7) per occupied own cell of
    * each block, and the null-index row. */
  private final class NeighborSums extends (Iterator[((Long, Long), CellWeights)] => Iterator[Row])
      with Serializable {
    def apply(records: Iterator[((Long, Long), CellWeights)]): Iterator[Row] =
      BlockHalo.byBlock(records).iterator.flatMap { case ((bi, bj), runs) =>
        if ((bi, bj) == BlockHalo.NoBlock) Iterator.single(Row(null, null, runs.map(_.weights.sum).sum, null, null))
        else {
          // prefix(c): the weight at locs below c
          val prefix = new Array[Long](BlockHalo.Width * BlockHalo.Width + 1)
          runs.foreach(r => r.locs.indices.foreach(q => prefix(r.locs(q) + 1) += r.weights(q)))
          var c = 1
          while (c < prefix.length) { prefix(c) += prefix(c - 1); c += 1 }
          // a loc can come in the records of several map tasks
          val emitted = new Array[Boolean](BlockHalo.Width * BlockHalo.Width)
          val out = mutable.ArrayBuffer.empty[Row]
          runs.foreach(_.locs.foreach { loc =>
            if (BlockHalo.owned(loc) && !emitted(loc)) {
              emitted(loc) = true
              out += Row(BlockHalo.cell(bi, loc / BlockHalo.Width - BlockHalo.Halo),
                BlockHalo.cell(bj, loc % BlockHalo.Width - BlockHalo.Halo),
                prefix(loc + 1) - prefix(loc),
                BlockHalo.windowSum(prefix, loc, 1), BlockHalo.windowSum(prefix, loc, 3))
            }
          })
          out
        }
      }
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
    * pass, vs the reference's two collect()s + driver sums: the points
    * themselves go through the N3/N7 kernel with weight 1 each, so no cell
    * table is built, and n_points is the size sum over every cell group,
    * the null-coordinate group included (the oracle's COUNT(*)), which
    * classifies as neither. */
  def summary(points: DataFrame, d: Double, m: Int): DataFrame =
    classify(windowStats(cellify(points.select(col("x").cast("double").as("x"),
        col("y").cast("double").as("y")), d).select(col("i"), col("j"), lit(1L).as("size"))), m).agg(
      coalesce(sum(col("size")), lit(0L)).as("n_points"),
      coalesce(sum(when(col("sure_outlier"), col("size"))), lit(0L)).as("sure_outliers"),
      coalesce(sum(when(col("uncertain"), col("size"))), lit(0L)).as("uncertain_points"))

  /** K smallest non-empty cells (`big_data_computing_1.py:112-114` T2), with
    * the (size, i, j) tie-break made explicit and deterministic — the
    * reference's chained RDD sorts have no stability contract (SURVEY.md §2.6).
    * A null index sorts last, as in the oracle's `ORDER BY size, i, j`. */
  def topKCells(points: DataFrame, d: Double, k: Int): DataFrame =
    cellCounts(points, d)
      .orderBy(col("size").asc, col("i").asc_nulls_last, col("j").asc_nulls_last)
      .limit(k)
}
