package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Block-halo routing and block assembly shared by the two HW1 outlier
  * counts ([[ExactOutliers.ballCounts]], [[GridOutliers.neighborStats]]),
  * both on the Λ-grid of [[GridOutliers.cellify]].
  *
  * Cell (i, j) belongs to the block (i >> 6, j >> 6) of `Side` × `Side`
  * cells. Both kernels read the 7×7 window around each cell of a block
  * (N7, and every point within D, since 3Λ = 1.06·D), so a block also needs
  * the ring of `Halo` = 3 cells around it: each cell row goes to its own
  * block and to every neighbour block whose ring covers it, one copy for a
  * cell at least 3 cells from every block edge, at most four at a corner,
  * ≈ (1 + 6/Side)² = 1.20 on average. One hash exchange on (`blk_i`,
  * `blk_j`) then puts everything a block's kernel reads in one partition.
  *
  * In its target block a copy sits at local (li, lj) ∈ [-3, Side+3)²,
  * addressed row-major as `loc = (li+3)·Width + (lj+3)`, so the cells of a
  * window row are adjacent locs. Only the cell index's low six bits enter
  * `loc`, and the block index is the index shifted right, so routing puts no
  * bound on the cell index.
  */
private[operators] object BlockHalo {
  private val Shift = 6

  /** Block side in cells: a power of two, so block index and in-block
    * offset are an arithmetic shift and a mask (floor semantics for
    * negative cells). The ring's copies shrink with the side: on the
    * geo_batch points a side of 16 shipped 1.88 rows per point and the
    * exact kernel's task, mostly spent reading those rows, took 1.3× the
    * time it takes at 64, with 1.15 rows per point (BASELINE.md). */
  val Side: Int = 1 << Shift

  /** Ring width in cells: the radius of the 7×7 window. */
  val Halo: Int = 3

  val Width: Int = Side + 2 * Halo

  /** Whether `loc` is one of the block's own cells rather than a ring copy. */
  def owned(loc: Int): Boolean = {
    val li = loc / Width - Halo; val lj = loc % Width - Halo
    li >= 0 && li < Side && lj >= 0 && lj < Side
  }

  /** Cell index of an owned local coordinate of block `blk`. */
  def cell(blk: Long, local: Int): Long = (blk << Shift) + local

  /** `df` with one row per block that reads the cell (`i`, `j`) and three
    * more columns: the target block `blk_i`, `blk_j` and the copy's `loc`.
    * A row whose cell index is null keeps one copy, with a null block and
    * `loc` -1. */
  def route(df: DataFrame, i: Column, j: Column): DataFrame = {
    // block offsets that read a cell at in-block offset l on one axis; a
    // cell with a null index has no neighbours, so its row keeps one copy
    val keyed = i.isNotNull && j.isNotNull
    def readers(l: Column) =
      when(keyed && l < Halo, array(lit(-1), lit(0)))
        .when(keyed && l >= Side - Halo, array(lit(0), lit(1)))
        .otherwise(array(lit(0)))
    val li = i.bitwiseAND(lit(Side - 1L)); val lj = j.bitwiseAND(lit(Side - 1L))
    df.withColumn("_di", explode(readers(li)))
      .withColumn("_dj", explode(readers(lj)))
      .withColumn("blk_i", shiftright(i, Shift) + col("_di"))
      .withColumn("blk_j", shiftright(j, Shift) + col("_dj"))
      .withColumn("loc", coalesce(
        ((li - col("_di") * Side + Halo) * Width + (lj - col("_dj") * Side + Halo)).cast("int"),
        lit(-1)))
      .drop("_di", "_dj")
  }

  /** One block's routed rows and the prefix sum of their weights over
    * `loc`: `prefix(c)` is the weight of the rows at locs below c, so the
    * adjacent locs [a, b) weigh `prefix(b) - prefix(a)`. With weight 1 per
    * row, `prefix(c)` is where cell c's rows start in `loc` order. */
  final class Block[T](val blkI: Long, val blkJ: Long, val rows: Array[T], val prefix: Array[Long])

  /** A partition's routed rows grouped into [[Block]]s. Every row of
    * `rows` is read before this returns. */
  def assemble[T: ClassTag](rows: Iterator[T])(blk: T => (Long, Long), loc: T => Int,
                                              weight: T => Long): Iterator[Block[T]] = {
    val byBlock = mutable.HashMap.empty[(Long, Long), mutable.ArrayBuilder[T]]
    rows.foreach(r => byBlock.getOrElseUpdate(blk(r), mutable.ArrayBuilder.make[T]) += r)
    byBlock.iterator.map { case ((bi, bj), b) =>
      val rs = b.result()
      val prefix = new Array[Long](Width * Width + 1)
      rs.foreach(r => prefix(loc(r) + 1) += weight(r))
      var c = 1
      while (c < prefix.length) { prefix(c) += prefix(c - 1); c += 1 }
      new Block(bi, bj, rs, prefix)
    }
  }

  /** Weight of the (2r+1)² window centred on loc `c`: one range per row. */
  def windowSum(prefix: Array[Long], c: Int, r: Int): Long = {
    var s = 0L
    var di = -r
    while (di <= r) {
      s += prefix(c + di * Width + r + 1) - prefix(c + di * Width - r)
      di += 1
    }
    s
  }
}
