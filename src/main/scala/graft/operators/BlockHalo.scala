package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Block-halo routing shared by the two HW1 outlier counts
  * ([[ExactOutliers.ballCounts]], [[GridOutliers.neighborStats]]).
  *
  * Cell (i, j) belongs to the block (i >> 4, j >> 4) of `Side` × `Side`
  * cells. A kernel that reads the window of `halo` cells around each cell
  * of a block also needs the ring of `halo` cells around the block, so each
  * cell row goes to its own block and to every neighbour block whose ring
  * covers it: one copy for a cell at least `halo` cells from every block
  * edge, at most four at a corner, ≈ (1 + 2·halo/Side)² on average. One
  * hash exchange on the block then puts everything a block's kernel reads
  * in one partition.
  *
  * In its target block a copy sits at local (li, lj) ∈ [-halo, Side+halo)²,
  * addressed row-major as `loc = (li+halo)·width + (lj+halo)`, so the cells
  * of a window row are adjacent locs. Only the cell index's low four bits
  * enter `loc`, and the block index is the index shifted right, so routing
  * puts no bound on the cell index.
  */
private[operators] object BlockHalo {
  private val Shift = 4

  /** Block side in cells: a power of two, so block index and in-block
    * offset are an arithmetic shift and a mask (floor semantics for
    * negative cells). Run time was flat across sides 8 to 64 on the
    * geo_batch points. */
  val Side: Int = 1 << Shift

  def width(halo: Int): Int = Side + 2 * halo

  /** Whether `loc` (in a frame with a `halo` ring) is one of the block's
    * own cells rather than a ring copy. */
  def owned(loc: Int, halo: Int): Boolean = {
    val w = width(halo)
    val li = loc / w - halo; val lj = loc % w - halo
    li >= 0 && li < Side && lj >= 0 && lj < Side
  }

  /** Cell index of an owned local coordinate of block `blk`. */
  def cell(blk: Long, local: Int): Long = (blk << Shift) + local

  /** `df` with one row per block that reads the cell (`i`, `j`) and three
    * more columns: the target block `blk_i`, `blk_j` and the copy's `loc`.
    * A row whose cell index is null keeps one copy, with a null block and
    * `loc` -1. */
  def route(df: DataFrame, i: Column, j: Column, halo: Int): DataFrame = {
    val w = width(halo)
    // block offsets that read a cell at in-block offset l on one axis; a
    // cell with a null index has no neighbours, so its row keeps one copy
    val keyed = i.isNotNull && j.isNotNull
    def readers(l: Column) =
      when(keyed && l < halo, array(lit(-1), lit(0)))
        .when(keyed && l >= Side - halo, array(lit(0), lit(1)))
        .otherwise(array(lit(0)))
    val li = i.bitwiseAND(lit(Side - 1L)); val lj = j.bitwiseAND(lit(Side - 1L))
    df.withColumn("_di", explode(readers(li)))
      .withColumn("_dj", explode(readers(lj)))
      .withColumn("blk_i", shiftright(i, Shift) + col("_di"))
      .withColumn("blk_j", shiftright(j, Shift) + col("_dj"))
      .withColumn("loc", coalesce(
        ((li - col("_di") * Side + halo) * w + (lj - col("_dj") * Side + halo)).cast("int"),
        lit(-1)))
      .drop("_di", "_dj")
  }
}
