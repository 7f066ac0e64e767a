package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Block-halo routing shared by the two HW1 outlier counts
  * ([[ExactOutliers.ballCounts]], [[GridOutliers.neighborStats]]), both on
  * the Λ-grid of [[GridOutliers.cellify]].
  *
  * Cell (i, j) belongs to the block (i >> 6, j >> 6) of `Side` × `Side`
  * cells. Both kernels read the 7×7 window around each cell of a block
  * (N7, and every point within D, since 3Λ = 1.06·D), so a block also needs
  * the ring of `Halo` = 3 cells around it: [[copies]] sends each cell to its
  * own block and to every neighbour block whose ring covers it, one copy for
  * a cell at least 3 cells from every block edge, at most four at a corner,
  * ≈ (1 + 6/Side)² = 1.20 on average.
  *
  * Both kernels run on the input's own RDD (`queryExecution.toRdd`): a map
  * task gathers its copies into one record of primitive arrays per block,
  * and one `HashPartitioner` shuffle of [[partitions]] partitions puts a
  * block's records in one kernel task. Being an RDD shuffle inside the
  * kernel DataFrame's lineage, it runs in the job of the action that reads
  * the kernel, and AQE neither plans it as a stage of its own nor
  * coalesces it. Taking the input's RDD executes the input's plan as far as
  * its last exchange when the kernel DataFrame is built, so any exchange
  * the input holds runs then, as a job of its own.
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

  /** The shuffle key of rows whose cell index is null. No block has it: a
    * block index is a cell index shifted right by six, plus or minus one. */
  val NoBlock: (Long, Long) = (Long.MinValue, Long.MinValue)

  /** The name of both kernels' RDDs, so their stages can be found in a
    * listener's stage infos. */
  val KernelName = "block-halo kernel"

  /** Whether `loc` is one of the block's own cells rather than a ring copy. */
  def owned(loc: Int): Boolean = {
    val li = loc / Width - Halo; val lj = loc % Width - Halo
    li >= 0 && li < Side && lj >= 0 && lj < Side
  }

  /** Cell index of an owned local coordinate of block `blk`. */
  def cell(blk: Long, local: Int): Long = (blk << Shift) + local

  /** Receives one block copy of a cell: the target block and the copy's
    * `loc` in it. */
  trait Copy { def apply(blkI: Long, blkJ: Long, loc: Int): Unit }

  /** Calls `to` once per block that reads cell (`i`, `j`). */
  def copies(i: Long, j: Long, to: Copy): Unit = {
    val li = (i & (Side - 1)).toInt; val lj = (j & (Side - 1)).toInt
    // a cell within Halo of a block edge is in the ring of the block past it
    val djFrom = if (lj < Halo) -1 else 0
    val djTo = if (lj >= Side - Halo) 1 else 0
    var di = if (li < Halo) -1 else 0
    while (di <= (if (li >= Side - Halo) 1 else 0)) {
      var dj = djFrom
      while (dj <= djTo) {
        to((i >> Shift) + di, (j >> Shift) + dj,
          (li - di * Side + Halo) * Width + (lj - dj * Side + Halo))
        dj += 1
      }
      di += 1
    }
  }

  /** Partitions of the block shuffle: the session's
    * `spark.sql.shuffle.partitions`. */
  def partitions(spark: SparkSession): Int =
    spark.sessionState.conf.defaultNumShufflePartitions

  /** `kernel` over the blocks of `records`, one map task's record per
    * block: the one shuffle that puts a block's records in one task. */
  def shuffle[R: ClassTag, U: ClassTag](records: RDD[((Long, Long), R)], partitions: Int)(
      kernel: Iterator[((Long, Long), R)] => Iterator[U]): RDD[U] =
    records.partitionBy(new HashPartitioner(partitions)).mapPartitions(kernel).setName(KernelName)

  /** A partition's records grouped by block. */
  def byBlock[R](records: Iterator[((Long, Long), R)]): mutable.HashMap[(Long, Long), mutable.ArrayBuffer[R]] = {
    val blocks = mutable.HashMap.empty[(Long, Long), mutable.ArrayBuffer[R]]
    records.foreach { case (b, r) => blocks.getOrElseUpdate(b, mutable.ArrayBuffer.empty[R]) += r }
    blocks
  }

  /** Weight of the (2r+1)² window centred on loc `c`, where `prefix(c)` is
    * the weight at locs below c: one range per row. */
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
