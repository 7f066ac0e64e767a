package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over the embedding table — the trained-centroid
  * counterpart of [[Similarity.annIvf]]'s deterministic coarse quantizer
  * (an LLM-data pipeline uses exactly this to build IVF cells / topic
  * buckets at corpus scale).
  *
  * Execution shape per iteration — the canonical scalable Lloyd step:
  *   1. centers live on the driver (k·d doubles, tiny at any corpus size)
  *      and are embedded as LITERALS in a single narrow projection — the
  *      assignment pass is one codegen'd scan, zero shuffles: per row,
  *      `array_min` over k (dist, cid) structs is the argmin with the
  *      (dist asc, cid asc) tie-break.
  *   2. the centroid update is one partial+final hash aggregation over
  *      |clusters|·dim cells (map-side combine does the heavy lifting), and
  *      only k·d aggregated rows ever reach the driver.
  * Nothing wider than the input ever shuffles, so the plan holds unchanged
  * on a 1000-executor cluster: broadcast-literal centers + one agg per
  * round IS distributed k-means.
  *
  * Determinism (full hash gate vs DuckDB, no pinning needed): init centers
  * are the k lowest vec_ids; distances are the same unrolled left-fold
  * `Σ(vᵢ−cᵢ)²` both engines execute identically (the
  * [[Clustering.minDistToCenters]] discipline); centroids are exact
  * order-independent quantized-integer means (the [[Similarity.labelCentroids]]
  * discipline — floor(e·2³⁰) sums in int64, two IEEE divisions back out);
  * the reported cost is likewise an int64 sum of floor(dist·2²⁰). Every
  * driver→literal round trip preserves the exact double, so the oracle can
  * recompute the whole iteration chain from scratch.
  */
object KMeans {

  private val Q30 = 1073741824.0 // 2^30 — centroid quantization
  private val Q20 = 1048576.0 // 2^20 — cost quantization

  /** Argmin assignment against broadcast centers — the
    * [[CenterKernels.assignByL2]] mapPartitions kernel (same strict
    * Σ(vᵢ−cᵢ)² fold and (d asc, cid asc) tie-break as the literal-center
    * `array_min(struct(...))` projection it replaces; see
    * [[CenterKernels]] for why plan literals stop working once k grows
    * with the corpus). Output (vec_id, emb, cid, d). */
  def assign(vecs: DataFrame, centers: Seq[(Long, Array[Double])]): DataFrame =
    CenterKernels.assignByL2(vecs, centers)

  /** Exact order-independent centroid update: per (cid, dim), int64 sums of
    * floor(e·2³⁰), divided back out on the driver — k·d rows collected. */
  private def updateCenters(assigned: DataFrame): Seq[(Long, Array[Double])] = {
    val rows = assigned
      .select(col("cid"), posexplode(col("emb")).as(Seq("dim", "e")))
      .groupBy("cid", "dim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("e") * lit(Q30)).cast("long")).as("qsum"))
      .select(col("cid"), col("dim"),
        ((col("qsum").cast("double") / col("n").cast("double")) / lit(Q30))
          .as("c"))
      .collect()
    rows.groupBy(_.getLong(0)).map { case (cid, rs) =>
      val arr = new Array[Double](rs.map(_.getInt(1)).max + 1)
      rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      (cid, arr)
    }.toSeq.sortBy(_._1)
  }

  /** All-subspace PQ codebook training fused into ONE pass per Lloyd
    * round: a single narrow projection computes every subspace's argmin
    * (m·k loop-codegen'd [[graft.functions.SqDiffSum]] folds per row,
    * explode to one row per (vector, subspace)), and the centroid update
    * is one posexplode + hash-agg over (s, cid, dim) — 2 scans per round
    * total instead of [[trainCenters]]'s 2·m. The math is bit-identical
    * to training each subspace separately: same init rows (the k lowest
    * vec_ids, sliced), same order-free quantized int64 sums, same two
    * IEEE divisions on exactly-represented operands — so the pinned
    * [[graft.PqPins]] oracle literals stay valid (Round7Spec asserts the
    * fused-vs-separate equality). */
  def trainSubCenters(emb: DataFrame, m: Int, subDim: Int, k: Int,
                      iters: Int): Seq[Seq[(Long, Array[Double])]] = {
    val vecs = emb.select(col("vec_id").cast("long").as("vec_id"), col("emb"))
    val init = vecs.filter(col("vec_id") < k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    var books: Seq[Seq[(Long, Array[Double])]] =
      (0 until m).map(s => init.map { case (cid, v) =>
        (cid, v.slice(s * subDim, (s + 1) * subDim))
      })
    val spark = emb.sparkSession
    import spark.implicits._
    var round = 1
    while (round < iters) {
      // all-subspace argmin in ONE mapPartitions pass over broadcast books
      // (the [[CenterKernels]] treatment: same slice, same strict fold,
      // same (d asc, cid asc) tie-break as the literal-book projection)
      val bcBooks = spark.sparkContext.broadcast(books.map(_.toArray).toArray)
      val assigned = vecs
        .select(col("vec_id"), col("emb").cast("array<double>"))
        .as[(Long, Array[Double])]
        .mapPartitions { it =>
          val bks = bcBooks.value
          it.flatMap { case (_, v) =>
            (0 until m).iterator.map { s =>
              val sub = java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)
              val (cid, _) = CenterKernels.nearestByL2(sub, bks(s))
              (s, cid, sub)
            }
          }
        }
        .toDF("s", "cid", "emb")
      val rows = assigned
        .select(col("s"), col("cid"),
          posexplode(col("emb")).as(Seq("dim", "e")))
        .groupBy("s", "cid", "dim")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("e") * lit(Q30)).cast("long")).as("qsum"))
        .select(col("s"), col("cid"), col("dim"),
          ((col("qsum").cast("double") / col("n").cast("double")) / lit(Q30))
            .as("c"))
        .collect()
      // the round's book broadcast is fully consumed by the collect above —
      // release it eagerly instead of waiting for ContextCleaner GC (a long
      // Lloyd loop would otherwise pin every round's books on the executors)
      bcBooks.destroy()
      books = (0 until m).map { s =>
        rows.filter(_.getInt(0) == s).groupBy(_.getLong(1)).map { case (cid, rs) =>
          val arr = new Array[Double](rs.map(_.getInt(2)).max + 1)
          rs.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
          (cid, arr)
        }.toSeq.sortBy(_._1)
      }
      round += 1
    }
    books
  }

  /** The trained center set after `iters` Lloyd rounds (same round counting
    * as [[kmeans]]: iters=1 returns the init centers — the k lowest vec_ids —
    * and each further round applies one exact quantized-integer centroid
    * update). Deterministic end to end, so downstream consumers
    * ([[Similarity.annIvf]]'s coarse quantizer) can pin the result as oracle
    * literals the way `MrfftPins` does. Driver cost is k·d doubles per round
    * — constant in corpus size. */
  def trainCenters(emb: DataFrame, k: Int = 8,
                   iters: Int = 2): Seq[(Long, Array[Double])] = {
    val vecs = emb.select(col("vec_id").cast("long").as("vec_id"), col("emb"))
    var centers: Seq[(Long, Array[Double])] =
      vecs.filter(col("vec_id") < k).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    var round = 1
    while (round < iters) {
      centers = updateCenters(assign(vecs, centers))
      round += 1
    }
    centers
  }

  /** `iters` Lloyd rounds (assignment counted as a round: iters=1 is the
    * pure init-center assignment, iters=2 adds one centroid update) over a
    * (vec_id, emb) table; init centers are the k lowest vec_ids. Output
    * (cid, n, qcost) — cluster sizes and the int64-quantized within-cluster
    * cost, both order-independent. */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val vecs = emb.select(col("vec_id").cast("long").as("vec_id"), col("emb"))
    val centers = trainCenters(emb, k, iters)
    assign(vecs, centers)
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("d") * lit(Q20)).cast("long")).as("qcost"))
      .orderBy("cid")
  }
}
