package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** Interval (band / range) join — pairs within a time distance Δ, the second
  * temporal join class Spark lacks natively (alongside [[AsOfJoin]]).
  *
  * A naive `abs(t_a - t_b) <= Δ` theta-join degenerates to a per-key
  * cartesian (Catalyst can only nested-loop an inequality). The scale plan
  * quantizes time into buckets of width Δ: a row in bucket k can only pair
  * with rows in buckets {k-1, k, k+1}, so probing those three buckets turns
  * the band predicate into an equi-join on (key, bucket) — shuffled hash
  * join, pair fan-out bounded by the actual band density, the same trick the
  * outlier grid plays in 2-D space ([[ExactOutliers.ballCountsJoin]]). Each
  * unordered pair is matched exactly once: the probe covers the build row's
  * bucket exactly once, and the `idA < idB` predicate de-duplicates the
  * direction. */
object IntervalJoin {

  /** Pairs of rows (key, t, rowId) with |t_b - t_a| <= delta and
    * rowId_a < rowId_b (ids must be unique). Output: (key, a, b, gap)
    * where gap = t_b - t_a (signed). */
  def within(rows: DataFrame, delta: Long): DataFrame = {
    // exact integer bucket (t is nonnegative micros): double division could
    // round a boundary value into the wrong bucket and silently miss a pair
    val bucketed = rows.select(col("key"), col("t"), col("rowId"),
      expr(s"t div ${delta}L").as("bk"))
    val probes = bucketed
      .select(col("key"), col("t"), col("rowId"), col("bk"),
        explode(typedlit(Seq(-1, 0, 1))).as("o"))
      .select(col("key").as("ka"), col("t").as("ta"), col("rowId").as("a"),
        (col("bk") + col("o")).as("pk"))
    val build = bucketed.select(col("key").as("kb"), col("t").as("tb"),
      col("rowId").as("b"), col("bk"))
    probes
      .join(build.hint("shuffle_hash"),
        col("ka") === col("kb") && col("pk") === col("bk") &&
          col("a") < col("b") &&
          abs(col("tb") - col("ta")) <= lit(delta))
      .select(col("ka").as("key"), col("a"), col("b"),
        (col("tb") - col("ta")).as("gap"))
  }

  /** Driver-contract instance: same-user event pairs within 300 s. */
  def eventPairs(spark: SparkSession, sfDir: String,
                 deltaUs: Long = 300L * 1000000L): DataFrame =
    within(
      Sources.events(spark, sfDir)
        .select(col("user_id").as("key"), expr("ts div 1000").as("t"),
          col("event_id").as("rowId")),
      deltaUs)
      .select(col("key").as("user_id"), col("a"), col("b"), col("gap").as("gap_us"))
      .orderBy("a", "b")
}
