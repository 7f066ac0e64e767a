package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ExactOutliers, GridOutliers}

/** The Spark jobs the HW1 kernel calls run: each kernel shuffles inside
  * the job of the action that reads it, and its block stage keeps one
  * task per shuffle partition. */
class Hw1JobShapeSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val rng = new scala.util.Random(1010)
  private lazy val points =
    (1L to 3000L).map(i => (i, rng.nextDouble() * 60 - 30, rng.nextDouble() * 60 - 30)).toDF("id", "x", "y")

  /** Jobs `action` runs, and the task counts of its block-kernel stages
    * (the stages that run an RDD named as the kernels name theirs). */
  private def shape(action: => Any): (Int, Seq[Int]) = {
    val jobs = new AtomicInteger
    val kernelTasks = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "block-halo kernel")) kernelTasks.add(e.stageInfo.numTasks): Unit
    }
    // events of earlier actions must not reach the listener
    GraftSparkHooks.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      GraftSparkHooks.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, kernelTasks.asScala.toSeq)
  }

  private def shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("exact outliers: collect runs one job") {
    val (jobs, tasks) = shape(ExactOutliers.outliers(points, 0.5, 3, 10).collect())
    assert(jobs == 1)
    assert(tasks == Seq(shufflePartitions))
  }

  test("outlier count and grid summary: at most two jobs each") {
    val (countJobs, countTasks) = shape(ExactOutliers.outlierCount(points, 0.5, 3).head())
    assert(countJobs <= 2)
    assert(countTasks == Seq(shufflePartitions))
    val (summaryJobs, summaryTasks) = shape(GridOutliers.summary(points, 0.5, 3).head())
    assert(summaryJobs <= 2)
    assert(summaryTasks == Seq(shufflePartitions))
  }

  test("the block stage is not coalesced: it runs spark.sql.shuffle.partitions tasks") {
    assert(shufflePartitions > 1, "the shared session must shuffle into more than one partition")
    val (_, tasks) = shape(ExactOutliers.ballCounts(points, 0.5).count())
    assert(tasks.nonEmpty && tasks.forall(_ == shufflePartitions), s"block stage tasks: $tasks")
  }
}
