package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-query profiler: `runMain graft.Prof <query...>`. Each named query
  * runs once cold (codegen + JIT), then once warm with a job listener and
  * a [[StreamingQueryListener]] attached. After the warm run the listener
  * bus is drained ([[GraftSparkHooks.drainListenerBus]]: events arrive on
  * an async bus thread) and Prof prints one `PROF` line, every job of the
  * warm run (wall ms and call site) and every micro-batch (duration
  * breakdown plus state-operator commit times, the decomposition a job
  * list cannot show because a whole micro-batch is one job). Plans come
  * from `graft.Explain`; the bench of record stays `graft.Bench`. */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "Usage: Prof <query...>")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkLocal.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val jobs = new ConcurrentLinkedQueue[(Int, Long, String)]
    val starts = new ConcurrentHashMap[Int, (Long, String)]
    val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      // event times are stamped when the scheduler posts, not when the
      // bus delivers. The call site is the job's `callSite.short` property
      // when one is set (streaming queries set it), else the name of its
      // result stage: the scheduler creates that stage after its parents,
      // so it has the highest id, and it is named after the action
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collecting) {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .orElse(j.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
            .getOrElse("?")
          starts.put(j.jobId, (j.time, site)): Unit
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (collecting) Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
          jobs.add((j.jobId, j.time - t0, site)): Unit
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (collecting) batches.add(e.progress): Unit
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def run(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    for (n <- args) {
      val cold = run(n)
      GraftSparkHooks.drainListenerBus(spark.sparkContext)
      jobs.clear(); starts.clear(); batches.clear()
      collecting = true
      val warm = run(n)
      GraftSparkHooks.drainListenerBus(spark.sparkContext)
      collecting = false
      val js = jobs.toArray(Array.empty[(Int, Long, String)]).sortBy(_._1)
      val bs = batches.toArray(Array.empty[StreamingQueryProgress])
      println(f"PROF $n%-24s cold=$cold%7.2f warm=$warm%7.2f jobs=${js.length} " +
        s"jobs_ms=${js.map(_._2).sum} batches=${bs.length}")
      js.foreach { case (id, ms, site) => println(f"  job $id%4d $ms%6d ms  $site") }
      bs.foreach { p =>
        def ms(k: String) = Option(p.durationMs.get(k)).map(_.toString).getOrElse("-")
        val state = p.stateOperators.map(s =>
          s"upd=${s.allUpdatesTimeMs} rm=${s.allRemovalsTimeMs} " +
            s"commit=${s.commitTimeMs} rows=${s.numRowsTotal} " +
            s"parts=${s.numShufflePartitions}").mkString(" | ")
        println(s"  batch ${p.name} b${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${ms("triggerExecution")} addBatch=${ms("addBatch")} " +
          s"getBatch=${ms("getBatch")} latestOffset=${ms("latestOffset")} " +
          s"plan=${ms("queryPlanning")} wal=${ms("walCommit")} " +
          s"commitOff=${ms("commitOffsets")}  [$state]")
      }
    }
    spark.stop()
  }
}
