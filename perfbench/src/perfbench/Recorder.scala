package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution: one fixed mapping
  * from `nanoTime`, so call spans line up with Spark's event times (which
  * are `currentTimeMillis`) and with the stream generator's schedule. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startMs: Double, endMs: Double)

/** One timed call into a layer of the program. */
final case class CallRec(name: String, group: String, pass: Int,
                         startMs: Double, endMs: Double, span: Int) {
  def ms: Double = endMs - startMs
}

final case class JobRec(id: Int, group: String, startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Task totals of one stage (all attempts). Written only by the listener
  * thread; read after the bus is drained. */
final class StageAgg(val id: Int) {
  var name = ""
  var submittedMs = -1L
  var completedMs = -1L
  var tasks = 0L
  var runMs = 0L
  var maxTaskMs = 0L
  var shuffleWrite = 0L
  var input = 0L
  var spill = 0L
  val schedDelayMs = ArrayBuffer.empty[Long]
}

final case class Progress(runId: String, name: String, batchId: Long,
                          startMs: Long, durations: Map[String, Long],
                          rows: Long, stateCommitMs: Long) {
  def d(k: String): Long = durations.getOrElse(k, 0L)
  def endMs: Long = startMs + d("triggerExecution")
}

/** Counters for the calls of a set of jobs. */
final case class CallStats(jobs: Int, stages: Int, tasks: Long, shuffleMb: Double,
                           spillMb: Double, inputMb: Double, runMs: Long,
                           maxTaskMs: Long, jobMs: Long, schedDelayMs: Seq[Long])

/** The benchmark's own instrumentation: it times every call into a layer
  * of the program, and — only when traced — registers one `SparkListener`
  * that keeps job, stage and task counters, and records spans
  * run → pass → call → Spark job → stage (and stream call → micro-batch).
  * Jobs are attributed to a call by the job group the bench sets around
  * it; jobs that do not carry a bench group (stream micro-batches run
  * under their query's group, driver threads may not inherit it) are
  * attributed by the call's time window, which is exact because calls
  * run one after another. The streaming listener is on whenever
  * `progress` is asked for: item_stream's latency is computed from it. */
final class Recorder(spark: SparkSession, res: Result, progress: Boolean) {
  private val sc = spark.sparkContext
  val calls = ArrayBuffer.empty[CallRec]
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var pass = -2
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  val progresses = new ConcurrentLinkedQueue[Progress]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.put(e.jobId, JobRec(e.jobId, g.getOrElse(""), e.time, e.stageIds)): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stages.computeIfAbsent(i.stageId, id => new StageAgg(id))
      s.name = i.name
      i.submissionTime.foreach(t => if (s.submittedMs < 0 || t < s.submittedMs) s.submittedMs = t)
      i.completionTime.foreach(t => s.completedMs = math.max(s.completedMs, t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.computeIfAbsent(e.stageId, id => new StageAgg(id))
      val ti = e.taskInfo
      s.tasks += 1
      s.maxTaskMs = math.max(s.maxTaskMs, ti.duration)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.input += m.inputMetrics.bytesRead
        s.spill += m.diskBytesSpilled
        // Spark UI's scheduler delay: task time not spent deserializing,
        // running, serializing the result or fetching it
        s.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progresses.add(Progress(p.runId.toString, Option(p.name).getOrElse(""), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, p.stateOperators.map(_.commitTimeMs).sum)): Unit
      onProgress()
    }
  }

  /** Runs on the listener thread after each recorded micro-batch. */
  @volatile var onProgress: () => Unit = () => ()
  private var tracingOn = false
  def traced: Boolean = tracingOn
  if (progress) spark.streams.addListener(streamListener)

  /** Turn tracing on or off between passes: the listener is registered
    * only while tracing, so untraced passes run without it. */
  def tracing(on: Boolean): Unit = if (on != tracingOn) {
    drain()
    tracingOn = on
    if (on) sc.addSparkListener(jobListener) else sc.removeSparkListener(jobListener)
    if (!progress) {
      if (on) spark.streams.addListener(streamListener) else spark.streams.removeListener(streamListener)
    }
  }

  private def openSpan(name: String, kind: String): Int = {
    val id = spans.length
    spans += Span(id, open.headOption.getOrElse(-1), name, kind, Clock.nowMs, Double.NaN)
    open = id :: open
    id
  }
  private def closeSpan(id: Int): Unit = {
    spans(id) = spans(id).copy(endMs = Clock.nowMs)
    open = open.tail
  }

  /** A span of the bench's own structure (run, pass); no-op untraced. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!traced) body
    else {
      val id = openSpan(name, kind)
      try body finally closeSpan(id)
    }

  def inPass[T](p: Int)(body: => T): T = {
    pass = p
    try span(if (p < 0) "warmup" else s"pass-$p", "pass")(body) finally pass = -2
  }

  /** Time one call into the program under its own job group; count it as
    * attempted, and as failed if it throws. */
  def call[T](name: String)(body: => T): T = {
    val group = s"perfbench-${calls.length}-$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val id = if (traced) openSpan(name, "call") else -1
    val t0 = Clock.nowMs
    res.attempted += 1
    try body
    catch { case e: Throwable => res.failed += 1; throw e }
    finally {
      val t1 = Clock.nowMs
      if (traced) closeSpan(id)
      sc.clearJobGroup()
      calls += CallRec(name, group, pass, t0, t1, id)
      println(f"call pass=$pass $name ${t1 - t0}%.0f ms")
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jobsOf(c: CallRec): Seq[JobRec] = jobs.values.asScala.toSeq.filter { j =>
    (c.group.nonEmpty && j.group == c.group) ||
      (!j.group.startsWith("perfbench-") && j.startMs >= math.floor(c.startMs) &&
        j.startMs <= math.ceil(c.endMs))
  }.sortBy(_.id)

  def progressOf(c: CallRec): Seq[Progress] = progresses.asScala.toSeq
    .filter(p => p.startMs >= math.floor(c.startMs) && p.startMs <= math.ceil(c.endMs))
    .sortBy(p => (p.startMs, p.batchId))

  def stats(cs: Seq[CallRec]): CallStats = {
    val js = cs.flatMap(jobsOf).distinctBy(_.id)
    val ss = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
      .filter(_.tasks > 0)
    CallStats(js.length, ss.length, ss.map(_.tasks).sum,
      ss.map(_.shuffleWrite).sum / 1e6, ss.map(_.spill).sum / 1e6,
      ss.map(_.input).sum / 1e6, ss.map(_.runMs).sum,
      if (ss.isEmpty) 0L else ss.map(_.maxTaskMs).max,
      js.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum,
      ss.flatMap(_.schedDelayMs))
  }

  /** Hang the Spark jobs, stages and micro-batches under the call spans
    * they were attributed to. Call after [[drain]]. */
  def addSparkSpans(): Unit = if (traced && spans.nonEmpty) {
    // the run span: root of every pass and call span
    val top = spans.indices.filter(spans(_).parent < 0)
    val runId = spans.length
    spans += Span(runId, -1, "run", "run", top.map(spans(_).startMs).min, top.map(spans(_).endMs).max)
    top.foreach(i => spans(i) = spans(i).copy(parent = runId))
    for (c <- calls.toList if c.span >= 0) {
      for (j <- jobsOf(c)) {
        val jid = spans.length
        spans += Span(jid, c.span, s"job-${j.id}", "job", j.startMs.toDouble,
          (if (j.endMs >= 0) j.endMs else j.startMs).toDouble)
        for (sid <- j.stageIds; s <- Option(stages.get(sid)) if s.submittedMs >= 0)
          spans += Span(spans.length, jid, s"stage-$sid", "stage",
            s.submittedMs.toDouble, s.completedMs.toDouble)
      }
      for (p <- progressOf(c))
        spans += Span(spans.length, c.span, s"batch-${p.batchId}", "micro-batch",
          p.startMs.toDouble, p.endMs.toDouble)
    }
  }

  /** A span's self time: its duration minus the part of it that its
    * children's intervals cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, curA, curB = 0.0
    var have = false
    for ((a, b) <- kids) {
      if (have && a <= curB) curB = math.max(curB, b)
      else {
        if (have) covered += curB - curA
        curA = a; curB = b; have = true
      }
    }
    if (have) covered += curB - curA
    (s.endMs - s.startMs) - covered
  }

  def writeSpans(path: java.nio.file.Path, runId: String): Unit = {
    val sb = new StringBuilder
    for (s <- spans) sb ++= f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","kind":"${s.kind}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${selfMs(s)}%.3f}""" ++= "\n"
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8")): Unit
  }
}
