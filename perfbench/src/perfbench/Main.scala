package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Parsed launcher arguments. `launchMs` is the epoch time the launcher
  * started this JVM: set-up time is measured from it. */
final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
                      in: Path, out: Path, threads: Int, launchMs: Double,
                      params: Map[String, String]) {
  def inFile(name: String): String = in.resolve(name).toString
  def param(k: String): String = params(k)
}

/** Metrics, checks and the attempted/failed tally of one run. */
final class Result(a: Args) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** A correctness check; a failure is counted and printed loudly. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"PERFBENCH CHECK FAILED [${a.workload}] $name: $detail")
      notes += s"check failed: $name: $detail"
    }
  }

  /** Run a pass; a call that throws was already counted as failed by
    * [[Recorder.call]], so this only stops the pass and records why. */
  def guard[T](name: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        System.err.println(s"PERFBENCH PASS FAILED [${a.workload}] $name: $e")
        e.printStackTrace()
        notes += s"$name failed: $e"
        None
    }

  /** (failed calls + failed checks) ÷ attempted, plus a floor of 0.001 so
    * that the metric is never 0: a single failure in a run of a few
    * hundred attempts multiplies it several times over. */
  def failFrac: Double = 0.001 + failed.toDouble / math.max(1L, attempted)

  def write(path: Path): Unit = {
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"${js(k)}:{\"value\":$num,\"unit\":${js(u)}}"
    }.mkString(",")
    val body = s"""{"workload":${js(a.workload)},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$ms},"notes":[${notes.map(js).mkString(",")}]}"""
    Files.write(path, body.getBytes("UTF-8")): Unit
  }
}

/** Process-wide JVM counters. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Snap(gcMs: Long, jitMs: Long, cpuNs: Long) {
    def -(o: Snap): Snap = Snap(gcMs - o.gcMs, jitMs - o.jitMs, cpuNs - o.cpuNs)
  }
  def snap(): Snap = Snap(gcs.map(_.getCollectionTime).sum,
    jit.getTotalCompilationTime, os.getProcessCpuTime)

  /** Heap in use right after a full collection, in MB (untimed: call it
    * between timed calls only). */
  def liveHeapMb(): Double =
    // the lowest of three collections 200 ms apart: Spark's ContextCleaner
    // releases the shuffle and broadcast state of finished jobs only after
    // a collection has found them unreachable (with two collections 100 ms
    // apart, the reading swung between 85 and 167 MB from run to run)
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

object Stats {
  /** Nearest-rank quantile, q in [0, 1]. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

/** The JVM side of the benchmark: one workload per process, driven through
  * the library's public functions on `local[threads]`. Run by `run.py`,
  * which builds it, generates the inputs and prints the result. */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("in")), Paths.get(kv("out")),
      kv("threads").toInt, kv("launch-ms").toDouble, kv)
    val spark = graft.SparkLocal.session(a.threads.toString, Seq(
      // Spark's cache of generated classes keeps 100 entries in four LRU
      // segments of 25. Which segment a class lands in hangs on the literals
      // inlined into its code (geo_batch's centers and radius), so in about
      // half of the runs one segment overflowed and every repeated pass
      // recompiled its 17-24 classes: 15-25% slower passes, and a bimodal
      // spread over seeds. With room for every class a run generates, each
      // class is compiled once, during set-up.
      "spark.sql.codegen.cache.maxEntries" -> "2000"))
    val res = new Result(a)
    try a.workload match {
      case "geo_batch" => GeoBatch.run(spark, a, res)
      case "item_stream" => ItemStream.run(spark, a, res)
      case w => sys.error(s"unknown workload $w")
    } finally {
      res.write(a.out.resolve("result.json"))
      spark.stop()
    }
  }

  final case class PassRec(idx: Int, traced: Boolean, jvm: Jvm.Snap, heapMb: Double)

  /** The timed phase of a pass-based workload: passes until `seconds` have
    * passed (at least `minPasses`). A traced run alternates untraced and
    * traced passes, so that `bench.trace_overhead_frac` compares passes
    * equally far into the run. `body` runs one pass and returns the live
    * heap it measured at its end. Returns the start of the timed phase and
    * the passes that completed. */
  def timedPasses(rec: Recorder, res: Result, a: Args, minPasses: Int)
                 (body: Int => Double): (Double, Seq[PassRec]) = {
    val t0 = Clock.nowMs
    val out = mutable.ArrayBuffer.empty[PassRec]
    while (out.length < minPasses || Clock.nowMs < t0 + a.seconds * 1000) {
      val idx = out.length
      val traced = a.traced && idx % 2 == 1
      rec.tracing(traced)
      val j0 = Jvm.snap()
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val heap = res.guard(s"pass $idx")(rec.inPass(idx)(body(idx)))
      out += PassRec(idx, traced, Jvm.snap() - j0, heap.getOrElse(Double.NaN))
      println(f"pass $idx traced=$traced wall=${passMs(rec, out.last)}%.0f ms " +
        s"jit=${out.last.jvm.jitMs} ms gc=${out.last.jvm.gcMs} ms codegen_compiles=" +
        (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0))
    }
    rec.tracing(a.traced)
    (t0, out.toSeq)
  }

  /** Wall time of each pass: the sum of its timed calls (bench-side checks
    * between calls are not part of it). */
  def passMs(rec: Recorder, p: PassRec): Double =
    rec.calls.filter(_.pass == p.idx).map(_.ms).sum

  /** The end-to-end metrics every pass-based workload reports the same way. */
  def passE2e(rec: Recorder, res: Result, a: Args, t0: Double, ps: Seq[PassRec]): Unit = {
    res.metric("setup_s", (t0 - a.launchMs) / 1000.0, "s")
    res.metric("pass_s", Stats.median(ps.map(passMs(rec, _) / 1000.0)), "s")
    res.metric("heap_live_peak_mb", ps.map(_.heapMb).filterNot(_.isNaN).maxOption.getOrElse(Double.NaN), "MB")
  }

  /** bench.trace_overhead_frac, jvm.* and spark.* of a traced run. */
  def traceLayer(rec: Recorder, res: Result, ps: Seq[PassRec]): Unit = {
    val (tr, un) = ps.partition(_.traced)
    res.metric("bench.trace_overhead_frac",
      Stats.median(tr.map(passMs(rec, _))) / Stats.median(un.map(passMs(rec, _))) - 1.0, "ratio")
    jvmLayer(res, tr.map(_.jvm))
    sparkLayer(rec, res, tr.map(p => rec.calls.filter(_.pass == p.idx).toSeq))
  }

  /** Per-call counters shared by every workload's traced run: spark.* per
    * pass (median over passes) and jvm.* per pass. */
  def sparkLayer(rec: Recorder, res: Result, passes: Seq[Seq[CallRec]]): Unit = {
    val per = passes.map(rec.stats)
    def med(f: CallStats => Double) = Stats.median(per.map(f))
    res.metric("spark.jobs", med(_.jobs.toDouble), "count")
    res.metric("spark.stages", med(_.stages.toDouble), "count")
    res.metric("spark.tasks", med(_.tasks.toDouble), "count")
    res.metric("spark.ms_per_job", med(s => s.jobMs.toDouble / math.max(1, s.jobs)), "ms")
    res.metric("spark.sched_delay_ms_p50",
      Stats.median(per.flatMap(_.schedDelayMs.map(_.toDouble))), "ms")
  }

  def jvmLayer(res: Result, perPass: Seq[Jvm.Snap]): Unit = {
    res.metric("jvm.gc_ms", Stats.median(perPass.map(_.gcMs.toDouble)), "ms")
    res.metric("jvm.jit_ms", Stats.median(perPass.map(_.jitMs.toDouble)), "ms")
    res.metric("jvm.cpu_s", Stats.median(perPass.map(_.cpuNs / 1e9)), "s")
  }

  /** Operator-style counters of one call (median over passes). */
  def callLayer(rec: Recorder, res: Result, prefix: String, calls: Seq[CallRec],
                threads: Int, withSkew: Boolean): Unit = {
    val per = calls.map(c => (c, rec.stats(Seq(c))))
    def med(f: ((CallRec, CallStats)) => Double) = Stats.median(per.map(f))
    res.metric(s"$prefix.s", med(_._1.ms / 1000.0), "s")
    res.metric(s"$prefix.jobs", med(_._2.jobs.toDouble), "count")
    if (withSkew) {
      res.metric(s"$prefix.shuffle_mb", med(_._2.shuffleMb), "MB")
      res.metric(s"$prefix.spill_mb", med(_._2.spillMb), "MB")
      res.metric(s"$prefix.busy_frac",
        med { case (c, s) => s.runMs / math.max(1e-9, c.ms * threads) }, "ratio")
      res.metric(s"$prefix.max_task_s", med(_._2.maxTaskMs / 1000.0), "s")
    }
  }

  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
}
