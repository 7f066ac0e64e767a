package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.StreamParams
import graft.streaming.{FrequentItemsStream, SamplerState}

/** item_stream: HW3 frequent items over an open-loop socket stream. A
  * separate generator process sends seeded items at a fixed rate from the
  * moment it accepts each connection (warm-up first, then the timed
  * streams); the program runs `FrequentItemsStream.run` until n items. */
object ItemStream {
  val Phi = 0.02
  val Eps = 0.005
  val Delta = 0.1

  final case class Stream(call: CallRec, state: SamplerState, batches: Seq[Progress],
                          t0Ms: Double, n: Long, items: Array[Long])

  /** One line of the generator's status file per connection event. */
  private def genStatus(path: String, conn: Int, event: String): Option[Map[String, Double]] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else Files.readAllLines(p).asScala.iterator.map { l =>
      l.stripPrefix("{").stripSuffix("}").split(",").map(_.split(":", 2))
        .map { case Array(k, v) => k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim }.toMap
    }.find(m => m.get("conn").contains(conn.toString) && m.get("event").contains("\"" + event + "\""))
      .map(_.collect { case (k, v) if !v.startsWith("\"") => k -> v.toDouble })
  }

  private def waitStatus(path: String, conn: Int, event: String): Map[String, Double] = {
    val deadline = System.nanoTime() + 30e9.toLong
    var s = genStatus(path, conn, event)
    while (s.isEmpty && System.nanoTime() < deadline) { Thread.sleep(20); s = genStatus(path, conn, event) }
    s.getOrElse(sys.error(s"generator reported no '$event' for connection $conn"))
  }

  private def readItems(path: String): Array[Long] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map(_.toLong).toArray finally src.close()
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val rec = new Recorder(spark, res, progress = true)
    val rate = a.param("rate").toDouble
    val n = a.param("n").toLong
    val port = {
      val p = Paths.get(a.inFile("port"))
      val deadline = System.nanoTime() + 30e9.toLong
      while (!Files.exists(p) && System.nanoTime() < deadline) Thread.sleep(20)
      new String(Files.readAllBytes(p)).trim.toInt
    }
    val status = a.inFile("gen_status.jsonl")
    // the stream's temporary checkpoint is a `temporary-*` directory under
    // java.io.tmpdir, which the launcher points at a directory of this run
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    @volatile var ckptPeak = 0L
    rec.onProgress = () => {
      val st = Files.list(tmp)
      val ckpt = try st.iterator.asScala.filter(_.getFileName.toString.startsWith("temporary"))
        .map(Main.bytesUnder).sum finally st.close()
      ckptPeak = math.max(ckptPeak, ckpt)
    }

    def stream(conn: Int, name: String, nItems: Long, file: String): Option[Stream] =
      res.guard(name) {
        val items = readItems(a.inFile(file))
        val p = StreamParams(nItems, Phi, Eps, Delta)
        val (state, q) = rec.call(name) {
          val (st, q) = FrequentItemsStream.run(
            FrequentItemsStream.socketItems(spark, "127.0.0.1", port), p,
            a.seed + conn, queryName = s"perfbench_items_$conn")
          q.awaitTermination()
          (st, q)
        }
        rec.drain()
        val t0 = waitStatus(status, conn, "start")("t0_ms")
        val bs = rec.progresses.asScala.toSeq.filter(b => b.runId == q.runId.toString && b.rows > 0)
          .sortBy(_.batchId)
        Stream(rec.calls.last, state, bs, t0, nItems, items)
      }

    rec.inPass(-1)(stream(0, "warmup_stream", a.param("warm_n").toLong, "warm_items.txt"))
    val t0 = Clock.nowMs
    val jMain = Jvm.snap()
    val main = rec.inPass(0)(stream(1, "stream", n, "items_1.txt"))
    val mainCpuS = (Jvm.snap() - jMain).cpuNs / 1e9
    val j0 = Jvm.snap()
    val traced = if (!a.traced) None else {
      rec.tracing(true)
      val s = rec.inPass(1)(stream(2, "stream", n, "items_2.txt"))
      Some((s, Jvm.snap() - j0))
    }
    val heap = Jvm.liveHeapMb()

    (main.toSeq ++ traced.flatMap(_._1)).foreach(check(res, _))
    // the warm-up stream's send schedule is the generator's time, not the
    // program's, so it is left out of set-up
    res.metric("setup_s", (t0 - a.launchMs) / 1000.0 - a.param("warm_n").toLong / rate, "s")
    main.foreach { s =>
      val (lat, _) = latencies(s, rate)
      println("batches (start s after t0, rows, trigger ms): " + folded(s).map(b =>
        f"${(b.startMs - s.t0Ms) / 1000}%.1f/${b.rows}/${b.d("triggerExecution")}").mkString(" "))
      res.metric("pass_s", mainCpuS, "s")
      res.metric("lat_p50_ms", Stats.q(lat, 0.5), "ms")
      res.metric("lat_p95_ms", Stats.q(lat, 0.95), "ms")
      val trig = folded(s).map(_.d("triggerExecution").toDouble)
      res.metric("serve_p50_ms", Stats.q(trig, 0.5), "ms")
      res.metric("serve_p90_ms", Stats.q(trig, 0.9), "ms")
      val sentBytes = s.items.iterator.take(s.state.processed.toInt).map(_.toString.length + 1L).sum
      res.metric("store_amp", ckptPeak.toDouble / sentBytes, "ratio")
      res.metric("samples.items", lat.length.toDouble, "count")
      res.metric("samples.batches", trig.length.toDouble, "count")
    }
    res.metric("heap_live_peak_mb", heap, "MB")
    res.metric("fail_frac", res.failFrac, "ratio")

    for ((Some(s), jvm) <- traced) {
      val bs = folded(s)
      def p50(f: Progress => Double) = Stats.median(bs.map(f))
      val (_, lags) = latencies(s, rate)
      res.metric("streaming.batches", bs.length.toDouble, "count")
      res.metric("streaming.trigger_ms_p50", p50(_.d("triggerExecution").toDouble), "ms")
      res.metric("streaming.plan_ms_p50", p50(_.d("queryPlanning").toDouble), "ms")
      res.metric("streaming.add_batch_ms_p50", p50(_.d("addBatch").toDouble), "ms")
      res.metric("streaming.commit_ms_p50", p50(b => (b.d("walCommit") + b.d("commitOffsets")).toDouble), "ms")
      res.metric("streaming.rows_per_batch_p50", p50(_.rows.toDouble), "count")
      res.metric("streaming.rows_per_batch_max", bs.map(_.rows.toDouble).max, "count")
      res.metric("streaming.lag_items_max", lags.max, "count")
      res.metric("driver.fold_items_per_s", foldRate(s), "1/s")
      res.metric("bench.gen_late_ms_max",
        Seq(1, 2).map(c => waitStatus(status, c, "end")("late_ms_max")).max, "ms")
      res.metric("bench.trace_overhead_frac", jvm.cpuNs / 1e9 / mainCpuS - 1.0, "ratio")
      Main.jvmLayer(res, Seq(jvm))
      rec.drain()
      rec.addSparkSpans()
      Main.sparkLayer(rec, res, Seq(Seq(s.call)))
      rec.writeSpans(a.out.resolve("spans.jsonl"), s"item_stream-${a.seed}")
      rec.tracing(false)
      CorpusLifecycle.layers(spark, a, res)
    }
  }

  /** The micro-batches that were folded: the first ones, up to `processed`
    * items (a batch arriving after n is ignored by the sampler). */
  private def folded(s: Stream): Seq[Progress] = {
    var cum = 0L
    s.batches.takeWhile { b => val take = cum < s.state.processed; cum += b.rows; take }
  }

  /** Per item: end of the micro-batch that folded it minus its scheduled
    * send time. Per batch end: items due by then minus items folded. */
  private def latencies(s: Stream, rate: Double): (Seq[Double], Seq[Double]) = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val lag = mutable.ArrayBuffer.empty[Double]
    var cum = 0L
    val processed = s.state.processed
    for (b <- folded(s)) {
      val upto = math.min(cum + b.rows, processed)
      var k = cum
      while (k < upto) { lat += b.endMs - (s.t0Ms + k * 1000.0 / rate); k += 1 }
      val due = math.min(s.items.length.toDouble, math.floor((b.endMs - s.t0Ms) * rate / 1000.0) + 1)
      lag += due - upto
      cum = upto
    }
    // a last batch whose progress event was cut by the stop ends with the call
    var k = cum
    while (k < processed) { lat += s.call.endMs - (s.t0Ms + k * 1000.0 / rate); k += 1 }
    (lat.toSeq, lag.toSeq)
  }

  def check(res: Result, s: Stream): Unit = {
    val st = s.state
    val truth = mutable.HashMap.empty[Long, Long]
    s.items.iterator.take(st.processed.toInt).foreach(i => truth(i) = truth.getOrElse(i, 0L) + 1)
    res.check("processed>=n", st.processed >= s.n, s"processed ${st.processed} n ${s.n}")
    res.check("exact_counts_match_generator",
      st.processed <= s.items.length && st.exact.toMap == truth.toMap,
      s"${st.exact.size} folded keys vs ${truth.size} generated keys")
    // the sampler ignores a batch once n items are folded, so it overshoots
    // n by less than the last batch it folded (whose progress event the
    // stop may have cut: then that batch is what the recorded ones miss)
    val fs = folded(s)
    val recorded = fs.map(_.rows).sum
    val last = if (recorded < st.processed) st.processed - recorded else fs.last.rows
    res.check("overshoot<one_batch", st.processed - s.n < math.max(1L, last),
      s"processed ${st.processed} n ${s.n} last batch $last")
    res.check("reservoir_size", st.reservoir.length == StreamParams(s.n, Phi, Eps, Delta).reservoirSize,
      s"${st.reservoir.length}")
  }

  /** `SamplerState.fold` alone over the same sequence, single-threaded and
    * without Spark: the median of five rounds, in items per second. */
  private def foldRate(s: Stream): Double = {
    val seq = s.items.take(s.state.processed.toInt).toSeq
    Stats.median((0 until 5).map { r =>
      val st = new SamplerState(StreamParams(s.n, Phi, Eps, Delta), r)
      val t0 = System.nanoTime()
      st.fold(seq)
      seq.length / ((System.nanoTime() - t0) / 1e9)
    })
  }
}
