package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.StreamParams
import graft.operators.{Clustering, ExactOutliers, GridOutliers}
import graft.sources.Sources
import graft.streaming.FrequentItemsStream

/** CLI entry points matching the reference programs' argument contracts and
  * stdout report shapes, so a user of the reference can switch binaries and
  * keep their scripts. Formats cite the reference print statements.
  */
object AppSession {
  /** Stop `s` only if this CLI invocation CREATED it (vs reusing an
    * active one — e.g. when a spec drives a main inside a shared test
    * session): an embedding harness keeps its session. The flag travels
    * WITH the call (returned by [[get]]) rather than through JVM-global
    * state (r13 ADVICE: a global last-owned bit mis-attributes ownership
    * when mains interleave or run concurrently — one main could stop a
    * session another main merely borrowed). */
  private[apps] def stopOwned(s: SparkSession, owned: Boolean): Unit =
    if (owned) s.stop()

  /** (session, owned): `owned` is true iff no session was active before
    * this call — the caller threads it to [[stopOwned]]. */
  def get(name: String): (SparkSession, Boolean) = {
    val owned = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isEmpty
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(name)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString))
      .config("spark.sql.adaptive.enabled", "true")
      // a builder apart from SparkLocal.session only because apps honor
      // SPARK_MASTER for real-cluster submission
      .config(graft.SparkLocal.sharedConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    (s, owned)
  }

  private[apps] def timedMs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1000000L)
  }
}

/** HW1 — `Hw1Main <D> <M> <K> <L> <file>` (`big_data_computing_1.py:120-188`).
  * Exact pass gated to n ≤ 200,000 like the reference (`:178`), but runs as a
  * distributed grid join rather than a driver loop, so the gate is a courtesy
  * to the output contract, not an implementation limit. */
object Hw1Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 5, "Usage: Hw1Main <D> <M> <K> <L> <file_path>")
    val Array(dS, mS, kS, lS, path) = args
    val (d, m, k, l) = (dS.toDouble, mS.toInt, kS.toInt, lS.toInt)
    require(d > 0, "D must be positive")
    val (spark, owned) = AppSession.get("graft-hw1")
    val points = Sources.pointsCsv(spark, path).repartition(l).cache()

    println(path)
    println(s"D= $d"); println(s"M= $m"); println(s"K= $k"); println(s"L= $l")
    val n = points.count()
    // python's print("... = ", n) emits TWO spaces (sep plus the literal
    // trailing space) — replicated byte-for-byte, GoldenStdoutSpec-pinned
    println(s"Number of points =  $n")

    if (n <= 200000) { // big_data_computing_1.py:178
      val (rows, ms) = AppSession.timedMs {
        val out = ExactOutliers.outliers(points, d, m, k)
          .join(points, "id").select("id", "x", "y", "ball_size")
          .orderBy(col("ball_size").asc, col("id")) // keep report order
        val cnt = ExactOutliers.outlierCount(points, d, m).head().getLong(0)
        (cnt, out.collect())
      }
      println(s"Number of Outliers = ${rows._1}") // big_data_computing_1.py:51
      rows._2.foreach(r => // "Point: " + sep + python tuple repr (", ")
        println(s"Point:  (${r.getDouble(1)}, ${r.getDouble(2)})"))
      println(s"Running time of ExactOutliers =  $ms  ms") // :182 spacing
    }

    val (_, msApprox) = AppSession.timedMs {
      val sum = GridOutliers.summary(points, d, m).head()
      println(s"Number of sure outliers: ${sum.getLong(1)}")     // :109
      println(s"Number of uncertain points: ${sum.getLong(2)}")  // :110
      GridOutliers.topKCells(points, d, k).collect().foreach { r =>
        println(s"Cell: (${r.getLong(0)}, ${r.getLong(1)}) Size = ${r.getLong(2)}") // :114
      }
    }
    println(s"Running time of MRApproxOutliers =  $msApprox ms") // :188
    AppSession.stopOwned(spark, owned)
  }
}

/** HW2 — `Hw2Main <file> <M> <K> <L>` (`big_data_computing_2.py:120-171`):
  * MRFFT radius becomes the MRApproxOutliers threshold. Without `--seed`
  * the centers, and so the radius, are deterministic for a given input
  * split, i.e. a given file and core count: the ids come from
  * [[Sources.pointsCsv]], whose monotonically_increasing_id depends on the
  * scan split. */
object Hw2Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 4 || args.length == 6 && args(4) == "--seed",
      "Usage: Hw2Main <file_path> <M> <K> <L> [--seed <S>]")
    val Array(path, mS, kS, lS) = args.take(4)
    val (m, k, l) = (mS.toInt, kS.toInt, lS.toInt)
    // faithful-randomness mode (big_data_computing_2.py:19 — each
    // SequentialFFT call draws its first center uniformly at random):
    // --seed S replays the reference's uniform first-center choice from a
    // seeded RNG; without it the deterministic MRFFT applies (min-id first
    // centers over the fixed pmod(id, L*128) partitioning).
    val seed: Option[Long] = if (args.length == 6) Some(args(5).toLong) else None
    val (spark, owned) = AppSession.get("graft-hw2")
    // spark.locality.wait=0s passthrough (big_data_computing_2.py:124) is
    // irrelevant in local mode; cluster deployments set it via spark-submit.
    val points = Sources.pointsCsv(spark, path).repartition(l).cache()

    println(s"$path M=$m K=$k L=$l") // big_data_computing_2.py:153
    val n = points.count()
    println(s"Number of points = $n")

    val vecs = points.select(col("id"), array(col("x"), col("y")).as("vec")).cache()
    val (centers, ms1, ms2) = Clustering.mrfft(vecs, k, l, seed)
    val (radius, ms3) = AppSession.timedMs(
      Clustering.radius(vecs, centers).head().getDouble(0))
    println(s"Running time of MRFFT R1 = $ms1 ms") // :162-164
    println(s"Running time of MRFFT R2 = $ms2 ms")
    println(s"Running time of MRFFT R3 = $ms3 ms")
    println(s"Radius = $radius") // :165

    val (_, msApprox) = AppSession.timedMs {
      val sum = GridOutliers.summary(points, radius, m).head()
      println(s"Number of sure outliers = ${sum.getLong(1)}")    // :112
      println(s"Number of uncertain points = ${sum.getLong(2)}") // :113
    }
    println(s"Running time of MRApproxOutliers = $msApprox ms") // :171
    AppSession.stopOwned(spark, owned)
  }
}

/** HW3 — `Hw3Main <n> <phi> <epsilon> <delta> <port> [host]`
  * (`big_data_computing_3.py:38-137`): streaming frequent items from a socket
  * text stream, final three-section report. */
object Hw3Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "Usage: Hw3Main <n> <phi> <epsilon> <delta> <port> [host] [seed]")
    val p = StreamParams(args(0).toLong, args(1).toDouble, args(2).toDouble, args(3).toDouble)
    val port = args(4).toInt
    val host = if (args.length > 5) args(5) else "algo.dei.unipd.it"
    // optional seed (beyond the reference contract): replay the reservoir/
    // sticky coin flips deterministically — the golden-stdout spec's hook
    val seed = if (args.length > 6) args(6).toLong else System.nanoTime()
    val (spark, owned) = AppSession.get("graft-hw3")

    println("INPUT PROPERTIES") // big_data_computing_3.py:55-56
    println(s"n = ${p.n} phi = ${p.phi} epsilon = ${p.eps} delta = ${p.delta} port = $port")

    val stream = FrequentItemsStream.socketItems(spark, host, port)
    println("Starting streaming engine")
    val (state, query) = FrequentItemsStream.run(stream, p, seed = seed)
    println("Waiting for shutdown condition")
    query.awaitTermination()
    println("Stopping the streaming engine") // big_data_computing_3.py:105
    println("Streaming engine stopped")

    // report shapes: big_data_computing_3.py:114-137
    val truth = state.trueFrequent
    println("EXACT ALGORITHM")
    println(s"Number of items in the data structure = ${state.processed}")
    println(s"Number of true frequent items = ${truth.length}")
    println("True frequent items:")
    truth.foreach { case (item, _) => println(item) }

    val trueSet = truth.map(_._1).toSet
    val reservoirEst = state.reservoirDistinct
    println("RESERVOIR SAMPLING")
    println(s"Size m of the sample = ${p.reservoirSize}")
    println(s"Number of estimated frequent items = ${reservoirEst.length}")
    println("Estimated frequent items:")
    reservoirEst.foreach(i => println(s"$i ${if (trueSet(i)) "+" else "-"}"))

    val sticky = state.stickyFrequent
    println("STICKY SAMPLING")
    println(s"Number of items in the Hash Table = ${state.sticky.size}")
    println(s"Number of estimated frequent items = ${sticky.length}")
    println("Estimated frequent items:")
    sticky.foreach { case (i, _) => println(s"$i ${if (trueSet(i)) "+" else "-"}") }
    AppSession.stopOwned(spark, owned)
  }
}
