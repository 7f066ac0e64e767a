package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.StreamParams
import graft.streaming._

class FrequentItemsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val p = StreamParams(1000L, 0.05, 0.02, 0.1)
  // deterministic skewed stream: item i appears with frequency ~ 1/(i+1)
  private val stream: Vector[(Long, Long)] =
    (1L to 1200L).map(s => (s, (s * 2654435761L % 97) % 20)).toVector

  test("faithful fold: exact counts, reservoir size, sticky tracked set") {
    val st = new SamplerState(p, seed = 1L)
    stream.take(1000).grouped(100).foreach(b => st.foldBatch(b.map(_._2)))
    assert(st.processed == 1000L)
    assert(st.exact.values.sum == 1000L)
    val brute = stream.take(1000).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(st.exact.toMap == brute)
    assert(st.reservoir.length == p.reservoirSize)
    // sticky admits with prob r/n ≈ 0.26 per occurrence: anything frequent
    // enough to be reported must have been tracked early w.h.p.
    assert(st.stickyFrequent.forall { case (item, cnt) => brute(item) >= cnt })
    assert(st.trueFrequent.forall { case (item, cnt) => brute(item) == cnt })
  }

  test("guard-before-add overshoot: a batch straddling n is folded whole, later ones dropped") {
    val st = new SamplerState(p, seed = 2L)
    st.foldBatch((1 to 950).map(_.toLong))
    assert(!st.foldBatch((1 to 100).map(_.toLong)) == false) // reaches n mid-batch
    assert(st.processed == 1050L) // overshoot ≤ one batch
    assert(st.foldBatch((1 to 100).map(_.toLong))) // ignored wholesale
    assert(st.processed == 1050L)
  }

  test("structured streaming foreachBatch run stops at n with reference semantics") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val df = ms.toDF().select(col("_1").as("seq"), col("_2").as("item"))
    val (state, query) = FrequentItemsStream.run(df, p, seed = 3L, queryName = "t_freq")
    stream.grouped(300).foreach { b => ms.addData(b); query.processAllAvailable() }
    if (query.isActive) query.stop()
    assert(state.processed >= p.n && state.processed <= p.n + 300)
    assert(state.reservoir.length == p.reservoirSize)
    assert(state.trueFrequent.nonEmpty)
  }

  test("a seq stream is folded in seq order even when a batch arrives out of order") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val df = ms.toDF().select(col("_1").as("seq"), col("_2").as("item"))
    val (state, query) = FrequentItemsStream.run(df, p, seed = 4L, queryName = "t_freq_seq")
    // each batch arrives in reverse seq order
    stream.grouped(300).foreach { b => ms.addData(b.reverse); query.processAllAvailable() }
    if (query.isActive) query.stop()
    val replay = new SamplerState(p, seed = 4L)
    replay.fold(stream.take(state.processed.toInt).map(_._2))
    assert(state.processed == 1200L)
    assert(state.reservoir == replay.reservoir)
    assert(state.sticky == replay.sticky)
    assert(state.exact == replay.exact)
  }

  test("a stream with neither seq nor a socket source is refused, naming seq") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    val df = ms.toDF().select(col("value").as("item"))
    val e = intercept[IllegalArgumentException](
      FrequentItemsStream.run(df, p, seed = 1L, queryName = "t_freq_unordered"))
    assert(e.getMessage.contains("`seq`"), e.getMessage)
    assert(!spark.streams.active.exists(_.name == "t_freq_unordered"))
  }

  test("a non-bigint item or seq is refused, a null item fails the query") {
    implicit val sqlCtx = spark.sqlContext
    val ints = MemoryStream[(Long, Int)].toDF()
    Seq(
      "item" -> ints.select(col("_1").as("seq"), col("_2").as("item")),
      "item" -> ints.select(col("_1").as("seq"), col("_1").cast("string").as("item")),
      "seq" -> ints.select(col("_2").as("seq"), col("_1").as("item"))
    ).foreach { case (name, df) =>
      val e = intercept[IllegalArgumentException](
        FrequentItemsStream.run(df, p, seed = 1L, queryName = "t_freq_type"))
      assert(e.getMessage.contains(s"bigint `$name`"), e.getMessage)
    }

    val ms = MemoryStream[(Long, Option[Long])]
    val df = ms.toDF().select(col("_1").as("seq"), col("_2").as("item"))
    val (state, query) = FrequentItemsStream.run(df, p, seed = 1L, queryName = "t_freq_null")
    ms.addData((1L, Some(3L)), (2L, None), (3L, Some(4L)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      query.processAllAvailable())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("null `item`")), e.getMessage)
    assert(!query.isActive)
    assert(state.processed == 0L)
  }

  test("mergeable reservoir: partition-count invariant, size min(m,n)") {
    val agg = new ReservoirAgg(p.reservoirSize, salt = 99L)
    val ds1 = spark.createDataset(stream.take(1000)).repartition(1)
    val ds8 = spark.createDataset(stream.take(1000)).repartition(8)
    val r1 = ds1.select(agg.toColumn).head().sorted
    val r8 = ds8.select(agg.toColumn).head().sorted
    assert(r1.sameElements(r8), "bottom-m sketch must be partitioning-invariant")
    assert(r1.length == p.reservoirSize)
    val tiny = spark.createDataset(stream.take(5)).repartition(3)
    assert(tiny.select(agg.toColumn).head().length == 5)
  }

  test("deterministic sticky matches a sequential fold with the same hash coins") {
    val items = stream.take(1000)
    val df = items.toDF("seq", "item")
    val got = FrequentItems.stickyDeterministic(df, p)
      .as[(Long, Long)].collect().toMap
    // sequential replay: admit item at first occurrence whose coin succeeds
    val thr = (p.stickyRate / p.n) * 1152921504606846976.0
    def coin(seq: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(seq.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) < thr
    }
    val tracked = scala.collection.mutable.Map.empty[Long, Long]
    items.foreach { case (seq, item) =>
      if (tracked.contains(item)) tracked(item) += 1
      else if (coin(seq)) tracked(item) = 1
    }
    val expect = tracked.filter(_._2 > (p.phi - p.eps) * p.n).toMap
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("property: faithful seeded sticky and deterministic hash sticky agree on heavy items") {
    // The two sticky implementations share one distributional contract: an
    // item is admitted per occurrence with probability r/n (RNG draw vs
    // 60-bit md5 coin) and counted from admission on. The sticky-sampling
    // guarantee then makes any sufficiently heavy item (count ≥ 2φn, giving
    // it ≥ (2φ-φ+ε)n coin flips of slack) land in BOTH tracked sets and both
    // reports except with probability (1-r/n)^((2φ-φ+ε)n) ≈ e^-18 per item —
    // deterministic in practice at ScalaCheck volume. Soundness (reported
    // count ≤ true count, and > (φ-ε)n) holds with probability 1 on both.
    // The Spark operator itself is tied to the hash-coin replay by the
    // "deterministic sticky matches a sequential fold" test above.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pp = StreamParams(1000L, 0.05, 0.02, 0.1)
    val thr = (pp.stickyRate / pp.n) * 1152921504606846976.0 // 2^60
    val md = java.security.MessageDigest.getInstance("MD5")
    def coin(seq: Long): Boolean = {
      val d = md.digest(seq.toString.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) < thr
    }
    val gen = Gen.zip(Gen.choose(0L, 1000000L), Gen.choose(5, 40))
    val prop = Prop.forAll(gen) { case (seed, nItems) =>
      // quadratic-skew stream: item = ⌊nItems·u²⌋ makes item 0 a guaranteed
      // heavy hitter (count ≈ n/√nItems ≥ 2φn for nItems ≤ 40)
      val rng = new scala.util.Random(seed)
      val items = Vector.fill(pp.n.toInt) {
        val u = rng.nextDouble(); (nItems * u * u).toLong
      }
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val heavy = truth.filter(_._2 >= 2 * pp.phi * pp.n).keySet
      // faithful: the seeded SamplerState RNG path
      val st = new SamplerState(pp, seed)
      st.fold(items)
      val fReport = st.stickyFrequent.toMap
      // deterministic: the hash-coin replay (≡ the Spark operator)
      val tracked = scala.collection.mutable.Map.empty[Long, Long]
      items.zipWithIndex.foreach { case (item, i) =>
        if (tracked.contains(item)) tracked(item) += 1
        else if (coin(i + 1L)) tracked(item) = 1
      }
      val dReport = tracked.filter(_._2 > (pp.phi - pp.eps) * pp.n).toMap
      val inclusion = heavy.forall(h =>
        st.sticky.contains(h) && tracked.contains(h) &&
          fReport.contains(h) && dReport.contains(h))
      val sound = (fReport ++ dReport).forall { case (item, cnt) =>
        cnt <= truth(item) && cnt > (pp.phi - pp.eps) * pp.n
      }
      inclusion && sound
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"sticky-equivalence: $res")
  }

  test("idiomatic streaming exact counts: groupBy.count in update mode (A8)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val counts = ms.toDF().select(col("_2").as("item"))
      .groupBy("item").count()
    val q = counts.writeStream.format("memory").queryName("t_counts")
      .outputMode("update").start()
    stream.take(600).grouped(200).foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    // the latest update per item must equal the batch count
    val latest = spark.table("t_counts").groupBy("item")
      .agg(max("count").as("count")).as[(Long, Long)].collect().toMap
    val brute = stream.take(600).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(latest == brute)
  }

  test("batch frequent-item queries agree with brute force") {
    val df = stream.toDF("seq", "item")
    val brute = stream.take(1000).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val exact = FrequentItems.exactFrequent(df, p.n, p.phi).as[(Long, Long)].collect()
    assert(exact.toMap == brute.filter(_._2 >= p.phi * p.n))
    val cmp = FrequentItems.compareReport(df, p.n, p.phi, p.eps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    cmp.foreach { case (item, cnt, mark) =>
      assert(cnt == brute(item))
      assert(mark == (if (cnt >= p.phi * p.n) "+" else "-"))
    }
  }

  test("a prefix length past limit()'s Int range is refused, not truncated") {
    // 2^32 + 5 truncates to 5: without the check each function would read
    // only the first five items
    val n = (1L << 32) + 5
    val df = stream.toDF("seq", "item")
    val big = p.copy(n = n)
    val calls: Seq[(String, () => Any)] = Seq(
      "exactFrequent" -> (() => FrequentItems.exactFrequent(df, n, p.phi)),
      "compareReport" -> (() => FrequentItems.compareReport(df, n, p.phi, p.eps)),
      "stickyDeterministic" -> (() => FrequentItems.stickyDeterministic(df, big)),
      "reservoirEstimate" -> (() => FrequentItems.reservoirEstimate(df, big, seed = 1L)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(n.toString), s"$name: ${e.getMessage}")
    }
  }
}
