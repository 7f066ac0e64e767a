package graft.streaming

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.execution.streaming.sources.TextSocketTable
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

import graft.model.StreamParams

/** HW3 — streaming frequent-item detection (SURVEY.md §2.9 C5-C7, §2.10).
  *
  * Reference `big_data_computing_3.py`: a DStream socket pipeline whose entire
  * state lives on the driver; every micro-batch is collect()ed and folded
  * sequentially (`:72-98`). Rebuilt two ways:
  *
  *  1. [[FrequentItemsStream]] — faithful port on Structured Streaming:
  *     `foreachBatch` folds each micro-batch (in arrival order) into a
  *     [[SamplerState]], preserving the reference's order-dependent semantics,
  *     its guard-before-add stop-at-n overshoot behavior (`:75-77`), and its
  *     report shapes (`:110-137`), with an injectable seeded RNG.
  *
  *  2. Mergeable alternatives that scale past a single driver thread:
  *     [[ReservoirAgg]] (distributed bottom-m-by-random-key reservoir — same
  *     sampling distribution, associative+commutative merge) and the
  *     order-independent deterministic sticky variant in
  *     [[FrequentItems.stickyDeterministic]] (per-occurrence hash coins), which
  *     is pure DataFrame algebra and therefore DuckDB-oracle-checkable.
  */
object FrequentItems {

  /** The first n stream items in `seq` order. `limit` takes an Int, so a
    * larger n is refused rather than truncated to its low 32 bits. */
  private def firstN(items: DataFrame, n: Long): DataFrame = {
    require(n <= Int.MaxValue, s"prefix length n=$n exceeds limit()'s Int range")
    items.orderBy("seq").limit(n.toInt)
  }

  /** Exact frequent items (C7, `big_data_computing_3.py:10-12`): items whose
    * count over the first n stream items is ≥ φ·n. Streaming-exact counts are
    * the same groupBy under `outputMode(update)`. */
  def exactFrequent(items: DataFrame, n: Long, phi: Double): DataFrame = {
    firstN(items, n)
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(phi) * lit(n.toDouble))
      .orderBy("item")
  }

  /** ±-marked membership comparison (§2.7, `big_data_computing_3.py:125-137`):
    * left join of a candidate set against the true-frequent set. */
  def compareReport(items: DataFrame, n: Long, phi: Double, eps: Double): DataFrame = {
    val counts = firstN(items, n)
      .groupBy("item").agg(count(lit(1)).as("cnt"))
    val estimates = counts.filter(col("cnt") >= lit(phi - eps) * lit(n.toDouble))
      .select(col("item"), col("cnt").as("est_cnt"))
    val truth = counts.filter(col("cnt") >= lit(phi) * lit(n.toDouble))
      .select(col("item").as("t_item"))
    estimates.join(truth, estimates("item") === truth("t_item"), "left")
      .select(col("item"), col("est_cnt"),
        when(col("t_item").isNotNull, "+").otherwise("-").as("mark"))
      .orderBy("item")
  }

  /** Order-independent sticky sampling (C6 made deterministic): occurrence
    * `seq` flips a coin via a 60-bit md5-derived hash; an item is tracked from
    * its first successful coin on, counting all later occurrences — exactly the
    * no-deletion sticky semantics of `big_data_computing_3.py:25-33` with the
    * RNG replaced by a hash, which makes the fold order-free and the whole
    * operator expressible as joins+aggregations (hence oracle-checkable).
    * Report filter: count > (φ−ε)·n (`:110`). */
  def stickyDeterministic(items: DataFrame, p: StreamParams): DataFrame = {
    val prefix = firstN(items, p.n)
    val thr = lit(p.stickyRate / p.n) * lit(1152921504606846976.0) // 2^60
    val coins = prefix.withColumn("h",
      conv(substring(md5(col("seq").cast("string")), 1, 15), 16, 10).cast("long"))
    val admitted = coins.filter(col("h") < thr)
      .groupBy(col("item").as("a_item")).agg(min(col("seq")).as("s0"))
    prefix.join(admitted, col("item") === col("a_item") && col("seq") >= col("s0"))
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(p.phi - p.eps) * lit(p.n.toDouble))
      .orderBy("item")
  }

  /** Faithful seeded reservoir over the first n items (C5), folded in seq
    * order on the driver — n·1 longs, not point-scale data. The distributed
    * path is [[ReservoirAgg]]. Returns the distinct-members estimate the
    * reference reports (`big_data_computing_3.py:122-124`). */
  def reservoirEstimate(items: DataFrame, p: StreamParams, seed: Long): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val seq = firstN(items, p.n).select("item").as[Long].collect()
    val st = new SamplerState(p, seed)
    st.fold(seq)
    st.reservoir.distinct.sorted.toSeq.toDF("item")
  }
}

/** Driver-held sampler state, the faithful port of the reference's dicts
  * (`big_data_computing_3.py:65-68`) with per-item fold `:83-94`. */
final class SamplerState(p: StreamParams, seed: Long) extends Serializable {
  val exact = scala.collection.mutable.Map.empty[Long, Long]
  val reservoir = scala.collection.mutable.ArrayBuffer.empty[Long]
  val sticky = scala.collection.mutable.Map.empty[Long, Long]
  var processed: Long = 0L
  private val rng = new scala.util.Random(seed)
  private val m = p.reservoirSize
  private val r = p.stickyRate

  /** Guard-before-add (`big_data_computing_3.py:75-77`): a batch arriving when
    * processed ≥ n is ignored wholesale, so the total may overshoot n by at
    * most one batch. Returns true when the target has been reached. */
  def foldBatch(batch: Iterable[Long]): Boolean = {
    if (processed >= p.n) return true
    fold(batch)
    processed >= p.n
  }

  def fold(batch: Iterable[Long]): Unit = batch.foreach { item =>
    processed += 1
    exact.updateWith(item) { c => Some(c.getOrElse(0L) + 1L) }
    // reservoir (`:15-22`): first m appended; then replace a uniform slot
    // with prob m/t — independent draws of acceptance and slot.
    if (reservoir.length < m) reservoir += item
    else if (rng.nextDouble() <= m.toDouble / processed)
      reservoir(rng.nextInt(m)) = item
    // sticky (`:25-33`): tracked → increment; new → admit with prob r/n.
    if (sticky.contains(item)) sticky(item) += 1L
    else if (rng.nextDouble() <= r / p.n) sticky(item) = 1L
  }

  def trueFrequent: Seq[(Long, Long)] =
    exact.toSeq.filter(_._2 >= p.phi * processed).sortBy(_._1)

  /** Sticky report filter (`:110`): sampled count > (φ−ε)·n. */
  def stickyFrequent: Seq[(Long, Long)] =
    sticky.toSeq.filter(_._2 > (p.phi - p.eps) * p.n).sortBy(_._1)

  def reservoirDistinct: Seq[Long] = reservoir.distinct.sorted.toSeq
}

/** Structured-Streaming runner: readStream → foreachBatch fold (§2.10). */
object FrequentItemsStream {

  /** Trigger interval of [[run]]. Each micro-batch costs Spark a fixed
    * driver CPU whatever its size (progress reporting, offset and commit
    * logs, the collect job's scheduling; 4 vCPUs, `local[4]`), while the
    * fold of its few thousand items costs under a millisecond.
    * Back-to-back batches (`ProcessingTime(0)`) would spend that fixed CPU
    * as often as a batch can finish; this pace spends idle time instead. At
    * 20k items/s it still halves the latency of the back-to-back stream
    * whose batches forked `chmod`/`readlink` for every checkpoint write
    * (those forks used to pace it). The reference's DStream batch interval
    * is 0.01 s. */
  val TriggerPaceMs = 100L

  /** Attach the stateful fold to a streaming Dataset with a bigint `item`
    * column. Each micro-batch is collected by one job over its own planned
    * RDD and folded in arrival order: by a bigint `seq` column when the
    * stream has one, else by undoing the socket source's round-robin deal
    * (see [[ArrivalOrder]]); any other stream is refused. The query is
    * stopped (asynchronously) once n items are processed. */
  def run(stream: DataFrame, p: StreamParams, seed: Long,
          queryName: String = "freq_items"): (SamplerState, StreamingQuery) = {
    val arrival = ArrivalOrder.of(stream)
    val state = new SamplerState(p, seed)
    val ref = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    val stopRequested = new java.util.concurrent.atomic.AtomicBoolean(false)
    val query = stream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerPaceMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val done = state.foldBatch(arrival.items(batch))
        // stop-at-n (`big_data_computing_3.py:95-96,101-107`): signal from the
        // batch thread, stop from a watcher thread (stop() joins the batch).
        // The watcher spin-waits for `ref` so a first micro-batch that already
        // reaches n (e.g. a file-source replay) cannot race past ref.set().
        if (done && stopRequested.compareAndSet(false, true))
          new Thread(() => {
            var q = ref.get()
            while (q == null) { Thread.sleep(1L); q = ref.get() }
            q.stop()
          }).start()
      }
      .start()
    ref.set(query)
    (state, query)
  }

  /** Socket source matching the reference's input (`big_data_computing_3.py:62`):
    * text lines of integers. Spark's socket source deals each batch's lines
    * round-robin over its partitions, so partition order is not arrival
    * order; [[run]] undoes the deal. `numPartitions` stays at its default
    * (`defaultParallelism`): Spark's socket reader indexes a `ListBuffer` by
    * position, so a partition of s rows costs about s²/2 list steps. With
    * one partition, a backlog batch of a few hundred thousand rows spins for
    * tens of seconds in one task. */
  def socketItems(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .select(col("value").cast("long").as("item"))
}

/** How [[FrequentItemsStream.run]] gets a micro-batch's items in arrival
  * order: one `runJob` over the batch's planned RDD (`foreachBatch` hands a
  * `LogicalRDD` over the stream's own RDD, so no second plan is built)
  * returns one primitive array per partition, which [[arrange]] puts in
  * order on the driver. Chosen once per query by [[ArrivalOrder.of]]. */
private[streaming] sealed abstract class ArrivalOrder(columns: Array[String]) {

  /** Puts the per-partition arrays, in partition order, in arrival order. */
  protected def arrange(parts: Array[Array[Long]]): Array[Long]

  final def items(batch: DataFrame): Array[Long] = {
    val rdd = batch.queryExecution.toRdd
    val collect = new LongColumns(columns.map(batch.schema.fieldIndex), columns)
    arrange(rdd.sparkContext.runJob(rdd, collect, 0 until rdd.getNumPartitions))
  }
}

private[streaming] object ArrivalOrder {

  def of(stream: DataFrame): ArrivalOrder = {
    requireBigint(stream, "item")
    if (stream.columns.contains("seq")) { requireBigint(stream, "seq"); BySeq }
    else if (readsSocket(stream)) SocketDeal
    else throw new IllegalArgumentException(
      "the frequent-items fold needs each micro-batch in arrival order: give " +
        "the stream a bigint `seq` column, or read it with socketItems")
  }

  private def requireBigint(stream: DataFrame, name: String): Unit = {
    val field = stream.schema.find(_.name == name)
    require(field.exists(_.dataType == LongType),
      s"the frequent-items stream needs a bigint `$name` column, found " +
        field.fold("none")(_.dataType.simpleString))
  }

  /** The stream reads Spark's socket source (checked on the analyzed plan:
    * a `readStream` leaf resolves to its relation only under analysis). */
  private def readsSocket(stream: DataFrame): Boolean =
    stream.queryExecution.analyzed.exists {
      case r: StreamingRelationV2 => r.table.isInstanceOf[TextSocketTable]
      case _ => false
    }

  /** (seq, item) pairs, sorted by seq on the driver (stable for equal seq). */
  private object BySeq extends ArrivalOrder(Array("seq", "item")) {
    protected def arrange(parts: Array[Array[Long]]): Array[Long] = {
      val pairs = parts.flatten
      val order = Array.range(0, pairs.length / 2).sortBy(i => pairs(2 * i))
      order.map(i => pairs(2 * i + 1))
    }
  }

  /** Spark's socket source deals the k-th line of a batch to partition
    * k mod N (`TextSocketMicroBatchStream.planInputPartitions`), so row k is
    * `parts(k % N)(k / N)`. A batch whose partition sizes do not fit that
    * deal fails loudly rather than fold a permuted stream. */
  private object SocketDeal extends ArrivalOrder(Array("item")) {
    protected def arrange(parts: Array[Array[Long]]): Array[Long] = {
      val nParts = parts.length
      val n = parts.iterator.map(_.length).sum
      parts.iterator.zipWithIndex.foreach { case (part, i) =>
        if (part.length != (n - i + nParts - 1) / nParts)
          throw new IllegalStateException(
            s"socket micro-batch of $n rows is not a round-robin deal over " +
              s"$nParts partitions: sizes ${parts.map(_.length).mkString(",")}")
      }
      val out = new Array[Long](n)
      var k = 0
      while (k < n) { out(k) = parts(k % nParts)(k / nParts); k += 1 }
      out
    }
  }
}

/** The bigint columns at `ordinals` of one partition's rows, row after row,
  * as one primitive array. A named class, not a lambda: `SparkContext.clean`
  * reads a lambda's enclosing class file with ASM on every job. A null
  * fails the task. */
private final class LongColumns(ordinals: Array[Int], names: Array[String])
    extends ((TaskContext, Iterator[InternalRow]) => Array[Long]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Long] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    while (rows.hasNext) {
      val row = rows.next()
      var c = 0
      while (c < ordinals.length) {
        if (row.isNullAt(ordinals(c)))
          throw new NullPointerException(s"null `${names(c)}` in a frequent-items micro-batch")
        out += row.getLong(ordinals(c))
        c += 1
      }
    }
    out.result()
  }
}

/** Distributed, mergeable uniform reservoir (SURVEY.md §2.9 C5 scalable
  * variant): assign every occurrence a pseudo-random 64-bit key derived from
  * its arrival index and keep the m smallest keys — an (unweighted) bottom-m
  * sketch whose merge is associative and commutative, so it parallelizes as a
  * partial+final Spark aggregation while sampling from the same uniform
  * distribution as the sequential fold. */
class ReservoirAgg(m: Int, salt: Long)
    extends Aggregator[(Long, Long), ReservoirBuf, Array[Long]] {

  private def key(seq: Long): Long =
    scala.util.hashing.byteswap64(seq ^ salt)

  override def zero: ReservoirBuf = ReservoirBuf(Array.empty, Array.empty)

  override def reduce(b: ReservoirBuf, in: (Long, Long)): ReservoirBuf =
    b.insert(key(in._1), in._2, m)

  override def merge(a: ReservoirBuf, b: ReservoirBuf): ReservoirBuf = {
    var out = a
    var i = 0
    while (i < b.keys.length) { out = out.insert(b.keys(i), b.items(i), m); i += 1 }
    out
  }

  override def finish(b: ReservoirBuf): Array[Long] = b.items

  override def bufferEncoder = org.apache.spark.sql.Encoders.product[ReservoirBuf]
  override def outputEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** Bottom-m buffer kept sorted ascending by key. m is tiny (⌈1/φ⌉), so the
  * O(m) insert is cheaper than heap bookkeeping. */
final case class ReservoirBuf(keys: Array[Long], items: Array[Long]) {
  def insert(k: Long, item: Long, m: Int): ReservoirBuf = {
    if (keys.length >= m && k >= keys.last) this
    else {
      val pos = {
        val p = java.util.Arrays.binarySearch(keys, k)
        if (p >= 0) p else -(p + 1)
      }
      val n = math.min(keys.length + 1, m)
      val nk = new Array[Long](n); val ni = new Array[Long](n)
      System.arraycopy(keys, 0, nk, 0, pos)
      System.arraycopy(items, 0, ni, 0, pos)
      nk(pos) = k; ni(pos) = item
      val tail = n - pos - 1
      if (tail > 0) {
        System.arraycopy(keys, pos, nk, pos + 1, tail)
        System.arraycopy(items, pos, ni, pos + 1, tail)
      }
      ReservoirBuf(nk, ni)
    }
  }
}
