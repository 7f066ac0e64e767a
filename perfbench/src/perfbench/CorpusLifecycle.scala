package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Imi, Retrieval}
import graft.streaming.{DedupStream, IndexUpsertStream, LexiconUpsertStream}

/** The corpus artifact lifecycle: artifact writes beside reads. One cycle
  * builds a fresh IMI index (with its SQ8 tier) and BM25 lexicon over the
  * base split, screens the delivery for exact duplicates, streams the
  * delivery into both artifacts, forgets a list of ids and compacts both.
  * Then a closed-loop client (one at a time) alternates ANN and BM25 serves
  * on the last cycle's artifacts, each on a fresh seeded query batch.
  *
  * It is not a workload of its own: its serve percentiles swing more from
  * run to run than an end-to-end bound allows at any serve count that fits
  * the benchmark's time. It runs in item_stream's traced run, after the
  * streams, and reports per-layer metrics only ([[layers]]). */
object CorpusLifecycle {
  val Calls = Seq("persist_index", "persist_lexicon", "dedup_screen", "index_upsert_stream",
    "lexicon_upsert_stream", "delete_from_index", "compact_index", "compact_lexicon")
  val StreamCalls = Seq("dedup_screen", "index_upsert_stream", "lexicon_upsert_stream")
  val QueriesPerBatch = 5
  // serves per timed phase: about one in six is a slow outlier, so with
  // fewer calls p90 flips between the slow and the fast cluster
  val MinServes = 40

  final case class Corpus(dir: Path, spark: SparkSession) {
    private def json(schema: String, name: String): DataFrame =
      spark.read.schema(schema).json(dir.resolve(name).toString)
    def baseDocs: DataFrame = json("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT", "base_docs.json")
    def baseEmb: DataFrame = json("vec_id BIGINT, emb ARRAY<DOUBLE>", "base_emb.json")
    def forget: DataFrame = json("vec_id BIGINT", "forget.json")
    def deliveryDocs: DataFrame = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).json(dir.resolve("delivery_docs").toString)
    def deliveryEmb: DataFrame = spark.readStream.schema("vec_id BIGINT, emb ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", 1).json(dir.resolve("delivery_emb").toString)
    lazy val forgetIds: Set[Long] = lines("forget.json").map(l => num(l, "vec_id")).toSet
    def lines(name: String): Seq[String] = Files.readAllLines(dir.resolve(name)).asScala.toSeq
    def bytes: Long = Main.bytesUnder(dir)
  }

  private def num(json: String, key: String): Long = {
    val i = json.indexOf("\"" + key + "\":") + key.length + 3
    json.substring(i).takeWhile(c => c.isDigit || c == '-').toLong
  }

  /** Files under `root`: path → (size, mtime). */
  private def listing(root: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally st.close()
    }

  /** One lifecycle cycle on a fresh artifact root. When traced, the bytes
    * and files each call writes under the root are added to `written`. */
  def cycle(spark: SparkSession, rec: Recorder, res: Result, c: Corpus, root: Path,
            tag: String, probe: (DataFrame, DataFrame),
            written: mutable.Map[String, mutable.ArrayBuffer[(Double, Double)]]): Seq[Row] = {
    val idx = root.resolve("idx").toString
    val lex = root.resolve("lex").toString
    def step[T](name: String)(body: => T): T = {
      val before = if (rec.traced) listing(root) else Map.empty[Path, (Long, Long)]
      val r = rec.call(name)(body)
      if (rec.traced) {
        val fresh = listing(root).filter { case (p, v) => !before.get(p).contains(v) }
        written.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          ((fresh.values.map(_._1).sum / 1e6, fresh.size.toDouble))
      }
      r
    }
    step("persist_index")(Imi.persistIndex(c.baseEmb, idx, withSq8 = true))
    step("persist_lexicon")(Retrieval.persistLexicon(c.baseDocs, lex))
    val dedup = step("dedup_screen")(DedupStream.runReplay(c.deliveryDocs, s"perfbench_dedup_$tag").collect())
    step("index_upsert_stream")(IndexUpsertStream.run(c.deliveryEmb, idx))
    step("lexicon_upsert_stream")(LexiconUpsertStream.run(c.deliveryDocs, lex))
    step("delete_from_index")(Imi.deleteFromIndex(c.forget, idx))
    val before = serveBoth(probe, idx, lex)
    step("compact_index")(Imi.compactIndex(spark, idx))
    step("compact_lexicon")(Retrieval.compactLexicon(spark, lex))
    val after = serveBoth(probe, idx, lex)
    res.check("serve_identical_across_compaction", before == after,
      s"${before._1.length}+${before._2.length} rows before, ${after._1.length}+${after._2.length} after")
    dedup.toSeq
  }

  private def serveBoth(probe: (DataFrame, DataFrame), idx: String, lex: String) =
    (Imi.annImiServed(probe._1, idx, nQueries = QueriesPerBatch).collect().toSeq,
      Retrieval.bm25ServedQueries(probe._2, lex).collect().toSeq)

  /** Fresh seeded query batches: ANN probes are random unit vectors near
    * the corpus topics' scale; BM25 queries are word draws from the corpus
    * vocabulary. */
  final class Queries(spark: SparkSession, c: Corpus, seed: Long) {
    import spark.implicits._
    private val vocab: IndexedSeq[String] =
      c.lines("base_docs.json").take(200).flatMap(l => textOf(l).split(" ")).distinct.sorted.toIndexedSeq
    def batch(i: Int): (DataFrame, DataFrame) = {
      val rng = new scala.util.Random(seed * 1000003L + i)
      val emb = (0 until QueriesPerBatch).map { q =>
        val v = Array.fill(64)(rng.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        (q.toLong, v.map(_ / norm))
      }.toDF("vec_id", "emb")
      val text = (0 until QueriesPerBatch).map { q =>
        (q.toLong, Seq.fill(4)(vocab(rng.nextInt(vocab.length))).mkString(" "))
      }.toDF("qid", "text")
      (emb, text)
    }
  }

  private def textOf(json: String): String = {
    val i = json.indexOf("\"text\":\"") + 8
    json.substring(i, json.indexOf('"', i))
  }

  /** Run the lifecycle in a traced run of another workload, with its own
    * recorder and output directory. The warm-up cycle is untraced; the
    * timed cycle and the serves after it are traced. Adds its checks to
    * `res` and reports per-layer metrics only. */
  def layers(spark: SparkSession, a: Args, res: Result): Unit = {
    val rec = new Recorder(spark, res, progress = false)
    val out = Files.createDirectories(a.out.resolve("lifecycle"))
    val corpus = Corpus(a.in.resolve("corpus"), spark)
    val warm = Corpus(a.in.resolve("warm_corpus"), spark)
    val roots = out.resolve("artifacts")
    val warmQ = new Queries(spark, warm, a.seed + 1)
    val queries = new Queries(spark, corpus, a.seed)

    def serve(idx: String, lex: String, q: Queries, i: Int): (String, Seq[Row]) = {
      val (emb, text) = q.batch(i)
      if (i % 2 == 0) "serve_ann" -> rec.call("serve_ann")(
        Imi.annImiServed(emb, idx, nQueries = QueriesPerBatch).collect().toSeq)
      else "serve_bm25" -> rec.call("serve_bm25")(Retrieval.bm25ServedQueries(text, lex).collect().toSeq)
    }

    // warm-up: one untimed cycle and 6 serves on the small warm-up corpus
    // (the cold cost is per plan shape, not per row, so a small corpus
    // compiles what the timed cycle runs)
    rec.inPass(-1)(res.guard("lifecycle warm-up") {
      val r = roots.resolve("warmup")
      cycle(spark, rec, res, warm, r, "warm", warmQ.batch(0), mutable.Map.empty)
      (0 until 6).foreach(serve(r.resolve("idx").toString, r.resolve("lex").toString, warmQ, _))
    })

    // timed and traced: one cycle, then MinServes closed-loop serves on its
    // artifacts
    rec.tracing(true)
    val root = roots.resolve("cycle")
    val idx = root.resolve("idx").toString
    val lex = root.resolve("lex").toString
    val written = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val dedup = rec.inPass(0)(res.guard("lifecycle cycle") {
      cycle(spark, rec, res, corpus, root, "c0", queries.batch(1000000), written)
    })
    val stored = Main.bytesUnder(root).toDouble
    val served = rec.inPass(1)(res.guard("lifecycle serve") {
      (0 until MinServes).map(serve(idx, lex, queries, _))
    }).getOrElse(Nil)

    // untimed checks
    val expected = expectedDedup(corpus)
    val got = dedup.toSeq.flatten.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    res.check("dedup_state_matches_corpus", got == expected,
      s"${got.size} groups vs ${expected.size} expected")
    val planted = corpus.lines("planted.json").map(l => (num(l, "copy"), num(l, "orig")))
    val keepers = got.map(g => (g._2, g._3)).toMap
    res.check("planted_duplicates_screened",
      planted.forall { case (cp, orig) => keepers.get(math.min(cp, orig)).exists(_ >= 2) },
      s"${planted.length} planted pairs")
    val ann = served.filter(_._1 == "serve_ann").flatMap(_._2)
    res.check("forgotten_never_served", ann.nonEmpty &&
      ann.forall(r => !corpus.forgetIds(r.getAs[Number]("nid").longValue)),
      s"${ann.length} served ANN rows")
    res.check("serve_calls_made", served.length == MinServes, s"${served.length} of $MinServes")

    rec.drain()
    rec.addSparkSpans()
    val tc = rec.calls.filter(c => c.pass == 0 && Calls.contains(c.name)).toSeq
    res.metric("lifecycle.cycle_s", tc.map(_.ms).sum / 1000.0, "s")
    res.metric("lifecycle.store_amp", stored / corpus.bytes, "ratio")
    val serveCalls = rec.calls.filter(c => c.pass == 1).toSeq
    res.metric("lifecycle.serve_p50_ms", Stats.q(serveCalls.map(_.ms), 0.5), "ms")
    res.metric("lifecycle.serve_p90_ms", Stats.q(serveCalls.map(_.ms), 0.9), "ms")
    for (name <- Calls)
      Main.callLayer(rec, res, s"artifacts.$name", tc.filter(_.name == name), a.threads, withSkew = false)
    // bytes and files each call leaves under the artifact root, from the
    // directory listings taken around it
    for ((name, w) <- written) {
      res.metric(s"artifacts.$name.written_mb", Stats.median(w.map(_._1).toSeq), "MB")
      res.metric(s"artifacts.$name.files_written", Stats.median(w.map(_._2).toSeq), "count")
    }
    for (name <- StreamCalls) {
      val bs = tc.filter(_.name == name).map(rec.progressOf)
      res.metric(s"streaming.$name.batches", Stats.median(bs.map(_.length.toDouble)), "count")
      res.metric(s"streaming.$name.commit_ms_sum",
        Stats.median(bs.map(_.map(b => b.d("walCommit") + b.d("commitOffsets")).sum.toDouble)), "ms")
      res.metric(s"streaming.$name.state_commit_ms_sum",
        Stats.median(bs.map(_.map(_.stateCommitMs).sum.toDouble)), "ms")
    }
    for ((kind, name) <- Seq("ann" -> "serve_ann", "bm25" -> "serve_bm25")) {
      val cs = serveCalls.filter(_.name == name)
      val st = cs.map(c => rec.stats(Seq(c)))
      res.metric(s"serve.$kind.p50_ms", Stats.median(cs.map(_.ms)), "ms")
      res.metric(s"serve.$kind.jobs", Stats.median(st.map(_.jobs.toDouble)), "count")
      res.metric(s"serve.$kind.in_mb", Stats.median(st.map(_.inputMb)), "MB")
    }
    rec.writeSpans(out.resolve("spans.jsonl"), s"item_stream-${a.seed}-lifecycle")
  }

  /** md5(text) → (keeper = min doc_id, copies) over the delivery split. */
  private def expectedDedup(c: Corpus): Set[(String, Long, Long)] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val docs = Files.list(c.dir.resolve("delivery_docs")).iterator.asScala.toSeq
      .flatMap(p => Files.readAllLines(p).asScala).map(l => (num(l, "doc_id"), textOf(l)))
    docs.groupBy(_._2).map { case (text, ds) =>
      val h = md5.digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (h, ds.map(_._1).min, ds.length.toLong)
    }.toSet
  }
}
