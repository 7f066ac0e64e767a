package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Imi, KMeans, Similarity}
import graft.sources.Sources

/** The pinned trained state behind the oracle gate. MRFFT, IVF, IMI and PQ
  * training are deterministic, so the centers and codebooks they produce
  * on the sf0.01 fixtures are frozen as Scala literals in the eight
  * `*Pins.scala` objects, and the DuckDB oracles replay assignment, probe
  * and radius from those literals: different training => different cells
  * or codes => hash mismatch.
  *
  * One row of [[table]] per pin object: its name, its header comment and
  * the training that yields its named values. [[render]] turns the table
  * into file texts for two callers:
  *
  *   sbt "runMain graft.Pins"   rewrites the eight files in place
  *   PinsSpec                   fails when a checked-in file is stale
  */
object Pins {

  val FixtureDir = "/root/testdata/sf0.01"
  /** Where the generated objects live, relative to the repository root. */
  val SourceDir: Path = Paths.get("src", "main", "scala", "graft")

  /** A generated `val`'s Scala type and its literal rows. */
  final case class Literal(tpe: String, rows: String)

  final case class Pin(obj: String, header: String,
      train: (SparkSession, String) => Seq[(String, Literal)]) {
    def file: String = s"$obj.scala"
  }

  private def centerList(cs: Seq[Array[Double]]): Literal =
    Literal("Seq[Seq[Double]]", cs.map(_.mkString("    Seq(", ", ", ")")).mkString(",\n"))

  private def idBook(book: Seq[(Long, Array[Double])], indent: String = "    "): Literal =
    Literal("Seq[(Long, Seq[Double])]", book.map { case (cid, cv) =>
      cv.mkString(s"$indent${cid}L -> Seq(", ", ", ")")
    }.mkString(",\n"))

  private def subspaceBooks(books: Seq[Seq[(Long, Array[Double])]]): Literal =
    Literal("Seq[(Int, Seq[(Long, Seq[Double])])]", books.zipWithIndex.map { case (b, s) =>
      s"    $s -> Seq(\n${idBook(b, "      ").rows})"
    }.mkString(",\n"))

  /** The base corpus `q_ann_upsert` persists before upserting the
    * vec_id % 4 = 3 delivery. */
  private def bootstrap(spark: SparkSession, dir: String): DataFrame =
    Sources.embeddings(spark, dir).filter(col("vec_id") % 4 =!= 3)

  private def drifted(spark: SparkSession, dir: String): DataFrame =
    Similarity.driftedCorpus(Sources.embeddings(spark, dir))

  /** Two half-space IMI codebooks, kSide centers each, as sized by
    * [[Imi.imiDims]] on `emb`. */
  private def imiBooks(emb: DataFrame): Seq[(String, Literal)] = {
    val (kSide, _) = Imi.imiDims(emb)
    val books = Imi.productBooks(emb, kSide)
    Seq(s"b1K${kSide}I2" -> idBook(books(0)), s"b2K${kSide}I2" -> idBook(books(1)))
  }

  private def header(lines: String): String =
    ("/** GENERATED by `runMain graft.Pins` (do not edit by hand):\n" + lines)
      .stripMargin

  val table: Seq[Pin] = Seq(
    Pin("MrfftPins", header(
      """  * the center sets [[graft.operators.Clustering.mrfftCentersDeterministic]]
        |  * produces on the sf0.01 testdata with the contract parameters of
        |  * `q_mrfft_radius` (k=8, l=8) and `q_mrfft_embeddings` (k=8, l=4).
        |  * Pinned as literals so the DuckDB oracles hash-verify the whole
        |  * deterministic MRFFT pipeline: different centers => different radius
        |  * => hash mismatch. */"""),
      (spark, dir) => {
        val pts = Sources.points2d(spark, dir)
          .select(col("id"), array(col("x"), col("y")).as("vec"))
        val emb = Sources.embeddings(spark, dir)
          .select(col("vec_id").as("id"), col("emb").as("vec"))
        Seq("points2dK8L8" -> centerList(Clustering.mrfftCentersDeterministic(pts, 8, 8)),
          "embeddingsK8L4" -> centerList(Clustering.mrfftCentersDeterministic(emb, 8, 4)))
      }),
    Pin("IvfPins", header(
      """  * the trained coarse-quantizer centers [[graft.operators.KMeans.trainCenters]]
        |  * produces on the sf0.01 embeddings with the contract parameters of
        |  * `q_ann_ivf` / `q_neardup_blocked` (k = the occupancy-derived cell
        |  * count, the K of the val name; iters=2). Pinned as literals so the
        |  * DuckDB oracles hash-verify the trained-IVF pipeline: different
        |  * centers => different cell assignment => hash mismatch. */"""),
      (spark, dir) => {
        val emb = Sources.embeddings(spark, dir)
        val k = Similarity.ivfK(emb)
        Seq(s"embeddingsK${k}I2" ->
          idBook(KMeans.trainCenters(emb, k, Similarity.IvfTrainIters)))
      }),
    Pin("IvfDriftPins", header(
      """  * the trained coarse-quantizer centers [[graft.operators.KMeans.trainCenters]]
        |  * produces on the DRIFTED sf0.01 corpus (originals plus reversed copies,
        |  * k = its uncapped cell count, the K of the val name; iters=2) -- the
        |  * retrained banded chain of `q_index_lifecycle`'s recall-recovery leg.
        |  * Pinned as literals so the DuckDB oracle hash-verifies retraining +
        |  * assignment + banding end to end. */"""),
      (spark, dir) => {
        val emb = drifted(spark, dir)
        val rawK = Similarity.ivfRawK(emb)
        Seq(s"embeddingsDriftK${rawK}I2" ->
          idBook(KMeans.trainCenters(emb, rawK.toInt, Similarity.IvfTrainIters)))
      }),
    Pin("ImiPins", header(
      """  * the product-space IMI quantizer trained on the sf0.01 embeddings
        |  * with the contract parameters of `q_ann_imi` (two 32-dim half-space
        |  * codebooks, kSide centers each, the K of the val names; iters=2 --
        |  * O(sqrt(k)*d) pinned state). Pinned as literals so the DuckDB oracles
        |  * hash-verify the product pipeline: different books => different cells
        |  * => hash mismatch. */"""),
      (spark, dir) => imiBooks(Sources.embeddings(spark, dir))),
    Pin("ImiReindexPins", header(
      """  * the product-space IMI quantizer retrained on the DRIFTED
        |  * sf0.01 corpus (originals + reversed copies) with kSide centers
        |  * per half (the K of the val names), iters=2 -- the rebuilt index
        |  * `q_reindex` serves after the drift trigger fires. */"""),
      (spark, dir) => imiBooks(drifted(spark, dir))),
    Pin("ImiUpsertPins", header(
      """  * the product-space IMI quantizer trained on the sf0.01
        |  * BOOTSTRAP split (vec_id % 4 <> 3) with the contract parameters of
        |  * `q_ann_upsert` (two 32-dim half-space codebooks, kSide centers
        |  * each, the K of the val names; iters=2). Pinned so the DuckDB oracle
        |  * replays the STORED-BOOK assignment of the full corpus -- the
        |  * upsert == bulk invariance the gate proves. */"""),
      (spark, dir) => imiBooks(bootstrap(spark, dir))),
    Pin("PqPins", header(
      """  * the per-subspace PQ codebooks [[graft.operators.Similarity.pqCodebooks]]
        |  * trains on the sf0.01 embeddings with the contract parameters of
        |  * `q_pq_codes` / `q_pq_adc` (m=8 subspaces of 8 dims, k=16, iters=2).
        |  * Pinned as literals so the DuckDB oracles hash-verify the PQ pipeline:
        |  * different books => different codes => hash mismatch. */"""),
      (spark, dir) => Seq("embeddingsM8K16I2" ->
        subspaceBooks(Similarity.pqCodebooks(Sources.embeddings(spark, dir))))),
    Pin("PqUpsertPins", header(
      """  * the per-subspace PQ codebooks trained on the sf0.01
        |  * BOOTSTRAP split (vec_id % 4 <> 3) -- the stored compressed-tier
        |  * state upserted deliveries are encoded with. Pinned so the DuckDB
        |  * oracle replays the stored-book encode of the full corpus. */"""),
      (spark, dir) => Seq("baseM8K16I2" ->
        subspaceBooks(Similarity.pqCodebooks(bootstrap(spark, dir))))))

  private def text(pin: Pin, values: Seq[(String, Literal)]): String =
    s"package graft\n\n${pin.header}\nobject ${pin.obj} {\n" +
      values.map { case (name, l) => s"  val $name: ${l.tpe} = Seq(\n${l.rows})\n" }.mkString +
      "}\n"

  /** (file name, file text) for every pin object, trained on `sfDir`. */
  def render(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    table.map(p => p.file -> text(p, p.train(spark, sfDir)))

  def main(args: Array[String]): Unit = {
    val spark = SparkLocal.session("8")
    // every file is rendered before any is written; each lands by an atomic
    // move, so a failed run leaves the old pins (which the build compiles)
    try render(spark, FixtureDir).foreach { case (file, text) =>
      val tmp = Files.createTempFile(SourceDir, file, ".tmp")
      Files.write(tmp, text.getBytes(UTF_8))
      Files.move(tmp, SourceDir.resolve(file), StandardCopyOption.ATOMIC_MOVE)
      println(s"wrote ${SourceDir.resolve(file)}")
    } finally spark.stop()
  }
}
