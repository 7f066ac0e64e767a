package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources

/** Source-boundary normalization contract: `Sources.events` must yield the
  * SAME epoch-nano longs whatever physical type the testdata generator
  * shipped `ts` under. Round 6 lost nine queries to exactly this drift
  * (TIMESTAMP(NANOS) → timestamp[us]); this spec writes the same instants
  * under both writable representations and demands bit-equal normalization.
  */
class SourcesSpec extends AnyFunSuite with SharedSpark {

  private val microInstants =
    Seq(1704067200000000L, 1704070800123456L, 1735689599999999L)

  private def writeFixture(dir: java.io.File, tsExpr: String): Unit = {
    import spark.implicits._
    microInstants.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .select(col("event_id"), expr(tsExpr).as("ts"))
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)
  }

  private def normalized(dir: java.io.File): Seq[(Long, Long)] =
    graft.sources.Sources.events(spark, dir.getAbsolutePath)
      .select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("events ts normalizes identically for long-nanos and timestamp physical types") {
    val base = java.nio.file.Files.createTempDirectory("graft_src_spec").toFile
    val asLong = new java.io.File(base, "l"); asLong.mkdirs()
    val asTs = new java.io.File(base, "t"); asTs.mkdirs()
    // generation A: epoch nanos as a plain long column
    writeFixture(asLong, "us * 1000L")
    // generation B: a true timestamp column (written as µs instants; reads
    // back under nanosAsLong as TIMESTAMP, exercising the cast branch)
    writeFixture(asTs, "timestamp_micros(us)")
    // generation C: TIMESTAMP_NTZ — the round-6 driver testdata's actual
    // read type (parquet timestamp[us], isAdjustedToUTC=false)
    val asNtz = new java.io.File(base, "n"); asNtz.mkdirs()
    writeFixture(asNtz, "cast(timestamp_micros(us) as timestamp_ntz)")
    val expected = microInstants.indices
      .map(i => (i.toLong, microInstants(i) * 1000L))
    assert(normalized(asLong) === expected)
    assert(normalized(asTs) === expected)
    assert(normalized(asNtz) === expected)
  }

  test("events ts schema is long nanos after normalization, whatever was written") {
    val base = java.nio.file.Files.createTempDirectory("graft_src_spec2").toFile
    writeFixture(base, "timestamp_micros(us)")
    val dt = graft.sources.Sources.events(spark, base.getAbsolutePath)
      .schema("ts").dataType
    assert(dt === org.apache.spark.sql.types.LongType)
  }

  private val floorKey = "graft.spread.minBytes"
  private def withFloor[T](value: Option[String])(body: => T): T = {
    val prev = sys.props.get(floorKey)
    value.fold(sys.props.remove(floorKey))(sys.props.put(floorKey, _))
    try body
    finally { prev.fold(sys.props.remove(floorKey))(sys.props.put(floorKey, _)): Unit }
  }
  private lazy val tiny = spark.range(10).toDF("id")

  test("graft.spread.minBytes unset: the 256 KiB default floor leaves a tiny input alone") {
    withFloor(None) {
      assert(Sources.spreadMinBytes == (256L << 10))
      assert(Sources.spread(tiny) eq tiny)
    }
  }

  test("graft.spread.minBytes=-1 disables spread where floor 0 would spread") {
    withFloor(Some("0"))(assert(!(Sources.spread(tiny) eq tiny)))
    withFloor(Some("-1")) {
      assert(Sources.spreadMinBytes == -1L)
      assert(Sources.spread(tiny) eq tiny)
    }
  }

  test("graft.spread.minBytes malformed: IllegalArgumentException naming the property and value") {
    withFloor(Some("64k")) {
      val e = intercept[IllegalArgumentException](Sources.spread(tiny))
      assert(e.getMessage.contains("graft.spread.minBytes") && e.getMessage.contains("'64k'"),
        e.getMessage)
    }
  }
}
