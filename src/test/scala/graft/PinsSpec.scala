package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every checked-in `*Pins.scala` object must equal what [[Pins.render]]
  * trains from the sf0.01 fixtures now, so a change that moves one pinned
  * center fails here instead of as an oracle hash mismatch. Regenerate
  * with `sbt "runMain graft.Pins"`. */
class PinsSpec extends AnyFunSuite with SharedSpark {

  private lazy val rendered = Pins.render(spark, Pins.FixtureDir).toMap

  private def read(file: String): String =
    new String(Files.readAllBytes(Pins.SourceDir.resolve(file)), UTF_8)

  test("the pin table has a row for every generated pin object") {
    val generated = Pins.SourceDir.toFile.list().toSeq.filter(_.endsWith(".scala"))
      .filter(read(_).startsWith("package graft\n\n/** GENERATED by `runMain graft.Pins`"))
    assert(generated.sorted == Pins.table.map(_.file).sorted)
  }

  for (pin <- Pins.table) test(s"${pin.obj} matches a fresh training on the sf0.01 fixtures") {
    val checkedIn = read(pin.file).split("\n", -1).toSeq
    val fresh = rendered(pin.file).split("\n", -1).toSeq
    checkedIn.zipAll(fresh, "<end of file>", "<end of file>").zipWithIndex
      .find { case ((a, b), _) => a != b }
      .foreach { case ((a, b), i) =>
        fail(s"${Pins.SourceDir.resolve(pin.file)} is stale from line ${i + 1}:\n" +
          s"  checked in: ${a.take(160)}\n  fresh:      ${b.take(160)}\n" +
          "regenerate with sbt \"runMain graft.Pins\"")
      }
  }
}
