package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pinned names come from the newest committed BENCH record. */
class BenchSpec extends AnyFunSuite {

  private def record(dir: Path, name: String, queries: String*): Unit =
    Files.writeString(dir.resolve(name),
      s"""{"n":1,"parsed":{"metric":"total","queries":{${
        queries.map(q => s""""$q":1.5""").mkString(",")}}}}""")

  test("pins are the itemized names of every record of the highest round") {
    val dir = Files.createTempDirectory("bench_pins")
    assert(Bench.benchPins(dir.toFile).isEmpty)
    record(dir, "BENCH_r9.json", "old_only")
    record(dir, "BENCH_r10.json", "a", "b")
    record(dir, "BENCH_r10_c8.json", "b", "c")
    Files.writeString(dir.resolve("bench_detail.json"), """{"queries":{"x":1}}""")
    assert(Bench.benchPins(dir.toFile) == Set("a", "b", "c"))
  }
}
