package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  test("unionSeconds counts overlapping job intervals once") {
    assert(Tracer.unionSeconds(Seq((1000L, 3000L), (2000L, 4000L)), 0L, 10000L) == 3.0)
  }

  test("unionSeconds clips intervals to the query window") {
    assert(Tracer.unionSeconds(Seq((0L, 2000L), (9000L, 12000L)), 1000L, 10000L) == 2.0)
  }

  test("unionSeconds of disjoint, nested and empty intervals") {
    val jobs = Seq((5000L, 6000L), (1000L, 2000L), (1200L, 1500L), (7000L, 7000L))
    assert(Tracer.unionSeconds(jobs, 0L, 10000L) == 2.0)
    assert(Tracer.unionSeconds(Seq.empty, 0L, 10000L) == 0.0)
  }
}
